package skybench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkConf
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{SkyBuffer, SkylineKernel}
import graft.sources.WireFormat

/** Single-layer probes of the traced run, each timing calls into one
  * layer's public functions over the workload's own data. */
object Layers {

  /** `kernel.*`: SkyBuffer.add over the points in id order on one thread
    * (the second of two passes, so JIT warm-up is excluded), the compactions
    * it triggers, and the merge of the per-partition local skylines. */
  def kernel(ctx: Ctx, pts: Array[Array[Double]], pid: Array[Double] => Int,
             nPart: Int = 8): Map[String, Double] = ctx.tracer.span("kernel") {
    def pass(): (Long, Int, Long, Int) = {
      val buf = new SkyBuffer()
      var comps = 0
      var compNs = 0L
      val t0 = System.nanoTime()
      var i = 0
      while (i < pts.length) {
        // add() compacts exactly when the new length reaches compactAt
        if (buf.points.length + 1 >= buf.compactAt) {
          val c0 = System.nanoTime()
          buf.add(pts(i))
          compNs += System.nanoTime() - c0
          comps += 1
        } else buf.add(pts(i))
        i += 1
      }
      val addNs = System.nanoTime() - t0
      (addNs, comps, compNs, buf.result().length)
    }
    pass()
    val (addNs, comps, compNs, survivors) = pass()
    val bufs = Array.fill(nPart)(new SkyBuffer())
    pts.foreach(p => bufs(pid(p)).add(p))
    bufs.foreach(_.compact())
    val p = ArrayBuffer.empty[Array[Double]]
    val t = ArrayBuffer.empty[Int]
    val c = ArrayBuffer.empty[Long]
    bufs.zipWithIndex.foreach { case (b, i) =>
      p ++= b.points; t ++= Seq.fill(b.points.length)(i); c ++= b.counts
    }
    val (_, mergeS) = Runner.timeS(SkylineKernel.skylineCountedTagged(p, t, c))
    Map("kernel.add_ns_per_row" -> addNs.toDouble / math.max(1, pts.length),
      "kernel.compactions" -> comps.toDouble,
      "kernel.compact_ms" -> compNs / 1e6,
      "kernel.survivor_frac" -> survivors.toDouble / math.max(1, pts.length),
      "kernel.merge_ms" -> mergeS * 1e3)
  }

  /** `agg.*`: the partial skyline_agg buffer each input partition ships at
    * the shuffle — a SkyBuffer fed that partition's rows, Kryo-serialized
    * with the session's Kryo serializer. `vecs` has one array<double>. */
  def agg(ctx: Ctx, vecs: DataFrame): Map[String, Double] = ctx.tracer.span("agg") {
    val per = vecs.rdd.mapPartitions { it =>
      val b = new SkyBuffer()
      it.foreach(r => b.add(r.getSeq[Double](0).toArray))
      val ser = new KryoSerializer(new SparkConf()).newInstance()
      Iterator((ser.serialize(b).remaining().toLong, b.points.length.toLong))
    }.collect()
    Map("agg.buffer_kryo_bytes" -> per.map(_._1).sum.toDouble,
      "agg.buffer_entries" -> per.map(_._2).sum.toDouble)
  }

  /** `sources.parse_rows_per_s`: WireFormat.parsePoints over the rows
    * rendered as CSV wire lines (cached first; second of two passes). */
  def parse(ctx: Ctx, rows: DataFrame): Map[String, Double] =
    ctx.tracer.span("sources.parse") {
      val lines = rows.select(concat_ws(",", rows.columns.map(col): _*).as("value"))
        .cache()
      val n = lines.count()
      def once(): Double = Runner.timeS(WireFormat.parsePoints(lines)
        .agg(sum(size(col("values")))).collect())._2
      once()
      val s = once()
      lines.unpersist(blocking = true)
      Map("sources.parse_rows_per_s" -> n / s)
    }
}
