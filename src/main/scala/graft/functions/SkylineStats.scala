package graft.functions

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

import graft.core.{SkyBuffer, SkylineKernel}

/** One logical partition's MR skyline statistics (reference formula:
  * `java/org.main/FlinkSkyline.java:590-608`): `c_rows` input rows,
  * `c_local` rows on the partition's local skyline, `c_surv` rows on the
  * global skyline (duplicates counted throughout). */
final case class PartitionStats(pid: Int, c_rows: Long, c_local: Long, c_surv: Long)

/** Aggregation buffer of [[SkylineStats]]: per partition id, a row count
  * and the partition's local skyline as a [[SkyBuffer]]. Kryo-encoded at
  * the shuffle boundary, like [[SkylineAgg]]'s buffer. */
final class SkyStatsBuffer(val parts: mutable.HashMap[Int, SkyStatsBuffer.Part])
    extends Serializable {
  def this() = this(mutable.HashMap.empty)

  def add(pid: Int, v: Array[Double]): Unit = {
    val p = parts.getOrElseUpdate(pid, new SkyStatsBuffer.Part())
    p.rows += 1
    if (v != null) p.sky.add(v)
  }

  def absorb(other: SkyStatsBuffer): Unit =
    other.parts.foreach { case (pid, o) =>
      parts.get(pid) match {
        case Some(p) => p.rows += o.rows; p.sky.absorb(o.sky)
        case None => parts(pid) = o
      }
    }

  /** Partition `pid`'s local skyline, already counted: `counts(i)` copies
    * of `points(i)`. The streaming latch's arrivals; no input rows are
    * counted, so its `c_rows` stay 0. */
  def put(pid: Int, points: Array[Array[Double]], counts: Array[Long]): Unit =
    parts(pid) = new SkyStatsBuffer.Part(0L,
      new SkyBuffer(ArrayBuffer.from(points), ArrayBuffer.from(counts), SkyBuffer.MinCompact))

  /** Compact every local skyline, then merge them tagged by pid: a
    * partition's survivors are its entries left on the merged skyline. */
  def stats(): Array[PartitionStats] = {
    val pts = ArrayBuffer.empty[Array[Double]]
    val tags = ArrayBuffer.empty[Int]
    val cnts = ArrayBuffer.empty[Long]
    val local = parts.toSeq.sortBy(_._1).map { case (pid, p) =>
      p.sky.compact()
      pts ++= p.sky.points
      tags ++= Iterator.fill(p.sky.points.length)(pid)
      cnts ++= p.sky.counts
      (pid, p.rows, p.sky.counts.sum)
    }
    val surv = SkylineKernel.mergeTagged(pts, tags, cnts)
    local.map { case (pid, rows, loc) =>
      PartitionStats(pid, rows, loc, surv.getOrElse(pid, 0L))
    }.toArray
  }
}

object SkyStatsBuffer {
  final class Part(var rows: Long, val sky: SkyBuffer) extends Serializable {
    def this() = this(0L, new SkyBuffer())
  }
}

/** `skyline_stats(pid: int, values: array<double>) -> array<PartitionStats>`
  * — every partition's MR statistics in ONE input scan.
  *
  * Same two-phase shape as [[SkylineAgg]]: `reduce` folds each row into
  * its partition's local skyline map-side, only compacted local skylines
  * (plus one row count per partition) cross the shuffle, and `finish`
  * merges the local skylines tagged by partition id
  * ([[graft.core.SkylineKernel.mergeTagged]]). One output entry per
  * partition id that had rows, sorted by pid. The streaming latch holds
  * the same buffer, so both paths count survivors in [[SkyStatsBuffer.stats]]
  * and write their record through [[SkylineStats.record]].
  *
  * A null partition id fails the query: the buffer keys on `Int`, and
  * folding nulls into some partition would silently skew the statistics.
  */
class SkylineStats
    extends Aggregator[(java.lang.Integer, Array[Double]), SkyStatsBuffer, Array[PartitionStats]] {
  override def zero: SkyStatsBuffer = new SkyStatsBuffer()

  override def reduce(b: SkyStatsBuffer, in: (java.lang.Integer, Array[Double])): SkyStatsBuffer = {
    require(in._1 != null, SkylineStats.NullPid)
    b.add(in._1, in._2)
    b
  }

  override def merge(b1: SkyStatsBuffer, b2: SkyStatsBuffer): SkyStatsBuffer = {
    b1.absorb(b2)
    b1
  }

  override def finish(b: SkyStatsBuffer): Array[PartitionStats] = b.stats()

  override def bufferEncoder: Encoder[SkyStatsBuffer] = Encoders.kryo[SkyStatsBuffer]

  // Catalyst-internal encoder, as in SkylineAgg (pinned to Spark 4.x).
  override def outputEncoder: Encoder[Array[PartitionStats]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[PartitionStats]]()
}

object SkylineStats {
  val NullPid = "skyline_stats: null partition id (the pid column must be non-null)"

  /** D4 optimality (reference formula: `FlinkSkyline.java:590-608`): the
    * sum of `c_surv / c_local` over partitions with a local skyline, taken
    * in pid order, divided by the FIXED partition count, so a partition
    * without one contributes 0 but stays in the denominator. */
  def optimality(stats: Seq[PartitionStats], partitions: Int): Double =
    stats.sortBy(_.pid).collect {
      case s if s.c_local > 0 => s.c_surv.toDouble / s.c_local
    }.sum / partitions

  /** The reference's emitted metrics record, byte for byte the hand-built
    * JSON of `FlinkSkyline.java:625-650`: query_id, record_count,
    * skyline_size (the survivors of every partition), optimality (%.4f)
    * and the four timings. Divergence D3: `query_latency_ms` is computed
    * by the reference but absent from its record, so it is absent here. */
  def record(queryId: String, recordCount: String, stats: Seq[PartitionStats],
             partitions: Int, ingestMs: Long, localMs: Long, globalMs: Long,
             totalMs: Long): String =
    String.format(java.util.Locale.US, RecordFmt, queryId, recordCount,
      Long.box(stats.map(_.c_surv).sum), Double.box(optimality(stats, partitions)),
      Long.box(ingestMs), Long.box(localMs), Long.box(globalMs), Long.box(totalMs))

  private val RecordFmt =
    "{\"query_id\": \"%s\", \"record_count\": %s, \"skyline_size\": %d, " +
      "\"optimality\": %.4f, \"ingestion_time_ms\": %d, " +
      "\"local_processing_time_ms\": %d, \"global_processing_time_ms\": %d, " +
      "\"total_processing_time_ms\": %d}"

  private lazy val fn = udaf(new SkylineStats)

  /** Column form: `skyline_stats($"pid", $"values")`. */
  def skyline_stats(pid: Column, values: Column): Column = fn(pid, values)
}
