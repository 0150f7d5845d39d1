package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The scale harness: `runMain graft.Scale <family>` measures one family's
  * envelope and writes it as one JSON line (stdout and a file).
  *
  * Families ([[ScaleBatch]], [[ScaleStream]]): `skyline` (batch MR skyline
  * at the reference's 10M claim), `stream` (the streaming skyline with
  * batch-parity triggers), `dedup`, `graph`, `events`, `ann`, and the
  * streaming curation twins `sdedup`, `sboil`, `semb`. Each is one function
  * from a size `n` (and, for the skyline families, a dimension count) to
  * its cells; its data generator and legs live with it.
  *
  * Env knobs (every family keeps its own defaults): SPARK_GRAFT_CPUS
  * (default 32), SPARK_GRAFT_SCALE_NS (comma list of sizes),
  * SPARK_GRAFT_SCALE_DIMS (skyline, stream), SPARK_GRAFT_SCALE_OUT (output
  * file, default the family's `SCALE_*_out.json`), SPARK_GRAFT_SCALE_REPS
  * (sdedup, semb), SPARK_GRAFT_SCALE_LEGS (ann, semb),
  * SPARK_GRAFT_SCALE_NPARTS (skyline), SPARK_GRAFT_STREAM_CADENCE
  * (stream), SPARK_GRAFT_MP (ann), and the state-store knobs of
  * [[GraftSession.StateStore]] (streaming families). The 10M legs of
  * dedup and ann need SPARK_DRIVER_MEM=16g–24g (see their scaladocs).
  *
  * The output file is rewritten after every completed cell, so a long run
  * killed mid-way still leaves its finished cells on disk.
  */
object Scale {

  /** What a family sees: the session plus the run's knobs (`sys.env` from
    * [[main]], a literal map in ScaleSpec). */
  final case class Ctx(spark: SparkSession, env: Map[String, String]) {
    def knob(name: String, default: String): String = env.getOrElse(name, default)
    def list(name: String, default: String): Seq[String] =
      knob(name, default).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    /** Generation partitions: four per core. */
    def parts: Int = spark.sparkContext.defaultParallelism * 4
  }

  /** Cells as (JSON array name, cell object) pairs. */
  type Cells = Seq[(String, String)]
  def cells(cs: String*): Cells = cs.map("cells" -> _)

  /** A registered family: its metric name, default sizes and output file;
    * `dims` is the default dimension list for families with a dims axis;
    * `arrays` names the cell arrays; `fields` renders the fixed top-level
    * fields after them. `run(ctx, n, dims)` measures one size. */
  final case class Family(metric: String, ns: String, out: String,
                          fields: Ctx => String,
                          dims: Option[String] = None,
                          arrays: Seq[String] = Seq("cells"),
                          streaming: Boolean = false)(
                          val run: (Ctx, Long, Int) => Cells)

  val families: Seq[(String, Family)] = Seq(
    "skyline" -> Family("scale_envelope", "1000000,10000000", "SCALE_out.json",
      c => s""""nparts":${ScaleBatch.nParts(c).mkString("[", ",", "]")},""" +
        """"distribution":"anti_correlated"""", dims = Some("2,3"))(
      ScaleBatch.skyline),
    "stream" -> Family("stream_scale_envelope", "10000000", "SCALE_STREAM_out.json",
      _ => s""""npart":${ScaleStream.NPart},"distribution":"anti_correlated"""",
      dims = Some("2,3"), streaming = true)(ScaleStream.stream),
    "dedup" -> Family("scale_dedup", "1000000,10000000", "SCALE_DEDUP_out.json",
      _ => """"planted_dup_share":0.1""")((c, n, _) => ScaleBatch.dedup(c, n)),
    "graph" -> Family("scale_graph", "1000000,10000000", "SCALE_GRAPH_out.json",
      _ => """"pr_iters":5,"kcore_k":4""")((c, n, _) => ScaleBatch.graph(c, n)),
    "events" -> Family("scale_events", "1000000,10000000", "SCALE_EVENTS_out.json",
      _ => """"users":100000""")((c, n, _) => ScaleBatch.events(c, n)),
    "ann" -> Family("scale_ann", "1000000,10000000", "SCALE_ANN_out.json",
      _ => s""""dims":${ScaleBatch.Dims},"k":10,"n_queries":8""")(
      (c, n, _) => ScaleBatch.ann(c, n)),
    "sdedup" -> Family("scale_stream_dedup", "300000,1000000", "SCALE_SDEDUP_out.json",
      _ => s""""planted_dup_share":0.1,"k":8,"blocks":${ScaleStream.Blocks},""" +
        s""""provider":"${GraftSession.stateStore.provider}",""" +
        s""""maintenance_interval":"${GraftSession.stateStore.maintenance}"""",
      streaming = true)((c, n, _) => ScaleStream.sdedup(c, n)),
    "sboil" -> Family("scale_stream_boiler", "300000,1000000", "SCALE_SBOIL_out.json",
      _ => s""""template_share":0.1,"k":8,"min_docs":3,"blocks":${ScaleStream.Blocks}""",
      streaming = true)((c, n, _) => ScaleStream.sboil(c, n)),
    "semb" -> Family("scale_stream_embdedup", "300000,1000000", "SCALE_SEMB_out.json",
      _ => s""""dims":${ScaleStream.EmbDims},"bits":${ScaleStream.EmbBits},""" +
        s""""copies_per_slot":10,"blocks":${ScaleStream.Blocks}""",
      arrays = Seq("cells", "multi_cells"), streaming = true)(
      (c, n, _) => ScaleStream.semb(c, n)))

  /** Measures every (dims, n) cell of `family` — dims outer, as the
    * committed envelopes are laid out — and returns the JSON line;
    * `progress` receives the line so far after each cell. */
  def run(family: Family, c: Ctx, progress: String => Unit = _ => ()): String = {
    val ns = c.list("SPARK_GRAFT_SCALE_NS", family.ns).map(_.toLong)
    val dimsList = family.dims
      .fold(Seq(0))(d => c.list("SPARK_GRAFT_SCALE_DIMS", d).map(_.toInt))
    val done = scala.collection.mutable.ListBuffer.empty[(String, String)]
    def line: String = {
      val arrays = family.arrays.map { a =>
        s""""$a":${done.collect { case (`a`, cell) => cell }.mkString("[", ",", "]")}"""
      }
      (s""""metric":"${family.metric}"""" +: arrays :+ family.fields(c))
        .mkString("{", ",", "}")
    }
    for (dims <- dimsList; n <- ns) {
      done ++= family.run(c, n, dims)
      progress(line)
    }
    line
  }

  def main(args: Array[String]): Unit = {
    val names = families.map(_._1).mkString(", ")
    val family = args.headOption.flatMap(families.toMap.get).getOrElse(
      sys.error(s"usage: runMain graft.Scale <family>; families: $names"))
    val spark = GraftSession(GraftSession.cpus(32), streaming = family.streaming)
    val out = Paths.get(sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", family.out))
    val line = run(family, Ctx(spark, sys.env), Files.writeString(out, _))
    Files.writeString(out, line)
    println(line)
    spark.stop()
  }

  /** Wall seconds of `body`, which must consume its result (count/collect). */
  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** The lap clock of one rep: `lap(body)` times `body` and records it. */
  final class Laps {
    private[Scale] val secs = scala.collection.mutable.ArrayBuffer.empty[Double]
    def apply[T](body: => T): T = { val (r, s) = timed(body); secs += s; r }
  }

  /** Per-lap first-rep and min-over-reps seconds, and the counts. */
  final case class Reps[T](counts: T, first: Seq[Double], min: Seq[Double])

  /** The first/min rep protocol (Bench's): wall clock swings 2–3× run to
    * run on a loaded box (page cache and GC phase — the SCALING.md method
    * note) while results do not, so a rep runs `run` `reps` times, requires
    * its counts identical across reps, and reports each lap's first and min
    * seconds. Registered caches are released after every rep. */
  def firstMin[T](reps: Int)(run: Laps => T): Reps[T] = {
    val runs = (1 to reps).map { _ =>
      val laps = new Laps
      val counts = run(laps)
      graft.core.Caches.releaseAll()
      (counts, laps.secs.toSeq)
    }
    val counts = runs.head._1
    require(runs.forall(_._1 == counts), s"rep counts diverged: ${runs.map(_._1)}")
    Reps(counts, runs.head._2, runs.map(_._2).transpose.map(_.min))
  }
}
