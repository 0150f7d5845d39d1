package skybench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.BenchGuard

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace
  * <0|1> --out <record.json> --work <dir> [--toy] [--corrupt]`.
  *
  * Builds a `local[nproc]` session, sets the workload up from the seed,
  * measures it for `--seconds`, checks every answer against a reference
  * computed by an independent route, and writes the complete run record
  * (metrics with sample counts, every query with its failure cause, the
  * session config, a CPU calibration time) to `--out`. `run.py` turns the
  * record into the one-line result.
  *
  * `--toy` shrinks every input (the self-test); `--corrupt` drops one row
  * from every skyline answer (or one pair from every dedup answer) before it
  * is checked, which must show up as failed queries. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, out: Path, work: Path, toy: Boolean,
                        corrupt: Boolean)

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", Paths.get(need("out")).toAbsolutePath,
      Paths.get(need("work")).toAbsolutePath, flags("toy"), flags("corrupt"))
  }

  /** Fixed integer loop, timed (the second of two passes, after JIT): reads
    * wall clock against box speed. */
  private def calibrateMs(): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var i = 0
      while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) println() // keeps the loop live
      (System.nanoTime() - t0) / 1e6
    }
    pass()
    pass()
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("skybench")
      // the engine's public deployment path for its native expressions
      // (LayoutOps.zkey's graft_zorder does not register itself)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val cores = Runtime.getRuntime.availableProcessors()
    val calib = calibrateMs()
    val t0 = System.nanoTime()
    val spark = session(cores, o.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(o.trace)
    val probe = if (o.trace) Some(new SparkProbe(tracer, cores)) else None
    probe.foreach(spark.sparkContext.addSparkListener)
    val ctx = Ctx(spark, o.seed, o.seconds, tracer, probe, o.work, cores,
      o.toy, o.corrupt)
    val w: Workload = o.workload match {
      case "sky_uniform4d" => new BatchSkyline(ctx, "uniform", 4,
        if (o.toy) 20000 else 200000)
      case "sky_anti3d" => new BatchSkyline(ctx, "anti_correlated", 3,
        if (o.toy) 20000 else 200000)
      case "sky_stream_anti2d" => new StreamSkyline(ctx)
      case "dedup_neardup" => new DedupNearDup(ctx, if (o.toy) 2000 else 20000)
      case other => sys.error(s"unknown workload: $other")
    }
    val tRun = System.nanoTime()
    // A failure outside any query (data set-up, reference) still yields a
    // complete record: one failed set-up query with its cause.
    val r = try w.run() catch {
      case e: Exception =>
        val s = (System.nanoTime() - tRun) / 1e9
        WorkloadOut(Seq(s), Seq(QueryRec(-1, "setup", s * 1e3, "exception",
          e.toString.take(300))), 0.0, Map.empty, Map("setup_error" -> e.toString))
    }
    val qs = r.queries
    val failed = qs.count(!_.ok)
    val ms = qs.map(_.ms)
    val (tailMs, tailPct) = Stats.tail(ms)
    val setupS = sessionS + Stats.median(r.setupRoundsS)
    val peakRssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)
    val e2e = Map(
      "setup_s" -> setupS,
      "query_p50_ms" -> Stats.median(ms),
      "query_tail_ms" -> tailMs,
      "rows_per_s" -> r.rowsPerS,
      "ok_frac" -> (1.0 - failed.toDouble / qs.size),
      "peak_rss_mb" -> peakRssMb)
    val traced = if (!o.trace) Map.empty[String, Double] else {
      val self = tracer.selfMs
      val nq = math.max(1, qs.size).toDouble
      Map("trace.query_p50_ms" -> Stats.median(ms),
        "trace.spans" -> tracer.all.size.toDouble,
        "trace.spark_job_ms" -> self.getOrElse("spark.job", 0.0) / nq,
        "ops.self_ms" -> self.filter(_._1.startsWith("ops.")).values.sum / nq,
        "check.self_ms" -> self.getOrElse("check", 0.0) / nq,
        "query.self_ms" -> self.getOrElse("query", 0.0) / nq)
    }
    if (o.trace) tracer.dump(Paths.get(o.out.toString.stripSuffix(".json") + ".spans.json"))
    val record = Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "toy" -> o.toy, "corrupt" -> o.corrupt,
      "correct" -> (failed == 0), "attempted" -> qs.size, "failed" -> failed,
      "end_to_end" -> e2e, "per_layer" -> (r.layers ++ traced),
      "samples" -> Map("query_ms" -> ms.size, "setup_rounds" -> r.setupRoundsS.size),
      "tail_percentile" -> tailPct,
      "setup" -> Map("session_s" -> sessionS, "rounds_s" -> r.setupRoundsS),
      "failures" -> Map(
        "timeout" -> qs.count(_.cause == "timeout"),
        "exception" -> qs.count(_.cause == "exception"),
        "mismatch" -> qs.count(_.cause == "mismatch")),
      "workload_info" -> r.info,
      "queries" -> qs.map(q => Map("id" -> q.id, "kind" -> q.kind,
        "ms" -> q.ms, "cause" -> q.cause, "detail" -> q.detail)),
      "calibration_ms" -> calib,
      "cores" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
      "git_revision" -> sys.env.getOrElse("SKYBENCH_REV", ""),
      "source_digest" -> sys.env.getOrElse("SKYBENCH_SRC_DIGEST", ""))
    Files.writeString(o.out, Json.str(record))
    spark.stop()
  }
}

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     tracer: Tracer, probe: Option[SparkProbe], work: Path,
                     cores: Int, toy: Boolean, corrupt: Boolean)

/** One issued query: latency from issue to collected result, and the failure
  * cause ("" when correct; "timeout", "exception" or "mismatch"). */
final case class QueryRec(id: Int, kind: String, ms: Double, cause: String,
                          detail: String) {
  def ok: Boolean = cause.isEmpty
}

final case class WorkloadOut(setupRoundsS: Seq[Double], queries: Seq[QueryRec],
                             rowsPerS: Double, layers: Map[String, Double],
                             info: Map[String, Any])

trait Workload { def run(): WorkloadOut }

object Runner {
  val BudgetSec = 40.0

  /** Issues one query under a BenchGuard budget, traced as span
    * `<layer>.<kind>`: `fetch` is timed (issue to
    * collected result), `check` runs afterwards, untimed, and returns "" or
    * what differs from the reference. A timeout or exception is recorded
    * with its cause; it never aborts the run. */
  def run[A](ctx: Ctx, id: Int, layer: String, kind: String)(fetch: => A)(
      check: A => String): QueryRec = {
    val qid = s"q$id"
    val group = s"skybench-$qid"
    @volatile var timedOut = false
    @volatile var err: String = null
    @volatile var result: Option[A] = None
    @volatile var tEnd = 0L
    val t0 = System.nanoTime()
    ctx.tracer.query(qid) { parent =>
      ctx.probe.foreach(_.groups.put(group, (parent, qid)))
      BenchGuard.timed(ctx.spark, group, BudgetSec, graceSec = 10.0,
          onTimeout = _ => timedOut = true) {
        ctx.tracer.adopt(parent, qid) {
          try { result = Some(ctx.tracer.span(s"$layer.$kind")(fetch)) }
          catch { case e: Throwable => err = e.toString; throw e }
          finally tEnd = System.nanoTime()
        }
      }
      if (timedOut) tEnd = System.nanoTime()
    }
    val ms = (tEnd - t0) / 1e6
    if (timedOut) QueryRec(id, kind, ms, "timeout", s"budget ${BudgetSec}s")
    else if (err != null) QueryRec(id, kind, ms, "exception", err.take(300))
    else {
      val d = ctx.tracer.span("check")(check(result.get))
      QueryRec(id, kind, ms, if (d.isEmpty) "" else "mismatch", d.take(300))
    }
  }

  /** Closed loop: issue `next(i)` until `seconds` have passed and the
    * current block of `block` queries is complete (so a mixed sequence
    * always ends on whole blocks), or, past `seconds`, a query has failed
    * (so a run of timeouts ends in time). */
  def closedLoop(ctx: Ctx, block: Int = 1)(next: Int => QueryRec): Seq[QueryRec] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[QueryRec]
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    while (out.isEmpty || System.nanoTime() < deadline ||
           (out.size % block != 0 && out.forall(_.ok)))
      out += next(out.size)
    out.toSeq
  }

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
