package skybench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.api.java.Optional
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery,
  StreamingQueryListener, TestGroupState, Trigger}

import graft.core.{DataGen, GeoPartitioners}
import graft.operators.SkylineOps
import graft.sources.DataGenSource
import graft.streaming.StreamingSkyline
import graft.streaming.StreamingSkyline.{LocalResult, LocalState, SkyEvent}

/** `sky_stream_anti2d`: the reference topology. Anti-correlated 2-D CSV wire
  * lines "id,v1,v2" enter [[StreamingSkyline.fromWire]] (MR-Dim, 8
  * partitions) from one MemoryStream; a generator thread appends them at a
  * fixed offered rate (open loop). Micro-batches start on wall-clock
  * multiples of `IntervalMs`, and each interval carries one barrier trigger
  * "q<i>,<barrier>", sent `Lead` records after its barrier (so every
  * partition passes the barrier in the trigger's own micro-batch, and the
  * answer covers exactly that batch's prefix, which the check recomputes in
  * batch with [[SkylineOps.triggerCadence]], one pass). The generator is
  * phased so that each trigger falls due `PreMs` before a micro-batch
  * boundary: its latency, from due time to its record reaching the sink, is
  * then that short wait plus the micro-batch that answers it. */
object StreamSkyline {
  val DMax = 10000
  val NPart = 8
  /** MR-Dim pid (a serializable function: no enclosing instance). */
  val partitioner: Array[Double] => Int =
    v => GeoPartitioners.dimPartition(v, DMax.toDouble, NPart)

  /** One trigger's record as it reached the sink. */
  final case class Answer(batch: Long, atNs: Long, size: Long, opt: Double)
}

final class StreamSkyline(ctx: Ctx) extends Workload {
  import ctx.spark
  import StreamSkyline.{Answer, DMax, NPart, partitioner}

  private val Rate = if (ctx.toy) 4000 else 5000 // offered rows/s
  private val IntervalMs = 1000L                  // micro-batch interval
  private val Cadence = (Rate * IntervalMs / 1000).toInt // records per trigger
  private val Lead = 250
  private val PreMs = 60L // a trigger falls due this long before a boundary
  private val TickMs = 10
  private val SetupRounds = 3
  private val WarmBatches = 2
  private val DrainS = 30.0
  // Primed before the window (the first micro-batch initialises the state
  // stores): one cadence and its trigger q0.
  private val Prime = Cadence + Lead
  private val maxRecords = Prime + (Rate * ctx.seconds).toInt
  private var streams = 0

  /** Trigger i's barrier; it is sent once record barrier(i) + Lead is out. */
  private def barrier(i: Int): Int = (i + 1) * Cadence

  private def point(id: Int): Array[Double] =
    DataGen.antiCorrelated(ctx.seed, id, 2, 0, DMax)

  private def line(id: Int): String = {
    val v = point(id)
    s"$id,${v(0).toLong},${v(1).toLong}"
  }

  /** Starts the topology over a fresh MemoryStream; `sink` gets each
    * micro-batch's output records with the batch id. */
  private def start(sink: (Array[String], Long) => Unit,
                    intervalMs: Long = 0L): (MemoryStream[String], StreamingQuery) = {
    streams += 1
    val ckpt = ctx.work.resolve(s"ckpt-$streams")
    org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    // numPartitions: one task per core, not one per appended block
    val src = MemoryStream[String](spark, ctx.cores)(Encoders.STRING)
    val raw = src.toDF()
    val out = StreamingSkyline.fromWire(raw, raw.filter(col("value").startsWith("q")),
      partitioner, NPart)
    val q = out.writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch((ds: Dataset[String], id: Long) => sink(ds.collect(), id))
      .trigger(Trigger.ProcessingTime(intervalMs))
      .start()
    (src, q)
  }

  /** A set-up trigger (warm-up, priming) as a query under the budget:
    * `send` appends it, then it waits until `answered` or the stream dies. */
  private def setupTrigger(id: Int, kind: String, q: StreamingQuery)(
      answered: => Boolean)(send: => Unit): QueryRec =
    Runner.run(ctx, id, "stream", kind) {
      send
      // a little past the budget, so BenchGuard reports the timeout
      val deadline = System.nanoTime() + ((Runner.BudgetSec + 5) * 1e9).toLong
      while (!answered && q.isActive && System.nanoTime() < deadline) Thread.sleep(5)
      q.exception.foreach(e => throw e)
      require(answered, s"$kind trigger not answered")
    }(_ => "")

  private val QidPat = "\"query_id\": \"q([0-9]+)\"".r
  private val SizePat = "\"skyline_size\": ([0-9]+)".r
  private val OptPat = "\"optimality\": ([0-9.]+)".r

  private def endOffset(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Int =
    Option(p.sources.head.endOffset).map(_.trim.toInt).getOrElse(-1)

  def run(): WorkloadOut = {
    // ---- set-up rounds: generate the wire lines, start the topology, push
    // WarmBatches micro-batches (one cadence and its trigger each) through
    // to the sink, stop. A failed warm-up trigger ends the set-up.
    var lines: Array[String] = null
    var genS = 0.0
    val warm = ArrayBuffer.empty[QueryRec]
    val rounds = ArrayBuffer.empty[Double]
    while (rounds.size < SetupRounds && warm.forall(_.ok)) rounds += Runner.timeS {
      val (ls, g) = Runner.timeS(ctx.tracer.span("sources.gen")(
        Array.tabulate(maxRecords)(line)))
      lines = ls; genS = g
      val got = new java.util.concurrent.atomic.AtomicInteger(0)
      val (src, q) = start((rs, _) => got.addAndGet(rs.length))
      try (1 to WarmBatches).foreach { b =>
        if (warm.forall(_.ok))
          warm += setupTrigger(-b, "warmup", q)(got.get >= b) {
            src.addData(lines.slice((b - 1) * Cadence, b * Cadence).toSeq :+
              s"q0$b,${b * Cadence - Lead}")
          }
      } finally q.stop()
    }._2
    if (!warm.forall(_.ok)) return failedSetup(rounds.toSeq, warm.filterNot(_.ok).toSeq)

    // ---- measured open loop
    val answers = new ConcurrentHashMap[Int, Answer]()
    val (src, q) = start({ (rs, batch) =>
      val t = System.nanoTime()
      rs.foreach { r =>
        val i = QidPat.findFirstMatchIn(r).map(_.group(1).toInt).getOrElse(-1)
        answers.put(i, Answer(batch, t,
          SizePat.findFirstMatchIn(r).map(_.group(1).toLong).getOrElse(-1L),
          OptPat.findFirstMatchIn(r).map(_.group(1).toDouble).getOrElse(-1.0)))
      }
    }, IntervalMs)
    val cumPoints = ArrayBuffer.empty[Int] // points appended through offset k
    val prime = setupTrigger(0, "prime", q)(answers.containsKey(0)) {
      cumPoints += Prime
      src.addData(lines.take(Prime).toSeq :+ s"q0,$Cadence")
    }
    if (!prime.ok) { q.stop(); return failedSetup(rounds.toSeq, Seq(prime)) }
    val primeBatch = answers.remove(0).batch
    // Phase the window: trigger i falls due at t0 + i intervals, PreMs
    // before a micro-batch boundary.
    val phaseMs = IntervalMs - PreMs
    Thread.sleep((phaseMs - System.currentTimeMillis() % IntervalMs + IntervalMs) % IntervalMs)
    @volatile var appended = 0
    val backlog = ArrayBuffer.empty[Double]
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == q.id) {
          val off = endOffset(e.progress)
          val done = if (off < 0) 0 else cumPoints.synchronized(cumPoints(off))
          backlog.synchronized(backlog += (appended - done).toDouble)
        }
    }
    if (ctx.probe.nonEmpty) spark.streams.addListener(listener)
    ctx.probe.foreach { p => p.drain(); p.reset(); p.recording = true }
    val triggerAt = ArrayBuffer.empty[(Int, Int)] // (trigger, offset)
    val lateMs = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def dueNs(records: Int): Long = t0 + ((records - Prime).toDouble / Rate * 1e9).toLong
    var produced = Prime
    var tick = 0
    while (produced < maxRecords) {
      val now = System.nanoTime()
      val due = math.min(maxRecords, Prime + ((now - t0) / 1e9 * Rate).toInt)
      if (due > produced) {
        val chunk = ArrayBuffer.empty[String]
        val trig = ArrayBuffer.empty[Int]
        (produced until due).foreach { r =>
          chunk += lines(r)
          val c = r + 1 - Lead
          if (c % Cadence == 0) {
            val i = c / Cadence - 1
            chunk += s"q$i,${barrier(i)}"; trig += i
          }
        }
        lateMs += (System.nanoTime() - dueNs(produced + 1)) / 1e6
        cumPoints.synchronized(cumPoints += due)
        val off = ctx.tracer.span("stream.append")(src.addData(chunk.toSeq))
        appended = due
        trig.foreach(i => triggerAt += ((i, off.json.trim.toInt)))
        produced = due
      }
      tick += 1
      val sleepNs = t0 + tick * TickMs * 1000000L - System.nanoTime()
      if (sleepNs > 0) Thread.sleep(sleepNs / 1000000L, (sleepNs % 1000000L).toInt)
    }
    val lastOff = cumPoints.length - 1
    val deadline = System.nanoTime() + (DrainS * 1e9).toLong
    def drained = triggerAt.forall(t => answers.containsKey(t._1)) &&
      Option(q.lastProgress).exists(p => endOffset(p) >= lastOff)
    while (!drained && q.isActive && System.nanoTime() < deadline) Thread.sleep(5)
    val doneS = (System.nanoTime() - t0) / 1e9
    val windowMs = doneS * 1e3
    val died = q.exception.map(_.toString)
    val progress = q.recentProgress.toSeq
    q.stop()
    spark.streams.removeListener(listener)
    ctx.probe.foreach { p => p.drain(); p.recording = false }

    // ---- ingest rate: the window's records over the time of the
    // micro-batches that took them in
    val windowBatches = progress.filter(p => p.batchId > primeBatch && p.numInputRows > 0)
    val busyS = windowBatches.map(_.durationMs.get("triggerExecution").doubleValue).sum / 1e3
    val ingested = windowBatches.map(endOffset).maxOption
      .filter(_ >= 0).map(cumPoints(_) - Prime).getOrElse(0)

    // ---- check every answered trigger against its exact prefix
    val endOff = progress.map(p => p.batchId -> endOffset(p)).toMap
    val prefix = triggerAt.map { case (i, _) =>
      i -> Option(answers.get(i)).flatMap(a => endOff.get(a.batch))
        .filter(_ >= 0).map(o => cumPoints(o))
    }.toMap
    val want = prefix.values.flatten.toSeq.distinct.sorted
    val expected: Map[Int, (Long, Double)] = if (want.isEmpty) Map.empty else {
      val pts = DataGenSource.pointsDF(spark, "anti_correlated", ctx.seed,
          want.max.toLong, 2, 0, DMax, ctx.cores * 2)
        .select(col("id"), col("values")(0).as("x"), col("values")(1).as("y"))
      val pid = SkylineOps.dimPartitionCol(array(col("x"), col("y")), DMax.toDouble, NPart)
      val recs = SkylineOps.triggerCadence(pts, "id", Seq("x", "y"), pid, NPart,
        want.map(_ - 1L)).collect().map(_.getString(0))
      want.zip(recs).map { case (p, js) =>
        p -> (SizePat.findFirstMatchIn(js).get.group(1).toLong,
          OptPat.findFirstMatchIn(js).get.group(1).toDouble)
      }.toMap
    }
    val qs = triggerAt.toSeq.map { case (i, _) =>
      val due = dueNs(barrier(i) + Lead)
      Option(answers.get(i)) match {
        case None =>
          val cause = if (died.nonEmpty) "exception" else "timeout"
          QueryRec(i, "trigger", (System.nanoTime() - due) / 1e6, cause,
            died.getOrElse(s"not answered within ${DrainS}s after the window"))
        case Some(a) =>
          val ms = (a.atNs - due) / 1e6
          val size = if (ctx.corrupt) a.size - 1 else a.size
          prefix(i).flatMap(expected.get) match {
            case None => QueryRec(i, "trigger", ms, "mismatch", "no prefix for batch")
            case Some((es, eo)) =>
              val d = if (size != es) s"skyline_size $size != $es (prefix ${prefix(i).get})"
                else if (math.abs(a.opt - eo) > 1e-9) s"optimality ${a.opt} != $eo"
                else ""
              QueryRec(i, "trigger", ms, if (d.isEmpty) "" else "mismatch", d)
          }
      }
    }

    val layers = if (ctx.probe.isEmpty) Map.empty[String, Double] else {
      val sparkC = ctx.probe.get.counters(windowMs)
      val ps = progress.filter(_.numInputRows > 0)
      def med(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
        if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
      def dur(k: String)(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val ops = progress.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
      val (local, global) = ops.sortBy(-_.numRowsTotal) match {
        case Seq(l, g) => (Some(l), Some(g))
        case other => (other.headOption, None)
      }
      val pts = (0 until appended).map(point).toArray
      sparkC ++ Map(
        "stream.batches" -> progress.size.toDouble,
        "stream.batch_ms" -> med(dur("triggerExecution")),
        "stream.add_batch_ms" -> med(dur("addBatch")),
        "stream.planning_ms" -> med(dur("queryPlanning")),
        "stream.wal_commit_ms" -> med(dur("walCommit")),
        "stream.state_rows.local" -> local.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "stream.state_rows.global" -> global.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "stream.state_bytes.local" -> local.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "stream.state_bytes.global" -> global.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "stream.state_commit_ms" -> med(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
        "stream.state_update_ms" -> med(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble),
        "stream.backlog_rows" -> backlog.synchronized(backlog.maxOption.getOrElse(0.0)),
        "stream.gen_late_ms" -> lateMs.max,
        "sources.gen_ns_per_row" -> genS * 1e9 / maxRecords) ++
        stateFns(pts) ++
        Layers.kernel(ctx, pts, partitioner) ++
        Layers.parse(ctx, spark.createDataFrame(pts.indices.map(i =>
          (i.toLong, pts(i)(0).toLong, pts(i)(1).toLong))).toDF("id", "x", "y"))
    }
    WorkloadOut(
      setupRoundsS = rounds.toSeq,
      queries = qs,
      rowsPerS = if (busyS > 0) ingested / busyS else 0.0,
      layers = layers,
      info = Map("offered_rows_per_s" -> Rate, "cadence" -> Cadence,
        "trigger_lead_records" -> Lead, "records" -> appended,
        "primed_records" -> Prime, "trigger_interval_ms" -> IntervalMs,
        "trigger_due_before_boundary_ms" -> PreMs, "ingested_records" -> ingested,
        "batch_busy_s" -> busyS, "appended_rows_per_s_wall" -> (appended - Prime) / doneS,
        "partitions" -> NPart, "d_max" -> DMax, "tick_ms" -> TickMs,
        "micro_batches" -> progress.size, "window_s" -> doneS,
        "gen_late_ms_max" -> lateMs.max,
        "gen_late_ms_mean" -> lateMs.sum / lateMs.size,
        "query_error" -> died.getOrElse(""),
        "skyline_sizes" -> qs.map(q => Option(answers.get(q.id)).map(_.size).getOrElse(-1L)),
        "batch_ms" -> progress.map(_.durationMs.get("triggerExecution")),
        "batch_rows" -> progress.map(_.numInputRows),
        "client" -> (s"open loop, $Rate rows/s offered, micro-batch every " +
          s"$IntervalMs ms, one trigger per micro-batch due ${PreMs} ms before it")))
  }

  private def failedSetup(rounds: Seq[Double], failed: Seq[QueryRec]): WorkloadOut =
    WorkloadOut(rounds, failed, 0.0, Map.empty,
      Map("offered_rows_per_s" -> Rate, "cadence" -> Cadence, "setup_failed" -> true))

  /** `stream.local_fn_ms` / `global_fn_ms` / `local_state_kryo_bytes`: the
    * two state functions called directly with the public TestGroupState,
    * over the whole ingested prefix and one trigger. */
  private def stateFns(pts: Array[Array[Double]]): Map[String, Double] =
    ctx.tracer.span("stream.state_fns") {
      val clock = () => System.currentTimeMillis()
      val byPid = pts.indices.groupBy(i => partitioner(pts(i)))
      val ser = new KryoSerializer(spark.sparkContext.getConf).newInstance()
      var localNs = 0L
      var stateBytes = 0L
      val results = (0 until NPart).flatMap { p =>
        val st = TestGroupState.create[LocalState](Optional.empty[LocalState](),
          GroupStateTimeout.NoTimeout, 0L, Optional.empty[Long](), false)
        val evs = byPid.getOrElse(p, Nil).map(i =>
          SkyEvent(p, isTrigger = false, i.toLong, pts(i), "", 0L)) :+
          SkyEvent(p, isTrigger = true, -1L, Array.empty, s"q1,${pts.length - 1}", 0L)
        val t0 = System.nanoTime()
        val out = StreamingSkyline.localFn(clock)(p, evs.iterator, st).toList
        localNs += System.nanoTime() - t0
        if (st.exists) stateBytes += ser.serialize(st.get).remaining()
        out
      }
      val gst = TestGroupState.create[StreamingSkyline.GlobalState](
        Optional.empty[StreamingSkyline.GlobalState](), GroupStateTimeout.NoTimeout,
        0L, Optional.empty[Long](), false)
      val (_, globalS) = Runner.timeS(StreamingSkyline.globalFn(NPart, clock)(
        "q1", results.iterator, gst).toList)
      Map("stream.local_fn_ms" -> localNs / 1e6,
        "stream.global_fn_ms" -> globalS * 1e3,
        "stream.local_state_kryo_bytes" -> stateBytes.toDouble)
    }
}
