package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.SkyBuffer
import graft.functions.{SkylineStats, SkyStatsBuffer}

/** Streaming parity mode: the reference's two-phase streaming skyline
  * topology re-expressed as one Structured Streaming stateful operator.
  *
  * Reference topology (`java/org.main/FlinkSkyline.java:33-49`): a data
  * stream of points and a control stream of query triggers; triggers are
  * broadcast to every logical partition, each partition maintains a
  * cumulative local skyline behind a record-id barrier, and a global
  * reducer latches all partitions' answers into the final record.
  *
  * Spark encoding: Spark has no two-input `CoProcessFunction`, so both
  * streams are mapped into one [[SkyEvent]] ADT and unioned. [[apply]]
  * then runs two steps with one shuffle between them:
  *   1. a stateless `mapPartitions`: per input task and pid, the task's
  *      points fold into a [[graft.core.SkyBuffer]], and only that local
  *      skyline crosses the shuffle, as counted point events stamped with
  *      the pid's max id (the reference's MR shape). Triggers pass through.
  *   2. one `flatMapGroupsWithState` keyed by a constant. Its single state
  *      row holds every pid's [[LocalState]] and every pending
  *      [[GlobalState]] latch. Per micro-batch it runs the local phase for
  *      each pid that received events, files each released snapshot in
  *      its payload's latch, and emits the record once all partitions
  *      have answered.
  * One operator means one set of state-store commits per micro-batch,
  * and those commits, not skyline work, are where a micro-batch's time
  * goes (SCALING.md, "Where a streaming micro-batch spends its time").
  * [[localFn]] and [[globalFn]] run the same per-phase step bodies over
  * per-pid and per-payload states, the two-operator formulation.
  * Preserved reference semantics, by divergence tag (SURVEY §2.3):
  *   - D5: a trigger payload without a comma parses requiredCount = 0 →
  *     executes immediately against current state.
  *   - barrier (`FlinkSkyline.java:296-315,329-356`): a trigger parks until
  *     the partition's max seen record id ≥ requiredCount; re-checked every
  *     batch that delivers events to the partition. Arrival order between
  *     the unioned streams is irrelevant — exactly why the reference chose
  *     an id barrier over time (SURVEY §7.3).
  *   - `-1` fast-path (`FlinkSkyline.java:342-355`): a partition that has
  *     never seen data answers immediately with an empty skyline.
  *   - D6: local skylines are cumulative for the life of the job (never
  *     cleared); a latch clears after its emission.
  *   - D4 and D3: the record is the batch one. The full latch's snapshots
  *     are a [[graft.functions.SkyStatsBuffer]], and its `stats()` and
  *     [[graft.functions.SkylineStats.record]] count survivors, take the
  *     optimality over the FIXED partition count, and write the JSON
  *     without query_latency_ms, exactly as `metricsJson` does.
  *   - A payload sent twice is two triggers: each pid's second answer opens
  *     the payload's next latch, so each trigger gets its own record.
  */
object StreamingSkyline {

  /** Union ADT of the data and control streams (flat for the encoder).
    * `isTrigger = false`: a point (id, values) with multiplicity `count`;
    * the map-side local skyline emits each distinct point once, counted,
    * with `id` the pid's max record id in its input task. `true`: a
    * trigger replica for this pid (payload "qid,requiredCount",
    * dispatchMs stamped at fan-out like `FlinkSkyline.java:145-156`). */
  case class SkyEvent(pid: Int, isTrigger: Boolean, id: Long,
                      values: Array[Double], payload: String, dispatchMs: Long,
                      count: Long = 1L)

  /** Local-phase answer: the partition's cumulative skyline snapshot
    * (reference Tuple6, `FlinkSkyline.java:201-213`), counted: `counts(i)`
    * copies of `sky(i)`. */
  case class LocalResult(payload: String, pid: Int, dispatchMs: Long,
                         startMs: Long, sky: Array[Array[Double]],
                         counts: Array[Long], cpuMs: Long)

  /** Per-partition state: cumulative skyline in COUNTED form (the
    * [[graft.core.SkyBuffer]] representation — (distinct point,
    * multiplicity) with amortized SFS compaction; the expanded multiset a
    * raw BNL list would hold is quadratic in DUPLICATES, which the
    * anti-correlated integer workload mass-produces), id high-water mark,
    * parked triggers, first-element wall time, accumulated kernel cpu
    * nanos. */
  case class LocalState(sky: List[Array[Double]], counts: List[Long],
                        compactAt: Int, maxSeenId: Long,
                        pending: List[(String, Long)], startMs: Long,
                        cpuNanos: Long)

  /** Per-payload global latch: each arrived pid's counted snapshot, the
    * timing water marks, and the payload's next latch, which a pid's
    * second answer to the same payload opens. */
  case class GlobalState(snapshots: SkyStatsBuffer, minStartMs: Long,
                         lastArrivalMs: Long, maxLocalCpuMs: Long,
                         next: Option[GlobalState])

  /** The single operator's state row: every pid's local phase and every
    * payload's pending latch. Not `private`: `Encoders.kryo` rejects a
    * class that is not public in bytecode. */
  private[streaming] case class TopologyState(locals: Map[Int, LocalState],
                                              latches: Map[String, GlobalState])

  private implicit val topologyStateEnc: Encoder[TopologyState] =
    Encoders.kryo[TopologyState]

  /** Fan a raw trigger payload out to every logical partition
    * (`FlinkSkyline.java:145-156`). */
  def fanOutTrigger(payload: String, numPartitions: Int, nowMs: Long): Seq[SkyEvent] =
    (0 until numPartitions).map(p =>
      SkyEvent(p, isTrigger = true, id = -1L, values = Array.empty, payload, nowMs))

  /** Trigger barrier: payload "qid,N" → N; no comma or malformed → 0
    * (divergence D5 + the no-crash extension). Delegates to
    * [[graft.sources.WireFormat.requiredCountOf]] so the column-level and
    * state-machine trigger parses can never disagree. */
  def requiredCount(payload: String): Long =
    graft.sources.WireFormat.requiredCountOf(payload)

  /** Local phase step (`FlinkSkyline.java:214-445`) for one pid: fold the
    * point events into the cumulative skyline, then release every parked
    * or newly-arrived trigger whose barrier is met (or whose partition is
    * untouched — the `-1` fast-path) as a counted snapshot. */
  private def localStep(clock: () => Long, pid: Int, events: Iterable[SkyEvent],
                        prev: Option[LocalState]): (LocalState, Seq[LocalResult]) = {
    val st = prev.getOrElse(
      LocalState(Nil, Nil, SkyBuffer.MinCompact, -1L, Nil, 0L, 0L))
    val points = events.filter(!_.isTrigger)
    val triggers = events.filter(_.isTrigger).map(e => (e.payload, e.dispatchMs)).toList

    val startMs = if (st.maxSeenId < 0 && points.nonEmpty && st.startMs == 0L) clock()
                  else st.startMs
    val buf = new SkyBuffer(ArrayBuffer(st.sky: _*),
      ArrayBuffer(st.counts: _*), st.compactAt)
    var maxId = st.maxSeenId
    val t0 = System.nanoTime()
    points.foreach { p =>
      if (p.id > maxId) maxId = p.id
      buf.add(p.values, p.count)
    }
    val cpuNanos = st.cpuNanos + (System.nanoTime() - t0)

    val out = ArrayBuffer.empty[LocalResult]
    lazy val snap = { buf.compact(); (buf.points.toArray, buf.counts.toArray) }
    val stillPending = (st.pending ++ triggers).filter { case (payload, dispatchMs) =>
      val barrierMet = maxId >= requiredCount(payload)
      val untouched  = maxId == -1L // -1 fast-path: empty partition answers now
      if (barrierMet || untouched) {
        out += LocalResult(payload, pid, dispatchMs, startMs, snap._1, snap._2,
          cpuNanos / 1000000L)
        false
      } else true
    }
    // The filter's dropped adds still count toward the next compaction:
    // fold them into the stored threshold, which keeps the schedule.
    (LocalState(buf.points.toList, buf.counts.toList, buf.compactAt - buf.skipped,
      maxId, stillPending, startMs, cpuNanos), out.toSeq)
  }

  /** Local phase of the two-operator formulation, keyed by pid: one
    * [[localStep]]. */
  def localFn(clock: () => Long)(
      pid: Int, events: Iterator[SkyEvent],
      state: GroupState[LocalState]): Iterator[LocalResult] = {
    val (st, snaps) = localStep(clock, pid, events.toSeq, state.getOption)
    state.update(st)
    snaps.iterator
  }

  /** Global phase step (`FlinkSkyline.java:460-660`) for one payload: file
    * each arriving snapshot in the first latch that lacks its pid, then
    * emit the record of every latch all `totalPartitions` pids have
    * answered (the latch then clears, D6). A later latch only holds pids
    * its predecessor holds, so the full ones are a prefix of the chain.
    * Returns the open latches and the records. */
  private def globalStep(totalPartitions: Int, clock: () => Long, payload: String,
                         prev: Option[GlobalState], arrivals: Iterator[LocalResult])
      : (Option[GlobalState], Seq[String]) = {
    def file(latch: Option[GlobalState], r: LocalResult): GlobalState = latch match {
      case Some(g) if g.snapshots.parts.contains(r.pid) =>
        g.copy(next = Some(file(g.next, r)))
      case _ =>
        val g = latch.getOrElse(
          GlobalState(new SkyStatsBuffer(), Long.MaxValue, 0L, 0L, None))
        g.snapshots.put(r.pid, r.sky, r.counts)
        g.copy(
          minStartMs = math.min(g.minStartMs,
            if (r.startMs == 0L) Long.MaxValue else r.startMs),
          lastArrivalMs = clock(),
          maxLocalCpuMs = math.max(g.maxLocalCpuMs, r.cpuMs))
    }
    var st = prev
    arrivals.foreach(r => st = Some(file(st, r)))
    val out = ArrayBuffer.empty[String]
    while (st.exists(_.snapshots.parts.size >= totalPartitions)) {
      out += record(totalPartitions, clock, payload, st.get)
      st = st.get.next
    }
    (st, out.toSeq)
  }

  /** A full latch's record: the partitions' stats in one tagged merge,
    * written by the batch record function. The global time covers that
    * merge. */
  private def record(totalPartitions: Int, clock: () => Long, payload: String,
                     g: GlobalState): String = {
    val stats = g.snapshots.stats()
    val finishMs = clock()
    val started = g.minStartMs != Long.MaxValue
    val mapWall = if (started) g.lastArrivalMs - g.minStartMs else 0L
    val parts = payload.split(",")
    SkylineStats.record(parts(0), if (parts.length > 1) parts(1).trim else "unknown",
      stats.toSeq, totalPartitions,
      ingestMs = math.max(0L, mapWall - g.maxLocalCpuMs), localMs = g.maxLocalCpuMs,
      globalMs = finishMs - g.lastArrivalMs,
      totalMs = if (started) finishMs - g.minStartMs else 0L)
  }

  /** Global phase of the two-operator formulation, keyed by payload: one
    * [[globalStep]] over the arriving snapshots. */
  def globalFn(totalPartitions: Int, clock: () => Long)(
      payload: String, results: Iterator[LocalResult],
      state: GroupState[GlobalState]): Iterator[String] = {
    val (st, records) = globalStep(totalPartitions, clock, payload, state.getOption, results)
    st.fold(state.remove())(state.update)
    records.iterator
  }

  /** The stateful step of [[apply]]: one [[localStep]] per pid that received
    * events, then one [[globalStep]] per payload with released snapshots. */
  private def topologyFn(totalPartitions: Int, clock: () => Long)(
      key: Int, events: Iterator[SkyEvent],
      state: GroupState[TopologyState]): Iterator[String] = {
    val st = state.getOption.getOrElse(TopologyState(Map.empty, Map.empty))
    var locals = st.locals
    val released = ArrayBuffer.empty[LocalResult]
    events.toSeq.groupBy(_.pid).foreach { case (pid, evs) =>
      val (ls, snaps) = localStep(clock, pid, evs, locals.get(pid))
      locals += pid -> ls
      released ++= snaps
    }
    var latches = st.latches
    val out = ArrayBuffer.empty[String]
    released.groupBy(_.payload).foreach { case (payload, snaps) =>
      val (g, records) = globalStep(totalPartitions, clock, payload,
        latches.get(payload), snaps.iterator)
      latches = g.fold(latches - payload)(latches.updated(payload, _))
      out ++= records
    }
    state.update(TopologyState(locals, latches))
    out.iterator
  }

  /** Map-side local skyline: per input task and pid, fold the task's
    * points into a [[SkyBuffer]] and emit only its skyline, one counted
    * event per distinct point, stamped with the pid's max id. The skyline
    * of a union is the skyline of its parts' skylines, so the stateful
    * step sees the same frontier from far fewer rows. Triggers pass
    * through. */
  private def localSkylines(events: Iterator[SkyEvent]): Iterator[SkyEvent] = {
    val parts = scala.collection.mutable.HashMap.empty[Int, TaskSkyline]
    val triggers = ArrayBuffer.empty[SkyEvent]
    events.foreach { e =>
      if (e.isTrigger) triggers += e
      else {
        val part = parts.getOrElseUpdate(e.pid, new TaskSkyline)
        part.buf.add(e.values, e.count)
        if (e.id > part.maxId) part.maxId = e.id
      }
    }
    triggers.iterator ++ parts.iterator.flatMap { case (pid, part) =>
      val buf = part.buf
      buf.compact()
      buf.points.indices.iterator.map(i => SkyEvent(pid, isTrigger = false,
        part.maxId, buf.points(i), "", 0L, buf.counts(i)))
    }
  }

  /** One pid's points within one input task of [[localSkylines]]. */
  private final class TaskSkyline {
    val buf = new SkyBuffer
    var maxId = -1L
  }

  /** Wire the full topology over an already-union'd event stream.
    * `events` must contain data points with pid pre-assigned (any
    * [[graft.core.GeoPartitioners]] strategy) and triggers fanned out via
    * [[fanOutTrigger]]. */
  def apply(events: Dataset[SkyEvent], numPartitions: Int,
            clock: () => Long = () => System.currentTimeMillis()): Dataset[String] = {
    import events.sparkSession.implicits._
    events
      .mapPartitions(localSkylines)
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        topologyFn(numPartitions, clock))
  }

  /** The reference's full topology from the two RAW string streams
    * (`FlinkSkyline.java:79-183`): parse the CSV wire formats
    * ([[graft.sources.WireFormat]]), key points by a geometric partitioner
    * from [[graft.core.GeoPartitioners]], fan triggers out to every
    * partition, union, and run [[apply]].
    *
    * @param partitioner pure pid function of the value vector (e.g.
    *                    `GeoPartitioners.dimPartition(_, maxVal, n)`)
    */
  def fromWire(points: org.apache.spark.sql.DataFrame,
               triggers: org.apache.spark.sql.DataFrame,
               partitioner: Array[Double] => Int, numPartitions: Int,
               clock: () => Long = () => System.currentTimeMillis()): Dataset[String] = {
    val spark = points.sparkSession
    import spark.implicits._
    val pointEvents = graft.sources.WireFormat.parsePoints(points)
      .as[(Long, Array[Double])]
      .map { case (id, values) =>
        SkyEvent(partitioner(values), isTrigger = false, id, values, "", 0L) }
    val triggerEvents = graft.sources.WireFormat.parseTriggers(triggers)
      .select(col("payload")).as[String]
      .flatMap(payload => fanOutTrigger(payload, numPartitions, clock()))
    apply(pointEvents.union(triggerEvents), numPartitions, clock)
  }
}
