package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.{SkyBuffer, SkylineKernel}

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
  *      each pid that received events, merges each released snapshot into
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
  *   - D4: optimality sums survivor ratios over reporting partitions with
  *     localSize > 0, divided by the FIXED total partition count.
  *   - D3: query_latency_ms is computed but absent from the emitted JSON.
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
    * (reference Tuple6, `FlinkSkyline.java:201-213`). */
  case class LocalResult(payload: String, pid: Int, dispatchMs: Long,
                         startMs: Long, sky: Array[Array[Double]], cpuMs: Long)

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

  /** Per-query global state: merged skyline as COUNTED
    * (point, originPid, multiplicity) entries (dominance ignores the
    * origin tag; equal points from different origins stay separate — see
    * [[graft.core.SkylineKernel.skylineCountedTagged]]), latch count,
    * per-partition local sizes, timing water marks. */
  case class GlobalState(entries: List[(Array[Double], Int, Long)], arrived: Int,
                         localSizes: Map[Int, Int], minStartMs: Long,
                         lastArrivalMs: Long, maxLocalCpuMs: Long)

  /** The single operator's state row: every pid's local phase and every
    * payload's pending latch. Not `private`: `Encoders.kryo` rejects a
    * class that is not public in bytecode. */
  private[streaming] case class TopologyState(locals: Map[Int, LocalState],
                                              latches: Map[String, GlobalState])

  /** A released local snapshot in counted form: `counts(i)` copies of
    * `points(i)`. */
  private case class Snapshot(payload: String, pid: Int, dispatchMs: Long,
                              startMs: Long, points: ArrayBuffer[Array[Double]],
                              counts: ArrayBuffer[Long], cpuMs: Long)

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
                        prev: Option[LocalState]): (LocalState, Seq[Snapshot]) = {
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

    val out = ArrayBuffer.empty[Snapshot]
    val stillPending = (st.pending ++ triggers).filter { case (payload, dispatchMs) =>
      val barrierMet = maxId >= requiredCount(payload)
      val untouched  = maxId == -1L // -1 fast-path: empty partition answers now
      if (barrierMet || untouched) {
        if (out.isEmpty) buf.compact() // every snapshot of this step shares it
        out += Snapshot(payload, pid, dispatchMs, startMs, buf.points, buf.counts,
          cpuNanos / 1000000L)
        false
      } else true
    }
    (LocalState(buf.points.toList, buf.counts.toList, buf.compactAt, maxId,
      stillPending, startMs, cpuNanos), out.toSeq)
  }

  /** Local phase of the two-operator formulation, keyed by pid: one
    * [[localStep]], with each snapshot's multiplicities re-expanded. */
  def localFn(clock: () => Long)(
      pid: Int, events: Iterator[SkyEvent],
      state: GroupState[LocalState]): Iterator[LocalResult] = {
    val (st, snaps) = localStep(clock, pid, events.toSeq, state.getOption)
    state.update(st)
    snaps.iterator.map(s => LocalResult(s.payload, s.pid, s.dispatchMs, s.startMs,
      SkylineKernel.expand(s.points, s.counts).toArray, s.cpuMs))
  }

  /** Global phase step (`FlinkSkyline.java:460-660`) for one payload: merge
    * the arriving counted snapshots into the latch (tracking origin
    * lineage; counted tagged SFS — same result multiset as the reference's
    * BNL merge). Right(the reference's JSON record) once `totalPartitions`
    * have arrived (the latch then clears, D6), else Left(the latch). */
  private def globalStep(totalPartitions: Int, clock: () => Long, payload: String,
                         prev: Option[GlobalState], arrivals: Iterator[Snapshot])
      : Either[GlobalState, String] = {
    var st = prev.getOrElse(GlobalState(Nil, 0, Map.empty, Long.MaxValue, 0L, 0L))
    // Accumulate this step's arrivals, then ONE SFS pass re-establishes the
    // merged skyline. Cost is sort + scan over DISTINCT (point, origin)
    // entries — the raw per-point BNL list this replaces was quadratic in
    // the duplicate-heavy expanded multiset (249k points at 2D×10M).
    val pts  = ArrayBuffer.empty[Array[Double]]
    val tags = ArrayBuffer.empty[Int]
    val cnts = ArrayBuffer.empty[Long]
    st.entries.foreach { case (p, t, c) => pts += p; tags += t; cnts += c }
    arrivals.foreach { r =>
      pts ++= r.points; tags ++= Iterator.fill(r.points.length)(r.pid); cnts ++= r.counts
      st = GlobalState(
        st.entries,
        st.arrived + 1,
        st.localSizes + (r.pid -> r.counts.sum.toInt),
        math.min(st.minStartMs, if (r.startMs == 0L) Long.MaxValue else r.startMs),
        clock(),
        math.max(st.maxLocalCpuMs, r.cpuMs))
    }
    // Re-merging already-merged entries is idempotent, so a step with no
    // arrivals costs one pass and changes nothing.
    val m = SkylineKernel.mergeTagged(pts, tags, cnts)
    st = st.copy(entries =
      m.points.indices.map(i => (m.points(i), m.tags(i), m.counts(i))).toList)
    if (st.arrived < totalPartitions) Left(st)
    else {
      val finishMs = clock()
      val skySize = m.survivors.values.sum
      val sumRatios = st.localSizes.collect {
        case (p, size) if size > 0 => m.survivors.getOrElse(p, 0L).toDouble / size
      }.sum
      val optimality = sumRatios / totalPartitions
      val mapWall    = if (st.minStartMs == Long.MaxValue) 0L
                       else st.lastArrivalMs - st.minStartMs
      val ingestion  = math.max(0L, mapWall - st.maxLocalCpuMs)
      val globalMs   = finishMs - st.lastArrivalMs
      val totalMs    = if (st.minStartMs == Long.MaxValue) 0L
                       else finishMs - st.minStartMs
      val parts = payload.split(",")
      val qId = parts(0)
      val recCount = if (parts.length > 1) parts(1).trim else "unknown"
      Right(String.format(java.util.Locale.US,
        "{\"query_id\": \"%s\", \"record_count\": %s, \"skyline_size\": %d, " +
          "\"optimality\": %.4f, \"ingestion_time_ms\": %d, " +
          "\"local_processing_time_ms\": %d, \"global_processing_time_ms\": %d, " +
          "\"total_processing_time_ms\": %d}",
        qId, recCount, Long.box(skySize), Double.box(optimality),
        Long.box(ingestion), Long.box(st.maxLocalCpuMs), Long.box(globalMs),
        Long.box(totalMs)))
    }
  }

  /** Global phase of the two-operator formulation, keyed by payload: one
    * [[globalStep]] over the arriving snapshots, run-length compressed
    * back to counted form. */
  def globalFn(totalPartitions: Int, clock: () => Long)(
      payload: String, results: Iterator[LocalResult],
      state: GroupState[GlobalState]): Iterator[String] =
    globalStep(totalPartitions, clock, payload, state.getOption,
      results.map(counted)) match {
      case Left(st) => state.update(st); Iterator.empty
      case Right(record) => state.remove(); Iterator.single(record)
    }

  /** A [[LocalResult]] as a counted snapshot. Duplicates are adjacent
    * ([[graft.core.SkylineKernel.expand]] expands counted runs); value
    * equality, not `eq` — a shuffle re-materializes arrays. */
  private def counted(r: LocalResult): Snapshot = {
    val pts  = ArrayBuffer.empty[Array[Double]]
    val cnts = ArrayBuffer.empty[Long]
    var i = 0
    while (i < r.sky.length) {
      var j = i + 1
      while (j < r.sky.length && java.util.Arrays.equals(r.sky(j), r.sky(i))) j += 1
      pts += r.sky(i); cnts += (j - i).toLong
      i = j
    }
    Snapshot(r.payload, r.pid, r.dispatchMs, r.startMs, pts, cnts, r.cpuMs)
  }

  /** The stateful step of [[apply]]: one [[localStep]] per pid that received
    * events, then one [[globalStep]] per payload with released snapshots. */
  private def topologyFn(totalPartitions: Int, clock: () => Long)(
      key: Int, events: Iterator[SkyEvent],
      state: GroupState[TopologyState]): Iterator[String] = {
    val st = state.getOption.getOrElse(TopologyState(Map.empty, Map.empty))
    var locals = st.locals
    val released = ArrayBuffer.empty[Snapshot]
    events.toSeq.groupBy(_.pid).foreach { case (pid, evs) =>
      val (ls, snaps) = localStep(clock, pid, evs, locals.get(pid))
      locals += pid -> ls
      released ++= snaps
    }
    var latches = st.latches
    val out = ArrayBuffer.empty[String]
    released.groupBy(_.payload).foreach { case (payload, snaps) =>
      globalStep(totalPartitions, clock, payload, latches.get(payload),
        snaps.iterator) match {
        case Left(g) => latches += payload -> g
        case Right(record) => latches -= payload; out += record
      }
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
