package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.{SkyBuffer, SkylineKernel}

/** Streaming parity mode: the reference's two-phase streaming skyline
  * topology re-expressed as Structured Streaming stateful operators.
  *
  * Reference topology (`java/org.main/FlinkSkyline.java:33-49`): a data
  * stream of points and a control stream of query triggers; triggers are
  * broadcast to every logical partition, each partition maintains a
  * cumulative local skyline behind a record-id barrier, and a global
  * reducer latches all partitions' answers into the final record.
  *
  * Spark encoding: Spark has no two-input `CoProcessFunction`, so both
  * streams are mapped into one [[SkyEvent]] ADT and unioned; the local
  * phase is `groupByKey(pid).flatMapGroupsWithState` and the global phase
  * `groupByKey(payload).flatMapGroupsWithState` (both Append mode, so the
  * two stateful operators may be chained in one query). Preserved reference
  * semantics, by divergence tag (SURVEY §2.3):
  *   - D5: a trigger payload without a comma parses requiredCount = 0 →
  *     executes immediately against current state.
  *   - barrier (`FlinkSkyline.java:296-315,329-356`): a trigger parks until
  *     the partition's max seen record id ≥ requiredCount; re-checked every
  *     batch that delivers data. Arrival order between the unioned streams
  *     is irrelevant — exactly why the reference chose an id barrier over
  *     time (SURVEY §7.3).
  *   - `-1` fast-path (`FlinkSkyline.java:342-355`): a partition that has
  *     never seen data answers immediately with an empty skyline.
  *   - D6: local skylines are cumulative for the life of the job (never
  *     cleared); global state clears after each emission.
  *   - D4: optimality sums survivor ratios over reporting partitions with
  *     localSize > 0, divided by the FIXED total partition count.
  *   - D3: query_latency_ms is computed but absent from the emitted JSON.
  */
object StreamingSkyline {

  /** Union ADT of the data and control streams (flat for the encoder).
    * `isTrigger = false`: a point (id, values); `true`: a trigger replica
    * for this pid (payload "qid,requiredCount", dispatchMs stamped at
    * fan-out like `FlinkSkyline.java:145-156`). */
  case class SkyEvent(pid: Int, isTrigger: Boolean, id: Long,
                      values: Array[Double], payload: String, dispatchMs: Long)

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

  private implicit val localStateEnc: Encoder[LocalState]   = Encoders.kryo[LocalState]
  private implicit val globalStateEnc: Encoder[GlobalState] = Encoders.kryo[GlobalState]
  private implicit val localResultEnc: Encoder[LocalResult] = Encoders.product[LocalResult]

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

  /** Local phase (`FlinkSkyline.java:214-445`). Points are folded into the
    * cumulative skyline in id order; then every parked or newly-arrived
    * trigger whose barrier is met (or whose partition is untouched — the
    * `-1` fast-path) emits a snapshot. */
  def localFn(clock: () => Long)(
      pid: Int, events: Iterator[SkyEvent],
      state: GroupState[LocalState]): Iterator[LocalResult] = {
    val st = state.getOption.getOrElse(
      LocalState(Nil, Nil, SkyBuffer.MinCompact, -1L, Nil, 0L, 0L))
    val evs = events.toArray
    val points = evs.filter(!_.isTrigger).sortBy(_.id)
    val triggers = evs.filter(_.isTrigger).map(e => (e.payload, e.dispatchMs)).toList

    val startMs = if (st.maxSeenId < 0 && points.nonEmpty && st.startMs == 0L) clock()
                  else st.startMs
    val buf = new SkyBuffer(ArrayBuffer(st.sky: _*),
      ArrayBuffer(st.counts: _*), st.compactAt)
    var maxId = st.maxSeenId
    val t0 = System.nanoTime()
    points.foreach { p =>
      if (p.id > maxId) maxId = p.id
      buf.add(p.values)
    }
    val cpuNanos = st.cpuNanos + (System.nanoTime() - t0)

    val out = ArrayBuffer.empty[LocalResult]
    val stillPending = (st.pending ++ triggers).filter { case (payload, dispatchMs) =>
      val barrierMet = maxId >= requiredCount(payload)
      val untouched  = maxId == -1L // -1 fast-path: empty partition answers now
      if (barrierMet || untouched) {
        // result() compacts, then re-expands multiplicities: the emitted
        // snapshot is the same duplicate-preserving multiset as before.
        out += LocalResult(payload, pid, dispatchMs, startMs,
          buf.result(), cpuNanos / 1000000L)
        false
      } else true
    }
    state.update(LocalState(buf.points.toList, buf.counts.toList,
      buf.compactAt, maxId, stillPending, startMs, cpuNanos))
    out.iterator
  }

  /** Global phase (`FlinkSkyline.java:460-660`): merge arriving local
    * skylines (tracking origin lineage; counted tagged SFS — same result
    * multiset as the reference's BNL merge), latch on totalPartitions,
    * then emit the reference's JSON record and clear state (D6 reset). */
  def globalFn(totalPartitions: Int, clock: () => Long)(
      payload: String, results: Iterator[LocalResult],
      state: GroupState[GlobalState]): Iterator[String] = {
    var st = state.getOption.getOrElse(
      GlobalState(Nil, 0, Map.empty, Long.MaxValue, 0L, 0L))
    // Counted tagged merge: accumulate this invoke's arrivals (run-length
    // compressing each snapshot — expanded duplicates arrive adjacent from
    // SkyBuffer.result()), then ONE SFS pass re-establishes the merged
    // skyline. Cost is sort + scan over DISTINCT (point, origin) entries —
    // the raw per-point BNL list this replaces was quadratic in the
    // duplicate-heavy expanded multiset (249k points at 2D×10M).
    val pts  = ArrayBuffer.empty[Array[Double]]
    val tags = ArrayBuffer.empty[Int]
    val cnts = ArrayBuffer.empty[Long]
    st.entries.foreach { case (p, t, c) => pts += p; tags += t; cnts += c }
    results.foreach { r =>
      var i = 0
      while (i < r.sky.length) {
        var j = i + 1
        // Duplicates are adjacent (SkyBuffer.result() expands counted runs);
        // value equality, not `eq` — the shuffle re-materializes arrays.
        while (j < r.sky.length && java.util.Arrays.equals(r.sky(j), r.sky(i))) j += 1
        pts += r.sky(i); tags += r.pid; cnts += (j - i).toLong
        i = j
      }
      st = GlobalState(
        st.entries,
        st.arrived + 1,
        st.localSizes + (r.pid -> r.sky.length),
        math.min(st.minStartMs, if (r.startMs == 0L) Long.MaxValue else r.startMs),
        clock(),
        math.max(st.maxLocalCpuMs, r.cpuMs))
    }
    // Re-merging already-merged entries is idempotent, so an invoke with no
    // arrivals costs one pass and changes nothing.
    val m = SkylineKernel.mergeTagged(pts, tags, cnts)
    st = st.copy(entries =
      m.points.indices.map(i => (m.points(i), m.tags(i), m.counts(i))).toList)
    if (st.arrived >= totalPartitions) {
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
      state.remove() // D6: global state resets per query; locals never clear
      Iterator.single(String.format(java.util.Locale.US,
        "{\"query_id\": \"%s\", \"record_count\": %s, \"skyline_size\": %d, " +
          "\"optimality\": %.4f, \"ingestion_time_ms\": %d, " +
          "\"local_processing_time_ms\": %d, \"global_processing_time_ms\": %d, " +
          "\"total_processing_time_ms\": %d}",
        qId, recCount, Long.box(skySize), Double.box(optimality),
        Long.box(ingestion), Long.box(st.maxLocalCpuMs), Long.box(globalMs),
        Long.box(totalMs)))
    } else {
      state.update(st)
      Iterator.empty
    }
  }

  /** Wire the full topology over an already-union'd event stream.
    * `events` must contain data points with pid pre-assigned (any
    * [[graft.core.GeoPartitioners]] strategy) and triggers fanned out via
    * [[fanOutTrigger]]. */
  def apply(events: Dataset[SkyEvent], numPartitions: Int,
            clock: () => Long = () => System.currentTimeMillis()): Dataset[String] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.pid)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(localFn(clock))
      .groupByKey(_.payload)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(globalFn(numPartitions, clock))
  }

  /** The reference's full topology from the two RAW string streams
    * (`FlinkSkyline.java:79-183`): parse the CSV wire formats
    * ([[graft.sources.WireFormat]]), key points by a geometric partitioner
    * from [[graft.core.GeoPartitioners]], fan triggers out to every
    * partition, union, and run the two-phase state machine.
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
