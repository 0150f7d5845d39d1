package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming EMBEDDING near-dup flagging — the ingestion-time twin of
  * [[graft.operators.VectorOps.cosNearDups]] / SemDeDup under
  * first-occurrence-kept semantics: every arriving vector is compared to
  * the KEPT representatives of its LSH bucket in the stream history, and
  * flagged `dup` iff its exact cosine to any of them is ≥ `minCos`. An
  * unflagged arrival becomes a representative itself (up to `cap` per
  * bucket) — exactly what an ingestion filter enforces: the first copy of
  * a semantic cluster streams through and seeds the keep-set, every later
  * near-copy is flagged for dropping.
  *
  * Blocking is ONE hyperplane table of `bits` sign bits (the
  * [[graft.operators.VectorOps.bucketCol]] family, same deterministic
  * planes as the batch operators): near-identical vectors share the
  * bucket with probability (1 − θ/π)^bits, so like the batch LSH
  * operators the detected set is the candidate subset — recall is the
  * blocking's, tunable via `bits` (fewer bits = bigger buckets = higher
  * recall at more comparisons); [[flagNearDupVotes]] layers `tables`
  * independent tables in one operator for multi-table recall.
  * Dimension-mismatched or null vectors pass through unflagged (they can
  * be near nothing).
  *
  * State per bucket: at most `cap` (id, vector) representatives —
  * O(cap × dims) per occupied bucket, ≤ 2^bits buckets; evicted
  * `lateness` past the watermark (EventTimeTimeout). So state is bounded
  * by the hyperparameters and the value space, never by stream length —
  * the "runs forever" property of every twin here. A saturated bucket
  * stops admitting representatives (later distinct arrivals stream
  * through unflagged — the documented cap trade, mirroring
  * [[graft.operators.DedupOps.DefaultMaxBucket]]'s contract). Within one
  * batch, arrivals order by (ts, id) for deterministic replays.
  */
object StreamEmbDedup {

  /** One flagged row per arriving vector. */
  final case class EmbFlag(vec_id: Long, dup: Boolean)

  /** One per-table verdict per arriving vector — the multi-table twin's
    * raw output ([[flagNearDupVotes]]); `ts` rides through so the OR
    * consolidation ([[orVotes]]) can re-watermark. */
  final case class EmbVote(vec_id: Long, table: Int,
                           ts: java.sql.Timestamp, dup: Boolean)

  /** (idCol, tsCol, vecCol) stream → flagged stream (vec_id, dup).
    * Append mode. Also runs on a batch frame (state starts empty: pure
    * greedy first-occurrence flagging over the input). It is
    * [[flagNearDupVotes]] with one table, each vote projected to its
    * (vec_id, dup): same operator, same state (key = bucket, the table-0
    * key of the multi-table layout).
    *
    * `saturated` (optional): a registered LongAccumulator incremented
    * once per valid, unflagged arrival REJECTED from the keep-set because
    * its bucket already holds `cap` representatives — the runtime
    * visibility surface for the documented cap trade (mirroring
    * [[graft.operators.DedupOps.hotBuckets]]'s inspection contract): a
    * climbing counter means later near-copies of those arrivals stream
    * through undetected, so raise `cap` or narrow buckets via `bits`. */
  def flagNearDups(embs: DataFrame, idCol: String, tsCol: String,
                   vecCol: String, bits: Int, dims: Int, minCos: Double,
                   cap: Int, lateness: String,
                   saturated: Option[org.apache.spark.util.LongAccumulator]
                     = None): Dataset[EmbFlag] = {
    import embs.sparkSession.implicits._
    flagNearDupVotes(embs, idCol, tsCol, vecCol, 1, bits, dims, minCos, cap,
      lateness, saturated).select(col("vec_id"), col("dup")).as[EmbFlag]
  }

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var dotAb = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dotAb += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0) 0.0 else dotAb / d
  }

  /** Internal multi-table row: `key` = table · 2¹⁶ + bucket (bits ≤ 16,
    * so buckets never collide across tables). Public: generated
    * deserializers must reach the constructor (the Janino note on the
    * sibling twins). */
  final case class EmbTIn(key: Int, vecId: Long,
                          ts: java.sql.Timestamp, v: Array[Double])

  /** MULTI-TABLE [[flagNearDups]] — first-class layering of `tables`
    * independent hyperplane tables in ONE stateful operator: each arrival
    * fans out to its `tables` (table, bucket) groups (the native
    * [[graft.plans.LshBuckets]] loop computes all buckets in one pass),
    * each group flags against ITS keep-set, and the per-table verdicts
    * stream out as [[EmbVote]]s — OR them with [[orVotes]] (or any
    * downstream consumer) for the union recall 1 − (1 − (1 − θ/π)^bits)
    * ... per table, without orchestrating separate runs.
    *
    * Semantics note (the union-recall trade, documented not hidden): each
    * table admits representatives INDEPENDENTLY — a vector another table
    * flagged dup still seeds the tables that missed it. That only ever
    * ADDS detection (its own near-copies get flagged through those reps
    * too), at cap pressure as the cost; per-table flag counts therefore
    * need not agree across `tables` settings, while the OR is monotone
    * in `tables` on any fixed arrival order.
    *
    * State: ≤ cap × 2^bits representatives PER TABLE (tables × that
    * total) — still hyperparameter-bounded, watermark-evicted; `tables`×
    * the single-table shuffle volume (each arrival crosses the exchange
    * `tables` times). Null/dim-drifted vectors land in bucket 0 of every
    * table and pass through unflagged, exactly as [[flagNearDups]].
    *
    * TUNING — tables vs cap vs bits (measured on the 1 M noisy-pair
    * envelope, dims=64, bits=12, SCALE_SEMB_r16 — min-of-2 per cell
    * with flag counts required identical across reps; the r14 single
    * samples had the two cells' wall-clocks INVERTED by box noise at
    * 300k, which is why the protocol moved to first/min):
    *   - LAYER TABLES when misses come from BUCKET SPLITS — a true
    *     near-pair hashing to different buckets (the (1 − θ/π)^bits
    *     collision loss; the `saturated` counter reads 0). Each extra
    *     table multiplies state and shuffle ~×1 and retries the pair
    *     independently: 1 table flagged 93.1 % of planted near-dups at
    *     50.7 s / 4.1k state rows; 2 tables 99.1 % at 58.2 s / 8.1k rows
    *     — +6 recall points for ~1.15× wall and 2× state (flag counts
    *     bit-identical to r14's run: 838,342 / 891,998 of 900,000).
    *   - RAISE CAP when the `saturated` accumulator is climbing — misses
    *     from FULL buckets (representatives rejected, so their
    *     near-copies sail through). Costs state only in the buckets under
    *     pressure, nothing in shuffle; a saturated=0 run gains zero
    *     recall from more cap.
    *   - LOWER BITS when compare cost is affordable — halving bits
    *     doubles expected bucket occupancy (more comparisons per arrival,
    *     the per-bucket loop is linear in kept reps) but raises
    *     single-table collision probability for every θ, attacking the
    *     same miss source as tables WITHOUT extra shuffle passes; state
    *     bound cap × 2^bits shrinks. Prefer it over tables when arrivals
    *     per bucket stay small; prefer tables when hot buckets already
    *     run long.
    *
    * The saturated regime itself is measured at 10 M vectors
    * (SCALE_SEMB_r18, RocksDB + changelog, 1 M distinct slots over
    * 2^12 buckets at cap 16,384 — counters read 685k/1.34M rejected
    * admissions, every bucket occupied): recall pays the bound
    * visibly (86.5 % single-table) and a SECOND TABLE recovers most
    * of the trade (98.2 % at 1.11× wall, both tables saturating
    * independently) — when the counter climbs and cap × 2^bits is
    * already your state budget, layering a table is the measured
    * recovery path, because each table's cap rejections are
    * independent draws over a different bucketing. Unlike the batch
    * [[graft.operators.VectorOps.knnLshMultiProbe]] cap (an
    * occupancy-sized candidate TRUNCATION, auto-sizable from a
    * materialized corpus count), this cap is a STATE BOUND on an
    * unbounded stream — there is no corpus n to derive it from, so
    * it stays an explicit budget knob: size it as
    * state-budget-rows / (tables × 2^bits) and read `saturated` to
    * know when the budget, not the hashing, is the recall ceiling. */
  def flagNearDupVotes(embs: DataFrame, idCol: String, tsCol: String,
                       vecCol: String, tables: Int, bits: Int, dims: Int,
                       minCos: Double, cap: Int, lateness: String,
                       saturated: Option[org.apache.spark.util.LongAccumulator]
                         = None): Dataset[EmbVote] = {
    require(tables >= 1 && tables <= 16, s"tables out of range: $tables")
    require(bits >= 1 && bits <= 16, s"bits out of range: $bits")
    require(cap >= 1, s"cap must be >= 1: $cap")
    val spark = embs.sparkSession
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val rows = embs
      .select(col(idCol).cast("long").as("vecId"), col(tsCol).as("ts"),
        graft.operators.VectorOps.asDouble(col(vecCol)).as("v"))
      .withWatermark("ts", lateness)
      // graft_lsh_buckets is null on a null/drifted vector; coalesce to
      // bucket 0 in every table so the row still flows through (flagged
      // false, never admitted — the flagNearDups contract).
      .select(col("vecId"), col("ts"), col("v"),
        posexplode(coalesce(
          graft.operators.VectorOps.bucketsCol(col("v"), tables, bits, dims),
          array_repeat(lit(0), lit(tables)))).as(Seq("tbl", "bucket")))
      .select(((col("tbl") * lit(1 << 16)) + col("bucket")).cast("int")
          .as("key"),
        col("vecId"), col("ts"), col("v"))
      .as[EmbTIn]
    rows
      .groupByKey(_.key)
      .flatMapGroupsWithState[List[(Long, Array[Double])], EmbVote](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Int, it: Iterator[EmbTIn],
         state: GroupState[List[(Long, Array[Double])]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val table = key >>> 16
            val sorted = it.toArray.sortBy(r => (r.ts.getTime, r.vecId))
            val kept0 = state.getOption.getOrElse(Nil)
            var kept = kept0
            val out = sorted.map { r =>
              val ok = r.v != null && r.v.length == dims
              val dup = ok &&
                kept.exists { case (_, kv) => cos(kv, r.v) >= minCos }
              if (ok && !dup) {
                if (kept.size < cap) kept = (r.vecId, r.v) :: kept
                else saturated.foreach(_.add(1L))
              }
              EmbVote(r.vecId, table, r.ts, dup)
            }
            if (kept ne kept0) state.update(kept)
            try state.setTimeoutTimestamp(
              sorted.map(_.ts.getTime).max, lateness)
            catch { case _: UnsupportedOperationException |
                         _: IllegalArgumentException => () }
            out.iterator
          }
      }
  }

  /** OR-consolidation of [[flagNearDupVotes]]'s per-table verdicts into
    * one (vec_id, dup) row per arrival: the votes of one arrival all
    * carry its event time, so grouping on (ts, vec_id) under a fresh
    * watermark lets append mode emit each group once the watermark passes
    * its ts — aggregation after flatMapGroupsWithState in Append mode.
    * EMISSION IS WATERMARK-DELAYED by `lateness` — the price of
    * exactly-one-row-per-arrival consolidation; consumers that can
    * tolerate `tables` rows per arrival should read the votes directly
    * (e.g. `filter(dup)` for a drop-list, where the OR is free). Also
    * runs on a batch frame of votes (plain aggregation).
    *
    * LATENESS COUPLING: `lateness` here must be ≥ the lateness passed to
    * [[flagNearDupVotes]] — a SHORTER downstream watermark would put
    * votes from late-but-admitted arrivals below it and silently drop
    * those arrivals from the consolidated output. Pass the upstream value
    * as `votesLateness` to have the coupling VALIDATED (the combined
    * entry point [[flagNearDupsOr]] threads one shared lateness through
    * both stages and needs no validation); `votesLateness = None` is for
    * batch frames, where no watermark semantics apply.
    *
    * UNIQUENESS ASSUMPTION: groups on (ts, vec_id) — the natural key of
    * one arrival, since all `tables` votes of an arrival carry its id and
    * its event time. Two DISTINCT arrivals sharing BOTH id and timestamp
    * (a re-send of the same vec_id within one event-time tick) collapse
    * into one OR'd output row, diverging from [[flagNearDups]]'
    * one-row-per-arrival contract. Carry a disambiguating id if the
    * stream can contain such twins.
    *
    * STREAMING CALLERS: wrap the `.start()` in [[allowVotesChain]] —
    * Spark's global-watermark check rejects any stateful-after-
    * flatMapGroupsWithState chain because it cannot prove the first
    * operator's OUTPUT event times; here it is safe BY CONSTRUCTION:
    * every vote carries its arrival's own event time and is emitted in
    * the arrival's own micro-batch, while the downstream watermark
    * (computed from the same input, lagging one batch) can only be older
    * — no vote is ever late to the aggregation. */
  def orVotes(votes: Dataset[EmbVote], lateness: String,
              votesLateness: Option[String] = None): DataFrame = {
    votesLateness.foreach { vl =>
      require(latenessMs(lateness) >= latenessMs(vl),
        s"orVotes lateness '$lateness' must be >= flagNearDupVotes " +
          s"lateness '$vl': a shorter downstream watermark silently drops " +
          "late-but-admitted arrivals from the consolidated output")
    }
    votes.withWatermark("ts", lateness)
      .groupBy(col("ts"), col("vec_id"))
      .agg(max(col("dup")).as("dup"))
      .select(col("vec_id"), col("dup"))
  }

  /** The blessed multi-table ingestion filter: [[flagNearDupVotes]] →
    * [[orVotes]] with ONE shared `lateness` (the coupling the two-call
    * form leaves to the caller — see [[orVotes]]'s scaladoc). Start the
    * resulting stream inside [[allowVotesChain]]. */
  def flagNearDupsOr(embs: DataFrame, idCol: String, tsCol: String,
                     vecCol: String, tables: Int, bits: Int, dims: Int,
                     minCos: Double, cap: Int, lateness: String,
                     saturated: Option[org.apache.spark.util.LongAccumulator]
                       = None): DataFrame =
    orVotes(flagNearDupVotes(embs, idCol, tsCol, vecCol, tables, bits,
      dims, minCos, cap, lateness, saturated), lateness, Some(lateness))

  /** Scopes the `statefulOperator.checkCorrectness` waiver to ONE query
    * start instead of the whole session lifetime: Spark consults the
    * flag synchronously inside `.start()` (analysis-time
    * UnsupportedOperationChecker), so set → start → restore confines the
    * disable to the `body` window. `body` must contain the `.start()`
    * call itself (not just build the DataFrame).
    *
    * CONCURRENCY SCOPE (honest limits): calls to this method are
    * serialized JVM-wide, so two overlapping `allowVotesChain`s cannot
    * restore each other's stale previous value — but the conf is
    * SESSION-level state, so an UNRELATED stateful query started by
    * another thread on the SAME session inside the window also skips
    * the check. A multi-tenant driver that starts streaming queries
    * concurrently should give the votes chain its own session
    * (`spark.newSession()` shares the SparkContext; build the chain's
    * input from that session) rather than share one session's conf. */
  def allowVotesChain[T](spark: org.apache.spark.sql.SparkSession)
                        (body: => T): T = votesChainLock.synchronized {
    val key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private[this] val votesChainLock = new Object

  /** Watermark-delay string → milliseconds, with Spark's own interval
    * parser (so "10 minutes", "1 hour", "90 seconds" all compare
    * correctly). Month components are rejected — Spark's watermark
    * machinery itself refuses non-fixed-duration delays. */
  private def latenessMs(s: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    require(iv.months == 0, s"watermark delay must be month-free: '$s'")
    iv.days * 86400000L + iv.microseconds / 1000L
  }
}
