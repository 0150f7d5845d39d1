package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time tumbling-window aggregation with a watermark — the standard
  * Structured Streaming pattern (readStream → watermark → window → agg) for
  * event-shaped data, complementing [[StreamingSkyline]]'s custom-state
  * topology (which the reference's barrier protocol needs; reference:
  * `java/org.main/FlinkSkyline.java:100-102` disables watermarks, so THIS
  * operator is the beyond-parity streaming surface, not a parity one).
  *
  * The same plan runs in both modes: in a streaming query the watermark
  * bounds state (windows older than max-event-time − `lateness` finalize
  * and drop, later-than-watermark rows are discarded); over a batch
  * DataFrame `withWatermark` is a no-op and the result is the plain
  * windowed aggregate, which is what lets the DuckDB oracle gate the exact
  * same code the stream runs.
  *
  * Scale shape: partial aggregation per (window, key) map-side, one shuffle
  * keyed on (window, key) — state size is bounded by live windows × keys,
  * never the stream length.
  */
object EventWindows {

  /** Counts per tumbling `windowLen` event-time window per `keyCol`.
    * Output: (w_start timestamp, keyCol, cnt). */
  def windowedKeyCounts(events: DataFrame, tsCol: String, keyCol: String,
                        windowLen: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen).as("w"), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col(keyCol), col("cnt"))

  /** Gap-based sessions per `keyCol` via the built-in `session_window`
    * (merging event-time windows, half-open: an event exactly `gap` after
    * its predecessor OPENS a new session). Output: (keyCol, w_start
    * timestamp = session start, n_events).
    *
    * Batch/stream duality as [[windowedKeyCounts]]: streaming, the
    * watermark finalizes a session once max-event-time − `lateness` passes
    * its close, so state is bounded by OPEN sessions × keys on an unbounded
    * feed; batch, the same plan is the exact grouped session aggregate the
    * DuckDB oracle replays. Spark merges session fragments with a shuffle
    * keyed on `keyCol` — no per-key sort of the whole stream, fragments
    * merge in the state store. */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
                    gap: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(col(keyCol), session_window(col(tsCol), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("sw.start").as("w_start"), col("n_events"))

  /** Pareto FRONTIER per tumbling event-time window — the centerpiece
    * skyline aggregate ([[graft.functions.SkylineAgg]]) as a watermarked
    * streaming aggregation: per micro-batch the partial local skylines
    * combine in the state store, so per-window state is O(frontier), never
    * the window's row count, and a window's final frontier emits once the
    * watermark closes it (append mode). Over a batch DataFrame the same
    * plan is the plain windowed skyline — the [[windowedKeyCounts]]
    * batch/stream duality applied to the reference's core operator
    * (continuous QoS frontier per time window). It is the skyline body
    * ([[graft.operators.SkylineOps.skylineOf]]) keyed by the window, so
    * its rules hold here too: numeric dims only, a null coordinate fails
    * the query, and every frontier row (duplicates included) comes back
    * in its input column types. Output: (w_start, dims...).
    */
  def windowedFrontier(events: DataFrame, tsCol: String, dims: Seq[String],
                       windowLen: String, lateness: String): DataFrame =
    graft.operators.SkylineOps.skylineOf(events.withWatermark(tsCol, lateness),
        Seq(window(col(tsCol), windowLen).as("w")), dims)
      .select(col("w.start").as("w_start") +: dims.map(col): _*)
}
