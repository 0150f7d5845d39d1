package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** O24 parity: the metrics-collector sink
  * (`python/metrics_collector.py:38-128`) — consume emitted JSON result
  * records, flatten to the collector's CSV column layout, append to a file
  * sink. `Latency(ms)` defaults to 0 because the emitted record omits
  * `query_latency_ms` (divergence D3), and `SkylinePoints` defaults to `[]`
  * because point serialization is disabled in the reference.
  */
object MetricsCollector {

  private val emittedSchema = StructType(Seq(
    StructField("query_id", StringType),
    StructField("record_count", StringType),
    StructField("skyline_size", LongType),
    StructField("optimality", DoubleType),
    StructField("ingestion_time_ms", LongType),
    StructField("local_processing_time_ms", LongType),
    StructField("global_processing_time_ms", LongType),
    StructField("total_processing_time_ms", LongType),
    StructField("query_latency_ms", LongType),
    StructField("skyline_points", StringType)))

  /** JSON records → the collector's CSV columns (headers
    * `metrics_collector.py:60-71`). */
  def toRows(metrics: DataFrame, jsonCol: String = "value"): DataFrame =
    metrics
      .select(from_json(col(jsonCol), emittedSchema).as("m"))
      .select(
        col("m.query_id").as("QueryID"),
        col("m.record_count").as("Records"),
        col("m.skyline_size").as("SkylineSize"),
        col("m.optimality").as("Optimality"),
        coalesce(col("m.ingestion_time_ms"), lit(0L)).as("IngestTime(ms)"),
        coalesce(col("m.local_processing_time_ms"), lit(0L)).as("LocalTime(ms)"),
        coalesce(col("m.global_processing_time_ms"), lit(0L)).as("GlobalTime(ms)"),
        coalesce(col("m.total_processing_time_ms"), lit(0L)).as("TotalTime(ms)"),
        coalesce(col("m.query_latency_ms"), lit(0L)).as("Latency(ms)"),
        coalesce(col("m.skyline_points"), lit("[]")).as("SkylinePoints"))

  /** Batch append (the collector's `mode='a'` CSV). */
  def appendBatch(metrics: DataFrame, path: String, jsonCol: String = "value"): Unit =
    toRows(metrics, jsonCol).write.mode("append").option("header", "true").csv(path)
}
