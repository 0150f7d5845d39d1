package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: Bench, Verify, Smoke, Explain, JobProbe, Scale
  * and the test suite all build their `SparkSession` here, so a measured
  * number and a checked result come from the same config.
  *
  * Config: `local[cpus]`, `shuffle.partitions = cpus`, UTC session time
  * zone, `parquet.nanosAsLong` (the sf tables carry nanosecond timestamps),
  * UI off. Streaming sessions (the stateful [[Scale]] families) also take
  * the state-store settings of [[StateStore]].
  */
object GraftSession {

  /** SPARK_GRAFT_CPUS, or `default` when unset. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  def apply(cpus: Int, logLevel: String = "WARN",
            streaming: Boolean = false): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (streaming) stateStore.confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** The streaming state-store settings, read from the env once.
    *
    * SPARK_GRAFT_STATE_PROVIDER=rocksdb swaps the default HDFS-backed
    * store, which keeps the whole key→value map on-heap and snapshots it
    * per maintenance interval (per-batch cost picks up an O(total state)
    * component as the horizon fills: the measured 5.7k→3.7k docs/s slide
    * of the sdedup family at 300k→1M), for RocksDB with changelog
    * checkpointing: per-batch work then tracks the batch's updates, not
    * the store size.
    *
    * SPARK_GRAFT_STATE_MAINT=<seconds> sets the maintenance interval. The
    * HDFS-backed provider's maintenance pass snapshots the whole in-memory
    * map (default every 60 s, so ~2 full 15.5M-row snapshots land inside
    * a 1M-doc sdedup ingest window, competing for the same cores); raising
    * the interval past the run length defers snapshotting to idle time —
    * the recovery-time-vs-ingest-throughput trade a deployment tunes.
    *
    * `provider` and `maintenance` (the effective interval with its unit)
    * describe the config in scale artifacts, so both are checked to be
    * JSON-safe here, before any hour-scale run. */
  final case class StateStore(provider: String, maintSec: Option[String]) {
    val maintenance: String = maintSec.map(_ + "s").getOrElse("60s")
    Seq("provider" -> provider, "maintenance_interval" -> maintenance).foreach {
      case (k, v) => require(v.matches("[A-Za-z0-9_.-]+"),
        s"$k value is not JSON-safe to interpolate: $v")
    }

    def confs: Seq[(String, String)] =
      (if (provider == "rocksdb") Seq(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
      else Nil) ++
        maintSec.map(s => "spark.sql.streaming.stateStore.maintenanceInterval" -> (s + "s"))
  }

  lazy val stateStore: StateStore = StateStore(
    sys.env.getOrElse("SPARK_GRAFT_STATE_PROVIDER", "default"),
    sys.env.get("SPARK_GRAFT_STATE_MAINT"))
}
