package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession(GraftSession.cpus(4))
    new java.io.File(outDir).mkdirs()
    // Write the oracle file FIRST: if a mid-dump timeout kills the run, the
    // driver still has a parseable oracle_sql.json for the queries that did
    // land (r14's correctness artifact arrived empty; never again).
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    // Optional comma-separated filter for local iteration (same contract as
    // Bench's SPARK_GRAFT_ONLY); the driver leaves it unset and dumps all.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      graft.operators.DedupOps.unpersistPipelines() // free dedup caches
      spark.catalog.clearCache() // plus anything else query-persisted
    }
    spark.stop()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The full oracle_sql.json payload; exposed so a spec can round-trip it
    * through a strict JSON parser (Jackson) without running a Spark job. */
  def oracleJson: String = SparkEntry.oracleSql
    .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
}
