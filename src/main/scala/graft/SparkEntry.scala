package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{Gate, PipelineQueries, SkylineQueries}
/** Driver contract — see SURVEY.md §7. Everything here derives from one gate
  * list: each gate's Spark query and its DuckDB oracle are declared together. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("sky2d")(spark, "/root/testdata/sf0.001")
  /** One gate per implemented operator from SURVEY.md §2. */
  lazy val gates: Seq[Gate] = unique(SkylineQueries.gates ++ PipelineQueries.gates)
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.run).toMap
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracle).toMap

  /** `gs` itself; throws, naming each, if a gate name is declared twice. */
  private[graft] def unique(gs: Seq[Gate]): Seq[Gate] = {
    val dups = gs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate name(s): ${dups.toSeq.sorted.mkString(", ")}")
    gs
  }

  /** The gate names a comma-separated list selects, as in SPARK_GRAFT_ONLY:
    * names are trimmed and empties dropped, and a list with no names selects
    * every gate. Throws, naming each, if a listed name is not a gate. */
  def select(only: String): Seq[String] = {
    val names = only.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
    val unknown = names.filterNot(gates.map(_.name).toSet)
    require(unknown.isEmpty, s"unknown gate name(s): ${unknown.mkString(", ")}")
    if (names.isEmpty) gates.map(_.name) else names
  }
}
