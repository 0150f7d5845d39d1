package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle gate: the operator's Spark query over an sf directory, and the
  * DuckDB SQL over the same parquet tables that must return the same rows.
  * Declaring both in one record keeps a gate from having a query without an
  * oracle or an oracle without a query. */
final case class Gate(name: String, run: (SparkSession, String) => DataFrame,
                      oracle: String)
