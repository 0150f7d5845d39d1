package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole (forked) test JVM — never stopped;
  * the JVM exit tears it down. Built by the same factory as the mains. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(8)
}
