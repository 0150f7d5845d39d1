package graft
/** Local smoke: runs SparkEntry.entry exactly as the driver's t1 check does
  * (rows > 0 on sf0.001). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(4, logLevel = "ERROR")
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    assert(n > 0, "entry() returned no rows")
    spark.stop()
  }
}
