package graft
/** Plan inspector: `runMain graft.Explain <sfDir> <query> [query...]` prints
  * each query's formatted plan (what a 1000-executor cluster would run). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq
    val spark = GraftSession(4, logLevel = "ERROR")
    val exec = sys.env.get("GRAFT_EXPLAIN_EXEC").contains("1")
    names.foreach { n =>
      println(s"===== $n =====")
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.explain("formatted")
      if (exec) { // run, then show the AQE final plan (with reused stages)
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
