package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Empirical per-query decomposition (optimization guide §1): runs named
  * gate queries under the exact bench session config and prints, per rep,
  * the job list (duration) and per-stage task aggregates (task time, shuffle
  * read/write bytes, input bytes, spill) with the stage's callsite name —
  * the data that says whether a 5 s gate is one hot shuffle, forty tiny
  * round-trip jobs, or a scan. Bench-only; never part of a gate plan.
  *
  * Run: `sbt -batch "runMain graft.JobProbe <sfDir> <query> [query...]"`
  * (env: SPARK_GRAFT_CPUS, SPARK_GRAFT_PROBE_REPS, default 2).
  */
object JobProbe {

  private case class StageAgg(var name: String = "", var tasks: Int = 0,
                              var taskMs: Long = 0L, var cpuMs: Long = 0L,
                              var gcMs: Long = 0L,
                              var shRead: Long = 0L, var shWrite: Long = 0L,
                              var input: Long = 0L, var spill: Long = 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else Seq("graph_components")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "2").toInt
    val spark = GraftSession(GraftSession.cpus(32))

    case class Job(id: Int, start: Long, var end: Long = 0L,
                   stages: Seq[Int] = Nil)
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stages = mutable.LinkedHashMap[Int, StageAgg]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs(js.jobId) = Job(js.jobId, js.time,
            stages = js.stageInfos.map(_.stageId))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(je.jobId).foreach(_.end = je.time) }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          stages.getOrElseUpdate(sc.stageInfo.stageId, StageAgg())
            .name = sc.stageInfo.name
        }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        stages.synchronized {
          val a = stages.getOrElseUpdate(te.stageId, StageAgg())
          a.tasks += 1
          val m = te.taskMetrics
          if (m != null) {
            a.taskMs += m.executorRunTime
            a.cpuMs += m.executorCpuTime / 1000000L
            a.gcMs += m.jvmGCTime
            a.shRead += m.shuffleReadMetrics.totalBytesRead
            a.shWrite += m.shuffleWriteMetrics.bytesWritten
            a.input += m.inputMetrics.bytesRead
            a.spill += m.diskBytesSpilled
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    // Warm-up mirrors Bench: JVM/codegen/scan setup lands here.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    for (n <- names; rep <- 1 to reps) {
      jobs.synchronized(jobs.clear()); stages.synchronized(stages.clear())
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.operators.DedupOps.unpersistPipelines()
      spark.catalog.clearCache()
      // Drain the listener bus before reading aggregates: a fixed sleep is
      // racy on a loaded box (task/job-end events can still be in flight
      // after it, silently undercounting the very queries being probed), so
      // poll until the (job count, ended-job count, task count) triple is
      // stable across two consecutive reads, bounded at 5 s. The ended-job
      // count makes a job-end still in flight reset the check, so no job
      // is read with end = 0.
      def progress = (jobs.synchronized((jobs.size, jobs.values.count(_.end != 0))),
        stages.synchronized(stages.valuesIterator.map(_.tasks).sum))
      var drained = false
      var waitedMs = 0
      while (!drained && waitedMs < 5000) {
        val before = progress
        Thread.sleep(250); waitedMs += 250
        drained = before == progress
      }
      val js = jobs.synchronized(jobs.values.toSeq)
      val sumJobs = js.map(j => (j.end - j.start).max(0L)).sum / 1000.0
      println(f"===== $n rep$rep total $dt%.2f s, ${js.size} jobs " +
        f"(Σjob $sumJobs%.2f s) =====")
      js.sortBy(j => -(j.end - j.start)).take(12).foreach { j =>
        println(f"  job ${j.id}%4d ${(j.end - j.start) / 1000.0}%7.2f s " +
          f"stages=${j.stages.mkString(",")}")
      }
      val ss = stages.synchronized(stages.toSeq)
      println("  -- top stages by task time --")
      ss.sortBy(-_._2.taskMs).take(14).foreach { case (sid, a) =>
        println(f"  stage $sid%4d tasks=${a.tasks}%3d task=${a.taskMs / 1000.0}%7.2f s " +
          f"cpu=${a.cpuMs / 1000.0}%7.2f " +
          f"gc=${a.gcMs / 1000.0}%5.2f in=${mb(a.input)}%8s shR=${mb(a.shRead)}%8s " +
          f"shW=${mb(a.shWrite)}%8s spill=${mb(a.spill)}%6s  ${a.name.take(70)}")
      }
    }
    spark.stop()
  }
}
