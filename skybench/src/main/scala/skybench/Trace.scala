package skybench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Minimal JSON writer for the result line, the run record and the span
  * dump (Map, Seq, String, numbers, Boolean, Option, null). */
object Json {
  def str(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => str(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => str(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + str(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(str).mkString("[", ",", "]")
    case a: Array[_] => str(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Order statistics for the latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it (the value
    * with exactly ten larger-ranked samples), and that percentile. Below 20
    * samples that percentile is under the median, so the tail is then the
    * median itself (percentile 50): a run that small reports p50 only. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.length
    if (n < 20) (median(xs), 50.0)
    else (xs.sorted.apply(n - 11), 100.0 * (n - 10) / n)
  }
}

/** In-memory span recorder for the traced run. A span carries name, start,
  * end, parent and query id; the per-layer self time is the span's duration
  * minus the part its child spans cover. Spans are only recorded when
  * enabled, and only from the benchmark's own files (around calls into the
  * engine's public functions) plus the Spark job spans [[SparkProbe]] adds. */
object Tracer {
  final case class Span(id: Int, parent: Int, name: String, query: String,
                        startNs: Long, var endNs: Long)
}

final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val queryOf = new ThreadLocal[String] {
    override def initialValue(): String = ""
  }

  private def open(name: String, parent: Int, query: String, start: Long): Span =
    spans.synchronized {
      val s = Span(spans.length, parent, name, query, start, -1L)
      spans += s
      s
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(name, stack.get.headOption.getOrElse(-1), queryOf.get,
        System.nanoTime())
      stack.set(s.id :: stack.get)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(stack.get.tail)
      }
    }

  /** Root span of one query; `body` may run on another thread (BenchGuard),
    * so it gets [[adopt]] to hang its spans below this one. */
  def query[T](qid: String)(body: Int => T): T =
    if (!enabled) body(-1)
    else {
      val prev = queryOf.get
      queryOf.set(qid)
      try span("query") { body(stack.get.head) } finally queryOf.set(prev)
    }

  /** Run `body` on this thread as a child of span `parent` of query `qid`. */
  def adopt[T](parent: Int, qid: String)(body: => T): T =
    if (!enabled) body
    else {
      stack.set(List(parent)); queryOf.set(qid)
      try body finally { stack.set(Nil); queryOf.set("") }
    }

  /** A finished span recorded from outside (Spark job start/end times). */
  def external(name: String, parent: Int, query: String, startNs: Long,
               endNs: Long): Unit =
    if (enabled) open(name, parent, query, startNs).endNs = endNs

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per span name, in ms: duration minus the union of child
    * intervals (children clipped to the parent). */
  def selfMs: Map[String, Double] = {
    val ss = all.filter(_.endNs >= 0)
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((acc, hi), (a, b)) =>
            if (b <= hi) (acc, hi)
            else (acc + b - math.max(a, hi), b)
          }._1
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def dump(path: java.nio.file.Path): Unit = {
    val t0 = all.map(_.startNs).minOption.getOrElse(0L)
    val rows = all.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "query" -> s.query,
      "start_us" -> (s.startNs - t0) / 1000, "end_us" -> (s.endNs - t0) / 1000))
    java.nio.file.Files.writeString(path, Json.str(rows))
  }
}

/** Spark's public listener over every job of the traced run: task metrics
  * summed into the `spark.*` layer counters, and one `spark.job` span per
  * job, parented to the query whose BenchGuard job group submitted it. */
final class SparkProbe(tracer: Tracer, cores: Int) extends SparkListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  // job group -> (query span id, query id), registered by the runner
  val groups = new java.util.concurrent.ConcurrentHashMap[String, (Int, String)]()
  @volatile var recording = false

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (recording) {
      add("spark.jobs", 1)
      add("spark.stages", e.stageInfos.size)
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStart(e.jobId) = (e.time, g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, g) =>
      // Listener times are wall-clock ms; map them onto the nanoTime axis.
      val off = System.nanoTime() - System.currentTimeMillis() * 1000000L
      // BenchGuard suffixes the group with "#<attempt>"
      val (parent, qid) = Option(groups.get(g.takeWhile(_ != '#'))).getOrElse((-1, ""))
      tracer.external("spark.job", parent, qid, t0 * 1000000L + off,
        e.time * 1000000L + off)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (recording && m != null) {
      add("spark.tasks", 1)
      add("spark.task_ms", m.executorRunTime)
      add("spark.executor_cpu_ms", m.executorCpuTime / 1e6)
      add("spark.gc_ms", m.jvmGCTime)
      add("spark.scan_input_bytes", m.inputMetrics.bytesRead)
      add("spark.scan_input_rows", m.inputMetrics.recordsRead)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spark.shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  /** Wait until every recorded job's end event has been delivered (the
    * listener bus is asynchronous), bounded at 5 s. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var stable = 0
    while (stable < 2 && System.nanoTime() < deadline) {
      Thread.sleep(20)
      if (synchronized(jobStart.isEmpty)) stable += 1 else stable = 0
    }
  }

  def reset(): Unit = synchronized {
    c.clear(); stageTasks.clear()
  }

  /** The `spark.*` counters of everything recorded since [[reset]]; `wallMs`
    * is the wall time they were recorded over (for core_busy_frac). */
  def counters(wallMs: Double): Map[String, Double] = synchronized {
    // widest stage = most tasks (ties: most task time)
    val widest = stageTasks.values.filter(_.size >= 2)
      .maxByOption(ts => (ts.size, ts.sum))
    val skew = widest.map { ts =>
      ts.max.toDouble / math.max(1.0, Stats.median(ts.map(_.toDouble).toSeq))
    }.getOrElse(1.0)
    val names = Seq("spark.scan_input_bytes", "spark.scan_input_rows",
      "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
      "spark.shuffle_fetch_wait_ms", "spark.spill_bytes", "spark.jobs",
      "spark.stages", "spark.tasks", "spark.executor_cpu_ms", "spark.gc_ms")
    names.map(k => k -> c(k)).toMap ++ Map(
      "spark.core_busy_frac" -> c("spark.task_ms") / math.max(1.0, wallMs * cores),
      "spark.task_skew" -> skew)
  }
}
