package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}

import graft.TestSpark
import graft.core.{GeoPartitioners, SkylineKernel}
import graft.streaming.StreamingSkyline.{GlobalState, LocalState, SkyEvent}

/** End-to-end streaming parity (SURVEY §7.4 q5 + caveats D5/D6 + the `-1`
  * fast-path), driven through MemoryStream micro-batches. The fixed clock
  * makes every timing field deterministic. */
class StreamingSkylineSpec extends AnyFunSuite {

  private val NPart = 4
  private val clock: () => Long = () => 1000L

  private def point(id: Long, v: Array[Double]): SkyEvent =
    SkyEvent(GeoPartitioners.dimPartition(v, 10000.0, NPart), isTrigger = false,
      id, v, "", 0L)

  private def gen(n: Int): IndexedSeq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(11)
    (0 until n).map(i => (i.toLong, Array(rnd.nextInt(10000).toDouble, rnd.nextInt(10000).toDouble)))
  }

  private def parse(json: String, field: String): String = {
    val m = ("\"" + field + "\": (\"?)([^,\"}]*)").r.findFirstMatchIn(json)
    m.map(_.group(2)).getOrElse(sys.error(s"$field not in $json"))
  }

  private def runQuery(stream: MemoryStream[SkyEvent])(feed: (=> Unit) => Unit): Seq[String] = {
    val spark = TestSpark.spark
    import spark.implicits._
    val out = StreamingSkyline(stream.toDS(), NPart, clock)
    val name = s"sky_stream_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try feed(q.processAllAvailable())
    finally q.stop()
    spark.table(name).as[String].collect().toSeq
  }

  test("snapshot at barrier N equals batch skyline of the first N records") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[SkyEvent]
    val pts = gen(500)
    val results = runQuery(stream) { sync =>
      stream.addData(pts.map { case (id, v) => point(id, v) })
      sync
      // barrier 450 is below every partition's max seen id (each of the 4
      // partitions receives some of ids 450..499 w.h.p.), so it is already
      // met when the trigger arrives in a later batch. The snapshot is the
      // skyline of ALL ingested records (cumulative state, D6) — the
      // barrier only gates execution, exactly like the reference.
      stream.addData(StreamingSkyline.fanOutTrigger("7,450", NPart, 123L))
      sync
    }
    assert(results.size == 1)
    val expected = SkylineKernel.skylineOf(ArrayBuffer(pts.map(_._2): _*)).size
    assert(parse(results.head, "skyline_size").toInt == expected)
    assert(parse(results.head, "query_id") == "7")
    assert(parse(results.head, "record_count") == "450")
    val opt = parse(results.head, "optimality").toDouble
    assert(opt >= 0.0 && opt <= 1.0)
    assert(!results.head.contains("query_latency_ms"), "D3: latency not emitted")
  }

  test("trigger parks behind the barrier and releases when data catches up") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[SkyEvent]
    val pts = gen(300)
    val (first, second) = pts.splitAt(100)
    val results = runQuery(stream) { sync =>
      stream.addData(first.map { case (id, v) => point(id, v) })
      sync
      stream.addData(StreamingSkyline.fanOutTrigger("1,250", NPart, 5L))
      sync // barrier 250 not met (max ids <= 99): no emission yet
      stream.addData(second.map { case (id, v) => point(id, v) })
      sync // data catches up: parked trigger fires
    }
    assert(results.size == 1)
    val expected = SkylineKernel.skylineOf(ArrayBuffer(pts.map(_._2): _*)).size
    assert(parse(results.head, "skyline_size").toInt == expected)
  }

  test("D5 immediate trigger + -1 fast-path: empty partitions answer at once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[SkyEvent]
    // no data at all; payload without comma => requiredCount 0; every
    // partition is untouched (-1 fast-path) => empty global skyline
    val results = runQuery(stream) { sync =>
      stream.addData(StreamingSkyline.fanOutTrigger("9", NPart, 1L))
      sync
    }
    assert(results.size == 1)
    assert(parse(results.head, "skyline_size").toInt == 0)
    assert(parse(results.head, "record_count") == "unknown")
    assert(parse(results.head, "optimality").toDouble == 0.0)
  }

  test("fromWire: raw CSV streams through the full topology, malformed rows dropped") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val pts = MemoryStream[String]
    val trg = MemoryStream[String]
    val rnd = new scala.util.Random(9)
    val raw = (0 until 200).map(i =>
      s"$i,${rnd.nextInt(10000)},${rnd.nextInt(10000)}")
    val name = s"sky_wire_${System.nanoTime()}"
    val n = NPart // local copy: the closure must not capture the spec class
    val out = StreamingSkyline.fromWire(
      pts.toDS().toDF("value"), trg.toDS().toDF("value"),
      v => graft.core.GeoPartitioners.dimPartition(v, 10000.0, n), n, clock)
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      pts.addData(raw ++ Seq("bogus-line", "7", "3,4,x")) // malformed: dropped
      q.processAllAvailable()
      trg.addData("1,150") // barrier below every partition's max id w.h.p.
      q.processAllAvailable()
    } finally q.stop()
    val results = spark.table(name).as[String].collect().toSeq
    assert(results.size == 1)
    val vecs = raw.map(_.split(",").drop(1).map(_.toDouble))
    val expected = SkylineKernel.skylineOf(ArrayBuffer(vecs: _*)).size
    assert(parse(results.head, "skyline_size").toInt == expected)
  }

  test("global latch accumulates across micro-batches (split release)") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[SkyEvent]
    val rnd = new scala.util.Random(5)
    def pts(pids: Seq[Int], ids: Range) = ids.flatMap(i => pids.map(p =>
      SkyEvent(p, isTrigger = false, i.toLong,
        Array(rnd.nextInt(10000).toDouble, rnd.nextInt(10000).toDouble), "", 0L)))
    val early = pts(Seq(0, 1), 0 until 100)  // pids 0,1 past the barrier
    val late1 = pts(Seq(2, 3), 0 until 20)   // pids 2,3 behind it
    val late2 = pts(Seq(2, 3), 20 until 100) // ...until this batch arrives
    val name = s"sky_stream_${System.nanoTime()}"
    val q = StreamingSkyline(stream.toDS(), NPart, clock)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      stream.addData(early ++ late1)
      q.processAllAvailable()
      stream.addData(StreamingSkyline.fanOutTrigger("4,50", NPart, 1L))
      q.processAllAvailable()
      // pids 0,1 answered; 2,3 parked — latch (2 of 4) must NOT emit yet
      assert(spark.table(name).count() == 0)
      stream.addData(late2)
      q.processAllAvailable()
    } finally q.stop()
    val results = spark.table(name).as[String].collect().toSeq
    assert(results.size == 1)
    val all = (early ++ late1 ++ late2).map(_.values)
    val expected = SkylineKernel.skylineOf(ArrayBuffer(all: _*)).size
    assert(parse(results.head, "skyline_size").toInt == expected)
  }

  test("D7: -1 fast-path answers for untouched partitions ahead of late data") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[SkyEvent]
    val rnd = new scala.util.Random(13)
    // Data lands ONLY in pids 0 and 1; 2 and 3 never see a record. A
    // barrier trigger met by 0/1 must emit after ONE batch — the untouched
    // partitions answer via the -1 fast-path (FlinkSkyline.java:342-355)
    // instead of parking the latch until data eventually shows up there.
    val pts = (0 until 120).map(i => SkyEvent(i % 2, isTrigger = false, i.toLong,
      Array(rnd.nextInt(10000).toDouble, rnd.nextInt(10000).toDouble), "", 0L))
    val results = runQuery(stream) { sync =>
      stream.addData(pts)
      sync
      stream.addData(StreamingSkyline.fanOutTrigger("6,100", NPart, 2L))
      sync // all four partitions answer in this batch: 0/1 barrier-met, 2/3 fast-path
    }
    assert(results.size == 1)
    val expected = SkylineKernel.skylineOf(ArrayBuffer(pts.map(_.values): _*)).size
    assert(parse(results.head, "skyline_size").toInt == expected)
    assert(parse(results.head, "query_id") == "6")
    // Optimality still divides by the FIXED partition count (D4): only the
    // two reporting partitions contribute ratios <= 1 each.
    assert(parse(results.head, "optimality").toDouble <= 0.5)
  }

  test("checkpoint recovery: state (skylines + barriers) survives a restart") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[SkyEvent]
    val pts = gen(300)
    val ckpt = java.nio.file.Files.createTempDirectory("sky_ckpt_").toString
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[String]
    def start() = StreamingSkyline(stream.toDS(), NPart, clock)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[String], _: Long) =>
        batch.collect().foreach(sink.add)
      }
      .start()
    // Phase 1: ingest everything, commit the batch, then KILL the query
    // before any trigger arrives — the cumulative local skylines and id
    // high-water marks exist only in the state store now.
    val q1 = start()
    try { stream.addData(pts.map { case (id, v) => point(id, v) }); q1.processAllAvailable() }
    finally q1.stop()
    assert(sink.isEmpty)
    // Phase 2: restart from the checkpoint and query. The barrier (250) is
    // only satisfiable from RESTORED state — the restarted query never
    // re-reads the phase-1 batch (its offsets are committed).
    val q2 = start()
    try { stream.addData(StreamingSkyline.fanOutTrigger("11,250", NPart, 3L)); q2.processAllAvailable() }
    finally q2.stop()
    val results = sink.toArray(Array.empty[String]).toSeq
    assert(results.size == 1)
    val expected = SkylineKernel.skylineOf(ArrayBuffer(pts.map(_._2): _*)).size
    assert(parse(results.head, "skyline_size").toInt == expected)
    assert(parse(results.head, "query_id") == "11")
    assert(parse(results.head, "record_count") == "250")
  }

  test("D6: local skylines are cumulative — second query sees all data") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[SkyEvent]
    val pts = gen(400)
    val (first, second) = pts.splitAt(200)
    val results = runQuery(stream) { sync =>
      stream.addData(first.map { case (id, v) => point(id, v) })
      stream.addData(StreamingSkyline.fanOutTrigger("1,150", NPart, 1L))
      sync
      stream.addData(second.map { case (id, v) => point(id, v) })
      stream.addData(StreamingSkyline.fanOutTrigger("2,350", NPart, 2L))
      sync
    }
    assert(results.size == 2)
    val byQid = results.map(r => parse(r, "query_id") -> r).toMap
    val exp1 = SkylineKernel.skylineOf(ArrayBuffer(first.map(_._2): _*)).size
    val expAll = SkylineKernel.skylineOf(ArrayBuffer(pts.map(_._2): _*)).size
    assert(parse(byQid("1"), "skyline_size").toInt == exp1)
    assert(parse(byQid("2"), "skyline_size").toInt == expAll)
  }

  test("a repeated trigger payload gets one record per trigger, in one micro-batch or two") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val pts = gen(500).map { case (id, v) => point(id, v) }
    def trigger = StreamingSkyline.fanOutTrigger("7,450", NPart, 123L)
    val layouts = Seq(
      "one micro-batch" -> Seq(pts, trigger ++ trigger),
      "two micro-batches" -> Seq(pts, trigger, trigger))
    val expected = SkylineKernel.skylineOf(ArrayBuffer(gen(500).map(_._2): _*)).size
    val records = layouts.map { case (name, batches) =>
      val stream = MemoryStream[SkyEvent]
      val got = runQuery(stream) { sync => batches.foreach { b => stream.addData(b); sync } }
      assert(got.size == 2, s"$name: $got")
      got.foreach(r => assert(parse(r, "skyline_size").toInt == expected, s"$name: $r"))
      name -> got.map(r => (parse(r, "query_id"), parse(r, "skyline_size"),
        parse(r, "optimality")))
    }
    // Both layouts: two equal records, each the single trigger's answer.
    assert(records.map(_._2).distinct.size == 1, records)
    assert(records.head._2.distinct.size == 1, records)
  }

  test("stream records agree with the batch triggerCadence records on every prefix") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val pts = gen(600)
    val barriers = Seq(199L, 399L, 599L)
    val stream = MemoryStream[SkyEvent]
    val got = runQuery(stream) { sync =>
      barriers.zipWithIndex.foldLeft(0L) { case (lo, (b, i)) =>
        stream.addData(pts.filter { case (id, _) => id >= lo && id <= b }
          .map { case (id, v) => point(id, v) })
        sync
        stream.addData(StreamingSkyline.fanOutTrigger(s"${i + 1},0", NPart, 1L))
        sync
        b + 1
      }
    }
    val df = pts.map { case (id, v) => (id, v(0), v(1)) }.toDF("id", "x", "y")
    val pid = graft.operators.SkylineOps.dimPartitionCol(
      org.apache.spark.sql.functions.array($"x", $"y"), 10000.0, NPart)
    val want = graft.operators.SkylineOps.triggerCadence(df, "id", Seq("x", "y"), pid,
      NPart, barriers).as[String].collect().toSeq
    def key(json: String) = Seq("query_id", "skyline_size", "optimality").map(parse(json, _))
    assert(got.map(key).sortBy(_.head) == want.map(key), s"stream $got\nbatch $want")
  }

  /** The two-operator topology the fused operator replaced, replayed on the
    * driver: per micro-batch, [[StreamingSkyline.localFn]] per pid that has
    * events, then [[StreamingSkyline.globalFn]] per payload with arrivals,
    * each over its own key's state. Returns each batch's records. */
  private def twoOperatorReference(batches: Seq[Seq[SkyEvent]]): Seq[Seq[String]] = {
    def groupState[S](prev: Option[S]) = TestGroupState.create[S](
      prev.fold(Optional.empty[S]())(Optional.of(_)),
      GroupStateTimeout.NoTimeout, 0L, Optional.empty[Long](), false)
    val locals = scala.collection.mutable.Map.empty[Int, LocalState]
    val globals = scala.collection.mutable.Map.empty[String, GlobalState]
    batches.map { batch =>
      val results = batch.groupBy(_.pid).toSeq.flatMap { case (pid, evs) =>
        val st = groupState(locals.get(pid))
        val out = StreamingSkyline.localFn(clock)(pid, evs.iterator, st).toList
        locals(pid) = st.get
        out
      }
      results.groupBy(_.payload).toSeq.flatMap { case (payload, rs) =>
        val st = groupState(globals.get(payload))
        val out = StreamingSkyline.globalFn(NPart, clock)(payload, rs.iterator, st).toList
        if (st.exists) globals(payload) = st.get else globals -= payload
        out
      }
    }
  }

  test("one stateful operator == the two-operator topology over random batches") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def key(json: String) = Seq("query_id", "record_count", "skyline_size",
      "optimality").map(parse(json, _))
    var parkedAcross = 0
    (1 to 4).foreach { trial =>
      val rnd = new scala.util.Random(100 + trial)
      // A random subset of pids ever sees data, so triggers also take the
      // -1 fast path; each batch feeds a random subset of those, so a
      // barrier can be met at some pids and parked at others.
      val active = rnd.shuffle((0 until NPart).toList).take(1 + rnd.nextInt(NPart))
      val n = 400 + rnd.nextInt(400)
      val cuts = (0 +: Seq.fill(2 + rnd.nextInt(3))(rnd.nextInt(n)).sorted :+ n).distinct
      val sentIn = scala.collection.mutable.Map.empty[String, Int]
      val batches = cuts.sliding(2).zipWithIndex.map { case (Seq(lo, hi), b) =>
        val fed = rnd.shuffle(active).take(1 + rnd.nextInt(active.size))
        // Duplicate-heavy 2-D integer points near an anti-diagonal: most of
        // a frontier is repeated copies, so multiplicities decide sizes.
        val pts = (lo until hi).map { i =>
          val x = rnd.nextInt(12)
          SkyEvent(fed(rnd.nextInt(fed.size)), isTrigger = false, i.toLong,
            Array(x.toDouble, (12 - x + rnd.nextInt(3)).toDouble), "", 0L)
        }
        // Up to 3 triggers whose barrier is already met, met inside this
        // batch, met in a later batch, or never met; the last batch also
        // queries everything ingested (D5).
        val qids = Seq.tabulate(rnd.nextInt(4))(q => s"$trial-$b-$q") ++
          (if (hi == n) Seq(s"$trial-last") else Nil)
        val trig = qids.flatMap { qid =>
          sentIn(qid) = b
          val payload = if (qid.endsWith("last")) qid else rnd.nextInt(5) match {
            case 0 => qid
            case 1 => s"$qid,${rnd.nextInt(math.max(1, hi))}"
            case 2 => s"$qid,${lo + rnd.nextInt(math.max(1, hi - lo))}"
            case 3 => s"$qid,${hi + rnd.nextInt(n - hi + 1)}"
            case _ => s"$qid,${n + 10}"
          }
          StreamingSkyline.fanOutTrigger(payload, NPart, 7L)
        }
        rnd.shuffle(pts ++ trig)
      }.toSeq
      val stream = MemoryStream[SkyEvent](3)
      val got = runQuery(stream) { sync =>
        batches.foreach { b => stream.addData(b); sync }
      }
      val expected = twoOperatorReference(batches)
      parkedAcross += expected.zipWithIndex.count { case (rs, b) =>
        rs.exists(r => sentIn(parse(r, "query_id")) < b) }
      assert(got.map(key).sortBy(_.head) == expected.flatten.map(key).sortBy(_.head),
        s"trial $trial")
    }
    assert(parkedAcross > 0, "no latch was parked across batches")
  }

  test("plan shape: one stateful operator behind one shuffle") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[SkyEvent]
    val q = StreamingSkyline(stream.toDS(), NPart, clock)
      .writeStream.format("memory").queryName(s"sky_plan_${System.nanoTime()}")
      .outputMode("append").start()
    val plan = try {
      stream.addData(gen(50).map { case (id, v) => point(id, v) })
      q.processAllAvailable()
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    } finally q.stop()
    val stateful = plan.collect {
      case p if p.getClass.getSimpleName == "FlatMapGroupsWithStateExec" => p }
    val shuffles = plan.collect { case p: ShuffleExchangeLike => p }
    assert(stateful.size == 1, plan.treeString)
    assert(shuffles.size == 1, plan.treeString)
  }
}
