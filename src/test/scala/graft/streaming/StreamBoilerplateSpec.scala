package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.TestSpark

/** Streaming semantics of [[StreamBoilerplate.flagBoilerSpans]]: an
  * instance flags iff its window text has now been carried by ≥ minDocs
  * DISTINCT documents — self-repeats never flag alone, sub-threshold
  * sharing never flags, flagging starts at the crossing document — and
  * the flagged-hash set agrees with the batch operator's boilerplate
  * span set (doc frequency ≥ minDocs ⇔ some instance flagged). */
class StreamBoilerplateSpec extends AnyFunSuite {

  private def ts(minOfDay: Int): java.sql.Timestamp =
    new java.sql.Timestamp(minOfDay * 60000L)

  private val tpl = "t1 t2 t3 t4 t5 t6 t7 t8"

  test("flags from the minDocs-th distinct doc on; self-repeats and pairs stay clean") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = StreamBoilerplate.flagBoilerSpans(
      stream.toDF.toDF("doc_id", "ts", "text"), "doc_id", "ts",
      8, 3, "10 minutes")
    val q = out.toDF.writeStream.format("memory").queryName("boiler_stream")
      .outputMode("append").start()
    try {
      // Batch 1: docs 1 and 2 carry the template (2 distinct docs — below
      // minDocs = 3); doc 5 repeats a DIFFERENT 8-token run twice inside
      // one document (distinct docs = 1 forever).
      stream.addData(
        (1L, ts(600), s"$tpl a1"),
        (2L, ts(600), s"b1 $tpl"),
        (5L, ts(600), "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8"))
      q.processAllAvailable()
      // Batch 2: doc 3 is the CROSSING document (3rd distinct carrier) —
      // its instance flags; docs 1/2's earlier copies streamed through.
      // Doc 6 re-repeats doc 5's run: still only 2 distinct docs.
      stream.addData(
        (3L, ts(605), s"c1 c2 $tpl"),
        (6L, ts(605), "r1 r2 r3 r4 r5 r6 r7 r8 z9"))
      q.processAllAvailable()
      // Batch 3: doc 4, past the threshold — flags too.
      stream.addData((4L, ts(606), s"$tpl d1 d2"))
      q.processAllAvailable()
      val got = spark.table("boiler_stream").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getBoolean(2)).toMap
      // Below-threshold carriers pass.
      assert(got((1L, 0)) == false && got((2L, 1)) == false)
      // Self-repeat never flags (1 distinct doc), nor the 2-doc run.
      assert((0 to 8).forall(p => got((5L, p)) == false))
      assert(got((6L, 0)) == false)
      // The crossing doc and everything after flag exactly the template.
      assert(got((3L, 2)) == true && Seq(0, 1).forall(p => got((3L, p)) == false))
      assert(got((4L, 0)) == true && Seq(1, 2).forall(p => got((4L, p)) == false))
      // Horizon eviction: advance the watermark far past the timeouts,
      // then replay the template — state is gone, the replay is doc #1
      // of a fresh count.
      stream.addData((90L, ts(700), "w1 w2 w3 w4 w5 w6 w7 w8"))
      q.processAllAvailable()
      stream.addData((7L, ts(701), s"$tpl f1"))
      q.processAllAvailable()
      val after = spark.table("boiler_stream").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getBoolean(2)).toMap
      assert(after((7L, 0)) == false,
        "evicted span state must restart the distinct-doc count")
    } finally q.stop()
  }

  test("batch-mode flagged hashes = the batch operator's boilerplate windows") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq(
      (1L, ts(0), s"$tpl x y"),
      (2L, ts(1), s"w $tpl"),
      (3L, ts(2), s"q1 q2 $tpl"),
      (4L, ts(3), "p1 p2 p3 p4 p5 p6 p7 p8 p1 p2 p3 p4 p5 p6 p7 p8"),
      (5L, ts(4), "all unique tokens here nine of them total okay"))
      .toDF("doc_id", "ts", "text")
    val flags = StreamBoilerplate
      .flagBoilerSpans(docs, "doc_id", "ts", 8, 3, "10 minutes")
      .collect().map(f => (f.doc_id, f.pos, f.boiler))
    val bp = graft.operators.DedupOps
      .boilerplateCoverage(docs, "doc_id", 8, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    graft.core.Caches.releaseAll()
    val flaggedPerDoc = flags.groupBy(_._1).view.mapValues(_.count(_._3)).toMap
    // The template crosses at doc 3 (ts order): batch marks docs 1-3's
    // copies (n_bp_windows = 1 each); the stream flags from doc 3 on.
    assert(bp(1L) == 1L && bp(2L) == 1L && bp(3L) == 1L)
    assert(flaggedPerDoc.getOrElse(1L, 0) == 0)
    assert(flaggedPerDoc.getOrElse(2L, 0) == 0)
    assert(flaggedPerDoc(3L) == 1)
    // Self-repeat doc and unique doc: clean in BOTH operators.
    assert(bp(4L) == 0L && flaggedPerDoc.getOrElse(4L, 0) == 0)
    assert(bp(5L) == 0L && flaggedPerDoc.getOrElse(5L, 0) == 0)
    // Hash-level parity: some instance flagged iff batch df >= minDocs —
    // here exactly the template windows, nothing else.
    assert(flags.count(_._3) == 1)
  }
}
