package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.TestSpark

/** Streaming semantics of [[StreamSubstrDedup.flagDupSpans]]: first
  * occurrence of a window text passes unflagged; later copies — across
  * batches, within a batch, and within one document — flag dup; and the
  * flagged-hash set agrees with the batch operator's duplicated-window
  * set (count ≥ 2 ⇔ some instance flagged). */
class StreamSubstrDedupSpec extends AnyFunSuite {

  private def ts(minOfDay: Int): java.sql.Timestamp =
    new java.sql.Timestamp(minOfDay * 60000L)

  private val boiler = "b1 b2 b3 b4 b5 b6 b7 b8"

  test("cross-batch, within-batch, and self-repeat copies flag; firsts pass") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = StreamSubstrDedup.flagDupSpans(
      stream.toDF.toDF("doc_id", "ts", "text"), "doc_id", "ts",
      8, "10 minutes")
    val q = out.toDF.writeStream.format("memory").queryName("substr_stream")
      .outputMode("append").start()
    try {
      // Batch 1: doc 1 carries the boilerplate; doc 2 is unique; doc 3
      // repeats doc 1's text VERBATIM in the same batch (doc 1 wins by id
      // order); doc 5 self-repeats an 8-token run.
      stream.addData(
        (1L, ts(600), s"$boiler tail1"),
        (2L, ts(600), "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
        (3L, ts(600), s"$boiler tail1"),
        (5L, ts(600), "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8"))
      q.processAllAvailable()
      // Batch 2: doc 4 splices the batch-1 boilerplate into fresh text.
      stream.addData((4L, ts(605), s"pre1 pre2 $boiler post1"))
      q.processAllAvailable()
      val got = spark.table("substr_stream").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getBoolean(2)).toMap
      // doc 1: both windows first occurrences.
      assert(got((1L, 0)) == false && got((1L, 1)) == false)
      // doc 2: all unique.
      assert((0 to 1).forall(p => got((2L, p)) == false))
      // doc 3: verbatim in-batch copy — every window flagged.
      assert(got((3L, 0)) == true && got((3L, 1)) == true)
      // doc 5: the second copy of r1..r8 starts at pos 8 — flagged;
      // the first (pos 0) passes; the straddling windows are unique.
      assert(got((5L, 0)) == false && got((5L, 8)) == true)
      assert((1 to 7).forall(p => got((5L, p)) == false))
      // doc 4 (later batch): exactly its boilerplate window (pos 2) flags.
      assert(got((4L, 2)) == true)
      assert(Seq(0, 1, 3).forall(p => got((4L, p)) == false))
      // Horizon eviction (the bounded-state trade): push the watermark far
      // past every span's timeout, then replay the boilerplate — state is
      // gone, the replay passes unflagged as NEW.
      stream.addData((90L, ts(700), "advance advance2 a3 a4 a5 a6 a7 a8"))
      q.processAllAvailable()
      stream.addData((6L, ts(701), s"$boiler fresh1"))
      q.processAllAvailable()
      val after = spark.table("substr_stream").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getBoolean(2)).toMap
      assert(after((6L, 0)) == false,
        "evicted span state must re-admit the text as new")
    } finally q.stop()
  }

  test("batch-mode flagged hashes = the batch operator's duplicated windows") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq(
      (1L, ts(0), s"$boiler x y z"),
      (2L, ts(1), s"w $boiler q"),
      (3L, ts(2), "all unique tokens here nine of them total okay"))
      .toDF("doc_id", "ts", "text")
    val flags = StreamSubstrDedup.flagDupSpans(docs, "doc_id", "ts", 8, "10 minutes")
      .collect().map(f => (f.doc_id, f.pos, f.dup))
    // Batch relation to duplicatedSpanCoverage: a window text is
    // duplicated (count >= 2) iff SOME instance is flagged; per doc, the
    // batch operator's n_dup_windows >= the stream's flagged count (all
    // copies vs all-but-first).
    val cov = graft.operators.DedupOps
      .duplicatedSpanCoverage(docs, "doc_id", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    graft.core.Caches.releaseAll()
    val flaggedPerDoc = flags.groupBy(_._1).view.mapValues(_.count(_._3)).toMap
    // Boilerplate window: doc 1 holds the first copy (ts order) -> doc 2's
    // copy flags; doc 3 flags nothing.
    assert(flaggedPerDoc.getOrElse(1L, 0) == 0)
    assert(flaggedPerDoc(2L) == 1 && cov(2L) == 1L)
    assert(flaggedPerDoc.getOrElse(3L, 0) == 0 && cov(3L) == 0L)
    // The all-copies vs all-but-first relation: batch counts exceed
    // stream flags by exactly the number of distinct duplicated hashes
    // whose first copy lives in the doc.
    assert(cov(1L) == 1L, "batch marks the first copy too")
  }
}
