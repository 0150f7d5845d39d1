package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class IndexOpsSpec extends AnyFunSuite {

  private def corpus() = {
    val spark = TestSpark.spark
    import spark.implicits._
    Seq(
      (1L, "red blue red"),
      (2L, "blue green"),
      (3L, "red red red blue"),
      (4L, "green"),
      (5L, "red  blue") // double space → empty token must drop
    ).toDF("doc_id", "text")
  }

  test("postings: df/cf exact, sample capped to the lowest doc_ids") {
    val got = IndexOps.postings(corpus(), "doc_id", minDf = 2L, cap = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    // red: docs {1,3,5} df=3 cf=2+3+1=6, sample "1,3" (cap 2)
    // blue: docs {1,2,3,5} df=4 cf=4, sample "1,2"
    // green: df=2 cf=2, sample "2,4"
    assert(got == Set(
      ("red", 3L, 6L, "1,3"),
      ("blue", 4L, 4L, "1,2"),
      ("green", 2L, 2L, "2,4")))
  }

  test("minDf drops rare tokens") {
    val toks = IndexOps.postings(corpus(), "doc_id", minDf = 4L, cap = 2)
      .collect().map(_.getString(0)).toSet
    assert(toks == Set("blue"))
  }

  test("bm25: hand-computed integer scores, saturation + length normalization") {
    // Corpus: dl = 3, 2, 4, 1 (doc5's double space drops the empty token →
    // dl 2); N = 5, T = 12. Query {red, green}: df(red) = 3 →
    // idf = bitlen((4·5)//7) − 1 = bitlen(2) − 1 = 1; df(green) = 2 →
    // idf = bitlen(20//5) − 1 = bitlen(4) − 1 = 2.
    // contrib = idf·44·T·tf·1000 // (20·T·tf + 6·T + 18·dl·N)
    def contrib(idf: Long, tf: Long, dl: Long): Long =
      idf * 44 * 12 * tf * 1000 / (20 * 12 * tf + 6 * 12 + 18 * dl * 5)
    val exp = Map(
      1L -> contrib(1, 2, 3),                      // red tf=2
      2L -> (contrib(2, 1, 2)),                    // green tf=1
      3L -> contrib(1, 3, 4),                      // red tf=3
      4L -> contrib(2, 1, 1),                      // green tf=1
      5L -> contrib(1, 1, 2))                      // red tf=1
    val got = IndexOps.bm25(corpus(), "doc_id", Seq("red", "green"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(r => r._1 -> r._2).toMap == exp)
    // Ranks follow (score desc, doc_id asc) exactly.
    val order = exp.toSeq.sortBy { case (id, sc) => (-sc, id) }.map(_._1)
    assert(got.sortBy(_._3).map(_._1).toSeq == order)
  }

  test("bm25: topN cuts the ranking, rarer term outweighs a common one") {
    // green (df 2) carries a higher idf than blue (df 4, idf = bitlen(20//9)
    // − 1 = 1): at equal tf and dl the green doc must outrank the blue one.
    val top2 = IndexOps.bm25(corpus(), "doc_id", Seq("blue", "green"), 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    // doc2 "blue green" holds both terms — rank 1; doc4 "green" (short,
    // high-idf term) outranks every blue-only doc — rank 2.
    assert(top2.keySet == Set(2L, 4L) && top2(2L) == 1L && top2(4L) == 2L)
  }

  test("rrfFuse: hand-computed integer fusion, agreement dominates, ties break on id") {
    val spark = TestSpark.spark
    import spark.implicits._
    def contrib(r: Long) = 1000000000L / (60L + r)
    // List A ranks 10,20,30; list B ranks 20,40,10 — doc 20 (ranks 2+1)
    // and doc 10 (1+3) appear in both, 30/40 in one each.
    val a = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rnk")
    val b = Seq((20L, 1L), (40L, 2L), (10L, 3L)).toDF("id", "rnk")
    val got = IndexOps.rrfFuse(Seq(a, b), "id", "rnk", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val exp = Map(
      10L -> (contrib(1) + contrib(3), 2L),
      20L -> (contrib(2) + contrib(1), 2L),
      30L -> (contrib(3), 1L),
      40L -> (contrib(2), 1L))
    assert(got.map(r => r._1 -> ((r._2, r._3))).toMap == exp)
    val order = exp.toSeq.sortBy { case (id, (s, _)) => (-s, id) }.map(_._1)
    assert(got.sortBy(_._4).map(_._1).toSeq == order)
    // k cuts after fusion: the two both-list docs fill a top-2 request.
    val top2 = IndexOps.rrfFuse(Seq(a, b), "id", "rnk", 2)
      .collect().map(_.getLong(0)).toSet
    assert(top2 == Set(10L, 20L))
  }

  test("indexModel consumers equal the one-shot operators row-for-row") {
    graft.core.Caches.scoped {
      val docs = corpus()
      val m = IndexOps.indexModel(docs, "doc_id")
      assert(m.nDocs == 5L)
      val bmFrom = IndexOps.bm25From(m, Seq("red", "green"), 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val bm = IndexOps.bm25(docs, "doc_id", Seq("red", "green"), 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(bmFrom == bm, s"bm25From != bm25: $bmFrom vs $bm")
      val cjFrom = IndexOps.conjunctiveFrom(m, Seq("red", "blue"), 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val cj = IndexOps.conjunctive(docs, "doc_id", Seq("red", "blue"), 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cjFrom == cj, s"conjunctiveFrom != conjunctive: $cjFrom vs $cj")
      val poFrom = IndexOps.postingsFrom(m, 2L, 2).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSet
      val po = IndexOps.postings(docs, "doc_id", 2L, 2).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSet
      assert(poFrom == po, s"postingsFrom != postings: $poFrom vs $po")
    }
  }

  test("bm25From scores in 64-bit when 20·T passes Int.MaxValue") {
    // T = 2·10⁸ tokens: 20·T and 6·T overflow 32-bit arithmetic, so the
    // model's statistics must enter the plan as 64-bit values. Same
    // corpus postings and lengths as above, only T replaced.
    graft.core.Caches.scoped {
      val m0 = IndexOps.indexModel(corpus(), "doc_id")
      val t = 200000000L
      val m = m0.copy(tTotal = t)
      def contrib(idf: Long, tf: Long, dl: Long): Long =
        idf * 44 * t * tf * 1000 / (20 * t * tf + 6 * t + 18 * dl * 5)
      val exp = Map(1L -> contrib(1, 2, 3), 2L -> contrib(2, 1, 2),
        3L -> contrib(1, 3, 4), 4L -> contrib(2, 1, 1), 5L -> contrib(1, 1, 2))
      val got = IndexOps.bm25From(m, Seq("red", "green"), 10).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == exp)
    }
  }

  test("conjunctive: all terms required, per-term tf threshold applies") {
    // red AND blue: docs 1 (2+1), 3 (3+1), 5 (1+1) — doc2 has no red.
    val got = IndexOps.conjunctive(corpus(), "doc_id",
        Seq("red", "blue"), minTf = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 3L), (3L, 4L), (5L, 2L)))
    val strict = IndexOps.conjunctive(corpus(), "doc_id",
        Seq("red", "blue"), minTf = 2L)
      .collect().map(_.getLong(0)).toSet
    assert(strict == Set.empty) // no doc has blue twice
  }
}
