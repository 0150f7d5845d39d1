package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.TestSpark
import graft.operators.DedupOps

/** `graft_minhash_bands` and `graft_shingle_overlap` against the
  * shingle-table references they replace in the MinHash operators:
  * [[DedupOps.bandedKeys]] over [[DedupOps.rawShingleRows]] for the band
  * keys, [[DedupOps.pairIntersections]] + [[DedupOps.shingleSizes]] for
  * the overlap — each on the interpreted and on the codegen path. */
class MinhashBandsExprSpec extends AnyFunSuite {

  private val spark = TestSpark.spark

  /** Texts the tokenizer treats unevenly: empty, null, shorter than n,
    * runs of spaces (empty tokens), leading/trailing spaces, non-ASCII,
    * repeated shingles. */
  private val edgeTexts: Seq[String] = Seq(
    "", null, "a", "a b", "  ", "a  b  c  d", " lead trail ", "x y z ",
    "é ü ñ 日本 語 😀 é ü ñ", "rep rep rep rep rep rep", "a b a b a b a b",
    "same words here", "same words here")

  /** A seeded corpus over a small vocabulary (so shingles collide across
    * documents), the edge texts, and near-copies of some documents. */
  private def corpus(seed: Int, size: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("a", "bb", "ccc", "d", "", "é", "日本", "x", "y", "z")
    val random = (0 until size).map(_ =>
      Seq.fill(rnd.nextInt(16))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val near = random.take(size / 4).map { t =>
      val w = t.split(" ", -1)
      if (w.length > 4) w.updated(rnd.nextInt(w.length), "zz").mkString(" ") else t
    }
    (random ++ edgeTexts ++ near).zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  // From an RDD, not a local Seq: a LocalRelation would let the optimizer
  // fold the projection on the driver and bypass the code under test.
  private def docs(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row.fromTuple), 4),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))

  /** Runs `body` once with generated code only and once interpreted only. */
  private def bothPaths(body: String => Unit): Unit =
    Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach {
      case (mode, wholeStage) =>
        spark.conf.set("spark.sql.codegen.factoryMode", mode)
        spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
        try body(mode)
        finally {
          spark.conf.unset("spark.sql.codegen.factoryMode")
          spark.conf.unset("spark.sql.codegen.wholeStage")
        }
    }

  private def keysById(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSeq.sorted }

  test("graft_minhash_bands equals bandedKeys(rawShingleRows) per document") {
    val df = docs(corpus(11, 300))
    for ((n, b, r) <- Seq((3, 12, 3), (1, 4, 2), (2, 5, 1), (5, 2, 4))) {
      val exp = keysById(DedupOps.bandedKeys(
        DedupOps.rawShingleRows(df, "id", n), b, r))
      assert(exp.nonEmpty)
      bothPaths { mode =>
        val got = keysById(DedupOps.textBandKeys(df, "id", n, b, r))
        assert(got == exp, s"n=$n b=$b r=$r $mode")
      }
    }
  }

  test("graft_minhash_bands: null is NULL, shorter than n is empty, b keys otherwise") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.ArrayType
    import org.apache.spark.unsafe.types.UTF8String
    def toks(ws: String*) = Literal.create(
      new GenericArrayData(ws.map(UTF8String.fromString).toArray[Any]),
      ArrayType(StringType))
    assert(MinhashBands(Literal.create(null, ArrayType(StringType)), 3, 12, 3)
      .eval(null) == null)
    assert(MinhashBands(toks("a", "b"), 3, 12, 3).eval(null)
      .asInstanceOf[ArrayData].numElements() == 0)
    val keys = MinhashBands(toks("a", "b", "c", "a", "b", "c"), 3, 12, 3)
      .eval(null).asInstanceOf[ArrayData]
    assert(keys.numElements() == 12)
    // The same shingle set, each shingle repeated: no minimum moves.
    assert(keys.toLongArray().toSeq ==
      MinhashBands(toks("a", "b", "c", "a", "b", "c", "a", "b", "c"), 3, 12, 3)
        .eval(null).asInstanceOf[ArrayData].toLongArray().toSeq)
  }

  test("graft_shingle_overlap equals pairIntersections + shingleSizes per pair") {
    val rows = corpus(23, 120)
    val df = docs(rows)
    val ids = rows.map(_._1)
    val rnd = new scala.util.Random(5)
    val pairs = (ids.takeRight(40).combinations(2).map(p => (p(0), p(1))) ++
      Iterator.fill(600)((ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size)))))
      .toSeq.distinct
    val cand = spark.createDataFrame(
      spark.sparkContext.parallelize(pairs.map(Row.fromTuple), 4),
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
    val texts = df.select(col("id"), col("text"))
    val nonNull = rows.filter(_._2 != null).map(_._1).toSet
    for (n <- Seq(1, 2, 3)) {
      val sr = DedupOps.shingleRows(df, "id", n)
      val inter = DedupOps.pairIntersections(sr, cand).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val sz = DedupOps.shingleSizes(sr).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exp = pairs.filter { case (a, b) => nonNull(a) && nonNull(b) }
        .map { case (a, b) =>
          (a, b) -> ((inter.getOrElse((a, b), 0L), sz.getOrElse(a, 0L), sz.getOrElse(b, 0L)))
        }.toMap
      bothPaths { mode =>
        val got = cand
          .join(texts.select(col("id").as("id_a"), col("text").as("ta")), "id_a")
          .join(texts.select(col("id").as("id_b"), col("text").as("tb")), "id_b")
          .select(col("id_a"), col("id_b"),
            DedupOps.shingleOverlap(col("ta"), col("tb"), n).as("o"))
          .collect().map { r =>
            val o = r.getStruct(2)
            (r.getLong(0), r.getLong(1)) ->
              Option(o).map(o => (o.getLong(0), o.getLong(1), o.getLong(2)))
          }.toMap
        // NULL exactly when a text is null.
        assert(got == pairs.map(p => p -> exp.get(p)).toMap, s"n=$n $mode")
      }
    }
  }

  test("minhashNearDups equals the shingle-table pipeline it replaces") {
    // Near-copies at several edit distances, so the output holds pairs
    // above and below the 1/2 threshold.
    val rnd = new scala.util.Random(77)
    val vocab = (0 until 400).map(i => s"w$i").toVector
    val base = (0 until 150).map(_ => Vector.fill(8 + rnd.nextInt(20))(
      vocab(rnd.nextInt(vocab.size))))
    val copies = base.take(80).map { w =>
      (0 until 1 + rnd.nextInt(6)).foldLeft(w)((v, _) =>
        v.updated(rnd.nextInt(v.length), vocab(rnd.nextInt(vocab.size))))
    }
    val rows = ((base ++ copies).map(_.mkString(" ")) ++ edgeTexts)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = docs(rows)
    for ((b, r) <- Seq((12, 3), (12, 1))) {
      val sr = DedupOps.shingleRows(df, "id", 3)
      val sz = DedupOps.shingleSizes(sr)
      val exp = DedupOps.pairIntersections(sr,
          DedupOps.candidatePairsKeyed(DedupOps.bandedKeys(sr, b, r)))
        .join(sz.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
        .join(sz.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
        .select(col("id_a"), col("id_b"), col("c_inter"),
          (col("sz_a") + col("sz_b") - col("c_inter")).as("c_union"))
        .filter(col("c_inter") * 2 >= col("c_union"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      val got = DedupOps.minhashNearDups(df, "id", 3, b, r, 1, 2)
      assert(got.columns.toSeq == Seq("id_a", "id_b", "c_inter", "c_union"))
      val gotRows = got.collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(exp.size >= 20, s"fixture must verify pairs: ${exp.size}")
      assert(gotRows == exp, s"b=$b r=$r")
    }
  }
}
