package graft.operators

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.TestSpark
import graft.core.PropHelpers

/** Degenerate-input behavior of the metrics surface: an empty prefix must
  * yield a well-formed zeroed record (not a null-poisoned json string), an
  * empty barrier list must fail loudly, and the two trigger-parse paths
  * must agree on malformed payloads. */
class SkylineOpsEdgeSpec extends AnyFunSuite with PropHelpers {

  test("skybandRows property: random duplicate-heavy 3D point sets match brute force") {
    val spark = TestSpark.spark
    import spark.implicits._
    // Domain 0..3 per dim forces ties, duplicates, and deep layers.
    val ptsGen = Gen.listOfN(18,
      Gen.zip(Gen.choose(0, 3), Gen.choose(0, 3), Gen.choose(0, 3))
        .map { case (a, b, c) => (a.toDouble, b.toDouble, c.toDouble) })
    def dom(a: (Double, Double, Double), b: (Double, Double, Double)) =
      a._1 <= b._1 && a._2 <= b._2 && a._3 <= b._3 &&
        (a._1 < b._1 || a._2 < b._2 || a._3 < b._3)
    forAll2(ptsGen, Gen.choose(1, 4), n = 8) { (pts, k) =>
      val distinct = pts.distinct
      val expect = pts.flatMap { p =>
        val cnt = distinct.count(q => dom(q, p))
        if (cnt < k) Some((p._1, p._2, p._3, cnt.toLong)) else None
      }.groupBy(identity).view.mapValues(_.size).toMap
      val got = SkylineOps.skybandRows(pts.toDF("x", "y", "z"), Seq("x", "y", "z"), k)
        .collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(got == expect, s"k=$k pts=$pts")
    }
  }

  test("skylineLayerRows matches brute-force onion peeling, duplicates keep their layer") {
    val spark = TestSpark.spark
    import spark.implicits._
    val pts = Seq(
      (1.0, 5.0), (1.0, 5.0), (3.0, 3.0), (5.0, 1.0),  // layer 1 (dup on (1,5))
      (2.0, 5.0), (4.0, 3.0), (5.0, 2.0),              // layer 2
      (5.0, 5.0))                                      // layer 3 (beyond request)
    val df = pts.toDF("x", "y")
    val got = SkylineOps.skylineLayerRows(df, Seq("x", "y"), 2)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
      .groupBy(identity).view.mapValues(_.size).toMap
    // Brute-force peel with the same dominance rules.
    def dom(a: (Double, Double), b: (Double, Double)) =
      a._1 <= b._1 && a._2 <= b._2 && (a._1 < b._1 || a._2 < b._2)
    var rest = pts
    val expect = (1 to 2).flatMap { l =>
      val sky = rest.filter(p => !rest.exists(q => dom(q, p)))
      val layerRows = sky.map(p => (p._1, p._2, l.toLong))
      rest = rest.filterNot(p => sky.contains(p))
      layerRows
    }.groupBy(identity).view.mapValues(_.size).toMap
    assert(got == expect, s"got $got\nexpect $expect")
    assert(!got.keys.exists(_._3 > 2), "layer beyond the requested depth leaked")
  }

  test("topDominatingSkyline: strict counts, desc rank with dim tiebreak, zero-count points kept") {
    val spark = TestSpark.spark
    import spark.implicits._
    // Frontier = {(1,5), (2,4), (3,3), (0,7)} (+ a duplicate of (1,5), which
    // distinct() collapses and strictness excludes from its own count).
    // Dominated: (4,4) by (2,4)/(3,3); (5,5) by all of a,b,c; (2,6) by
    // (1,5) and (2,4). (0,7) dominates nothing -> count 0, still ranked.
    val df = Seq(
      (1.0, 5.0), (1.0, 5.0), (2.0, 4.0), (3.0, 3.0), (0.0, 7.0),
      (4.0, 4.0), (5.0, 5.0), (2.0, 6.0)).toDF("x", "y")
    val got = SkylineOps.topDominatingSkyline(df, Seq("x", "y"), 10)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      (2.0, 4.0, 3L, 1L),   // dominates (4,4), (5,5), (2,6)
      (1.0, 5.0, 2L, 2L),   // dominates (5,5), (2,6); tie broken by dims
      (3.0, 3.0, 2L, 3L),   // dominates (4,4), (5,5)
      (0.0, 7.0, 0L, 4L)),  // dominates nothing
      s"got $got")
    // k truncates the ranking.
    assert(SkylineOps.topDominatingSkyline(df, Seq("x", "y"), 2).count() == 2)
  }

  test("skybandRows matches the brute-force distinct-dominator count; 1-skyband = skyline") {
    val spark = TestSpark.spark
    import spark.implicits._
    // (1,1) dominates everything, so deeper layers carry points with
    // dominator counts ABOVE their layer index ((3,3) is in layer 3 with
    // 2 dominators; (5,5) deeper with 7) — the filter, not the peeling,
    // must decide membership. Duplicate rows of (1,5) both survive.
    val pts = Seq(
      (1.0, 5.0), (1.0, 5.0), (3.0, 3.0), (5.0, 1.0), (1.0, 1.0),
      (2.0, 5.0), (4.0, 3.0), (5.0, 2.0), (5.0, 5.0), (2.0, 2.0))
    val df = pts.toDF("x", "y")
    def dom(a: (Double, Double), b: (Double, Double)) =
      a._1 <= b._1 && a._2 <= b._2 && (a._1 < b._1 || a._2 < b._2)
    val distinct = pts.distinct
    for (k <- 1 to 3) {
      val expect = pts.flatMap { p =>
        val cnt = distinct.count(q => dom(q, p))
        if (cnt < k) Some((p._1, p._2, cnt.toLong)) else None
      }.groupBy(identity).view.mapValues(_.size).toMap
      val got = SkylineOps.skybandRows(df, Seq("x", "y"), k)
        .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(got == expect, s"k=$k: got $got\nexpect $expect")
    }
    // 1-skyband rows = skyline rows (with count 0).
    val sky = SkylineOps.skylineRows(df, Seq("x", "y"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).sorted
    val band1 = SkylineOps.skybandRows(df, Seq("x", "y"), 1)
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).sorted
    assert(band1.sameElements(sky))
  }

  test("metricsJson on empty input emits a zeroed record, not null") {
    val spark = TestSpark.spark
    import spark.implicits._
    val empty = Seq.empty[(Double, Double)].toDF("x", "y")
    val got = SkylineOps.metricsJson(empty, Seq("x", "y"),
      SkylineOps.dimPartitionCol(array(col("x")), 10.0, 4), 4, "9").head()
    assert(!got.isNullAt(0))
    val json = got.getString(0)
    assert(json.contains("\"query_id\": \"9\""))
    assert(json.contains("\"record_count\": 0"))
    assert(json.contains("\"skyline_size\": 0"))
    assert(json.contains("\"optimality\": 0.0000"))
  }

  test("triggerCadence refuses an empty barrier list") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq((1L, 1.0, 2.0)).toDF("id", "x", "y")
    intercept[IllegalArgumentException] {
      SkylineOps.triggerCadence(df, "id", Seq("x", "y"),
        SkylineOps.dimPartitionCol(array(col("x")), 10.0, 4), 4, Seq.empty)
    }
  }

  test("triggerCadence: single-pass output matches per-barrier records, incl. empty prefix") {
    val spark = TestSpark.spark
    import spark.implicits._
    // ids 10..29: barrier 5 has an EMPTY prefix (must still emit a zeroed
    // record via the left-join reintroduction), 15 a partial one, 100 all.
    val df = (10L until 30L).map(i => (i, i.toDouble % 7, i.toDouble % 11))
      .toDF("id", "x", "y")
    val pid = SkylineOps.dimPartitionCol(array(col("x")), 7.0, 4)
    val got = SkylineOps.triggerCadence(df, "id", Seq("x", "y"), pid, 4,
      Seq(5L, 15L, 100L)).collect().map(_.getString(0))
    assert(got.length == 3)
    assert(got(0).contains("\"query_id\": \"1\"") &&
      got(0).contains("\"record_count\": 0") &&
      got(0).contains("\"optimality\": 0.0000"), s"empty prefix: ${got(0)}")
    // Each barrier's record must equal the naive per-prefix metricsJson.
    Seq((5L, 0), (15L, 1), (100L, 2)).foreach { case (b, i) =>
      val expect = SkylineOps.metricsJson(df.filter(col("id") <= b),
        Seq("x", "y"), pid, 4, (i + 1).toString).head().getString(0)
      assert(got(i) == expect, s"barrier $b: ${got(i)} != $expect")
    }
  }

  test("trigger barrier parse: one rule for column and state-machine paths") {
    val spark = TestSpark.spark
    import spark.implicits._
    val payloads = Seq("q1,500", "q2", "q3,abc", "q4, 42", "q5,-7")
    val colSide = graft.sources.WireFormat
      .parseTriggers(payloads.toDF("value"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    payloads.foreach { p =>
      assert(graft.streaming.StreamingSkyline.requiredCount(p) == colSide(p),
        s"column vs state-machine parse disagree on '$p'")
    }
    assert(colSide("q1,500") == 500L)
    assert(colSide("q2") == 0L,     "D5: no comma -> 0")
    assert(colSide("q3,abc") == 0L, "malformed count -> 0, not a crash")
    assert(colSide("q4, 42") == 0L, "whitespace is malformed on BOTH paths")
    assert(colSide("q5,-7") == -7L)
  }

  test("skylineModel consumers are row-for-row the re-peeling operators (random duplicate-heavy sets)") {
    val spark = TestSpark.spark
    import spark.implicits._
    def multiset(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val ptsGen = Gen.listOfN(16,
      Gen.zip(Gen.choose(0, 3), Gen.choose(0, 3))
        .map { case (a, b) => (a.toDouble, b.toDouble) })
    forAll2(ptsGen, Gen.choose(1, 3), n = 6) { (pts, k) =>
      graft.core.Caches.scoped {
        val df = pts.toDF("x", "y")
        val m = SkylineOps.skylineModel(df, Seq("x", "y"), 3)
        assert(
          multiset(SkylineOps.layerRowsFrom(m, df)
              .filter(col("layer") <= 2).collect()) ==
            multiset(SkylineOps.skylineLayerRows(df, Seq("x", "y"), 2).collect()),
          s"layers diverged: $pts")
        assert(
          multiset(SkylineOps.skybandRowsFrom(m, df, k).collect()) ==
            multiset(SkylineOps.skybandRows(df, Seq("x", "y"), k).collect()),
          s"skyband diverged: k=$k $pts")
        assert(
          multiset(SkylineOps.topDominatingFrom(m, df, 10).collect()) ==
            multiset(SkylineOps.topDominatingSkyline(df, Seq("x", "y"), 10).collect()),
          s"topdom diverged: $pts")
      }
    }
  }

  // ------------------------------------------------ typed row multisets

  /** Exact dimension types and their value ladders: index 0 and 1 are
    * IEEE-equal for the float types (-0.0 and 0.0), and every value is
    * exactly a double. `long` sits near 2^52, decimal(15,2) near 10^13. */
  private val ExactTypes: Seq[(DataType, Seq[Any])] = Seq(
    IntegerType -> Seq(-3, 4, 4, 11, 18),
    ShortType -> Seq(-2000, -1000, 0, 1000, 2000).map(_.toShort),
    LongType -> Seq(-(1L << 53), -(1L << 52) + 1, 0L, (1L << 52) + 3, (1L << 53) - 1),
    FloatType -> Seq(-0.0f, 0.0f, 0.1f, 2.5f, 7000.25f),
    DoubleType -> Seq(-0.0, 0.0, 0.1, 2.5, 7000.125),
    DecimalType(15, 2) -> Seq("-9999999999999.99", "-0.01", "0.00",
      "1234567890123.45", "9999999999999.99").map(new java.math.BigDecimal(_)))

  private def num(v: Any): Double = v.asInstanceOf[Number].doubleValue

  /** One cell as (type, exact bits): -0.0 and 0.0 stay apart. */
  private def typedKey(v: Any): (String, String) = v match {
    case d: Double => "double" -> java.lang.Double.doubleToRawLongBits(d).toString
    case f: Float => "float" -> java.lang.Float.floatToRawIntBits(f).toString
    case b: java.math.BigDecimal => "decimal" -> b.toPlainString
    case n: Number => n.getClass.getSimpleName -> n.toString
  }

  /** One cell by its value, -0.0 folded into 0.0 (distinct's equality). */
  private def valueKey(v: Any): Double = num(v) + 0.0

  private def multiset[K](rows: Seq[Seq[Any]], key: Any => K): Map[Seq[K], Int] =
    rows.map(_.map(key)).groupBy(identity).view.mapValues(_.size).toMap

  private def dom(a: Seq[Any], b: Seq[Any]): Boolean =
    a.zip(b).forall { case (x, y) => num(x) <= num(y) } &&
      a.zip(b).exists { case (x, y) => num(x) < num(y) }

  /** O(n²) reference: rows no other row dominates, duplicates kept. */
  private def bruteSkyline(rows: Seq[Seq[Any]]): Seq[Seq[Any]] =
    rows.filter(p => !rows.exists(q => dom(q, p)))

  test("skyline operators return the brute-force typed row multiset over exact numeric types") {
    val spark = TestSpark.spark
    val caseGen = for {
      d <- Gen.choose(2, 3)
      types <- Gen.listOfN(d, Gen.oneOf(ExactTypes.indices))
      rows <- Gen.listOfN(24, Gen.zip(Gen.choose(0, 2), Gen.listOfN(d, Gen.choose(0, 4))))
    } yield (types, rows)
    forAll(caseGen, n = 10) { case (typeIdx, picks) =>
      val dims = typeIdx.indices.map(i => s"d$i")
      val schema = StructType(StructField("g", IntegerType) +:
        typeIdx.zip(dims).map { case (t, d) => StructField(d, ExactTypes(t)._1) })
      val rows = picks.map { case (g, ks) =>
        g +: ks.zip(typeIdx).map { case (k, t) => ExactTypes(t)._2(k) } }
      val df = spark.createDataFrame(rows.map(Row.fromSeq).asJava, schema)
        .repartition(3)
      val pts = rows.map(_.tail)
      val sky = bruteSkyline(pts)
      val ctx = s"types=${typeIdx.map(ExactTypes(_)._1.simpleString)} rows=$rows"
      def got(out: DataFrame): Seq[Seq[Any]] = out.collect().map(_.toSeq).toSeq
      def sameTypes(out: DataFrame, cols: Seq[String], name: String): Unit =
        assert(out.schema.fields.map(_.dataType).toSeq ==
          cols.map(c => schema(c).dataType), s"$name types: ${out.schema} $ctx")

      val rowsOut = SkylineOps.skylineRows(df, dims)
      sameTypes(rowsOut, dims, "skylineRows")
      assert(multiset(got(rowsOut), typedKey) == multiset(sky, typedKey),
        s"skylineRows $ctx")

      val grouped = SkylineOps.groupedSkylineRows(df, Seq("g"), dims)
      sameTypes(grouped, "g" +: dims, "groupedSkylineRows")
      val groupedRef = rows.groupBy(_.head).toSeq.flatMap { case (g, rs) =>
        bruteSkyline(rs.map(_.tail)).map(g +: _) }
      assert(multiset(got(grouped), typedKey) == multiset(groupedRef, typedKey),
        s"groupedSkylineRows $ctx")

      val front = SkylineOps.frontier(df, dims)
      sameTypes(front, dims, "frontier")
      assert(multiset(got(front), valueKey) ==
        multiset(sky, valueKey).keys.map(_ -> 1).toMap,
        s"frontier $ctx")

      // atan squeezes every ladder into (0.4, 3.6), so the partition ids
      // spread over all four partitions and no int cast overflows.
      val vecD = array(dims.map(d => atan(col(d).cast("double")) + lit(2.0)): _*)
      Seq(
        "mrdim" -> SkylineOps.dimPartitionCol(vecD, 4.0, 4),
        "mrgrid" -> SkylineOps.gridPartitionCol(vecD, dims.size, 4.0, 4),
        "mrangle" -> SkylineOps.anglePartitionCol(vecD, dims.size, 4)
      ).foreach { case (name, pid) =>
        val mr = SkylineOps.mrSkylinePoints(df, dims, pid)
        sameTypes(mr, dims, s"mrSkylinePoints $name")
        assert(multiset(got(mr), typedKey) == multiset(sky, typedKey),
          s"mrSkylinePoints $name $ctx")
      }
    }
  }

  test("skylineRows keeps the kernel's NaN rules and every duplicate's multiplicity") {
    val spark = TestSpark.spark
    import spark.implicits._
    // d <= 3 with a NaN routes the kernel to SFS, where a NaN coordinate
    // is a wildcard: (4, 0.5) drops both copies of (NaN, 1), while
    // (NaN, 0.1) survives next to the points it "dominates".
    val nan = Double.NaN
    val df = Seq((nan, 1.0), (2.0, 2.0), (1.0, 3.0), (nan, 1.0), (4.0, 0.5),
      (nan, 0.1), (nan, 0.1), (5.0, 5.0)).toDF("x", "y")
    val got = SkylineOps.skylineRows(df, Seq("x", "y")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    assert(got.map(_.toString).sorted.toSeq ==
      Seq((1.0, 3.0), (2.0, 2.0), (4.0, 0.5), (nan, 0.1), (nan, 0.1))
        .map(_.toString).sorted, s"got ${got.toSeq}")
  }

  /** The messages of `t` and every cause below it. */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  /** `df` over dims (x, y) through skylineRows, metricsJson and the batch
    * windowedFrontier: each must fail, naming column `x` and `what`. */
  private def failsNamed(df: DataFrame, what: String): Unit = {
    val withTs = df.withColumn("ts", lit(new java.sql.Timestamp(0L)))
    Seq[(String, () => Any)](
      "skylineRows" -> (() => SkylineOps.skylineRows(df, Seq("x", "y")).collect()),
      "metricsJson" -> (() => SkylineOps.metricsJson(df, Seq("x", "y"),
        lit(0), 4, "1").collect()),
      "windowedFrontier" -> (() => graft.streaming.EventWindows.windowedFrontier(
        withTs, "ts", Seq("x", "y"), "10 minutes", "5 minutes").collect())
    ).foreach { case (name, run) =>
      val e = intercept[Exception](run())
      val msg = messages(e)
      assert(msg.contains("skyline dimension `x`") && msg.contains(what),
        s"$name: $msg")
    }
  }

  test("a null coordinate fails the query, naming its column") {
    val spark = TestSpark.spark
    import spark.implicits._
    // Read as 0.0, the null would dominate (1, 6) and (0.5, 7).
    failsNamed(Seq[(Option[Double], Double)]((None, 5.0), (Some(1.0), 6.0),
      (Some(0.5), 7.0), (Some(3.0), 3.0)).toDF("x", "y"), "is null")
  }

  test("a long above 2^53 fails the query, naming its column") {
    val spark = TestSpark.spark
    import spark.implicits._
    // Both cast to 2^53: the second row would survive though dominated.
    failsNamed(Seq(((1L << 53), 0L), ((1L << 53) + 1, 0L)).toDF("x", "y"),
      "bigint value that a double cannot carry exactly")
    // Every long a double carries exactly passes, 2^53 itself included.
    assert(SkylineOps.skylineRows(Seq(((1L << 53), 0L), ((1L << 53) - 1, 1L))
      .toDF("x", "y"), Seq("x", "y")).count() == 2)
  }

  test("a decimal(20,2) a double cannot carry fails the query, naming its column") {
    val spark = TestSpark.spark
    val schema = StructType(Seq(StructField("x", DecimalType(20, 2)),
      StructField("y", DecimalType(20, 2))))
    def df(xs: String*) = spark.createDataFrame(xs.map(x =>
      Row(new java.math.BigDecimal(x), new java.math.BigDecimal("0.00"))).asJava, schema)
    failsNamed(df("123456789012345678.90", "123456789012345678.91"),
      "decimal(20,2) value that a double cannot carry exactly")
    assert(SkylineOps.skylineRows(df("0.10", "0.20"), Seq("x", "y"))
      .collect().map(_.getDecimal(0).toPlainString).toSeq == Seq("0.10"))
  }

  test("a non-numeric dimension fails when the plan is built, naming column and type") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(("1", 2.0), ("3", 1.0)).toDF("x", "y")
    val withTs = df.withColumn("ts", lit(new java.sql.Timestamp(0L)))
    Seq[(String, () => Any)](
      "skylineRows" -> (() => SkylineOps.skylineRows(df, Seq("x", "y"))),
      "metricsJson" -> (() => SkylineOps.metricsJson(df, Seq("x", "y"), lit(0), 4, "1")),
      "windowedFrontier" -> (() => graft.streaming.EventWindows.windowedFrontier(
        withTs, "ts", Seq("x", "y"), "10 minutes", "5 minutes"))
    ).foreach { case (name, build) =>
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains("`x`") && e.getMessage.contains("string"),
        s"$name: ${e.getMessage}")
    }
  }

  test("groupedSkylineRows: a null group key is its own group") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq[(Option[String], Int, Int)]((None, 1, 1), (None, 2, 2),
      (Some("a"), 3, 3), (Some("a"), 4, 4), (None, 0, 5)).toDF("g", "x", "y")
    val got = SkylineOps.groupedSkylineRows(df, Seq("g"), Seq("x", "y"))
      .collect().map(r => (Option(r.getString(0)), r.getInt(1), r.getInt(2))).toSet
    assert(got == Set((None, 1, 1), (None, 0, 5), (Some("a"), 3, 3)), s"got $got")
  }
}
