package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkConf
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType}

import graft.TestSpark
import graft.core.{SkyBuffer, SkylineKernel}
import graft.functions.SkylineAgg.skyline_agg
import graft.functions.SkylineStats.skyline_stats
import graft.operators.SkylineOps

/** End-to-end Spark coverage of the native skyline aggregates: partial and
  * final phases across a real multi-partition shuffle against the in-repo
  * brute-force kernel, the shipped buffer format, and the named failures
  * for inputs that would otherwise read as plausible points. */
class SkylineAggSpec extends AnyFunSuite {

  private def multiset(points: Seq[Seq[Double]]): Map[Seq[Double], Int] =
    points.groupBy(identity).view.mapValues(_.size).toMap

  /** The messages of `e` and all its causes. */
  private def chain(e: Throwable): String =
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")

  private val aggExpr = SkylineAggExpr(BoundReference(0, ArrayType(DoubleType), nullable = true))
  private val statsExpr = SkylineStatsExpr(BoundReference(0, IntegerType, nullable = false),
    BoundReference(1, ArrayType(DoubleType), nullable = true))

  private def row(xs: Any*): InternalRow = InternalRow(xs: _*)
  private def arr(xs: Double*): GenericArrayData = new GenericArrayData(xs.toArray[Any])

  test("skyline_agg over 8 partitions equals the kernel oracle, duplicates retained") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // small integer domain guarantees duplicate vectors, incl. on the frontier
    val pts = Seq.fill(5000)(Array.fill(3)(rnd.nextInt(12).toDouble))
    val df = pts.map(p => Tuple1(p)).toDF("values").repartition(8)

    val got = df.agg(skyline_agg(col("values")).as("sky"))
      .select(explode(col("sky")).as("p"))
      .as[Array[Double]].collect().toSeq.map(_.toSeq)

    val expect = SkylineKernel.skylineOf(ArrayBuffer(pts: _*)).toSeq.map(_.toSeq)

    assert(multiset(got) == multiset(expect))
    assert(expect.groupBy(identity).exists(_._2.size > 1),
      "fixture should contain duplicated frontier vectors")
  }

  test("skylineRows preserves input duplicate multiplicity") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = Seq((1.0, 5.0), (1.0, 5.0), (1.0, 5.0), (5.0, 1.0), (9.0, 9.0))
    val df = rows.toDF("x", "y").repartition(4)
    val sky = SkylineOps.skylineRows(df, Seq("x", "y")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    assert(sky.count(_ == ((1.0, 5.0))) == 3)
    assert(sky.count(_ == ((5.0, 1.0))) == 1)
    assert(!sky.contains((9.0, 9.0)))
  }

  test("buffer format: a round trip keeps entries, counts, compactAt and skipped") {
    val rnd = new scala.util.Random(3)
    val agg = aggExpr.createAggregationBuffer()
    val stats = statsExpr.createAggregationBuffer()
    (0 until 3000).foreach { i =>
      val p = arr(Seq.fill(4)(rnd.nextInt(20).toDouble): _*)
      aggExpr.update(agg, row(p))
      statsExpr.update(stats, row(i % 3, p))
    }
    statsExpr.update(stats, row(7, null))
    assert(agg.sky.skipped > 0, "the fixture should leave dropped adds pending")
    val a2 = aggExpr.deserialize(aggExpr.serialize(agg))
    assert(a2.sky.points.map(_.toSeq) == agg.sky.points.map(_.toSeq) &&
      a2.sky.counts == agg.sky.counts && a2.sky.compactAt == agg.sky.compactAt &&
      a2.sky.skipped == agg.sky.skipped)
    val s2 = statsExpr.deserialize(statsExpr.serialize(stats))
    assert(s2.parts.keySet == stats.parts.keySet)
    assert(s2.stats().toSeq == stats.stats().toSeq)
    assert(s2.parts(7).rows == 1L && s2.parts(7).sky.points.isEmpty)
  }

  test("buffer format: foreign or truncated bytes fail by name") {
    val agg = aggExpr.createAggregationBuffer()
    aggExpr.update(agg, row(arr(1.0, 2.0)))
    aggExpr.update(agg, row(arr(2.0, 1.0)))
    val good = aggExpr.serialize(agg)
    val stats = statsExpr.createAggregationBuffer()
    statsExpr.update(stats, row(0, arr(1.0, 2.0)))
    val goodStats = statsExpr.serialize(stats)
    // The old Aggregator shipped a Kryo-serialized SkyBuffer.
    val old = new SkyBuffer(); old.add(Array(1.0, 2.0))
    val kryo = new KryoSerializer(new SparkConf()).newInstance().serialize(old)
    val kryoBytes = new Array[Byte](kryo.remaining()); kryo.get(kryoBytes)
    // The old streaming-aggregation state held that Kryo buffer inside an
    // UnsafeRow of one binary column.
    val oldState = UnsafeProjection.create(Array[DataType](BinaryType))
      .apply(InternalRow(kryoBytes)).getBytes
    val foreign = Seq(kryoBytes, oldState, goodStats, Array.fill[Byte](64)(7))
    foreign.foreach { b =>
      val e = intercept[IllegalStateException](aggExpr.deserialize(b))
      assert(e.getMessage.contains(SkyBufferFormat.Foreign), e.getMessage)
    }
    assert(intercept[IllegalStateException](statsExpr.deserialize(good))
      .getMessage.contains(SkyBufferFormat.Foreign))
    val truncated = Seq(Array.emptyByteArray, good.take(4), good.init, good :+ 0.toByte,
      good.take(good.length - 9))
    truncated.foreach { b =>
      val e = intercept[IllegalStateException](aggExpr.deserialize(b))
      assert(e.getMessage.contains(SkyBufferFormat.Truncated), e.getMessage)
    }
    Seq(goodStats.init, goodStats.take(12), goodStats :+ 1.toByte).foreach { b =>
      val e = intercept[IllegalStateException](statsExpr.deserialize(b))
      assert(e.getMessage.contains(SkyBufferFormat.Truncated), e.getMessage)
    }
  }

  /** `rows` (one array each, with an int key) over `parts` input partitions. */
  private def arrays(rows: Seq[(Int, Seq[java.lang.Double])], parts: Int): DataFrame = {
    val spark = TestSpark.spark
    import spark.implicits._
    rows.map { case (k, v) => (k, v.toArray) }.toDF("k", "values").repartition(parts)
  }

  test("arrays of different lengths within one group fail by name, within and across partitions") {
    val ragged = Seq[(Int, Seq[java.lang.Double])](
      0 -> Seq(1.0, 2.0), 0 -> Seq(2.0, 1.0), 1 -> Seq(1.0, 2.0, 3.0))
    Seq(1, 3).foreach { parts =>
      val df = arrays(ragged, parts)
      Seq(
        df.agg(skyline_agg(col("values"))),
        df.agg(skyline_stats(col("k"), col("values"))),
        df.groupBy(lit(1)).agg(skyline_agg(col("values")))
      ).foreach { q =>
        val e = intercept[Exception](q.collect())
        assert(chain(e).contains(SkyRows.Ragged), chain(e))
      }
    }
    // Different lengths in DIFFERENT groups are fine.
    val byGroup = arrays(ragged, 3).groupBy("k").agg(skyline_agg(col("values")).as("s"))
      .select(col("k"), size(col("s"))).collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(byGroup == Map(0 -> 2, 1 -> 1))
  }

  test("a null coordinate fails by name; a null array is skipped") {
    val withNull = Seq[(Int, Seq[java.lang.Double])](
      0 -> Seq(1.0, 2.0), 0 -> Seq(null, 1.0), 1 -> Seq(3.0, 3.0))
    val df = arrays(withNull, 2)
    Seq(df.agg(skyline_agg(col("values"))), df.agg(skyline_stats(col("k"), col("values"))))
      .foreach { q =>
        val e = intercept[Exception](q.collect())
        assert(chain(e).contains(SkyRows.NullCoordinate), chain(e))
      }
    val nullArray = arrays(Seq(0 -> Seq(1.0, 2.0), 0 -> Seq(2.0, 1.0)), 1)
      .union(arrays(Seq(0 -> Seq(1.0, 2.0)), 1).select(col("k"), lit(null).cast("array<double>")))
    assert(nullArray.agg(size(skyline_agg(col("values")))).head().getInt(0) == 2)
    val st = nullArray.agg(skyline_stats(col("k"), col("values")).as("s"))
      .select(explode(col("s")).as("s")).select("s.c_rows", "s.c_local").head()
    assert(st.getLong(0) == 3L && st.getLong(1) == 2L)
  }

  test("an input that is not array<double> fails at analysis") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq((1, Array(1, 2), "a", Array(1.0f))).toDF("k", "ints", "s", "floats")
    Seq(
      () => df.agg(skyline_agg(col("ints"))),
      () => df.agg(skyline_agg(col("s"))),
      () => df.agg(skyline_agg(col("floats"))),
      () => df.agg(skyline_stats(col("k"), col("ints"))),
      () => df.agg(skyline_stats(col("s"), array(lit(1.0)))),
      () => df.agg(skyline_stats(col("k").cast("long"), array(lit(1.0))))
    ).foreach(q => intercept[AnalysisException](q()))
  }

  test("SQL resolves graft_skyline_agg and graft_skyline_stats") {
    val spark = TestSpark.spark
    graft.plans.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_skyline_agg(v) AS sky, graft_skyline_stats(k, v) AS st FROM VALUES " +
        "(0, array(1.0D, 5.0D)), (0, array(5.0D, 1.0D)), (1, array(9.0D, 9.0D)), " +
        "(1, array(1.0D, 5.0D)) AS t(k, v)").head()
    assert(multiset(r.getSeq[scala.collection.Seq[Double]](0).map(_.toSeq)) ==
      Map(Seq(1.0, 5.0) -> 2, Seq(5.0, 1.0) -> 1))
    assert(r.getSeq[org.apache.spark.sql.Row](1).map(s =>
      (s.getInt(0), s.getLong(1), s.getLong(2), s.getLong(3))) ==
      Seq((0, 2L, 2L, 2L), (1, 2L, 1L, 1L)))
  }
}
