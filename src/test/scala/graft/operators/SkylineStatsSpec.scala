package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.TestSpark
import graft.core.PropHelpers
import graft.functions.SkylineStats

/** The one-pass MR statistics (`skyline_stats`) against a driver-side
  * O(n²) dominance count: per partition, rows, rows on the local skyline,
  * rows on the global skyline. Inputs go through many small partitions so
  * the aggregate's `merge` runs on Kryo-deserialized buffers. */
class SkylineStatsSpec extends AnyFunSuite with PropHelpers {

  private val names = Seq("x", "y", "z", "w")

  private def dom(a: Seq[Double], b: Seq[Double]): Boolean =
    a.zip(b).forall { case (p, q) => p <= q } && a.zip(b).exists { case (p, q) => p < q }

  /** (pid → (c_rows, c_local, c_surv)) by brute force over (pid, point). */
  private def bruteStats(rows: Seq[(Int, Seq[Double])]): Map[Int, (Long, Long, Long)] =
    rows.groupBy(_._1).map { case (pid, part) =>
      val pts = part.map(_._2)
      val local = pts.count(p => !pts.exists(q => dom(q, p)))
      val surv = pts.count(p => !rows.exists { case (_, q) => dom(q, p) })
      pid -> (pts.size.toLong, local.toLong, surv.toLong)
    }

  private def engineStats(df: DataFrame, dims: Seq[String], pid: Column)
      : Map[Int, (Long, Long, Long)] =
    SkylineOps.partitionSkylineStatsFull(df, dims, pid).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  private def partitioners(d: Int, maxVal: Double, n: Int): Seq[(String, Column)] = {
    val v = array(names.take(d).map(col): _*)
    Seq(
      "dim" -> SkylineOps.dimPartitionCol(v, maxVal, n),
      "grid" -> SkylineOps.gridPartitionCol(v, d, maxVal, n),
      "angle" -> SkylineOps.anglePartitionCol(v, d, n))
  }

  /** `rows` as a dims DataFrame spread over 12 input partitions. */
  private def frame(rows: Seq[Seq[Double]], d: Int): DataFrame = {
    val spark = TestSpark.spark
    val schema = StructType(names.take(d).map(StructField(_, DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row(_: _*)), 12), schema)
  }

  // Domain 0..3 per dim: ties, exact duplicates and duplicates split
  // across partitions are the common case, not the exception.
  private def ptsGen(d: Int): Gen[List[Seq[Double]]] =
    Gen.choose(0, 40).flatMap(n => Gen.listOfN(n,
      Gen.listOfN(d, Gen.choose(0, 3).map(_.toDouble))))

  for (d <- Seq(2, 3, 4)) {
    test(s"partitionSkylineStatsFull = brute force, d=$d, all three partitioners") {
      forAll(ptsGen(d), n = 6) { pts =>
        val df = frame(pts, d)
        partitioners(d, 4.0, 8).foreach { case (name, pid) =>
          val pids = df.select(pid).collect().map(_.getInt(0))
          val expect = bruteStats(pids.toSeq.zip(pts))
          val got = engineStats(df, names.take(d), pid)
          assert(got == expect, s"$name d=$d pts=$pts")
          // Empty partitions (dim partitioning leaves odd slices empty on
          // this domain) have no row; optimality still divides by all 8.
          val opt = SkylineOps.optimality(df, names.take(d), pid, 8).head()
          val want = expect.values.map { case (_, l, s) => s.toDouble / l }.sum / 8
          if (pts.isEmpty) assert(opt.isNullAt(0), s"$name empty input")
          else assert(math.abs(opt.getDouble(0) - want) < 1e-9, s"$name d=$d pts=$pts")
        }
      }
    }
  }

  test("copies of one point split across pids each survive under their own tag") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = Seq(
      (0, 1.0, 1.0), (1, 1.0, 1.0), (1, 1.0, 1.0), (2, 2.0, 2.0), (2, 1.0, 3.0),
      (3, 0.0, 5.0), (3, 0.0, 5.0), (3, 0.0, 6.0))
    val df = rows.toDF("k", "x", "y").repartition(6)
    val got = engineStats(df, Seq("x", "y"), col("k"))
    assert(got == Map(
      0 -> (1L, 1L, 1L), 1 -> (2L, 2L, 2L), 2 -> (2L, 2L, 0L), 3 -> (3L, 2L, 2L)),
      s"got $got")
    assert(got == bruteStats(rows.map { case (k, x, y) => (k, Seq(x, y)) }))
  }

  test("user-supplied pid column with heavy duplicates = brute force (d=3)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val gen = Gen.listOfN(60, Gen.zip(Gen.choose(0, 5),
      Gen.listOfN(3, Gen.choose(0, 2).map(_.toDouble))))
    forAll(gen, n = 4) { rows =>
      val df = rows.map { case (k, p) => (k, p(0), p(1), p(2)) }
        .toDF("k", "x", "y", "z").repartition(10)
      assert(engineStats(df, Seq("x", "y", "z"), col("k")) == bruteStats(rows),
        s"rows=$rows")
    }
  }

  test("triggerCadence records = brute force per barrier prefix, empty prefix and empty input included") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rec = "\"record_count\": (\\d+), \"skyline_size\": (\\d+), \"optimality\": ([0-9.]+)".r
    val gen = Gen.listOfN(30, Gen.listOfN(2, Gen.choose(0, 3).map(_.toDouble)))
    val barriers = Seq(-1L, 4L, 17L, 100L)
    forAll(Gen.oneOf(gen, Gen.const(Nil)), n = 5) { pts =>
      val df = pts.zipWithIndex.map { case (p, i) => (i.toLong, p(0), p(1)) }
        .toDF("id", "x", "y").repartition(8)
      partitioners(2, 4.0, 4).foreach { case (name, pid) =>
        val pids = df.orderBy("id").select(pid).collect().map(_.getInt(0))
        val got = SkylineOps.triggerCadence(df, "id", Seq("x", "y"), pid, 4, barriers)
          .collect().map(_.getString(0))
        assert(got.length == barriers.size)
        barriers.zipWithIndex.foreach { case (b, i) =>
          // ids are 0..n-1 in list order: the prefix id <= b is the first b+1 rows.
          val prefix = pids.toSeq.zip(pts).take(math.max(0L, b + 1).toInt)
          val st = bruteStats(prefix)
          val opt = st.values.map { case (_, l, s) => s.toDouble / l }.sum / 4
          assert(got(i).contains(s"\"query_id\": \"${i + 1}\""), got(i))
          val m = rec.findFirstMatchIn(got(i)).getOrElse(fail(s"bad record ${got(i)}"))
          assert(m.group(1).toLong == prefix.size, s"$name b=$b ${got(i)}")
          assert(m.group(2).toLong == st.values.map(_._3).sum, s"$name b=$b ${got(i)}")
          assert(math.abs(m.group(3).toDouble - opt) <= 5e-5 + 1e-9,
            s"$name b=$b ${got(i)} want $opt")
        }
      }
    }
  }

  test("empty input: no partition rows and a zeroed metrics record") {
    val df = frame(Nil, 3)
    val pid = SkylineOps.dimPartitionCol(array(col("x")), 4.0, 4)
    assert(SkylineOps.partitionSkylineStatsFull(df, Seq("x", "y", "z"), pid).count() == 0)
    val json = SkylineOps.metricsJson(df, Seq("x", "y", "z"), pid, 4, "e").head().getString(0)
    assert(json.contains("\"record_count\": 0") && json.contains("\"skyline_size\": 0") &&
      json.contains("\"optimality\": 0.0000"), json)
  }

  test("a null partition id fails with the named error; built-in partitioners never yield null") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq[(Option[Int], Double, Double)](
      (Some(0), 1.0, 2.0), (None, 2.0, 1.0), (Some(1), 3.0, 3.0))
      .toDF("k", "x", "y").repartition(3)
    val e = intercept[Exception] {
      SkylineOps.partitionSkylineStatsFull(df, Seq("x", "y"), col("k")).collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(chain.contains(SkylineStats.NullPid), chain)
    intercept[Exception] {
      SkylineOps.metricsJson(df, Seq("x", "y"), col("k"), 2, "n").collect()
    }
    // Edge values for the geometric partitioners: the domain bounds, past
    // them, negatives and null coordinates.
    val edge = Seq[(Option[Double], Option[Double], Option[Double])](
      (Some(0.0), Some(0.0), Some(0.0)), (Some(4.0), Some(4.0), Some(4.0)),
      (Some(9.0), Some(-1.0), Some(2.0)), (Some(-3.0), Some(7.5), Some(0.0)),
      (None, Some(1.0), Some(1.0)), (Some(1.0), None, None), (None, None, None))
      .toDF("x", "y", "z")
    for (d <- Seq(2, 3); (name, pid) <- partitioners(d, 4.0, 8)) {
      assert(edge.filter(pid.isNull).count() == 0, s"$name d=$d produced a null pid")
    }
  }
}
