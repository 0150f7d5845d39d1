package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.functions.{array, col}
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}

import graft.TestSpark
import graft.streaming.StreamingSkyline
import graft.streaming.StreamingSkyline.{GlobalState, LocalState, SkyEvent}

/** O24: emitted JSON records flatten to the reference collector's CSV
  * columns, with D3's Latency defaulting to 0 and points to "[]". */
class MetricsCollectorSpec extends AnyFunSuite {

  test("toRows flattens the emitted record into the collector layout") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rec = "{\"query_id\": \"7\", \"record_count\": 123, \"skyline_size\": 4, " +
      "\"optimality\": 0.2500, \"ingestion_time_ms\": 1, " +
      "\"local_processing_time_ms\": 2, \"global_processing_time_ms\": 3, " +
      "\"total_processing_time_ms\": 6}"
    val row = MetricsCollector.toRows(Seq(rec).toDF("value")).head()
    assert(row.getAs[String]("QueryID") == "7")
    assert(row.getAs[String]("Records") == "123")
    assert(row.getAs[Long]("SkylineSize") == 4L)
    assert(row.getAs[Double]("Optimality") == 0.25)
    assert(row.getAs[Long]("TotalTime(ms)") == 6L)
    assert(row.getAs[Long]("Latency(ms)") == 0L, "D3: latency absent => 0")
    assert(row.getAs[String]("SkylinePoints") == "[]")
  }

  test("appendBatch accumulates across appends") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_metrics").toString + "/out"
    val rec = "{\"query_id\": \"1\", \"record_count\": 1, \"skyline_size\": 1, " +
      "\"optimality\": 1.0000, \"ingestion_time_ms\": 0, " +
      "\"local_processing_time_ms\": 0, \"global_processing_time_ms\": 0, " +
      "\"total_processing_time_ms\": 0}"
    MetricsCollector.appendBatch(Seq(rec).toDF("value"), dir)
    MetricsCollector.appendBatch(Seq(rec).toDF("value"), dir)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.count() == 2)
    assert(back.columns.contains("QueryID") && back.columns.contains("Latency(ms)"))
  }

  test("records from metricsJson and from the stream parse into every field") {
    val spark = TestSpark.spark
    import spark.implicits._
    val pts = (0 until 200).map(i => (i.toLong, (i * 37 % 101).toDouble, (i * 53 % 97).toDouble))
    val batch = SkylineOps.metricsJson(pts.toDF("id", "x", "y"), Seq("x", "y"),
      SkylineOps.dimPartitionCol(array(col("x")), 101.0, 4), 4, "b1",
      ingestMs = 1L, localMs = 2L, globalMs = 3L, totalMs = 6L).as[String].head()
    // The stream's two phases on the driver: every pid's local step, then
    // the global latch, which emits once all four pids have answered.
    def fresh[S] = TestGroupState.create[S](Optional.empty[S](),
      GroupStateTimeout.NoTimeout, 0L, Optional.empty[Long](), false)
    val results = (0 until 4).flatMap { pid =>
      val evs = pts.filter(_._2.toInt * 4 / 101 == pid).map { case (id, x, y) =>
        SkyEvent(pid, isTrigger = false, id, Array(x, y), "", 0L) } ++
        StreamingSkyline.fanOutTrigger("s1,150", 4, 0L).filter(_.pid == pid)
      StreamingSkyline.localFn(() => 5L)(pid, evs.iterator, fresh[LocalState]).toList
    }
    val stream = StreamingSkyline.globalFn(4, () => 9L)("s1,150", results.iterator,
      fresh[GlobalState]).toList
    assert(stream.size == 1, stream)
    val fields = Seq("QueryID" -> "query_id", "Records" -> "record_count",
      "SkylineSize" -> "skyline_size", "Optimality" -> "optimality",
      "IngestTime(ms)" -> "ingestion_time_ms", "LocalTime(ms)" -> "local_processing_time_ms",
      "GlobalTime(ms)" -> "global_processing_time_ms",
      "TotalTime(ms)" -> "total_processing_time_ms")
    (batch +: stream).foreach { rec =>
      val row = MetricsCollector.toRows(Seq(rec).toDF("value")).head()
      fields.foreach { case (out, field) =>
        assert(!row.isNullAt(row.fieldIndex(out)), s"$out null for $rec")
        val text = ("\"" + field + "\": \"?([^,\"}]*)").r.findFirstMatchIn(rec)
          .getOrElse(fail(s"$field not in $rec")).group(1)
        val v = row.get(row.fieldIndex(out)).toString
        assert(v == text || v.toDoubleOption.exists(text.toDoubleOption.contains(_)),
          s"$out = $v, not $text, in $rec")
      }
    }
  }
}
