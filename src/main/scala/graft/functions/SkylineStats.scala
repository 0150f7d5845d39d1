package graft.functions

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType,
  StructField, StructType}

import graft.core.{SkyBuffer, SkylineKernel}
import graft.plans.GraftFunctions

/** One logical partition's MR skyline statistics (reference formula:
  * `java/org.main/FlinkSkyline.java:590-608`): `c_rows` input rows,
  * `c_local` rows on the partition's local skyline, `c_surv` rows on the
  * global skyline (duplicates counted throughout). */
final case class PartitionStats(pid: Int, c_rows: Long, c_local: Long, c_surv: Long)

/** Aggregation buffer of [[SkylineStatsExpr]]: per partition id, a row
  * count and the partition's local skyline as a [[SkyBuffer]]. Crosses the
  * shuffle in [[SkyBufferFormat]] (one block per partition); the streaming
  * latch holds the same class in its Kryo state. */
final class SkyStatsBuffer(val parts: mutable.HashMap[Int, SkyStatsBuffer.Part])
    extends Serializable {
  def this() = this(mutable.HashMap.empty)

  // The native update's row scratch array, shared by every partition.
  @transient private var scratch: Array[Double] = null

  /** One input row of partition `pid`: a null `v` is counted but holds no
    * point. */
  private[functions] def add(fn: String, pid: Int, v: ArrayData, checkNulls: Boolean): Unit = {
    val p = parts.getOrElseUpdate(pid, new SkyStatsBuffer.Part())
    p.rows += 1
    if (v != null) {
      val known = if (scratch != null) scratch.length else dims
      scratch = SkyRows.read(fn, v, known, scratch, checkNulls)
      p.sky.addCopy(scratch)
    }
  }

  /** The dimensionality of the partitions' points, -1 while there is none. */
  def dims: Int = parts.valuesIterator.map(_.sky.dims).find(_ >= 0).getOrElse(-1)

  def absorb(other: SkyStatsBuffer): Unit =
    other.parts.foreach { case (pid, o) =>
      parts.get(pid) match {
        case Some(p) => p.rows += o.rows; p.sky.absorb(o.sky)
        case None => parts(pid) = o
      }
    }

  /** Partition `pid`'s local skyline, already counted: `counts(i)` copies
    * of `points(i)`. The streaming latch's arrivals; no input rows are
    * counted, so its `c_rows` stay 0. */
  def put(pid: Int, points: Array[Array[Double]], counts: Array[Long]): Unit =
    parts(pid) = new SkyStatsBuffer.Part(0L,
      new SkyBuffer(ArrayBuffer.from(points), ArrayBuffer.from(counts), SkyBuffer.MinCompact))

  /** Compact every local skyline, then merge them tagged by pid: a
    * partition's survivors are its entries left on the merged skyline. */
  def stats(): Array[PartitionStats] = {
    val pts = ArrayBuffer.empty[Array[Double]]
    val tags = ArrayBuffer.empty[Int]
    val cnts = ArrayBuffer.empty[Long]
    val local = parts.toSeq.sortBy(_._1).map { case (pid, p) =>
      p.sky.compact()
      pts ++= p.sky.points
      tags ++= Iterator.fill(p.sky.points.length)(pid)
      cnts ++= p.sky.counts
      (pid, p.rows, p.sky.counts.sum)
    }
    val surv = SkylineKernel.mergeTagged(pts, tags, cnts)
    local.map { case (pid, rows, loc) =>
      PartitionStats(pid, rows, loc, surv.getOrElse(pid, 0L))
    }.toArray
  }
}

object SkyStatsBuffer {
  final class Part(var rows: Long, val sky: SkyBuffer) extends Serializable {
    def this() = this(0L, new SkyBuffer())
  }
}

/** `graft_skyline_stats(pid: int, values: array<double>) ->
  * array<struct<pid, c_rows, c_local, c_surv>>` — every partition's MR
  * statistics in ONE input scan, native to Catalyst.
  *
  * Same two-phase shape as [[SkylineAggExpr]]: `update` folds each row into
  * its partition's local skyline map-side, only local skylines (plus one
  * row count per partition) cross the shuffle, and `eval` merges the local
  * skylines tagged by partition id
  * ([[graft.core.SkylineKernel.mergeTagged]]). One output entry per
  * partition id that had rows, sorted by pid. The streaming latch holds
  * the same buffer, so both paths count survivors in [[SkyStatsBuffer.stats]]
  * and write their record through [[SkylineStats.record]].
  *
  * A null partition id fails the query: the buffer keys on `Int`, and
  * folding nulls into some partition would silently skew the statistics.
  * A null values array counts as a row with no point. Null coordinates,
  * ragged arrays and non-`array<double>` input fail as in
  * [[SkylineAggExpr]].
  *
  * Serialized form ([[SkyBufferFormat]]): the header, the partition count,
  * then per partition its pid, its row count and its local skyline block.
  */
case class SkylineStatsExpr(pid: Expression, values: Expression,
                            mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[SkyStatsBuffer] with BinaryLike[Expression] {

  override def left: Expression = pid
  override def right: Expression = values

  override def prettyName: String = GraftFunctions.SkylineStatsName

  override def checkInputDataTypes(): TypeCheckResult =
    (pid.dataType, values.dataType) match {
      case (IntegerType, ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
      case (p, v) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (int, array<double>), got (${p.simpleString}, ${v.simpleString})")
    }

  override def dataType: DataType = ArrayType(SkylineStatsExpr.StatsType, containsNull = false)

  override def nullable: Boolean = false

  private lazy val nullableElements = SkyRows.nullableElements(values)

  override def createAggregationBuffer(): SkyStatsBuffer = new SkyStatsBuffer()

  override def update(buf: SkyStatsBuffer, row: InternalRow): SkyStatsBuffer = {
    val p = pid.eval(row)
    if (p == null) throw new IllegalArgumentException(SkylineStats.NullPid)
    buf.add(prettyName, p.asInstanceOf[Int], values.eval(row).asInstanceOf[ArrayData],
      nullableElements)
    buf
  }

  override def merge(buf: SkyStatsBuffer, in: SkyStatsBuffer): SkyStatsBuffer = {
    SkyRows.sameDims(prettyName, buf.dims, in.dims)
    buf.absorb(in)
    buf
  }

  override def eval(buf: SkyStatsBuffer): Any =
    new GenericArrayData(buf.stats().map(s =>
      InternalRow(s.pid, s.c_rows, s.c_local, s.c_surv)))

  override def serialize(buf: SkyStatsBuffer): Array[Byte] = {
    val parts = buf.parts.toArray
    val body = 4L + parts.map(p => 12L + SkyBufferFormat.blockSize(p._2.sky)).sum
    val bb = SkyBufferFormat.start(SkyBufferFormat.StatsTag, body).putInt(parts.length)
    parts.foreach { case (id, p) =>
      bb.putInt(id).putLong(p.rows)
      SkyBufferFormat.writeBlock(bb, p.sky)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): SkyStatsBuffer = {
    val bb = SkyBufferFormat.open(prettyName, SkyBufferFormat.StatsTag, bytes)
    SkyBufferFormat.need(prettyName, bb, 4)
    val m = bb.getInt()
    SkyBufferFormat.check(prettyName, m >= 0)
    val buf = new SkyStatsBuffer()
    var i = 0
    while (i < m) {
      SkyBufferFormat.need(prettyName, bb, 12)
      val id = bb.getInt()
      val rows = bb.getLong()
      buf.parts(id) = new SkyStatsBuffer.Part(rows, SkyBufferFormat.readBlock(prettyName, bb))
      i += 1
    }
    SkyBufferFormat.finish(prettyName, bb)
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): SkylineStatsExpr =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): SkylineStatsExpr =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SkylineStatsExpr =
    copy(pid = newLeft, values = newRight)
}

object SkylineStatsExpr {
  /** One [[PartitionStats]] as a struct. */
  val StatsType: StructType = StructType(Seq(
    StructField("pid", IntegerType, nullable = false),
    StructField("c_rows", LongType, nullable = false),
    StructField("c_local", LongType, nullable = false),
    StructField("c_surv", LongType, nullable = false)))

  private[graft] def fromChildren(children: Seq[Expression]): SkylineStatsExpr =
    children match {
      case Seq(p, v) => SkylineStatsExpr(p, v)
      case _ => throw new IllegalArgumentException(
        s"${GraftFunctions.SkylineStatsName}(pid int, values array<double>)")
    }
}

object SkylineStats {
  val NullPid = "skyline_stats: null partition id (the pid column must be non-null)"

  /** D4 optimality (reference formula: `FlinkSkyline.java:590-608`): the
    * sum of `c_surv / c_local` over partitions with a local skyline, taken
    * in pid order, divided by the FIXED partition count, so a partition
    * without one contributes 0 but stays in the denominator. */
  def optimality(stats: Seq[PartitionStats], partitions: Int): Double =
    stats.sortBy(_.pid).collect {
      case s if s.c_local > 0 => s.c_surv.toDouble / s.c_local
    }.sum / partitions

  /** The reference's emitted metrics record, byte for byte the hand-built
    * JSON of `FlinkSkyline.java:625-650`: query_id, record_count,
    * skyline_size (the survivors of every partition), optimality (%.4f)
    * and the four timings. Divergence D3: `query_latency_ms` is computed
    * by the reference but absent from its record, so it is absent here. */
  def record(queryId: String, recordCount: String, stats: Seq[PartitionStats],
             partitions: Int, ingestMs: Long, localMs: Long, globalMs: Long,
             totalMs: Long): String =
    String.format(java.util.Locale.US, RecordFmt, queryId, recordCount,
      Long.box(stats.map(_.c_surv).sum), Double.box(optimality(stats, partitions)),
      Long.box(ingestMs), Long.box(localMs), Long.box(globalMs), Long.box(totalMs))

  private val RecordFmt =
    "{\"query_id\": \"%s\", \"record_count\": %s, \"skyline_size\": %d, " +
      "\"optimality\": %.4f, \"ingestion_time_ms\": %d, " +
      "\"local_processing_time_ms\": %d, \"global_processing_time_ms\": %d, " +
      "\"total_processing_time_ms\": %d}"

  /** Column form: `skyline_stats($"pid", $"values")`, i.e.
    * `graft_skyline_stats`. Registered like [[SkylineAgg.skyline_agg]]:
    * only in the active (or default) session, so aggregate a frame of any
    * other session through `GraftFunctions.on(df)`. */
  def skyline_stats(pid: Column, values: Column): Column = {
    GraftFunctions.registerCurrent()
    call_function(GraftFunctions.SkylineStatsName, pid, values)
  }
}
