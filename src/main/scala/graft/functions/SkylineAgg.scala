package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

import graft.core.SkyBuffer
import graft.plans.GraftFunctions

/** `graft_skyline_agg(values: array<double>) -> array<array<double>>` — the
  * engine's centerpiece aggregate, native to Catalyst.
  *
  * A [[TypedImperativeAggregate]], so Spark plans it as a partial/final
  * `ObjectHashAggregate` pair and the two-phase MR-skyline structure comes
  * natively (SURVEY §4): `update` runs map-side per input partition (the
  * reference's local BNL phase, reference:
  * `java/org.main/FlinkSkyline.java:417-444`), only the local skylines
  * cross the shuffle, and `merge` reproduces the global BNL merge
  * (`FlinkSkyline.java:546-566`). At cluster scale this ships O(local
  * skyline) bytes per partition instead of O(data) — the whole point of the
  * MR-skyline design — and `ObjectHashAggregate` handles spill.
  *
  * `update` reads each row's coordinates straight from the input
  * `ArrayData` into one reused scratch array, which [[SkyBuffer.addCopy]]
  * copies only when the elimination filter keeps the row. Buffers are live
  * [[SkyBuffer]]s within a task and cross the shuffle in
  * [[SkyBufferFormat]]. The shipped buffer is bounded by `compactAt`
  * (≈ 2·s + 1024 points), and `merge` re-runs SFS past the threshold.
  *
  * A null input array is skipped. A null coordinate, or arrays of different
  * lengths within one group, fail the query by name; an input that is not
  * `array<double>` fails at analysis.
  */
case class SkylineAggExpr(child: Expression, mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[SkylineAggExpr.Buffer] with UnaryLike[Expression] {

  override def prettyName: String = GraftFunctions.SkylineAggName

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double> values, got ${other.simpleString}")
  }

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)

  override def nullable: Boolean = false

  private lazy val nullableElements = SkyRows.nullableElements(child)

  override def createAggregationBuffer(): SkylineAggExpr.Buffer =
    new SkylineAggExpr.Buffer(new SkyBuffer())

  override def update(buf: SkylineAggExpr.Buffer, row: InternalRow): SkylineAggExpr.Buffer = {
    val v = child.eval(row)
    if (v != null) {
      val known = if (buf.scratch != null) buf.scratch.length else buf.sky.dims
      buf.scratch = SkyRows.read(prettyName, v.asInstanceOf[ArrayData], known,
        buf.scratch, nullableElements)
      buf.sky.addCopy(buf.scratch)
    }
    buf
  }

  override def merge(buf: SkylineAggExpr.Buffer, in: SkylineAggExpr.Buffer): SkylineAggExpr.Buffer = {
    SkyRows.sameDims(prettyName, buf.sky.dims, in.sky.dims)
    buf.sky.absorb(in.sky)
    buf
  }

  override def eval(buf: SkylineAggExpr.Buffer): Any =
    new GenericArrayData(buf.sky.result().map(p => UnsafeArrayData.fromPrimitiveArray(p): Any))

  override def serialize(buf: SkylineAggExpr.Buffer): Array[Byte] = {
    val bb = SkyBufferFormat.start(SkyBufferFormat.AggTag, SkyBufferFormat.blockSize(buf.sky))
    SkyBufferFormat.writeBlock(bb, buf.sky)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): SkylineAggExpr.Buffer = {
    val bb = SkyBufferFormat.open(prettyName, SkyBufferFormat.AggTag, bytes)
    val sky = SkyBufferFormat.readBlock(prettyName, bb)
    SkyBufferFormat.finish(prettyName, bb)
    new SkylineAggExpr.Buffer(sky)
  }

  override def withNewMutableAggBufferOffset(offset: Int): SkylineAggExpr =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): SkylineAggExpr =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildInternal(newChild: Expression): SkylineAggExpr =
    copy(child = newChild)
}

object SkylineAggExpr {
  /** One group's buffer: the counted skyline and the row scratch array. */
  final class Buffer(val sky: SkyBuffer) {
    var scratch: Array[Double] = null
  }

  private[graft] def fromChildren(children: Seq[Expression]): SkylineAggExpr =
    children match {
      case Seq(v) => SkylineAggExpr(v)
      case _ => throw new IllegalArgumentException(
        s"${GraftFunctions.SkylineAggName}(values array<double>)")
    }
}

object SkylineAgg {
  /** Column form: `skyline_agg($"values")`, i.e. `graft_skyline_agg`.
    * The column resolves by name in the session that analyzes its plan,
    * and this registers the function only in the thread's active (or
    * default) session: aggregate a frame of any other session through
    * `GraftFunctions.on(df)`, as [[graft.operators.SkylineOps]] does. */
  def skyline_agg(values: Column): Column = {
    GraftFunctions.registerCurrent()
    call_function(GraftFunctions.SkylineAggName, values)
  }
}

/** Input rows of the skyline aggregates: one `array<double>` read into a
  * reused scratch array, failing by name on what would otherwise read as a
  * plausible point. */
private[graft] object SkyRows {
  val NullCoordinate = "null coordinate"
  val Ragged = "arrays of different lengths in one group"

  /** Can the child's array hold a null element? (`SkylineOps.vec` builds
    * arrays that cannot, which skips the per-element check.) */
  def nullableElements(child: Expression): Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  /** `arr` into `scratch` (reallocated only when its length differs).
    * `known` is the group's dimensionality so far, -1 before its first
    * row. */
  def read(fn: String, arr: ArrayData, known: Int, scratch: Array[Double],
           checkNulls: Boolean): Array[Double] = {
    val n = arr.numElements()
    if (known >= 0 && n != known) throw new IllegalArgumentException(
      s"$fn: $Ragged ($known and $n)")
    val out = if (scratch != null && scratch.length == n) scratch else new Array[Double](n)
    var i = 0
    while (i < n) {
      if (checkNulls && arr.isNullAt(i)) throw new IllegalArgumentException(
        s"$fn: $NullCoordinate at index $i")
      out(i) = arr.getDouble(i)
      i += 1
    }
    out
  }

  /** Two buffers of one group must agree on dimensionality (-1: empty). */
  def sameDims(fn: String, a: Int, b: Int): Unit =
    if (a >= 0 && b >= 0 && a != b) throw new IllegalArgumentException(
      s"$fn: $Ragged ($a and $b)")
}

/** The skyline aggregates' shipped buffer format. Big-endian:
  *
  *   - header: a format tag (one per aggregate), then the version;
  *   - the aggregate's body, built from blocks. A block is one
  *     [[SkyBuffer]]: `compactAt`, `skipped`, the entry count n and the
  *     dimensionality d (0 when n = 0), then per entry d doubles and a
  *     long count.
  *
  * Reading checks the tag, the version and every length, and fails by
  * name: foreign bytes (a Kryo buffer of an older release, say) or a
  * truncated buffer never decode to a plausible point. */
object SkyBufferFormat {
  val Version = 1
  val AggTag = 0x47534b41 // "GSKA"
  val StatsTag = 0x47534b53 // "GSKS"

  val Foreign = "not a buffer of this aggregate and format version"
  val Truncated = "truncated or malformed buffer"

  private val HeaderBytes = 8
  private val BlockHeaderBytes = 16

  def blockSize(b: SkyBuffer): Long =
    BlockHeaderBytes + b.points.length.toLong * (8L * math.max(b.dims, 0) + 8L)

  /** A buffer for `bodyBytes` after the header, header written. */
  def start(tag: Int, bodyBytes: Long): ByteBuffer = {
    val total = HeaderBytes + bodyBytes
    require(total <= Int.MaxValue - 16, s"skyline buffer of $total bytes is too large to ship")
    ByteBuffer.allocate(total.toInt).putInt(tag).putInt(Version)
  }

  def writeBlock(bb: ByteBuffer, b: SkyBuffer): Unit = {
    val n = b.points.length
    val d = math.max(b.dims, 0)
    bb.putInt(b.compactAt).putInt(b.skipped).putInt(n).putInt(d)
    var i = 0
    while (i < n) {
      val p = b.points(i)
      var k = 0
      while (k < d) { bb.putDouble(p(k)); k += 1 }
      bb.putLong(b.counts(i))
      i += 1
    }
  }

  /** The body after a checked header. */
  def open(fn: String, tag: Int, bytes: Array[Byte]): ByteBuffer = {
    if (bytes == null || bytes.length < HeaderBytes) throw corrupt(fn, Truncated)
    val bb = ByteBuffer.wrap(bytes)
    if (bb.getInt() != tag || bb.getInt() != Version) throw corrupt(fn, Foreign)
    bb
  }

  def readBlock(fn: String, bb: ByteBuffer): SkyBuffer = {
    need(fn, bb, BlockHeaderBytes)
    val compactAt = bb.getInt()
    val skipped = bb.getInt()
    val n = bb.getInt()
    val d = bb.getInt()
    check(fn, compactAt > 0 && skipped >= 0 && n >= 0 && d >= 0 && (n > 0 || d == 0))
    need(fn, bb, n.toLong * (8L * d + 8L))
    val pts = new ArrayBuffer[Array[Double]](n)
    val cnt = new ArrayBuffer[Long](n)
    var i = 0
    while (i < n) {
      val p = new Array[Double](d)
      var k = 0
      while (k < d) { p(k) = bb.getDouble(); k += 1 }
      pts += p
      val c = bb.getLong()
      check(fn, c > 0)
      cnt += c
      i += 1
    }
    val b = new SkyBuffer(pts, cnt, compactAt)
    b.skipped = skipped
    b
  }

  def need(fn: String, bb: ByteBuffer, bytes: Long): Unit =
    check(fn, bb.remaining() >= bytes)

  /** Every byte of the buffer must have been read. */
  def finish(fn: String, bb: ByteBuffer): Unit = check(fn, !bb.hasRemaining)

  def check(fn: String, ok: Boolean): Unit = if (!ok) throw corrupt(fn, Truncated)

  private def corrupt(fn: String, why: String) =
    new IllegalStateException(s"$fn: $why")
}
