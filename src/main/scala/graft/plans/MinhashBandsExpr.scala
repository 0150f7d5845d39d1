package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  GenericInternalRow, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The `b` folded MinHash band keys of a token array in ONE native pass:
  * `graft_minhash_bands(tokens, n, b, r)` returns `array<bigint>` whose
  * element g is bit-for-bit the key
  * [[graft.operators.DedupOps.bandedKeys]] folds for band g from the
  * document's word-`n`-gram shingles (the [[Shingles]] join: tokens
  * i..i+n−1, null tokens skipped, single-space separator):
  *
  *   - signature slot j = min over shingles s of Spark's seed-42
  *     `xxhash64(j, s)` (`XXH64.hashInt`, then `hashUnsafeBytes` over the
  *     UTF-8 bytes) — MIN is duplicate-invariant, so no distinct;
  *   - band g = `xxhash64(g, m[g·r], …, m[g·r+r−1])` folded the same way.
  *
  * Each shingle's bytes are laid out once in a per-document buffer and
  * hashed `b·r` times in place: no shingle string, no shingle row, no
  * per-slot aggregate column. Fewer than `n` tokens yields an EMPTY
  * array, a null token array NULL — both explode to no keys, exactly the
  * documents the shingle-row path never emits a row for.
  *
  * Consume it through ONE `explode`: the generator evaluates it once per
  * document, whereas a projection that reads several elements could be
  * inlined per reference by projection collapse. */
case class MinhashBands(child: Expression, n: Int, b: Int, r: Int)
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _ if n < 1 || n > 1000 =>
        TypeCheckResult.TypeCheckFailure(s"n must be in 1..1000: $n")
      case _ if b < 1 || r < 1 || b.toLong * r > 10000 =>
        TypeCheckResult.TypeCheckFailure(
          s"bands × rows must be in 1..10000: b=$b r=$r")
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string> tokens, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "graft_minhash_bands"

  override def nullSafeEval(a: Any): Any =
    MinhashBands.bandsOf(a.asInstanceOf[ArrayData], n, b, r)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w => {
      val cls = MinhashBands.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"$cls.bandsOf($w, $n, $b, $r);"
    })

  override protected def withNewChildInternal(newChild: Expression): MinhashBands =
    copy(child = newChild)
}

object MinhashBands {
  /** Spark's `xxhash64` seed. */
  private val Seed = 42L
  private val Space = ' '.toByte

  /** Write shingle i — tokens i..i+n−1 that are not null, joined by single
    * spaces: `concat_ws(" ", …)`'s bytes, what [[Shingles]] emits — into
    * `buf` (sized for any shingle of the document); returns its length. */
  private def writeShingle(toks: Array[UTF8String], i: Int, n: Int,
                           buf: Array[Byte]): Int = {
    var len = 0
    var first = true
    var k = 0
    while (k < n) {
      val t = toks(i + k)
      if (t != null) {
        if (!first) { buf(len) = Space; len += 1 }
        t.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
        len += t.numBytes
        first = false
      }
      k += 1
    }
    len
  }

  /** The shared interpreted/codegen kernel (called from generated code:
    * keep the signature stable). */
  def bandsOf(w: ArrayData, n: Int, b: Int, r: Int): ArrayData = {
    val m = w.numElements() - n + 1
    if (m <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val toks = new Array[UTF8String](w.numElements())
    var cap = 0
    var i = 0
    while (i < toks.length) {
      if (!w.isNullAt(i)) { toks(i) = w.getUTF8String(i); cap += toks(i).numBytes + 1 }
      i += 1
    }
    val k = b * r
    val seeds = new Array[Long](k)
    val sig = new Array[Long](k)
    var j = 0
    while (j < k) { seeds(j) = XXH64.hashInt(j, Seed); sig(j) = Long.MaxValue; j += 1 }
    val buf = new Array[Byte](cap)
    i = 0
    while (i < m) {
      val len = writeShingle(toks, i, n, buf)
      j = 0
      while (j < k) {
        val h = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, seeds(j))
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    val keys = new Array[Long](b)
    var g = 0
    while (g < b) {
      var h = XXH64.hashInt(g, Seed)
      var t = 0
      while (t < r) { h = XXH64.hashLong(sig(g * r + t), h); t += 1 }
      keys(g) = h
      g += 1
    }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }

  private[plans] def fromChildren(children: Seq[Expression]): MinhashBands =
    children match {
      case Seq(w, n, b, r) if Seq(n, b, r).forall(p =>
          p.foldable && p.dataType == IntegerType) =>
        def v(p: Expression) = p.eval().asInstanceOf[Int]
        MinhashBands(w, v(n), v(b), v(r))
      case _ => throw new IllegalArgumentException(
        "graft_minhash_bands(tokens, n, b, r) needs foldable int n, b, r")
    }
}

/** Exact shingle-set overlap of two token arrays:
  * `graft_shingle_overlap(tokens_a, tokens_b, n)` returns
  * `struct<c_inter, sz_a, sz_b>` (all bigint) — the sizes of the two
  * DISTINCT word-`n`-gram shingle sets ([[Shingles]]' join) and of their
  * intersection, so |A∪B| = sz_a + sz_b − c_inter. The per-candidate
  * verify of the MinHash operators: it reads the two documents' texts
  * and nothing else, so no corpus-wide shingle table is ever built to
  * verify a handful of candidates. Fewer than `n` tokens is the empty
  * set; NULL when either token array is null. */
case class ShingleOverlap(left: Expression, right: Expression, n: Int)
    extends BinaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case _ if n < 1 || n > 1000 =>
        TypeCheckResult.TypeCheckFailure(s"n must be in 1..1000: $n")
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<string> token inputs, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def dataType: DataType = ShingleOverlap.Type

  override def nullable: Boolean = true

  override def prettyName: String = "graft_shingle_overlap"

  override def nullSafeEval(a: Any, b: Any): Any =
    ShingleOverlap.overlapOf(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cls = ShingleOverlap.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) " +
        s"$cls.overlapOf($a, $b, $n);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleOverlap =
    copy(left = newLeft, right = newRight)
}

object ShingleOverlap {
  val Type: StructType = StructType(Seq(
    StructField("c_inter", LongType, nullable = false),
    StructField("sz_a", LongType, nullable = false),
    StructField("sz_b", LongType, nullable = false)))

  private def shingleSet(w: ArrayData, n: Int): java.util.HashSet[UTF8String] = {
    val s = Shingles.shinglesOf(w, n)
    val set = new java.util.HashSet[UTF8String](math.max(16, s.numElements() * 2))
    var i = 0
    while (i < s.numElements()) { set.add(s.getUTF8String(i)); i += 1 }
    set
  }

  /** The shared interpreted/codegen kernel (called from generated code:
    * keep the signature stable). */
  def overlapOf(a: ArrayData, b: ArrayData, n: Int): InternalRow = {
    val sa = shingleSet(a, n)
    val sb = shingleSet(b, n)
    val (small, large) = if (sa.size <= sb.size) (sa, sb) else (sb, sa)
    var inter = 0L
    val it = small.iterator()
    while (it.hasNext) if (large.contains(it.next())) inter += 1
    new GenericInternalRow(Array[Any](inter, sa.size.toLong, sb.size.toLong))
  }

  private[plans] def fromChildren(children: Seq[Expression]): ShingleOverlap =
    children match {
      case Seq(a, b, n) if n.foldable && n.dataType == IntegerType =>
        ShingleOverlap(a, b, n.eval().asInstanceOf[Int])
      case _ => throw new IllegalArgumentException(
        "graft_shingle_overlap(tokens_a, tokens_b, n) needs a foldable int n")
    }
}
