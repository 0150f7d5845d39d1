package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd dot product over two `array<double>` columns.
  *
  * The higher-order-function formulation (`aggregate(zip_with(a, b, *))`)
  * is evaluated interpreted — lambda closures per element, no whole-stage
  * codegen — which made pairwise similarity the hot spot of the ANN/near-dup
  * operators. This expression compiles to a tight primitive loop over the
  * unsafe array data (identical left-to-right summation order, so results
  * and the DuckDB oracles are unchanged).
  *
  * Inputs must already be `array<double>` (callers widen `array<float>`
  * with a cast — exact); checked at analysis time.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects two array<double> inputs, got " +
            s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def dataType: DataType = DoubleType

  // Null on length mismatch (like the zip_with+aggregate formulation this
  // replaced, whose null-padding poisons the sum): a dims drift between an
  // embedding and a hyperplane literal must surface as a visible null, not
  // a plausible-but-wrong truncated partial sum.
  override def nullable: Boolean = true

  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Registration of graft's native expressions into a session's function
  * registry, so column code can reach them via `call_function`. Uses the
  * internal `sessionState.functionRegistry` (the same registry
  * `SparkSessionExtensions.injectFunction` feeds) — isolated here, and
  * pinned to the Spark 4.x line like the native expressions it lists. */
object GraftFunctions {
  val DotName = "graft_dot"
  val ZOrderName = "graft_zorder"
  val LshBucketsName = "graft_lsh_buckets"
  val CellDistsName = "graft_cell_dists"
  val WavEnergiesName = "graft_wav_energies"
  val WavWinEnergiesName = "graft_wav_win_energies"
  val BmpCellsName = "graft_bmp_cells"
  val ShinglesName = "graft_shingles"
  val MinhashBandsName = "graft_minhash_bands"
  val ShingleOverlapName = "graft_shingle_overlap"
  val SkylineAggName = "graft_skyline_agg"
  val SkylineStatsName = "graft_skyline_stats"

  /** The native-function catalog, one entry per expression — shared by
    * the in-process [[register]] path and the `spark.sql.extensions`
    * path ([[GraftExtensions]]) so both install identical builders. */
  private[plans] val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier(DotName),
      new ExpressionInfo(classOf[DotProduct].getName, DotName),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))),
    (FunctionIdentifier(ZOrderName),
      new ExpressionInfo(classOf[ZOrder2].getName, ZOrderName),
      (children: Seq[Expression]) => ZOrder2(children(0), children(1))),
    (FunctionIdentifier(LshBucketsName),
      new ExpressionInfo(classOf[LshBuckets].getName, LshBucketsName),
      (children: Seq[Expression]) => LshBuckets.fromChildren(children)),
    (FunctionIdentifier(CellDistsName),
      new ExpressionInfo(classOf[CellDists].getName, CellDistsName),
      (children: Seq[Expression]) => CellDists.fromChildren(children)),
    (FunctionIdentifier(WavEnergiesName),
      new ExpressionInfo(classOf[WavEnergies].getName, WavEnergiesName),
      (children: Seq[Expression]) => WavEnergies.fromChildren(children)),
    (FunctionIdentifier(WavWinEnergiesName),
      new ExpressionInfo(classOf[WavWinEnergies].getName, WavWinEnergiesName),
      (children: Seq[Expression]) => WavWinEnergies.fromChildren(children)),
    (FunctionIdentifier(BmpCellsName),
      new ExpressionInfo(classOf[BmpCells].getName, BmpCellsName),
      (children: Seq[Expression]) => BmpCells.fromChildren(children)),
    (FunctionIdentifier(ShinglesName),
      new ExpressionInfo(classOf[Shingles].getName, ShinglesName),
      (children: Seq[Expression]) => Shingles.fromChildren(children)),
    (FunctionIdentifier(MinhashBandsName),
      new ExpressionInfo(classOf[MinhashBands].getName, MinhashBandsName),
      (children: Seq[Expression]) => MinhashBands.fromChildren(children)),
    (FunctionIdentifier(ShingleOverlapName),
      new ExpressionInfo(classOf[ShingleOverlap].getName, ShingleOverlapName),
      (children: Seq[Expression]) => ShingleOverlap.fromChildren(children)),
    (FunctionIdentifier(SkylineAggName),
      new ExpressionInfo(classOf[graft.functions.SkylineAggExpr].getName, SkylineAggName),
      (children: Seq[Expression]) => graft.functions.SkylineAggExpr.fromChildren(children)),
    (FunctionIdentifier(SkylineStatsName),
      new ExpressionInfo(classOf[graft.functions.SkylineStatsExpr].getName, SkylineStatsName),
      (children: Seq[Expression]) => graft.functions.SkylineStatsExpr.fromChildren(children)))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) {
        registry.registerFunction(id, info, builder)
      }
    }
  }

  /** Register on the Dataset's OWN session and return it unchanged — the
    * multi-session-safe entry-point form: a `call_function("graft_*", …)`
    * column is resolved by the session that analyzes the plan it lands
    * in, i.e. `ds.sparkSession`, which in a multi-session app (or a pool
    * thread whose ACTIVE session is someone else's) need not be the
    * thread-ambient session [[registerCurrent]] reaches. Every operator
    * that has the frame in hand goes through this. */
  def on[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] = {
    register(ds.sparkSession); ds
  }

  /** Registration fallback for PURE COLUMN BUILDERS, which carry no
    * session: register on the thread's active session, falling back to
    * the process default (column construction from a pool thread has no
    * active session but usually a default one — without the fallback the
    * first action fails with 'Undefined function graft_*'). SINGLE-
    * SESSION ASSUMPTION: this reaches the right registry only when the
    * frame the column is later applied to belongs to the thread-ambient
    * session — in a multi-session app, prefer the [[on]] form at the
    * operator entry point (all in-library DataFrame operators do), or
    * configure [[GraftExtensions]] so every session is born registered.
    * A builder invoked with NO session anywhere stays unregistered —
    * resolution then happens against whatever session analyzes the plan,
    * which is what [[GraftExtensions]] / an operator-level [[register]]
    * covers. */
  def registerCurrent(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(register)
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` — the public
  * deployment path: every session built with this class configured gets
  * graft's native expressions in its function registry (SQL and
  * `call_function` both resolve them) with no imperative register call.
  * The in-library operators still call [[GraftFunctions.register]]
  * defensively, so either wiring works. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach(ext.injectFunction)
}
