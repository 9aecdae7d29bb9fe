package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}

/** Fused vector kernels as native Catalyst expressions with codegen.
  *
  * The HOF formulation (`aggregate(zip_with(a, b, _*_), 0d, _+_)`)
  * materializes an intermediate array per row-pair — fine for one
  * distance per row, ruinous for self-join near-dup where it runs per
  * PAIR. These kernels generate a tight primitive loop instead (no
  * allocation, stays inside whole-stage codegen).
  *
  * Summation semantics are identical to the HOF form and the DuckDB
  * oracle: strict left-to-right double accumulation — results are
  * bit-for-bit the same (equivalence-tested in VectorFunctionsSpec).
  * Null array elements are not expected (embeddings are dense); lengths
  * are clamped to the shorter input.
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  // callers (VectorFunctions) always cast both children to array<double>
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** A query constant the optimizer must not fold: evaluates to its
  * child and generates the child's code (an array literal is a
  * reference object, the same source for every value), but is not
  * `foldable`. Without it ConstantFolding turns an expression over the
  * constant alone — ‖q‖ in the cosine distance — into a double literal
  * that codegen inlines into the generated source, so every new query
  * vector compiles new classes. Over it, such an expression stays a
  * per-row computation with the same arithmetic, bit for bit, and one
  * query shape compiles once. */
case class QueryConstant(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def foldable: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "query_constant"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static loop bodies shared by eval and codegen (same posture as
  * [[TextKernels]]). */
object VectorKernels {

  /** Spark `round(x, 0)` for doubles: decimal HALF_UP over the SHORTEST
    * decimal representation (`BigDecimal.valueOf`), exactly what
    * `Round`'s DoubleType branch computes — NOT `Math.round`, which
    * floors `x + 0.5` and disagrees on negative halves and on doubles
    * like 0.49999999999999994. */
  def sparkRound0(x: Double): Double =
    // NaN/Infinity pass through like Spark's Round (BigDecimal.valueOf
    // would throw NumberFormatException)
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()

  /** One-pass int8-quantization audit over a dense `array<double>`:
    * scale = 127/max|v| (1 when the vector is all-zero — ANSI-safe),
    * q_i = round(v_i·scale), returns (Σ|q_i|, ‖v − q/scale‖₂).
    * Identical arithmetic and accumulation order to the HOF chain
    * `array_max/transform/aggregate` + the L2 kernel, with zero
    * intermediate arrays (the HOF form materializes four per row and
    * interprets every lambda). Empty arrays yield (0, 0.0) — the same
    * value the HOF chain's empty-transform/aggregate produces. */
  def quantAudit(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) { val a = math.abs(arr.getDouble(i)); if (a > maxAbs) maxAbs = a; i += 1 }
    val scale = if (maxAbs == 0.0) 1.0 else 127.0 / maxAbs
    var absQ = 0L
    var s = 0.0
    i = 0
    while (i < n) {
      val x = arr.getDouble(i)
      val r = sparkRound0(x * scale)
      // the HOF twin's `.cast("long")` fails the job under ANSI for a
      // non-finite rounded value (NaN/Inf from corrupt inputs); (long)r
      // would silently emit 0 instead — fail loudly like ANSI does
      if (java.lang.Double.isNaN(r) || java.lang.Double.isInfinite(r))
        throw new ArithmeticException(
          s"quantize_audit: non-finite quantized value $r (input $x, scale $scale)")
      val q = r.toLong
      absQ += math.abs(q)
      val d = x - q.toDouble / scale
      s += d * d
      i += 1
    }
    new GenericInternalRow(Array[Any](absQ, math.sqrt(s)))
  }
}

/** `array<double> → struct<abs_q, err>` ([[VectorKernels.quantAudit]]):
  * the fused int8-quantization audit. */
case class QuantizeAuditExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("abs_q", LongType, nullable = false),
    StructField("err", DoubleType, nullable = false)))
  override def prettyName: String = "quantize_audit"

  override def nullSafeEval(input: Any): Any =
    VectorKernels.quantAudit(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.VectorKernels.quantAudit($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `array<double> → long`: sign-bit packing of the first min(64, n)
  * dimensions — bit i set iff vᵢ > 0. The binarized-embedding
  * compression used for Hamming-distance retrieval: 64 floats become
  * one word, distance becomes `bit_count(a ^ b)` (pure integer ops,
  * 32× smaller scans). */
case class SignPackExpr(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "sign_pack"

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), 64)
    var w = 0L
    var i = 0
    while (i < n) { if (x.getDouble(i) > 0) w |= (1L << i); i += 1 }
    w
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val w = ctx.freshName("w")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), 64);
         |long $w = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getDouble($i) > 0) $w |= (1L << $i);
         |}
         |${ev.value} = $w;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): Expression =
    copy(child = newChild)
}

/** Σ (aᵢ−bᵢ)² with the same left-to-right contract (callers sqrt it). */
case class SquaredL2Expr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_sq_l2"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { val d = x.getDouble(i) - y.getDouble(i); s += d * d; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
