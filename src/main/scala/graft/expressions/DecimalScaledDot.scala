package graft.expressions

import org.apache.spark.sql.FloatArrayBinaryInputTypes
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Exact "decimal dot product" of two float arrays via scaled-long
  * arithmetic, returning the SAME double as
  * `CAST(Σ CAST(x AS DECIMAL(12,6)) * CAST(y AS DECIMAL(12,6)) AS DOUBLE)`:
  *
  * - a float's value times 10^6 is exactly representable in double
  *   (24-bit mantissa × 20-bit scale < 2^53), so the DECIMAL(12,6)
  *   rounding is reproduced by `floor(|x·10⁶| + 0.5)` with the sign
  *   restored (HALF_UP = half-away-from-zero);
  * - products of two scaled values are exact 12-decimal integers in
  *   longs (|li·mi| < 2^46 even summed over thousands of dims);
  * - the final `sum / 1e12` is one correctly-rounded double division of
  *   exactly-representable operands — identical to the decimal→double
  *   cast.
  *
  * Order-independent and engine-reproducible like the decimal
  * formulation, but a single codegen'd loop (~40× less work than
  * interpreted BigDecimal lambdas). Equivalence is spec-enforced
  * against `graft.functions.decimalDot`.
  */
case class DecimalScaledDot(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayBinaryInputTypes {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "decimal_scaled_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    DecimalScaledDotImpl.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.DecimalScaledDotImpl.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DecimalScaledDot =
    copy(left = newLeft, right = newRight)
}

object DecimalScaledDotImpl {
  private def scale6(x: Float): Long = {
    val xs = x.toDouble * 1e6 // exact: 24-bit mantissa x 10^6 < 2^53
    if (xs >= 0) math.floor(xs + 0.5).toLong else -math.floor(-xs + 0.5).toLong
  }

  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var sum = 0L
    var i = 0
    while (i < n) {
      sum += scale6(a.getFloat(i)) * scale6(b.getFloat(i))
      i += 1
    }
    sum.toDouble / 1e12
  }
}
