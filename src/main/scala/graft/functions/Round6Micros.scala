package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** `round6_micros(x)` — a double rounded half-up at 6 decimals and
  * returned as EXACT integer micro-units (`round(x, 6) * 10⁶` as a
  * long), so a downstream `sum` aggregates a primitive long instead of
  * a DECIMAL(38,6).
  *
  * Replaces `round(d2, 6).cast("decimal(38,6)")` on the ADC scoring
  * path, where it ran once per (query, neighbor, subspace) candidate
  * row: that form pays BigDecimal-from-Double.toString TWICE per row
  * (once inside Round, once inside the decimal cast) plus a boxed
  * BigDecimal add per row in the sum buffer — the r17 stack samples
  * put a third of the ADC scan's busy time in
  * FloatingDecimal/BigDecimal. This expression does the ONE BigDecimal
  * rounding that defines the value (same `BigDecimal.valueOf` ⇒
  * shortest-decimal semantics, same HALF_UP — bit-identical to what
  * Spark's Round computes) and hands the sum a primitive.
  *
  * Value identity of the composed form: for micro-unit sums S below
  * 2⁵³ (every bounded-group ADC sum — M = 8 rows of d2 ≲ 10³ per
  * group), `sum(round6_micros(x)).cast(double) / 1e6` equals
  * `sum(round(x,6).cast(decimal(38,6))).cast(double)` bit for bit:
  * (double)S is exact, 10⁶ is exactly representable, and one IEEE
  * division is correctly rounded — the same value the decimal sum's
  * `toDouble` produces. Pinned by Round6MicrosSpec. NOT for
  * corpus-sized groups (a 10¹⁸-micro-unit sum would overflow long
  * where DECIMAL(38,6) keeps going) — those keep the decimal form.
  *
  * Two inputs throw where the decimal form may not. Non-finite input
  * (NaN, ±Inf) throws `NumberFormatException` from
  * `BigDecimal.valueOf`, before any rounding — unreachable on squared
  * distances of finite floats, and the decimal form's ANSI cast
  * errors there too. Finite input whose micro-units do not fit a long
  * (|round(x, 6)| · 10⁶ ≥ 2⁶³, i.e. |x| ≳ 9.2e12) throws
  * `ArithmeticException` from `longValueExact`, where DECIMAL(38,6)
  * keeps computing — unreachable on the bounded-group ADC path, whose
  * rows stay ≲ 10³.
  */
case class Round6Micros(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"round6_micros expects double, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    Round6Micros.micros(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val cls = Round6Micros.getClass.getName.stripSuffix("$")
      s"${ev.value} = $cls.micros($x);"
    })

  override protected def withNewChildInternal(newChild: Expression)
      : Round6Micros = copy(child = newChild)
}

object Round6Micros {

  /** One BigDecimal rounding — `valueOf` (shortest-decimal, exactly
    * Spark Round's semantics for double), HALF_UP at scale 6, unscaled
    * long. Shared by interpreted eval and codegen.
    */
  def micros(d: Double): Long =
    java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
}
