package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `sorted_set_jaccard(a, b)` — exact set Jaccard of two SORTED
  * `array<bigint>` columns in one fused merge walk:
  * |distinct(a) ∩ distinct(b)| / |distinct(a) ∪ distinct(b)| as one
  * double division.
  *
  * Replaces `size(array_intersect(a, b)) / size(array_union(a, b))`
  * on the prefix-filter verification path (Dedup.ngramJaccardPrefix),
  * where those builtins construct TWO `SQLOpenHashSet`s per candidate
  * pair — the r17 stack samples put the whole verification stage in
  * `OpenHashSet.add/rehash`. The merge walk is O(|a|+|b|) with zero
  * allocation, and computes the identical set cardinalities: distinct
  * counting is what the builtins' hash sets do, dedup-on-the-fly is
  * what sortedness makes free. Division is the same int→double cast +
  * IEEE divide (empty∪empty ⇒ 0/0 ⇒ NaN, matching the builtin form's
  * `0.cast(double)/0`).
  *
  * PRECONDITION: both arrays are sorted ascending with non-null
  * elements — the shape `sort_array` over xxhash64 keys produces. The
  * element half is checked at analysis (the input type must be
  * `array<bigint>` with `containsNull = false`); the order is the
  * caller's: on unsorted input the counts are wrong, so keep the
  * builtin form there.
  */
case class SortedSetJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(LongType, false) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sorted_set_jaccard expects array<bigint> without nulls, got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    SortedSetJaccard.jaccard(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cls = SortedSetJaccard.getClass.getName.stripSuffix("$")
      s"${ev.value} = $cls.jaccard($a, $b);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedSetJaccard =
    copy(left = newLeft, right = newRight)
}

object SortedSetJaccard {

  /** The merge walk — shared by interpreted eval and codegen (the loop
    * is identical either way; one static call keeps the generated
    * method under the JIT inline budget).
    */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var inter = 0L
    var union = 0L
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) {
        inter += 1; union += 1
        while (i < n && a.getLong(i) == x) i += 1
        while (j < m && b.getLong(j) == y) j += 1
      } else if (x < y) {
        union += 1
        while (i < n && a.getLong(i) == x) i += 1
      } else {
        union += 1
        while (j < m && b.getLong(j) == y) j += 1
      }
    }
    while (i < n) {
      val x = a.getLong(i)
      union += 1
      while (i < n && a.getLong(i) == x) i += 1
    }
    while (j < m) {
      val y = b.getLong(j)
      union += 1
      while (j < m && b.getLong(j) == y) j += 1
    }
    inter.toDouble / union.toDouble
  }
}
