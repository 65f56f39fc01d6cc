package graft.engine

import org.apache.spark.sql.GraftFileScan
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.qast.{Ast, Compiler, Evaluator}
import graft.qast.Ast._

/** The closure backend over rows Spark's own reader parsed: the driver
  * path of `/extract` (see [[Extractor.serve]]). It evaluates only what
  * it evaluates exactly as Catalyst would:
  *   - [[modeled]] reader schemas: strings, longs, doubles, booleans,
  *     and arrays and structs of them (JSON inference also yields
  *     decimals, for integers beyond a long);
  *   - [[exact]] analyzed plans: filter, project, aggregate, sort and
  *     limit over the file relation, where every sort key, grouping key,
  *     comparison, min/max and distinct count is over a scalar type
  *     (Spark orders structs and arrays, the closure values do not),
  *     no cast makes a string of a double (Spark's formatting), a
  *     string cast beside a column (whose null Spark would still cast)
  *     only stands beside a constant, and no equality compares two
  *     columns;
  *   - [[plainPaths]]: a top-level column name that `col()` takes
  *     literally (no `.`, backtick or `*`).
  * Everything else takes the Spark path.
  */
private[engine] object ClosureScan {

  def modeled(dt: DataType): Boolean = dt match {
    case _: StringType | LongType | DoubleType | BooleanType => true
    case ArrayType(et, _) => modeled(et)
    case st: StructType => st.fields.forall(f => modeled(f.dataType))
    case _ => false
  }

  private def scalar(dt: DataType): Boolean = dt match {
    case _: StringType | LongType | IntegerType | DoubleType | BooleanType |
        NullType | _: DecimalType => true
    case _ => false
  }

  def exact(plan: LogicalPlan): Boolean = plan.find {
    case a: Aggregate =>
      !a.groupingExpressions.forall(e => scalar(e.dataType)) ||
        !a.expressions.forall(exact)
    case n @ (_: LogicalRelation | _: Filter | _: Project | _: Sort |
        _: GlobalLimit | _: LocalLimit) => !n.expressions.forall(exact)
    case _ => true
  }.isEmpty

  private def exact(e: Expression): Boolean =
    e.find(n => !closureNode(n)).isEmpty

  private def closureNode(e: Expression): Boolean = e match {
    case _: Literal | _: AttributeReference | _: Alias | _: GetStructField |
        _: GetArrayItem | _: Not | _: And | _: Or | _: RLike | _: Concat |
        _: Round | _: Count | _: Sum => true
    case c: Cast => scalar(c.child.dataType) && (c.dataType match {
      case _: StringType => c.child.dataType == LongType ||
        c.child.dataType == BooleanType
      case t => scalar(t)
    })
    // Catalyst infers predicates from an equality of two columns
    // (constraint propagation), and may then evaluate a cast on rows
    // the query itself would not
    case e: EqualTo if !e.left.foldable && !e.right.foldable => false
    case b @ (_: Add | _: Subtract | _: Multiply | _: Divide | _: Remainder |
        _: EqualTo | _: LessThan | _: LessThanOrEqual | _: GreaterThan |
        _: GreaterThanOrEqual) =>
      val Seq(l, r) = b.children
      scalar(l.dataType) && scalar(r.dataType) &&
        besideConstant(l, r) && besideConstant(r, l)
    case u: UnaryMinus => scalar(u.child.dataType)
    case m @ (_: Min | _: Max) => scalar(m.children.head.dataType)
    case a: AggregateExpression =>
      !a.isDistinct ||
        a.aggregateFunction.children.forall(c => scalar(c.dataType))
    case s: SortOrder => scalar(s.child.dataType)
    case o: ArraysOverlap => o.left.dataType match {
      case ArrayType(et, _) =>
        scalar(et) && !o.children.exists(_.isInstanceOf[Cast])
      case _ => false
    }
    case a: CreateArray => !a.children.exists(_.isInstanceOf[Cast])
    case s: CreateNamedStruct => !s.valExprs.exists(_.isInstanceOf[Cast])
    case _ => false
  }

  /** A string cast to a number or boolean stands beside a constant. */
  private def besideConstant(x: Expression, sibling: Expression): Boolean =
    x match {
      case c: Cast if c.child.dataType.isInstanceOf[StringType] =>
        sibling.foldable
      case _ => true
    }

  def plainPaths(ast: Ast): Boolean = ast match {
    case QOp(".", QOp("$", Nil) :: QStr(first) :: _) =>
      first != "*" && !first.exists(c => c == '.' || c == '`')
    case QOp(_, args) => args.forall(plainPaths)
    case QArr(items) => items.forall(plainPaths)
    case QObj(fields) => fields.forall(f => plainPaths(f._2))
    case _ => true
  }

  /** `ast` over rows parsed with `schema`, as `out`'s rows; None when
    * the closure backend rejects a shape the analyzer accepted. */
  def run(ast: Ast, schema: StructType, rows: IndexedSeq[InternalRow],
      out: StructType): Option[Seq[InternalRow]] = {
    val views = rows.map(new RowView(schema, _))
    if (Compiler.isFrameVerb(ast))
      Evaluator.frame(views, ast).toOption
        .map(_.map(toCatalyst(_, out).asInstanceOf[InternalRow]))
    else Evaluator.compile(ast).toOption
      .map(p => views.filter(p(_) == true).map(_.row))
  }

  /** A parsed row as the closure backend's `Map` row. A field converts
    * when read (a predicate reads few columns), a struct nests as a
    * view, and a name resolves as Catalyst's case-insensitive resolver
    * resolves it (the analyzer has already rejected ambiguous ones). */
  final class RowView(schema: StructType, val row: InternalRow)
      extends scala.collection.immutable.AbstractMap[String, Any] {
    def get(key: String): Option[Any] = {
      GraftFileScan.fieldIndex(schema, key)
        .map(i => value(row, i, schema(i).dataType))
    }
    def iterator: Iterator[(String, Any)] = schema.fields.indices.iterator
      .map(i => schema(i).name -> value(row, i, schema(i).dataType))
    def removed(key: String): Map[String, Any] = Map.from(iterator) - key
    def updated[V1 >: Any](key: String, v: V1): Map[String, V1] =
      Map.from(iterator).updated(key, v)
  }

  private def value(g: SpecializedGetters, i: Int, dt: DataType): Any =
    if (g.isNullAt(i)) null
    else dt match {
      case _: StringType => g.getUTF8String(i).toString
      case LongType => g.getLong(i)
      case DoubleType => g.getDouble(i)
      case BooleanType => g.getBoolean(i)
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        List.tabulate(a.numElements)(value(a, _, et))
      case st: StructType => new RowView(st, g.getStruct(i, st.size))
    }

  /** A closure value as Catalyst holds a value of type `dt` (a long
    * where Spark widened to double becomes a double). */
  private def toCatalyst(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: String, _: StringType) => UTF8String.fromString(s)
    case (x: Long, LongType) => x
    case (x: Long, DoubleType) => x.toDouble
    case (x: Double, DoubleType) => x
    case (b: Boolean, BooleanType) => b
    case (xs: Seq[_], ArrayType(et, _)) =>
      new GenericArrayData(xs.map(toCatalyst(_, et)).toArray)
    case (m: Map[_, _], st: StructType) =>
      val fields = m.asInstanceOf[Map[String, Any]]
      new GenericInternalRow(st.fields.map(f =>
        toCatalyst(fields.getOrElse(f.name, null), f.dataType)))
    case _ => throw new IllegalStateException(s"closure value $v is not $dt")
  }
}
