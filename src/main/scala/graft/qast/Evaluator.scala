package graft.qast

import Ast._

/** QAST → row-closure compiler — the engine's second backend.
  *
  * The reference's "query polymorphism" compiles one AST two ways: to
  * SQL for the metadata store and to a JVM closure for row extraction
  * (`qast.clj:90-129`). Our primary backend is the Catalyst `Column`
  * (Compiler.scala), which serves both roles distributed; this closure
  * backend is the driver-local fast path for metadata-scale search
  * (sub-millisecond per row vs a per-request Spark job) and the
  * cross-check partner in tests, mirroring the reference's own
  * dual-backend test strategy (`eval.tex:199-205`).
  *
  * Semantics match the unified SURVEY.md §2.1.1 choices, i.e. the
  * `Column` backend exactly:
  *   - null handling is Spark/SQL three-valued logic: Kleene `&`/`|`/
  *     `!`, null-propagation elsewhere (NOT the reference closure's
  *     blanket nil-propagation, which diverged from its own SQL
  *     backend on `["|", null, true]`);
  *   - `~` is whole-string match; comparisons chain pairwise;
  *   - `/` is double division; `%` is rem;
  *   - `&&` is array overlap.
  *
  * Values: rows are `Map[String, Any]` with String / Long / Double /
  * Boolean / Seq / Map values (the shapes `DataFrame.collect` and JSON
  * produce). Numeric comparisons coerce Long/Double; mixed
  * number-vs-string comparisons yield null (row rejected), matching
  * Spark's cast-null behavior.
  */
object Evaluator {

  type Row = Map[String, Any]

  /** Compile to a closure returning the predicate value (null ⇒ row
    * rejected by `filter`, like SQL WHERE).
    */
  def compile(ast: Ast): Either[QastError, Row => Any] = ast match {
    case QNum(v, integral) =>
      val lit: Any = if (integral) v.toLong else v
      Right(_ => lit)
    case QStr(s) => Right(_ => s)
    case QBool(b) => Right(_ => b)
    case QNull => Right(_ => null)
    case QArr(items) =>
      mapEither(items)(compile).map(fs => row => fs.map(_(row)))
    case QObj(fields) =>
      mapEither(fields) { case (k, v) => compile(v).map(k -> _) }
        .map(fs => row => fs.map { case (k, f) => k -> f(row) }.toMap)
    case QOp(op, args) => compileOp(op, args)
  }

  def fromJson(json: String): Either[QastError, Row => Any] =
    Ast.parse(json).flatMap(compile)

  /** The closure-backend twin of `Compiler.compileFrame`: any root
    * frame verb (group / having / top / project) over materialized rows
    * (the `/find` metadata snapshot). QastBackendsSpec pins it row-equal
    * to the Column backend. Aggregate null semantics match SQL:
    * `count(expr)`/`distinct`/`sum`/`min`/`max`/`avg` ignore nulls;
    * sum/min/max of an all-null group is null; `["count"]` counts rows.
    * Grouping normalizes Long/Double numerically (SQL equality), but
    * emits each key's first raw value.
    */
  def frame(rows: Seq[Row], json: String): Either[QastError, Seq[Row]] =
    Ast.parse(json).flatMap(frameOf).flatMap { f =>
      // value-level type errors (map group key, sum over an array) are
      // "malformed query" like the Column backend's checked() — the
      // closure world has no schema, so the guard fires on the first
      // offending VALUE instead of the analyzer's type check
      try Right(f(rows))
      catch { case TypeGuard(msg) => Left(QastError(msg)) }
    }

  private def frameOf(ast: Ast)
      : Either[QastError, Seq[Row] => Seq[Row]] = ast match {
    case QOp("group", _) => groupOf(ast)
    case QOp("having", (g @ QOp("group", _)) :: predAst :: Nil) =>
      for { gf <- groupOf(g); pred <- compile(predAst) }
        yield (rows: Seq[Row]) => gf(rows).filter(r => pred(r) == true)
    case QOp("top", kAst :: QArr(sortAsts) :: inner :: Nil)
        if sortAsts.nonEmpty =>
      val kOk = kAst match {
        case QNum(v, true) if v >= 1 && v <= Int.MaxValue =>
          Right(v.toInt)
        case _ => Left(QastError("malformed query"))
      }
      for {
        k <- kOk
        sorts <- mapEither(sortAsts) {
          case QArr(QStr("desc") :: e :: Nil) => compile(e).map((_, false))
          case QArr(QStr("asc") :: e :: Nil) => compile(e).map((_, true))
          // same wrong-arity / bare direction-marker rejection as the
          // Column backend — the two must agree on what parses
          case QArr(QStr("desc" | "asc") :: _) | QStr("desc" | "asc") =>
            Left(QastError("malformed query"))
          case e => compile(e).map((_, true))
        }
        innerFn <- (inner match {
          case QOp("group" | "having" | "top" | "project", _) =>
            frameOf(inner)
          case _ => compile(inner).map(p =>
            (rows: Seq[Row]) => rows.filter(r => p(r) == true))
        })
      } yield (rows: Seq[Row]) => {
        // lexicographic multi-key sort matching Spark: asc = nulls
        // first (ordKey's class -1), desc = the reverse (nulls last);
        // ties beyond the keys are engine-undefined either way.
        // Keys are computed — and TYPE-GUARDED — for every row up
        // front, not inside the comparator: the sort never invokes a
        // comparator on 0/1-row input, which would let an array/map
        // sort key slip through here while the Column backend rejects
        // it statically; precomputing also evaluates each key once per
        // row instead of O(log n) times. (A type-invalid key over an
        // EMPTY frame remains accepted here — a schemaless backend
        // cannot see types that never materialize as values.)
        val kept = innerFn(rows)
        val keyed = kept.map(r => (r, sorts.map { case (f, _) =>
          ordKey(guardMapSort(f(r))) }))
        val ord: Ordering[(Row, Seq[(Int, BigDecimal, String)])] =
          (a, b) => {
            var i = 0
            var r = 0
            while (r == 0 && i < sorts.length) {
              val c = Ordering[(Int, BigDecimal, String)]
                .compare(a._2(i), b._2(i))
              r = if (sorts(i)._2) c else -c
              i += 1
            }
            r
          }
        keyed.sorted(ord).take(k).map(_._1)
      }
    case QOp("project", QArr(specAsts) :: rest)
        if specAsts.nonEmpty && rest.length <= 1 =>
      // the Compiler.compileFrame project twin: exactly the named
      // columns, spec order irrelevant to row equality (rows are Maps)
      for {
        specs <- mapEither(specAsts) {
          case QArr(QStr(name) :: e :: Nil) if name.nonEmpty =>
            compile(e).map(f => (name, f))
          case _ => Left(QastError("malformed query"))
        }
        _ <- if (specs.map(_._1).distinct.length == specs.length) Right(())
             else Left(QastError("malformed query"))
        innerFn <- (rest.headOption match {
          case None => Right((rows: Seq[Row]) => rows)
          case Some(inner @ QOp("group" | "having" | "top" | "project", _)) =>
            frameOf(inner)
          case Some(inner) => compile(inner).map(p =>
            (rows: Seq[Row]) => rows.filter(r => p(r) == true))
        })
      } yield (rows: Seq[Row]) => innerFn(rows)
        .map(r => specs.map { case (n, f) => n -> f(r) }.toMap)
    case _ => Left(QastError("malformed query"))
  }

  /** Maps are unorderable in Spark — a map-valued SORT key is an
    * analyzer rejection there; match it. Arrays DO order in Spark
    * (element-wise) but would fall into ordKey's string class here
    * (lexicographic on toString, [2,10] < [2,3]) — rather than
    * diverge silently, BOTH backends reject array sort keys
    * (compileFrame raises the matching analyzer error), so the
    * row-equal backend contract QastBackendsSpec pins holds by
    * rejection.
    */
  private def guardMapSort(a: Any): Any = a match {
    case _: Map[_, _] => throw TypeGuard("malformed query")
    case _: Seq[_] => throw TypeGuard("malformed query")
    case v => v
  }

  /** Thrown by the group closures when a value's shape has no Column-
    * backend equivalent (the analyzer would have rejected the plan);
    * caught in [[group]] and surfaced as the same "malformed query".
    */
  private final case class TypeGuard(msg: String)
    extends RuntimeException(msg)

  private def groupOf(ast: Ast)
      : Either[QastError, Seq[Row] => Seq[Row]] = ast match {
    case QOp("group", predAst :: QArr(keyAsts) :: aggAsts)
        if keyAsts.nonEmpty && aggAsts.nonEmpty =>
      for {
        pred <- compile(predAst)
        keys <- mapEither(keyAsts.zipWithIndex) { case (k, i) =>
          compile(k).map((Ast.pathName(k, s"k$i"), _))
        }
        aggs <- mapEither(aggAsts.zipWithIndex) { case (a, i) =>
          compileAgg(a, i)
        }
        all = keys.map(_._1) ++ aggs.map(_._1)
        // same collision rule as the Column backend (a dup would also
        // silently collapse in the row Map below)
        _ <- if (all.distinct.length == all.length) Right(())
             else Left(QastError("malformed query"))
      } yield (rows: Seq[Row]) => {
        import scala.math.Ordering.Implicits._
        val kept = rows.filter(r => pred(r) == true)
        kept.groupBy(r => keys.map { case (_, f) =>
          f(r) match {
            // maps are unorderable in Spark: the Column backend's
            // groupBy/orderBy rejects them at analysis — match it
            case m: Map[_, _] =>
              throw TypeGuard("malformed query")
            case v => norm(v)
          } })
          .toSeq.map { case (_, grp) =>
            (keys.map { case (n, f) => n -> f(grp.head) } ++
              aggs.map { case (n, f) => n -> f(grp) }).toMap
          }
          // key-ordered like the Column backend's orderBy
          .sortBy(r => keys.map { case (n, _) => ordKey(r(n)) })
      }
    case _ => Left(QastError("malformed query"))
  }

  private def compileAgg(ast: Ast, i: Int)
      : Either[QastError, (String, Seq[Row] => Any)] = ast match {
    case QArr(QStr("count") :: Nil) =>
      Right(("n", grp => grp.size.toLong))
    case QArr(QStr(fn) :: arg :: Nil) if Compiler.aggFns(fn) =>
      compile(arg).map { f =>
        val name = Compiler.aggName(ast, i)
        val agg: Seq[Row] => Any = grp => {
          val vals = grp.map(f).filter(_ != null)
          // numeric aggs operate on the CASTABLE subset only, like
          // the Column backend: Spark's sum/avg implicitly cast
          // string columns to double (parse-or-null — reachable here
          // through the open `extra` map, whose values are strings),
          // and a non-castable value drops out of numerator AND
          // denominator
          lazy val nums = vals.flatMap(castNum)
          // Column-backend type parity: sum/avg over an ARRAY or MAP
          // column and min/max over a MAP are analyzer rejections
          // there ("malformed query" via checked()); a STRING sum is
          // a cast-null, which the nums filter already models. sum
          // additionally rejects BOOLEANS (Spark's sum takes numeric
          // only — no implicit boolean cast), while avg accepts them
          // as 1/0 (its explicit double cast in the Column formula
          // casts booleans), so the boolean guard is sum-only.
          def guardNumeric(booleans: Boolean = false): Unit =
            vals.foreach {
              case _: Seq[_] | _: Map[_, _] =>
                throw TypeGuard("malformed query")
              case _: Boolean if !booleans =>
                throw TypeGuard("malformed query")
              case _ => ()
            }
          def guardOrdered(): Unit = vals.foreach {
            case _: Map[_, _] => throw TypeGuard("malformed query")
            case _ => ()
          }
          fn match {
            case "count" => vals.size.toLong
            case "count_distinct" =>
              // maps are un-DISTINCT-able in Spark (no equality on
              // MapType) — same analyzer-rejection parity as min/max
              guardOrdered()
              vals.map(norm).distinct.size.toLong
            case "sum" =>
              guardNumeric()
              if (nums.isEmpty) null
              // exact Long arithmetic for integral inputs — a Double
              // detour would round above 2^53 where sum(LongType)
              // stays exact
              else if (vals.forall(isIntegral))
                vals.collect {
                  case l: Long => l
                  case x: Int => x.toLong
                }.sum
              else nums.sum
            case "avg" =>
              guardNumeric(booleans = true)
              // the Column backend's exact-avg contract: 6dp-quantize
              // each value (HALF_UP on the shortest decimal repr —
              // BigDecimal(Double) ≡ Spark round()), sum exactly, ONE
              // double division by the castable count; booleans cast
              // 1/0 exactly as the Column formula's double cast does
              val avgNums = vals.flatMap(v => castNum(v).orElse(v match {
                case b: Boolean => Some(if (b) 1.0 else 0.0)
                case _ => None
              }))
              // the Column formula's decimal cast NULLs three classes
              // out of the NUMERATOR while count(q) keeps them in the
              // DENOMINATOR: NaN, Infinity (BigDecimal would throw on
              // both here), and finite values OVERFLOWING decimal(38,6)
              // (|v| >= 1e32: 32 integer digits + 6 scale digits busts
              // precision 38, non-ANSI cast -> null). An all-dropped
              // group has a null decimal sum -> null mean.
              val summable = avgNums
                .filter(d => !d.isNaN && !d.isInfinite)
                .map(BigDecimal(_)
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP))
                .filter(_.precision <= 38)
              if (avgNums.isEmpty || summable.isEmpty) null
              else summable.sum.toDouble / avgNums.size
            case "min" =>
              guardOrdered()
              if (vals.isEmpty) null else vals.minBy(ordKey)
            case "max" =>
              guardOrdered()
              if (vals.isEmpty) null else vals.maxBy(ordKey)
          }
        }
        (name, agg)
      }
    case _ => Left(QastError("malformed query"))
  }

  /** Sort key for min/max and the key ordering: nulls FIRST (Spark's
    * ascending default), then numbers, then NaN (Spark sorts NaN
    * after every number), then strings. Numbers key on BigDecimal —
    * a Double detour would compare Longs above 2^53 with lost
    * precision, diverging from the Column backend's exact LongType
    * ordering on large ids. */
  private def ordKey(a: Any): (Int, BigDecimal, String) = a match {
    case null => (-1, BigDecimal(0), "")
    case x: Long => (0, BigDecimal(x), "")
    case x: Int => (0, BigDecimal(x), "")
    case _ => num(a) match {
      case Some(d) if d.isNaN => (1, BigDecimal(0), "")
      case Some(d) if d.isPosInfinity => (0, BigDecimal("9e999"), "")
      case Some(d) if d.isNegInfinity => (0, BigDecimal("-9e999"), "")
      case Some(d) => (0, BigDecimal(d), "")
      case None => (2, BigDecimal(0), String.valueOf(a))
    }
  }

  /** Distinct/grouping canonicalization: SQL equality across Long and
    * Double (1 ≡ 1.0) WITHOUT funneling every Long through Double —
    * whole in-Long-range doubles normalize to the Long; everything
    * else keeps its exact value, so count_distinct cannot collapse
    * distinct Longs above 2^53.
    */
  private def norm(a: Any): Any = a match {
    case x: Long => x
    case x: Int => x.toLong
    case x: Double =>
      // Long.MaxValue.toDouble rounds UP to 2^63 — exclude it, or the
      // double 2^63 would alias to MaxValue = 2^63 - 1
      if (x.isWhole && x >= Long.MinValue.toDouble &&
        x < Long.MaxValue.toDouble) x.toLong
      else x
    case x: Float => norm(x.toDouble)
    case x: java.math.BigDecimal => norm(x.doubleValue)
    case _ => a
  }

  private def compileOp(op: String, args: List[Ast])
      : Either[QastError, Row => Any] = op match {
    case "$" => Left(QastError("malformed query"))
    case "." => compilePath(args)

    case "~" => binary(args) { (s, p) =>
      (s, p) match {
        case (s: String, p: String) => s.matches("(?s)" + nonCapturing(p))
        case _ => null
      }
    }

    case "+" => foldNum(args, _ + _, identity)
    case "-" => foldNum(args, _ - _, x => -x)
    case "*" => foldNum(args, _ * _, identity)
    case "/" => foldNum(args, _ / _, x => 1.0 / x, forceDouble = true)
    case "%" => binary(args) { (a, b) =>
      (num(a), num(b)) match {
        case (Some(x), Some(y)) =>
          if (isIntegral(a) && isIntegral(b)) (x.toLong % y.toLong): Any
          else x % y
        case _ => null
      }
    }

    case "==" => chained(args)(valueEq)
    case "!=" =>
      chained(args)(valueEq).map(f => (row: Row) => f(row) match {
        case b: Boolean => !b
        case _ => null
      })
    case ">" => chained(args)(cmp(_ > 0))
    case ">=" => chained(args)(cmp(_ >= 0))
    case "<" => chained(args)(cmp(_ < 0))
    case "<=" => chained(args)(cmp(_ <= 0))

    case "&&" => binary(args) { (a, b) =>
      (a, b) match {
        case (x: Seq[_], y: Seq[_]) => x.exists(y.contains)
        case _ => null
      }
    }

    case "&" => kleene(args, and = true)
    case "|" => kleene(args, and = false)
    case "!" => compile(args.head).map(f => (row: Row) => f(row) match {
      case b: Boolean => !b
      case _ => null
    })

    case _ => Left(QastError("malformed query"))
  }

  /** `[".", ["$"], "a", "b"]` — nested get through maps/seqs. */
  private def compilePath(args: List[Ast]): Either[QastError, Row => Any] = {
    def step(cur: Any, key: Ast): Any = (cur, key) match {
      case (null, _) => null
      case (m: Map[_, _], QStr(k)) =>
        m.asInstanceOf[Map[String, Any]].getOrElse(k, null)
      case (s: Seq[_], QNum(i, true)) =>
        if (i >= 0 && i < s.length) s(i.toInt) else null
      case _ => null
    }
    def validKey(k: Ast): Boolean = k match {
      case QStr(_) => true
      case QNum(_, true) => true
      case _ => false
    }
    args match {
      case QOp("$", Nil) :: rest if rest.nonEmpty && rest.forall(validKey) =>
        Right(row => rest.foldLeft(row: Any)(step))
      case QOp("$", Nil) :: _ => Left(QastError("malformed query"))
      case head :: rest if rest.forall(validKey) =>
        compile(head).map(f => (row: Row) => rest.foldLeft(f(row))(step))
      case _ => Left(QastError("malformed query"))
    }
  }

  // --- helpers -------------------------------------------------------

  private def nonCapturing(p: String) = "(?:" + p + ")"

  private def num(a: Any): Option[Double] = a match {
    case x: Long => Some(x.toDouble)
    case x: Int => Some(x.toDouble)
    case x: Double => Some(x)
    case x: Float => Some(x.toDouble)
    case x: java.math.BigDecimal => Some(x.doubleValue)
    case _ => None
  }

  /** [[num]] plus Spark's implicit string→double CAST — aggregates
    * only: sum/avg over a string column cast in the Column backend,
    * while comparisons deliberately do NOT (a string beside a number
    * is null there, see [[cmp]]). Mirrors Cast's ORDER exactly:
    * Double.parseDouble on the trimmed original FIRST (Java's grammar
    * accepts signed NaN/Infinity case-sensitively, e.g. "-NaN"), then
    * the case-insensitive special literals under Locale.ROOT (a
    * default-locale lowercase would mis-fold "INF" on Turkish-family
    * hosts), null on everything else. */
  private def castNum(a: Any): Option[Double] = num(a).orElse(a match {
    case s: String =>
      val t = s.trim
      scala.util.Try(t.toDouble).toOption.orElse(
        t.toLowerCase(java.util.Locale.ROOT) match {
          case "inf" | "+inf" | "infinity" | "+infinity" =>
            Some(Double.PositiveInfinity)
          case "-inf" | "-infinity" => Some(Double.NegativeInfinity)
          case "nan" => Some(Double.NaN)
          case _ => None
        })
    case _ => None
  })

  private def isIntegral(a: Any): Boolean = a match {
    case _: Long | _: Int => true
    case _ => false
  }

  private def longOf(a: Any): Long = a match {
    case x: Long => x
    case x: Int => x.toLong
    case other => sys.error(s"not integral: $other")
  }

  /** Equality mirrors Spark's type widening: two integrals compare
    * EXACTLY as Long (LongType = LongType never touches Double — the
    * Column backend is exact above 2^53); a mixed Long/Double pair
    * widens both to Double, exactly as Spark casts the LongType side
    * to DoubleType.
    */
  private def valueEq(a: Any, b: Any): Any =
    if (isIntegral(a) && isIntegral(b)) longOf(a) == longOf(b)
    else (num(a), num(b)) match {
      case (Some(x), Some(y)) => x == y
      case _ if a == null || b == null => null
      case _ => a == b
    }

  private def cmp(ok: Int => Boolean)(a: Any, b: Any): Any =
    if (isIntegral(a) && isIntegral(b))
      ok(java.lang.Long.compare(longOf(a), longOf(b)))
    else (num(a), num(b)) match {
      case (Some(x), Some(y)) => ok(x.compareTo(y))
      case _ => (a, b) match {
        case (x: String, y: String) => ok(x.compareTo(y))
        case _ => null
      }
    }

  private def binary(args: List[Ast])(f: (Any, Any) => Any)
      : Either[QastError, Row => Any] =
    for { a <- compile(args.head); b <- compile(args(1)) }
      yield (row: Row) => {
        val (x, y) = (a(row), b(row))
        if (x == null || y == null) null else f(x, y)
      }

  private def foldNum(args: List[Ast], two: (Double, Double) => Double,
      one: Double => Double, forceDouble: Boolean = false)
      : Either[QastError, Row => Any] =
    mapEither(args)(compile).map { fs => (row: Row) =>
      val vals = fs.map(_(row))
      if (vals.exists(_ == null)) null
      else {
        val nums = vals.map(num)
        if (nums.exists(_.isEmpty)) null
        else {
          val ds = nums.map(_.get)
          val result = ds match {
            case d :: Nil => one(d)
            case _ => ds.reduceLeft(two)
          }
          if (!forceDouble && vals.forall(isIntegral) && result.isWhole)
            result.toLong
          else result
        }
      }
    }

  /** Chained adjacent-pairs comparison AND-folded with 3VL. */
  private def chained(args: List[Ast])(pair: (Any, Any) => Any)
      : Either[QastError, Row => Any] =
    mapEither(args)(compile).map { fs => (row: Row) =>
      val vals = fs.map(_(row))
      vals.zip(vals.tail).map { case (a, b) =>
        if (a == null || b == null) null else pair(a, b)
      }.foldLeft(true: Any)(kleeneAnd)
    }

  private def kleeneAnd(a: Any, b: Any): Any = (a, b) match {
    case (false, _) | (_, false) => false
    case (null, _) | (_, null) => null
    case (x: Boolean, y: Boolean) => x && y
    case _ => null
  }

  private def kleeneOr(a: Any, b: Any): Any = (a, b) match {
    case (true, _) | (_, true) => true
    case (null, _) | (_, null) => null
    case (x: Boolean, y: Boolean) => x || y
    case _ => null
  }

  private def kleene(args: List[Ast], and: Boolean)
      : Either[QastError, Row => Any] =
    mapEither(args)(compile).map { fs => (row: Row) =>
      fs.map(_(row)).foldLeft((if (and) true else false): Any)(
        if (and) kleeneAnd else kleeneOr)
    }

  private def mapEither[A, B](xs: List[A])(f: A => Either[QastError, B])
      : Either[QastError, List[B]] =
    xs.foldRight(Right(Nil): Either[QastError, List[B]]) { (x, acc) =>
      for { h <- f(x); t <- acc } yield h :: t
    }
}
