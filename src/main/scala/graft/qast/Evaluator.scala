package graft.qast

import Ast._

/** QAST → row-closure compiler — the engine's second backend.
  *
  * The reference's "query polymorphism" compiles one AST two ways: to
  * SQL for the metadata store and to a JVM closure for row extraction
  * (`qast.clj:90-129`). Our primary backend is the Catalyst `Column`
  * (Compiler.scala), which serves both roles distributed. This closure
  * backend serves both on the driver: metadata-scale search (`/find`
  * below the catalog cap) and content extraction of a blob smaller than
  * one file split (`/extract`, see `Extractor.serve`), sub-millisecond
  * per row instead of a per-request Spark job. It is also the
  * cross-check partner in tests, mirroring the reference's own
  * dual-backend test strategy (`eval.tex:199-205`).
  *
  * Semantics match the unified SURVEY.md §2.1.1 choices, i.e. the
  * `Column` backend exactly, under Spark's ANSI mode:
  *   - null handling is Spark/SQL three-valued logic: Kleene `&`/`|`/
  *     `!` (evaluated left to right, stopping where Spark's `And`/`Or`
  *     stop), null-propagation elsewhere (NOT the reference closure's
  *     blanket nil-propagation, which diverged from its own SQL
  *     backend on `["|", null, true]`);
  *   - `~` is whole-string match; comparisons chain pairwise;
  *   - `/` is double division; `%` is rem;
  *   - `&&` is array overlap, null when only a null could match.
  *
  * Values: rows are `Map[String, Any]` with String / Long / Double /
  * Boolean / Seq / Map values (the shapes `DataFrame.collect` and JSON
  * produce). A string next to a number or a boolean is cast the way
  * Spark's ANSI type coercion casts it: to BIGINT next to an integral
  * operand, to DOUBLE next to a fractional one, to BOOLEAN next to a
  * boolean. Numbers compare as Spark's doubles do (NaN equals NaN and
  * sorts last, -0.0 equals 0.0) and strings by code point (the order
  * of their UTF-8 bytes). Where Spark raises at run time — a string
  * that does not cast, a long overflow, a zero divisor, an index off
  * the array, an invalid regex, a decimal the average cannot hold —
  * this backend throws [[Failed]], which the endpoints answer as 400
  * "failed query".
  */
object Evaluator {

  type Row = Map[String, Any]

  /** A run-time failure where the Column backend fails too (see the
    * object doc): the query is well formed, but its data is not. */
  final case class Failed(message: String) extends RuntimeException(message)

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
    Ast.parse(json).flatMap(frame(rows, _))

  def frame(rows: Seq[Row], ast: Ast): Either[QastError, Seq[Row]] =
    frameOf(ast).flatMap { f =>
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
            // Spark normalizes a -0.0 key to 0.0 (NormalizeFloatingNumbers)
            (keys.map { case (n, f) => n -> (f(grp.head) match {
              case d: Double if d == 0.0 => 0.0
              case v => v
            }) } ++
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
          // Spark's sum/avg cast a string column to double (reachable
          // here through the open `extra` map, whose values are
          // strings, and through CSV columns); under ANSI a value that
          // does not cast fails the query, see castDouble
          lazy val nums = vals.flatMap(castNum)
          // Column-backend type parity: sum/avg over an ARRAY or MAP
          // column and min/max over a MAP are analyzer rejections
          // there ("malformed query" via checked()). sum
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
              // stays exact, and overflows fail as they do in Spark
              else if (vals.forall(isIntegral))
                vals.foldLeft(0L)((acc, v) =>
                  exact(Math.addExact(acc, longOf(v))))
              // from 0.0, as Spark's sum starts: 0.0 + -0.0 is 0.0
              else nums.foldLeft(0.0)(_ + _)
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
              // the Column formula's decimal cast NULLs NaN and
              // Infinity out of the NUMERATOR while count(q) keeps
              // them in the DENOMINATOR (BigDecimal would throw on
              // both here). A finite value or a sum OVERFLOWING
              // decimal(38,6) (|v| >= 1e32: 32 integer digits + 6
              // scale digits bust precision 38) fails, as the ANSI
              // cast and sum do. An all-dropped group has a null
              // decimal sum -> null mean.
              def fits(d: BigDecimal): BigDecimal =
                if (d.precision <= 38) d
                else throw Failed("NUMERIC_VALUE_OUT_OF_RANGE")
              val summable = avgNums
                .filter(d => !d.isNaN && !d.isInfinite)
                .map(d => fits(BigDecimal(d)
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP)))
              if (avgNums.isEmpty || summable.isEmpty) null
              else fits(summable.sum).toDouble / avgNums.size
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
    * ordering on large ids. Strings order by [[codePoints]]. */
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

  /** Spark orders strings by their UTF-8 bytes, i.e. by code point.
    * `String.compareTo` orders UTF-16 units instead, which puts a
    * supplementary character (a surrogate pair) before U+E000..U+FFFF.
    * Implicit here, so every ordering of [[ordKey]]s uses it. */
  private implicit val codePoints: Ordering[String] = (a, b) => {
    val n = math.min(a.length, b.length)
    var i = 0
    var r = 0
    while (r == 0 && i < n) {
      val (x, y) = (a.charAt(i), b.charAt(i))
      r = if (x == y) 0
        else if (Character.isSurrogate(x) == Character.isSurrogate(y)) x - y
        else if (Character.isSurrogate(x)) 1 else -1
      i += 1
    }
    if (r != 0) r else a.length - b.length
  }

  /** Spark groups and counts every NaN as one value; NaN != NaN here. */
  private case object NaNKey

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
      if (x.isNaN) NaNKey
      // Long.MaxValue.toDouble rounds UP to 2^63 — exclude it, or the
      // double 2^63 would alias to MaxValue = 2^63 - 1
      else if (x.isWhole && x >= Long.MinValue.toDouble &&
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

    case "~" => compileRegex(args)

    // one operand: `+` and `*` return it unchanged, like the Column
    // backend's foldArith
    case "+" => foldArith(args, arith(Math.addExact, _ + _), identity)
    case "-" => foldArith(args, arith(Math.subtractExact, _ - _), negate)
    case "*" => foldArith(args, arith(Math.multiplyExact, _ * _), identity)
    case "/" => mapEither(args)(compile).map {
      case f :: Nil => (row: Row) => quotient(List((_: Row) => 1.0, f), row)
      case fs => (row: Row) => quotient(fs, row)
    }
    case "%" =>
      for { a <- compile(args.head); b <- compile(args(1)) }
        yield (row: Row) => remainder(a, b, row)

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
        // Spark's arrays_overlap: true on a common non-null element,
        // else null when both arrays are non-empty and one holds a null
        case (x: Seq[_], y: Seq[_]) =>
          if (x.exists(e => e != null &&
              y.exists(f => f != null && sqlEquals(e, f)))) true
          else if (x.nonEmpty && y.nonEmpty &&
              (x.contains(null) || y.contains(null))) null
          else false
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

  /** `[".", ["$"], "a", "b"]` — nested get through maps/seqs. An index
    * off the array fails, as Spark's ANSI `GetArrayItem` does. */
  private def compilePath(args: List[Ast]): Either[QastError, Row => Any] = {
    def step(cur: Any, key: Ast): Any = (cur, key) match {
      case (null, _) => null
      case (m: Map[_, _], QStr(k)) =>
        m.asInstanceOf[Map[String, Any]].getOrElse(k, null)
      case (s: Seq[_], QNum(i, true)) =>
        if (i >= 0 && i < s.length) s(i.toInt)
        else throw Failed("INVALID_ARRAY_INDEX")
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

  /** `~`: whole-string DOTALL match. A literal pattern compiles once,
    * when the query compiles (an invalid one fails there); a computed
    * one once per distinct value. A long or boolean operand matches as
    * its text, as Spark casts it to a string. */
  private def compileRegex(args: List[Ast]): Either[QastError, Row => Any] = {
    val seen = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.regex.Pattern]()
    def pattern(p: String) = seen.computeIfAbsent(p, p =>
      try java.util.regex.Pattern.compile("(?s)" + nonCapturing(p))
      catch { case _: java.util.regex.PatternSyntaxException =>
        throw Failed("INVALID_PARAMETER_VALUE.PATTERN") })
    args(1) match {
      case QStr(p) => pattern(p)
      case _ =>
    }
    def text(v: Any): Option[String] = v match {
      case s: String => Some(s)
      case _: Long | _: Int | _: Boolean => Some(v.toString)
      case _ => None
    }
    binary(args) { (s, p) =>
      (text(s), text(p)) match {
        case (Some(s), Some(p)) => pattern(p).matcher(s).matches()
        case _ => null
      }
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

  private def cannotCast(s: String, to: String) =
    Failed(s"CAST_INVALID_INPUT: '$s' is not a $to")

  private val integral = "[+-]?[0-9]+".r

  /** Spark's ANSI string→BIGINT cast: the string trimmed of the
    * characters up to U+0020, an optional sign and ASCII digits,
    * within range; anything else ("12.5", "1e3", "NaN", "") fails. */
  private def castLong(s: String): Long = {
    val t = s.trim
    try if (integral.matches(t)) java.lang.Long.parseLong(t)
        else throw cannotCast(s, "BIGINT")
    catch { case _: NumberFormatException => throw cannotCast(s, "BIGINT") }
  }

  /** Spark's ANSI string→DOUBLE cast, in Cast's ORDER exactly:
    * Double.parseDouble on the original FIRST (Java's grammar trims,
    * and accepts signed NaN/Infinity case-sensitively, e.g. "-NaN"),
    * then the case-insensitive special literals under Locale.ROOT (a
    * default-locale lowercase would mis-fold "INF" on Turkish-family
    * hosts); anything else fails. */
  private def castDouble(s: String): Double =
    try java.lang.Double.parseDouble(s)
    catch { case _: NumberFormatException =>
      s.trim.toLowerCase(java.util.Locale.ROOT) match {
        case "inf" | "+inf" | "infinity" | "+infinity" =>
          Double.PositiveInfinity
        case "-inf" | "-infinity" => Double.NegativeInfinity
        case "nan" => Double.NaN
        case _ => throw cannotCast(s, "DOUBLE")
      }
    }

  /** Spark's string→BOOLEAN cast: trimmed, case-insensitive. */
  private def castBool(s: String): Boolean =
    s.trim.toLowerCase(java.util.Locale.ROOT) match {
      case "t" | "true" | "y" | "yes" | "1" => true
      case "f" | "false" | "n" | "no" | "0" => false
      case _ => throw cannotCast(s, "BOOLEAN")
    }

  /** [[num]] plus the string→double cast sum and avg apply to a string
    * column; None for anything else. */
  private def castNum(a: Any): Option[Double] = num(a).orElse(a match {
    case s: String => Some(castDouble(s))
    case _ => None
  })

  /** A string operand as Spark's ANSI coercion casts it next to
    * `other`: to BIGINT beside an integral, to DOUBLE beside a
    * fractional, to BOOLEAN beside a boolean; anything else as is. */
  private def besides(a: Any, other: Any): Any = a match {
    case s: String => other match {
      case _: Long | _: Int => castLong(s)
      case _: Double | _: Float => castDouble(s)
      case _: Boolean => castBool(s)
      case _ => s
    }
    case _ => a
  }

  private def isIntegral(a: Any): Boolean = a match {
    case _: Long | _: Int => true
    case _ => false
  }

  private def longOf(a: Any): Long = a match {
    case x: Long => x
    case x: Int => x.toLong
    case other => sys.error(s"not integral: $other")
  }

  /** Long arithmetic that overflows fails, as ANSI Spark's does. */
  private def exact(v: => Long): Long =
    try v catch { case _: ArithmeticException =>
      throw Failed("ARITHMETIC_OVERFLOW") }

  /** Spark's double comparison: NaN equals NaN and sorts above every
    * number, -0.0 equals 0.0. */
  private def compareDoubles(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** SQL equality of two values of one type: two integrals compare
    * EXACTLY as Long (LongType = LongType never touches Double — the
    * Column backend is exact above 2^53); a mixed Long/Double pair
    * widens both to Double, exactly as Spark casts the LongType side
    * to DoubleType.
    */
  private def sqlEquals(a: Any, b: Any): Boolean =
    if (isIntegral(a) && isIntegral(b)) longOf(a) == longOf(b)
    else (num(a), num(b)) match {
      case (Some(x), Some(y)) => compareDoubles(x, y) == 0
      case _ => a == b
    }

  private def valueEq(a: Any, b: Any): Any =
    sqlEquals(besides(a, b), besides(b, a))

  private def cmp(ok: Int => Boolean)(a0: Any, b0: Any): Any = {
    val (a, b) = (besides(a0, b0), besides(b0, a0))
    if (isIntegral(a) && isIntegral(b))
      ok(java.lang.Long.compare(longOf(a), longOf(b)))
    else (num(a), num(b)) match {
      case (Some(x), Some(y)) => ok(compareDoubles(x, y))
      case _ => (a, b) match {
        case (x: String, y: String) => ok(codePoints.compare(x, y))
        case (x: Boolean, y: Boolean) => ok(java.lang.Boolean.compare(x, y))
        case _ => null
      }
    }
  }

  /** One step of `+`, `-` or `*` on two non-null operands: exact Long
    * arithmetic on two integrals, Double arithmetic otherwise. */
  private def arith(long: (Long, Long) => Long,
      double: (Double, Double) => Double)(a0: Any, b0: Any): Any = {
    val (a, b) = (besides(a0, b0), besides(b0, a0))
    if (isIntegral(a) && isIntegral(b)) exact(long(longOf(a), longOf(b)))
    else (num(a), num(b)) match {
      case (Some(x), Some(y)) => double(x, y)
      case _ => null
    }
  }

  /** Unary `-`: Spark casts a string operand to DOUBLE. */
  private def negate(a: Any): Any = a match {
    case x: Long => exact(Math.negateExact(x))
    case x: Int => exact(Math.negateExact(x.toLong))
    case x: Double => -x
    case s: String => -castDouble(s)
    case _ => null
  }

  /** `/` over [[Compiler]]'s operands, each cast to double (strings by
    * the ANSI cast, booleans to 1/0). Like Spark's Divide it evaluates
    * the divisor first, and a zero divisor fails. */
  private def quotient(fs: List[Row => Any], row: Row): Any = {
    def double(v: Any): Any = v match {
      case s: String => castDouble(s)
      case b: Boolean => if (b) 1.0 else 0.0
      case _ => num(v).getOrElse(null)
    }
    fs match {
      case f :: Nil => double(f(row))
      case _ => double(fs.last(row)) match {
        case null => null
        case d: Double => quotient(fs.init, row) match {
          case null => null
          case _ if d == 0.0 => throw Failed("DIVIDE_BY_ZERO")
          case n: Double => n / d
        }
      }
    }
  }

  /** `%`: Long remainder on two integrals, Double otherwise; divisor
    * first and a zero divisor fails, as in Spark. */
  private def remainder(a: Row => Any, b: Row => Any, row: Row): Any =
    b(row) match {
      case null => null
      case y0 => a(row) match {
        case null => null
        case x0 =>
          val (x, y) = (besides(x0, y0), besides(y0, x0))
          if (isIntegral(x) && isIntegral(y))
            if (longOf(y) == 0) throw Failed("REMAINDER_BY_ZERO")
            else longOf(x) % longOf(y)
          else (num(x), num(y)) match {
            case (Some(_), Some(q)) if q == 0.0 =>
              throw Failed("REMAINDER_BY_ZERO")
            case (Some(p), Some(q)) => p % q
            case _ => null
          }
      }
    }

  private def binary(args: List[Ast])(f: (Any, Any) => Any)
      : Either[QastError, Row => Any] =
    for { a <- compile(args.head); b <- compile(args(1)) }
      yield (row: Row) => a(row) match {
        case null => null
        case x => b(row) match {
          case null => null
          case y => f(x, y)
        }
      }

  /** `+ - *` folded left, as the Column backend's `reduceLeft`: each
    * step evaluates its right operand only when its left is not null. */
  private def foldArith(args: List[Ast], two: (Any, Any) => Any,
      one: Any => Any): Either[QastError, Row => Any] =
    mapEither(args)(compile).map {
      case f :: Nil => (row: Row) => f(row) match {
        case null => null
        case v => one(v)
      }
      case f :: fs => (row: Row) => fs.foldLeft(f(row)) { (acc, g) =>
        if (acc == null) null
        else g(row) match {
          case null => null
          case v => two(acc, v)
        }
      }
      case Nil => (_: Row) => null // arity >= 1 is checked at parse
    }

  /** Chained adjacent-pairs comparison AND-folded with 3VL, evaluated
    * as Spark runs `a < b AND b < c`: a pair reads its right operand
    * only when its left is not null, and the chain stops at the first
    * false pair. */
  private def chained(args: List[Ast])(pair: (Any, Any) => Any)
      : Either[QastError, Row => Any] =
    mapEither(args)(compile).map { list =>
      val fs = list.toArray
      (row: Row) => {
        val vals = new Array[Any](fs.length)
        val read = new Array[Boolean](fs.length)
        def value(i: Int): Any = {
          if (!read(i)) { vals(i) = fs(i)(row); read(i) = true }
          vals(i)
        }
        var acc: Any = true
        var i = 0
        while (acc != false && i < fs.length - 1) {
          val p = value(i) match {
            case null => null
            case a => value(i + 1) match {
              case null => null
              case b => pair(a, b)
            }
          }
          acc = kleeneAnd(acc, p)
          i += 1
        }
        acc
      }
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

  /** `&` / `|` folded left to right, stopping at the first operand
    * that decides (false for `&`, true for `|`) as Spark's And/Or do. */
  private def kleene(args: List[Ast], and: Boolean)
      : Either[QastError, Row => Any] =
    mapEither(args)(compile).map { fs => (row: Row) =>
      val decided: Any = !and
      var acc: Any = and
      val it = fs.iterator
      while (acc != decided && it.hasNext) {
        val v = it.next()(row)
        acc = if (and) kleeneAnd(acc, v) else kleeneOr(acc, v)
      }
      acc
    }

  private def mapEither[A, B](xs: List[A])(f: A => Either[QastError, B])
      : Either[QastError, List[B]] =
    xs.foldRight(Right(Nil): Either[QastError, List[B]]) { (x, acc) =>
      for { h <- f(x); t <- acc } yield h :: t
    }
}
