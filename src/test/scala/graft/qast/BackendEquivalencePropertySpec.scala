package graft.qast

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** Property-based cross-backend equivalence: for random valid QAST
  * predicates over random rows, the Catalyst Column backend and the
  * closure backend must keep exactly the same rows. This generalizes
  * QastBackendsSpec's fixed predicate list into a search over the
  * semantic space (coercions, null logic, chaining, arity-1 forms).
  */
class BackendEquivalencePropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(60), p)
    assert(res.passed, res.status.toString)
  }

  // rows: (id, a, b, c: Long, s: String, n: nullable Long,
  // t: numeric string — integral, signed, padded, fractional and
  // non-numeric by id % 8)
  private val rows
      : Seq[(Long, Long, Long, Long, String, Option[Long], String)] =
    (0L until 24L).map { i =>
      // newline-bearing values pin the `~` semantics both backends
      // must share: DOTALL `.` and absolute \A..\z anchoring (a
      // trailing \n must NOT satisfy a pattern without it)
      (i, i % 5 - 2, i % 7, i % 3,
        Seq("alpha", "beta\n", "ga\nmma", "x1", "gamma", "beta")( (i % 6).toInt ),
        if (i % 4 == 0) None else Some(i % 6 - 1),
        Seq("12", "-3", "+4", " 7 ", "2.5", "\t1", "abc", "")((i % 8).toInt))
    }

  private lazy val df = rows
    .toDF("id", "a", "b", "c", "s", "n", "t").cache()

  private val localRows: Seq[Evaluator.Row] = rows.map { r =>
    Map[String, Any]("id" -> r._1, "a" -> r._2, "b" -> r._3, "c" -> r._4,
      "s" -> r._5, "n" -> r._6.map(x => x: Any).getOrElse(null),
      "t" -> r._7)
  }

  // --- predicate generator -------------------------------------------

  private val numField: Gen[String] = Gen.oneOf("a", "b", "c", "n")
    .map(f => s"""[".", ["$$"], "$f"]""")
  private val strField: Gen[String] =
    Gen.const("""[".", ["$"], "s"]""")

  private def numExpr(depth: Int): Gen[String] =
    if (depth <= 0) Gen.oneOf(numField, Gen.chooseNum(-3, 7).map(_.toString))
    else Gen.frequency(
      3 -> numExpr(0),
      1 -> Gen.zip(numExpr(depth - 1), numExpr(depth - 1))
        .flatMap { case (x, y) =>
          Gen.oneOf("+", "-", "*").map(op => s"""["$op", $x, $y]""") },
      1 -> numExpr(depth - 1).map(x => s"""["-", $x]"""))

  // `t` beside a number casts as Spark's ANSI coercion casts it: to
  // BIGINT beside an integral (ids % 8 < 4 hold integral text), to
  // DOUBLE beside a fractional (ids % 8 < 6 hold numeric text); an
  // unguarded comparison reaches text that does not cast and fails
  private val numStr: Gen[String] = {
    val t = """[".", ["$"], "t"]"""
    def under(k: Int, p: String) =
      s"""["&", ["<", ["%", [".", ["$$"], "id"], 8], $k], $p]"""
    Gen.zip(Gen.oneOf("==", "!=", "<", "<=", ">", ">="),
        Gen.chooseNum(-4, 13), Gen.oneOf("2.5", "-0.5", "7.0", "1.25"),
        Gen.oneOf(0, 1, 2))
      .map { case (op, i, d, form) => form match {
        case 0 => under(4, s"""["$op", $t, $i]""")
        case 1 => under(6, s"""["$op", $d, $t]""")
        case _ => s"""["$op", $t, $i]"""
      } }
  }

  private def pred(depth: Int): Gen[String] = {
    val leaf: Gen[String] = Gen.frequency(
      1 -> numStr,
      3 -> Gen.zip(numExpr(1), numExpr(1)).flatMap { case (x, y) =>
        Gen.oneOf("==", "!=", "<", "<=", ">", ">=")
          .map(op => s"""["$op", $x, $y]""") },
      1 -> Gen.zip(numExpr(0), numExpr(0), numExpr(0))
        .map { case (x, y, z) => s"""["<", $x, $y, $z]""" },
      1 -> Gen.oneOf("alpha", "beta", "ga.*", "a.+a", "x\\d", "ga.mma",
          "beta.", ".*")
        .flatMap(p => strField.map(f => s"""["~", $f, "$p"]""")))
    if (depth <= 0) leaf
    else Gen.frequency(
      2 -> leaf,
      1 -> Gen.zip(pred(depth - 1), pred(depth - 1))
        .map { case (x, y) => s"""["&", $x, $y]""" },
      1 -> Gen.zip(pred(depth - 1), pred(depth - 1))
        .map { case (x, y) => s"""["|", $x, $y]""" },
      1 -> pred(depth - 1).map(x => s"""["!", $x]"""))
  }

  test("property: both backends keep identical row ids on random predicates") {
    import scala.util.{Failure, Success, Try}
    check(Prop.forAll(pred(3)) { json =>
      val colPred = Compiler.fromJson(json)
      val cloPred = Evaluator.fromJson(json)
      (colPred.isRight == cloPred.isRight) && {
        colPred match {
          case Left(_) => true
          case Right(c) =>
            val dist = Try(df.filter(c).select("id")
              .collect().map(_.getLong(0)).toSet)
            val f = cloPred.toOption.get
            val local = Try(localRows
              .filter(r => f(r) == true).map(_("id").asInstanceOf[Long]).toSet)
            (dist, local) match {
              case (Success(d), Success(l)) =>
                if (d != l) info(s"diverged on $json: column=$d closure=$l")
                d == l
              // a value that does not cast fails both backends
              case (Failure(_), Failure(e)) => e.isInstanceOf[Evaluator.Failed]
              case (Failure(e), Success(l)) =>
                info(s"only the Column backend failed on $json: $l, $e")
                false
              // Catalyst may skip an operand the closure evaluates
              // (constant folding, cached-batch pruning), so only the
              // closure may fail; served extraction then asks Spark
              case (Success(_), Failure(e)) => e.isInstanceOf[Evaluator.Failed]
            }
        }
      }
    })
  }
}
