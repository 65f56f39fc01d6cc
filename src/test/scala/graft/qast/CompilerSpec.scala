package graft.qast

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** QAST parser + compiler semantics, including the exact ASTs from the
  * reference's `test/comlake/core/qast_test.clj` (asserted on filtered
  * results rather than generated SQL strings).
  */
class CompilerSpec extends SparkSpec {
  import spark.implicits._

  private def eval(json: String, df: org.apache.spark.sql.DataFrame) =
    df.filter(Compiler.fromJson(json).fold(e => throw e, identity))

  test("malformed: bad arity rejected like qast.clj:56-60") {
    assert(Ast.parse("""["%", 1]""").isLeft)
    assert(Ast.parse("""["~", "a"]""").isLeft)
    assert(Ast.parse("""["!", true, false]""").isLeft)
    assert(Ast.parse("""["$", 1]""").isLeft)
    assert(Ast.parse("""not json""").isLeft)
  }

  test("group verb: rollup over a frame; malformed shapes rejected") {
    val df = Seq(("a", 1L, 10.0), ("a", 2L, 30.0), ("b", 3L, 20.0))
      .toDF("k", "id", "v")
    val got = Compiler.frameFromJson(
      """["group", true, [[".", ["$"], "k"]],
          ["count"], ["sum", [".", ["$"], "id"]],
          ["avg", [".", ["$"], "v"]]]""")
      .fold(e => throw e, identity).apply(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == Seq(("a", 2L, 3L, 20.0), ("b", 1L, 3L, 20.0)))
    // arity is parse-time, like every reference operator
    assert(Ast.parse("""["group", true, [[".", ["$"], "a"]]]""").isLeft)
    // empty key list, unknown aggregate, bare agg array: malformed
    assert(Compiler.frameFromJson(
      """["group", true, [], ["count"]]""").isLeft)
    assert(Compiler.frameFromJson(
      """["group", true, [[".", ["$"], "a"]],
          ["median", [".", ["$"], "b"]]]""").isLeft)
    assert(Compiler.frameFromJson(
      """["group", true, [[".", ["$"], "a"]], "count"]""").isLeft)
    // BELOW the root, "group" is NOT an operator: a data array that
    // happens to start with the word keeps parsing as a literal, so
    // pre-extension predicates cannot silently break (the head-
    // collision hazard "$"/"~" don't have but an English word does)
    val lit = Ast.parse(
      """["==", [".", ["$"], "topics"], ["group", "a"]]""")
    assert(lit.isRight)
    lit.toOption.get match {
      case Ast.QOp("==", List(_, Ast.QArr(items))) =>
        assert(items == List(Ast.QStr("group"), Ast.QStr("a")))
      case other => fail(s"inner group not a literal: $other")
    }
    // duplicate OUTPUT names are rejected at compile (not a 500 at
    // execution): same last segment twice, and a key colliding with
    // count's "n"
    assert(Compiler.frameFromJson(
      """["group", true, [[".", ["$"], "a", "x"], [".", ["$"], "b", "x"]],
          ["count"]]""").isLeft)
    assert(Compiler.frameFromJson(
      """["group", true, [[".", ["$"], "n"]], ["count"]]""").isLeft)
  }

  test("reference qast_test regex AST: [~ [. [$] email] .*@(.*)]") {
    val df = Seq(("a@x.com", 1), ("nope", 2)).toDF("email", "id")
    val got = eval("""["~", [".", ["$"], "email"], ".*@(.*)"]""", df)
      .select("id").as[Int].collect()
    assert(got.toSeq == Seq(1))
  }

  test("reference qast_test overlap AST: [&& [. [$] topics] [copypasta]]") {
    val df = Seq((Seq("copypasta", "x"), 1), (Seq("y"), 2)).toDF("topics", "id")
    val got = eval("""["&&", [".", ["$"], "topics"], ["copypasta"]]""", df)
      .select("id").as[Int].collect()
    assert(got.toSeq == Seq(1))
  }

  test("reference qast_test nested arithmetic/logic AST is truthy") {
    // ["&" ["<" 3 ["/" 8 2] ["%" 9 5]] ["|" ["!" false]]] from
    // qast_test.clj:38-43 — 3 < 4 AND 4 < 4 is FALSE under true chained
    // comparison; the reference SQL emit `3 < (8/2) < MOD(9,5)` was not
    // even valid SQL. Our chosen semantics: chained pairwise AND.
    val df = Seq(1).toDF("x")
    val chained = eval("""["&", ["<", 3, ["/", 8, 2], ["%", 9, 5]]]""", df)
    assert(chained.count() == 0)
    // sanity: a satisfied chain passes
    val ok = eval("""["<", 1, 2, 3]""", df)
    assert(ok.count() == 1)
  }

  test("whole-string regex semantics (closure backend re-matches)") {
    val df = Seq("Vietnam", "Vietnam 2", "North Vietnam x").toDF("name")
    val got = eval("""["~", [".", ["$"], "name"], "Vi.tnam"]""", df)
    assert(got.as[String].collect().toSeq == Seq("Vietnam"))
  }

  test("null propagation rejects rows (qast.clj:75-80)") {
    val df = Seq((Some(5), 1), (None, 2)).toDF("v", "id")
    val got = eval("""[">", [".", ["$"], "v"], 1]""", df)
      .select("id").as[Int].collect()
    assert(got.toSeq == Seq(1))
  }

  test("arity-1 arithmetic follows Clojure: (- x), (/ x)") {
    val df = Seq(4).toDF("x")
    val neg = df.select(
      Compiler.fromJson("""["-", [".", ["$"], "x"]]""").toOption.get.as("v"))
    assert(neg.head().getAs[Int]("v") == -4)
    val inv = df.select(
      Compiler.fromJson("""["/", [".", ["$"], "x"]]""").toOption.get.as("v"))
    assert(inv.head().getAs[Double]("v") == 0.25)
  }

  test("variadic == is all-equal; != is its negation (Clojure not=)") {
    val df = Seq((1, 1, 1), (1, 1, 2)).toDF("a", "b", "c")
    val eq = eval(
      """["==", [".",["$"],"a"], [".",["$"],"b"], [".",["$"],"c"]]""", df)
    assert(eq.count() == 1)
    val ne = eval(
      """["!=", [".",["$"],"a"], [".",["$"],"b"], [".",["$"],"c"]]""", df)
    assert(ne.count() == 1)
  }

  test("empty & is true, empty | is false (qast.clj:48-49)") {
    val df = Seq(1).toDF("x")
    assert(eval("""["&"]""", df).count() == 1)
    assert(eval("""["|"]""", df).count() == 0)
  }

  test("object literals compile to structs with heterogeneous fields") {
    val df = Seq(1).toDF("x")
    val got = df.select(
      Compiler.fromJson("""{"a": 1, "b": "two"}""").toOption.get.as("m"))
      .selectExpr("m.a", "m.b").head()
    assert(got.getLong(0) == 1L && got.getString(1) == "two")
    // `.` path into an object literal works like JSON object get
    val deep = df.filter(
      Compiler.fromJson("""["==", [".", {"k": 7}, "k"], 7]""").toOption.get)
    assert(deep.count() == 1)
    // array literal containing objects parses too
    assert(Compiler.fromJson("""[{"k": 1}, {"k": 2}]""").isRight)
  }

  test("nested field access through structs and maps") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(Row("deep", 7)))),
      org.apache.spark.sql.types.StructType.fromDDL(
        "o STRUCT<name: STRING, n: INT>"))
    val got = df.filter(
      Compiler.fromJson("""["==", [".", ["$"], "o", "n"], 7]""")
        .toOption.get)
    assert(got.count() == 1)
  }
}
