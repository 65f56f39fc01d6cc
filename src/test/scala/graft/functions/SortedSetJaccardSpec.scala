package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins [[SortedSetJaccard]] bit-identical to the builtin form it
  * replaces on the prefix-filter verification path —
  * `size(array_intersect(a, b)) / size(array_union(a, b))` — for
  * sorted long arrays. The dedup oracles encode that exact set
  * arithmetic, so equality must be to the BIT (including the
  * empty∪empty ⇒ NaN edge).
  */
class SortedSetJaccardSpec extends SparkSpec {

  private def builtin(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  private def check(df: org.apache.spark.sql.DataFrame): Unit =
    df.select(
      sortedSetJaccard(col("a"), col("b")).as("fast"),
      builtin(col("a"), col("b")).as("ref")).collect().foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"fast=${r.getDouble(0)} ref=${r.getDouble(1)}")
    }

  test("random sorted hash sets: bit-identical to the builtin form") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val df = (0 until 2000).map { _ =>
      // overlapping draws from a small key space so intersections are
      // non-trivial; sorted + distinct like the xxhash64 shingle sets
      def arr() = Array.fill(rnd.nextInt(40) + 1)(
        rnd.nextInt(60).toLong).distinct.sorted
      (arr(), arr())
    }.toDF("a", "b")
    check(df)
  }

  test("duplicates inside a sorted array count once (set semantics)") {
    import spark.implicits._
    val df = Seq(
      (Array(1L, 1L, 2L, 3L), Array(1L, 3L, 3L, 9L)),
      (Array(5L, 5L, 5L), Array(5L)),
      (Array(-9L, -9L, 0L), Array(-9L, 0L, 0L, 1L))
    ).toDF("a", "b")
    check(df)
  }

  test("edge shapes: empty-one-side, disjoint, identical, negative keys") {
    import spark.implicits._
    val df = Seq(
      (Array.empty[Long], Array(1L, 2L)),
      (Array(1L, 2L), Array(3L, 4L)),
      (Array(Long.MinValue, -1L, Long.MaxValue),
        Array(Long.MinValue, -1L, Long.MaxValue)),
      (Array(-5L, 7L), Array(-5L, 7L, 8L))
    ).toDF("a", "b")
    check(df)
  }

  test("empty ∪ empty yields NaN (never occurs on real shingle sets)") {
    // the builtin double division would raise DIVIDE_BY_ZERO under the
    // session's ANSI mode here; the expression's 0/0 ⇒ NaN is the
    // non-ANSI value and fails any >= threshold filter identically.
    // Every document has >= 1 shingle, so the edge is unreachable on
    // the dedup path either way.
    import spark.implicits._
    val df = Seq((Array.empty[Long], Array.empty[Long])).toDF("a", "b")
    val v = df.select(sortedSetJaccard(col("a"), col("b"))).head.getDouble(0)
    assert(v.isNaN)
  }

  test("null array propagates null") {
    import spark.implicits._
    val df = Seq((Array(1L, 2L), Option.empty[Array[Long]])).toDF("a", "b")
    assert(df.select(sortedSetJaccard(col("a"), col("b"))).head.isNullAt(0))
  }

  test("arrays that may hold nulls fail analysis with the type message") {
    import spark.implicits._
    val df = Seq((Seq[java.lang.Long](1L, null), Seq[java.lang.Long](1L)))
      .toDF("a", "b")
    assert(df.schema("a").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = true))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      df.select(sortedSetJaccard(col("a"), col("b"))).schema)
    assert(e.getMessage.contains(
      "sorted_set_jaccard expects array<bigint> without nulls"), e.getMessage)
  }

  test("prefix-variant pairs: expression result equals the committed form") {
    // end-to-end shape: the exact frame ngramJaccardPrefix verifies —
    // sorted xxhash64 shingle sets of real documents
    val hs = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        sort_array(transform(
          graft.operators.Dedup.shingles(col("text")),
          t => xxhash64(t))).as("hs"))
    val pairs = hs.toDF("id_a", "hs_a").crossJoin(hs.toDF("id_b", "hs_b"))
      .filter(col("id_a") < col("id_b")).limit(5000)
    pairs.select(
      sortedSetJaccard(col("hs_a"), col("hs_b")).as("fast"),
      builtin(col("hs_a"), col("hs_b")).as("ref")).collect().foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }
}
