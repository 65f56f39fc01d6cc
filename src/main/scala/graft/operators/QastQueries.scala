package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MapType, StringType}

import graft.Tables.load
import graft.qast.Compiler

/** QAST-driven queries — the reference's single query language compiled
  * to Catalyst `Column`s and run against real tables. These exercise
  * every operator family of SURVEY.md §2.1: `$`/`.` field access, `~`
  * regex, arithmetic folds, chained comparisons, `&&` array overlap and
  * the boolean connectives. Because a compiled QAST is an ordinary
  * Catalyst predicate, Spark pushes it into the parquet scan exactly as
  * the reference pushes its SQL backend into PostgreSQL
  * (SURVEY.md §4 "predicate pushdown by construction").
  */
object QastQueries {

  /** Unwrap a compiled QAST or fail loudly (tests/driver surface it). */
  def qast(json: String): Column =
    Compiler.fromJson(json).fold(e => throw e, identity)

  /** `~` whole-string regex + `.` field access on documents
    * (the thesis demo query shape, `eval.tex:31-41`).
    */
  def regexFilter(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .filter(qast("""["~", [".", ["$"], "text"], ".*(merge|stream) sort.*"]"""))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** Arithmetic + chained comparison + `%` + `&` on lineitem; also
    * returns a QAST-computed value column.
    */
  def arithFilter(s: SparkSession, dir: String): DataFrame = {
    val pred = qast(
      """["&",
           ["<", 3, [".", ["$"], "l_quantity"], 11],
           ["==", ["%", [".", ["$"], "l_linenumber"], 2], 1],
           [">=", ["*", [".", ["$"], "l_extendedprice"],
                        ["-", 1, [".", ["$"], "l_discount"]]], 1000]]""")
    val charge = qast(
      """["/", ["*", [".", ["$"], "l_extendedprice"],
                     ["+", 1, [".", ["$"], "l_tax"]]], 2]""")
    load(s, dir, "lineitem")
      .filter(pred)
      // no rounding: per-row IEEE arithmetic is bit-identical across
      // engines, while round()'s half-up boundary is not.
      .select(col("l_orderkey"), col("l_linenumber"),
        charge.as("half_charge"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** `&&` array-overlap on a token array (the reference's
    * `["&&", topics, ["copypasta"]]` pattern, `qast_test.clj:35-37`).
    */
  def overlapFilter(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .withColumn("tokens", split(col("text"), " "))
      .filter(qast(
        """["&", ["&&", [".", ["$"], "tokens"], ["vector", "sketch"]],
                 ["~", [".", ["$"], "lang"], "e[ns]"]]"""))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Nested `.` path into a dynamic JSON document (the reference's
    * open-map `extra` semantics): events.props is a JSON string; we
    * parse it to a map and let QAST address `props.k`.
    */
  def jsonPropsFilter(s: SparkSession, dir: String): DataFrame =
    graft.Tables.events(s, dir)
      .withColumn("props", from_json(col("props"), MapType(StringType, LongType)))
      .filter(qast(
        """["|", [">", [".", ["$"], "props", "k"], 90],
                 ["<", [".", ["$"], "props", "k"], 3]]"""))
      .select(col("event_id"), col("props")("k").as("k"))
      .orderBy(col("event_id"))

  /** Disjunction + negation + `!=` over joins of dims: nations outside
    * two regions whose name doesn't match a pattern.
    */
  def logicFilter(s: SparkSession, dir: String): DataFrame = {
    val n = load(s, dir, "nation")
    val r = load(s, dir, "region")
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .filter(qast(
        """["&", ["!", ["|", ["==", [".", ["$"], "r_name"], "ASIA"],
                             ["==", [".", ["$"], "r_name"], "EUROPE"]]],
                 ["!=", [".", ["$"], "n_nationkey"], 0]]"""))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy(col("n_nationkey"))
  }

  /** Graded `qast_group`: the beyond-reference GROUP extension —
    * `["group", pred, [key...], agg...]` compiled to `filter →
    * groupBy → agg` (SURVEY §2.1 note: the reference QAST is
    * predicate-only; this is the first genuine query-language
    * extension past parity, reusing the same compiler for the
    * predicate and every key/agg expression, so pushdown and codegen
    * are unchanged). Exercises every exact aggregate: count, sum,
    * min, max, count_distinct — avg is implemented but kept out of
    * the hash-graded query (an IEEE mean over a float column is the
    * one agg whose value is not engine-exact). `sum(l_quantity)` IS
    * hash-safe despite the double column: TPC-H quantities are
    * integral-valued, and sums of integers below 2^53 are exact in
    * IEEE whatever the addition order.
    */
  def groupRollup(s: SparkSession, dir: String): DataFrame =
    qastFrame(
      """["group",
           ["<", 3, [".", ["$"], "l_quantity"], 26],
           [[".", ["$"], "l_returnflag"], [".", ["$"], "l_linestatus"]],
           ["count"],
           ["sum", [".", ["$"], "l_quantity"]],
           ["min", [".", ["$"], "l_extendedprice"]],
           ["max", [".", ["$"], "l_discount"]],
           ["count_distinct", [".", ["$"], "l_orderkey"]]]""")
      .apply(load(s, dir, "lineitem"))

  /** Unwrap a compiled frame verb or fail loudly. */
  def qastFrame(json: String): Compiler.FrameQuery =
    Compiler.frameFromJson(json).fold(e => throw e, identity)

  /** Graded `qast_top`: the TOP frame verb — `["top", k, [sort...],
    * inner]` = order + limit over an inner frame query (here the
    * group rollup), compiled to `orderBy(...).limit(k)`, which
    * Catalyst executes as TakeOrderedAndProject (per-partition heap
    * top-k + k-row merge, never a global sort — the plan every
    * dashboard "top N by metric" wants at 100 TB). The sort list
    * carries the key as an explicit tiebreaker so the delivered order
    * is total and hash-gradable.
    */
  def topRollup(s: SparkSession, dir: String): DataFrame =
    qastFrame(
      """["top", 15,
           [["desc", [".", ["$"], "sum_l_quantity"]],
            [".", ["$"], "l_partkey"]],
           ["group",
             [">", [".", ["$"], "l_quantity"], 10],
             [[".", ["$"], "l_partkey"]],
             ["count"],
             ["sum", [".", ["$"], "l_quantity"]]]]""")
      .apply(load(s, dir, "lineitem"))

  /** Graded `qast_project`: the PROJECT frame verb — `["project",
    * [[name, expr]...], inner?]` composed over the full verb stack
    * (project → top → group), closing the language to
    * filter-project-aggregate-orderby. The projection renames rollup
    * outputs and computes a per-row expression (`/` is the language's
    * double division — exact: the rollup's sum is integral-valued and
    * the count an integer, so both engines divide the same two IEEE
    * numbers). Catalyst folds the select into the TakeOrderedAndProject
    * the top verb already plans — projection adds no stage.
    */
  def projectRollup(s: SparkSession, dir: String): DataFrame =
    qastFrame(
      """["project",
           [["part", [".", ["$"], "l_partkey"]],
            ["orders_seen", [".", ["$"], "n"]],
            ["total_qty", [".", ["$"], "sum_l_quantity"]],
            ["mean_qty", ["/", [".", ["$"], "sum_l_quantity"],
                               [".", ["$"], "n"]]]],
           ["top", 15,
             [["desc", [".", ["$"], "sum_l_quantity"]],
              [".", ["$"], "l_partkey"]],
             ["group",
               [">", [".", ["$"], "l_quantity"], 10],
               [[".", ["$"], "l_partkey"]],
               ["count"],
               ["sum", [".", ["$"], "l_quantity"]]]]]""")
      .apply(load(s, dir, "lineitem"))

  /** Graded `qast_top_rows`: the TOP verb's RAW-ROW mode — inner is a
    * plain predicate, so the frame query is filter → order → limit
    * over the table itself (the "20 longest English documents" shape).
    * Same TakeOrderedAndProject execution as the rollup mode; the
    * unique doc_id tiebreaker makes the delivered order total.
    */
  def topRows(s: SparkSession, dir: String): DataFrame =
    qastFrame(
      """["top", 20,
           [["desc", [".", ["$"], "n_chars"]], [".", ["$"], "doc_id"]],
           ["&", ["==", [".", ["$"], "lang"], "en"],
                 [">", [".", ["$"], "n_chars"], 100]]]""")
      .apply(load(s, dir, "documents"))

  /** Graded `qast_group_having`: the HAVING frame verb — the rollup's
    * OUTPUT rows filtered by a second QAST predicate (paths address
    * the deterministic output names), i.e. SQL HAVING with one
    * compiler for both the row predicate and the output predicate.
    * Also the query that hash-grades `avg`: the group verb's mean is
    * DEFINED as exact-decimal 6dp sum ÷ non-null count (one IEEE
    * division), so the last formerly-ungraded aggregate replays in
    * DuckDB bit-for-bit.
    */
  def groupHaving(s: SparkSession, dir: String): DataFrame =
    qastFrame(
      """["having",
           ["group",
             ["<", 0, [".", ["$"], "l_discount"]],
             [[".", ["$"], "l_returnflag"], [".", ["$"], "l_linestatus"]],
             ["count"],
             ["sum", [".", ["$"], "l_quantity"]],
             ["avg", [".", ["$"], "l_extendedprice"]]],
           [">", [".", ["$"], "n"], 50]]""")
      .apply(load(s, dir, "lineitem"))

  /** The reference's metadata search (S5/S6): `dataset ⋈ content ON
    * file = cid`, QAST predicate, fixed projection + right-biased merge
    * of the two open `extra` maps (PostgreSQL `dataset.extra ||
    * content.extra`, `db/PostgreSQL.java:51-54`). Tables are derived
    * deterministically from `documents` so the result is oracle-checkable;
    * the merged map is exploded to (key, value) rows for a stable,
    * engine-neutral output shape.
    */
  def metaSearch(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val dataset = docs.select(
      col("doc_id").as("id"),
      concat(lit("cid-"), col("doc_id")).as("file"),
      col("source"),
      slice(split(col("text"), " "), 1, 3).as("topics"),
      map(lit("lang"), col("lang"), lit("origin"), lit("dataset")).as("dextra"))
    val content = docs.select(
      concat(lit("cid-"), col("doc_id")).as("cid"),
      lit("text/plain").as("type"),
      map(lit("n_chars"), col("n_chars").cast("string"),
        lit("origin"), lit("content")).as("cextra"))
    // right-biased merge without relying on session dedup policy:
    // keep dataset keys not shadowed by content, then add content's.
    val merged = map_concat(
      map_filter(col("dextra"), (k, _) => !map_contains_key(col("cextra"), k)),
      col("cextra"))
    dataset.join(content, col("file") === col("cid"))
      .filter(qast("""["&&", [".", ["$"], "topics"], ["merge", "stream"]]"""))
      .select(col("id"), col("file"), col("source"), col("type"),
        explode(merged).as(Seq("meta_key", "meta_value")))
      .orderBy(col("id"), col("meta_key"))
  }
}
