package graft.qast

import java.nio.file.Files

import graft.SparkSpec
import graft.engine.Lake
import graft.store.DatasetMeta

/** Cross-backend equivalence — the reference's own dual-compiler test
  * strategy (`eval.tex:199-205`): the same QAST run through the
  * Catalyst `Column` backend (Compiler) and the closure backend
  * (Evaluator) must keep the same rows.
  */
class QastBackendsSpec extends SparkSpec {

  private lazy val lake: Lake = {
    val l = new Lake(spark, Files.createTempDirectory("backends"))
    val a = l.addFile("alpha".getBytes, "text/plain")
    val b = l.addFile("beta".getBytes, "text/csv")
    l.addDataset(DatasetMeta(a, "World population", "wb",
      Seq("population", "demography"), Map("year" -> "2019")))
    l.addDataset(DatasetMeta(b, "Weather hourly", "noaa",
      Seq("weather", "climate"), Map("year" -> "2021")))
    val id = l.addDataset(DatasetMeta(a, "Population v1", "wb",
      Seq("population")))
    l.updateDataset(id, DatasetMeta.Partial(description = Some("Population v2")))
    l
  }

  private val predicates = Seq(
    """["~", [".", ["$"], "description"], "W.*"]""",
    """["&&", [".", ["$"], "topics"], ["population"]]""",
    """["==", [".", ["$"], "source"], "wb"]""",
    """["<", 0, [".", ["$"], "id"], 100]""",
    """["&", ["~", [".", ["$"], "type"], "text/.*"],
             ["!", ["==", [".", ["$"], "source"], "noaa"]]]""",
    """["|", ["==", [".", ["$"], "parent"], 0], true]""",
    """[">", [".", ["$"], "parent"], 0]""", // null parents rejected, 3VL
    """["==", ["%", [".", ["$"], "id"], 2], 0]""",
    """["==", [".", ["$"], "extra", "year"], "2019"]""",
    // a string next to an integral casts to BIGINT in both backends
    """["==", [".", ["$"], "extra", "year"], 2019]""",
    """[">=", [".", ["$"], "extra", "year"], 2020]""")

  test("Column backend and closure backend keep identical rows") {
    predicates.foreach { p =>
      val dist = lake.find(p).toOption.get
        .collect().map(_.getAs[Long]("id")).toSet
      val local = lake.findLocal(p).toOption.get
        .map(_("id").asInstanceOf[Long]).toSet
      assert(local == dist, s"backends diverge on $p: $local vs $dist")
    }
    // and at least some predicates are non-trivially selective
    val sel = lake.findLocal(predicates.head).toOption.get
    assert(sel.nonEmpty && sel.size < 4)
  }

  test("a string that does not cast next to a number fails in both " +
      "backends (ANSI CAST_INVALID_INPUT), never drops rows silently") {
    val p = """["==", [".", ["$"], "description"], 5]"""
    val e = intercept[Exception](lake.find(p).toOption.get.collect())
    assert(e.getMessage.contains("CAST_INVALID_INPUT"))
    intercept[Evaluator.Failed](lake.findLocal(p))
  }

  test("group verb: both backends produce the same rollup rows") {
    val g = """["group",
         ["~", [".", ["$"], "type"], "text/.*"],
         [[".", ["$"], "source"]],
         ["count"],
         ["count_distinct", [".", ["$"], "file"]],
         ["min", [".", ["$"], "id"]],
         ["max", [".", ["$"], "description"]]]"""
    val dist = lake.find(g).toOption.get.collect().toSeq
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n"),
        r.getAs[Long]("count_distinct_file"), r.getAs[Long]("min_id"),
        r.getAs[String]("max_description")))
    val local = lake.findLocal(g).toOption.get
      .map(r => (r("source"), r("n"), r("count_distinct_file"),
        r("min_id"), r("max_description")))
    assert(dist.nonEmpty, "rollup must produce groups")
    assert(local == dist, s"group backends diverge: $local vs $dist")
    // and the rollup actually aggregates (some group has n > 1)
    assert(dist.exists(_._2 > 1))
  }

  test("having verb: both backends filter the same rollup output rows") {
    // avg over extra.year exercises Spark's implicit string→double
    // cast (the open map's values are strings) — the closure must
    // parse-or-drop identically, and datasets without the key (null
    // path) drop from numerator AND denominator
    val h = """["having",
         ["group", true,
           [[".", ["$"], "source"]],
           ["count"],
           ["avg", [".", ["$"], "id"]],
           ["avg", [".", ["$"], "extra", "year"]]],
         [">", [".", ["$"], "n"], 1]]"""
    val dist = lake.find(h).toOption.get.collect().toSeq
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n"),
        r.getAs[Double]("avg_id"), Option(r.get(r.fieldIndex("avg_year")))))
    val local = lake.findLocal(h).toOption.get
      .map(r => (r("source"), r("n"), r("avg_id"),
        Option(r("avg_year"))))
    assert(dist.nonEmpty, "having must keep at least one group here")
    assert(local == dist, s"having backends diverge: $local vs $dist")
    // the filter actually rejected something: the ungated rollup has
    // more groups
    val all = lake.find(h.replace("""[">", [".", ["$"], "n"], 1]""",
      """[">", [".", ["$"], "n"], 0]""")).toOption.get.collect()
    assert(all.length > dist.length)
  }

  test("top verb: both backends deliver the same ordered k rows, over " +
      "a rollup and over raw rows") {
    val overGroup = """["top", 2,
         [["desc", [".", ["$"], "n"]], [".", ["$"], "source"]],
         ["group", true, [[".", ["$"], "source"]], ["count"]]]"""
    val dist = lake.find(overGroup).toOption.get.collect().toSeq
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n")))
    val local = lake.findLocal(overGroup).toOption.get
      .map(r => (r("source"), r("n")))
    assert(dist.length == 2 && local == dist,
      s"top backends diverge: $local vs $dist")
    // ordered: n descending
    assert(dist.head._2 >= dist(1)._2)
    val overRows = """["top", 3,
         [["desc", [".", ["$"], "id"]]],
         ["~", [".", ["$"], "type"], "text/.*"]]"""
    val dr = lake.find(overRows).toOption.get.collect().toSeq
      .map(_.getAs[Long]("id"))
    val lr = lake.findLocal(overRows).toOption.get
      .map(_("id").asInstanceOf[Long])
    assert(dr.length == 3 && lr == dr,
      s"raw-row top diverges: $lr vs $dr")
    assert(dr == dr.sorted.reverse, "ids must come back descending")
  }

  test("frame-verb type errors are 'malformed query' in both backends " +
      "(the Column analyzer check and the closure value guard agree)") {
    // grouping by the open `extra` map: unorderable in Spark
    val mapKey = """["group", true, [[".", ["$"], "extra"]], ["count"]]"""
    assert(lake.find(mapKey).left.toOption.get.message == "malformed query")
    assert(lake.findLocal(mapKey).left.toOption.get.message ==
      "malformed query")
    // summing the topics array: analyzer rejection / value guard
    val sumArr = """["group", true, [[".", ["$"], "source"]],
         ["sum", [".", ["$"], "topics"]]]"""
    assert(lake.find(sumArr).left.toOption.get.message == "malformed query")
    assert(lake.findLocal(sumArr).left.toOption.get.message ==
      "malformed query")
    // below-root frame verbs stay array literals: a sort key that IS
    // a (non-operator) array is fine to parse, and the whole query
    // still compiles in both backends
    val nested = """["top", 1, [[".", ["$"], "id"]],
         ["==", [".", ["$"], "source"], "wb"]]"""
    assert(lake.find(nested).isRight && lake.findLocal(nested).isRight)
  }

  test("project verb: both backends compute the same columns, over " +
      "raw rows, a rollup, and with no inner") {
    // computed per-row expression + renames over a predicate inner
    val overRows = """["project",
         [["src", [".", ["$"], "source"]],
          ["ident2", ["+", [".", ["$"], "id"], 1]]],
         ["~", [".", ["$"], "type"], "text/.*"]]"""
    val dist = lake.find(overRows).toOption.get.collect().toSeq
      .map(r => (r.getAs[String]("src"), r.getAs[Long]("ident2"))).toSet
    val local = lake.findLocal(overRows).toOption.get
      .map(r => (r("src"), r("ident2"))).toSet
    assert(dist.nonEmpty && local == dist,
      s"project backends diverge: $local vs $dist")
    // the output frame has EXACTLY the named columns
    assert(lake.find(overRows).toOption.get.columns.toSeq ==
      Seq("src", "ident2"))
    // over a rollup: renames + division of rollup outputs
    val overGroup = """["project",
         [["who", [".", ["$"], "source"]],
          ["half", ["/", [".", ["$"], "n"], 2]]],
         ["group", true, [[".", ["$"], "source"]], ["count"]]]"""
    val dg = lake.find(overGroup).toOption.get.collect().toSeq
      .map(r => (r.getAs[String]("who"), r.getAs[Double]("half"))).toSet
    val lg = lake.findLocal(overGroup).toOption.get
      .map(r => (r("who"), r("half"))).toSet
    assert(dg.nonEmpty && lg == dg,
      s"project-over-group diverges: $lg vs $dg")
    // no inner = the whole frame
    val bare = """["project", [["ident", [".", ["$"], "id"]]]]"""
    val db = lake.find(bare).toOption.get.collect()
      .map(_.getAs[Long]("ident")).toSet
    val lb = lake.findLocal(bare).toOption.get
      .map(_("ident").asInstanceOf[Long]).toSet
    assert(db.nonEmpty && lb == db)
    // under top: projected names are addressable sort keys
    val under = s"""["top", 1, [["desc", [".", ["$$"], "ident2"]]],
         $overRows]"""
    val du = lake.find(under).toOption.get.collect()
      .map(_.getAs[Long]("ident2")).toSeq
    val lu = lake.findLocal(under).toOption.get
      .map(_("ident2").asInstanceOf[Long])
    assert(du.length == 1 && lu == du)
  }

  test("project verb: malformed shapes rejected identically " +
      "(dup names, non-pair spec, value position)") {
    val dup = """["project",
         [["x", [".", ["$"], "id"]], ["x", [".", ["$"], "source"]]],
         true]"""
    assert(lake.find(dup).left.toOption.get.message == "malformed query")
    assert(lake.findLocal(dup).left.toOption.get.message ==
      "malformed query")
    val badSpec = """["project", [["x"]], true]"""
    assert(lake.find(badSpec).left.toOption.get.message ==
      "malformed query")
    assert(lake.findLocal(badSpec).left.toOption.get.message ==
      "malformed query")
    // project in value position is no operator — a DATA array spelled
    // ["project", ...] below root keeps parsing as a literal (the
    // group/top below-root rule); homogeneous strings so the Column
    // backend's array() literal type-checks
    val inValue = """["&&", [".", ["$"], "topics"],
         ["project", "population"]]"""
    assert(lake.find(inValue).isRight && lake.findLocal(inValue).isRight)
  }

  test("array-valued SORT keys are rejected by BOTH backends (the " +
      "ordKey toString class would diverge from element-wise order)") {
    val arrKey = """["top", 1, [[".", ["$"], "topics"]], true]"""
    assert(lake.find(arrKey).left.toOption.get.message ==
      "malformed query")
    assert(lake.findLocal(arrKey).left.toOption.get.message ==
      "malformed query")
    // and on a ONE-row frame too: the closure guard runs per row, not
    // per comparison (a sort of one row never calls the comparator)
    val oneRow = """["top", 1, [[".", ["$"], "topics"]],
         ["==", [".", ["$"], "description"], "World population"]]"""
    assert(lake.find(oneRow).left.toOption.get.message ==
      "malformed query")
    assert(lake.findLocal(oneRow).left.toOption.get.message ==
      "malformed query")
  }

  test("closure backend: literals, arithmetic, nulls behave like Spark") {
    def eval(json: String, row: Evaluator.Row = Map.empty): Any =
      Evaluator.fromJson(json).toOption.get(row)
    assert(eval("""["<", 1, 2, 3]""") == true)
    assert(eval("""["<", 3, ["/", 8, 2], ["%", 9, 5]]""") == false)
    assert(eval("""["/", 4]""") == 0.25)
    assert(eval("""["-", 7]""") == -7L)
    assert(eval("""["+", 1, 2, 3]""") == 6L)
    assert(eval("""["|"]""") == false)
    assert(eval("""["&"]""") == true)
    // 3VL: null ORed with true is true (Spark semantics, not the
    // reference closure's nil-propagation)
    assert(eval("""["|", [".", ["$"], "missing"], true]""") == true)
    assert(eval("""["&", [".", ["$"], "missing"], true]""") == null)
    assert(eval("""["~", [".", ["$"], "name"], "Vi.tnam"]""",
      Map("name" -> "Vietnam")) == true)
    assert(eval("""["~", [".", ["$"], "name"], "Vi.tnam"]""",
      Map("name" -> "Vietnam 2")) == false)
    assert(eval("""["&&", [".", ["$"], "topics"], ["copypasta"]]""",
      Map("topics" -> List("copypasta", "x"))) == true)
    assert(eval("""["==", [".", {"k": 7}, "k"], 7]""") == true)
  }

  test("snapshot invalidates on writes") {
    val before = lake.findLocal("""["&"]""").toOption.get.size
    val cid = lake.addFile("gamma".getBytes, "text/plain")
    lake.addDataset(DatasetMeta(cid, "Gamma", "x", Seq("g")))
    val after = lake.findLocal("""["&"]""").toOption.get.size
    assert(after == before + 1)
  }
}
