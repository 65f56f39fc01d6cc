package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.BeforeAndAfterAll

import graft.{SparkSpec, Tables}
import graft.engine.Lake
import graft.operators.OperatorCaches

/** End-to-end HTTP contract, mirroring the reference's api_test.clj
  * assertions (status codes + exact error strings) over a live server.
  */
class LakeServerSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val lake = new Lake(spark, Files.createTempDirectory("srv"))
  private lazy val server = LakeServer.start(lake, sfDir = sf)
  private lazy val base = s"http://localhost:${server.boundPort}"
  private val client = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()

  // the server admitted the shared test dirs: release its state so
  // later suites in this JVM load their tables afresh
  override def afterAll(): Unit = {
    server.stop(); OperatorCaches.release(spark); super.afterAll()
  }

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).GET.build(),
      BodyHandlers.ofString())

  private def post(path: String, body: Array[Byte], ctype: String = "application/json")
      : HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", ctype)
      .POST(BodyPublishers.ofByteArray(body)).build(),
      BodyHandlers.ofString())

  private def json(r: HttpResponse[String]) = mapper.readTree(r.body)

  private val interjection = "I'd just like to interject for a moment.\n"
  private val csv =
    "country_name,country_code,population\nVietnam,VNM,96462106\nChad,TCD,15946876\n"

  private def addFile(body: String, mime: String): String = {
    val r = post("/file", body.getBytes("UTF-8"), mime)
    assert(r.statusCode == 200)
    json(r).get("cid").asText
  }

  test("unknown endpoint -> 404 unsupported (api_test not-found)") {
    val r = get("/this/endpoint/is/unsupported")
    assert(r.statusCode == 404 && json(r).get("error").asText == "unsupported")
  }

  test("POST /file: cid returned; empty body -> 400 empty data") {
    val cid = addFile(interjection, "text/plain")
    assert(cid.startsWith("Qm")) // CIDv0, as the reference's IPFS issues
    val r = post("/file", Array.emptyByteArray, "text/plain")
    assert(r.statusCode == 400 && json(r).get("error").asText == "empty data")
  }

  test("POST /dir + /cp + GET /dir round trip; cp to non-dir rejected") {
    val cid = addFile(interjection, "text/plain")
    val dir = json(post("/dir", Array.emptyByteArray)).get("cid").asText
    val r = post("/cp",
      s"""{"src":"$cid","dest":"$dir","path":"interjection"}""".getBytes)
    assert(r.statusCode == 200)
    val dir2 = json(r).get("cid").asText
    val ls = get(s"/dir/$dir2")
    assert(ls.statusCode == 200 && json(ls).get("interjection").asText == cid)
    val bad = post("/cp",
      s"""{"src":"$dir","dest":"$cid","path":"x"}""".getBytes)
    assert(bad.statusCode == 400 &&
      json(bad).get("error").asText == "dest is not a directory")
    val notdir = get(s"/dir/$cid")
    assert(notdir.statusCode == 400 &&
      json(notdir).get("error").asText == "not a directory")
    val nocid = get("/dir/this-cid-does-not-exist")
    assert(nocid.statusCode == 400 &&
      json(nocid).get("error").asText == "not a directory")
  }

  /** A fresh directory holding one file: (file cid, dir cid). */
  private def dirWithFile(): (String, String) = {
    val cid = addFile(interjection, "text/plain")
    val dir = json(post("/dir", Array.emptyByteArray)).get("cid").asText
    val r = post("/cp", s"""{"src":"$cid","dest":"$dir","path":"a"}""".getBytes)
    assert(r.statusCode == 200)
    (cid, json(r).get("cid").asText)
  }

  private def assertError(r: HttpResponse[String], status: Int,
      msg: String): Unit =
    assert(r.statusCode == status && json(r).get("error").asText == msg,
      s"${r.statusCode} ${r.body}")

  /** The directory still lists and still accepts a copy. */
  private def assertDirIntact(cid: String, dir: String): Unit = {
    assert(get(s"/dir/$dir").statusCode == 200)
    assert(post("/cp", s"""{"src":"$cid","dest":"$dir","path":"b"}"""
      .getBytes).statusCode == 200)
  }

  test("POST /cp: a path holding a tab -> 400 invalid path, dir intact") {
    val (cid, dir) = dirWithFile()
    assertError(post("/cp",
      s"""{"src":"$cid","dest":"$dir","path":"x\\ty"}""".getBytes),
      400, "invalid path")
    assertDirIntact(cid, dir)
  }

  test("POST /cp: a path holding a newline -> 400 invalid path, dir " +
      "intact") {
    val (cid, dir) = dirWithFile()
    Seq("x\\ny", "x\\ry").foreach { p =>
      assertError(post("/cp",
        s"""{"src":"$cid","dest":"$dir","path":"$p"}""".getBytes),
        400, "invalid path")
    }
    assertDirIntact(cid, dir)
  }

  test("POST /cp: an unknown src -> 400 src not found") {
    val (_, dir) = dirWithFile()
    val absent = "QmYwAPJzv5CZsnA625s3Xf2nemtYgPpHdWEz79ojWnPbdG"
    assertError(post("/cp",
      s"""{"src":"$absent","dest":"$dir","path":"x"}""".getBytes),
      400, "src not found")
    assertError(post("/cp",
      s"""{"src":".","dest":"$dir","path":"x"}""".getBytes),
      400, "src not found")
  }

  test("POST /cp: a missing src, dest or path -> 400 malformed query") {
    val (cid, dir) = dirWithFile()
    Seq(s"""{"dest":"$dir","path":"x"}""",
        s"""{"src":"$cid","path":"x"}""",
        s"""{"src":"$cid","dest":"$dir"}""",
        s"""{"src":"$cid","dest":"$dir","path":7}""",
        "not json").foreach { body =>
      assertError(post("/cp", body.getBytes), 400, "malformed query")
    }
  }

  test("GET /dir and POST /cp: `..`, `.` and a non-base58 cid read as " +
      "absent") {
    val (cid, dir) = dirWithFile()
    Seq("..", ".", "0OIl-not-base58").foreach { c =>
      assertError(get(s"/dir/$c"), 400, "not a directory")
      assertError(get(s"/file/$c"), 404, "content not found")
      assertError(post("/cp",
        s"""{"src":"$cid","dest":"$c","path":"x"}""".getBytes),
        400, "dest is not a directory")
    }
    assertDirIntact(cid, dir)
  }

  test("GET /file streams bytes; unknown cid -> 404 content not found") {
    val cid = addFile(interjection, "text/plain")
    val r = get(s"/file/$cid")
    assert(r.statusCode == 200 && r.body == interjection)
    val miss = get("/file/this-cid-does-not-exist")
    assert(miss.statusCode == 404 &&
      json(miss).get("error").asText == "content not found")
  }

  test("POST /dataset: success + missing-metadata list (api_test post-add)") {
    val cid = addFile(interjection, "text/plain")
    val full =
      s"""{"file":"$cid","description":"Interjection",
          "source":"https://example.org","topics":["Natural language","copypasta"],
          "language":"English"}"""
    val ok = post("/dataset", full.getBytes)
    assert(ok.statusCode == 200 && json(ok).has("id"))
    val less = post("/dataset",
      s"""{"file":"$cid","description":"x","topics":[]}""".getBytes)
    assert(less.statusCode == 400)
    val missing = json(less).get("error").get("missing-metadata")
    assert(missing.size == 1 && missing.get(0).asText == "source")
  }

  test("POST /update: version chain + missing parent (api_test post-update)") {
    val cid = addFile(interjection, "text/plain")
    val id = json(post("/dataset",
      s"""{"file":"$cid","description":"d","source":"s","topics":["t"]}"""
        .getBytes)).get("id").asText
    val up = post("/update",
      s"""{"parent":"$id","source":"https://example.org/v2"}""".getBytes)
    assert(up.statusCode == 200 && json(up).has("id"))
    val orphanless = post("/update", """{"source":"x"}""".getBytes)
    assert(orphanless.statusCode == 400 &&
      json(orphanless).get("error").asText == "missing parent")
  }

  test("POST /dataset: topics that is a string or null -> 400") {
    val cid = addFile(interjection, "text/plain")
    Seq("\"t\"", "null", "3").foreach { t =>
      assertError(post("/dataset",
        s"""{"file":"$cid","description":"d","source":"s","topics":$t}"""
          .getBytes), 400, "topics must be an array")
    }
  }

  test("POST /update: a non-integer parent or non-array topics -> 400") {
    val cid = addFile(interjection, "text/plain")
    val id = json(post("/dataset",
      s"""{"file":"$cid","description":"d","source":"s","topics":["t"]}"""
        .getBytes)).get("id").asText
    assertError(post("/update", """{"parent":"abc"}""".getBytes),
      400, "malformed parent")
    assertError(post("/update", """{"parent":1.5}""".getBytes),
      400, "malformed parent")
    Seq("\"t\"", "null").foreach { t =>
      assertError(post("/update", s"""{"parent":$id,"topics":$t}""".getBytes),
        400, "topics must be an array")
    }
    assert(post("/update", s"""{"parent":$id,"topics":["u"]}""".getBytes)
      .statusCode == 200)
  }

  test("POST /update: an unknown parent -> 400 parent not found") {
    assertError(post("/update",
      """{"parent":"987654321","source":"x"}""".getBytes),
      400, "parent not found")
  }

  test("POST /dataset: an absent CIDv0 file -> 400 file not found") {
    val absent = "QmYwAPJzv5CZsnA625s3Xf2nemtYgPpHdWEz79ojWnPbdG"
    assertError(post("/dataset",
      s"""{"file":"$absent","description":"d","source":"s","topics":[]}"""
        .getBytes), 400, "file not found")
  }

  test("POST /dataset: a file that is not a CID -> 400 file not found") {
    assertError(post("/dataset",
      """{"file":"not-a-cid","description":"d","source":"s","topics":[]}"""
        .getBytes), 400, "file not found")
  }

  test("POST /find: flat merged objects; malformed query (api_test post-find)") {
    val cid = addFile(csv, "text/csv")
    json(post("/dataset",
      s"""{"file":"$cid","description":"pop","source":"wb",
          "topics":["population"],"language":"English","year":2019}"""
        .getBytes))
    val found = post("/find",
      """["&&", [".", ["$"], "topics"], ["population"]]""".getBytes)
    assert(found.statusCode == 200)
    val arr = json(found)
    assert(arr.isArray && arr.size >= 1)
    val row = arr.get(0)
    // extras flattened to top level with types restored
    assert(row.get("language").asText == "English")
    assert(row.get("year").asInt == 2019)
    assert(row.get("type").asText == "text/csv")
    // reference row shape (PostgreSQL.java:165-171): content key is
    // "cid", id/parent stringified, NULL parent -> "0" (JDBC getLong)
    assert(row.get("cid").asText == cid && !row.has("file"))
    assert(row.get("id").isTextual)
    assert(row.get("parent").asText == "0")
    val none = post("/find", """["~", [".", ["$"], "file"], "^$"]""".getBytes)
    assert(none.statusCode == 200 && json(none).size == 0)
    val bad = post("/find", "{".getBytes)
    assert(bad.statusCode == 400 &&
      json(bad).get("error").asText == "malformed query")
  }

  test("GET /schema: draft-07 on CSV; unsupported on text/plain") {
    val cid = addFile(csv, "text/csv")
    val r = get(s"/schema/$cid")
    assert(r.statusCode == 200)
    assert(json(r).get("items").get("properties")
      .get("population").get("type").asText == "number")
    val plain = addFile(interjection, "text/plain")
    val bad = get(s"/schema/$plain")
    assert(bad.statusCode == 400 &&
      json(bad).get("error").asText == "unsupported data type")
  }

  test("POST /extract: thesis demo query over HTTP (api_test post-extract)") {
    val cid = addFile(csv, "text/csv")
    val r = post(s"/extract/$cid",
      """["~", [".", ["$"], "country_name"], "Vi.tnam"]""".getBytes)
    assert(r.statusCode == 200)
    val arr = json(r)
    assert(arr.size == 1 && arr.get(0).get("country_code").asText == "VNM")
    val bad = post(s"/extract/$cid", "[".getBytes)
    assert(bad.statusCode == 400 &&
      json(bad).get("error").asText == "malformed query")
    val plain = addFile(interjection, "text/plain")
    val fail = post(s"/extract/$plain", """["&"]""".getBytes)
    assert(fail.statusCode == 400 &&
      json(fail).get("error").asText == "failed query")
  }

  test("group verb over HTTP: /extract rollup and /find rollup") {
    val cid = addFile(csv, "text/csv")
    // rollup the CSV rows: one group per country_code (strings stay
    // strings in extraction, so count/min are the type-safe aggs)
    val r = post(s"/extract/$cid",
      """["group", true, [[".", ["$"], "country_code"]],
          ["count"], ["min", [".", ["$"], "country_name"]]]""".getBytes)
    assert(r.statusCode == 200, new String(r.body))
    val arr = json(r)
    assert(arr.size == 2)
    assert(arr.get(0).get("country_code").asText == "TCD" &&
      arr.get(0).get("n").asLong == 1 &&
      arr.get(0).get("min_country_name").asText == "Chad")
    assert(arr.get(1).get("country_code").asText == "VNM")
    // malformed rollups are "malformed query" like any bad QAST
    val bad = post(s"/extract/$cid",
      """["group", true, [], ["count"]]""".getBytes)
    assert(bad.statusCode == 400 &&
      json(bad).get("error").asText == "malformed query")
    // metadata rollup through /find
    json(post("/dataset",
      s"""{"file":"$cid","description":"g1","source":"rollup-src",
          "topics":["g"]}""".getBytes))
    json(post("/dataset",
      s"""{"file":"$cid","description":"g2","source":"rollup-src",
          "topics":["g"]}""".getBytes))
    val found = post("/find",
      """["group", ["==", [".", ["$"], "source"], "rollup-src"],
          [[".", ["$"], "source"]], ["count"]]""".getBytes)
    assert(found.statusCode == 200)
    val rows = json(found)
    assert(rows.size == 1 &&
      rows.get(0).get("source").asText == "rollup-src" &&
      rows.get(0).get("n").asLong == 2, rows.toString)
  }

  test("top and having verbs over HTTP: /extract and /find") {
    val cid = addFile(csv, "text/csv")
    // top over raw extracted rows: order by code descending, keep 1
    val t = post(s"/extract/$cid",
      """["top", 1, [["desc", [".", ["$"], "country_code"]]], true]"""
        .getBytes)
    assert(t.statusCode == 200, new String(t.body))
    val tArr = json(t)
    assert(tArr.size == 1 && tArr.get(0).get("country_code").asText ==
      "VNM", tArr.toString)
    // having over the rollup: only groups with n > 1 survive
    val h = post(s"/extract/$cid",
      """["having",
          ["group", true, [[".", ["$"], "country_code"]], ["count"]],
          [">", [".", ["$"], "n"], 1]]""".getBytes)
    assert(h.statusCode == 200, new String(h.body))
    assert(json(h).size == 0) // every code is unique in the fixture
    // a type-invalid frame verb is a 400 "malformed query", not a 500:
    // ordering by the map-typed `extra` column through /find
    val bad = post("/find",
      """["top", 1, [[".", ["$"], "extra"]], true]""".getBytes)
    assert(bad.statusCode == 400 &&
      json(bad).get("error").asText == "malformed query",
      new String(bad.body))
    // metadata top through /find: the two rollup-src datasets from the
    // previous test shape — recreate our own to stay order-independent
    json(post("/dataset",
      s"""{"file":"$cid","description":"t1","source":"top-src-a",
          "topics":["t"]}""".getBytes))
    json(post("/dataset",
      s"""{"file":"$cid","description":"t2","source":"top-src-b",
          "topics":["t"]}""".getBytes))
    val found = post("/find",
      """["top", 1,
          [["desc", [".", ["$"], "source"]]],
          ["group", ["~", [".", ["$"], "source"], "top-src-.*"],
            [[".", ["$"], "source"]], ["count"]]]""".getBytes)
    assert(found.statusCode == 200, new String(found.body))
    val fr = json(found)
    assert(fr.size == 1 && fr.get(0).get("source").asText == "top-src-b",
      fr.toString)
  }

  test("project verb over HTTP: /extract and /find compute columns; " +
      "bad shapes stay 400 'malformed query'") {
    val cid = addFile(csv, "text/csv")
    // computed columns over extracted rows: exactly the named columns
    val p = post(s"/extract/$cid",
      """["project",
          [["code", [".", ["$"], "country_code"]],
           ["is_vnm", ["==", [".", ["$"], "country_code"], "VNM"]]],
          true]""".getBytes)
    assert(p.statusCode == 200, new String(p.body))
    val pArr = json(p)
    assert(pArr.size == 2, pArr.toString)
    val fields = pArr.get(0).fieldNames()
    val names = scala.collection.mutable.Set[String]()
    while (fields.hasNext) names += fields.next()
    assert(names == Set("code", "is_vnm"), names.toString)
    // project over a rollup through /find
    json(post("/dataset",
      s"""{"file":"$cid","description":"p1","source":"proj-src",
          "topics":["p"]}""".getBytes))
    val found = post("/find",
      """["project",
          [["who", [".", ["$"], "source"]],
           ["seen", [".", ["$"], "n"]]],
          ["group", ["==", [".", ["$"], "source"], "proj-src"],
            [[".", ["$"], "source"]], ["count"]]]""".getBytes)
    assert(found.statusCode == 200, new String(found.body))
    val fr = json(found)
    assert(fr.size == 1 && fr.get(0).get("who").asText == "proj-src" &&
      fr.get(0).get("seen").asLong == 1, fr.toString)
    // duplicate output names: 400 at compile, not an execution 500
    val dup = post(s"/extract/$cid",
      """["project",
          [["x", [".", ["$"], "country_code"]],
           ["x", [".", ["$"], "country_name"]]], true]""".getBytes)
    assert(dup.statusCode == 400 &&
      json(dup).get("error").asText == "malformed query")
    // a missing field is the analyzer's type error: 400 via checked()
    val miss = post(s"/extract/$cid",
      """["project", [["x", [".", ["$"], "no_such_col"]]], true]"""
        .getBytes)
    assert(miss.statusCode == 400 &&
      json(miss).get("error").asText == "malformed query",
      new String(miss.body))
  }

  test("GET /query lists the analytic inventory sorted") {
    val r = get("/query")
    assert(r.statusCode == 200)
    val names = json(r).elements.asScala.map(_.asText).toSeq
    assert(names.contains("q1_agg") && names.contains("dedup_exact"))
    assert(names == names.sorted)
    assert(names.size == graft.SparkEntry.queries.size)
  }

  test("POST /query/{name}: analytic queries stream over HTTP") {
    // empty body → server default sf dir (constructed with sf0.001)
    val q1 = post("/query/q1_agg", Array.emptyByteArray)
    assert(q1.statusCode == 200)
    val rows = json(q1)
    assert(rows.isArray && rows.size > 0)
    val fields = rows.get(0).properties.asScala.map(_.getKey).toSet
    assert(fields.contains("l_returnflag") && fields.contains("sum_qty"))

    // explicit sf_dir override in the body
    val scalar = post("/query/scalar_functions",
      s"""{"sf_dir":"$sf"}""".getBytes("UTF-8"))
    assert(scalar.statusCode == 200 && json(scalar).size > 0)

    // rows match running the same query in-process
    val direct = graft.SparkEntry.queries("q1_agg")(spark, sf)
    assert(rows.size == direct.count())
  }

  test("POST /query: unknown name 404; malformed body rejected") {
    val unknown = post("/query/no_such_query", Array.emptyByteArray)
    assert(unknown.statusCode == 404 &&
      json(unknown).get("error").asText == "unknown query")
    val bad = post("/query/q1_agg", "{not json".getBytes("UTF-8"))
    assert(bad.statusCode == 400 &&
      json(bad).get("error").asText == "malformed query")
    // a query that throws at run time → failed query, same as /extract
    val fail = post("/query/q1_agg",
      """{"sf_dir":"/nonexistent/dir"}""".getBytes("UTF-8"))
    assert(fail.statusCode == 400 &&
      json(fail).get("error").asText == "failed query")
  }

  test("POST /query: an sf_dir that is not a string -> 400 malformed query") {
    Seq("""{"sf_dir":{}}""", """{"sf_dir":5}""", """{"sf_dir":null}""",
        """{"sf_dir":["a"]}""").foreach { body =>
      val r = post("/query/q1_agg", body.getBytes("UTF-8"))
      assert(r.statusCode == 400 &&
        json(r).get("error").asText == "malformed query", body)
    }
  }

  test("POST /query: an sf_dir that cannot be listed -> 400 failed query") {
    Seq("", "nosuchscheme://nowhere/sf").foreach { d =>
      val r = post("/query/q1_agg", s"""{"sf_dir":"$d"}""".getBytes("UTF-8"))
      assert(r.statusCode == 400 &&
        json(r).get("error").asText == "failed query", d)
    }
  }

  private def queryRows(name: String, dir: String = sf): Seq[String] = {
    val r = post(s"/query/$name", s"""{"sf_dir":"$dir"}""".getBytes("UTF-8"))
    assert(r.statusCode == 200, s"$name: ${r.body.take(200)}")
    json(r).elements.asScala.map(_.toString).toSeq.sorted
  }

  test("a serial client trains once: the memo outlives idle") {
    OperatorCaches.release(spark)
    val base = OperatorCaches.trainerRuns.get()
    val first = queryRows("ann_ivf_trained_topk")
    (1 to 3).foreach(_ => assert(queryRows("ann_ivf_trained_topk") == first))
    assert(OperatorCaches.trainerRuns.get() - base == 1)
  }

  test("a concurrent burst of 2 trained-index queries trains once") {
    OperatorCaches.release(spark)
    val base = OperatorCaches.trainerRuns.get()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    try {
      val futures = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            barrier.await() // both requests genuinely in flight together
            post("/query/ann_ivf_trained_topk", Array.emptyByteArray)
              .statusCode
          }
        })
      }
      assert(futures.map(_.get()).forall(_ == 200))
      assert(OperatorCaches.trainerRuns.get() - base == 1)
    } finally pool.shutdown()
  }

  /** Replace `table` under `dir` with `f` of its rows, written anew. */
  private def rewrite(dir: Path, table: String)(
      f: DataFrame => DataFrame): Unit = {
    val target = dir.resolve(s"$table.parquet")
    val staged = dir.resolveSibling(s"${dir.getFileName}-$table")
    f(spark.read.parquet(target.toString)).write.parquet(staged.toString)
    FileUtils.forceDelete(target.toFile)
    Files.move(staged, target)
  }

  test("a rewritten table under sf_dir retrains the model and " +
      "re-materialises the cached frame") {
    val dir = Files.createTempDirectory("sf-rewrite")
    FileUtils.copyDirectory(new java.io.File(sf), dir.toFile)
    val base = OperatorCaches.trainerRuns.get()
    queryRows("ann_ivf_trained_topk", dir.toString)
    val kcore0 = queryRows("graph_kcore", dir.toString) // caches tradeEdges
    queryRows("ann_ivf_trained_topk", dir.toString)
    assert(OperatorCaches.trainerRuns.get() - base == 1,
      "an unchanged dir replays the model")

    rewrite(dir, "embeddings")(identity)
    rewrite(dir, "customer")(_.withColumn("c_nationkey",
      ((col("c_nationkey") + 7) % 25).cast("int")))
    queryRows("ann_ivf_trained_topk", dir.toString)
    assert(OperatorCaches.trainerRuns.get() - base == 2,
      "a rewritten dir retrains")
    val kcore1 = queryRows("graph_kcore", dir.toString)

    OperatorCaches.release(spark) // no frame, no model: a fresh session
    val fresh = graft.SparkEntry.queries("graph_kcore")(spark, dir.toString)
      .toJSON.collect().map(mapper.readTree(_).toString).toSeq.sorted
    assert(kcore1 == fresh)
    assert(kcore1 != kcore0, "the rewrite changes the trade graph")
  }

  test("over the frame budget: settle clears the cached frames and " +
      "keeps the memo") {
    OperatorCaches.release(spark)
    val base = OperatorCaches.trainerRuns.get()
    queryRows("ann_ivf_trained_topk")
    queryRows("graph_kcore")
    val frames = spark.sharedState.cacheManager
    assert(!frames.isEmpty, "graph_kcore keeps its tradeEdges frame")
    OperatorCaches.settle(spark, budget = Long.MaxValue)
    assert(!frames.isEmpty, "under the budget nothing is cleared")
    OperatorCaches.settle(spark, budget = 0L)
    assert(frames.isEmpty, "over the budget the frames are cleared")
    queryRows("ann_ivf_trained_topk")
    assert(OperatorCaches.trainerRuns.get() - base == 1,
      "the memo survives the clear")
  }

  test("every Spark job of one /query runs in the request's job group") {
    val during = jobsDuring(queryRows("q1_agg"))
    assert(during.map(_.group).distinct.size == 1 &&
      during.head.group.startsWith("query-"), during)
    assert(during.forall(_.description == "q1_agg"), during)
    // AQE submits its stage jobs from its own thread pool
    assert(during.exists(_.stages.exists(
      _.contains("withThreadLocalCaptured"))), during)
    // the toLocalIterator jobs start as the response streams
    assert(during.exists(_.stages.exists(_.contains("LakeServer.scala"))),
      during)
  }

  /** A copy of the test dir that no request has admitted yet. */
  private def freshDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    FileUtils.copyDirectory(new java.io.File(sf), dir.toFile)
    dir
  }

  test("a served dir resolves each table once per listing") {
    val dir = freshDir("sf-resolve")
    def resolving() = jobsDuring(queryRows("q1_agg", dir.toString))
      .filter(_.at("parquet at Tables.scala"))
    assert(resolving().nonEmpty, "the first request resolves lineitem")
    assert(resolving().isEmpty, "an unchanged dir is not resolved again")
  }

  test("a table rewritten with a drifted physical type is read anew " +
      "and conformed") {
    val dir = freshDir("sf-drift")
    val before = queryRows("q3_topk", dir.toString)
    rewrite(dir, "orders")(_.filter(col("o_orderkey") % 2 === 0)
      .withColumn("o_custkey", col("o_custkey").cast("int")))
    assert(spark.read.parquet(s"$dir/orders.parquet")
      .schema("o_custkey").dataType == IntegerType)
    val after = queryRows("q3_topk", dir.toString)
    assert(Tables.load(spark, dir.toString, "orders")
      .schema("o_custkey").dataType == LongType)
    OperatorCaches.release(spark) // nothing resolved: a fresh session
    val fresh = graft.SparkEntry.queries("q3_topk")(spark, dir.toString)
      .toJSON.collect().map(mapper.readTree(_).toString).toSeq.sorted
    assert(after == fresh)
    assert(after != before, "the rewrite changes the answer")
  }

  test("job budget: on a warm, unchanged dir graph_kcore and " +
      "dedup_clusters run at most their per-request job counts") {
    // the exact counts at sf0.001 with each table resolved once per
    // listing, the peel stopped at its fixpoint and one job beyond its
    // stages per round (28 and 21 without them); re-resolving the
    // tables per request adds a schema-inference job per table
    val budget = Map("graph_kcore" -> 12, "dedup_clusters" -> 11)
    val ran = budget.keys.map { name =>
      queryRows(name) // warm: the dir admitted, frames cached
      name -> jobsDuring(queryRows(name)).size
    }.toMap
    assert(ran.forall { case (name, n) => n <= budget(name) }, ran)
  }

  /** A CSV blob whose reader schema is memoized: the schema request
    * waits for the upload's inference, which fills the memo. */
  private def warmCsv(): String = {
    val cid = addFile(csv, "text/csv")
    assert(get(s"/schema/$cid").statusCode == 200)
    cid
  }

  test("POST /extract: a value that fails a cast is 400 failed query, " +
      "not a 200 with a cut body, on the driver and the Spark path") {
    val cid = warmCsv()
    val body = """["==", [".", ["$"], "country_name"], 5]""".getBytes
    assertError(post(s"/extract/$cid", body), 400, "failed query")
    withConf("spark.sql.files.openCostInBytes", "16") {
      assertError(post(s"/extract/$cid", body), 400, "failed query")
    }
  }

  test("POST /find: a string next to a number casts as in Spark; one " +
      "that does not cast is 400 failed query") {
    val cid = addFile(interjection, "text/plain")
    json(post("/dataset",
      s"""{"file":"$cid","description":"cast","source":"cast-src",
          "topics":["c"],"vintage":2019}""".getBytes))
    val found = post("/find",
      """["&", ["==", [".", ["$"], "source"], "cast-src"],
          ["==", [".", ["$"], "extra", "vintage"], 2019]]""".getBytes)
    assert(found.statusCode == 200 && json(found).size == 1, found.body)
    assertError(post("/find",
      """["==", [".", ["$"], "description"], 5]""".getBytes),
      400, "failed query")
  }

  test("a warm served extract below one file split runs no Spark job; " +
      "above spark.sql.files.openCostInBytes it is the Spark path's") {
    val cid = warmCsv()
    val code = """[".", ["$"], "country_code"]"""
    val filter = """["~", [".", ["$"], "country_name"], "Vi.tnam"]"""
    val bodies = Seq(filter,
      s"""["group", true, [$code], ["count"]]""",
      s"""["having", ["group", true, [$code], ["count"]],
          [">", [".", ["$$"], "n"], 0]]""",
      s"""["top", 1, [["desc", $code]], true]""",
      s"""["project", [["code", $code]], true]""").map { q =>
      var r: HttpResponse[String] = null
      val jobs = jobsDuring { r = post(s"/extract/$cid", q.getBytes) }
      assert(r.statusCode == 200 && json(r).size > 0, r.body)
      assert(jobs.isEmpty, s"$q ran $jobs")
      q -> r.body
    }.toMap
    withConf("spark.sql.files.openCostInBytes", "64") {
      // the blob is now split; the Spark path streams it with one job
      // per split
      val splits = lake.extract(cid, filter).toOption.get.rdd.getNumPartitions
      var r: HttpResponse[String] = null
      val jobs = jobsDuring { r = post(s"/extract/$cid", filter.getBytes) }
      assert(r.statusCode == 200 && r.body == bodies(filter))
      assert(jobs.size == splits && splits > 1, jobs)
    }
  }

  /** The file relation `df` reads. */
  private def fileRelation(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    } match {
      case Some(rel: HadoopFsRelation) => rel
      case other => fail(s"not a file relation: $other")
    }

  test("a warm served frame and a Lake.extract frame read the cid's one " +
      "file through the relation spark.read resolves, with no listing") {
    val jsonBody = """[{"name":"graft","stars":9},{"name":"lake","stars":2}]"""
    Seq(warmCsv() -> classOf[CSVFileFormat],
      addFile(jsonBody, "application/json") -> classOf[JsonFileFormat]
    ).foreach { case (cid, format) =>
      assert(get(s"/schema/$cid").statusCode == 200)
      val path = lake.store.pathOf(cid)
      val served = lake.extractor.rows(cid).toOption.get
      val read = spark.read.schema(served.schema)
        .options(fileRelation(served).options - "path").format(
          if (format == classOf[CSVFileFormat]) "csv" else "json")
        .load(path.toString)
      val want = fileRelation(read)
      Seq(served, lake.extract(cid, "true").toOption.get).foreach { df =>
        val rel = fileRelation(df)
        assert(!rel.location.isInstanceOf[InMemoryFileIndex], rel.location)
        assert(df.inputFiles.toSeq == read.inputFiles.toSeq &&
          df.inputFiles.toSeq == Seq(path.toUri.toString),
          df.inputFiles.toSeq)
        assert(format.isInstance(rel.fileFormat), rel.fileFormat)
        assert(rel.dataSchema == want.dataSchema &&
          rel.partitionSchema == want.partitionSchema &&
          rel.options == want.options - "path", rel)
        assert(df.toJSON.collect().toSeq == read.toJSON.collect().toSeq)
      }
    }
  }

  test("a reopened lake: the first /extract reads with inference, the " +
      "second over the known schema, and both answer the same bytes") {
    val root = Files.createTempDirectory("srv-reopen")
    val before = new Lake(spark, root)
    val cids = Seq(before.addFile(csv.getBytes("UTF-8"), "text/csv"),
      before.addFile("""[{"a":1,"b":[2]},{"a":2.5}]""".getBytes("UTF-8"),
        "application/json"))
    cids.foreach(cid => assert(before.schema(cid).isRight))
    val reopened = new Lake(spark, root)
    val again = LakeServer.start(reopened, sfDir = sf)
    try cids.foreach { cid =>
      assert(reopened.catalog.getSchema(cid).nonEmpty) // no inference
      def extract() = {
        var r: HttpResponse[String] = null
        val jobs = jobsDuring {
          r = client.send(HttpRequest.newBuilder(URI.create(
            s"http://localhost:${again.boundPort}/extract/$cid"))
            .POST(BodyPublishers.ofString("true")).build(),
            BodyHandlers.ofString())
        }
        assert(r.statusCode == 200, r.body)
        (r.body, jobs.size)
      }
      val (first, inferred) = extract()
      val (second, direct) = extract()
      assert(inferred > 0 && direct == 0, (inferred, direct))
      assert(first == second && mapper.readTree(first).size == 2, first)
    } finally again.stop()
  }

  test("the split-blob extract's jobs and a /find snapshot rebuild run " +
      "in the request's job group") {
    val cid = warmCsv()
    withConf("spark.sql.files.openCostInBytes", "64") {
      val jobs = jobsDuring(assert(post(s"/extract/$cid",
        """["==", [".", ["$"], "country_code"], "TCD"]""".getBytes)
        .statusCode == 200))
      assert(jobs.nonEmpty && jobs.map(_.group).distinct.size == 1 &&
        jobs.head.group.startsWith("extract-"), jobs)
      assert(jobs.forall(_.description == cid), jobs)
    }
    json(post("/dataset", s"""{"file":"$cid","description":"group",
      "source":"group-src","topics":["g"]}""".getBytes)) // drops the snapshot
    val jobs = jobsDuring(assert(post("/find",
      """["==", [".", ["$"], "source"], "group-src"]""".getBytes)
      .statusCode == 200))
    assert(jobs.nonEmpty && jobs.map(_.group).distinct.size == 1 &&
      jobs.head.group.startsWith("find-"), jobs)
  }
}
