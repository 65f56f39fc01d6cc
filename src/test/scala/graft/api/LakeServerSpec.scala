package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.engine.Lake

/** End-to-end HTTP contract, mirroring the reference's api_test.clj
  * assertions (status codes + exact error strings) over a live server.
  */
class LakeServerSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val lake = new Lake(spark, Files.createTempDirectory("srv"))
  private lazy val server = LakeServer.start(lake, sfDir = sf)
  private lazy val base = s"http://localhost:${server.boundPort}"
  private val client = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()

  override def afterAll(): Unit = { server.stop(); super.afterAll() }

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

  test("concurrent trained-index queries train ONCE: cache release is " +
      "refcounted to idle, not per-request") {
    import graft.operators.OperatorCaches
    // clean slate: no memoized trainers, counter at a known base
    OperatorCaches.release(spark)
    val base0 = OperatorCaches.trainerRuns.get()
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
      // the barrier aligns the POSTs but not server-side execution:
      // if request 1 fully completes (idle → released) before request
      // 2's enter, 2 legitimately retrains — so over HTTP the hard
      // bound is ≤ one training per request, never per-finisher
      // clearing mid-flight. The exactly-once-while-overlapping
      // guarantee is pinned DETERMINISTICALLY by the seam tests below.
      val delta = OperatorCaches.trainerRuns.get() - base0
      assert(delta >= 1 && delta <= 2,
        s"burst of 2 trained ${delta}x")
    } finally pool.shutdown()
  }

  test("overlapping requests share the trained memo: trainerRuns stays " +
      "1 (deterministic via the enter/exit seams)") {
    import graft.operators.OperatorCaches
    OperatorCaches.release(spark)
    val base = OperatorCaches.trainerRuns.get()
    server.enterQuery() // request A starts
    graft.SparkEntry.queries("ann_ivf_trained_topk")(spark, sf).count()
    assert(OperatorCaches.trainerRuns.get() - base == 1, "A trains once")
    server.enterQuery() // request B starts BEFORE A finishes
    server.exitQuery()  // A finishes: count 2→1, nothing released
    graft.SparkEntry.queries("ann_ivf_trained_topk")(spark, sf).count()
    assert(OperatorCaches.trainerRuns.get() - base == 1,
      "B rides A's memo — the exit of A must not release while B is in flight")
    server.exitQuery()  // B finishes: idle → released
  }

  test("zero-check and release are atomic: enterQuery blocks while a " +
      "release is in flight (no mid-flight cache clear)") {
    val inWindow = new java.util.concurrent.CountDownLatch(1)
    val proceed = new java.util.concurrent.CountDownLatch(1)
    // park the finisher INSIDE the lock, between decrement-to-zero and
    // the release — exactly the window the r9 refcount left open
    server.beforeRelease = () => {
      inWindow.countDown()
      proceed.await(5, java.util.concurrent.TimeUnit.SECONDS); ()
    }
    try {
      server.enterQuery()
      val exiter = new Thread(() => server.exitQuery())
      exiter.start()
      assert(inWindow.await(5, java.util.concurrent.TimeUnit.SECONDS),
        "finisher reached the release window")
      @volatile var entered = false
      val enterer = new Thread(() => { server.enterQuery(); entered = true })
      enterer.start()
      enterer.join(300)
      // with the bare-atomic r9 code this enter succeeded immediately
      // and the release then cleared caches mid-flight of it
      assert(!entered, "enterQuery must block until the release completes")
      proceed.countDown()
      enterer.join(5000); exiter.join(5000)
      assert(entered, "blocked enter proceeds once the release is done")
    } finally {
      server.beforeRelease = () => ()
      server.exitQuery() // balance the blocked enter: idle → released
    }
  }
}
