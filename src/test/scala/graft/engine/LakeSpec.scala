package graft.engine

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.DatasetMeta

/** End-to-end lake-core behavior, exercising the reference's API surface
  * (upload, dataset versioning, find, extract, schema, dir ops) against
  * the same fixtures' shapes as `/root/reference/test/comlake/core/
  * api_test.clj`.
  */
class LakeSpec extends SparkSpec {

  private lazy val lake = new Lake(spark, Files.createTempDirectory("lake"))

  private val csv =
    """country_name,country_code,year,population
      |Vietnam,VNM,2019,96462106
      |Germany,DEU,2019,83092962
      |Chad,TCD,2019,15946876
      |""".stripMargin.getBytes("UTF-8")

  private val json =
    """[{"name": "comlake", "tags": ["lake", "core"], "stars": 7},
       {"name": "graft", "tags": ["spark"], "stars": 9}]""".getBytes("UTF-8")

  test("content add is deterministic and dedups (CAS)") {
    val cid1 = lake.addFile(csv, "text/csv")
    val cid2 = lake.store.add(csv)
    assert(cid1 == cid2 && cid1.startsWith("Qm")) // real CIDv0
    val read = new String(lake.fetch(cid1).readAllBytes(), "UTF-8")
    assert(read.startsWith("country_name"))
  }

  test("dir mkdir/cp/ls like the reference fs ops") {
    val cid = lake.addFile(csv, "text/csv")
    val dir = lake.mkdir()
    val dir2 = lake.cp(cid, dir, "population.csv")
    assert(lake.ls(dir2) == Map("population.csv" -> cid))
    assert(lake.ls(dir).isEmpty) // dirs are immutable values
    intercept[Exception](lake.cp("sha256-nope", dir, "x"))
  }

  test("extract: CSV rows stay strings; QAST predicate filters (thesis demo)") {
    val cid = lake.addFile(csv, "text/csv")
    val got = lake.extract(cid,
      """["~", [".", ["$"], "country_name"], "Vi.tnam"]""")
    assert(got.isRight)
    val rows = got.toOption.get.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("country_code") == "VNM") // string, not num
  }

  test("extract: JSON array content + array-overlap predicate") {
    val cid = lake.addFile(json, "application/json")
    val got = lake.extract(cid,
      """["&&", [".", ["$"], "tags"], ["spark"]]""").toOption.get
    assert(got.select("name").collect().map(_.getString(0)).toSeq ==
      Seq("graft"))
  }

  test("extract errors: unsupported MIME and malformed query") {
    val cid = lake.addFile("hello".getBytes, "text/plain")
    assert(lake.extract(cid, """["&"]""") ==
      Left(ExtractError.UnsupportedType("text/plain")))
    val csvCid = lake.addFile(csv, "text/csv")
    lake.extract(csvCid, """["%", 1]""") match {
      case Left(e: ExtractError.Malformed) =>
        assert(e.message == "malformed query")
      case other => fail(s"expected malformed, got $other")
    }
    // error precedence mirrors the reference (HttpHandler.java:219-229,
    // parse before fetch): malformed query wins over unknown AND over
    // unsupported-type cids
    lake.extract("no-such-cid", """["%", 1]""") match {
      case Left(_: ExtractError.Malformed) => ()
      case other => fail(s"expected malformed to win over unknown cid: $other")
    }
    lake.extract(cid, """["%", 1]""") match {
      case Left(_: ExtractError.Malformed) => ()
      case other => fail(s"expected malformed to win over bad MIME: $other")
    }
  }

  test("contentTable: the store is queryable through the cid connector") {
    val cid = lake.addFile("connector-visible".getBytes, "text/plain")
    val row = lake.contentTable.filter(col("cid") === cid).collect()
    assert(row.length == 1)
    assert(new String(row.head.getAs[Array[Byte]]("content")) ==
      "connector-visible")
    // metadata join: connector rows resolve types through the catalog
    val typed = lake.contentTable.join(lake.catalog.content, Seq("cid"))
      .filter(col("cid") === cid).select("type").collect()
    assert(typed.head.getString(0) == "text/plain")
  }

  test("schema inference: CSV number/string lattice in draft-07 shape") {
    val cid = lake.addFile(csv, "text/csv")
    val schema = lake.schema(cid).toOption.get
    assert(schema.contains("\"$schema\": \"http://json-schema.org/draft-07/schema#\""))
    assert(schema.contains("\"title\": \"" + cid + "\""))
    assert(schema.contains("\"type\": \"array\""))
    // year + population inferred number; names stay string
    assert(schema.contains("\"population\": {\"type\": \"number\"}"))
    assert(schema.contains("\"country_code\": {\"type\": \"string\"}"))
    // second ask hits the catalog cache (same doc back)
    assert(lake.schema(cid).toOption.get == schema)
  }

  test("dataset insert, update-as-version, and find with QAST") {
    val cid = lake.addFile(csv, "text/csv")
    val id = lake.addDataset(DatasetMeta(cid, "World population", "wb",
      Seq("population", "demography"), Map("year" -> "2019")))
    // update inherits missing fields and links parent
    val id2 = lake.updateDataset(id,
      DatasetMeta.Partial(description = Some("World population v2"))).get
    assert(lake.updateDataset(9999L, DatasetMeta.Partial()).isEmpty)

    val found = lake.find(
      """["&&", [".", ["$"], "topics"], ["population"]]""").toOption.get
    val rows = found.orderBy("id").collect()
    assert(rows.map(_.getAs[Long]("id")).toSeq == Seq(id, id2))
    val v2 = rows.last
    assert(v2.getAs[String]("description") == "World population v2")
    assert(v2.getAs[String]("source") == "wb")
    assert(v2.getAs[Long]("parent") == id)
    assert(v2.getAs[String]("type") == "text/csv")

    // lineage walks the version tree child -> root
    val id3 = lake.updateDataset(id2,
      DatasetMeta.Partial(description = Some("v3"))).get
    val chain = lake.catalog.lineage(id3)
    assert(chain.map(_.id) == Seq(id3, id2, id))
    assert(chain.head.description == "v3" &&
      chain.last.description == "World population")
    assert(chain.last.parent.isEmpty)
  }

  test("find merges dataset.extra || content.extra right-biased") {
    val cid = lake.addFile(json, "application/json")
    lake.schema(cid) // populates content.extra.schema
    val id = lake.addDataset(DatasetMeta(cid, "projects", "gh", Seq("code"),
      Map("schema" -> "dataset-says", "origin" -> "dataset")))
    val row = lake.find("""["==", [".", ["$"], "id"], %d]""".format(id))
      .toOption.get.collect().head
    val extra = row.getAs[Map[String, String]]("extra")
    // content side wins the "schema" key (jsonb || right bias)
    assert(extra("schema").contains("draft-07"))
    assert(extra("origin") == "dataset")
  }

  test("content WAL: many uploads without Spark jobs, flush compacts, recovery works") {
    val root = Files.createTempDirectory("wal")
    val l1 = new Lake(spark, root)
    val cids = (1 to 30).map(i => l1.addFile(s"payload-$i".getBytes, "text/plain"))
    assert(cids.distinct.size == 30)
    assert(l1.catalog.getType(cids.head).contains("text/plain"))
    // distributed view sees WAL rows before any compaction
    assert(l1.catalog.content.count() == 30)
    l1.flush()
    assert(l1.catalog.content.count() == 30) // logical content unchanged
    // write more AFTER flush, then recover with a fresh catalog instance
    val extraCid = l1.addFile("post-flush".getBytes, "text/plain")
    val l2 = new Lake(spark, root)
    assert(l2.catalog.getType(extraCid).contains("text/plain"))
    assert(l2.catalog.content.count() == 31)
  }

  test("content upsert preserves extra across type re-registration") {
    val cid = lake.addFile(csv, "text/csv")
    lake.schema(cid)
    lake.catalog.insertFile(cid, "text/csv; charset=utf-8")
    assert(lake.catalog.getSchema(cid).nonEmpty)
    assert(lake.catalog.getType(cid).get.startsWith("text/csv"))
  }

  /** `body`'s result and the Spark jobs it starts on this thread,
    * counted by job group. Listener events arrive in order, so once a
    * marker job's start is delivered, every job `body` started has been
    * counted.
    */
  private def jobsRun[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val counted = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => counted.incrementAndGet(): Unit
          case Some(`marker`) => flushed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener never flushed")
      (out, counted.get)
    } finally sc.removeSparkListener(listener)
  }

  private def extractedJson(l: Lake, cid: String, qast: String): Seq[String] =
    l.extract(cid, qast).toOption.get.toJSON.collect().toSeq

  test("extract reader schema: a warm filter extract is ONE Spark job") {
    val l = new Lake(spark, Files.createTempDirectory("memo-jobs"))
    val csvCid = l.addFile(csv, "text/csv")
    val jsonCid = l.addFile(json, "application/json")
    l.schema(csvCid); l.schema(jsonCid) // upload inference done: memo warm
    assert(jobsRun(extractedJson(l, csvCid,
      """["==", [".", ["$"], "country_code"], "DEU"]""")) ==
      (Seq("""{"country_name":"Germany","country_code":"DEU",""" +
        """"year":"2019","population":"83092962"}"""), 1))
    assert(jobsRun(extractedJson(l, jsonCid,
      """["==", [".", ["$"], "stars"], 9]""")) ==
      (Seq("""{"name":"graft","stars":9,"tags":["spark"]}"""), 1))
  }

  test("extract reader schema: the memo key includes the MIME") {
    // valid as both types: a 2-column CSV (header + one row) and a
    // 2-element JSON array with fields n, name
    val bytes = "[{\"name\": \"memo\", \"n\": 1},\n{\"name\": \"key\", \"n\": 2}]\n"
      .getBytes("UTF-8")
    val l = new Lake(spark, Files.createTempDirectory("memo-mime"))
    val cid = l.addFile(bytes, "text/csv")
    l.schema(cid)
    val asCsv = l.extract(cid, """["&"]""").toOption.get
    assert(asCsv.count() == 1 && !asCsv.columns.contains("name"))
    l.catalog.insertFile(cid, "application/json")
    val asJson = l.extract(cid, """["==", [".", ["$"], "name"], "key"]""")
      .toOption.get
    assert(asJson.columns.toSeq == Seq("n", "name"))
    assert(asJson.toJSON.collect().toSeq == Seq("""{"n":2,"name":"key"}"""))
  }

  test("extract reader schema: a fresh Lake fills the memo on its first read") {
    val root = Files.createTempDirectory("memo-restart")
    val l1 = new Lake(spark, root)
    val cid = l1.addFile(csv, "text/csv")
    l1.schema(cid)
    val q = """["~", [".", ["$"], "country_name"], "[CG].*"]"""
    val want = extractedJson(l1, cid, q)
    assert(want.size == 2)
    val l2 = new Lake(spark, root)
    assert(l2.catalog.getSchema(cid).nonEmpty) // so no upload inference
    assert(jobsRun(extractedJson(l2, cid, q)) == ((want, 1))) // scan only
    assert(jobsRun(extractedJson(l2, cid, q)) == ((want, 1))) // memo hit
  }

  test("extract reader schema: memo reads equal cold reads byte for byte") {
    val odd = Seq(
      // duplicate and blank header names (Spark renames both)
      "id,name,name,,score\n1,a,b,,3.5\n2,c,d,x,4\n3,,e,y,\n" -> "text/csv",
      "id,only\n" -> "text/csv", // header only: zero rows
      // mixed int/double values, arrays, a nested object, missing keys
      """[{"id": 1, "v": 2, "tags": ["a"], "xs": [1, 2.5]},
        | {"id": 2, "v": 2.5, "tags": [], "xs": [3]},
        | {"id": 3, "tags": null, "nested": {"k": [1, 2]}}]""".stripMargin ->
        "application/json",
      "[]" -> "application/json")
    val root = Files.createTempDirectory("memo-equal")
    val warm = new Lake(spark, root)
    val cids = odd.map { case (body, mime) =>
      val cid = warm.addFile(body.getBytes("UTF-8"), mime)
      warm.schema(cid)
      cid
    }
    val cold = new Lake(spark, root)
    cids.foreach { cid =>
      val once = extractedJson(cold, cid, """["&"]""") // miss: no schema
      assert(extractedJson(warm, cid, """["&"]""") == once, cid)
      assert(extractedJson(cold, cid, """["&"]""") == once, cid)
    }
    assert(extractedJson(warm, cids.head, """["&"]""").size == 3)
  }

  test("schema inference: the in-flight memo is empty once schema returns") {
    val l = new Lake(spark, Files.createTempDirectory("infer-memo"))
    val cids = Seq(l.addFile(csv, "text/csv"), l.addFile(json,
      "application/json"), l.addFile("x".getBytes("UTF-8"), "text/plain"))
    cids.foreach(l.schema)
    assert(l.extractor.inferencesInFlight == 0)
    // a failed inference is not replayed: a later call infers again
    assert(l.schema(cids(2)).isLeft && l.extractor.inferencesInFlight == 0)
  }

  test("schema inference: two concurrent first calls infer once") {
    val l = new Lake(spark, Files.createTempDirectory("infer-once"))
    // registered without the upload's own fork, inferred through Spark
    def register(body: String) = {
      val cid = l.store.add(body.getBytes("UTF-8"))
      l.catalog.insertFile(cid, "text/csv")
      cid
    }
    withConf("spark.sql.files.openCostInBytes", "4") {
      assert(l.schema(register("a,b\n0,w\n")).isRight) // the catalog's own
      val one = jobsDuring(assert(l.schema(register("a,b\n1,x\n")).isRight))
      assert(one.nonEmpty)
      val cid = register("a,b\n2,y\n")
      val start = new CountDownLatch(1)
      val docs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val jobs = jobsDuring {
        val ts = Seq.fill(2)(new Thread(() => {
          start.await()
          docs.add(l.extractor.inferSchema(cid).toOption.get)
        }))
        ts.foreach(_.start()); start.countDown(); ts.foreach(_.join())
      }
      assert(jobs.size == one.size, jobs)
      assert(docs.size == 2 && docs.peek == l.catalog.getSchema(cid).get)
      assert(l.extractor.inferencesInFlight == 0)
    }
  }
}
