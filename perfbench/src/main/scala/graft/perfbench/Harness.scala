package graft.perfbench

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.api.LakeServer
import graft.engine.Lake
import graft.operators.OperatorCaches
import graft.qast.{Ast, Compiler, Evaluator}
import graft.store.{Cid, DatasetMeta}

/** Benchmark server harness. Builds the SparkSession exactly as
  * `graft.Serve` does (`local[cpus]`, shuffle partitions = cpus, the
  * `Tables.sessionConfs`), hosts a `LakeServer` over a `Lake`, and adds a
  * loopback control endpoint the benchmark client drives:
  *
  *   POST /lake   {root, spec, flush}  populate a fresh lake from a
  *                generated manifest, serve it; returns its port, the
  *                blob CIDs and the dataset ids
  *   POST /probe  {...}                   traced run only: time calls into
  *                the layers' public functions on the served lake
  *   POST /spark  {}                      traced run only: drain the
  *                recorded Spark jobs, tasks and query executions
  *   POST /heap   {}                      heap in use after a full GC, MB
  *   POST /stop   {}                      stop and exit
  *
  * Usage: `Harness <cpus> <trace 0|1>`; prints `CONTROL <port>` once ready.
  */
object Harness {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val cpus = args(0).toInt
    val traced = args(1) == "1"
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
    Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val recorder = if (traced) Some(SparkRecorder.register(spark)) else None

    var lake: Option[Lake] = None
    var server: Option[LakeServer] = None
    val done = new java.util.concurrent.CountDownLatch(1)
    val control = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    control.setExecutor(java.util.concurrent.Executors.newSingleThreadExecutor())
    control.createContext("/", (ex: HttpExchange) => {
      val body = mapper.readTree(ex.getRequestBody.readAllBytes())
      val reply: Either[String, JsonNode] =
        try ex.getRequestURI.getPath match {
          case "/lake" =>
            server.foreach(_.stop())
            spark.catalog.clearCache() // the previous lake's cached views
            val (l, out) = Loader.load(spark, body)
            val s = LakeServer.start(l, 0, body.path("sf_dir").asText(""))
            lake = Some(l); server = Some(s)
            out.put("port", s.boundPort)
            Right(out)
          case "/probe" => Right(Probes.run(lake.get, body))
          case "/spark" => Right(recorder.get.drain()
            .put("trainer_runs", OperatorCaches.trainerRuns.get))
          case "/heap" =>
            val rt = Runtime.getRuntime
            System.gc(); System.gc()
            Right(mapper.createObjectNode().put("live_heap_mb",
              (rt.totalMemory - rt.freeMemory) / 1048576.0))
          case "/stop" => done.countDown(); Right(mapper.createObjectNode())
          case other => Left(s"unknown control path $other")
        } catch {
          case t: Throwable =>
            t.printStackTrace()
            Left(t.toString)
        }
      val (status, bytes) = reply match {
        case Right(n) => 200 -> mapper.writeValueAsBytes(n)
        case Left(e) =>
          500 -> mapper.writeValueAsBytes(mapper.createObjectNode().put("error", e))
      }
      ex.sendResponseHeaders(status, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    control.start()
    println(s"CONTROL ${control.getAddress.getPort}")
    System.out.flush()
    done.await()
    server.foreach(_.stop())
    control.stop(0)
    spark.stop()
    sys.exit(0)
  }

  private[perfbench] def json: ObjectMapper = mapper
}

/** Populates a generated lake through the engine's own write path
  * (`Lake.addFile`, `addDataset`, `updateDataset`), as a long-running
  * server that received these uploads would be: every CSV and JSON blob's
  * schema is inferred (set-up waits for it), the catalog compacts every
  * 1024 rows, and with `flush` the last WAL rows are compacted too.
  * Without a spec the lake stays empty.
  */
private object Loader {
  def load(spark: SparkSession, req: JsonNode): (Lake, ObjectNode) = {
    val mapper = Harness.json
    val t0 = System.nanoTime()
    val lake = new Lake(spark, Paths.get(req.get("root").asText))
    val out = mapper.createObjectNode()
    val phases = out.putObject("phases_s")
    var last = t0
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases.put(name, (now - last) / 1e9)
      last = now
    }
    val cidArr = out.putArray("cids")
    val idArr = out.putArray("ids")
    if (req.hasNonNull("spec")) {
      val spec = Paths.get(req.get("spec").asText)
      val manifest = mapper.readTree(spec.resolve("manifest.json").toFile)
      val blobs = manifest.get("blobs").elements.asScala.toVector
      val cids = blobs.map(b => lake.addFile(
        Files.readAllBytes(spec.resolve(b.get("path").asText)), b.get("mime").asText))
      phase("files")
      blobs.zip(cids).foreach { case (b, cid) =>
        if (b.get("mime").asText != "application/octet-stream") lake.schema(cid)
      }
      phase("schemas")
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      manifest.get("datasets").elements.asScala.foreach { d =>
        val extra = d.get("extra").properties.asScala
          .map(e => e.getKey -> mapper.writeValueAsString(e.getValue)).toMap
        val description = d.get("description").asText
        ids += (if (d.get("parent").isNull)
          lake.addDataset(DatasetMeta(cids(d.get("blob").asInt), description,
            d.get("source").asText,
            d.get("topics").elements.asScala.map(_.asText).toSeq, extra))
        else
          lake.updateDataset(ids(d.get("parent").asInt),
            DatasetMeta.Partial(description = Some(description), extra = extra))
            .getOrElse(sys.error("update of a missing dataset")))
      }
      phase("datasets")
      if (req.path("flush").asBoolean(false)) lake.flush()
      phase("flush")
      cids.foreach(cidArr.add)
      ids.foreach(i => idArr.add(i))
    }
    out.put("populate_s", (System.nanoTime() - t0) / 1e9)
    (lake, out)
  }
}

/** In-process layer probes for the traced run: the same read-only calls
  * the HTTP handlers make, timed from outside the engine, plus a few
  * writes (fresh uploads, one dataset row) that time ingest, schema
  * inference and the catalog snapshot rebuild. Every probe records a span
  * (name, start, end, parent index) so the client can compute self time.
  */
private object Probes {
  /** nanoTime shifted onto the wall clock, so probe spans and Spark
    * listener times share one time line with the client's spans. */
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  final class Spans {
    val arr: ArrayNode = Harness.json.createArrayNode()
    def apply[T](name: String, parent: Int = -1)(f: Int => T): T = {
      val idx = arr.size
      val n = arr.addObject()
      n.put("name", name).put("parent", parent)
      val t0 = System.nanoTime()
      n.put("start_ns", t0 + epochOffsetNs)
      try f(idx)
      finally n.put("dur_ns", System.nanoTime() - t0)
    }
  }

  def run(lake: Lake, req: JsonNode): ObjectNode = {
    val mapper = Harness.json
    val out = mapper.createObjectNode()
    val spans = new Spans
    val reps = req.path("reps").asInt(3)
    def times(name: String): ArrayNode = out.putArray(name)
    def strings(key: String): Seq[String] =
      req.path(key).elements.asScala.map(_.asText).toSeq

    // QAST front end on the exact request bodies
    val finds = strings("finds")
    val parse = times("qast.parse_ns")
    val evalC = times("qast.eval_compile_ns")
    val colC = times("qast.column_compile_ns")
    for (_ <- 1 to reps; body <- finds) {
      val ast = spans("qast.parse") { _ => timed(parse)(Ast.parse(body)) }
      ast.foreach { a =>
        if (!Compiler.isFrameVerb(a))
          spans("qast.eval_compile") { _ => timed(evalC)(Evaluator.fromJson(body)) }
      }
    }
    // store: warm driver-local search over the snapshot
    val snapshotRows = lake.findLocal("true").fold(_ => 0, _.size)
    out.put("snapshot_rows", snapshotRows)
    val search = times("store.search_local_ns")
    var returned, scanned = 0L
    for (_ <- 1 to reps; body <- finds)
      spans("store.search_local") { _ =>
        timed(search)(lake.findLocal(body)).foreach { rows =>
          Ast.parse(body).foreach { a =>
            if (!Compiler.isFrameVerb(a)) {
              returned += rows.size; scanned += snapshotRows
            }
          }
        }
      }
    out.put("rows_returned", returned).put("rows_scanned", scanned)

    // engine: extraction split into plan (parse, compile, resolve, build
    // the DataFrame) and execution (drain the rows as the handler does)
    val plan = times("engine.extract_plan_ns")
    val exec = times("engine.extract_exec_ns")
    val extracts = req.path("extracts").elements.asScala.toVector
      .map(e => e.get(0).asText -> e.get(1).asText)
    for (_ <- 1 to reps; (cid, body) <- extracts)
      spans("engine.extract") { p =>
        Ast.parse(body).foreach { a =>
          spans("qast.column_compile", p) { _ =>
            timed(colC)(if (Compiler.isFrameVerb(a)) Compiler.compileFrame(a)
                        else Compiler.compile(a))
          }
        }
        val df = spans("engine.extract_plan", p) { _ =>
          timed(plan)(lake.extract(cid, body))
        }
        spans("engine.extract_exec", p) { _ =>
          timed(exec)(df.foreach(_.toJSON.toLocalIterator().asScala.foreach(_ => ())))
        }
      }

    // store: CAS reads and CID hashing
    val fetchNs = times("store.fetch_ns")
    val fetchBytes = times("store.fetch_bytes")
    for (_ <- 1 to reps; cid <- strings("gets"))
      spans("store.fetch") { _ =>
        val in = lake.fetch(cid)
        val t0 = System.nanoTime()
        val n = try in.readAllBytes().length finally in.close()
        fetchNs.add(System.nanoTime() - t0)
        fetchBytes.add(n)
      }
    val hashNs = times("store.cid_hash_ns")
    val hashBytes = times("store.cid_hash_bytes")
    val uploads = strings("uploads").map(p => Files.readAllBytes(Paths.get(p)))
    for (_ <- 1 to reps; bytes <- uploads)
      spans("store.cid_hash") { _ =>
        timed(hashNs)(Cid.ofBytes(bytes))
        hashBytes.add(bytes.length)
      }

    // engine ingest path: fresh CSV uploads (add + schema inference wait),
    // then one dataset row each, which drops the snapshot; the next find
    // rebuilds it
    val addNs = times("engine.add_file_ns")
    val schemaNs = times("engine.schema_wait_ns")
    val rebuildNs = times("store.rebuild_ns")
    val probeFind = finds.headOption.getOrElse("true")
    for (p <- strings("fresh_csv")) {
      val bytes = Files.readAllBytes(Paths.get(p))
      spans("engine.ingest") { s =>
        val cid = spans("engine.add_file", s) { _ =>
          timed(addNs)(lake.addFile(bytes, "text/csv"))
        }
        spans("engine.schema_wait", s) { _ => timed(schemaNs)(lake.schema(cid)) }
        lake.addDataset(DatasetMeta(cid, "probe", "probe",
          Seq("probe")))
        spans("store.rebuild", s) { _ => timed(rebuildNs)(lake.findLocal(probeFind)) }
      }
    }
    out.set[JsonNode]("spans", spans.arr)
    out
  }

  private def timed[T](sink: ArrayNode)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally sink.add(System.nanoTime() - t0)
  }
}
