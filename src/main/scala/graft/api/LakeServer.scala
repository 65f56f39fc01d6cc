package graft.api

import java.io.{InputStream, OutputStream}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.SparkEntry
import graft.engine.{ExtractError, Lake}
import graft.operators.OperatorCaches
import graft.store.{ContentStore, DatasetMeta}

/** HTTP adapter exposing the reference's 10-endpoint API over a `Lake`
  * (`/root/reference/doc/api.md`; handlers
  * `src/comlake/core/HttpHandler.java`), with the same status codes and
  * the exact error strings its test-suite asserts
  * (`test/comlake/core/api_test.clj`):
  *
  *   POST /dir            → {"cid"}
  *   POST /file           → {"cid"}            ("empty data")
  *   POST /cp             → {"cid"}            ("dest is not a directory")
  *   POST /dataset        → {"id"}             ({"missing-metadata":[...]})
  *   POST /update         → {"id"}             ("missing parent")
  *
  * Beyond the reference's strings, malformed bodies answer 400 too:
  *
  *   - `/cp`: "malformed query" when the body is not a JSON object
  *     whose `src`, `dest` and `path` are strings; "src not found" for
  *     a `src` the store does not hold; "invalid path" when `path`
  *     holds a tab or a line break (a directory manifest stores one
  *     "name\tcid" per line).
  *   - `/dataset`, `/update`: "malformed query" for a body that is not
  *     JSON; "topics must be an array" when `topics` is a string, a
  *     number or null; `/dataset`: "file not found" when the store
  *     does not hold `file` (an absent CID or a string that is not
  *     one); `/update`: "malformed parent" when `parent` is not an
  *     integer (a number or a numeric string), "parent not found" when
  *     no dataset has that id.
  *   - A `{cid}` that is not a CIDv0 (`..`, `.`, non-base58) reads as
  *     absent: "not a directory" on `/dir`, "content not found" on
  *     `/file`.
  *   POST /find           → [flat objects]     ("malformed query")
  *   GET  /dir/{cid}      → {name: cid}        ("not a directory")
  *   GET  /file/{cid}     → chunked bytes      ("content not found", 404)
  *   GET  /schema/{cid}   → draft-07 schema    ("unsupported data type")
  *   POST /extract/{cid}  → [row objects]      ("malformed query"/"failed query")
  *   anything else        → 404 {"error":"unsupported"}
  *
  * Beyond the reference surface, the engine's whole analytic inventory
  * (every named `SparkEntry.queries` entry) is served too:
  *
  *   GET  /query          → sorted [names]
  *   POST /query/{name}   → [row objects]; body = optional
  *                          {"sf_dir": "..."} overriding the server's
  *                          default scale-factor directory. Unknown
  *                          name → 404; a body that is not a JSON
  *                          object, or an `sf_dir` that is not a
  *                          string → "malformed query"; a missing or
  *                          unreadable dir, or a query that throws →
  *                          "failed query" (same contract as /extract).
  *
  * Query results stream through `toJSON.toLocalIterator` — rows travel
  * driver→client in chunks without materializing the result set,
  * preserving the reference's lazy-streaming property over
  * arbitrarily large extractions. The exception is an extraction from
  * a blob below one file split: it runs on the driver and its body is
  * written whole before the status goes out.
  *
  * Built on the JDK's HttpServer: no dependencies beyond Spark's
  * jackson. The reference used Netty via Aleph; at 1000-req/s scale a
  * production deployment would front this with any async server — the
  * contract lives here, not in the transport.
  */
final class LakeServer(lake: Lake, port: Int,
    sfDir: String = LakeServer.defaultSfDir) {
  LakeServer.noDelay // must be forced before HttpServer.create below

  private val mapper = new ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(
    math.max(8, Runtime.getRuntime.availableProcessors)))

  def boundPort: Int = server.getAddress.getPort

  server.createContext("/", (ex: HttpExchange) => handle(ex))

  def start(): LakeServer = { server.start(); this }
  def stop(): Unit = server.stop(0)

  private def handle(ex: HttpExchange): Unit =
    try route(ex)
    catch {
      case t: Throwable =>
        System.err.println(s"[lake-server] ${ex.getRequestMethod} " +
          s"${ex.getRequestURI}: $t")
        // best effort: if headers were already sent the body is cut
        try sendError(ex, "internal server error", 500)
        catch { case _: Throwable => }
    } finally ex.close()

  private def route(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod
    val path = ex.getRequestURI.getPath
    (method, path.split("/").toList.drop(1)) match {
      case ("POST", "dir" :: Nil) => sendJson(ex, cidJson(lake.mkdir()))
      case ("POST", "file" :: Nil) => postFile(ex)
      case ("POST", "cp" :: Nil) => postCp(ex)
      case ("POST", "dataset" :: Nil) => postDataset(ex)
      case ("POST", "update" :: Nil) => postUpdate(ex)
      case ("POST", "find" :: Nil) => postFind(ex)
      case ("POST", "extract" :: cid :: Nil) => postExtract(ex, cid)
      case ("GET", "query" :: Nil) => getQueryNames(ex)
      case ("POST", "query" :: name :: Nil) => postQuery(ex, name)
      case ("GET", "dir" :: cid :: Nil) => getDir(ex, cid)
      case ("GET", "file" :: cid :: Nil) => getFile(ex, cid)
      case ("GET", "schema" :: cid :: Nil) => getSchema(ex, cid)
      case _ => sendError(ex, "unsupported", 404)
    }
  }

  // --- endpoints -----------------------------------------------------

  private def postFile(ex: HttpExchange): Unit = {
    val bytes = ex.getRequestBody.readAllBytes()
    if (bytes.isEmpty) sendError(ex, "empty data")
    else {
      val mime = Option(ex.getRequestHeaders.getFirst("Content-Type"))
        .getOrElse("application/octet-stream")
      sendJson(ex, cidJson(lake.addFile(bytes, mime)))
    }
  }

  /** The request body as JSON, or None when it does not parse. */
  private def readJson(ex: HttpExchange): Option[JsonNode] =
    Try(mapper.readTree(ex.getRequestBody)).toOption.flatMap(Option(_))

  private def postCp(ex: HttpExchange): Unit = {
    def text(body: JsonNode, key: String) =
      Option(body.get(key)).filter(_.isTextual).map(_.asText)
    readJson(ex).filter(_.isObject)
      .map(b => (text(b, "src"), text(b, "dest"), text(b, "path"))) match {
      case Some((Some(src), Some(dest), Some(path))) =>
        if (!ContentStore.isEntryName(path)) sendError(ex, "invalid path")
        else if (!lake.store.isDir(dest))
          sendError(ex, "dest is not a directory")
        else if (!lake.store.exists(src)) sendError(ex, "src not found")
        else sendJson(ex, cidJson(lake.cp(src, dest, path)))
      case _ => sendError(ex, "malformed query")
    }
  }

  /** `topics` as strings, or None when the node is not an array. */
  private def topicsOf(node: JsonNode): Option[Seq[String]] =
    if (node.isArray) Some(node.elements.asScala.map(_.asText).toSeq)
    else None

  private val requiredMeta = Seq("file", "description", "source", "topics")

  private def postDataset(ex: HttpExchange): Unit = readJson(ex) match {
    case None => sendError(ex, "malformed query")
    case Some(body) =>
      val missing = requiredMeta.filterNot(body.has)
      val topics = Option(body.get("topics")).flatMap(topicsOf)
      if (missing.nonEmpty) {
        val err = mapper.createObjectNode()
        val obj = err.putObject("error")
        val arr = obj.putArray("missing-metadata")
        missing.foreach(arr.add)
        send(ex, 400, "application/json", mapper.writeValueAsBytes(err))
      } else if (topics.isEmpty) sendError(ex, "topics must be an array")
      else if (!lake.store.exists(body.get("file").asText))
        sendError(ex, "file not found")
      else {
        val extras = body.properties.asScala
          .filterNot(e => requiredMeta.contains(e.getKey))
          .map(e => e.getKey -> mapper.writeValueAsString(e.getValue)).toMap
        val id = lake.addDataset(DatasetMeta(
          file = body.get("file").asText,
          description = body.get("description").asText,
          source = body.get("source").asText,
          topics = topics.get,
          extra = extras))
        sendJson(ex, s"""{"id":"$id"}""")
      }
  }

  private def postUpdate(ex: HttpExchange): Unit = readJson(ex) match {
    case None => sendError(ex, "malformed query")
    case Some(body) =>
      val topics = Option(body.get("topics")).map(topicsOf)
      Option(body.get("parent")).map(p => Try(p.asText.toLong).toOption) match {
        case None => sendError(ex, "missing parent")
        case Some(None) => sendError(ex, "malformed parent")
        case Some(Some(_)) if topics.contains(None) =>
          sendError(ex, "topics must be an array")
        case Some(Some(parent)) =>
          val extras = body.properties.asScala
            .filterNot(e => (requiredMeta :+ "parent").contains(e.getKey))
            .map(e => e.getKey -> mapper.writeValueAsString(e.getValue)).toMap
          val overrides = DatasetMeta.Partial(
            file = Option(body.get("file")).map(_.asText),
            description = Option(body.get("description")).map(_.asText),
            source = Option(body.get("source")).map(_.asText),
            topics = topics.flatten,
            extra = extras)
          lake.updateDataset(parent, overrides) match {
            case Some(id) => sendJson(ex, s"""{"id":"$id"}""")
            case None => sendError(ex, "parent not found")
          }
      }
  }

  private def postFind(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    // driver-local closure backend: the metadata snapshot is cached on
    // the driver, so /find costs microseconds per row instead of a
    // Spark job (the distributed backend `lake.find` computes the same
    // rows — cross-checked in QastBackendsSpec). A value that fails at
    // run time (a string that does not cast) is "failed query" on
    // either backend. A snapshot rebuild, or the search above the
    // snapshot's cap, runs its Spark jobs in the job group `find-<n>`.
    failedQuery(ex, "find")(inJobGroup("find", "find")(
      lake.findLocal(body))) match {
      case Some(Left(e)) => sendError(ex, e.message)
      case Some(Right(rows)) =>
        streamJsonArray(ex, rows.iterator.map(findRowJson))
      case None =>
    }
  }

  /** `body`, or None once a run-time failure of it was answered 400
    * "failed query" (the reference's string for a query that throws,
    * HttpHandler:227). */
  private def failedQuery[A](ex: HttpExchange, what: String)(body: => A)
      : Option[A] =
    try Some(body)
    catch {
      case scala.util.control.NonFatal(t) =>
        System.err.println(s"[lake-server] $what: $t")
        sendError(ex, "failed query")
        None
    }

  /** One flat object per row: open-map extras re-inflated to typed
    * JSON, fixed columns injected after so they win key clashes (the
    * reference merges extra then injects fixed fields,
    * PostgreSQL.java:163-172). Reference row shape preserved exactly
    * (PostgreSQL.java:165-171): the content key is `cid` (not `file`),
    * and `id`/`parent` are stringified — a NULL parent is "0" because
    * the reference goes through JDBC `getLong` + `String.valueOf`.
    */
  private def findRowJson(row: Map[String, Any]): String = {
    val node = mapper.createObjectNode()
    row.get("extra").foreach {
      case m: Map[_, _] => m.foreach { case (k, v) =>
        val txt = String.valueOf(v)
        val parsed = Try(mapper.readTree(txt)).toOption
          .getOrElse(com.fasterxml.jackson.databind.node.TextNode.valueOf(txt))
        node.set[JsonNode](String.valueOf(k), parsed)
      }
      case _ =>
    }
    row.foreach { case (k0, v0) => if (k0 != "extra") {
      val k = if (k0 == "file") "cid" else k0
      val v: Any = k0 match {
        case "id" | "parent" =>
          if (v0 == null) "0" else String.valueOf(v0)
        case _ => v0
      }
      v match {
        case null => node.putNull(k)
        case s: String => node.put(k, s)
        case l: Long => node.put(k, l)
        case i: Int => node.put(k, i)
        case d: Double => node.put(k, d)
        case b: Boolean => node.put(k, b)
        case xs: Seq[_] =>
          val a = node.putArray(k)
          xs.foreach(x => a.add(String.valueOf(x)))
        case other => node.put(k, String.valueOf(other))
      }
    }}
    mapper.writeValueAsString(node)
  }

  /** A blob below one file split is extracted on the driver and sent
    * whole; anything else streams from Spark (see Extractor.serve), in
    * the job group `extract-<n>` described by the cid. */
  private def postExtract(ex: HttpExchange, cid: String): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    inJobGroup("extract", cid)(lake.serveExtract(cid, body) match {
      case Left(e: ExtractError.Malformed) => sendError(ex, e.message)
      case Left(_) => sendError(ex, "failed query") // ref: HttpHandler:227
      case Right(Left(json)) => send(ex, 200, "application/json", json)
      case Right(Right(df)) => failedQuery(ex, s"extract $cid") {
        streamJsonArray(ex, df.toJSON.toLocalIterator().asScala)
      }
    })
  }

  private def getQueryNames(ex: HttpExchange): Unit = {
    val arr = mapper.createArrayNode()
    SparkEntry.queries.keys.toSeq.sorted.foreach(arr.add)
    send(ex, 200, "application/json", mapper.writeValueAsBytes(arr))
  }

  /** The analytic surface over HTTP: run a named `SparkEntry` query and
    * stream its rows. Results travel through the same lazy
    * `toJSON.toLocalIterator` path as `/extract` — a long result set
    * never materializes on the driver.
    *
    * Work is kept across requests. [[OperatorCaches.admit]] runs
    * first: it lists the request's `sf_dir` and, when the listing
    * changed since it was last seen, drops the dir's trained models,
    * its resolved tables and the cached frames. So a frame, a model
    * or a table's listing and schema is only replayed while its dir's
    * listing is unchanged: a client whose `sf_dir` is untouched
    * replays them, one whose files were rewritten gets fresh answers.
    * After the request,
    * [[OperatorCaches.settle]] clears the frames (not the models) only
    * if they hold more than Spark's storage memory. Every Spark job of
    * the request runs in one job group, named by a request id and
    * described by the query name.
    */
  private def postQuery(ex: HttpExchange, name: String): Unit =
    SparkEntry.queries.get(name) match {
      case None => sendError(ex, "unknown query", 404)
      case Some(fn) =>
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8).trim
        val dir: Option[String] =
          if (body.isEmpty) Some(sfDir)
          else Try(mapper.readTree(body)).toOption.filter(_.isObject)
            .flatMap(node => Option(node.get("sf_dir")) match {
              case None => Some(sfDir)
              case Some(d) => Option.when(d.isTextual)(d.asText)
            })
        dir match {
          case None => sendError(ex, "malformed query")
          case Some(d) =>
            try inJobGroup("query", name)(failedQuery(ex, s"query $name") {
              OperatorCaches.admit(lake.spark, d)
              val df = fn(lake.spark, d)
              streamJsonArray(ex, df.toJSON.toLocalIterator().asScala)
            }) finally OperatorCaches.settle(lake.spark)
        }
    }

  private val requestSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** `body` with every Spark job it starts in the job group
    * `<kind>-<n>` (`n` numbers the server's requests), described by
    * `description`. */
  private def inJobGroup[A](kind: String, description: String)(body: => A)
      : A = {
    val sc = lake.spark.sparkContext
    sc.setJobGroup(s"$kind-${requestSeq.incrementAndGet()}", description)
    try body finally sc.clearJobGroup()
  }

  private def getDir(ex: HttpExchange, cid: String): Unit =
    if (!lake.store.isDir(cid)) sendError(ex, "not a directory")
    else {
      val obj = mapper.createObjectNode()
      lake.ls(cid).toSeq.sorted.foreach { case (n, c) => obj.put(n, c) }
      send(ex, 200, "application/json", mapper.writeValueAsBytes(obj))
    }

  private def getFile(ex: HttpExchange, cid: String): Unit =
    if (!lake.store.exists(cid) || lake.store.isDir(cid))
      sendError(ex, "content not found", 404)
    else {
      ex.getResponseHeaders.set("Content-Type", "application/octet-stream")
      ex.sendResponseHeaders(200, 0) // 0 = chunked
      val out = ex.getResponseBody
      val in = lake.fetch(cid)
      try in.transferTo(out) finally { in.close(); out.close() }
    }

  private def getSchema(ex: HttpExchange, cid: String): Unit =
    lake.schema(cid) match {
      case Right(json) => sendJson(ex, json)
      case Left(_: ExtractError.UnknownCid) =>
        sendError(ex, "content not found", 404)
      case Left(e) => sendError(ex, e.message) // "unsupported data type"
    }

  // --- plumbing ------------------------------------------------------

  private def cidJson(cid: String): String = s"""{"cid":"$cid"}"""

  private def sendJson(ex: HttpExchange, json: String): Unit =
    send(ex, 200, "application/json", json.getBytes(UTF_8))

  private def sendError(ex: HttpExchange, msg: String, status: Int = 400)
      : Unit =
    send(ex, status, "application/json",
      s"""{"error":${mapper.writeValueAsString(msg)}}""".getBytes(UTF_8))

  private def send(ex: HttpExchange, status: Int, ctype: String,
      body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(status, body.length)
    val out = ex.getResponseBody
    try out.write(body) finally out.close()
  }

  /** Chunked `[obj,obj,...]` without materializing the iterator.
    * Buffered so small rows coalesce into full-size chunks instead of
    * one HTTP chunk per write. The first row is pulled before the
    * status goes out: a query that fails in its first Spark job throws
    * here, while its caller can still answer 400 "failed query"
    * instead of a 200 with a cut body.
    */
  private def streamJsonArray(ex: HttpExchange, rows: Iterator[String])
      : Unit = {
    rows.hasNext
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, 0)
    val out = new java.io.BufferedOutputStream(ex.getResponseBody, 64 * 1024)
    try {
      out.write('[')
      var first = true
      rows.foreach { r =>
        if (!first) out.write(',')
        out.write(r.getBytes(UTF_8))
        first = false
      }
      out.write(']')
    } finally out.close()
  }
}

object LakeServer {
  /** The JDK HttpServer leaves Nagle's algorithm on; chunked replies
    * (/find, /extract, /file downloads) then lose ~40ms per request to
    * the Nagle/delayed-ACK interaction — measured 259 req/s vs 1500+
    * with it off. `sun.net.httpserver.ServerConfig` reads the property
    * in ITS static initializer, so it must be set before the first
    * `HttpServer` is created anywhere in the JVM. Living in this
    * companion's static initializer (touched first thing in the class
    * constructor) makes the ordering structural for every LakeServer
    * path; processes that create an unrelated HttpServer earlier must
    * set it at their entry point (Serve.main does).
    */
  private[api] val noDelay: Unit =
    System.setProperty("sun.net.httpserver.nodelay", "true")

  /** Default scale-factor dir for `/query` when the request body names
    * none: env override first, else the smallest test corpus.
    */
  def defaultSfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

  def start(lake: Lake, port: Int = 0,
      sfDir: String = defaultSfDir): LakeServer =
    new LakeServer(lake, port, sfDir).start()
}
