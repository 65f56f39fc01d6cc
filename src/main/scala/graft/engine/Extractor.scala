package graft.engine

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{AnalysisException, Column, DataFrame,
  GraftFileScan, SparkSession}
import org.apache.spark.sql.execution.datasources.FileFormat
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructType}

import graft.qast.{Ast, Compiler}
import graft.schema.JsonSchema
import graft.store.{Catalog, ContentStore}

/** Content extraction + schema inference — the reference's
  * `POST /extract/{cid}` and `GET /schema/{cid}` paths
  * (`/root/reference/src/comlake/core/extract/data.clj`,
  * `extract/metadata.clj`, `HttpHandler.java:199-229`).
  *
  * MIME dispatch is the reference's: `text/csv` and `application/json`
  * are row collections, anything else is "unsupported data type"
  * (`extract/data.clj:29-37`). The reference streams one row at a time
  * through a closure predicate. Here a request takes one of two paths
  * ([[serve]]):
  *   - a blob no larger than one file split whose reader schema is in
  *     the memo below is read on the driver by Spark's own per-file
  *     reader and filtered by the QAST closure backend: no Spark job;
  *   - anything else, and every [[extract]] call, hands Spark the file
  *     and the compiled QAST `Column`: the scan is partition-parallel
  *     and the predicate reaches the reader (pushdown).
  * Both answer the same bytes (`ServedExtractPropertySpec`).
  *
  * CSV extraction keeps every value a string (reference `csv->json`
  * zipmaps raw strings, `extract/data.clj:23-27`; its api test matches
  * `"VNM"` as a string) — so extraction reads with `inferSchema=false`.
  * Schema *inference* is the separate A1/A2 path below, with the
  * number/string lattice applied on top of Spark's inference.
  *
  * Reader schemas are memoized per `(cid, base MIME)`. With the schema
  * known, [[rows]] builds the blob's frame directly: the relation
  * `spark.read.schema(s).options(o).csv(path)` (or `.json`) resolves
  * to, over an index that lists only the cid's one file
  * ([[GraftFileScan.oneFile]]). So a warm extract resolves no data
  * source, globs and lists no path and copies no Hadoop conf, and it
  * infers nothing: no header `take(1)` (CSV) or `multiLine` inference
  * pass (JSON) runs in front of the scan. A warm Spark-path extract is
  * then one Spark job per file split, the scan itself; the driver path
  * runs none (and needs the memoized schema: it has no inference of
  * its own). Upload-time inference fills the memo (JSON: the inferred
  * `StructType` as is, the same read extraction does; CSV: the
  * inferred header names typed `StringType`, which is what the
  * string-only extraction read derives — Spark's `makeSafeHeader`
  * names columns the same with or without `inferSchema`); a miss
  * (e.g. after a restart, when the catalog already holds the schema
  * and inference is skipped) reads through `spark.read` without a
  * schema and keeps `df.schema`. The MIME is in the key because the
  * same bytes may be registered again under another type. An entry
  * never goes stale — a cid's bytes never change — so there is no
  * eviction; each entry is smaller than the JSON Schema the catalog
  * keeps per cid anyway. The schema is the only state kept per cid:
  * the relation is rebuilt per request from one `stat` of the file.
  */
final class Extractor(spark: SparkSession, store: ContentStore,
    catalog: Catalog) {

  /** Reader schema per `(cid, base MIME)` — see the class doc. */
  private val readerSchemas = scala.collection.concurrent.TrieMap
    .empty[(String, String), StructType]

  /** Load a cid's rows as a DataFrame, per its registered MIME type. */
  def rows(cid: String): Either[ExtractError, DataFrame] =
    catalog.getType(cid) match {
      case None => Left(ExtractError.UnknownCid(cid))
      case Some(mime) =>
        val key = (cid, baseMime(mime))
        reader(mime, store.pathOf(cid), readerSchemas.get(key)).map { df =>
          readerSchemas.putIfAbsent(key, df.schema)
          df
        }
    }

  /** The reader schema known: the relation over the blob's one file
    * ([[GraftFileScan.oneFile]]); else `spark.read`, which infers it. */
  private def reader(mime: String, path: Path, known: Option[StructType])
      : Either[ExtractError, DataFrame] = {
    val base = baseMime(mime)
    formatOf(base).toRight(ExtractError.UnsupportedType(mime)).map {
      format =>
        val options = readerOptions(base)
        known match {
          case Some(schema) =>
            GraftFileScan.oneFile(spark, path, format, schema, options)
          case None => spark.read.format(format.shortName).options(options)
            .load(path.toString)
        }
    }
  }

  private def formatOf(base: String)
      : Option[FileFormat with DataSourceRegister] = base match {
    case "text/csv" => Some(new CSVFileFormat)
    case "application/json" => Some(new JsonFileFormat)
    case _ => None
  }

  private def readerOptions(base: String): Map[String, String] = base match {
    // stringly rows, first record = header (extract/data.clj:23-27)
    case "text/csv" => Map("header" -> "true")
    // reference parses ONE top-level JSON array (extract/data.clj:33);
    // Spark's default is JSON-lines => multiLine for the array form.
    case _ => Map("multiLine" -> "true")
  }

  private def baseMime(mime: String): String =
    mime.split(';').head.trim.toLowerCase

  /** `POST /extract/{cid}`: rows matching a QAST predicate — or, when
    * the query's top-level verb is one of the beyond-reference frame
    * extensions (`group` rollup, `having` output filter, `top`
    * order+limit), the compiled frame transform (key-ordered). The
    * query is parsed/compiled BEFORE the cid resolves, matching the
    * reference's error precedence (`HttpHandler.java:219-229` calls
    * `parseAstFn` first): a malformed query against an unknown or
    * unsupported cid is "malformed query", not "failed query". A query
    * the analyzer rejects for this frame (a missing column, a type
    * mismatch) is "malformed query" too.
    */
  def extract(cid: String, qastJson: String)
      : Either[ExtractError, DataFrame] =
    for {
      planned <- compiled(qastJson)
      df <- rows(cid)
      out <- applied(planned._2, df)
    } yield out

  /** The served `/extract`: the JSON array body, written on the driver,
    * or, where that path does not apply, [[extract]]'s DataFrame.
    *
    * The driver path takes a blob that is at most
    * `spark.sql.files.openCostInBytes` and whose reader schema is in
    * the memo. Spark never splits such a file, so its scan would be one
    * task on one core anyway; here the request thread does that task's
    * work with no job:
    *   1. analyze and optimize the Spark path's own `df.filter(pred)` /
    *      `frame.checked(df)` without running it: the analyzer's
    *      rejections stay "malformed query", its output schema fixes
    *      the columns' order and types, and a constant the optimizer
    *      cannot fold sends the request to the Spark path;
    *   2. read the blob with the code Spark's scan runs per file
    *      (`GraftFileScan`), with the memoized schema;
    *   3. evaluate with the closure backend ([[graft.qast.Evaluator]]);
    *   4. write every row with `toJSON`'s generator before any header
    *      goes out.
    * Anything the closure backend does not evaluate exactly as
    * Catalyst (see [[ClosureScan]]), and any run-time failure of the
    * closures, goes to the Spark path, which then gives the answer or
    * the failure. So does a larger blob, and a memo miss: its Spark
    * read fills the memo, and the next request takes the driver path.
    */
  def serve(cid: String, qastJson: String)
      : Either[ExtractError, Either[Array[Byte], DataFrame]] =
    for {
      planned <- compiled(qastJson)
      df <- rows(cid)
      out <- applied(planned._2, df)
    } yield onDriver(cid, planned._1, out).toLeft(out)

  /** The driver path's body for `out` (the Spark path's own frame,
    * analyzed but not run), or None where it does not apply. */
  private def onDriver(cid: String, ast: Ast, out: DataFrame)
      : Option[Array[Byte]] =
    for {
      mime <- catalog.getType(cid)
      base = baseMime(mime)
      schema <- readerSchemas.get((cid, base))
      path = store.pathOf(cid)
      if Files.size(path) <= GraftFileScan.openCostInBytes(spark) &&
        ClosureScan.modeled(schema) && ClosureScan.plainPaths(ast) &&
        ClosureScan.exact(out.queryExecution.analyzed)
      body <- try {
        // the optimizer folds constants and propagates them into
        // predicates: an expression that fails there fails the Spark
        // path whatever the rows, so it goes there
        out.queryExecution.optimizedPlan
        val read = if (base == "text/csv") GraftFileScan.readCsv _
          else GraftFileScan.readJson _
        val in = read(spark, path, schema, readerOptions(base))
        ClosureScan.run(ast, schema, in, out.schema).map(rows =>
          GraftFileScan.jsonArray(spark, out.schema, rows.iterator))
      } catch {
        case scala.util.control.NonFatal(_) => None
      }
    } yield body

  private def compiled(qastJson: String)
      : Either[ExtractError, (Ast, Either[Column, Compiler.FrameQuery])] =
    (for {
      ast <- Ast.parse(qastJson)
      plan <-
        if (Compiler.isFrameVerb(ast)) Compiler.compileFrame(ast).map(Right(_))
        else Compiler.compile(ast).map(Left(_))
    } yield (ast, plan)).left.map(ExtractError.Malformed(_))

  /** The plan over `df`. Frame-dependent type errors (a missing
    * column, a group key unorderable for THIS schema, a sum over an
    * array column...) keep the 400 precedent. */
  private def applied(plan: Either[Column, Compiler.FrameQuery],
      df: DataFrame): Either[ExtractError, DataFrame] =
    plan.fold(
      pred => try Right(df.filter(pred)) catch {
        case _: AnalysisException =>
          Left(ExtractError.Malformed(Ast.malformed))
      },
      frame => frame.checked(df).left.map(ExtractError.Malformed(_)))

  /** Memoized in-flight inferences — the reference's `memoize` of a
    * Clojure future (`extract/metadata.clj:67-76`), done with an atomic
    * `getOrElseUpdate` so the memoize race its thesis admits
    * (`eval.tex:192-197`) cannot double-infer.
    */
  private val inferences = scala.collection.concurrent.TrieMap
    .empty[String, scala.concurrent.Future[Either[ExtractError, String]]]
  private implicit val ec: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.global

  /** Kick off (or join) background inference for a cid — called right
    * after upload, like the reference's async fork
    * (`HttpHandler.java:115`).
    */
  def inferSchemaAsync(cid: String)
      : scala.concurrent.Future[Either[ExtractError, String]] =
    inferences.getOrElseUpdate(cid,
      scala.concurrent.Future(inferNow(cid)))

  /** Infer a cid's row schema, persist it in the catalog, return the
    * draft-07 JSON Schema document (reference `GET /schema/{cid}` —
    * the synchronization point: blocks on the memoized future if
    * inference is in flight, like its `future.get()`,
    * `HttpHandler.java:203-216`).
    */
  def inferSchema(cid: String): Either[ExtractError, String] =
    catalog.getSchema(cid) match {
      case Some(json) => Right(json)
      case None => scala.concurrent.Await.result(
        inferSchemaAsync(cid), scala.concurrent.duration.Duration.Inf)
    }

  private def inferNow(cid: String): Either[ExtractError, String] =
    catalog.getSchema(cid) match {
      case Some(json) => Right(json)
      case None =>
        catalog.getType(cid) match {
          case None => Left(ExtractError.UnknownCid(cid))
          case Some(mime) => infer(cid, mime).map { st =>
            val json = JsonSchema.forRows(cid, st)
            catalog.setSchema(cid, json)
            json
          }
        }
    }

  /** Infer a cid's schema, remembering its reader schema on the way. */
  private def infer(cid: String, mime: String)
      : Either[ExtractError, StructType] = baseMime(mime) match {
    case base @ "text/csv" =>
      // Spark's CSV inference samples types; the reference folds its
      // two-element lattice over ALL rows (metadata.clj:36-53). The
      // JsonSchema serializer collapses both to number|string.
      val st = spark.read.option("header", true).option("inferSchema", true)
        .csv(store.pathOf(cid).toString).schema
      readerSchemas.putIfAbsent((cid, base),
        StructType(st.map(_.copy(dataType = StringType))))
      Right(st)
    // JSON inference is the extraction read itself (which fills the memo)
    case _ => rows(cid).map(_.schema)
  }
}

/** Error contract mirroring the reference's HTTP error strings
  * (`HttpHandler.java:219-229`, `api_test.clj:191-218`).
  */
sealed trait ExtractError { def message: String }
object ExtractError {
  case class UnknownCid(cid: String) extends ExtractError {
    def message = "unknown cid"
  }
  case class UnsupportedType(mime: String) extends ExtractError {
    def message = "unsupported data type"
  }
  case class Malformed(cause: Ast.QastError) extends ExtractError {
    def message = "malformed query"
  }
}
