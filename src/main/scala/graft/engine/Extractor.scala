package graft.engine

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * (`extract/data.clj:29-37`). Where the reference lazily streams one
  * row at a time through a closure predicate, we hand Spark the file and
  * the compiled QAST `Column`: the scan is partition-parallel and the
  * predicate reaches the reader (pushdown), which is the whole point of
  * going Spark-native — same semantics, cluster-scale execution.
  *
  * CSV extraction keeps every value a string (reference `csv->json`
  * zipmaps raw strings, `extract/data.clj:23-27`; its api test matches
  * `"VNM"` as a string) — so extraction reads with `inferSchema=false`.
  * Schema *inference* is the separate A1/A2 path below, with the
  * number/string lattice applied on top of Spark's inference.
  *
  * Reader schemas are memoized per `(cid, base MIME)` and handed to the
  * reader (`spark.read.schema`), so a warm extract is one Spark job:
  * the scan itself, with no header `take(1)` (CSV) or `multiLine`
  * inference pass (JSON) in front of it. Upload-time inference fills
  * the memo (JSON: the inferred `StructType` as is, the same read
  * extraction does; CSV: the inferred header names typed `StringType`,
  * which is what the string-only extraction read derives — Spark's
  * `makeSafeHeader` names columns the same with or without
  * `inferSchema`); a miss (e.g. after a restart, when the catalog
  * already holds the schema and inference is skipped) reads without a
  * schema and keeps `df.schema`. The MIME is in the key because the
  * same bytes may be registered again under another type. An entry
  * never goes stale — a cid's bytes never change — so there is no
  * eviction; each entry is smaller than the JSON Schema the catalog
  * keeps per cid anyway.
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

  private def reader(mime: String, path: Path, known: Option[StructType])
      : Either[ExtractError, DataFrame] = {
    val read = known.fold(spark.read)(spark.read.schema)
    baseMime(mime) match {
      case "text/csv" =>
        // stringly rows, first record = header (extract/data.clj:23-27)
        Right(read.option("header", true).csv(path.toString))
      case "application/json" =>
        // reference parses ONE top-level JSON array (extract/data.clj:33);
        // Spark's default is JSON-lines => multiLine for the array form.
        Right(read.option("multiLine", true).json(path.toString))
      case _ => Left(ExtractError.UnsupportedType(mime))
    }
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
    * unsupported cid is "malformed query", not "failed query".
    */
  def extract(cid: String, qastJson: String)
      : Either[ExtractError, DataFrame] =
    for {
      ast <- Ast.parse(qastJson).left.map(e => ExtractError.Malformed(e))
      plan <- (ast match {
        case a if Compiler.isFrameVerb(a) =>
          Compiler.compileFrame(a).map(Right(_))
        case _ => Compiler.compile(ast).map(Left(_))
      }).left.map(e => ExtractError.Malformed(e))
      df <- rows(cid)
      out <- plan.fold(
        pred => Right(df.filter(pred)),
        // frame-dependent type errors (group key unorderable for THIS
        // schema, sum over an array column...) keep the 400 precedent
        frame => frame.checked(df)
          .left.map(e => ExtractError.Malformed(e): ExtractError))
    } yield out

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
