package graft.engine

import java.io.InputStream
import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.store.{Catalog, ContentStore, DatasetMeta}

/** The assembled lake core: content store + metadata catalog + extractor,
  * i.e. the reference's full service surface minus HTTP
  * (`/root/reference/src/comlake/core/HttpHandler.java` endpoint per
  * endpoint). Library users call these; an HTTP layer would be a thin
  * adapter with the reference's status/error contract.
  */
final class Lake(val spark: SparkSession, root: Path) {
  val store = new ContentStore(root.resolve("cas"))
  val catalog = new Catalog(spark, root.resolve("catalog"))
  val extractor = new Extractor(spark, store, catalog)

  /** `POST /file`: ingest bytes, register type, return CID, then fork
    * schema inference for row content in the background — the
    * reference's async-after-upload behavior (`HttpHandler.java:115`),
    * joined race-free in the Extractor; `GET /schema` is the
    * synchronization point. A CSV or JSON blob no larger than one file
    * split is inferred on the driver with no Spark job (see
    * Extractor).
    */
  def addFile(in: InputStream, mime: String): String = {
    val cid = store.add(in)
    store.logIngest(Seq(cid)) // uploads are streamable events too
    catalog.insertFile(cid, mime)
    val base = mime.split(';').head.trim.toLowerCase
    if (base == "text/csv" || base == "application/json")
      extractor.inferSchemaAsync(cid): Unit
    cid
  }

  def addFile(bytes: Array[Byte], mime: String): String =
    addFile(new java.io.ByteArrayInputStream(bytes), mime)

  /** `GET /file/{cid}` */
  def fetch(cid: String): InputStream = store.fetch(cid)

  /** The raw content store as a Spark table via the CID DataSource V2
    * connector (cid, length, content) — distributed scans over blobs
    * with column pruning (metadata-only queries read no bytes) and
    * cid-filter partition pruning. Join it with `catalog.content` for
    * typed views of the whole lake.
    */
  def contentTable: DataFrame =
    spark.read.format("cid").option("store", store.root.toString).load()

  /** Live ingest curation: every text blob entering the store (HTTP
    * upload, distributed `cid` write — both append the ingest log)
    * streams through quality gating and MinHash near-dup suppression
    * as micro-batches arrive. The full training-data pipeline as ONE
    * declarative streaming plan: connector source → stateless quality
    * filter → one stateful admission operator with bounded per-bucket
    * state (streaming/DocStream.scala). doc_id is the cid's xxhash64,
    * so admission decisions are content-addressed like everything else.
    */
  def curatedStream(minTokens: Int = 10)
      : org.apache.spark.sql.Dataset[graft.streaming.DocStream.Admitted] = {
    import org.apache.spark.sql.functions._
    val raw = spark.readStream.format("cid")
      .option("store", store.root.toString).load()
    val docs = raw
      .select(xxhash64(col("cid")).as("doc_id"),
        col("content").cast("string").as("text"))
      .filter(size(split(col("text"), " ")) >= minTokens)
    graft.streaming.DocStream.nearDeduped(docs)
  }

  /** `POST /dataset` (add-dataset) */
  def addDataset(meta: DatasetMeta): Long = {
    require(store.exists(meta.file), s"missing content: ${meta.file}")
    catalog.insertDataset(meta)
  }

  /** `POST /update` — new immutable version pointing at its parent. */
  def updateDataset(id: Long, overrides: DatasetMeta.Partial): Option[Long] =
    catalog.updateDataset(id, overrides)

  /** `POST /find` — QAST metadata search (distributed backend). */
  def find(qastJson: String): Either[graft.qast.Ast.QastError, DataFrame] =
    catalog.search(qastJson)

  /** `POST /find`, driver-local closure backend (metadata-scale fast
    * path; identical results — see Catalog.searchLocal). One
    * documented asymmetry: type REJECTIONS that the Column backend
    * derives statically from the schema (e.g. an array-valued sort
    * key) can only fire here when at least one row materializes the
    * offending value — over an empty selection this backend returns
    * an empty Right where [[find]] returns Left("malformed query").
    * A schemaless evaluator cannot see types that never appear as
    * values; the Column backend is strictly stricter, and neither
    * ever returns wrong rows.
    */
  def findLocal(qastJson: String)
      : Either[graft.qast.Ast.QastError, Seq[graft.qast.Evaluator.Row]] =
    catalog.searchLocal(qastJson)

  /** `POST /extract/{cid}` — QAST row extraction from content, as a
    * Spark DataFrame. */
  def extract(cid: String, qastJson: String): Either[ExtractError, DataFrame] =
    extractor.extract(cid, qastJson)

  /** `POST /extract/{cid}` as served: the JSON array body when a blob
    * below one file split is extracted on the driver (Left), else
    * [[extract]]'s DataFrame (Right) — see Extractor.serve. */
  def serveExtract(cid: String, qastJson: String)
      : Either[ExtractError, Either[Array[Byte], DataFrame]] =
    extractor.serve(cid, qastJson)

  /** `GET /schema/{cid}` — inferred draft-07 JSON Schema (cached). */
  def schema(cid: String): Either[ExtractError, String] =
    extractor.inferSchema(cid)

  /** Compact the content WAL into parquet (see Catalog.flush). */
  def flush(): Unit = catalog.flush()

  /** `GET /dir/{cid}` + `POST /dir` + `POST /cp` */
  def ls(cid: String): Map[String, String] = store.ls(cid)
  def mkdir(): String = store.mkdir()
  def cp(src: String, dir: String, name: String): String =
    store.cp(src, dir, name)
}
