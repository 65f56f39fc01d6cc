package graft.store

import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.reflect.{ClassTag, classTag}
import scala.reflect.runtime.universe.TypeTag

import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.qast.{Ast, Compiler, Evaluator}

/** Metadata catalog — the engine's analog of the reference's PostgreSQL
  * metadata store (`/root/reference/src/comlake/core/db/PostgreSQL.java`),
  * holding the two relations of `resources/psql/table.sql`:
  *
  *   content (cid, type, extra)            — one row per stored blob
  *   dataset (id, file, description, source, topics, extra, parent)
  *
  * Each relation is one [[MetaLog]]: an **append-only log** with
  * last-writer-wins resolution at read time — the lakehouse-native
  * replacement for the reference's `INSERT ... ON CONFLICT DO UPDATE`
  * (`PostgreSQL.java:41-44`). Every mutation appends a full row stamped
  * with a monotonic `seq`, and the read view keeps the highest-`seq`
  * row per key (`cid` for content, `id` for dataset). Dataset rows are
  * immutable *versions* (`POST /update` inserts a child row pointing at
  * its parent, `PostgreSQL.java:128-154`), so their keys never repeat
  * and the same resolution leaves them as they are. Any log reaching
  * 1024 pending WAL rows compacts both logs into parquet.
  *
  * Recovery invariant: `seq` is recovered as the max over every durable
  * row of both logs (WAL lines are synced per append; parquet is the
  * compacted log), so a restart never reissues a seq that reached a
  * durable row — dataset ids stay unique and resolution never ties. A
  * WAL tail after its last newline is an append that never returned
  * (a crash between the writes of one line); recovery truncates it. An
  * unparseable complete line still fails the open.
  *
  * Point lookups (`getType`, version parents) read a driver index of
  * the resolved view (metadata is tiny relative to content), and
  * `search` stays a fully distributed join+filter.
  */
final class Catalog(spark: SparkSession, root: Path,
    localIndexMaxRowsOverride: Long = -1L) {
  import Catalog.{ContentRow, DatasetRow}

  /** Driver-side materialization cap. The point-lookup indexes and the
    * `searchLocal` snapshot hold the RESOLVED relations on the driver —
    * reference parity (its Postgres held them the same way) and the
    * measured hot-path win at metadata scale, but a driver OOM at 100×
    * metadata. Above this many logged rows point lookups become
    * pushed-down filters over the view and `searchLocal` runs `search`
    * (semantics-equivalent, QastBackendsSpec), collecting only its
    * result. Set by `spark.graft.catalog.localIndexMaxRows` (or the
    * constructor, for tests).
    */
  private val localIndexMaxRows: Long =
    if (localIndexMaxRowsOverride >= 0L) localIndexMaxRowsOverride
    else spark.conf.getOption("spark.graft.catalog.localIndexMaxRows")
      .map(_.toLong).getOrElse(4L * 1000 * 1000)

  private val contents = new MetaLog[String, ContentRow](spark, this, root,
    "content", "cid", _.cid, _.seq, localIndexMaxRows)
  private val datasets = new MetaLog[Long, DatasetRow](spark, this, root,
    "dataset", "id", _.id, _.seq, localIndexMaxRows)

  /** Ids and last-writer-wins order, like the reference's bigserial;
    * recovered from the logs (see the recovery invariant above). */
  private lazy val seqCounter =
    new AtomicLong(math.max(contents.maxSeq, datasets.maxSeq))

  private def nextSeq(): Long = seqCounter.incrementAndGet()

  private def append[K, R <: Product](log: MetaLog[K, R], row: R): Unit =
    synchronized {
      log.append(row)
      snapshotCache = None
      if (log.pendingRows >= 1024) flush()
    }

  /** Resolved `content` relation: latest full row per cid. */
  def content: DataFrame = contents.view

  /** Resolved `dataset` relation: every version row. */
  def dataset: DataFrame = datasets.view

  /** Compact pending WAL rows into the parquet logs (one Spark job per
    * batch instead of one per mutation). Logical content is unchanged.
    */
  def flush(): Unit = synchronized {
    contents.compact()
    datasets.compact()
  }

  /** Upsert-by-cid (reference I3, `PostgreSQL.java:84-94`): sets `type`,
    * preserves any existing extra (e.g. an inferred schema).
    */
  def insertFile(cid: String, mime: String): Unit = {
    val existing = contents.lookup(cid)
    append(contents, ContentRow(cid, mime,
      existing.map(_.extra).getOrElse(Map.empty), nextSeq()))
  }

  /** Persist an inferred schema under `extra.schema` (reference A3,
    * `PostgreSQL.java:205-212`).
    */
  def setSchema(cid: String, schemaJson: String): Unit =
    contents.lookup(cid) match {
      case Some(row) =>
        append(contents, row.copy(extra = row.extra + ("schema" -> schemaJson),
          seq = nextSeq()))
      case None =>
        append(contents, ContentRow(cid, null, Map("schema" -> schemaJson),
          nextSeq()))
    }

  /** `SELECT type FROM content WHERE cid=?` (reference L1). */
  def getType(cid: String): Option[String] =
    contents.lookup(cid).flatMap(r => Option(r.`type`))

  def getSchema(cid: String): Option[String] =
    contents.lookup(cid).flatMap(_.extra.get("schema"))

  /** Required dataset fields (`HttpHandler.java:138-142`); anything else
    * in `meta` is open-map `extra`.
    */
  def insertDataset(meta: DatasetMeta): Long = {
    val id = nextSeq()
    append(datasets, DatasetRow(id, meta.file, meta.description, meta.source,
      meta.topics, meta.extra, meta.parent, id))
    id
  }

  /** Version lineage: the chain from `id` back to its root revision
    * (reference data model: `dataset.parent` forms a version tree,
    * `PostgreSQL.java:48-50,128-154`; the reference stores the tree but
    * never walks it). Metadata-scale driver walk over the index — the
    * distributed form would be an iterative self-join, unnecessary for
    * a relation this size by design.
    */
  def lineage(id: Long): Seq[DatasetRow] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[DatasetRow]
    var cur = datasets.lookup(id)
    val seen = scala.collection.mutable.Set.empty[Long] // cycle guard
    while (cur.isDefined && seen.add(cur.get.id)) {
      out += cur.get
      cur = cur.get.parent.flatMap(datasets.lookup)
    }
    out.toSeq
  }

  /** Update-as-insert versioning (reference I2, `PostgreSQL.java:128-154`):
    * a new row inherits every field the override map omits and points back
    * at its parent, forming the version tree. Returns None if the parent
    * doesn't exist (reference: 400 "failed query").
    */
  def updateDataset(parentId: Long, overrides: DatasetMeta.Partial): Option[Long] =
    datasets.lookup(parentId).map { p =>
      insertDataset(DatasetMeta(
        file = overrides.file.getOrElse(p.file),
        description = overrides.description.getOrElse(p.description),
        source = overrides.source.getOrElse(p.source),
        topics = overrides.topics.getOrElse(p.topics),
        extra = p.extra ++ overrides.extra,
        parent = Some(parentId)))
    }

  /** Metadata search (reference S5/S6, `PostgreSQL.java:51-54`):
    * `dataset ⋈ content ON file = cid`, QAST predicate over the joined
    * open row, fixed projection plus right-biased merge
    * `dataset.extra || content.extra` (jsonb `||` semantics). Join
    * strategy is left to Catalyst: at metadata scale both sides
    * auto-broadcast; past that a hint would force the OOM the
    * `localIndexMaxRows` cap exists to prevent. The predicate lands
    * in both scans.
    */
  def search(qastJson: String): Either[Ast.QastError, DataFrame] =
    Ast.parse(qastJson).flatMap(searchAst)

  private def searchAst(ast: Ast): Either[Ast.QastError, DataFrame] =
    // beyond-reference frame verbs (group/having/top): the verb's own
    // predicate filters the PROJECTED search row (where `extra` is the
    // merged map), so rollups see exactly the row shape `/find` returns
    if (Compiler.isFrameVerb(ast))
      Compiler.compileFrame(ast).flatMap(_.checked(searchWith(lit(true))))
    else Compiler.compile(ast).map(searchWith)

  /** Driver-local metadata search — the closure backend of the QAST
    * "query polymorphism" (reference `qast->fn`): the joined+projected
    * search relation is snapshotted once on the driver (metadata is
    * small by design) and predicates evaluate as closures per row —
    * microseconds per query instead of a Spark job. Snapshot is
    * invalidated by every catalog write. Row shape equals `search`'s
    * output row (id, file, description, source, topics, type, parent,
    * extra), so both backends see the same fields; equivalence is
    * cross-checked in QastBackendsSpec. Above the cap the full relation
    * must not live on the driver: the same query runs through `search`
    * and only its result (matches, |groups| rows, k rows) is collected.
    */
  def searchLocal(qastJson: String)
      : Either[Ast.QastError, Seq[Evaluator.Row]] =
    Ast.parse(qastJson).flatMap { ast =>
      snapshot match {
        case Some(rows) =>
          if (Compiler.isFrameVerb(ast)) Evaluator.frame(rows, qastJson)
          else Evaluator.fromJson(qastJson)
            .map(pred => rows.filter(pred(_) == true))
        case None =>
          searchAst(ast).map(_.collect().toSeq.map(genericRowToMap))
      }
    }

  /** Schema-generic Row → Map: search rows and rollup outputs alike. */
  private def genericRowToMap(r: org.apache.spark.sql.Row): Evaluator.Row =
    r.schema.fieldNames.zipWithIndex.map { case (n, i) =>
      n -> (r.get(i) match {
        case s: scala.collection.Seq[_] => s.toList
        case m: scala.collection.Map[_, _] => m.toMap
        case v => v
      })
    }.toMap

  @volatile private var snapshotCache: Option[Seq[Evaluator.Row]] = None
  @volatile private var snapshotDisabled = false

  private def snapshot: Option[Seq[Evaluator.Row]] =
    if (snapshotDisabled) None
    else snapshotCache.orElse(synchronized {
      snapshotCache.orElse {
        // dataset rows bound the joined search relation's size (the
        // join is on file=cid, one content row per key)
        if (datasets.rows > localIndexMaxRows) {
          snapshotDisabled = true
          None
        } else {
          snapshotCache =
            Some(searchWith(lit(true)).collect().toSeq.map(genericRowToMap))
          snapshotCache
        }
      }
    })

  def searchWith(pred: Column): DataFrame = {
    val d = dataset
    val c = content.select(col("cid"), col("type"),
      col("extra").as("content_extra"))
    val mergedExtra = map_concat(
      map_filter(coalesce(col("extra"), map()),
        (k, _) => !map_contains_key(coalesce(col("content_extra"), map()), k)),
      coalesce(col("content_extra"), map()))
    // no broadcast hint: at metadata scale both sides auto-broadcast;
    // above the cap a forced broadcast would be the driver OOM the cap
    // exists to prevent — Catalyst/AQE pick from actual sizes instead
    d.join(c, col("file") === col("cid"))
      .withColumn("merged_extra", mergedExtra)
      .filter(pred)
      .select(col("id"), col("file"), col("description"), col("source"),
        col("topics"), col("type"), col("parent"),
        col("merged_extra").as("extra"))
  }
}

/** One append-only metadata relation keyed by `keyCol`: parquet log
  * `root/<name>/` plus WAL `root/<name>.wal`.
  *
  * Registration is the hot path (reference: 357 req/s of Postgres
  * INSERTs). A one-row Spark parquet append per mutation costs a full
  * job (~70 ms), so a mutation appends one fsync'd JSON line to the WAL
  * — durable per request, like the reference's per-request INSERT
  * commit — and updates the driver index; the view unions parquet with
  * the pending rows, and `compact` moves them to parquet with one Spark
  * job per batch. Every mutation takes `lock` (the owning catalog);
  * lookups below the cap are lock-free map reads.
  */
private final class MetaLog[K, R <: Product : TypeTag : ClassTag](
    spark: SparkSession, lock: AnyRef, root: Path, name: String,
    keyCol: String, keyOf: R => K, seqOf: R => Long, cap: Long) {
  private implicit val enc: Encoder[R] = Encoders.product[R]
  private val dir = root.resolve(name)
  private val wal = root.resolve(name + ".wal")
  Files.createDirectories(dir)

  /** Latest pending (not yet compacted) row per key, insertion-ordered. */
  private val pending = scala.collection.mutable.LinkedHashMap.empty[K, R]

  /** Driver index of the resolved view; None until the first lookup.
    * ConcurrentHashMap because readers (lookups on the request pool)
    * race writers (`append` under the lock) — a plain mutable.HashMap
    * can corrupt during resize; the volatile only publishes the Option.
    * Once the log crosses the cap it never shrinks (append-only), so
    * the disabled decision is memoized — over-cap lookups pay one
    * filter job, not an extra count.
    */
  @volatile private var index: Option[ConcurrentHashMap[K, R]] = None
  @volatile private var indexDisabled = false

  /** The resolved view, cached in memory (metadata is small relative to
    * content by design — the analog of the reference keeping it in
    * pooled PostgreSQL, its single biggest measured win,
    * `eval.tex:85-107`) and dropped on every append and compaction.
    */
  @volatile private var cache: Option[DataFrame] = None

  // recovery: reload pending rows; drop a torn tail
  if (Files.exists(wal)) {
    val bytes = Files.readAllBytes(wal)
    val end = bytes.lastIndexOf('\n'.toByte) + 1
    if (end < bytes.length) {
      val ch = FileChannel.open(wal, StandardOpenOption.WRITE)
      try { ch.truncate(end); ch.force(true) } finally ch.close()
    }
    val cls = classTag[R].runtimeClass.asInstanceOf[Class[R]]
    new String(bytes, 0, end, UTF_8).split('\n').filter(_.nonEmpty)
      .map(MetaLog.codec.readValue(_, cls))
      .foreach(r => pending.put(keyOf(r), r))
  }

  def pendingRows: Int = pending.size

  private def hasData: Boolean =
    Files.exists(dir.resolve("_SUCCESS")) || {
      val s = Files.list(dir)
      try s.anyMatch(p => p.toString.endsWith(".parquet"))
      finally s.close()
    }

  private def parquet: DataFrame =
    if (!hasData) spark.emptyDataset[R].toDF()
    else spark.read.parquet(dir.toString)

  /** Logged rows, superseded versions included. Parquet row counts are
    * footer-metadata reads — no data scan.
    */
  def rows: Long = lock.synchronized(pending.size.toLong) +
    (if (hasData) parquet.count() else 0L)

  /** Highest `seq` over every durable row. */
  def maxSeq: Long = lock.synchronized {
    val compacted = parquet.agg(coalesce(max(col("seq")), lit(0L))).head()
    pending.valuesIterator.map(seqOf).foldLeft(compacted.getLong(0))(math.max)
  }

  def append(row: R): Unit = lock.synchronized {
    Files.writeString(wal, MetaLog.codec.writeValueAsString(row) + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND,
      StandardOpenOption.SYNC)
    pending.put(keyOf(row), row)
    index.foreach { m =>
      m.put(keyOf(row), row)
      // the cap must hold across the process LIFETIME, not just the
      // first build: a long-running server that ingests past it drops
      // the driver map and falls through to the distributed paths
      if (m.size > cap) {
        indexDisabled = true
        index = None
      }
    }
    dropView()
  }

  def compact(): Unit = lock.synchronized {
    if (pending.nonEmpty) {
      spark.createDataset(pending.values.toSeq).write.mode("append")
        .parquet(dir.toString)
      pending.clear()
      Files.deleteIfExists(wal)
      dropView() // rebuild from parquet on next read
    }
  }

  private def dropView(): Unit = {
    cache.foreach(_.unpersist())
    cache = None
  }

  /** Last writer wins: the highest-`seq` row per key of the log. */
  def view: DataFrame = cache.getOrElse(lock.synchronized {
    cache.getOrElse {
      val log =
        parquet.unionByName(spark.createDataset(pending.values.toSeq).toDF())
      val cols = log.columns.toSeq
      val df = log.groupBy(keyCol)
        .agg(max_by(struct(cols.filter(_ != keyCol).map(col): _*),
          col("seq")).as("r"))
        .select(cols.map(c =>
          if (c == keyCol) col(c) else col("r." + c).as(c)): _*)
        .cache()
      cache = Some(df)
      df
    }
  })

  /** The index, built on first use; None above the cap. */
  private def driverIndex: Option[ConcurrentHashMap[K, R]] =
    if (indexDisabled) None
    else index.orElse(lock.synchronized {
      index.orElse {
        if (rows > cap) {
          indexDisabled = true
          None
        } else {
          val m = new ConcurrentHashMap[K, R]
          view.as[R].collect().foreach(r => m.put(keyOf(r), r))
          index = Some(m)
          index
        }
      }
    })

  def lookup(k: K): Option[R] = driverIndex match {
    case Some(m) => Option(m.get(k)) // pure map access on uploads
    case None => // above the cap: pending rows first (no job for the
      // WAL hot path), then a pushed-down point filter over the view
      lock.synchronized(pending.get(k)).orElse(
        view.filter(col(keyCol) === k).as[R].collect().headOption)
  }
}

private object MetaLog {
  /** The WAL line codec: one JSON object per row, fields in constructor
    * order, `null` for a null `type` or an empty `parent`.
    */
  val codec: JsonMapper =
    JsonMapper.builder().addModule(DefaultScalaModule).build()
}

object Catalog {
  /** Append-log row shapes (top-level so Spark can derive encoders). */
  case class ContentRow(cid: String, `type`: String,
      extra: Map[String, String], seq: Long)
  /** `contentAs`: without it the WAL codec reads a parent back as a
    * boxed Integer inside the Option. */
  case class DatasetRow(id: Long, file: String, description: String,
      source: String, topics: Seq[String], extra: Map[String, String],
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      parent: Option[Long], seq: Long)
}

/** The reference's required dataset fields + open extras
  * (`HttpHandler.java:138-144`).
  */
case class DatasetMeta(file: String, description: String, source: String,
    topics: Seq[String], extra: Map[String, String] = Map.empty,
    parent: Option[Long] = None)

object DatasetMeta {
  /** Field overrides for update-as-version; None = inherit from parent. */
  case class Partial(file: Option[String] = None,
      description: Option[String] = None, source: Option[String] = None,
      topics: Option[Seq[String]] = None,
      extra: Map[String, String] = Map.empty)
}
