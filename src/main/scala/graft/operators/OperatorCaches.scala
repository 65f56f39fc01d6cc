package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation

/** What a session keeps between queries, and when it stops keeping it.
  *
  * Three kinds of state outlive a query:
  *   - cached frames: the narrow mid-plan caches operators pin
  *     (`Graph.tradeEdges`, `Dedup`'s shingle index and pair graph,
  *     `Pq`'s residual frames, `DistributedPrefix`'s ranged frame).
  *     Spark's `CacheManager` keys them on the canonicalized plan, so
  *     a repeat of the same query replays the same entry;
  *   - the trainer memo ([[trainedMemo]]): collected trainer outputs
  *     (k-means centroids, PQ codebooks, BPE merge lists), keyed by
  *     (data dir, trainer);
  *   - resolved tables ([[resolved]]), serving only: the file listing
  *     and inferred schema behind each `Tables.load`, keyed by
  *     (session, data dir, table), kept only for dirs [[admit]] has
  *     fingerprinted. A repeat load skips Spark's schema-inference job
  *     and the driver-side listing.
  *
  * Invariant: a frame, a model or a resolved table is only replayed
  * while its data dir's file listing is unchanged. A serving session
  * enforces it with one [[admit]] per request before the query runs:
  * when the dir's listing fingerprint (names, sizes, modification
  * times) differs from the last one seen, the dir's memo entries and
  * resolved tables are dropped and the cached frames are cleared, so
  * they re-materialise lazily over the new files. A rewrite that lands
  * while a query on the same dir is in flight is seen by the next
  * request, not by that one.
  *
  * Frames cost executor memory, so [[settle]] after each request
  * clears them (never the KB-scale memo) once the persisted bytes
  * pass Spark's own storage memory. Batch drivers (`Bench`,
  * `Verify`) and specs never admit, so their loads resolve afresh;
  * they call [[release]] for an explicit clean slate.
  */
object OperatorCaches {

  /** Drop every cached frame in the session — operator-internal
    * caches included — and forget memoized trainer outputs, resolved
    * tables and every dir's fingerprint. Safe at any point: caching
    * here is purely a performance discipline (single materialization
    * per query), never a correctness dependency.
    */
  def release(s: SparkSession): Unit = {
    s.catalog.clearCache()
    trained.synchronized(trained.clear())
    seen.synchronized { seen.clear(); relations.clear() }
  }

  /** Last listing fingerprint [[admit]] saw, per data dir. Its monitor
    * also guards [[relations]].
    */
  private val seen = scala.collection.mutable.Map.empty[String, String]

  /** Resolved table relations of admitted dirs, per (session, dir,
    * table).
    */
  private val relations = scala.collection.mutable.Map
    .empty[(SparkSession, String, String), BaseRelation]

  /** Make `dir` safe to replay from: list it once and, when its
    * fingerprint differs from the last one seen (or it was never
    * seen), drop the dir's memo entries and resolved tables and every
    * cached frame. Throws
    * when the dir cannot be listed. A concurrent admit of the same
    * listing waits until the drop is done, so it can neither replay
    * the old entries nor lose the ones it trains.
    *
    * Frames are cleared, not refreshed with `catalog.refreshByPath`:
    * Spark's `CacheManager.recacheByPath` refreshes only the FIRST
    * file index under the path in each cached plan (`plan.exists`), so
    * a frame joining several tables of the dir (`Graph.tradeEdges`)
    * would be rebuilt over stale listings and fail to read them.
    */
  def admit(s: SparkSession, dir: String): Unit = {
    val fp = fingerprint(s, dir)
    seen.synchronized {
      if (!seen.get(dir).contains(fp)) {
        trained.synchronized(trained.filterInPlace((k, _) => k._1 != dir))
        relations.filterInPlace((k, _) => k._2 != dir)
        s.catalog.clearCache()
        seen(dir) = fp
      }
    }
  }

  /** `read` (one table of `dir`) resolved once per listing: for a dir
    * [[admit]] has fingerprinted, the first load's relation is kept
    * and every later load gets a fresh frame over it, with new
    * attribute ids, so a query may join two loads of one table. Any
    * other dir gets `read` itself. The relation is installed under
    * the lock [[admit]] drops under, and only while the dir still has
    * the fingerprint it had when the read began, so a read that races
    * a drop never installs a relation over the old files.
    */
  def resolved(s: SparkSession, dir: String, table: String)(
      read: => DataFrame): DataFrame = {
    val key = (s, dir, table)
    seen.synchronized(seen.get(dir).map(_ -> relations.get(key))) match {
      case None => read
      case Some((_, Some(rel))) => s.baseRelationToDataFrame(rel)
      case Some((fp, None)) =>
        val df = read
        df.queryExecution.analyzed match {
          case l: LogicalRelation => seen.synchronized {
            if (seen.get(dir).contains(fp))
              relations.getOrElseUpdate(key, l.relation)
          }
          case _ =>
        }
        df
    }
  }

  /** Names, sizes and modification times of every file under `dir`,
    * from one recursive listing.
    */
  private def fingerprint(s: SparkSession, dir: String): String = {
    val root = new Path(dir)
    val it = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      .listFiles(root, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}")
      .toSeq.sorted.mkString("\n")
  }

  /** Clear the cached frames (the memo stays) when the persisted RDD
    * bytes, memory plus disk, exceed Spark's storage memory.
    */
  def settle(s: SparkSession): Unit =
    settle(s, s.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum)

  private[graft] def settle(s: SparkSession, budget: Long): Unit = {
    val held = s.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum
    if (held > budget) s.catalog.clearCache()
  }

  private val trained =
    scala.collection.mutable.LinkedHashMap.empty[(String, String), AnyRef]

  /** Count of memo MISSES (actual trainer runs) since process start:
    * a spec (or an operator dashboard) asserts that a serial client or
    * a concurrent burst trained once, not once per request.
    */
  private[graft] val trainerRuns =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Process-wide memo for COLLECTED trainer outputs, keyed by
    * (data dir, trainer and mode): training is deterministic over the
    * dir's files, so its driver-side result — always a KB-scale local
    * table (~C centroid rows, M·K codebook rows, the merge list),
    * never corpus data — is computed once and replayed from memory by
    * every later consumer until [[admit]] sees the dir's listing
    * change. This is the in-session half of the train-once story
    * whose durable half is the layout sidecars
    * ([[graft.operators.Layout]]). Values are plain Scala rows
    * (session-independent); callers rebuild the tiny DataFrame per
    * use. Synchronized + reentrant (a trainer may memo-read its own
    * coarse quantizer).
    */
  private[operators] def trainedMemo[T <: AnyRef](key: (String, String))(
      compute: => T): T = trained.synchronized {
    trained.getOrElseUpdate(key, {
      trainerRuns.incrementAndGet(); compute
    }).asInstanceOf[T]
  }
}
