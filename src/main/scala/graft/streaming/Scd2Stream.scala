package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.operators.Merge
import graft.store.Artifact
import graft.store.Artifact.Applied

/** Continuously-maintained SCD2 dimension — the streaming face of
  * [[Merge.scd2Apply]], mirroring [[ZorderStream]] for the layout:
  * each micro-batch of (key, new_val) change records closes the
  * current rows it changes and opens their successors, so the
  * dimension's version history is queryable one trigger behind the
  * change stream.
  *
  * On-disk state is two parquet families under `path`:
  * `hist/tick=<t>/` (closed rows, append-only across ticks, each tick
  * dir written ONCE by overwrite) and `cur/tick=<t>/` (the full
  * current snapshot as of tick t). A tick is visible only once its
  * mark exists in the [[graft.store.Artifact]] ledger
  * (`<path>.applied/<t>`): readers resolve the highest
  * marked tick, so a crash mid-write leaves the previous tick
  * authoritative and the replay's overwrite of BOTH dirs heals any
  * half-written state — the [[ZorderStream]] discipline (markers gate
  * visibility and save replay work; correctness never depends on
  * them). Because batch values are ABSOLUTE (not deltas),
  * [[Merge.scd2Apply]] is additionally idempotent in itself: a
  * replayed batch finds successors already carrying its values and
  * changes nothing.
  *
  * Scale shape: per tick, one shuffled equi-join of the CURRENT
  * snapshot against the batch (dimension-sized, never fact-sized —
  * the snapshot rewrite is what Delta/Iceberg MERGE does per commit),
  * plus an append of the closed rows. History accumulates only closed
  * versions; the only streaming state is the source offset checkpoint.
  */
object Scd2Stream {

  case class TickStats(batchId: Long, nClosed: Long, nInserted: Long,
      nCurrent: Long)

  /** Write the initial dimension (already in (key, val, valid_from,
    * valid_to) shape, all rows current) as the bootstrap snapshot.
    */
  def bootstrap(dim0: DataFrame, path: String): Unit = {
    dim0.write.mode("overwrite").parquet(s"$path/cur/tick=-1")
    Artifact.mark(dim0.sparkSession, path, Applied, -1L)
  }

  /** Apply one micro-batch at tick `batchId` (valid_from/valid_to
    * stamp = batchId + 1, so the bootstrap keeps 0). Idempotent at
    * every crash point: both writes are whole-directory overwrites of
    * deterministic contents, and the marker lands last.
    */
  private[graft] def applyTick(path: String, key: String, valCol: String,
      batch: DataFrame, batchId: Long): TickStats = {
    val s = batch.sparkSession
    val ts = batchId + 1
    val ticks = Artifact.marks(s, path, Applied)
    val (curP, histP) = (s"$path/cur/tick=$batchId", s"$path/hist/tick=$batchId")
    if (ticks.lastOption.exists(_ >= batchId)) {
      // replay after full success: state is durable — re-read the
      // accounting rather than re-deriving it against LATER state.
      // vacuum(keep=1) may have deleted this committed tick's
      // snapshot (multi-batch restart window): the idempotent skip
      // must not throw, so report -1 counts for "committed, vacuumed"
      if (!Artifact.exists(s, curP))
        return TickStats(batchId, -1L, -1L, -1L)
      val cur = s.read.parquet(curP)
      val nClosed =
        if (Artifact.exists(s, histP)) s.read.parquet(histP).count() else 0L
      val opened = cur.filter(col("valid_from") === ts).count()
      return TickStats(batchId, nClosed, opened - nClosed, cur.count())
    }
    val cur = s.read.parquet(
      s"$path/cur/tick=${ticks.filter(_ < batchId).max}")
    val out = Merge.scd2Apply(cur, batch, key, valCol, ts)
      .localCheckpoint(eager = true) // two consumers + two writes
    val closed = out.filter(col("valid_to").isNotNull)
    val newCur = out.filter(col("valid_to").isNull)
    val nClosed = closed.count()
    if (nClosed > 0) // an empty tick dir would pollute discovery
      closed.write.mode("overwrite").parquet(histP)
    newCur.write.mode("overwrite").parquet(curP)
    val nCurrent = s.read.parquet(curP).count()
    val opened = s.read.parquet(curP).filter(col("valid_from") === ts).count()
    Artifact.mark(s, path, Applied, batchId)
    TickStats(batchId, nClosed, opened - nClosed, nCurrent)
  }

  /** Start maintaining the dimension at `path` (bootstrapped
    * beforehand) from a streaming (key, new_val) frame. The caller
    * owns the returned query's lifecycle.
    */
  def maintain(rows: DataFrame, path: String, key: String,
      valCol: String): StreamingQuery = {
    require(rows.isStreaming, "maintain expects a streaming frame")
    rows.writeStream
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyTick(path, key, valCol, batch, batchId); ()
      }
      .start()
  }

  /** Retention: delete COMMITTED snapshot dirs older than the last
    * `keep` marked ticks. Hist segments are never touched (they ARE
    * the history); the replay frontier — the last tick, the only one
    * foreachBatch can ever replay — is always retained (`keep >= 1`);
    * unmarked wrecks are left for their replay to overwrite; markers
    * stay as the committed-tick ledger. Idempotent: a second vacuum
    * finds nothing below the cutoff.
    */
  def vacuum(s: SparkSession, path: String, keep: Int = 1): Unit =
    Artifact.vacuum(s, path, keep)

  /** The current snapshot: the highest marked tick's `cur` dir. */
  def currentOf(s: SparkSession, path: String): DataFrame =
    s.read.parquet(s"$path/cur/tick=${Artifact.lastMark(s, path, Applied)}")

  /** The full version table: closed segments of every COMMITTED tick
    * plus the latest snapshot — equals the batch-chained
    * [[Merge.scd2Apply]] result over the same ticks.
    */
  def historyOf(s: SparkSession, path: String): DataFrame =
    Artifact.marks(s, path, Applied).map(t => s"$path/hist/tick=$t")
      .filter(Artifact.exists(s, _))
      .foldLeft(currentOf(s, path))((acc, p) =>
        acc.unionByName(s.read.parquet(p)))
}
