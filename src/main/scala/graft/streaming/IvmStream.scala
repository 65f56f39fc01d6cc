package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.operators.Ivm
import graft.store.Artifact
import graft.store.Artifact.Applied

/** Continuously-maintained materialized aggregate view — the streaming
  * face of [[Ivm.maintain]], mirroring [[Scd2Stream]] for the
  * dimension: each micro-batch of (keys, m, values) change records
  * folds into the on-disk view in O(|view| + |batch|), so the
  * aggregate over a growing fact table is queryable one trigger behind
  * the change stream WITHOUT ever rescanning the facts.
  *
  * On-disk state is one parquet family under `path`:
  * `cur/tick=<t>/` (the full maintained view as of tick t), visibility
  * gated by a `<path>.applied/<t>` mark in the
  * [[graft.store.Artifact]] ledger — readers resolve the
  * highest marked tick, a crash mid-write leaves the previous tick
  * authoritative, and the replay's whole-directory overwrite heals any
  * half-written state (the [[Scd2Stream]]/[[ZorderStream]]
  * discipline). Unlike SCD2 (absolute values → apply idempotent in
  * itself), an IVM delta is a DELTA: re-folding it would double-apply
  * — which is exactly why the replay guard compares batchId against
  * the marker ledger and skips folds already committed. [[vacuum]]
  * (retention) reuses [[Scd2Stream.vacuum]] verbatim: the layouts
  * share the `cur/tick` + marker contract.
  */
object IvmStream {

  case class TickStats(batchId: Long, nGroups: Long)

  /** Write the initial view (keys ++ n ++ sums shape) as the bootstrap
    * snapshot.
    */
  def bootstrap(view0: DataFrame, path: String): Unit = {
    view0.write.mode("overwrite").parquet(s"$path/cur/tick=-1")
    Artifact.mark(view0.sparkSession, path, Applied, -1L)
  }

  /** Fold one micro-batch at tick `batchId`. Idempotent at every crash
    * point: the snapshot write is a whole-directory overwrite of
    * deterministic contents, the marker lands last, and a replay of a
    * COMMITTED tick is skipped outright (a delta must fold exactly
    * once).
    */
  private[graft] def applyTick(path: String, keys: Seq[String],
      sums: Seq[String], batch: DataFrame, batchId: Long): TickStats = {
    val s = batch.sparkSession
    val ticks = Artifact.marks(s, path, Applied)
    val snap = s"$path/cur/tick=$batchId"
    // already-committed replay: report stats only if the snapshot
    // still exists — vacuum(keep=1) may have deleted an older tick,
    // and an idempotent skip must not throw on a multi-batch restart
    // window (nGroups = -1 flags "committed, vacuumed")
    if (ticks.lastOption.exists(_ >= batchId))
      TickStats(batchId,
        if (Artifact.exists(s, snap)) s.read.parquet(snap).count() else -1L)
    else {
      val cur = s.read.parquet(
        s"$path/cur/tick=${ticks.filter(_ < batchId).max}")
      Ivm.maintain(cur, batch, keys, sums).write.mode("overwrite").parquet(snap)
      val n = s.read.parquet(snap).count()
      Artifact.mark(s, path, Applied, batchId)
      TickStats(batchId, n)
    }
  }

  /** Start maintaining the view at `path` (bootstrapped beforehand)
    * from a streaming (keys, m, values) frame. The caller owns the
    * returned query's lifecycle.
    */
  def maintain(rows: DataFrame, path: String, keys: Seq[String],
      sums: Seq[String], checkpoint: Option[String] = None): StreamingQuery = {
    require(rows.isStreaming, "maintain expects a streaming frame")
    val w = rows.writeStream
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyTick(path, keys, sums, batch, batchId); ()
      }
    // durable source offsets: across a PROCESS restart the replayed
    // frontier batch is the one the markers already make idempotent
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** Retention: identical contract to [[Scd2Stream.vacuum]] (shared
    * `cur/tick` + marker layout, no hist family to protect).
    */
  def vacuum(s: SparkSession, path: String, keep: Int = 1): Unit =
    Scd2Stream.vacuum(s, path, keep)

  /** The current view: the highest marked tick's snapshot. */
  def currentOf(s: SparkSession, path: String): DataFrame =
    s.read.parquet(s"$path/cur/tick=${Artifact.lastMark(s, path, Applied)}")

  /** Time travel: the view AS OF a committed tick — per-tick
    * snapshots double as a retained history (the Iceberg/Delta
    * `VERSION AS OF` shape), so "what did the aggregate say when
    * tick t was the frontier" is a direct read with no replay.
    * Committed-but-vacuumed and never-committed ticks both refuse
    * LOUDLY (named errors) instead of silently serving a neighbor's
    * snapshot; [[vacuum]]'s `keep` is therefore the time-travel
    * horizon.
    */
  def asOf(s: SparkSession, path: String, tick: Long): DataFrame = {
    require(Artifact.marks(s, path, Applied).contains(tick),
      s"ivm asOf: tick $tick was never committed at $path")
    val snap = s"$path/cur/tick=$tick"
    require(Artifact.exists(s, snap),
      s"ivm asOf: tick $tick is committed but vacuumed — raise " +
        s"vacuum(keep) to retain a longer time-travel horizon")
    s.read.parquet(snap)
  }
}
