package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.operators.Layout
import graft.store.Artifact

/** Continuous ingest into a z-bucketed relational layout — the
  * streaming face of [[Layout]]'s z-order lifecycle, mirroring
  * [[IndexStream]] for the vector index: micro-batches of rows are
  * z-keyed against the layout's FROZEN `.bounds` sidecar and land in
  * their Morton buckets within one trigger, so 2-D box probes see new
  * rows seconds after arrival. Re-bucketing bounds stays an offline
  * concern (a deliberate [[Layout.writeZBucketed]] rebuild), the same
  * division of labor as quantizer retraining.
  *
  * Delivery: `foreachBatch` is at-least-once, and this path is
  * idempotent at EVERY crash point without a repair verb — each batch
  * writes its rows under `zbucket=β/zbatch=batchId` with dynamic
  * partition overwrite ([[Layout.appendZBatch]]), so a crashed
  * half-append is healed by the replay overwriting exactly its own
  * (bucket, batch) partitions. The `path.ingested/<batchId>` ledger
  * mark on top ([[graft.store.Artifact.once]]) only saves the replay's
  * write work; correctness never depends on it.
  * Compaction ([[Layout.compactZBuckets]]) folds accumulated batch
  * partitions into one file per bucket — run it while the stream is
  * quiesced, the single-writer discipline every layout verb here
  * assumes.
  *
  * State: none — the only streaming state is the source offset
  * checkpoint, so the operator scales with micro-batch size, not
  * stream history.
  */
object ZorderStream {

  /** Apply one micro-batch: skip if its marker exists, else an
    * idempotent (bucket, batch)-scoped overwrite — optionally folding
    * the batch into the `.blooms` point-lookup sidecar — then mark.
    *
    * The bloom fold keeps its own idempotence under at-least-once
    * delivery: inserting the same keys sets the same bits, so a
    * replayed merge is a bit-level no-op and the sidecar stays BYTE
    * equal to a from-scratch rebuild at every crash point (a crash
    * inside the sidecar's publish is finished by the next reader —
    * [[graft.store.Artifact]]'s recovery on read).
    */
  private[streaming] def ingestBatch(path: String, batch: DataFrame,
      batchId: Long, maintainBlooms: Boolean = false,
      maintainZones: Seq[String] = Nil): Unit = {
    val s = batch.sparkSession
    Artifact.once(s, path, Artifact.Ingested, batchId) {
      Layout.appendZBatch(s, path, batch, batchId)
      if (maintainBlooms) Layout.mergeBloomSidecar(s, path, batch)
      // zone rows are per-file and append-only; a crash-and-replay can
      // duplicate a file's row, which zoneProbe's distinct absorbs —
      // so the fold is idempotent in effect, like the bloom bit-OR
      if (maintainZones.nonEmpty) Layout.mergeZoneMap(s, path, maintainZones)
    }
  }

  /** Start ingesting a streaming frame (carrying the layout's two key
    * columns) into the z-bucketed layout at `path`. The caller owns
    * the returned query's lifecycle. With `maintainBlooms` the
    * `.blooms` sidecar (built beforehand with
    * [[Layout.writeBloomSidecar]]) is folded forward each trigger, so
    * point lookups on the non-layout column stay fresh one trigger
    * behind the stream instead of staling toward false negatives
    * until a rebuild.
    */
  def ingest(rows: DataFrame, path: String,
      maintainBlooms: Boolean = false,
      maintainZones: Seq[String] = Nil): StreamingQuery = {
    require(rows.isStreaming, "ingest expects a streaming frame")
    rows.writeStream
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(path, batch, batchId, maintainBlooms, maintainZones)
      }
      .start()
  }
}
