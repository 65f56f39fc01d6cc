package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.operators.{Layout, Retrieval}
import graft.store.Artifact

/** Continuous vector-index ingest — the streaming face of the IVF-PQ
  * maintenance verbs: micro-batches of (vec_id, embedding) rows are
  * coded against an existing layout's FROZEN sidecar quantizer and
  * appended into its cell directories ([[Layout.appendToIvfPq]]), so
  * the index trails the stream by one trigger and probes see new
  * vectors within seconds of arrival. Training stays an offline
  * concern (the quantizer sidecars never change on this path), which
  * is exactly the production division of labor: stream-ingest daily,
  * retrain-rebuild deliberately.
  *
  * Delivery: `foreachBatch` is at-least-once on retry, so a replayed
  * micro-batch would double-append its rows into the index (and, for
  * BM25, add its df/N/Σdl twice). Ingest is exactly-once per batch id
  * through [[graft.store.Artifact.update]]: the batch's codes or
  * postings, its grown sidecars and its `path.ingested/<batchId>`
  * ledger mark stage together and publish as one commit. A replay
  * after any crash point first finishes or throws away the
  * interrupted stage, then either finds the mark and skips, or finds
  * the index untouched and applies the batch once. Marks are empty
  * files next to the index (same filesystem atomicity domain).
  *
  * State: none (the stateless shard-coding pass), so the only
  * streaming state is the source offset checkpoint — the operator
  * scales with micro-batch size, not stream history.
  */
object IndexStream {

  /** Apply one micro-batch to the index, exactly once per `batchId`. */
  private[streaming] def ingestBatch(path: String, batch: DataFrame,
      batchId: Long): Unit =
    Artifact.update(batch.sparkSession, path,
      Some(Artifact.Ingested -> batchId))(Layout.ivfPqAppend(_, batch))

  /** Start ingesting a streaming (vec_id, embedding) frame into the
    * IVF-PQ layout at `path`. The caller owns the returned query's
    * lifecycle (and its checkpoint location, via the usual writeStream
    * options on a wrapping builder if desired).
    */
  def ingest(vecs: DataFrame, path: String): StreamingQuery =
    start(vecs, "ingest")(ingestBatch(path, _, _))

  /** The text-index sibling of [[ingestBatch]]: apply one micro-batch
    * of (doc_id, text) rows to a persisted BM25 index
    * ([[graft.operators.Retrieval.appendBm25Batch]] — postings append
    * plus the EXACT df/N/Σdl statistics merge), exactly once per
    * `batchId` through the same ledger.
    */
  private[streaming] def ingestBm25Batch(path: String, batch: DataFrame,
      batchId: Long): Unit =
    Artifact.update(batch.sparkSession, path,
      Some(Artifact.Ingested -> batchId))(Retrieval.bm25Append(_, batch))

  /** Start ingesting a streaming (doc_id, text) frame into the BM25
    * index at `path`. Same contract as [[ingest]]: probes see new
    * documents — scored against EXACTLY updated corpus statistics —
    * one trigger after arrival.
    */
  def ingestBm25(docs: DataFrame, path: String): StreamingQuery =
    start(docs, "ingestBm25")(ingestBm25Batch(path, _, _))

  private def start(rows: DataFrame, verb: String)(
      apply: (DataFrame, Long) => Unit): StreamingQuery = {
    require(rows.isStreaming, s"$verb expects a streaming frame")
    rows.writeStream
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        apply(batch, batchId)
      }
      .start()
  }
}
