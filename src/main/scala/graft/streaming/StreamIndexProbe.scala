package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Continuous dedup-against-history: stream arriving documents against
  * a FROZEN materialized MinHash index
  * ([[graft.operators.Dedup.buildMinhashIndex]]), writing verified
  * near-dup pairs to a parquet ledger — the serving loop of the
  * "is this a near-dup of anything we have EVER ingested" gate an
  * ingestion pipeline runs before admitting a document.
  *
  * Semantics ride on two already-proven properties: the probe is a pure
  * per-document function of the frozen index (DedupIndexSpec's
  * chunking-invariance — micro-batch boundaries cannot change the pair
  * set), and each batch's pairs land in their own `batch=<id>`
  * directory with overwrite, so a crash-replayed epoch rewrites its own
  * output instead of duplicating it (exactly-once per batch, the
  * [[StreamApply]] discipline without the snapshot swap).
  *
  * Index MAINTENANCE stays a scheduled batch concern
  * ([[graft.operators.Dedup.appendToMinhashIndex]], append ≡ rebuild,
  * and [[graft.operators.IndexStore]]'s delete/purge/compact) —
  * appending mid-stream would make replayed epochs at-least-once on the
  * postings side; a tombstone ([[graft.operators.IndexStore.delete]])
  * may land between micro-batches and every later batch stops
  * surfacing the deleted docs. Within-stream (doc vs doc, both in
  * flight) dedup is [[StreamNearDup]]'s job. */
object StreamIndexProbe {

  def start(docs: DataFrame, indexDir: String, outDir: String,
      checkpoint: String, idCol: String, textCol: String,
      threshold: Double = 0.7,
      maxBucket: Int = Dedup.DefaultMaxBucket): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // sweepAfter: the probe's interior checkpoints (shingle
          // spread, band table, scoped exits) are dead once the ledger
          // epoch is written — release them per batch, or a long-lived
          // stream accumulates blocks (local mode) / checkpoint files
          // (reliable mode) without bound
          graft.operators.Caches.sweepAfter {
            Dedup.probeMinhashIndex(batch.sparkSession, indexDir, batch,
                idCol, textCol, threshold, maxBucket)
              .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          }
        }
      }
      .start()
}
