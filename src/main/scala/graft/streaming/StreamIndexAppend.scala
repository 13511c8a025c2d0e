package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{IndexStore, Similarity}

/** Continuous maintenance of a materialized LSH ANN index
  * ([[graft.operators.Similarity.buildLshIndex]]): arriving vectors are
  * bucketed with the index's FROZEN hyperplanes and land in their own
  * `deltas/batch=<id>` epoch directory with overwrite
  * ([[graft.operators.IndexStore.writeEpoch]]) — so a crash-replayed
  * epoch rewrites itself instead of appending twice. This closes the
  * exactly-once gap that keeps the plain
  * [[graft.operators.Similarity.appendToLshIndex]] (mode=append into
  * the settled tree) a scheduled-batch-only tool, per
  * [[StreamIndexProbe]]'s design note.
  *
  * Serving needs no mode switch: `lshServeTopK` merge-on-reads the
  * delta tail ([[graft.operators.IndexStore.live]]), and because an LSH
  * posting is a pure per-vector function of seed-frozen hyperplanes,
  * base ∪ deltas serves EXACTLY like a one-shot build over everything
  * ingested so far — there is no centroid/codebook drift story, which
  * is why the LSH family is the one ANN index whose maintenance can
  * safely run inside the ingest stream. The accumulated epoch pile is
  * folded into the settled tree by
  * [[graft.operators.IndexStore.foldDeltas]] at the owner's maintenance
  * window.
  *
  * At 100 TB: each micro-batch writes only its own vectors' postings
  * (cost ∝ arrival rate, never index size), the per-epoch
  * `partitionBy(bucket)` keeps probe-side partition pruning effective
  * across the tail, and compaction cadence bounds the listing cost. */
object StreamIndexAppend {

  def start(vecs: DataFrame, indexDir: String, checkpoint: String,
      idCol: String, vecCol: String): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // a reset checkpoint restarts ids at 0 — the overwrite below
          // would then destroy committed old epochs; detect and refuse
          EpochGuard.check(batch.sparkSession, s"$indexDir/deltas", batchId)
          IndexStore.writeEpoch(Similarity.bucketWithFrozenMeta(
            batch.sparkSession, indexDir, batch, idCol, vecCol),
            indexDir, batchId)
        }
      }
      .start()
}
