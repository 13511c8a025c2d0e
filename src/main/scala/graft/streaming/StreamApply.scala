package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Tables
import graft.operators.Cdc

/** Continuous CDC materialization — the streaming half of
  * [[graft.operators.Cdc]]: a change stream (key, sequence, action,
  * attributes) is applied to a parquet snapshot table micro-batch by
  * micro-batch, each batch an atomic snapshot swap. This is the
  * "apply changes into" pattern: readers always see a complete,
  * consistent snapshot; the checkpoint makes restarts resume at the
  * right batch; and because [[Cdc.applyChanges]] is latest-wins
  * idempotent, a replayed batch after a crash converges to the same
  * snapshot instead of corrupting it.
  *
  * Scale posture: per batch, ONE key-partitioned join of the (small)
  * change batch against the snapshot, and a full snapshot rewrite.
  * The rewrite is the honest cost of a format without transaction-log
  * row-level updates — bounded by snapshot size, amortized by batching
  * (trigger interval = rewrite budget). There is no per-partition
  * apply: every batch rewrites the whole snapshot, so a larger table
  * needs a longer trigger interval.
  */
object StreamApply {

  /** Start applying `changes` (a streaming frame carrying `keyCol`,
    * `seqCol`, `actionCol` and the snapshot's attribute columns) onto
    * the parquet table at `snapshotDir` (which must already exist). */
  def start(changes: DataFrame, snapshotDir: String, keyCol: String,
      seqCol: String, actionCol: String, checkpoint: String): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          // heal a crashed prior swap BEFORE reading the snapshot, or
          // the replayed batch crash-loops on the missing directory
          Tables.recoverReplaceAtomic(spark, snapshotDir)
          val target = spark.read.parquet(snapshotDir)
          Tables.replaceAtomic(spark, snapshotDir,
            Cdc.applyChanges(target, batch, keyCol, seqCol, actionCol))
        }
      }
      .start()
}
