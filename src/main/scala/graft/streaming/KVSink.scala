package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.kv.{Mem, Store}

/** Streaming → KV bridge: the reference README's "memory vs store option"
  * (/root/reference/README.md:20) applied to streaming sinks — a
  * streaming computation's rolling result lives in `mem` (ephemeral,
  * cached) or `store` (durable, bucketed parquet), behind the same
  * upsert contract, so the engine's two halves (KV services, streaming
  * analytics) compose instead of coexisting.
  *
  * Each update-mode micro-batch upserts its changed rows by key: the KV
  * layer's last-write-wins IS the streaming state fold, so after any
  * prefix of batches the sink holds exactly the latest aggregate per key
  * — the same rows the equivalent batch query would produce over the
  * data so far (KVSinkSpec proves stream==batch through both sinks).
  *
  * Scale shape: an update-mode micro-batch carries only the keys that
  * changed, and `Store.put` writes only those keys' rows (plus one
  * tombstone sidecar for the rows they shadow) — sink I/O per batch is
  * O(changed keys), not O(stored keys).
  */
object KVSink {

  /** Run `df` (a streaming DataFrame, typically an update-mode aggregate)
    * into a [[Store]] gid keyed by `keyCol`.
    *
    * `mode` must match the upstream operator's contract: Update for
    * aggregates (changed keys per batch), Append for finality-emitting
    * operators (e.g. the s09 funnel's flatMapGroupsWithState, whose rows
    * appear once, at event-time timeout). Either way each batch upserts
    * by key, so the store always holds the latest row per key.
    */
  def toStore(df: DataFrame, store: Store, gid: String, keyCol: String,
      checkpointDir: String,
      mode: OutputMode = OutputMode.Update): StreamingQuery =
    start(df, checkpointDir, mode) { batch =>
      store.put(batch, gid, Some(keyCol))
    }

  /** Same contract into a [[Mem]] group — the ephemeral option. */
  def toMem(df: DataFrame, mem: Mem, gid: String, keyCol: String,
      checkpointDir: String,
      mode: OutputMode = OutputMode.Update): StreamingQuery =
    start(df, checkpointDir, mode) { batch =>
      mem.put(batch, gid, Some(keyCol))
    }

  private def start(df: DataFrame, checkpointDir: String, mode: OutputMode)(
      put: DataFrame => Unit): StreamingQuery =
    df.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        // Pin the micro-batch before multi-action processing: the KV put
        // runs several actions (emptiness probe, the put's pin, landed
        // files, match scan), and an unpinned foreachBatch frame RE-EXECUTES
        // its stateful lineage per action — a flatMapGroupsWithState
        // timeout replayed after its state.remove() emits from empty
        // state (observed: funnel rows rewritten as stage 0 by the
        // write action). localCheckpoint (eager) TRUNCATES the lineage:
        // downstream plans reference only the materialized blocks, so
        // the stateful operators execute exactly once per batch.
        // persist() is NOT enough — the put's merge plan references the
        // batch twice (anti-join probe + union), and the self-join
        // relation dedup defeats cache substitution on one side, re-
        // executing the stateful lineage (observed as a double state-
        // store load/commit and 2x-inflated numRowsTotal/numRowsUpdated;
        // StateStoreParitySpec pins the exact metrics).
        val pinned = batch.localCheckpoint()
        try {
          // an empty micro-batch must not touch the store (a put would
          // needlessly create/stamp the gid)
          if (pinned.count() > 0) put(pinned)
        } finally {
          // eagerly free the checkpoint blocks — ContextCleaner would
          // only reclaim them at GC, too lazy for a per-batch cadence
          org.apache.spark.sql.GraftBridge.unpersistCheckpoint(pinned)
        }
      }
      .start()
}
