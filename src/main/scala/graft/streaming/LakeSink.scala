package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.sources.VersionedLake

/** Stream → day-partitioned lake: one micro-batch is one
  * [[VersionedLake.appendBatch]] commit. The data files land in the
  * `dt=YYYY-MM-DD/` tree, and `Partitioned.readDays` reads the tree
  * through its commit log. A streaming query uses [[VersionedLake.sink]].
  */
object LakeSink {

  /** One micro-batch's exactly-once append. Batch ids must be monotone,
    * the Structured Streaming contract for one checkpoint: the replay
    * check is the commit log's high-water mark, so any id at or below
    * the last committed one returns without writing.
    */
  def appendBatch(batch: DataFrame, path: String, batchId: Long,
      tsCol: String = "ts"): Unit =
    VersionedLake.appendBatch(batch, path, batchId, tsCol): Unit
}
