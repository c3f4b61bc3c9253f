package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Access bridge: Spark 4 makes `Column(expr)` / `col.expr` private[sql]
  * (`classic.ExpressionUtils`). graft's native Catalyst expressions need
  * exactly these two conversions, so this one-file shim lives in the
  * `org.apache.spark.sql` package. No Spark internals are reimplemented.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Drop the materialized blocks behind a `localCheckpoint()`ed
    * Dataset once its consumer is done with it. The checkpoint RDD is
    * otherwise cleaned only when the ContextCleaner GCs the Dataset —
    * too lazy for a long-running streaming sink that checkpoints every
    * micro-batch (graft.streaming.KVSink).
    */
  def unpersistCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** Drain the listener bus (private[spark]) — lets a test register a
    * QueryExecutionListener, run work, and assert on the captured plans
    * without racing the asynchronous delivery.
    */
  def waitListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Wrap a BATCH plan's rows as a streaming-tagged DataFrame — what a
    * V1 streaming Source's getBatch must return (MicroBatchExecution
    * asserts `isStreaming`; Spark's own FileStreamSource builds its
    * batches exactly this way via `internalCreateDataFrame`, which is
    * private[sql] — hence this bridge).
    */
  def asStreamingFrame(df: Dataset[Row]): Dataset[Row] = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }
}
