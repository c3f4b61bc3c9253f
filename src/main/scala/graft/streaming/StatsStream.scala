package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming catalog stats — the q46 mergeable-ANALYZE shape maintained
  * ON the ingest stream: every (column, shard) keeps rows / nulls /
  * min / max / the k smallest distinct value hashes (KMV) as streaming
  * state, so the catalog is continuously current without ever re-reading
  * history. The state per group is BOUNDED — four scalars + at most k
  * hashes — at any stream length: the property that makes this runnable
  * forever (contrast s06's per-distinct-content state, which the KV
  * batch path takes over when unbounded).
  *
  * One aggregation serves both modes: on a static frame it is the s10
  * registry query, on a stream Spark keeps its aggregation buffers as
  * the state. Every aggregate is order-insensitive and mergeable (count,
  * sum, min, max, the KMV sketch), so the last update per group equals
  * the batch result under ANY arrival order / micro-batch split —
  * StreamingSpec's stream==batch contract. Merging the shard rows then
  * reproduces [[graft.ops.Profile.mergeableStats]] exactly (same KMV
  * merge theorem).
  *
  * Columns are restricted to LONG-typed values so min/max fold in the
  * value's native order (a generic stringly state would fold "10" < "9").
  */
object StatsStream {

  /** The projection under the stats: each input row contributes one
    * observation per profiled column, sharded by the md5 bucket of
    * `bucketKeyCol` (the q46/q21 hex-parse idiom). Narrow, zero shuffle.
    */
  def statEvents(df: DataFrame, bucketKeyCol: String,
      columns: Seq[String], nBuckets: Int): DataFrame = {
    require(columns.nonEmpty, "statEvents needs at least one column")
    val bucket = pmod(
      conv(substring(md5(col(bucketKeyCol).cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(nBuckets.toLong)).cast("int")
    val obs = columns.map { c =>
      struct(lit(c).as("col_name"), col(c).cast("long").as("v"),
        conv(substring(md5(col(c).cast("string")), 1, 13), 16, 10)
          .cast("long").as("h"))
    }
    df.select(bucket.as("bucket"), explode(array(obs: _*)).as("o"))
      .select(col("o.col_name"), col("bucket"), col("o.v"), col("o.h"))
  }

  /** The per-(column, shard) stats in ONE aggregation over one pass —
    * scalars and the k-min hash set together, the latter as [[graft.expr.KmvSketch]] (native bounded
    * partial-mergeable aggregate; the sketch absorbs duplicates, so no
    * distinct exchange and no per-group sort exist in the plan) —
    * [[graft.ops.Profile.mergeableStats]]' stage 1 in long-column form.
    */
  def statsFromEvents(events: DataFrame, k: Int = 64): DataFrame =
    events.groupBy(col("col_name"), col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(isnull(col("v")).cast("long")).as("n_nulls"),
        min(col("v")).as("min_val"), max(col("v")).as("max_val"),
        graft.expr.nat(graft.expr.KmvSketch(
          graft.expr.toExpr(col("h")), k).toAggregateExpression())
          .as("kmv"))
      .select(col("col_name"), col("bucket"), col("n_rows"), col("n_nulls"),
        col("min_val"), col("max_val"),
        size(col("kmv")).cast("long").as("n_kmv"),
        when(size(col("kmv")) === k, element_at(col("kmv"), k)).as("hk"))

  /** [[statEvents]] then [[statsFromEvents]], the same plan on a static
    * frame or a stream. On a stream it is an update-mode aggregation:
    * each micro-batch re-emits the touched groups' current stats, and
    * the state per group is the four scalars plus the ≤k-hash sketch
    * buffer.
    */
  def shardStatsStream(df: DataFrame, bucketKeyCol: String,
      columns: Seq[String], nBuckets: Int = 8, k: Int = 64): DataFrame =
    statsFromEvents(statEvents(df, bucketKeyCol, columns, nBuckets), k)
}
