package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Streaming catalog stats — the q46 mergeable-ANALYZE shape maintained
  * ON the ingest stream: every (column, shard) keeps rows / nulls /
  * min / max / the k smallest distinct value hashes (KMV) as streaming
  * state, so the catalog is continuously current without ever re-reading
  * history. The state per group is BOUNDED — four scalars + at most k
  * hashes — at any stream length: the property that makes this runnable
  * forever (contrast s06's per-distinct-content state, which the KV
  * batch path takes over when unbounded).
  *
  * Every state transition is order-insensitive (sums, min/max folds,
  * distinct-set-union-then-k-smallest), so the quiet-period state equals
  * the batch [[statsFromEvents]] under ANY arrival order / micro-batch
  * split — StreamingSpec's stream==batch contract. Merging the shard
  * rows then reproduces [[graft.ops.Profile.mergeableStats]] exactly
  * (same KMV merge theorem).
  *
  * Columns are restricted to LONG-typed values so min/max fold in the
  * value's native order (a generic stringly state would fold "10" < "9").
  */
object StatsStream {

  /** One profiled value observation: the row's shard, the column it
    * came from, the value (None = null), and its 52-bit md5 hash.
    */
  case class StatEvent(col_name: String, bucket: Int,
      v: Option[Long], h: Option[Long])

  /** Per-(column, shard) stats row — the streaming state's readout and
    * the batch form's output schema.
    */
  case class ShardColStats(col_name: String, bucket: Int,
      n_rows: Long, n_nulls: Long,
      min_val: Option[Long], max_val: Option[Long],
      n_kmv: Long, hk: Option[Long])

  /** Flat primitives (hasV flags the min/max validity). Public and
    * flat: a private or Option-fielded state class breaks the encoder's
    * generated accessor code.
    */
  case class StatState(rows: Long, nulls: Long,
      hasV: Boolean, mn: Long, mx: Long, kmv: Seq[Long])

  /** The shared projection both forms run: each input row contributes
    * one observation per profiled column, sharded by the md5 bucket of
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

  /** Batch form (the s10 oracle target): the per-(column, shard) stats
    * in ONE aggregation over one pass — scalars and the k-min hash set
    * together, the latter as [[graft.expr.KmvSketch]] (native bounded
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

  /** Streaming form: [[statEvents]] rows keyed by (column, shard),
    * folded into the bounded state by mapGroupsWithState (update mode —
    * each micro-batch re-emits the touched groups' current stats).
    */
  def perShardStats(events: DataFrame, k: Int = 64): Dataset[ShardColStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.as[StatEvent]
      .groupByKey(e => (e.col_name, e.bucket))
      .mapGroupsWithState[StatState, ShardColStats](
        GroupStateTimeout.NoTimeout) {
        case ((cn, b), it, state: GroupState[StatState]) =>
          var s = state.getOption
            .getOrElse(StatState(0L, 0L, hasV = false, 0L, 0L, Vector.empty))
          val batch = it.toSeq
          val vals = batch.flatMap(_.v)
          val hs = batch.flatMap(_.h)
          val prior = if (s.hasV) Seq(s.mn, s.mx) else Seq.empty
          val folded = prior ++ vals
          s = StatState(
            rows = s.rows + batch.size,
            nulls = s.nulls + batch.count(_.v.isEmpty),
            hasV = folded.nonEmpty,
            mn = if (folded.nonEmpty) folded.min else 0L,
            mx = if (folded.nonEmpty) folded.max else 0L,
            kmv = (s.kmv ++ hs).distinct.sorted.take(k))
          state.update(s)
          ShardColStats(cn, b, s.rows, s.nulls,
            if (s.hasV) Some(s.mn) else None,
            if (s.hasV) Some(s.mx) else None,
            s.kmv.size.toLong,
            if (s.kmv.size == k) Some(s.kmv.last) else None)
      }
  }

  /** Convenience: wire a streaming frame through projection + state.
    * Update output mode is the matching sink mode.
    */
  def shardStatsStream(df: DataFrame, bucketKeyCol: String,
      columns: Seq[String], nBuckets: Int = 8,
      k: Int = 64): Dataset[ShardColStats] =
    perShardStats(statEvents(df, bucketKeyCol, columns, nBuckets), k)
}
