package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Burst (rate-spike) detection maintained on the stream: per user, the
  * maximum number of events falling in any trailing `windowSeconds`
  * window — the abuse/anomaly readout a live ingest guard keys on
  * (the reference engine has no streaming surface; this extends its
  * event-processing coverage the same way s01–s13 do).
  *
  * The trailing window is measured at whole-second resolution over
  * per-second event counts: the burst value at second s is
  * Σ counts[s−W+1 .. s], and the per-user statistic is the max of that
  * sum over all seconds the user was active. Measuring at second
  * boundaries (not at raw event offsets) is what makes the fold's
  * state BOUNDED: the last-seen (ts, event_id) plus at most W
  * per-second counters — runnable forever (the s10/s11/s13
  * discipline). It is also what makes stream == batch exact: the batch
  * form's RANGE frame over the per-second aggregate sums the identical
  * seconds.
  *
  * Why the stream's running max equals the batch per-second max: events
  * fold in (ts, event_id) order, so once the fold moves past second s,
  * counts[s] never grows again; the LAST increment whose window ends at
  * s therefore sees the complete trailing sum for s, and every earlier
  * increment at s saw a smaller partial — the running max over
  * increments is the max over complete per-second sums.
  *
  * Ordering: [[OrderedFold]]'s contract — a late event is refused
  * instead of mutating an already-closed second, and under in-order
  * arrival the quiet-period state equals the batch RANGE-window form
  * [[burstBatch]].
  */
object BurstStream {

  case class BurstEvent(user_id: Long, ts_us: Long, event_id: Long)
      extends OrderedFold.Event

  case class UserBurst(user_id: Long, max_burst: Long)

  /** Streaming fold: per-user running max trailing-window count,
    * re-emitted for touched users each micro-batch (Update mode). The
    * accumulator is the trailing per-second counters, their running
    * total (kept incrementally, so an event costs one prune instead of
    * a re-sum of up to W counters) and the running max.
    */
  def userBursts(events: Dataset[BurstEvent],
      windowSeconds: Long = 60L): Dataset[UserBurst] =
    OrderedFold.fold(events, (Map.empty[Long, Long], 0L, 0L)) {
      case ((secs, total, maxBurst), _, e) =>
        val sec = e.ts_us / 1000000L
        // trailing prune keeps ≤ windowSeconds live counters
        val (live, gone) = secs.partition(_._1 > sec - windowSeconds)
        val wsum = total - gone.values.sum + 1L
        (live.updated(sec, live.getOrElse(sec, 0L) + 1L), wsum,
          math.max(maxBurst, wsum))
    } { case (uid, (_, _, maxBurst)) =>
      Iterator.single(UserBurst(uid, maxBurst))
    }

  /** Batch form: per-(user, second) counts, a RANGE-framed trailing sum
    * over the per-second aggregate, max per user — what the streaming
    * fold must equal under in-order arrival. The RANGE window runs over
    * the per-second AGGREGATE (≤ one row per active second), never the
    * raw event stream.
    */
  def burstBatch(df: DataFrame, windowSeconds: Long = 60L,
      threshold: Long = 5L): DataFrame = {
    val ps = df
      .select(col("user_id"), unix_timestamp(col("ts")).as("__t"))
      .groupBy(col("user_id"), col("__t"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("__t").asc)
      .rangeBetween(-(windowSeconds - 1), Window.currentRow)
    ps.withColumn("__r", sum(col("__c")).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("__r")).as("max_burst"))
      .select(col("user_id"), col("max_burst"),
        (col("max_burst") >= threshold).as("is_burst"))
  }
}
