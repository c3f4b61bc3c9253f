package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Inter-arrival gap histogram maintained on the stream: per user, the
  * seconds between consecutive events, folded into power-of-two buckets
  * — q70's inter-arrival readout kept live (the reference engine has no
  * streaming surface; this extends its event-processing coverage the
  * same way s01–s12 do).
  *
  * The bucket is `len(bin(gap)) − 1` — the integer floor-log2 computed
  * through the binary-string length, so both engines (Spark `bin`,
  * DuckDB `bin`) derive it with zero floating point (a double log2
  * would disagree at exact powers of two). Gaps of 0 and 1 second share
  * bucket 0 by that formula — documented, identical both sides.
  *
  * Power-of-two bucketing is what makes the per-user state BOUNDED: the
  * last-seen (ts, event_id) plus at most 64 counters — runnable forever
  * (the s10/s11 discipline), unlike raw gap values whose distinct count
  * grows without bound. Emission is per-user (bucket, n) rows in Update
  * mode; [[histogramFromUsers]] merges the latest per-user rows to the
  * corpus histogram with a partially-aggregated bucket groupBy.
  *
  * Ordering: [[OrderedFold]]'s contract — a late event is refused
  * instead of fabricating a negative or out-of-order gap, and under
  * in-order arrival the quiet-period state equals the batch lag-window
  * form [[gapHistogram]].
  */
object GapStream {

  case class GapEvent(user_id: Long, ts_us: Long, event_id: Long)
      extends OrderedFold.Event

  case class UserGaps(user_id: Long, gap_bucket: Int, n: Long)

  private def bucketOf(gapSeconds: Long): Int =
    // gap 0 → bin '0' has length 1 → bucket 0 (same as gap 1); else
    // bucket = bit length − 1 = floor(log2)
    if (gapSeconds <= 0L) 0
    else 63 - java.lang.Long.numberOfLeadingZeros(gapSeconds)

  /** Streaming fold: per-user gap-bucket counts, re-emitted for touched
    * users each micro-batch (Update mode). The accumulator is the last
    * folded event's second and the bucket counters.
    */
  def userGaps(events: Dataset[GapEvent]): Dataset[UserGaps] =
    OrderedFold.fold(events, (0L, Map.empty[Int, Long])) {
      case ((lastSec, buckets), seen, e) =>
        // gap in whole SECONDS computed as the difference of per-event
        // second floors — exactly the batch form's unix_timestamp(ts)
        // subtraction, so sub-second components can never skew stream
        // vs batch by one
        val sec = e.ts_us / 1000000L
        if (!seen) (sec, buckets)
        else {
          val b = bucketOf(sec - lastSec)
          (sec, buckets.updated(b, buckets.getOrElse(b, 0L) + 1L))
        }
    } { case (uid, (_, buckets)) =>
      buckets.iterator.map { case (b, n) => UserGaps(uid, b, n) }
    }

  /** Merge per-user rows to the corpus bucket histogram with per-bucket
    * share (round-6 of the exact integer division); post-aggregate
    * window over ≤64 rows.
    */
  def histogramFromUsers(users: DataFrame): DataFrame = {
    val g = users.groupBy(col("gap_bucket"))
      .agg(sum(col("n")).as("n_pairs"))
    g.withColumn("share", OrderedFold.share(col("n_pairs"), lit(1)))
      .select(col("gap_bucket"), col("n_pairs"), col("share"))
  }

  /** Batch form: per-user lag window + the identical bin-length bucket —
    * what the streaming fold must equal under in-order arrival. One
    * user-keyed sort window + one bucket groupBy.
    */
  def gapHistogram(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("__t").asc, col("event_id").asc)
    val g = df
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("__t"))
      .withColumn("__gap", col("__t") - lag(col("__t"), 1).over(w))
      .filter(col("__gap").isNotNull)
      .select((length(bin(col("__gap"))) - 1).cast("int").as("gap_bucket"))
      .groupBy(col("gap_bucket"))
      .agg(count(lit(1)).as("n_pairs"))
    g.withColumn("share", OrderedFold.share(col("n_pairs"), lit(1)))
      .select(col("gap_bucket"), col("n_pairs"), col("share"))
  }
}
