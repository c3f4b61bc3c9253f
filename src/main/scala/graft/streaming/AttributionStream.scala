package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Last-touch revenue attribution maintained on the stream: each
  * purchase credits its `value` to the user's most recent preceding
  * non-purchase event type ('direct' when none) — the revenue-weighted
  * sibling of q72's count-only attribution, folded per user with
  * flatMapGroupsWithState. (The reference engine has no streaming
  * surface; this extends its event-processing coverage the s01–s11 way.)
  *
  * Per-user state is BOUNDED: the last folded (ts, event_id), the
  * current touch type, and at most |types|+1 (touch → count, micros)
  * counters — runnable forever (the s10 discipline). Money rides as
  * exact integer MICROS: the fold applies the same HALF_UP scale-6
  * decimal cast Spark's `cast(value as DECIMAL(18,6))` performs, so the
  * integer sums equal the batch form's decimal sums bit-for-bit, and
  * only the final report divides into a double.
  *
  * Ordering: [[OrderedFold]]'s contract — a late purchase is refused
  * instead of being credited backward, and under in-order arrival the
  * quiet-period state equals the batch window form
  * [[lastTouchAttribution]].
  */
object AttributionStream {

  case class AttrEvent(user_id: Long, ts_us: Long, event_id: Long,
      event_type: String, value: Double) extends OrderedFold.Event

  case class UserAttribution(user_id: Long, touch_type: String,
      n: Long, value_micros: Long)

  /** The exact integer-micros image of Spark's double→DECIMAL(18,6)
    * cast (java BigDecimal HALF_UP at scale 6 — what Catalyst's Cast
    * does), so fold sums equal batch decimal sums exactly. Catalyst
    * routes double→decimal through scala BigDecimal(d), which wraps
    * java BigDecimal.valueOf(d) — the SHORTEST-string image of the
    * double, not its exact binary expansion — so valueOf here too:
    * `new BigDecimal(d)` can round the other way on half-ulp
    * boundaries at scale 6.
    */
  private def toMicros(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** Streaming fold: per-user attribution counters, re-emitted for
    * touched users each micro-batch (Update mode). The accumulator is the
    * current touch (None until a non-purchase event folds) and the
    * touch → (purchases, value micros) counters.
    */
  def userAttributions(events: Dataset[AttrEvent]): Dataset[UserAttribution] =
    OrderedFold.fold(events,
        (Option.empty[String], Map.empty[String, (Long, Long)])) {
      case ((touch, credit), _, e) =>
        if (e.event_type != "purchase") (Some(e.event_type), credit)
        else {
          val k = touch.getOrElse("direct")
          val (n, micros) = credit.getOrElse(k, (0L, 0L))
          (touch, credit.updated(k, (n + 1L, micros + toMicros(e.value))))
        }
    } { case (uid, (_, credit)) =>
      credit.iterator.map { case (k, (n, micros)) =>
        UserAttribution(uid, k, n, micros)
      }
    }

  /** Merge per-user rows to the corpus attribution report. Micros sum as
    * integers; the single double division happens at report time.
    */
  def reportFromUsers(users: DataFrame): DataFrame =
    users.groupBy(col("touch_type"))
      .agg(sum(col("n")).as("n_purchases"),
        sum(col("value_micros")).as("__m"))
      .select(col("touch_type"), col("n_purchases"),
        round(col("__m").cast("double") / lit(1e6), 6)
          .as("attributed_value"))

  /** Batch form: the q72 ignore-nulls running last_value, plus exact
    * DECIMAL(18,6) value sums — what the streaming fold must equal
    * under in-order arrival.
    */
  def lastTouchAttribution(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value"))
      .withColumn("__touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("__touch"), lit("direct")).as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast(DecimalType(18, 6)))
          .cast(DecimalType(38, 6)).as("__v"))
      .select(col("touch_type"), col("n_purchases"),
        round(col("__v").cast("double"), 6).as("attributed_value"))
  }
}
