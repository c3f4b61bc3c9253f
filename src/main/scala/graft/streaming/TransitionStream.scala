package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-transition (Markov) counts maintained on the stream: per user,
  * each event's type paired with the PREVIOUS event's type (by event
  * time, event_id tie-break), counted into the from→to matrix — the
  * "what do users do next" readout, the streaming sibling of the s09
  * funnel. (The reference engine has no streaming surface; this extends
  * its event-processing coverage the same way s01–s10 do.)
  *
  * The per-user state is BOUNDED: the last-seen event's (ts, event_id,
  * type) plus at most |types|² counters — runnable forever (the s10
  * discipline). Emission is per-user count rows in Update mode;
  * [[matrixFromUsers]] merges them to the corpus matrix, exactly as s10
  * merges shard stats — so the heavy object (the user-level fold) stays
  * distributed and the merge is a partially-aggregated key groupBy.
  *
  * Ordering: [[OrderedFold]]'s contract — a late event is refused
  * instead of fabricating a backward transition, and under in-order
  * arrival the quiet-period state equals the batch lag-window form
  * [[transitionMatrix]].
  */
object TransitionStream {

  case class TransEvent(user_id: Long, ts_us: Long, event_id: Long,
      event_type: String) extends OrderedFold.Event

  case class UserTransitions(user_id: Long, from_type: String,
      to_type: String, n: Long)

  /** Streaming fold: per-user transition counts, re-emitted for touched
    * users each micro-batch (Update mode). The accumulator is the last
    * folded event's type and the (from, to) counters.
    */
  def userTransitions(events: Dataset[TransEvent]): Dataset[UserTransitions] =
    OrderedFold.fold(events, ("", Map.empty[(String, String), Long])) {
      case ((last, counts), seen, e) =>
        val k = (last, e.event_type)
        (e.event_type,
          if (seen) counts.updated(k, counts.getOrElse(k, 0L) + 1L)
          else counts)
    } { case (uid, (_, counts)) =>
      counts.iterator.map { case ((f, t), n) => UserTransitions(uid, f, t, n) }
    }

  /** Merge per-user rows to the corpus from→to matrix with per-source
    * probabilities (round-6 of the exact integer division). The window
    * runs over the AGGREGATED matrix (≤ |types|² rows) — post-agg, not
    * a data-volume sort.
    */
  def matrixFromUsers(users: DataFrame): DataFrame = {
    val g = users.groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("n")).as("n"))
    g.withColumn("p", OrderedFold.share(col("n"), col("from_type")))
      .select(col("from_type"), col("to_type"), col("n"), col("p"))
  }

  /** Batch form: lag window + count — what the streaming fold must equal
    * under in-order arrival. One user-keyed sort window + one pair
    * groupBy; the probability window is post-aggregate.
    */
  def transitionMatrix(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val pairs = df
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("__prev", lag(col("event_type"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .select(col("__prev").as("from_type"),
        col("event_type").as("to_type"))
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    pairs.withColumn("p", OrderedFold.share(col("n"), col("from_type")))
      .select(col("from_type"), col("to_type"), col("n"), col("p"))
  }
}
