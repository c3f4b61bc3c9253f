package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import java.sql.Timestamp

/** Streaming analytics over the `events` table.
  *
  * The reference has no streaming at all (SURVEY §2.6 — closest construct
  * is `gossip.at` periodic tasks); this module is part of the engine's
  * extension surface. Each windowed and join operator here is ONE
  * function for both execution modes: the registry calls it on a static
  * frame, where the DuckDB oracle checks it, and StreamingSpec calls it on
  * a stream and compares. Its watermark bounds the streaming state; the
  * analyzer removes it from a batch plan (`EliminateEventTimeWatermark`),
  * so a batch caller never pays for the streaming shape. Only where
  * streaming needs a different algorithm ([[sessionize]] /
  * [[sessionizeStream]], the funnel) are there two forms.
  *
  * The windows are `window(ts, …)`, which drops an event with a null `ts`
  * (a `date_trunc` grouping would put it in a null hour); the event
  * tables have no null `ts`.
  */
object EventStream {

  /** Spark-side schema of events after Engine.table normalization. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** DECIMAL-exact value sum, carried as DOUBLE so batch, streaming and
    * the DuckDB oracle all canonicalize to the same output type.
    */
  private val sumValue: Column =
    sum(col("value").cast(DecimalType(18, 6)))
      .cast(DecimalType(38, 6)).cast("double").as("sum_value")

  /** How late an event may arrive behind the max event time seen and
    * still count; a stream drops state (and emits in append mode) once
    * the watermark passes a window's end.
    */
  private def watermarked(df: DataFrame, ts: String = "ts"): DataFrame =
    df.withWatermark(ts, "2 hours")

  /** Events and value sum per (window `w`, `key`), the window's start
    * named `start`.
    */
  private def windowAgg(
      rows: DataFrame, w: Column, start: String, key: String): DataFrame =
    rows.groupBy(w.as("w"), col(key))
      .agg(count(lit(1)).as("n_events"), sumValue)
      .select(col("w.start").as(start), col(key), col("n_events"),
        col("sum_value"))

  /** Tumbling-window aggregate: events per hour × type. Append mode
    * emits a window only once the watermark closes it.
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    windowAgg(watermarked(events), window(col("ts"), "1 hour"), "hour",
      "event_type")

  /** Sliding-window aggregate: 6-hour windows advancing hourly, so every
    * event lands in 6 overlapping windows — the trend-smoothing shape
    * tumbling windows ([[hourlyAgg]]) can't express. The ×6 row
    * expansion happens BEFORE partial aggregation, so the shuffle still
    * carries one row per (window, type), not per event.
    */
  def slidingAgg(events: DataFrame): DataFrame =
    windowAgg(watermarked(events), window(col("ts"), "6 hours", "1 hour"),
      "w_start", "event_type")

  /** Hourly UNIQUE users — the DAU/HAU KPI: `dropDuplicates` on
    * (hour window, user) feeding a count per hour. On a stream these are
    * TWO chained stateful operators (the Spark 4 multi-stateful append
    * pipeline): dedup state holds one row per (open hour, active user),
    * bounded by the watermark horizon × hourly actives, never by stream
    * length; the count state is one row per open hour. Append mode emits
    * each hour's exact unique count once, when the watermark closes it.
    * On a static frame the dedup is a plain partial-agg'd distinct.
    */
  def hourlyUniques(events: DataFrame): DataFrame =
    watermarked(events)
      .select(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .dropDuplicates("w", "user_id")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("w.start").as("hour"), col("n_users"))

  /** Per-user sessions via Spark's NATIVE `session_window`: events within
    * `gapMinutes` of each other merge into one window whose end is
    * last-event + gap. The same operator [[sessionize]] builds by hand
    * (lag + cumsum) — registering both pins the native node's semantics
    * against the explicit construction. On a stream, state is one open
    * window per (user, active session), merged as events arrive and
    * emitted once the watermark passes end+gap — the dynamic-gap
    * state-merge shape only session_window can express incrementally.
    */
  def sessionWindows(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    watermarked(events)
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes")
        .as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("w_start"),
        col("sw.end").as("w_end"), col("n_events"))

  /** Stream-static enrichment: events joined to a STATIC dimension
    * (customer → market segment) and aggregated per (hour, segment). The
    * third join family next to stream-stream ([[viewPurchaseJoin]]) and
    * self-windowed aggregation: on a stream the dimension is broadcast
    * into every micro-batch — stateless by construction, no watermark
    * needed on the dimension.
    */
  def segmentHourly(events: DataFrame, customers: DataFrame): DataFrame =
    windowAgg(
      watermarked(events).join(broadcast(customers.select(
        col("c_custkey").as("user_id"), col("c_mktsegment"))), Seq("user_id")),
      window(col("ts"), "1 hour"), "hour", "c_mktsegment")

  /** Sessionization (batch form): a session breaks after `gapMinutes` of
    * user inactivity. Window-function formulation — no state, two
    * shuffles max (both on user_id), SQL-oracle-expressible.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val gapped = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("brk",
        // microsecond-exact gap: unix_timestamp truncates to seconds,
        // which diverges from the oracle's fractional epoch() and from
        // the ms-exact streaming form on sub-second data
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMinutes * 60L * 1000000L,
          lit(1)).otherwise(lit(0)))
    gapped
      .groupBy(col("user_id"))
      .agg(
        sum(col("brk")).as("n_sessions"),
        count(lit(1)).as("n_events"))
  }

  /** Accumulating session state. (Field names deliberately avoid `start`:
    * janino fails to resolve a zero-arg `start()` accessor in the
    * generated encoder code.)
    */
  case class SessionState(startMs: Long, lastMs: Long, n: Int)

  /** Streaming sessionization via flatMapGroupsWithState — the stateful
    * path for unbounded input, where the window formulation above is
    * impossible. Emits (user_id, session_start, session_end, n_events)
    * when a session times out.
    */
  def sessionizeStream(
      spark: SparkSession, events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val gapMs = gapMinutes * 60 * 1000L
    val typed = events
      .select(col("user_id"), col("ts"), col("event_id"))
      .as[(Long, Timestamp, Long)]
    typed
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, (Long, Timestamp, Timestamp, Int)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[(Long, Timestamp, Long)],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator((userId, new Timestamp(s.startMs), new Timestamp(s.lastMs), s.n))
          } else {
            // events within a micro-batch may arrive unsorted
            val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._3))
            var cur = state.getOption
            val closed = scala.collection.mutable.Buffer
              .empty[(Long, Timestamp, Timestamp, Int)]
            sorted.foreach { case (_, ts, _) =>
              val t = ts.getTime
              cur match {
                case Some(s) if t - s.lastMs <= gapMs =>
                  // min/max, not overwrite: a late event inside the
                  // watermark may predate the session's current bounds,
                  // and rewinding lastMs would corrupt gap computation
                  cur = Some(s.copy(
                    startMs = math.min(s.startMs, t),
                    lastMs = math.max(s.lastMs, t), n = s.n + 1))
                case Some(s) =>
                  closed += ((userId, new Timestamp(s.startMs), new Timestamp(s.lastMs), s.n))
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.iterator
          }
      }
      .toDF("user_id", "session_start", "session_end", "n_events")
  }

  /** Purchase←view attribution: for each purchase, the views by the
    * same user within the preceding `windowMinutes`. Equi-join on user
    * + time-range condition — one shuffle on a static frame, the range
    * riding the join as a residual predicate, never a nested loop. On
    * two streams it is a watermarked stream-stream interval join: Spark
    * buffers each side's state only for the watermark + interval
    * horizon, so it runs unbounded.
    */
  def viewPurchaseJoin(purchases: DataFrame, views: DataFrame,
      windowMinutes: Int = 60): DataFrame =
    intervalJoin(purchases, views, windowMinutes, "inner")

  /** Aggregated attribution (oracle-friendly): views-in-window per
    * purchase.
    */
  def viewPurchaseCounts(events: DataFrame, windowMinutes: Int = 60): DataFrame =
    viewPurchaseJoin(events.filter(col("event_type") === "purchase"),
        events.filter(col("event_type") === "view"), windowMinutes)
      .groupBy(col("p_id"), col("user_id"), col("p_ts"))
      .agg(count(lit(1)).as("n_views"))

  /** LEFT OUTER attribution: every purchase with its in-window views,
    * unmatched purchases KEPT with null view columns — the
    * orphan-conversion detector the inner join ([[viewPurchaseJoin]])
    * silently drops. On two streams a matched pair emits as soon as both
    * rows meet; a NULL-matched purchase emits only once the watermark
    * passes its join horizon — the unmatched verdict is then provably
    * final, which is exactly why outer stream-stream joins REQUIRE both
    * watermarks and a time-bound join condition.
    */
  def viewPurchaseLeftOuter(purchases: DataFrame, views: DataFrame,
      windowMinutes: Int = 60): DataFrame =
    intervalJoin(purchases, views, windowMinutes, "left_outer")

  /** Each purchase joined to the same user's views in the preceding
    * `windowMinutes`, both sides watermarked: (p_id, user_id, p_ts, v_id,
    * v_ts).
    */
  private def intervalJoin(purchases: DataFrame, views: DataFrame,
      windowMinutes: Int, joinType: String): DataFrame = {
    val p = watermarked(purchases.select(col("event_id").as("p_id"),
      col("user_id").as("p_user"), col("ts").as("p_ts")), "p_ts")
    val v = watermarked(views.select(col("event_id").as("v_id"),
      col("user_id").as("v_user"), col("ts").as("v_ts")), "v_ts")
    p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL $windowMinutes MINUTES"),
      joinType)
      .select(col("p_id"), col("p_user").as("user_id"), col("p_ts"),
        col("v_id"), col("v_ts"))
  }

  /** Streaming funnel: per-user earliest-chain stage, finalized when the
    * user goes quiet for `quietMinutes` of EVENT time (the s02
    * sessionization finality rule applied to funnels). State accumulates
    * the user's funnel-type (type, ts) pairs — bounded by the user's own
    * event count, watermark-capped in time — and the SAME chain kernel
    * the batch operator uses ([[graft.ops.Funnel.chainStage]]) runs once
    * at timeout, so out-of-order arrival within the watermark cannot
    * perturb the result: the chain is computed over the final set, not
    * incrementally. Emits (user_id, stage).
    */
  def funnelStageStream(
      spark: SparkSession, events: DataFrame, stages: Seq[String],
      quietMinutes: Long = 10080L): Dataset[(Long, Int)] = {
    import spark.implicits._
    val stageArr = stages.toArray
    val stageSet = stageArr.toSet
    val quietMs = quietMinutes * 60000L
    events
      .select(col("user_id").cast("long"), col("event_type"), col("ts"))
      .withWatermark("ts", s"$quietMinutes minutes")
      .as[(Long, String, Timestamp)]
      .filter(e => stageSet.contains(e._2))
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(String, Timestamp)], (Long, Int)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, String, Timestamp)],
         state: GroupState[Seq[(String, Timestamp)]]) =>
          if (state.hasTimedOut) {
            val acc = state.get
            state.remove()
            Iterator.single((user, graft.ops.Funnel.chainStage(acc, stageArr)))
          } else {
            val acc = state.getOption.getOrElse(Seq.empty) ++
              rows.map(e => (e._2, e._3))
            state.update(acc)
            state.setTimeoutTimestamp(acc.map(_._2.getTime).max + quietMs)
            Iterator.empty
          }
      }
  }

  /** Streaming exact dedup on a key: state-backed key-only dedup with
    * the watermark bounding how long a key's fingerprint is retained —
    * the streaming half of the Dedup.exact* operators. (`dropDuplicates`
    * on key+ts would keep redeliveries that arrive with a re-stamped ts;
    * `dropDuplicatesWithinWatermark` gives true key-only semantics with
    * bounded state.)
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String]): DataFrame =
    watermarked(events).dropDuplicatesWithinWatermark(keyCols)

  /** Top event values per type in each hour — streaming-friendly rank
    * (batch form; demonstrates windowed top-k).
    */
  def hourlyTopValues(events: DataFrame, k: Int = 3): DataFrame = {
    val w = Window
      .partitionBy(date_trunc("hour", col("ts")), col("event_type"))
      .orderBy(col("value").desc, col("event_id").asc)
    events
      .withColumn("hour", date_trunc("hour", col("ts")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("hour"), col("event_type"), col("rk"),
        col("event_id"), col("value"))
  }
}
