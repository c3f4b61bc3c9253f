package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit, pmod, sum}

import graft.Engine.table
import graft.streaming.EventStream

/** Streaming-analytics query surface (batch-equivalent forms, so the
  * DuckDB oracle checks them; StreamingSpec proves the streaming forms
  * produce identical results through readStream + memory sink).
  */
object StreamQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s01_hourly_agg" -> ((s, dir) =>
      EventStream.hourlyAgg(table(s, dir, "events"))),

    "s02_sessions" -> ((s, dir) =>
      EventStream.sessionize(table(s, dir, "events"), gapMinutes = 30)),

    "s03_hourly_top_values" -> ((s, dir) =>
      EventStream.hourlyTopValues(table(s, dir, "events"), k = 3)),

    "s04_view_purchase_counts" -> ((s, dir) =>
      EventStream.viewPurchaseCounts(table(s, dir, "events"), windowMinutes = 60)),

    // Stream-static enrichment: events joined to the customer dimension
    // (broadcast — stateless in the streaming form), hourly per-segment
    // rollup. StreamingSpec proves the readStream form matches.
    "s05_segment_hourly" -> ((s, dir) =>
      EventStream.segmentHourly(
        table(s, dir, "events"), table(s, dir, "customer"))),

    // LEFT OUTER attribution: views-in-window per purchase with the
    // zero-view orphans KEPT (count(v_id) over the left-outer interval
    // join) — s04's inner form silently drops them. StreamingSpec proves
    // the watermarked stream-stream left-outer form matches.
    "s08_attribution_outer" -> ((s, dir) =>
      EventStream.viewPurchaseLeftOuter(table(s, dir, "events"))
        .groupBy(col("p_id"), col("user_id"), col("p_ts"))
        .agg(org.apache.spark.sql.functions.count(col("v_id")).as("n_views"))),

    // Per-user funnel stage (batch form of the streaming funnel —
    // StreamingSpec proves the state-backed stream == this). Detail
    // granularity vs q34's summary: every user with funnel-type
    // activity, including stage-0 non-starters.
    "s09_funnel_user_stages" -> ((s, dir) =>
      graft.ops.Funnel.perUserStages(
        table(s, dir, "events"), Seq("signup", "view", "click", "purchase"))
        .toDF("user_id", "stage")),

    // Sliding-window aggregate: 6-hour windows advancing hourly (every
    // event in 6 overlapping windows) — the window semantics tumbling
    // s01 can't express. StreamingSpec proves the watermarked
    // readStream form matches.
    "s07_sliding_agg" -> ((s, dir) =>
      EventStream.slidingAgg(table(s, dir, "events"))),

    // Streaming exact-dedup monitoring stats (batch form): per-language
    // docs seen / distinct contents / duplicates over the planted corpus
    // (one exact dup per doc, the dedup family's ground truth).
    // StreamingSpec proves the per-(lang, fp) state stream and the
    // first-arrival survivor stream match their batch analogs.
    "s06_dedup_stats" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val planted = d.unionAll(d.select(
        (col("doc_id") + 1000000000000L).as("doc_id"), col("lang"), col("text")))
      graft.streaming.DedupStream.stats(planted, "text", "doc_id", "lang")
    }),

    // Streaming catalog stats (batch form): per-(column, ingest shard)
    // rows / nulls / min / max / KMV candidates — the q46 mergeable
    // ANALYZE maintained as BOUNDED streaming state (four scalars + at
    // most 64 hashes per group at any stream length). StreamingSpec
    // proves the mapGroupsWithState form converges to this under
    // shuffled multi-batch arrival, and that merging these shard rows
    // reproduces q46's global answer.
    "s10_shard_stats" -> ((s, dir) =>
      graft.streaming.StatsStream.statsFromEvents(
        graft.streaming.StatsStream.statEvents(
          table(s, dir, "events"), bucketKeyCol = "event_id",
          columns = Seq("event_id", "user_id"), nBuckets = 8))),

    // Event-transition (Markov) matrix: per-user lag pairing → from→to
    // counts + per-source probabilities. Registered as the batch lag
    // form; StreamingSpec proves the flatMapGroupsWithState per-user
    // fold (streaming/TransitionStream.scala) converges to it under
    // arbitrary in-order micro-batch splits, s10-style.
    "s11_transitions" -> ((s, dir) =>
      graft.streaming.TransitionStream.transitionMatrix(
        table(s, dir, "events"))),

    // Last-touch REVENUE attribution: each purchase's value credited to
    // the most recent preceding non-purchase event type (q72's counts
    // plus exact-DECIMAL money). Registered as the batch window form;
    // StreamingSpec proves the flatMapGroupsWithState integer-micros
    // fold (streaming/AttributionStream.scala) converges to it under
    // in-order micro-batch splits, s11-style.
    "s12_attribution" -> ((s, dir) =>
      graft.streaming.AttributionStream.lastTouchAttribution(
        table(s, dir, "events"))),

    // Live inter-arrival gap histogram in power-of-two buckets (q70's
    // streaming sibling): registered as the batch lag-window form;
    // StreamingSpec proves the flatMapGroupsWithState fold
    // (streaming/GapStream.scala — bounded last-event + ≤64 counters per
    // user) converges to it under in-order micro-batch splits, s11-style.
    "s13_gap_histogram" -> ((s, dir) =>
      graft.streaming.GapStream.gapHistogram(table(s, dir, "events"))),

    // Live burst (rate-spike) detection: per user, the max events in
    // any trailing 60-second window plus the ≥5 flag — the ingest
    // abuse guard. Registered as the batch RANGE-window form over the
    // per-second aggregate; StreamingSpec proves the
    // flatMapGroupsWithState fold (streaming/BurstStream.scala —
    // bounded last-event + ≤60 per-second counters per user)
    // converges to it under in-order micro-batch splits, s11-style.
    "s14_burst_flags" -> ((s, dir) =>
      graft.streaming.BurstStream.burstBatch(table(s, dir, "events"))),

    // Hourly unique users (DAU/HAU KPI). Registered as the batch
    // distinct-then-count form; StreamingSpec proves the two-chained-
    // stateful streaming form (watermark-expired dropDuplicates feeding
    // a windowed count — EventStream.hourlyUniquesStream) matches.
    "s15_hourly_uniques" -> ((s, dir) =>
      EventStream.hourlyUniques(table(s, dir, "events"))),

    // Native session_window sessions: the dynamic-gap window operator
    // itself (s02 builds the same sessions by lag+cumsum — the oracle
    // replays that construction, pinning the native node's merge
    // semantics). StreamingSpec proves the watermarked state-merge
    // streaming form matches.
    "s16_session_windows" -> ((s, dir) =>
      EventStream.sessionWindows(table(s, dir, "events"), gapMinutes = 30)),

    // Watermark-tuning audit: per event-time hour, the events a 2h
    // watermark would DROP (arrived > 2h behind the max event time
    // already seen, in event_id arrival order) — the measured basis for
    // picking a watermark. Two-level distributed prefix max, never a
    // global window (streaming/Lateness.scala).
    "s17_watermark_lateness" -> ((s, dir) =>
      graft.streaming.Lateness.watermarkLateness(
        table(s, dir, "events"), horizonSeconds = 7200L)),

    // Stream→lake ingest gate through the LakeSink forwarder: an
    // 11-day events slice lands through LakeSink.appendBatch as three
    // batches, WITH BATCH 1 REPLAYED (the at-least-once crash signature
    // foreachBatch delivers), and the week aggregate is answered by
    // Partitioned.readDays, which routes to the sink tree's commit log.
    // s20 runs the same batches through VersionedLake.appendBatch
    // directly — one commit protocol under both — so s19 pins the
    // forwarder plus the readDays routing. The oracle computes from the
    // FLAT parquet, so the hash match IS the exactly-once proof
    // end-to-end (a double-applied replay fails on n_events; a lossy
    // commit fails on the sums). Uncompacted neighbor days prove the
    // day-range discipline (the q127 framing).
    "s19_lake_sink_ingest" -> ((s, dir) => {
      val root = graft.TempDirs.scratch("graft_s19").toFile
      val out = root.getAbsolutePath + "/events"
      val ev = table(s, dir, "events")
        .filter(col("ts") >= lit("2024-01-05").cast("timestamp") &&
          col("ts") < lit("2024-01-16").cast("timestamp"))
      def slice(i: Int) = ev.filter(pmod(col("event_id"), lit(3)) === i)
      graft.streaming.LakeSink.appendBatch(slice(0), out, batchId = 0)
      graft.streaming.LakeSink.appendBatch(slice(1), out, batchId = 1)
      // replay of a committed batch: the high-water mark must skip it
      graft.streaming.LakeSink.appendBatch(slice(1), out, batchId = 1)
      graft.streaming.LakeSink.appendBatch(slice(2), out, batchId = 2)
      graft.sources.Partitioned.readDays(s, out, "2024-01-08", "2024-01-14")
        .groupBy(col("dt"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          dec38(sum(dec(col("value")))).cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // s19's topology through the VERSIONED lake (the commit-log twin):
    // the same three batches with batch 1 replayed land via
    // VersionedLake.appendBatch — here exactly-once is the manifest's
    // last_batch_id high-water mark, committed atomically WITH the files
    // it covers, and the week is answered from
    // the snapshot the commits built. Same flat-parquet oracle: hash
    // equality proves the replayed batch committed exactly once and the
    // manifest lost no files across four commits.
    "s20_versioned_sink_ingest" -> ((s, dir) => {
      val root = graft.TempDirs.scratch("graft_s20").toFile
      val out = root.getAbsolutePath + "/events"
      val ev = table(s, dir, "events")
        .filter(col("ts") >= lit("2024-01-05").cast("timestamp") &&
          col("ts") < lit("2024-01-16").cast("timestamp"))
      def slice(i: Int) = ev.filter(pmod(col("event_id"), lit(3)) === i)
      graft.sources.VersionedLake.appendBatch(slice(0), out, batchId = 0)
      graft.sources.VersionedLake.appendBatch(slice(1), out, batchId = 1)
      // replay of a committed batch: the high-water mark must skip it
      graft.sources.VersionedLake.appendBatch(slice(1), out, batchId = 1)
      graft.sources.VersionedLake.appendBatch(slice(2), out, batchId = 2)
      graft.sources.VersionedLake
        .read(s, out, None, "2024-01-08", "2024-01-14")
        .groupBy(col("dt"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          dec38(sum(dec(col("value")))).cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // LAKE→LAKE STREAMING RELAY (VersionedLake.source → sink — the
    // multi-stage pipeline shape every 100 TB training flow wants): lake
    // A ingests three batches; a REAL Structured Streaming query tails
    // A's commit log (offset = commit version, checkpointed), applies a
    // stateless filter, and lands exactly-once in lake B — batch 3
    // arrives WHILE the stream runs, so the relay exercises both the
    // initial-snapshot batch and the incremental per-version batch. The
    // week aggregate is answered from B; the oracle computes the same
    // filter + aggregate from FLAT parquet, so the hash match proves the
    // whole chain (commit tailing, no version skipped or doubled, the
    // downstream exactly-once sink) end-to-end. VersionedLakeSpec pins
    // the restart (no double-read) and refusal (history rewrite) cases.
    "s21_lake_relay" -> ((s, dir) => {
      // lake A's pre-stream state is a shared fixture, hard-link CLONED
      // per run (the q136 discipline) because the mid-stream append
      // mutates it — the bench pays the RELAY (tail + filter +
      // exactly-once land + the incremental batch), not two lake builds
      val a = LakeFixtures.cloneLake(LakeFixtures.relayBase(s, dir))
      val root = graft.TempDirs.scratch("graft_s21").toFile.getAbsolutePath
      val b = root + "/lakeB"
      val ck = root + "/ckpt"
      val ev = table(s, dir, "events")
        .filter(col("ts") >= lit("2024-01-05").cast("timestamp") &&
          col("ts") < lit("2024-01-16").cast("timestamp"))
      val q = graft.sources.VersionedLake.sink(
        graft.sources.VersionedLake.source(s, a)
          .filter(pmod(col("event_id"), lit(2)) === 0), b, ck)
      try {
        q.processAllAvailable()
        graft.sources.VersionedLake.appendBatch(
          ev.filter(pmod(col("event_id"), lit(3)) === 2), a, batchId = 2)
        q.processAllAvailable()
      } finally q.stop()
      graft.sources.VersionedLake
        .read(s, b, None, "2024-01-08", "2024-01-14")
        .groupBy(col("dt"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          dec38(sum(dec(col("value")))).cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // CDC TAIL (VersionedLake.source cdc = true — Delta's readChangeFeed
    // as a live stream): lake A ingests the slice, a CDC stream starts
    // (initial batch = the snapshot tagged insert), then a copy-on-write
    // band delete lands UPSTREAM and must arrive as `delete` rows — a
    // history rewrite is DATA to a CDC consumer, where the plain source
    // correctly refuses it. The feed relays into lake B (the downstream
    // materialization every CDC pipeline ends in); the week aggregate by
    // change type is answered from B, and the oracle reconstructs
    // insert-side ∪ delete-side from FLAT parquet — the hash match
    // proves snapshot tagging, per-version diffing, and exactly-once
    // relay end-to-end.
    "s22_lake_cdc_tail" -> ((s, dir) => {
      // lake A = a CLONE of the shared clustered fixture (the per-run
      // delete mutates it); the bench pays the CDC tail + the cow
      // delete + the relay, not the lake build
      val a = LakeFixtures.cloneLake(LakeFixtures.clusteredLake(s, dir))
      val root = graft.TempDirs.scratch("graft_s22").toFile.getAbsolutePath
      val b = root + "/lakeB"
      val ck = root + "/ckpt"
      val q = graft.sources.VersionedLake.sink(
        graft.sources.VersionedLake.source(s, a, cdc = true), b, ck)
      try {
        q.processAllAvailable()
        graft.sources.VersionedLake.deleteBand(s, a, "value", 300.0, 1.0e12,
          fromDay = "2024-01-08", toDay = "2024-01-14")
        q.processAllAvailable()
      } finally q.stop()
      graft.sources.VersionedLake
        .read(s, b, None, "2024-01-08", "2024-01-14")
        .groupBy(col("dt"), col("event_type"), col("_change_type"))
        .agg(count(lit(1)).as("n_events"),
          dec38(sum(dec(col("value")))).cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // File-ingest twin of s06 — the batch form of FileStreamSpec's
    // production topology (JSONL shards in a watched dir → dedup state
    // → KV store): the planted corpus is written out as JSONL, read
    // back with the REQUIRED schema (no inference pass — the Jsonl
    // contract), and deduped. The oracle computes from PARQUET, so a
    // hash match proves the JSONL boundary lossless for the dedup
    // pipeline, not merely self-consistent (the q110 discipline).
    "s18_jsonl_dedup_stats" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val planted = d.unionAll(d.select(
        (col("doc_id") + 1000000000000L).as("doc_id"),
        col("lang"), col("text")))
      val root = graft.TempDirs.scratch("graft_s18").toFile
      val out = root.getAbsolutePath + "/docs"
      graft.sources.Jsonl.write(planted, out)
      val back = graft.sources.Jsonl.read(s, out, planted.schema)
      graft.streaming.DedupStream.stats(back, "text", "doc_id", "lang")
    })
  )

  val oracles: Map[String, String] = Map(
    // Mirrors s19 from the FLAT side (the q114/q127 oracle): DuckDB
    // derives the week from the raw timestamps; Spark answers from the
    // replayed-batch sink tree — equality proves exactly-once.
    "s19_lake_sink_ingest" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-08'
           AND strftime(ts, '%Y-%m-%d') <= '2024-01-14'
         GROUP BY 1, 2""",
    // Mirrors s20 from the FLAT side — identical week to s19; Spark
    // answers from the versioned lake's replayed-batch snapshot.
    "s20_versioned_sink_ingest" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-08'
           AND strftime(ts, '%Y-%m-%d') <= '2024-01-14'
         GROUP BY 1, 2""",
    // Mirrors s21 from the FLAT side: the relayed filter + the week
    // aggregate — Spark answers from lake B at the end of the stream.
    "s21_lake_relay" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-08'
           AND strftime(ts, '%Y-%m-%d') <= '2024-01-14'
           AND event_id % 2 = 0
         GROUP BY 1, 2""",
    // Mirrors s22 from the FLAT side: the insert side is the full week
    // (the CDC initial snapshot), the delete side is the banded week
    // (the cow delete's feed) — both reconstructed from raw events.
    "s22_lake_cdc_tail" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           'insert' AS "_change_type",
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-08'
           AND strftime(ts, '%Y-%m-%d') <= '2024-01-14'
         GROUP BY 1, 2
         UNION ALL
         SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           'delete' AS "_change_type",
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-08'
           AND strftime(ts, '%Y-%m-%d') <= '2024-01-14'
           AND value >= 300.0 AND value <= 1000000000000.0
         GROUP BY 1, 2""",
    // Mirrors s17 with the plain global prefix max (max is associative,
    // so Spark's two-level bucket scan is bit-equal); integer micros,
    // BIGINT counts, one round-6 share division.
    "s17_watermark_lateness" ->
      """WITH e AS (SELECT event_id, ts, epoch_us(ts) AS tu FROM events),
         r AS (SELECT ts, tu,
                 max(tu) OVER (ORDER BY event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS rm
               FROM e),
         h AS (SELECT date_trunc('hour', ts) AS hour,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(sum(CASE WHEN rm - tu > 7200000000 THEN 1 ELSE 0
                   END) AS BIGINT) AS n_would_drop,
                 CAST(max((rm - tu) // 1000000) AS BIGINT) AS max_lag_s
               FROM r GROUP BY 1)
       SELECT hour, n_events, n_would_drop, max_lag_s,
         round(CAST(n_would_drop AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
           AS drop_share
       FROM h""",
    // Mirrors s16 by replaying the lag+cumsum construction (the s02
    // oracle) with session_window's boundary rule — windows [t, t+gap)
    // merge only when they OVERLAP, so a gap of exactly 30min starts a
    // new session (>= where s02's counter uses >); end = last + gap.
    "s16_session_windows" ->
      """WITH g AS (
           SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC) AS prev_ts
           FROM events),
         s AS (SELECT user_id, ts,
                 sum(CASE WHEN prev_ts IS NULL
                     OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
                     THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id
                     ORDER BY ts ASC, event_id ASC) AS sid
               FROM g)
         SELECT user_id, min(ts) AS w_start,
           max(ts) + INTERVAL 30 MINUTE AS w_end,
           CAST(count(*) AS BIGINT) AS n_events
         FROM s GROUP BY user_id, sid""",
    // Mirrors s15: same hour floor, exact distinct-user count, BIGINT.
    "s15_hourly_uniques" ->
      """SELECT date_trunc('hour', ts) AS hour,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events GROUP BY 1""",
    // Mirrors s11: same (ts, event_id) lag ordering, BIGINT counts,
    // round-6 of the identical integer division (the window total is
    // DuckDB HUGEINT but both engines divide the same exact integers
    // cast to DOUBLE — p08 lesson applied).
    // Mirrors s13: identical per-user second-floor lag gaps, the same
    // zero-float bin-length bucket (len(bin(gap)) − 1 — Spark `bin` and
    // DuckDB `bin` agree digit-for-digit), one closing share division.
    "s13_gap_histogram" ->
      """WITH ev AS (SELECT user_id, event_id,
             epoch_us(ts) // 1000000 AS t FROM events),
         g AS (SELECT t - lag(t) OVER (PARTITION BY user_id
                 ORDER BY t, event_id) AS gap
               FROM ev),
         h AS (SELECT CAST(length(bin(gap)) - 1 AS INTEGER) AS gap_bucket,
                 CAST(count(*) AS BIGINT) AS n_pairs
               FROM g WHERE gap IS NOT NULL GROUP BY 1)
       SELECT gap_bucket, n_pairs,
         round(CAST(n_pairs AS DOUBLE) /
           CAST(sum(n_pairs) OVER () AS DOUBLE), 6) AS share
       FROM h""",
    // Mirrors s14: identical second-floor per-second counts, the same
    // integer RANGE frame (59 preceding) and per-user max, the same
    // ≥5 flag.
    "s14_burst_flags" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS t
               FROM events),
         ps AS (SELECT user_id, t, CAST(count(*) AS BIGINT) AS c
                FROM e GROUP BY 1, 2),
         w AS (SELECT user_id,
                 CAST(sum(c) OVER (PARTITION BY user_id ORDER BY t
                   RANGE BETWEEN 59 PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS r
               FROM ps)
       SELECT user_id, CAST(max(r) AS BIGINT) AS max_burst,
         max(r) >= 5 AS is_burst
       FROM w GROUP BY 1""",
    "s11_transitions" ->
      """WITH p AS (SELECT user_id, event_type,
             lag(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC) AS prev
           FROM events),
         g AS (SELECT prev AS from_type, event_type AS to_type,
                 CAST(count(*) AS BIGINT) AS n
               FROM p WHERE prev IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
           round(CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6)
             AS p
         FROM g""",
    // Mirrors s12: the q72 ignore-nulls running last_value plus the
    // established double→DECIMAL(18,6) cast parity on value; BIGINT
    // counts, one closing double division.
    "s12_attribution" ->
      """WITH t AS (SELECT user_id, event_id, ts, event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                 THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch
           FROM events)
         SELECT coalesce(touch, 'direct') AS touch_type,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(CAST(CAST(sum(CAST(value AS DECIMAL(18,6)))
             AS DECIMAL(38,6)) AS DOUBLE), 6) AS attributed_value
         FROM t WHERE event_type = 'purchase' GROUP BY 1""",
    "s01_hourly_agg" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*) AS n_events,
         CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",
    "s02_sessions" ->
      """WITH g AS (
           SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
           FROM events)
         SELECT user_id,
           CAST(sum(CASE WHEN prev_ts IS NULL
                    OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           count(*) AS n_events
         FROM g GROUP BY user_id""",
    "s03_hourly_top_values" ->
      """SELECT hour, event_type, rk, event_id, value FROM (
           SELECT date_trunc('hour', ts) AS hour, event_type, event_id, value,
             row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                                ORDER BY value DESC, event_id ASC) AS rk
           FROM events)
         WHERE rk <= 3""",
    "s04_view_purchase_counts" ->
      """SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts,
                count(*) AS n_views
         FROM events p JOIN events v
           ON p.user_id = v.user_id
          AND v.ts <= p.ts
          AND v.ts >= p.ts - INTERVAL 60 MINUTES
         WHERE p.event_type = 'purchase' AND v.event_type = 'view'
         GROUP BY 1, 2, 3""",
    "s05_segment_hourly" ->
      """SELECT date_trunc('hour', e.ts) AS hour, c.c_mktsegment,
         count(*) AS n_events,
         CAST(CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_value
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1, 2""",
    "s08_attribution_outer" ->
      """SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts,
                CAST(count(v.event_id) AS BIGINT) AS n_views
         FROM events p LEFT JOIN events v
           ON v.user_id = p.user_id AND v.event_type = 'view'
          AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 60 MINUTES
         WHERE p.event_type = 'purchase'
         GROUP BY 1, 2, 3""",
    // q34's chained-min CTEs at per-user granularity: stage = deepest
    // chain CTE containing the user; base = anyone with funnel-type
    // activity (stage 0 if the chain never starts).
    "s09_funnel_user_stages" ->
      """WITH base AS (SELECT DISTINCT user_id FROM events
                       WHERE event_type IN ('signup','view','click','purchase')),
          s1 AS (SELECT user_id, min(ts) AS t FROM events
                 WHERE event_type = 'signup' GROUP BY 1),
          s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                 JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
                 WHERE e.event_type = 'view' GROUP BY 1),
          s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                 JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.t
                 WHERE e.event_type = 'click' GROUP BY 1),
          s4 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                 JOIN s3 ON e.user_id = s3.user_id AND e.ts >= s3.t
                 WHERE e.event_type = 'purchase' GROUP BY 1)
          SELECT b.user_id,
            CAST(CASE WHEN s4.user_id IS NOT NULL THEN 4
                      WHEN s3.user_id IS NOT NULL THEN 3
                      WHEN s2.user_id IS NOT NULL THEN 2
                      WHEN s1.user_id IS NOT NULL THEN 1
                      ELSE 0 END AS INTEGER) AS stage
          FROM base b
          LEFT JOIN s1 ON s1.user_id = b.user_id
          LEFT JOIN s2 ON s2.user_id = b.user_id
          LEFT JOIN s3 ON s3.user_id = b.user_id
          LEFT JOIN s4 ON s4.user_id = b.user_id""",
    // Mirrors the Spark window(ts, 6h, 1h) assignment: an event's six
    // containing windows start at truncHour(ts) − k hours, k ∈ [0, 6).
    "s07_sliding_agg" ->
      """WITH ks AS (SELECT unnest(range(0, 6)) AS k),
         x AS (SELECT event_type, value,
                 date_trunc('hour', ts) - to_hours(ks.k) AS w_start
               FROM events, ks)
         SELECT w_start, event_type, count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_value
         FROM x GROUP BY 1, 2""",
    // Same normalized-content fingerprint as the t05/d01 oracles; the
    // planted union doubles every doc, so n_dups >= n_distinct per lang.
    "s06_dedup_stats" ->
      """WITH u AS (SELECT doc_id, lang, text FROM documents
              UNION ALL SELECT doc_id + 1000000000000, lang, text FROM documents),
          g AS (SELECT lang,
                  md5(trim(regexp_replace(lower(text), '[ \t\n\u000B\f\r]+', ' ', 'g'))) AS fp,
                  count(*) AS n_copies
                FROM u GROUP BY 1, 2)
          SELECT lang,
            CAST(sum(n_copies) AS BIGINT) AS n_docs,
            count(*) AS n_distinct,
            CAST(sum(n_copies) - count(*) AS BIGINT) AS n_dups
          FROM g GROUP BY lang""",
    // Mirrors s18 == the s06 oracle verbatim: Spark answers from the
    // JSONL round-trip, DuckDB from the original parquet.
    "s18_jsonl_dedup_stats" ->
      """WITH u AS (SELECT doc_id, lang, text FROM documents
              UNION ALL SELECT doc_id + 1000000000000, lang, text FROM documents),
          g AS (SELECT lang,
                  md5(trim(regexp_replace(lower(text), '[ \t\n\u000B\f\r]+', ' ', 'g'))) AS fp,
                  count(*) AS n_copies
                FROM u GROUP BY 1, 2)
          SELECT lang,
            CAST(sum(n_copies) AS BIGINT) AS n_docs,
            count(*) AS n_distinct,
            CAST(sum(n_copies) - count(*) AS BIGINT) AS n_dups
          FROM g GROUP BY lang""",
    // Mirrors s10: one branch per profiled long column, the q46 md5
    // shard bucket, per-shard scalar stats + the k-min rank (n_kmv =
    // min(distinct, 64), hk = 64th smallest hash or NULL below the knee).
    "s10_shard_stats" -> {
      def branch(c: String) =
        s"""SELECT '$c' AS col_name, b.bucket, b.n_rows, b.n_nulls,
              b.min_val, b.max_val, coalesce(kk.n_kmv, 0) AS n_kmv, kk.hk
            FROM (
              SELECT bucket, count(*) AS n_rows,
                CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
                min($c) AS min_val, max($c) AS max_val
              FROM e GROUP BY bucket) b
            LEFT JOIN (
              SELECT bucket,
                CAST(sum(CASE WHEN rn <= 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_kmv,
                max(CASE WHEN rn = 64 THEN h END) AS hk
              FROM (
                SELECT bucket, h,
                  row_number() OVER (PARTITION BY bucket ORDER BY h ASC) AS rn
                FROM (
                  SELECT DISTINCT bucket, CAST(concat('0x',
                    substring(md5(CAST($c AS VARCHAR)), 1, 13)) AS BIGINT) AS h
                  FROM e WHERE $c IS NOT NULL))
              GROUP BY bucket) kk USING (bucket)"""
      s"""WITH e AS (
            SELECT event_id, user_id,
              CAST(CAST(concat('0x',
                substring(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 8 AS INT) AS bucket
            FROM events)
          ${branch("event_id")}
          UNION ALL
          ${branch("user_id")}"""
    }
  )
}
