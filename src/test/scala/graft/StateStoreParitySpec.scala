package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.Engine.table
import graft.kv.Store
import graft.streaming.{AttributionStream, DedupStream, EventStream, KVSink, OrderedFold}

/** State-store provider parity: the engine defaults streaming state to
  * RocksDB (Engine.session — the off-heap 100×-ingest story), and this
  * spec pins that the provider is an EXECUTION detail, not a semantics
  * knob: the s06 dedup topology and the s15 hourly-uniques pipeline
  * produce identical results AND identical final state-store row counts
  * under HDFSBackedStateStoreProvider and RocksDBStateStoreProvider
  * (as do the s09 funnel and the s12 ordered fold),
  * across a 3-batch run with a query restart in the middle.
  *
  * Note the provider is pinned INTO a checkpoint at first start (Spark
  * restores `spark.sql.streaming.stateStore.providerClass` from the
  * offset log on restart), so each provider run gets its own checkpoint
  * — which is also the production contract: switching providers means a
  * new checkpoint, never an in-place flip.
  */
class StateStoreParitySpec extends SparkSessionSpec {
  import spark.implicits._

  private val HDFS =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val ROCKS =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Total retained state rows from the last progress that reported any
    * state operator (a trailing empty trigger still reports state).
    * Exact now that KVSink pins the batch with count() — the earlier
    * isEmpty pin left partitions uncached and the re-executed stateful
    * lineage double-counted these metrics.
    */
  private def lastStateRows(q: StreamingQuery): Long =
    q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum)
      .getOrElse(sys.error("no state operator progress"))

  /** TRUE retained state rows, read from the checkpoint itself via the
    * state data source — provider-independent ground truth that bypasses
    * progress metrics entirely.
    */
  private def storedStateRows(ckpt: String, operators: Int): Long =
    (0 until operators).map { op =>
      spark.read.format("statestore")
        .option("operatorId", op.toString).load(ckpt).count()
    }.sum

  private def lastStateMetricKeys(q: StreamingQuery): Set[String] =
    q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.head.customMetrics.keySet()
        .toArray.map(_.toString).toSet)
      .getOrElse(Set.empty)

  private val stateSchema = StructType.fromDDL(
    "lang STRING, fp STRING, keeper_id LONG, n_copies LONG")

  /** 3-batch s06 dedup run (update-mode agg → Store upsert) with a
    * restart between batch 2 and 3. Returns (final stored state rows,
    * final state-store row count, state-op custom metric keys).
    */
  private def runDedup(provider: String)
      : (Set[Seq[Any]], Long, Long, Set[String]) = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    try {
      val root = Files.createTempDirectory("graft-ssparity-dedup").toString
      val store = new Store(spark, s"$root/store", defaultBuckets = 2)
      val b1 = table(spark, sfDir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .filter(col("doc_id") < 120)
        .as[(Long, String, String)].collect().toSeq
      // b2 = full duplicate under disjoint ids (every group → 2 copies);
      // b3 = partial re-duplicate folded only AFTER the restart
      val b2 = b1.map { case (id, l, t) => (id + 1000000000000L, l, t) }
      val b3 = b1.take(40).map { case (id, l, t) => (id + 2000000000000L, l, t) }
      val mem = MemoryStream[(Long, String, String)](spark)
      def start(): StreamingQuery = {
        val sdf = mem.toDF().toDF("doc_id", "lang", "text")
        val state = DedupStream.groups(sdf, "text", "doc_id", "lang")
          .withColumn("k", concat_ws("|", col("lang"), col("fp")))
        KVSink.toStore(state, store, "dedup", keyCol = "k",
          checkpointDir = s"$root/ckpt")
      }
      val q1 = start()
      val (rows, stateRows, trueStateRows, metricKeys) =
        try {
          mem.addData(b1); q1.processAllAvailable()
          mem.addData(b2); q1.processAllAvailable()
          q1.stop()
          val q2 = start() // restart: same checkpoint, same source
          try {
            mem.addData(b3); q2.processAllAvailable()
            val stored = store.scan("dedup")
              .select(from_json(col("value"), stateSchema).as("r"))
              .select("r.lang", "r.fp", "r.keeper_id", "r.n_copies")
              .collect().map(_.toSeq).toSet
            (stored, lastStateRows(q2),
              storedStateRows(s"$root/ckpt", 1), lastStateMetricKeys(q2))
          } finally q2.stop()
        } finally { if (q1.isActive) q1.stop() }
      (rows, stateRows, trueStateRows, metricKeys)
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("s06 dedup: HDFSBacked == RocksDB across 3 batches with restart") {
    val (rowsH, stateH, trueH, keysH) = runDedup(HDFS)
    val (rowsR, stateR, trueR, keysR) = runDedup(ROCKS)
    // the conf took effect: RocksDB surfaces rocksdb* custom metrics,
    // the HDFS provider does not
    assert(keysR.exists(_.toLowerCase.contains("rocksdb")))
    assert(!keysH.exists(_.toLowerCase.contains("rocksdb")))
    assert(rowsH === rowsR)
    assert(stateH === stateR)
    assert(trueH === trueR)
    // and both equal the batch computation over everything that arrived
    val docs = table(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .filter(col("doc_id") < 120)
    val all = docs
      .unionAll(docs.select((col("doc_id") + 1000000000000L).as("doc_id"),
        col("lang"), col("text")))
      .unionAll(docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 2000000000000L).as("doc_id"),
          col("lang"), col("text")))
    val batch = DedupStream.groups(all, "text", "doc_id", "lang")
      .collect().map(_.toSeq).toSet
    assert(rowsR === batch)
    // ground truth from the checkpoint AND the (now exact) progress
    // metric: one state row per distinct (lang, fp)
    assert(trueR === batch.size.toLong)
    assert(stateR === batch.size.toLong)
  }

  /** 3-batch s15 hourly-uniques run (watermarked dropDuplicates feeding
    * a windowed count — the multi-stateful append pipeline) with a
    * restart between batch 2 and 3; a far-future sentinel in batch 3
    * closes every real hour. Returns (emitted rows, final state rows).
    */
  private def runUniques(provider: String): (Set[Seq[Any]], Long, Long) = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    try {
      val root = Files.createTempDirectory("graft-ssparity-uniq").toString
      val store = new Store(spark, s"$root/store", defaultBuckets = 2)
      val evs = table(spark, sfDir, "events")
        .select(col("ts"), col("user_id"))
        .orderBy(col("ts")).limit(3000)
        .as[(Timestamp, Long)].collect().toSeq
      val third = evs.length / 3
      val sentinel = (new Timestamp(
        evs.map(_._1.getTime).max + 6L * 3600 * 1000), -1L)
      val batches = Seq(
        evs.take(third), evs.slice(third, 2 * third),
        evs.drop(2 * third) :+ sentinel)
      val mem = MemoryStream[(Timestamp, Long)](spark)
      def start(): StreamingQuery = {
        val sdf = mem.toDF().toDF("ts", "user_id")
        val out = EventStream.hourlyUniques(sdf)
          .withColumn("k", col("hour").cast("string"))
        KVSink.toStore(out, store, "uniq", keyCol = "k",
          checkpointDir = s"$root/ckpt", mode = OutputMode.Append)
      }
      val q1 = start()
      try {
        mem.addData(batches(0)); q1.processAllAvailable()
        mem.addData(batches(1)); q1.processAllAvailable()
        q1.stop()
        val q2 = start()
        try {
          mem.addData(batches(2)); q2.processAllAvailable()
          val emitted = store.scan("uniq")
            .select(from_json(col("value"),
              StructType.fromDDL("hour TIMESTAMP, n_users BIGINT")).as("r"))
            .select("r.hour", "r.n_users")
            .collect().map(_.toSeq).toSet
          // two stateful operators: watermarked dropDuplicates + the
          // windowed count — sum the checkpoint's true rows over both
          (emitted, lastStateRows(q2), storedStateRows(s"$root/ckpt", 2))
        } finally q2.stop()
      } finally { if (q1.isActive) q1.stop() }
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  /** 3-batch s09 funnel run — the TIMEOUT-bearing state shape
    * (flatMapGroupsWithState + EventTimeTimeout): rows emit only when a
    * group's timeout fires and its state is REMOVED. Timeout scheduling
    * and state.remove are where providers historically diverge, so this
    * pins them too, across a restart between batches 2 and 3; the
    * horizon sentinel in batch 3 times out every real user. Returns
    * (emitted rows, final state-metric rows, checkpoint-true state rows,
    * state-op metric keys).
    */
  private def runFunnel(provider: String)
      : (Set[Seq[Any]], Long, Long, Set[String]) = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    try {
      val root = Files.createTempDirectory("graft-ssparity-funnel").toString
      val store = new Store(spark, s"$root/store", defaultBuckets = 2)
      val stages = Seq("signup", "view", "click", "purchase")
      val evs = table(spark, sfDir, "events")
        .filter(col("user_id") < 50)
        .select(col("user_id"), col("event_type"), col("ts"))
        .as[(Long, String, Timestamp)].collect().toSeq
      val third = evs.length / 3
      val horizon = new Timestamp(
        evs.map(_._3.getTime).max + 1001L * 24 * 3600 * 1000)
      val batches = Seq(
        evs.take(third), evs.slice(third, 2 * third),
        evs.drop(2 * third) :+ ((-1L, "signup", horizon)))
      val mem = MemoryStream[(Long, String, Timestamp)](spark)
      def start(): StreamingQuery = {
        val out = EventStream.funnelStageStream(
            spark, mem.toDF().toDF("user_id", "event_type", "ts"),
            stages, quietMinutes = 500L * 24 * 60)
          .toDF("user_id", "stage")
        KVSink.toStore(out, store, "funnel", keyCol = "user_id",
          checkpointDir = s"$root/ckpt", mode = OutputMode.Append)
      }
      val q1 = start()
      try {
        mem.addData(batches(0)); q1.processAllAvailable()
        mem.addData(batches(1)); q1.processAllAvailable()
        q1.stop()
        val q2 = start() // restart: accumulated per-user state recovers
        try {
          mem.addData(batches(2)); q2.processAllAvailable()
          val emitted = store.scan("funnel")
            .select(from_json(col("value"),
              StructType.fromDDL("user_id BIGINT, stage INT")).as("r"))
            .select("r.user_id", "r.stage")
            .collect().map(_.toSeq).toSet
          (emitted, lastStateRows(q2),
            storedStateRows(s"$root/ckpt", 1), lastStateMetricKeys(q2))
        } finally q2.stop()
      } finally { if (q1.isActive) q1.stop() }
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("s09 funnel (EventTimeTimeout + state.remove): HDFSBacked == RocksDB " +
    "across 3 batches with restart") {
    val (rowsH, stateH, trueH, keysH) = runFunnel(HDFS)
    val (rowsR, stateR, trueR, keysR) = runFunnel(ROCKS)
    assert(keysR.exists(_.toLowerCase.contains("rocksdb")))
    assert(!keysH.exists(_.toLowerCase.contains("rocksdb")))
    assert(rowsH === rowsR)
    assert(stateH === stateR)
    assert(trueH === trueR)
    // every real user timed out AND removed its state: only the horizon
    // sentinel's group survives in the store
    assert(trueR === 1L)
    // and the emissions equal the batch per-user funnel over everything
    val batch = graft.ops.Funnel.perUserStages(
        table(spark, sfDir, "events").filter(col("user_id") < 50),
        Seq("signup", "view", "click", "purchase"))
      .collect().map(r => Seq[Any](r._1, r._2)).toSet
    assert(rowsR === batch)
  }

  test("s15 hourly uniques: HDFSBacked == RocksDB across 3 batches with restart") {
    val (rowsH, stateH, trueH) = runUniques(HDFS)
    val (rowsR, stateR, trueR) = runUniques(ROCKS)
    assert(rowsH === rowsR)
    assert(stateH === stateR)
    assert(trueH === trueR)
    // the sentinel closed every real hour: emissions == the batch KPI
    // over the real events
    val evs = table(spark, sfDir, "events")
      .select(col("ts"), col("user_id"))
      .orderBy(col("ts")).limit(3000)
    val batch = EventStream.hourlyUniques(evs)
      .collect().map(_.toSeq).toSet
    assert(rowsR === batch)
  }

  /** 3-batch s12 attribution run — the ordered per-user fold's state
    * shape ([[graft.streaming.OrderedFold]]'s cursor wrapping an
    * Option-and-Map accumulator) — with a restart between batches 2 and
    * 3; batch 3 also carries one late regression, so the restored
    * cursor must refuse it and count it. Returns (stored per-user rows,
    * the checkpoint's decoded state rows, their late-drop total).
    */
  private def runOrderedFold(provider: String)
      : (Set[(Long, String, Long, Long)], Set[Seq[Any]], Long) = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    try {
      val root = Files.createTempDirectory("graft-ssparity-fold").toString
      val store = new Store(spark, s"$root/store", defaultBuckets = 2)
      val evs = OrderedFold.events[AttributionStream.AttrEvent](
          table(spark, sfDir, "events").filter(col("user_id") < 50),
          "event_type", "value")
        .collect().toSeq.sortBy(e => (e.ts_us, e.event_id))
      val third = evs.length / 3
      // the first event's user is already folded: re-sent as a purchase
      // under a smaller event_id, it is older than that user's cursor
      val late = evs.head.copy(event_id = -1L, event_type = "purchase",
        value = 99.0)
      val batches = Seq(evs.take(third), evs.slice(third, 2 * third),
        evs.drop(2 * third) :+ late)
      val mem = MemoryStream[AttributionStream.AttrEvent](spark)
      def start(): StreamingQuery =
        KVSink.toStore(AttributionStream.userAttributions(mem.toDS()).toDF()
            .withColumn("k", concat_ws("|", col("user_id"), col("touch_type"))),
          store, "attr", keyCol = "k", checkpointDir = s"$root/ckpt")
      val q1 = start()
      try {
        mem.addData(batches(0)); q1.processAllAvailable()
        mem.addData(batches(1)); q1.processAllAvailable()
        q1.stop()
        val q2 = start() // restart: the cursors and accumulators recover
        try {
          mem.addData(batches(2)); q2.processAllAvailable()
          val stored = store.scan("attr")
            .select(from_json(col("value"), StructType.fromDDL(
              "user_id BIGINT, touch_type STRING, n BIGINT, " +
                "value_micros BIGINT")).as("r"))
            .select("r.*").as[(Long, String, Long, Long)].collect().toSet
          val state = spark.read.format("statestore").load(s"$root/ckpt")
            .select(col("key"), col("value"))
          (stored, state.collect().map(_.toSeq).toSet,
            state.agg(sum(col("value.groupState.lateDropped")))
              .head().getLong(0))
        } finally q2.stop()
      } finally { if (q1.isActive) q1.stop() }
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("s12 ordered fold (cursor + accumulator state): HDFSBacked == RocksDB " +
    "across 3 batches with restart") {
    val (rowsH, stateH, lateH) = runOrderedFold(HDFS)
    val (rowsR, stateR, lateR) = runOrderedFold(ROCKS)
    // the decoded cursor-plus-accumulator state round-trips identically
    // through both providers, restart included
    assert(stateH === stateR)
    assert(rowsH === rowsR)
    assert(lateH === 1L && lateR === 1L)
    val events = table(spark, sfDir, "events").filter(col("user_id") < 50)
    assert(stateR.size.toLong ===
      events.select("user_id").distinct().count())
    // the stored per-user rows merge to the batch form over the real
    // events: the late purchase was never credited
    val got = AttributionStream.reportFromUsers(rowsR.toSeq
        .toDF("user_id", "touch_type", "n", "value_micros"))
      .collect().map(_.toSeq).toSet
    assert(got === AttributionStream.lastTouchAttribution(events)
      .collect().map(_.toSeq).toSet)
  }
}
