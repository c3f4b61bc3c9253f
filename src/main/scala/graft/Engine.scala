package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Session factory + table registry for the graft engine.
  *
  * The reference engine (lost-particles/Distributed_Map_Reduce) manages its
  * own cluster: node spawn/stop (`distribution/local/status.js:132-161`),
  * group membership (`distribution/local/groups.js`), HTTP RPC
  * (`distribution/local/comm.js`). In Spark all of that is the cluster
  * manager's job; the engine's only obligation is a well-configured
  * `SparkSession`. Config targets a large cluster (AQE on, skew-join on,
  * sensible shuffle partitioning) while tests run `local[32]`.
  */
object Engine {

  /** TPC-H-ish tables the driver generates (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def session(
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      appName: String = "graft",
      shufflePartitions: Int = 32): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      // native graft expressions (cosine_sim, intersect_card_sorted)
      .withExtensions(new graft.expr.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Adaptive execution: runtime coalescing + skew-join splitting. At
      // 100 TB this is what keeps a static partition count from being
      // either a small-file storm or an OOM.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Dimension tables (region/nation/customer at test SF) broadcast.
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // Scan-split size. The default 128MB leaves a single-file ~20MB
      // fact table at 3 tasks on 32 cores — scan stages run 10x under-
      // parallel in local/dev scales. 8MB floors scan parallelism there
      // while staying irrelevant at 100 TB, where file count dwarfs core
      // count at ANY split size and AQE coalesces the shuffle side.
      .config("spark.sql.files.maxPartitionBytes", (8L * 1024 * 1024).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // Streaming state lives OFF-HEAP in RocksDB, not in the default
      // in-heap HDFSBackedStateStore: s06-shape content-fingerprint dedup
      // state is cross-batch unbounded by contract, so at 100 TB ingest
      // in-heap state is an executor-OOM cliff — RocksDB spills to local
      // disk and bounds the JVM footprint. Changelog checkpointing
      // uploads per-batch deltas instead of full SST snapshots, keeping
      // commit latency flat as state grows. Results are provider-
      // independent (StateStoreParitySpec pins dedup + hourly-uniques
      // byte-equal under both providers, including across a restart).
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // Legacy-vintage events.ts is parquet TIMESTAMP(NANOS) — no native
      // Spark 4 type; this flag reads it as a nanos long that `table`
      // then normalizes (see its scaladoc). Resolved ONCE here: a read
      // path mutating session conf per call would race concurrent query
      // builds and hide the dependency from session owners.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Every parquet file the engine writes (lake and store data files,
      // deletion-vector sidecars, sink, MR and operator outputs) is zstd:
      // unlike the default snappy it entropy-codes the payload bytes, so
      // text values near 4.7 bits/char stop costing 8. On perfbench's
      // kv_lake (4 vCPU, local[4], 10 paired runs) it cut the bytes
      // written per user byte by 22.6% and the bytes stored by 28%.
      // Readers take the codec from each file's footer, so files written
      // under another codec still read.
      .config("spark.sql.parquet.compression.codec", "zstd")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Read one driver-generated table from a scale-factor directory.
    *
    * `events.ts` has drifted across datagen versions: originally parquet
    * TIMESTAMP(NANOS) (no native Spark 4 type — readable only as a nanos
    * long via the legacy conf), later TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (reads as TIMESTAMP_NTZ). Branch on the loaded
    * dtype so either vintage normalizes to a session-TZ `timestamp`. The
    * session TZ is pinned to UTC, so NTZ→LTZ is a value-preserving
    * relabel, and DuckDB truncates NANOS→micros identically — oracle
    * parity holds on both paths.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // nanosAsLong (the NANOS-vintage escape hatch) is pinned in
    // Engine.session — a read path must not mutate session conf
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") {
      df.schema("ts").dataType match {
        case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case _                => df
      }
    } else df
  }

  /** Register every table as a temp view so `spark.sql` works too. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    tableNames.foreach { n =>
      table(spark, sfDir, n).createOrReplaceTempView(n)
    }
}
