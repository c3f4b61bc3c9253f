package graft.kv

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MetadataBuilder, StringType, StructField,
  StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.VersionedLake

/** KV storage layer — Spark realization of the reference's `mem`/`store`
  * services.
  *
  * Reference semantics being preserved:
  *  - record = gid-scoped key→opaque-value (distribution/local/mem.js:24-43,
  *    local/store.js:86-130 — one serialized blob per key);
  *  - default key is content-addressed: sha256 of the serialized value
  *    (distribution/util/id.js:72-78, used at all/store.js:183);
  *  - duplicate key ⇒ last write wins (local/store.js:129-130 overwrites the
  *    same file; asserted by test/all.student.test.js:230-293);
  *  - `get(null)` enumerates all keys of a gid (local/store.js:155-172);
  *  - `reconf` re-shards only the keys whose placement changed
  *    (all/store.js:217-285) — in Spark, placement is the shuffle's job, so
  *    reconf degenerates to an explicit repartition-by-key rewrite.
  *
  * Spark-first mapping: `store` = one [[VersionedLake]] table per gid,
  * partitioned by `bucket = pmod(xxhash64(key), n)` — the Spark analog of
  * the reference's hash placement (util/id.js:107-148). Writes are
  * MERGE-ON-READ, so like the reference's one file per key a write costs
  * its own keys, not the buckets they land in: `put` appends the batch's
  * files to the buckets it touches and tombstones the rows it shadows in
  * one deletion-vector sidecar, `del` tombstones one row, and a point
  * `get` hashes its bucket on the driver and opens only that bucket's
  * snapshot entries. `mem` = cached DataFrames. Values ride as JSON
  * strings — the reference's values are schemaless JS blobs (SURVEY
  * §1.2), so an opaque string column IS the faithful data model;
  * schema-on-read (`from_json`) recovers structure when the caller knows
  * it.
  *
  * NOT ported: HTTP-RPC transport, gossip, node spawn — Spark's control
  * plane owns those (SURVEY §2.4).
  *
  * Crash story: every write is one atomic commit of the gid's manifest
  * log, so a crash at any point leaves readers on the old state or the
  * new one, and re-running the call lands it once. Data files are staged
  * and moved before the commit; a crash leaves them as orphans no
  * manifest references, which the next [[reconf]] sweeps. The bucket
  * count rides the committed schema (metadata of the `key` field), so
  * the layout and its count change in the same commit. One writer per
  * gid: [[reconf]] reclaims every file its rewrite superseded, including
  * a concurrent writer's uncommitted ones. Both planes go through the
  * Hadoop FS API, so a store roots on `file:`, `hdfs:` or any Hadoop FS
  * whose rename refuses an existing destination.
  */
class Store(spark: SparkSession, root: String, defaultBuckets: Int = 32) {
  import Store._

  /** The store's root directory (exposed for layout-level tooling/tests). */
  def rootDir: String = root

  private def path(gid: String) = s"$root/$gid"

  /** The gid's latest snapshot — an empty one of `defaultBuckets` before
    * its first commit, which then records that count. A gid dir holding
    * data but no commit log (a store of the older unversioned layout) is
    * refused loudly: read as empty, a `put` would land beside data no read
    * sees and a [[reconf]] would sweep it. A crashed first put is not
    * refused — the log dir is made before any file lands.
    */
  private def current(gid: String): VersionedLake.Snapshot =
    VersionedLake.latest(spark, path(gid)).getOrElse {
      val dir = new Path(path(gid))
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dir) &&
          !fs.exists(new Path(dir, VersionedLake.CommitDir))) {
        val data = fs.listStatus(dir).map(_.getPath.getName)
          .filterNot(n => n.startsWith(".") || n.startsWith("_"))
        if (data.nonEmpty)
          throw new IllegalStateException(s"kv.Store: $dir holds data " +
            s"(${data.sorted.head}) but no commit log — a store of the " +
            "unversioned layout; it is neither read nor overwritten. Move " +
            "it aside and put its rows again")
      }
      VersionedLake.Snapshot(0L, schema(defaultBuckets), Nil)
    }

  private def buckets(snap: VersionedLake.Snapshot): Int =
    snap.schema("key").metadata.getLong(BucketsKey).toInt

  /** The (key, value, bucket) rows of the gid's `entries` in `snap`. */
  private def rows(gid: String, snap: VersionedLake.Snapshot,
      entries: Seq[VersionedLake.FileEntry]): DataFrame =
    if (entries.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL("key STRING, value STRING, bucket INT"))
    else {
      val dir = new Path(path(gid))
      val base = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(dir).toString
      VersionedLake.scanEntries(spark, base, snap.schema, entries)
        .select(col("key"), col("value"), col("bucket").cast("int").as("bucket"))
    }

  /** The entries of `key`'s bucket. */
  private def bucketEntries(snap: VersionedLake.Snapshot, key: String) = {
    val b = bucketOf(key, buckets(snap)).toString
    snap.files.filter(_.dt == b)
  }

  private def bucketExpr(key: Column, n: Int): Column =
    pmod(xxhash64(key), lit(n.toLong)).cast("int")

  /** Upsert a batch of rows into `gid` as (key, value-JSON) pairs, merge
    * on read: the batch lands in the buckets its keys hash into, and the
    * rows it shadows — matched in those buckets only — are tombstoned in
    * the same commit.
    *
    * @param keyCol column to use as the key; None ⇒ content-addressed
    *               sha256(to_json(row)) like the reference's getID.
    */
  def put(df: DataFrame, gid: String, keyCol: Option[String] = None): Unit = {
    val snap = current(gid)
    val batch = toKV(df, keyCol)
      // last-write-wins within the batch, made deterministic by keeping the
      // lexicographically greatest value per key (the reference's "last" is
      // arrival order; any deterministic winner satisfies the stored-set
      // semantics the tests assert).
      .groupBy("key").agg(max("value").as("value"))
      .withColumn("bucket", bucketExpr(col("key"), buckets(snap)))
    VersionedLake.mergeByKey(snap, batch, path(gid), "key", "bucket", Nil) {
      (_, _, touched) => f => touched(f.dt)
    }: Unit
  }

  /** Point lookup: the key's bucket is hashed on the driver, and the scan
    * opens only that bucket's snapshot entries — O(files/n), not O(files).
    */
  def get(gid: String, key: String): DataFrame = {
    val snap = current(gid)
    rows(gid, snap, bucketEntries(snap, key))
      .filter(col("key") === key).select(col("key"), col("value"))
  }

  /** `get(null)` — enumerate all keys of a gid (reference
    * all/store.js:150-163 broadcast-concat).
    */
  def keys(gid: String): DataFrame = scan(gid).select("key")

  /** Full scan of a gid. */
  def scan(gid: String): DataFrame =
    scanBucketed(gid).select(col("key"), col("value"))

  /** Full scan RETAINING the layout's `bucket` partition column — lets
    * consumers align joins with the store's placement scheme and, via a
    * filter on `bucket`, partition-prune the read to the bucket dirs a
    * key set touches (see [[graft.ops.Dedup.incrementalFresh]]).
    */
  def scanBucketed(gid: String): DataFrame = {
    val snap = current(gid)
    rows(gid, snap, snap.files)
  }

  /** The gid's placement expression: the bucket a key lives in — the
    * Spark analog of the reference's `getNode` hash placement
    * (all/store.js:106-121). Evaluating it on a foreign key column lets a
    * consumer route/prune by the store's own scheme.
    */
  def placement(gid: String, key: Column): Column =
    bucketExpr(key, buckets(current(gid)))

  /** Delete one key: its row is tombstoned among its bucket's entries; no
    * data file is rewritten. Deleting a missing key commits nothing.
    */
  def del(gid: String, key: String): Unit = {
    val snap = current(gid)
    VersionedLake.deleteVectors(spark, path(gid), snap,
      bucketEntries(snap, key), "delete", _.filter(col("key") === key)): Unit
  }

  /** Re-shard a gid into `numBuckets` hash partitions of the key — the
    * reference's `reconf` (all/store.js:217-285). A bucket-count change
    * invalidates every key's placement, so this is the one full rewrite,
    * committed as one version with the new count (on an empty gid, the
    * count alone). It doubles as compaction: the files it superseded —
    * with their tombstones and any crashed write's orphans — are then
    * removed, so the gid keeps one generation on disk.
    */
  def reconf(gid: String, numBuckets: Int): Unit = {
    val snap = current(gid)
    val adds =
      if (snap.files.isEmpty) Nil
      else VersionedLake.stageAndMove(
        rows(gid, snap, snap.files)
          .withColumn("bucket", bucketExpr(col("key"), numBuckets)),
        path(gid), "bucket", Nil, Some(snap.files.map(_.rows).sum))
    VersionedLake.commitDelta(spark, new Path(path(gid)), schema(numBuckets),
      adds, snap.files, op = "reconf",
      allowSchemaChange = true)
    VersionedLake.vacuum(spark, path(gid), retainVersions = 1,
      olderThanHours = 0): Unit
  }
}

object Store {
  /** Metadata key of the bucket count on the committed `key` field. */
  private val BucketsKey = "graft.kv.buckets"

  /** A gid's table schema, carrying its bucket count. */
  private def schema(n: Int): StructType = StructType(Seq(
    StructField("key", StringType, nullable = true,
      new MetadataBuilder().putLong(BucketsKey, n.toLong).build()),
    StructField("value", StringType)))

  /** The bucket of `key` among `n`, on the driver: XXH64 with Spark's
    * seed 42 over the key's UTF-8 bytes — `pmod(xxhash64(key), n)`
    * without a job.
    */
  private[graft] def bucketOf(key: String, n: Int): Int = {
    val h = XXH64.hashUTF8String(UTF8String.fromString(key), 42L)
    (((h % n) + n) % n).toInt
  }

  /** Project an arbitrary DataFrame to the KV (key, value) shape.
    * value = canonical JSON of the full row; key = given column or
    * content-addressed sha256 of the value (id.js:72-78 analog).
    */
  def toKV(df: DataFrame, keyCol: Option[String] = None): DataFrame = {
    val json = to_json(struct(df.columns.map(col): _*))
    keyCol match {
      case Some(k) =>
        df.select(col(k).cast("string").as("key"), json.as("value"))
      case None =>
        df.select(sha2(json, 256).as("key"), json.as("value"))
    }
  }
}

/** `mem` — ephemeral node-local KV (distribution/local/mem.js). In Spark:
  * a named registry of cached DataFrames; Spark's unified memory manager
  * replaces the reference's per-node JS Maps.
  */
class Mem {
  private val groups = scala.collection.concurrent.TrieMap[String, DataFrame]()

  def put(df: DataFrame, gid: String, keyCol: Option[String] = None): Unit = {
    // pin the keyed batch before the merge double-references it (anti-
    // join probe + union) — the Store.put discipline: one execution of
    // the caller's lineage, and non-deterministic inputs cannot tear
    val kv = Store.toKV(df, keyCol).groupBy("key").agg(max("value").as("value"))
      .localCheckpoint()
    try {
      val merged = groups.get(gid) match {
        case Some(old) =>
          old.join(kv.select("key"), Seq("key"), "left_anti").union(kv)
        case None => kv
      }
      // materialize (localCheckpoint is eager) BEFORE dropping the old
      // cache: unpersist-then-lazy-cache would rebuild the whole put chain
      // from source on next read, and lineage would grow per put — the
      // iterative-DataFrame trap (see Dedup.components). The superseded
      // generation is a localCheckpoint too, so Dataset.unpersist (which
      // only talks to the CacheManager) would strand its RDD blocks one
      // generation per put until GC — free them through the bridge
      // (`next` is already materialized, so dropping old is safe).
      val next = merged.localCheckpoint()
      groups.get(gid).foreach(
        org.apache.spark.sql.GraftBridge.unpersistCheckpoint)
      groups(gid) = next
    } finally
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(kv)
  }

  def get(gid: String, key: String): DataFrame =
    groups(gid).filter(col("key") === key)

  def keys(gid: String): DataFrame = groups(gid).select("key")

  def scan(gid: String): DataFrame = groups(gid)

  def del(gid: String, key: String): Unit = {
    val rest = groups(gid).filter(col("key") =!= key).localCheckpoint()
    // same bridge-unpersist as put: the old generation's checkpoint
    // blocks are not CacheManager-visible
    groups.get(gid).foreach(
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint)
    groups(gid) = rest
  }
}
