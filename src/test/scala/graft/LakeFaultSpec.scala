package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}

import graft.kv.Store
import graft.sources.{Partitioned, VersionedLake}

/** The local file system under its own `faulty:` scheme, failing the
  * k-th `create`, `rename` or `delete` it sees (counted across every
  * instance and thread, once armed). Registered through
  * `fs.faulty.impl`; it changes nothing else about the local FS.
  */
class FaultyFs extends RawLocalFileSystem {
  override def getUri: URI = FaultyFs.Root
  override def getScheme: String = FaultyFs.Scheme

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FaultyFs.step("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FaultyFs.step("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultyFs.step("rename", src)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    FaultyFs.step("delete", f)
    super.delete(f, recursive)
  }
}

object FaultyFs {
  val Scheme = "faulty"
  val Root: URI = URI.create(s"$Scheme:///")

  private val seen = new AtomicInteger(0)
  @volatile private var failAt = 0
  @volatile var fired = false

  /** Restart the count; fail the k-th mutation from now (0: never). */
  def arm(k: Int): Unit = { seen.set(0); fired = false; failAt = k }

  /** Mutations since the last [[arm]]. */
  def count: Int = seen.get

  private def step(op: String, p: Path): Unit =
    if (seen.incrementAndGet() == failAt) {
      fired = true
      throw new java.io.IOException(s"injected fault: $op #$failAt on $p")
    }
}

/** Crash-point tests of the lake's one write protocol. Each write op —
  * `VersionedLake.appendBatch` (the `LakeSink` forwarder's target),
  * `compact`, `upsert`, `deleteWhere`, `vacuum`, `restore`
  * and `evolveSchema`, and `kv.Store`'s `put`, `del` and `reconf` — runs
  * once per k = 1..n with the k-th filesystem mutation failing, where n
  * is the op's mutation count in a clean run, each time on a fresh copy
  * of the same base lake or store. After every crash:
  *  - `VersionedLake.read` and `Partitioned.readDays` (a store: `scan`
  *    and one point `get` per key) return exactly the old row multiset or
  *    the new one, never a torn or doubled one;
  *  - re-running the same call (same batch id, range, batch, predicate,
  *    version or key) yields the new row multiset exactly once.
  * The lake lives under the `faulty:` scheme, so every commit takes the
  * rename publish path of `publishIfAbsent`; the `file:` hard-link
  * publish path is covered by VersionedLakeSpec's concurrent-writer
  * races.
  */
class LakeFaultSpec extends SparkSessionSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set(s"fs.${FaultyFs.Scheme}.impl", classOf[FaultyFs].getName)

  private val Days = ("2024-03-01", "2024-03-02")

  private def batch(ids: Range) = ids.map { i =>
    (i.toLong, java.sql.Timestamp.valueOf(f"2024-03-0${1 + i % 2} ${i % 24}%02d:00:00"),
      i * 1.5)
  }.toDF("event_id", "ts", "value")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.select("event_id", "ts", "value", "dt").collect().toSeq
      .sortBy(_.getLong(0))

  /** What the lake's two readers return, or None when a read fails. */
  private def lakeReaders(lake: String): Seq[Option[Seq[Row]]] = Seq(
    Try(rows(VersionedLake.read(spark, lake))).toOption,
    Try(rows(Partitioned.readDays(spark, lake, Days._1, Days._2))).toOption)

  /** A faulty:-scheme copy of the local lake `base` (a fresh root when
    * `base` does not exist).
    */
  private def copyOf(base: String): String = {
    val dst = java.nio.file.Files.createTempDirectory("graft_fault_run")
      .resolve("events")
    val src = java.nio.file.Paths.get(base)
    if (java.nio.file.Files.exists(src)) {
      val walk = java.nio.file.Files.walk(src)
      try walk.forEach { p =>
        java.nio.file.Files.copy(p, dst.resolve(src.relativize(p).toString)): Unit
      } finally walk.close()
    }
    s"${FaultyFs.Scheme}://$dst"
  }

  /** Crash `op` at every mutation k of a clean run, on fresh copies of
    * `base`, and check the readers and the replay after each crash. Every
    * reader must return the same rows for a consistent state; the first
    * one reads `base` for the old row set. A base with nothing committed
    * has no old row set: there, a read must fail (as it does before the
    * op) or return the new rows.
    */
  private def crashEveryStep(base: String, op: String => Unit,
      after: Seq[Row], check: String => Unit,
      readers: String => Seq[Option[Seq[Row]]] = lakeReaders): Unit = {
    val before = readers(base).head
    FaultyFs.arm(0)
    val clean = copyOf(base)
    op(clean)
    val n = FaultyFs.count
    assert(n > 5, s"a clean run made only $n mutations")
    readers(clean).foreach(got => assert(got === Some(after)))
    val crashed = (1 to n).count { k =>
      val lake = copyOf(base)
      FaultyFs.arm(k)
      val outcome = Try(op(lake))
      val fired = FaultyFs.fired
      FaultyFs.arm(0)
      assert(fired || outcome.isSuccess,
        s"crash at mutation $k/$n: the op failed without an injected fault")
      readers(lake).foreach { got =>
        assert(got == before || got.contains(after),
          s"crash at mutation $k/$n: a reader saw ${got.map(_.size)} rows " +
            s"(old ${before.map(_.size)}, new ${after.size}) — " +
            outcome.failed.map(_.getMessage))
      }
      op(lake)
      readers(lake).foreach { got =>
        assert(got.contains(after),
          s"replay after a crash at mutation $k/$n is not the new row set")
      }
      check(lake)
      outcome.isFailure
    }
    info(s"$n mutations in a clean run; $crashed of the $n injected faults " +
      "failed the op")
    assert(crashed > n / 2, "most injected faults must fail the op")
  }

  test("appendBatch: a crash at any create/rename/delete leaves readers " +
      "on the old or the new rows, and the replay lands the batch once") {
    val base = java.nio.file.Files.createTempDirectory("graft_fault_base")
      .toString + "/events"
    VersionedLake.appendBatch(batch(0 until 6), base, batchId = 0)
    val next = batch(6 until 10)
    val after = rows(batch(0 until 10)
      .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd")))
    crashEveryStep(base,
      lake => VersionedLake.appendBatch(next, lake, batchId = 1): Unit,
      after,
      lake => assert(VersionedLake.lastBatchId(spark, lake) === 1L))
  }

  test("appendBatch on a virgin root: a crash before the first commit " +
      "leaves nothing readable, not the crashed batch's orphan files") {
    val base = java.nio.file.Files.createTempDirectory("graft_fault_base")
      .toString + "/events"
    val first = batch(0 until 6)
    val after = rows(first.withColumn("dt", date_format(col("ts"), "yyyy-MM-dd")))
    crashEveryStep(base,
      lake => VersionedLake.appendBatch(first, lake, batchId = 0): Unit,
      after,
      lake => assert(VersionedLake.lastBatchId(spark, lake) === 0L))
  }

  /** A local lake of ids 0..11 landed by two appends, so both days hold
    * two files.
    */
  private def twoAppends(): String = {
    val base = java.nio.file.Files.createTempDirectory("graft_fault_base")
      .toString + "/events"
    VersionedLake.append(batch(0 until 6), base)
    VersionedLake.append(batch(6 until 12), base)
    assert(VersionedLake.snapshot(spark, base).files.groupBy(_.dt)
      .values.forall(_.size > 1), "gate needs multi-file days")
    base
  }

  test("compact: a crash at any create/rename/delete leaves readers on " +
      "the old or the new layout's rows, and the re-run compacts once") {
    val base = twoAppends()
    val after = rows(VersionedLake.read(spark, base))
    crashEveryStep(base,
      lake => VersionedLake.compact(spark, lake, Days._1, Days._2): Unit,
      after,
      lake => assert(VersionedLake.snapshot(spark, lake).files.groupBy(_.dt)
        .values.forall(_.size === 1), "the re-run left a day uncompacted"))
  }

  test("upsert: a crash at any create/rename/delete leaves readers on " +
      "the old or the new rows, and the replay holds each key once") {
    val base = twoAppends()
    // ids 4..11 overwrite live keys on both days, 12..13 are new keys
    val updates = batch(4 until 14).withColumn("value", col("value") + 100.0)
    val after = rows(VersionedLake.read(spark, base)
      .filter(col("event_id") < 4)
      .unionByName(updates.withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))))
    crashEveryStep(base,
      lake => VersionedLake.upsert(updates, lake, key = "event_id"): Unit,
      after,
      lake => assert(VersionedLake.history(spark, lake).last.op === "upsert"))
  }

  test("deleteWhere (deletion vectors): a crash at any create/rename/delete " +
      "leaves readers on the old or the new rows, and the replay deletes once") {
    // padded so that its commit also publishes a checkpoint: the crash
    // points cover the checkpoint's publish too
    val base = padToCheckpoint(twoAppends())
    val doomed = col("value") > 9.0
    val after = rows(VersionedLake.read(spark, base).filter(!doomed))
    crashEveryStep(base,
      lake => VersionedLake.deleteWhere(spark, lake, doomed): Unit,
      after,
      lake => assert(VersionedLake.snapshot(spark, lake).files
        .exists(_.dv.isDefined), "the replay left no deletion vector"))
  }

  test("vacuum: a crash at any create/rename/delete leaves readers on the " +
      "same rows, and the re-run reclaims every expired version and file") {
    val base = twoAppends()
    VersionedLake.compact(spark, base, Days._1, Days._2)
    VersionedLake.deleteWhere(spark, base, col("value") > 9.0)
    val after = rows(VersionedLake.read(spark, base))
    crashEveryStep(base,
      lake => VersionedLake.vacuum(spark, lake, retainVersions = 1,
        olderThanHours = 0): Unit,
      after,
      lake => {
        assert(VersionedLake.history(spark, lake).size === 1)
        val left = VersionedLake.vacuum(spark, lake, retainVersions = 1,
          olderThanHours = 0, dryRun = true)
        assert(left.dataFiles.isEmpty && left.expiredVersions.isEmpty)
      })
  }

  /** `lake` with its log padded by no-op commits (a restore of its own
    * head) to v9: the next commit is v10, which also publishes a full
    * checkpoint, so an op whose own commit takes few mutations gets the
    * checkpoint's crash points too.
    */
  private def padToCheckpoint(lake: String): String = {
    def head = VersionedLake.latestVersion(spark, lake).get
    while (head < 9L) VersionedLake.restore(spark, lake, head)
    lake
  }

  /** [[twoAppends]] and a delete (v3), padded to v9. */
  private def nineVersions(): String = {
    val base = twoAppends()
    VersionedLake.deleteWhere(spark, base, col("value") > 9.0)
    padToCheckpoint(base)
  }

  test("restore: a crash at any create/rename/delete leaves readers on the " +
      "old or the restored rows, and the replay restores once") {
    val base = nineVersions()
    val after = rows(VersionedLake.read(spark, base, Some(2L)))
    crashEveryStep(base,
      lake => VersionedLake.restore(spark, lake, 2L): Unit,
      after,
      lake => assert(VersionedLake.history(spark, lake).last.op === "restore-v2"))
  }

  test("evolveSchema: a crash at any create/rename/delete leaves readers on " +
      "the old or the evolved schema, and the replay evolves once") {
    val base = nineVersions()
    // rows with every column the read returns, so the added column shows
    def allRows(df: DataFrame): Seq[Row] =
      df.select((Seq("event_id", "ts", "value", "dt") ++ df.columns.filter(_ == "note"))
        .map(col): _*)
        .collect().toSeq.sortBy(_.getLong(0))
    val after = allRows(VersionedLake.read(spark, base).withColumn("note", lit(null).cast("string")))
    crashEveryStep(base,
      // the replay of a migration adds the column only where it is missing
      lake => if (!VersionedLake.snapshot(spark, lake).schema.fieldNames.contains("note"))
        VersionedLake.evolveSchema(spark, lake, Seq(StructField("note", StringType))): Unit,
      after,
      lake => assert(VersionedLake.history(spark, lake).count(_.op == "evolve-schema") === 1),
      lake => Seq(Try(allRows(VersionedLake.read(spark, lake))).toOption,
        Try(allRows(Partitioned.readDays(spark, lake, Days._1, Days._2))).toOption))
  }

  private val Gid = "g"

  private def kv(ids: Range, tag: String) =
    ids.map(i => (i.toLong, s"$tag$i")).toDF("id", "v")

  private def kvRows(df: DataFrame): Seq[Row] =
    df.select("key", "value").collect().toSeq.sortBy(_.getString(0))

  /** A store of 4 buckets whose gid holds ids 0..11, landed by two puts. */
  private def storeBase(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_fault_base")
      .toString + "/store"
    val store = new Store(spark, root, defaultBuckets = 4)
    store.put(kv(0 until 6, "v"), Gid, Some("id"))
    store.put(kv(6 until 12, "v"), Gid, Some("id"))
    root
  }

  /** The store's two readers: a full scan, and one point get per key of
    * ids 0..13, unioned.
    */
  private def storeReaders(root: String): Seq[Option[Seq[Row]]] = {
    val store = new Store(spark, root, defaultBuckets = 4)
    Seq(Try(kvRows(store.scan(Gid))).toOption,
      Try(kvRows((0 until 14).map(i => store.get(Gid, i.toString))
        .reduce(_.unionByName(_)))).toOption)
  }

  test("Store.put: a crash at any create/rename/delete leaves readers on " +
      "the old or the new values, and the replay holds each key once") {
    val base = storeBase()
    // ids 4..11 overwrite live keys, 12..13 are new keys
    val updates = kv(4 until 14, "w")
    val after = kvRows(new Store(spark, base, 4).scan(Gid)
      .filter(col("key").isin((0 until 4).map(_.toString): _*))
      .unionByName(Store.toKV(updates, Some("id"))))
    crashEveryStep(base,
      lake => new Store(spark, lake, 4).put(updates, Gid, Some("id")),
      after,
      lake => assert(new Store(spark, lake, 4).keys(Gid).count() === 14L),
      storeReaders)
  }

  test("Store.del: a crash at any create/rename/delete leaves readers with " +
      "or without the key, and the replay deletes it once") {
    val base = storeBase()
    // padded like the lake's dv delete: the crash points cover the
    // checkpoint's publish too
    padToCheckpoint(s"$base/$Gid")
    val after = kvRows(new Store(spark, base, 4).scan(Gid).filter(col("key") =!= "5"))
    crashEveryStep(base,
      lake => new Store(spark, lake, 4).del(Gid, "5"),
      after,
      lake => assert(new Store(spark, lake, 4).get(Gid, "5").count() === 0L),
      storeReaders)
  }

  test("Store.reconf: a crash at any create/rename/delete leaves readers on " +
      "the same rows, and the replay leaves one generation in the new layout") {
    val base = storeBase()
    val after = kvRows(new Store(spark, base, 4).scan(Gid))
    crashEveryStep(base,
      lake => new Store(spark, lake, 4).reconf(Gid, 2),
      after,
      lake => {
        val store = new Store(spark, lake, 4)
        val buckets = store.scanBucketed(Gid).select("bucket").distinct()
          .collect().map(_.getInt(0)).toSet
        assert(buckets.nonEmpty && buckets.forall(_ < 2), s"buckets $buckets")
        // one generation on disk: every data file under a bucket dir is live
        val fs = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val onDisk = fs.listStatus(new Path(s"$lake/$Gid")).toSeq
          .filter(_.getPath.getName.startsWith("bucket="))
          .flatMap(d => fs.listStatus(d.getPath).toSeq)
          .count(_.getPath.getName.startsWith("part-"))
        val live = store.scan(Gid).select(input_file_name()).distinct().count()
        assert(onDisk === live, s"$onDisk data files on disk, $live live")
      },
      storeReaders)
  }
}
