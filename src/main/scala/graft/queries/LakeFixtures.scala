package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine.table

/** Shared LAKE FIXTURES for the q133–q143 lake-lifecycle gates.
  *
  * Before r12 every lake query built its OWN 11-day lake from scratch on
  * every invocation — two shuffled appends, a clustered compaction, and
  * their per-file stats jobs — so a bench pass (5 runs × 9 queries) paid
  * ~45 full lake builds and the driver's wrapper timeout killed two
  * consecutive rounds' records mid-registry. The fixtures stage each
  * LAYOUT VARIANT exactly once per (JVM, data dir) and let the queries
  * exercise their actual operator against it:
  *
  *  - read-shaped gates (q133 band scan, q134 time travel, q135 stats
  *    band, q138 adoption read, q139 evolution read, q140/q142 Z-order
  *    bands, q141 change feed) share the immutable fixture directly —
  *    the lifecycle is still verified end-to-end, because the oracle
  *    recomputes the expected rows from FLAT parquet and a fixture whose
  *    appends/compaction/evolution lost or duplicated anything hashes
  *    wrong on every read;
  *  - MUTATING gates (q136 delete, q137 upsert, q143 DV delete) hard-link
  *    clone the fixture into a fresh scratch root per invocation and run
  *    the real op against the clone — the op's honest cost stays in the
  *    bench on EVERY run (committed lake files are immutable, so a clone
  *    is O(files) driver-side link(2) calls, no data bytes move), and the
  *    shared fixture is never mutated.
  *
  * Fixtures are keyed by (kind, data dir): Verify at sf0.01, the warmup
  * pass at sf0.001, and the bench at sf0.1 each build their own. All
  * roots live under [[graft.TempDirs]]'s session root and vanish with
  * the JVM.
  */
object LakeFixtures {

  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def fixture(kind: String, dir: String)(build: String => Unit)
      : String =
    built.computeIfAbsent(s"$kind|$dir", _ => {
      val out = graft.TempDirs.scratch(s"graft_fix_$kind")
        .toFile.getAbsolutePath + "/events"
      build(out)
      out
    })

  private def slice(s: SparkSession, dir: String,
      from: String, untilExcl: String): DataFrame =
    table(s, dir, "events")
      .filter(col("ts") >= lit(from).cast("timestamp") &&
        col("ts") < lit(untilExcl).cast("timestamp"))

  private def even(df: DataFrame) =
    df.filter(pmod(col("event_id"), lit(2)) === 0)
  private def odd(df: DataFrame) =
    df.filter(pmod(col("event_id"), lit(2)) === 1)

  /** Hard-link clone of a built lake root into a fresh scratch dir — the
    * mutating gates' per-run working copy. link(2) per file: no data
    * bytes move, and since committed lake files are IMMUTABLE (rewrites
    * stage new names; only vacuum deletes, and clones are never
    * vacuumed) the clone can be deleted/upserted freely without touching
    * the shared fixture. Falls back to a byte copy on filesystems
    * without hard links.
    */
  def cloneLake(fixtureRoot: String): String = {
    val dst = graft.TempDirs.scratch("graft_fix_clone")
      .toFile.getAbsolutePath + "/events"
    val src = java.nio.file.Paths.get(fixtureRoot)
    val dstP = java.nio.file.Paths.get(dst)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val t = dstP.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t): Unit
      else {
        java.nio.file.Files.createDirectories(t.getParent): Unit
        try java.nio.file.Files.createLink(t, p): Unit
        catch {
          case _: UnsupportedOperationException =>
            java.nio.file.Files.copy(p, t): Unit
        }
      }
    } finally walk.close()
    dst
  }

  /** Wall-clock instants captured between fixture commits, keyed like
    * [[built]] — what the TIMESTAMP time-travel gate (q144) resolves
    * against. Manifest publish mtimes are immutable, so a stamp taken
    * at build time stays valid for every later invocation in the JVM.
    */
  private val stamps =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** q134/q144: versioned lake — v1 = even half, v2 = odd half, v3 =
    * plain compaction of the read week (the time-travel fixture; v1 is
    * pinned as the even-half snapshot the oracle recomputes).
    */
  def plainLake(s: SparkSession, dir: String): String =
    fixture("lake_plain", dir) { out =>
      val ev = slice(s, dir, "2024-01-05", "2024-01-16")
      val v1 = graft.sources.VersionedLake.append(even(ev), out)
      require(v1 == 1L, s"plain lake fixture: first append committed v$v1")
      // the instant v1 was the visible head — q144 travels HERE by
      // timestamp; the sleep keeps v2's publish mtime strictly later
      // than the stamp even on coarse filesystem clocks
      stamps.put(s"lake_plain|$dir", System.currentTimeMillis())
      Thread.sleep(60)
      graft.sources.VersionedLake.append(odd(ev), out)
      graft.sources.VersionedLake.compact(
        s, out, "2024-01-08", "2024-01-14")
    }

  /** The wall-clock instant at which [[plainLake]]'s v1 was the head. */
  def plainLakeV1Stamp(s: SparkSession, dir: String): Long = {
    plainLake(s, dir): Unit // ensure built
    stamps.get(s"lake_plain|$dir")
  }

  /** q135 (read) / q136 + q143 (clone → delete): versioned lake with
    * value stats on every commit and a value-clustered 4-file-floor
    * compaction of the read week.
    */
  def clusteredLake(s: SparkSession, dir: String): String =
    fixture("lake_clustered", dir) { out =>
      val ev = slice(s, dir, "2024-01-05", "2024-01-16")
      graft.sources.VersionedLake.append(even(ev), out,
        statsCols = Seq("value"))
      graft.sources.VersionedLake.append(odd(ev), out,
        statsCols = Seq("value"))
      graft.sources.VersionedLake.compact(
        s, out, "2024-01-08", "2024-01-14",
        minFilesPerDay = 4, clusterBy = Seq("value"))
    }

  /** q140/q142: the read week Z-ORDER-compacted on (value, user_id) —
    * the layout whose files skip on BOTH clustered columns.
    */
  def zorderLake(s: SparkSession, dir: String): String =
    fixture("lake_zorder", dir) { out =>
      val ev = slice(s, dir, "2024-01-05", "2024-01-16")
      graft.sources.VersionedLake.append(even(ev), out)
      graft.sources.VersionedLake.append(odd(ev), out)
      graft.sources.VersionedLake.compact(
        s, out, "2024-01-08", "2024-01-14",
        minFilesPerDay = 4, clusterBy = Seq("value", "user_id"),
        zorder = true)
    }

  /** q133/q138: a raw [[graft.sources.Partitioned]] tree — base write
    * (even event_ids) + append (odd) — ADOPTED in place (importTree) and
    * then value-clustered-compacted over the read week with a 4-file
    * floor, so the band has files to skip at test SF — the
    * migration-chain fixture.
    */
  def importedLake(s: SparkSession, dir: String): String =
    fixture("lake_imported", dir) { out =>
      val ev = slice(s, dir, "2024-01-05", "2024-01-16")
      graft.sources.Partitioned.writeByDay(even(ev), out)
      graft.sources.Partitioned.appendByDay(odd(ev), out)
      graft.sources.VersionedLake.importTree(s, out)
      graft.sources.VersionedLake.compact(
        s, out, "2024-01-08", "2024-01-14",
        minFilesPerDay = 4, clusterBy = Seq("value"))
    }

  /** The 5-column events slice q137/q139 ingest (explicit projection so
    * the upsert/evolution schemas are stable against testdata drift).
    */
  def slimSlice(s: SparkSession, dir: String): DataFrame =
    slice(s, dir, "2024-01-05", "2024-01-16")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))

  /** q137 (clone → upsert): the 11-day 5-column slice landed as ONE
    * append with value stats — the upsert's base corpus.
    */
  def upsertBase(s: SparkSession, dir: String): String =
    fixture("lake_upsert_base", dir) { out =>
      graft.sources.VersionedLake.append(slimSlice(s, dir), out,
        statsCols = Seq("value"))
    }

  /** q139: even half on the original 5-column schema, one evolveSchema
    * commit adds nullable `score`, odd half lands carrying it — the
    * two-file-generation fixture.
    */
  def evolvedLake(s: SparkSession, dir: String): String =
    fixture("lake_evolved", dir) { out =>
      val ev = slimSlice(s, dir)
      graft.sources.VersionedLake.append(even(ev), out)
      graft.sources.VersionedLake.evolveSchema(s, out, Seq(
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType)))
      graft.sources.VersionedLake.append(
        odd(ev).withColumn("score", col("value") + 100.0), out)
    }

  /** q141: the change-feed lifecycle — two appends (vBase =
    * [[ChangesBaseVersion]]), clustered compaction, then a band delete;
    * the query reads `changes(vBase, head)` so the compaction's rows
    * must cancel and the feed must be exactly the deleted band.
    */
  def changesLake(s: SparkSession, dir: String): String =
    fixture("lake_changes", dir) { out =>
      val ev = slice(s, dir, "2024-01-08", "2024-01-15")
      graft.sources.VersionedLake.append(even(ev), out,
        statsCols = Seq("value"))
      val vBase = graft.sources.VersionedLake.append(odd(ev), out,
        statsCols = Seq("value"))
      require(vBase == ChangesBaseVersion,
        s"changes fixture: base landed at v$vBase")
      graft.sources.VersionedLake.compact(
        s, out, "2024-01-08", "2024-01-14",
        minFilesPerDay = 4, clusterBy = Seq("value"))
      graft.sources.VersionedLake.deleteBand(s, out, "value", 300.0, 1.0e12,
        fromDay = "2024-01-08", toDay = "2024-01-14"): Unit
    }

  /** The [[changesLake]] version the feed diffs FROM (post-append head). */
  val ChangesBaseVersion = 2L

  /** s21 (clone → tail → mid-stream append → relay): the pre-stream
    * state — event_id % 3 slices 0 and 1 landed as streaming batches 0
    * and 1 (slice 2 arrives per run, mid-stream).
    */
  def relayBase(s: SparkSession, dir: String): String =
    fixture("lake_relay_base", dir) { out =>
      val ev = slice(s, dir, "2024-01-05", "2024-01-16")
      graft.sources.VersionedLake.appendBatch(
        ev.filter(pmod(col("event_id"), lit(3)) === 0), out, batchId = 0)
      graft.sources.VersionedLake.appendBatch(
        ev.filter(pmod(col("event_id"), lit(3)) === 1), out, batchId = 1): Unit
    }
}
