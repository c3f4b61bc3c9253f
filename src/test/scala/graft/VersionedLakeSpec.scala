package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.Engine.table
import graft.sources.VersionedLake

class VersionedLakeSpec extends SparkSessionSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_vlake").toString + "/events"

  test("append → commit → read round trip; versions are monotonic; " +
      "day-ranged reads prune from the manifest") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    val v1 = VersionedLake.append(ev.filter(pmod(col("event_id"), lit(2)) === 0), d)
    val v2 = VersionedLake.append(ev.filter(pmod(col("event_id"), lit(2)) === 1), d)
    assert(v1 === 1L && v2 === 2L)
    val back = VersionedLake.read(spark, d).drop("dt")
    assert(back.count() === ev.count())
    val cols = ev.columns.map(col).toSeq
    assert(back.select(cols: _*).collect().map(_.toSeq).toSet ===
      ev.select(cols: _*).collect().map(_.toSeq).toSet)
    // a one-day read selects exactly that day's manifest entries
    val day = VersionedLake.snapshot(spark, d).files.map(_.dt).distinct.sorted.apply(1)
    val oneDay = VersionedLake.read(spark, d, None, day, day)
    val expected = ev.filter(date_format(col("ts"), "yyyy-MM-dd") === day).count()
    assert(oneDay.count() === expected)
  }

  test("snapshot isolation: a reader pinned to an old version survives a " +
      "compaction commit; vacuum then reclaims the old files") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    val v1 = VersionedLake.append(ev.filter(pmod(col("event_id"), lit(2)) === 0), d)
    VersionedLake.append(ev.filter(pmod(col("event_id"), lit(2)) === 1), d)
    val snapBefore = VersionedLake.snapshot(spark, d)
    assert(snapBefore.files.groupBy(_.dt).values.exists(_.size > 1),
      "need multi-file days for compaction to rewrite")
    // pin a reader at v2's file list, then compact (publishes v3)
    val pinned = VersionedLake.read(spark, d, Some(snapBefore.version))
    val days = snapBefore.files.map(_.dt).distinct.sorted
    val v3 = VersionedLake.compact(spark, d, days.head, days.last)
    assert(v3 === snapBefore.version + 1)
    // old files are still on disk (immutable until vacuum), so the
    // pinned reader collects its full snapshot mid-"concurrent" commit
    assert(pinned.count() === ev.count())
    // the head is compacted: one file per day, same rows
    val snapAfter = VersionedLake.snapshot(spark, d)
    assert(snapAfter.files.groupBy(_.dt).values.forall(_.size === 1))
    assert(VersionedLake.read(spark, d).count() === ev.count())
    // vacuum to the latest version only → the rewritten files vanish,
    // old manifests go with them, the head still reads clean
    // horizon 0: this test IS the single-writer maintenance window
    VersionedLake.vacuum(spark, d, retainVersions = 1, olderThanHours = 0.0)
    val liveNames = snapAfter.files.map(_.path).toSet
    val onDisk = new java.io.File(d).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("dt="))
      .flatMap(day => day.listFiles().filter(_.getName.startsWith("part-"))
        .map(f => s"${day.getName}/${f.getName}")).toSet
    assert(onDisk === liveNames,
      s"vacuum left orphans or deleted live files: ${onDisk.diff(liveNames)} / ${liveNames.diff(onDisk)}")
    intercept[RuntimeException] {
      VersionedLake.snapshot(spark, d, Some(v1)) // expired by retention
    }
    assert(VersionedLake.read(spark, d).count() === ev.count())
  }

  test("commit conflicts retry onto the next version and lose nothing " +
      "(a manifest name squatted by a concurrent committer)") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    VersionedLake.append(ev.filter(pmod(col("event_id"), lit(2)) === 0), d)
    // simulate a concurrent committer that won v2: copy v1's manifest
    // bytes to the v2 name (a legal duplicate-replay delta — version
    // lives in the NAME, never the content, and replay dedupes re-added
    // paths, so the doubled adds are a no-op)
    val commits = new java.io.File(d, "_commits")
    val v1 = new java.io.File(commits, "v00000001.json")
    val v2 = new java.io.File(commits, "v00000002.json")
    Files.copy(v1.toPath, v2.toPath)
    // this writer must lose the race for v2, re-merge onto it, win v3
    val v = VersionedLake.append(ev.filter(pmod(col("event_id"), lit(2)) === 1), d)
    assert(v === 3L)
    assert(VersionedLake.read(spark, d).count() === ev.count())
  }

  test("appendBatch is exactly-once: a replayed batch id is a no-op " +
      "commit and the high-water mark rides the manifest header") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    def slice(i: Int) = ev.filter(pmod(col("event_id"), lit(3)) === i)
    VersionedLake.appendBatch(slice(0), d, batchId = 0)
    val v2 = VersionedLake.appendBatch(slice(1), d, batchId = 1)
    // full replay of a committed batch: no new version, no new rows
    val vReplay = VersionedLake.appendBatch(slice(1), d, batchId = 1)
    assert(vReplay === v2, "replay committed a new version")
    assert(VersionedLake.snapshot(spark, d).lastBatchId === 1L)
    VersionedLake.appendBatch(slice(2), d, batchId = 2)
    assert(VersionedLake.read(spark, d).count() === ev.count(),
      "replayed batch rows were double- or under-counted")
    assert(VersionedLake.snapshot(spark, d).lastBatchId === 2L)
  }

  test("streaming sink: micro-batches commit snapshots; a restart on the " +
      "same checkpoint never double-appends") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def t(day: Int, h: Int = 0): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    val root = Files.createTempDirectory("graft_vlake_sink").toString
    val lake = s"$root/events"
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
    def startQuery() = VersionedLake.sink(
      mem.toDF().toDF("event_id", "ts", "value"),
      lake, checkpointDir = s"$root/__ckpt")
    def rows(): Set[Seq[Any]] =
      VersionedLake.read(spark, lake).select("event_id", "ts", "value")
        .collect().map(_.toSeq).toSet
    val b1 = Seq((1L, t(1), 1.0), (2L, t(1, 6), 2.0), (3L, t(2), 3.0))
    val b2 = Seq((4L, t(2, 12), 4.0), (5L, t(3), 5.0))
    val q1 = startQuery()
    try {
      mem.addData(b1)
      q1.processAllAvailable()
      mem.addData(b2)
      q1.processAllAvailable()
      assert(rows() === (b1 ++ b2).map(r => Seq(r._1, r._2, r._3)).toSet)
    } finally q1.stop()
    // restart on the SAME checkpoint; only new data lands (the recovered
    // query replays nothing thanks to the manifest high-water mark)
    val b3 = Seq((6L, t(3, 8), 6.0), (7L, t(4), 7.0))
    val q2 = startQuery()
    try {
      mem.addData(b3)
      q2.processAllAvailable()
      assert(rows() ===
        (b1 ++ b2 ++ b3).map(r => Seq(r._1, r._2, r._3)).toSet)
    } finally q2.stop()
    // day-ranged manifest read sees exactly that day's rows
    assert(VersionedLake.read(spark, lake, None, "2024-01-02", "2024-01-02")
      .count() === 2) // events 3 and 4
  }

  test("sink auto-maintenance: compactEvery keeps per-day file counts at " +
      "the compact bound and vacuumEvery prunes expired versions — with " +
      "rows exactly the batches' union throughout") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def t(day: Int, h: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-02-$day%02d $h%02d:00:00")
    val root = Files.createTempDirectory("graft_vlake_automnt").toString
    val lake = s"$root/events"
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
    // every 2nd batch compacts, every 3rd vacuums down to 2 versions
    // (horizon 0: the sink is the only writer here)
    val q = VersionedLake.sink(mem.toDF().toDF("event_id", "ts", "value"),
      lake, checkpointDir = s"$root/__ckpt",
      compactEvery = 2L, vacuumEvery = 3L,
      vacuumRetain = 2, vacuumHorizonHours = 0.0)
    val sent = scala.collection.mutable.Buffer[(Long, java.sql.Timestamp, Double)]()
    try {
      // 6 micro-batches, all into the SAME two days — the accumulation
      // pattern auto-compaction exists for
      (0 until 6).foreach { i =>
        val b = Seq((i * 2L, t(1, i), i * 1.0), (i * 2L + 1, t(2, i), i * 2.0))
        sent ++= b
        mem.addData(b)
        q.processAllAvailable()
      }
    } finally q.stop()
    // per-day file count sits at the compact bound (1 compacted file +
    // at most compactEvery-1 fresh appends awaiting the next sweep)
    val snap = VersionedLake.snapshot(spark, lake)
    val perDay = snap.files.groupBy(_.dt).map(_._2.size)
    assert(perDay.max <= 2,
      s"auto-compact let a day grow past the bound: ${snap.files.groupBy(_.dt)}")
    // vacuum pruned the version trail to the retain window
    val versions = VersionedLake.history(spark, lake).map(_.version)
    assert(versions.size <= 5,
      s"auto-vacuum left ${versions.size} versions: $versions")
    // stream == batch: every row exactly once through compactions+vacuums
    val rows = VersionedLake.read(spark, lake)
      .select("event_id", "ts", "value").collect().map(_.toSeq).toSet
    assert(rows === sent.map(r => Seq(r._1, r._2, r._3)).toSet)
  }

  test("manifest stats: clustered compaction makes readBand skip files; " +
      "stat-less entries are never pruned") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    VersionedLake.append(ev.filter(pmod(col("event_id"), lit(2)) === 0), d,
      statsCols = Seq("value"))
    VersionedLake.append(ev.filter(pmod(col("event_id"), lit(2)) === 1), d,
      statsCols = Seq("value"))
    val expected = VersionedLake.read(spark, d)
      .filter(col("value") >= 100.0 && col("value") <= 150.0)
      .collect().map(_.toSeq).toSet
    assert(expected.nonEmpty, "band selected no rows — vacuous gate")
    // BEFORE clustering: append stats are coarse (hash layout → every
    // file spans most of the value domain) but the band read must
    // already be correct whatever it manages to skip
    assert(VersionedLake.readBand(spark, d, "value", 100.0, 150.0)
      .collect().map(_.toSeq).toSet === expected)
    // clustered compaction → disjoint per-file ranges → real skipping
    VersionedLake.compact(spark, d, "0000-01-01", "9999-12-31",
      minFilesPerDay = 4, clusterBy = Seq("value"))
    val report = VersionedLake.bandReport(spark, d, "value", "100.0", "150.0")
    assert(report.skipped > 0,
      s"clustered manifest pruned nothing (total=${report.total})")
    assert(VersionedLake.readBand(spark, d, "value", 100.0, 150.0)
      .collect().map(_.toSeq).toSet === expected)
    // a stat-less append joins the lake: its entries carry no ranges, so
    // selection must keep them (soundness) while still pruning the rest
    VersionedLake.append(
      ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .withColumn("event_id", col("event_id") + 2000000000L), d)
    val expected2 = VersionedLake.read(spark, d)
      .filter(col("value") >= 100.0 && col("value") <= 150.0)
      .collect().map(_.toSeq).toSet
    val report2 = VersionedLake.bandReport(spark, d, "value", "100.0", "150.0")
    assert(report2.skipped > 0, "stat-less entries killed all pruning")
    assert(VersionedLake.readBand(spark, d, "value", 100.0, 150.0)
      .collect().map(_.toSeq).toSet === expected2,
      "a stat-less entry was pruned — UNSOUND")
  }

  test("deleteBand: copy-on-write touches only proven-overlapping files, " +
      "old snapshots keep the rows, schema drift is refused") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    VersionedLake.append(ev.filter(pmod(col("event_id"), lit(2)) === 0), d,
      statsCols = Seq("value"))
    VersionedLake.append(ev.filter(pmod(col("event_id"), lit(2)) === 1), d,
      statsCols = Seq("value"))
    VersionedLake.compact(spark, d, "0000-01-01", "9999-12-31",
      minFilesPerDay = 4, clusterBy = Seq("value"))
    val before = VersionedLake.snapshot(spark, d)
    val headBefore = VersionedLake.read(spark, d).count()
    VersionedLake.deleteBand(spark, d, "value", 300.0, 1.0e12)
    val after = VersionedLake.snapshot(spark, d)
    val beforeByPath = before.files.map(f => f.path -> f).toMap
    // blast radius: every clustered file whose stats prove it disjoint
    // from the band survives with its entry VERBATIM (same file, same
    // stats — zero write amplification outside the overlap)
    val disjoint = before.files.filter(_.stats.get("value")
      .exists { case (_, mx) => BigDecimal(mx) < 300 })
    assert(disjoint.nonEmpty, "clustering produced no provably-safe files")
    val afterByPath = after.files.map(f => f.path -> f).toMap
    disjoint.foreach { f =>
      assert(afterByPath.get(f.path).contains(f),
        s"proven-disjoint file ${f.path} was rewritten")
    }
    // the head lost exactly the band
    val expected = VersionedLake.read(spark, d, Some(before.version))
      .filter(col("value") < 300.0 || col("value").isNull).count()
    assert(VersionedLake.read(spark, d).count() === expected)
    // time travel is the audit trail: the pre-delete snapshot still
    // carries every row until vacuum expires it
    assert(VersionedLake.read(spark, d, Some(before.version)).count()
      === headBefore)
    // schema drift guard: an append with a divergent schema fails
    // LOUDLY at the boundary instead of poisoning the file set
    intercept[IllegalArgumentException] {
      VersionedLake.append(
        ev.withColumn("extra", lit(1)), d)
    }
  }

  test("deleteWhere keeps NULL-predicate rows (a NULL is not a match)") {
    import spark.implicits._
    val d = freshRoot()
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), Some(1.0)),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 06:00:00"), Some(5.0)),
      (3L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), None),
      (4L, java.sql.Timestamp.valueOf("2024-01-02 06:00:00"), Some(9.0))
    ).toDF("event_id", "ts", "value")
    VersionedLake.append(df, d)
    VersionedLake.deleteWhere(spark, d, col("value") > 2.0)
    val left = VersionedLake.read(spark, d)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(left === Set(1L, 3L),
      "NULL-valued row must survive a delete it cannot match")
  }

  test("upsert: last-write-wins in ONE commit — no version anywhere " +
      "holds two rows of an updated key") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    VersionedLake.append(ev, d)
    val vBefore = VersionedLake.snapshot(spark, d).version
    val corrections = ev.filter(pmod(col("event_id"), lit(10)) === 0)
      .withColumn("value", col("value") + 1000.0)
    val fresh = ev.filter(pmod(col("event_id"), lit(10)) === 3)
      .withColumn("event_id", col("event_id") + 2000000000L)
    val vAfter = VersionedLake.upsert(
      corrections.union(fresh), d, key = "event_id")
    // exactly one commit landed the whole merge
    assert(vAfter === vBefore + 1)
    // head: corrected values, new rows present, counts exact
    val head = VersionedLake.read(spark, d)
    assert(head.count() === ev.count() + fresh.count())
    val corrected = head.filter(pmod(col("event_id"), lit(10)) === 0 &&
      col("event_id") < 2000000000L)
    assert(corrected.filter(col("value") < 1000.0).count() === 0,
      "a stale pre-image survived the upsert")
    // NO version — including the new head — duplicates a key
    (1L to vAfter).foreach { v =>
      val dups = VersionedLake.read(spark, d, Some(v))
        .groupBy("event_id").count().filter(col("count") > 1).count()
      assert(dups === 0, s"version $v holds duplicate keys")
    }
    // the pre-image is still one time-travel hop away
    assert(VersionedLake.read(spark, d, Some(vBefore))
      .filter(col("value") >= 1000.0).count() === 0)
  }

  test("upsert refuses a batch that repeats a key: the head version and " +
      "rows stay unchanged") {
    import spark.implicits._
    val d = freshRoot()
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    VersionedLake.append(
      Seq((1L, ts, 1.0), (2L, ts, 2.0)).toDF("event_id", "ts", "value"), d)
    val vBefore = VersionedLake.snapshot(spark, d).version
    def rows() = VersionedLake.read(spark, d).collect().toSeq
      .sortBy(_.getLong(0))
    val rowsBefore = rows()
    val e = intercept[IllegalArgumentException] {
      VersionedLake.upsert(Seq((2L, ts, 20.0), (2L, ts, 21.0), (3L, ts, 3.0))
        .toDF("event_id", "ts", "value"), d, key = "event_id")
    }
    assert(e.getMessage.contains("repeat"))
    assert(VersionedLake.snapshot(spark, d).version === vBefore)
    assert(rows() === rowsBefore)
  }

  test("restore republishes an old version as the head and PRESERVES the " +
      "streaming high-water mark") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    def slice(i: Int) = ev.filter(pmod(col("event_id"), lit(2)) === i)
    val v1 = VersionedLake.appendBatch(slice(0), d, batchId = 0)
    VersionedLake.appendBatch(slice(1), d, batchId = 1)
    val v3 = VersionedLake.restore(spark, d, v1)
    assert(v3 === 3L)
    // the head is exactly v1's file list again
    assert(VersionedLake.read(spark, d).count() === slice(0).count())
    assert(VersionedLake.snapshot(spark, d).files.map(_.path).sorted ===
      VersionedLake.snapshot(spark, d, Some(v1)).files.map(_.path).sorted)
    // the hwm did NOT roll back: a restarted stream replaying batch 1
    // must stay a no-op, or restore's effect would be silently undone
    assert(VersionedLake.snapshot(spark, d).lastBatchId === 1L)
    val vReplay = VersionedLake.appendBatch(slice(1), d, batchId = 1)
    assert(vReplay === v3, "replayed batch re-appended after restore")
    assert(VersionedLake.read(spark, d).count() === slice(0).count())
  }

  test("importTree adopts a Partitioned tree in place; history narrates " +
      "the op trail; a second import is refused") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    graft.sources.Partitioned.writeByDay(
      ev.filter(pmod(col("event_id"), lit(2)) === 0), d)
    graft.sources.Partitioned.appendByDay(
      ev.filter(pmod(col("event_id"), lit(2)) === 1), d)
    val filesBefore = new java.io.File(d).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("dt="))
      .flatMap(day => day.listFiles().map(_.getName)).sorted.toSeq
    val v1 = VersionedLake.importTree(spark, d)
    assert(v1 === 1L)
    // in place: not a byte moved
    val filesAfter = new java.io.File(d).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("dt="))
      .flatMap(day => day.listFiles().map(_.getName)).sorted.toSeq
    assert(filesAfter === filesBefore, "import moved data files")
    // census exact: snapshot rows == tree rows; reads agree with flat
    assert(VersionedLake.snapshot(spark, d).files.map(_.rows).sum
      === ev.count())
    assert(VersionedLake.read(spark, d).count() === ev.count())
    // the adopted lake is fully operational: delete through the log
    VersionedLake.deleteWhere(spark, d, col("value") >= 300.0)
    assert(VersionedLake.read(spark, d).count() ===
      ev.filter(col("value") < 300.0 || col("value").isNull).count())
    // history narrates the trail
    assert(VersionedLake.history(spark, d).map(_.op) ===
      Seq("import", "delete"))
    intercept[IllegalArgumentException] {
      VersionedLake.importTree(spark, d)
    }
  }

  test("a crashed (staged but uncommitted) write is invisible to readers " +
      "and swept by vacuum") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    VersionedLake.append(ev, d)
    val before = VersionedLake.read(spark, d).count()
    // simulate the crash: data staged under .vstage_*, no commit
    ev.limit(100).write.mode("overwrite").parquet(s"$d/.vstage_crashed")
    assert(VersionedLake.read(spark, d).count() === before,
      "uncommitted staged files leaked into a read")
    // the default writer-safety horizon (168h) must NOT sweep a fresh
    // stage dir — it could be an in-flight writer's
    VersionedLake.vacuum(spark, d)
    assert(new java.io.File(s"$d/.vstage_crashed").exists(),
      "vacuum swept a stage dir younger than the writer-safety horizon")
    // horizon 0 (an explicit maintenance window) reclaims it
    VersionedLake.vacuum(spark, d, olderThanHours = 0.0)
    assert(!new java.io.File(s"$d/.vstage_crashed").exists(),
      "vacuum did not sweep the crashed stage dir")
    assert(VersionedLake.read(spark, d).count() === before)
  }

  test("a small append's commit payload is O(its files), not O(lake " +
      "files); v1 carries a full checkpoint sidecar") {
    import spark.implicits._
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    VersionedLake.append(ev.filter(pmod(col("event_id"), lit(2)) === 0), d)
    VersionedLake.append(ev.filter(pmod(col("event_id"), lit(2)) === 1), d)
    val lakeFiles = VersionedLake.snapshot(spark, d).files.length
    assert(lakeFiles > 10, "gate needs a many-file lake")
    // one-row append: its delta must list ONLY its own file(s)
    val tiny = ev.limit(1).withColumn("event_id", lit(-1L))
      .select(ev.columns.map(col): _*)
    val v3 = VersionedLake.append(tiny, d)
    val lines = scala.io.Source.fromFile(
      new java.io.File(d, f"_commits/v$v3%08d.json")).getLines()
      .filter(_.nonEmpty).toSeq
    assert(lines.length <= 3, // header + the tiny append's file(s)
      s"a 1-row append wrote ${lines.length} manifest lines — O(lake)?")
    assert(lines.length - 1 < lakeFiles / 2)
    // the full state lives in v1's checkpoint sidecar, not in the delta
    assert(new java.io.File(d, "_commits/v00000001.ckpt.json").exists(),
      "v1 checkpoint sidecar missing")
    assert(VersionedLake.read(spark, d).count() === ev.count() + 1)
  }

  test("snapshots replay from the nearest checkpoint: >CkptInterval " +
      "commits stay correct and every 10th version gets a sidecar") {
    import spark.implicits._
    val d = freshRoot()
    def row(i: Int) = Seq(
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-${(i % 9) + 1}%02d 00:00:00"), i * 1.0))
      .toDF("event_id", "ts", "value")
    (1 to 12).foreach(i => VersionedLake.append(row(i), d))
    assert(new java.io.File(d, "_commits/v00000010.ckpt.json").exists(),
      "interval checkpoint missing at v10")
    assert(VersionedLake.read(spark, d).count() === 12)
    // time travel across the checkpoint boundary
    assert(VersionedLake.read(spark, d, Some(9L)).count() === 9)
    assert(VersionedLake.read(spark, d, Some(11L)).count() === 11)
    // history reads headers only and narrates every version
    val hist = VersionedLake.history(spark, d)
    assert(hist.map(_.version) === (1L to 12L))
    assert(hist.forall(_.op == "append"))
    assert(hist.last.nFiles === VersionedLake.snapshot(spark, d).files.length)
    assert(hist.last.rows === 12L)
  }

  test("conflict DETECTION: a maintenance commit whose substituted " +
      "entries were removed by a racing commit ABORTS instead of " +
      "resurrecting rows") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    VersionedLake.append(ev, d)
    val snap = VersionedLake.snapshot(spark, d)
    val victim = snap.files.head
    // winner: a (simulated) maintenance commit removes `victim`
    VersionedLake.commitDelta(spark,
      new org.apache.hadoop.fs.Path(d), snap.schema,
      adds = Nil, removes = Set(victim.path), op = "delete")
    // loser: a second maintenance op replayed against the new base must
    // see its read-set gone and abort LOUDLY (pre-fix it re-published
    // rewrites carrying the winner's removed rows)
    val e = intercept[RuntimeException] {
      VersionedLake.commitDelta(spark,
        new org.apache.hadoop.fs.Path(d), snap.schema,
        adds = Nil, removes = Set(victim.path), op = "compact")
    }
    assert(e.getMessage.contains("conflict"), e.getMessage)
    // appends (removes = ∅) still commute freely after the near-miss
    VersionedLake.append(ev.limit(0), d) // schema-matching empty append
    assert(VersionedLake.read(spark, d).count() === ev.count() - victim.rows)
  }

  test("vacuum self-contains the oldest retained version with a " +
      "checkpoint before dropping older deltas") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    def slice(i: Int) = ev.filter(pmod(col("event_id"), lit(3)) === i)
    VersionedLake.append(slice(0), d)
    VersionedLake.append(slice(1), d)
    VersionedLake.append(slice(2), d)
    VersionedLake.vacuum(spark, d, retainVersions = 2, olderThanHours = 0.0)
    // v1 (and its auto-checkpoint) are gone; v2 is reconstructible from
    // its own new checkpoint; v3 replays one delta on top
    intercept[RuntimeException] { VersionedLake.snapshot(spark, d, Some(1L)) }
    assert(new java.io.File(d, "_commits/v00000002.ckpt.json").exists(),
      "oldest retained version was not checkpoint-self-contained")
    assert(VersionedLake.read(spark, d, Some(2L)).count() ===
      slice(0).count() + slice(1).count())
    assert(VersionedLake.read(spark, d).count() === ev.count())
  }

  test("additive schema evolution: one manifest commit adds nullable " +
      "columns; old files read NULL; silent drift stays refused") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, StructField}
    val d = freshRoot()
    val old = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 10.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 20.0)
    ).toDF("event_id", "ts", "value")
    VersionedLake.append(old, d)
    // un-evolved drift is still refused loudly
    intercept[IllegalArgumentException] {
      VersionedLake.append(old.withColumn("score", col("value") * 2), d)
    }
    val vEvolve = VersionedLake.evolveSchema(spark, d,
      Seq(StructField("score", DoubleType)))
    // appends AFTER the evolution must carry the full evolved schema...
    intercept[IllegalArgumentException] { VersionedLake.append(old, d) }
    val fresh = Seq(
      (3L, java.sql.Timestamp.valueOf("2024-01-03 00:00:00"), 30.0, 60.0)
    ).toDF("event_id", "ts", "value", "score")
    VersionedLake.append(fresh, d)
    // ...and a read spans old+new files: old rows yield NULL score with
    // not a byte of the old files rewritten
    val got = VersionedLake.read(spark, d)
      .select("event_id", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got === Map(1L -> None, 2L -> None, 3L -> Some(60.0)))
    // time travel BEFORE the evolution serves the old schema
    assert(!VersionedLake.read(spark, d, Some(vEvolve - 1))
      .columns.contains("score"))
    // a second evolve refuses duplicate names
    intercept[IllegalArgumentException] {
      VersionedLake.evolveSchema(spark, d,
        Seq(StructField("score", DoubleType)))
    }
    // band reads and deletes keep working across the boundary
    VersionedLake.deleteWhere(spark, d, col("score") > 50.0)
    assert(VersionedLake.read(spark, d).count() === 2)
  }

  test("upsert's match scan is BOUNDED: key-clustered files provably " +
      "disjoint from the batch envelope are never scanned, and no join " +
      "is broadcast when stats forbid it") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    VersionedLake.append(ev, d, statsCols = Seq("event_id"))
    VersionedLake.compact(spark, d, "0000-01-01", "9999-12-31",
      minFilesPerDay = 4, clusterBy = Seq("event_id"))
    val snap = VersionedLake.snapshot(spark, d)
    // a narrow CDC batch: keys from the bottom of the event_id domain
    val ids = ev.select(min(col("event_id")), max(col("event_id"))).head()
    val (lo, hi) = (ids.getLong(0), ids.getLong(0) +
      (ids.getLong(1) - ids.getLong(0)) / 20)
    val batch = ev.filter(col("event_id").between(lo, hi))
      .withColumn("value", col("value") + 1000.0)
    // files whose recorded event_id range cannot intersect the batch
    // envelope — the set the match scan must never open
    val disjoint = snap.files.filter(_.stats.get("event_id")
      .exists { case (mn, mx) =>
        BigDecimal(mx) < BigDecimal(lo) || BigDecimal(mn) > BigDecimal(hi) })
      .map(_.path).toSet
    assert(disjoint.nonEmpty, "clustering produced no provably-safe files")
    // capture every executed plan during the upsert
    val plans = scala.collection.mutable.Buffer[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.synchronized { plans += qe; () }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    // forbid broadcasts outright: a forced broadcast(keys) hint would
    // override these and surface in the captured plans (the r10 OOM
    // hazard on fat update frames); unhinted joins degrade to shuffles
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = scala.util.Try(
      spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold"))
      .toOption.filter(_ != null)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.listenerManager.register(listener)
    try {
      VersionedLake.upsert(batch, d, key = "event_id",
        statsCols = Seq("event_id"))
      org.apache.spark.sql.GraftBridge.waitListenerBus(spark)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      prevAqe match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
    val captured = plans.synchronized { plans.toSeq }
    assert(captured.nonEmpty)
    // 1) scan bound: no plan opened a proven-disjoint lake file
    val scannedLake = captured.flatMap(_.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }).flatMap(_.relation.location.inputFiles)
      .filter(_.contains("dt="))
      .map(_.split('/').takeRight(2).mkString("/")).toSet
    val leaked = scannedLake.intersect(disjoint)
    assert(leaked.isEmpty,
      s"upsert scanned ${leaked.size} proven-disjoint files, e.g. " +
        leaked.headOption.getOrElse(""))
    // 2) no broadcast anywhere with the thresholds at -1: the joins are
    // unhinted, so stats own the strategy
    captured.foreach { qe =>
      val s = qe.executedPlan.toString
      assert(!s.contains("BroadcastHashJoin") &&
        !s.contains("BroadcastNestedLoopJoin"),
        "upsert planned a broadcast despite threshold -1 — a forced hint?")
    }
    // and the merge itself is still exact
    val head = VersionedLake.read(spark, d)
    assert(head.count() === ev.count())
    assert(head.filter(col("event_id").between(lo, hi) &&
      col("value") < 1000.0).count() === 0, "a stale pre-image survived")
  }

  test("z-order compaction makes BOTH cluster columns skippable, and the " +
      "pruned reads stay exact") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    VersionedLake.append(ev.filter(pmod(col("event_id"), lit(2)) === 0), d)
    VersionedLake.append(ev.filter(pmod(col("event_id"), lit(2)) === 1), d)
    VersionedLake.compact(spark, d, "0000-01-01", "9999-12-31",
      minFilesPerDay = 8, clusterBy = Seq("value", "user_id"),
      zorder = true)
    val snap = VersionedLake.snapshot(spark, d)
    // every rewritten entry carries ranges for BOTH cluster columns
    assert(snap.files.forall(f =>
      f.stats.contains("value") && f.stats.contains("user_id")))
    // narrow bands on EACH column must prove files disjoint — the
    // lexical tuple layout gives the trailing column near-useless
    // ranges; the Morton interleave is what makes user_id skippable
    val rv = VersionedLake.bandReport(spark, d, "value", "0.0", "40.0")
    assert(rv.skipped > 0, s"z-order pruned nothing on value (${rv.total})")
    val ru = VersionedLake.bandReport(spark, d, "user_id", "0", "3")
    assert(ru.skipped > 0, s"z-order pruned nothing on user_id (${ru.total})")
    // and both pruned reads equal the unpruned filter (soundness)
    def expect(c: String, lo: Double, hi: Double) = VersionedLake
      .read(spark, d).filter(col(c) >= lo && col(c) <= hi)
      .collect().map(_.toSeq).toSet
    assert(VersionedLake.readBand(spark, d, "value", 0.0, 40.0)
      .collect().map(_.toSeq).toSet === expect("value", 0.0, 40.0))
    assert(VersionedLake.readBand(spark, d, "user_id", 0.0, 3.0)
      .collect().map(_.toSeq).toSet === expect("user_id", 0.0, 3.0))
    // a non-numeric z-order column is refused loudly
    intercept[IllegalArgumentException] {
      VersionedLake.compact(spark, d, "0000-01-01", "9999-12-31",
        clusterBy = Seq("event_type", "value"), zorder = true)
    }
    // CONJUNCTIVE pruning (readBands): the two-sided band — the query
    // pattern Z-order exists for — skips STRICTLY more files than
    // either single band, because each file is a hyper-rectangle in
    // both dimensions and must overlap both bounds to survive
    val rBoth = VersionedLake.bandsReport(spark, d,
      Seq(("value", 0.0, 40.0), ("user_id", 0.0, 3.0)))
    assert(rBoth.skipped > rv.skipped && rBoth.skipped > ru.skipped,
      s"conjunction skipped ${rBoth.skipped}, singles ${rv.skipped}/${ru.skipped}")
    // pruned == unpruned on the conjunction
    assert(VersionedLake.readBands(spark, d,
        Seq(("value", 0.0, 40.0), ("user_id", 0.0, 3.0)))
      .collect().map(_.toSeq).toSet ===
      VersionedLake.read(spark, d)
        .filter(col("value") >= 0.0 && col("value") <= 40.0 &&
          col("user_id") >= 0.0 && col("user_id") <= 3.0)
        .collect().map(_.toSeq).toSet)
  }

  test("a band read pushes its predicate into the surviving scans (file " +
      "skip AND row-group skip ride the same clustered layout)") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    VersionedLake.append(ev, d, statsCols = Seq("value"))
    VersionedLake.compact(spark, d, "0000-01-01", "9999-12-31",
      minFilesPerDay = 4, clusterBy = Seq("value"))
    val df = VersionedLake.readBand(spark, d, "value", 100.0, 150.0)
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "band read planned no file scan")
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", ""))
    assert(pushed.exists(p => p.contains("GreaterThanOrEqual(value,100.0)")
        && p.contains("LessThanOrEqual(value,150.0)")),
      s"band predicate not pushed to parquet: $pushed")
  }

  test("change feed: a pure compaction feeds NOTHING; deletes, appends " +
      "and upserts surface exactly their rows, reading only changed files") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    VersionedLake.append(ev.filter(pmod(col("event_id"), lit(2)) === 0), d,
      statsCols = Seq("value"))
    val v2 = VersionedLake.append(
      ev.filter(pmod(col("event_id"), lit(2)) === 1), d,
      statsCols = Seq("value"))
    val v3 = VersionedLake.compact(spark, d, "0000-01-01", "9999-12-31",
      minFilesPerDay = 2, clusterBy = Seq("value"))
    // compaction rewrites files but not rows: the multiset diff cancels
    assert(VersionedLake.changes(spark, d, v2, Some(v3)).count() === 0,
      "a pure compaction leaked rows into the change feed")
    val v4 = VersionedLake.deleteBand(spark, d, "value", 300.0, 1.0e12)
    val fed = VersionedLake.changes(spark, d, v3, Some(v4))
    assert(fed.filter(col("_change_type") =!= "delete").count() === 0)
    assert(fed.count() ===
      ev.filter(col("value") >= 300.0 && col("value") <= 1.0e12).count())
    // spanning compact + delete: the compact legs still cancel
    assert(VersionedLake.changes(spark, d, v2, Some(v4)).count()
      === fed.count())
    // appends feed pure inserts
    val extra = ev.limit(50).withColumn("event_id", col("event_id") + 5000000L)
    val v5 = VersionedLake.append(extra, d)
    val ins = VersionedLake.changes(spark, d, v4, Some(v5))
    assert(ins.filter(col("_change_type") =!= "insert").count() === 0)
    assert(ins.count() === 50)
    // an upsert feeds the pre-image as delete and the new image as insert
    val touched = ev.filter(col("value") < 300.0)
      .limit(20).withColumn("value", col("value") + 10000.0)
    val v6 = VersionedLake.upsert(touched, d, key = "event_id")
    val up = VersionedLake.changes(spark, d, v5, Some(v6))
    assert(up.filter(col("_change_type") === "insert").count() === 20)
    val preImages = up.filter(col("_change_type") === "delete")
    assert(preImages.count() === 20)
    assert(preImages.filter(col("value") >= 10000.0).count() === 0,
      "the delete side must carry PRE-images")
  }

  private def dataFilesOn(d: String): Set[(String, Long, Long)] =
    new java.io.File(d).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("dt="))
      .flatMap(day => day.listFiles().filter(_.getName.startsWith("part-"))
        .map(p => (s"${day.getName}/${p.getName}", p.length(), p.lastModified())))
      .toSet

  test("deletion vectors: a dv delete rewrites ZERO data files, commits " +
      "O(matches) sidecar bytes, reads stay exact, time travel keeps the " +
      "pre-image") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    VersionedLake.append(ev.filter(pmod(col("event_id"), lit(2)) === 0), d,
      statsCols = Seq("value"))
    val vPre = VersionedLake.append(
      ev.filter(pmod(col("event_id"), lit(2)) === 1), d,
      statsCols = Seq("value"))
    val before = VersionedLake.snapshot(spark, d)
    val disk0 = dataFilesOn(d)
    val vDel = VersionedLake.deleteBand(spark, d, "value", 300.0, 1.0e12,
      mode = "dv")
    assert(vDel === vPre + 1)
    // the dt= tree is BYTE-IDENTICAL: merge-on-read never rewrites data
    assert(dataFilesOn(d) === disk0,
      "dv delete must not rewrite, add, or drop data files")
    val after = VersionedLake.snapshot(spark, d)
    assert(after.files.map(_.path).toSet
      .subsetOf(before.files.map(_.path).toSet))
    val dvd = after.files.filter(_.dv.isDefined)
    assert(dvd.nonEmpty, "the band should tombstone something")
    assert(dvd.forall(_.src == "delete-dv"))
    // reads anti-apply the tombstones exactly (NULLs kept — not a match)
    val expect = ev.filter(col("value") < 300.0 || col("value").isNull)
    assert(VersionedLake.read(spark, d).count() === expect.count())
    // the manifest's live-row accounting matches what reads serve
    assert(after.files.map(_.rows).sum === expect.count())
    // band reads still prune AND stay exact over tombstoned files
    val band = VersionedLake.readBand(spark, d, "value", 100.0, 150.0)
    assert(band.count() ===
      ev.filter(col("value") >= 100.0 && col("value") <= 150.0).count())
    // time travel: the pre-delete snapshot still serves every row
    assert(VersionedLake.read(spark, d, Some(vPre)).count() === ev.count())
    // and the two delete modes serve the SAME table: a cow twin agrees
    val d2 = freshRoot()
    VersionedLake.append(ev, d2)
    VersionedLake.deleteBand(spark, d2, "value", 300.0, 1.0e12)
    val cols = ev.columns.map(col).toSeq
    assert(VersionedLake.read(spark, d).select(cols: _*).exceptAll(
      VersionedLake.read(spark, d2).select(cols: _*)).count() === 0)
  }

  test("deletion vectors MATERIALIZE on compaction (a tombstoned day is " +
      "never 'already done'); vacuum sweeps the orphaned sidecar") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    VersionedLake.append(ev, d, statsCols = Seq("value"))
    VersionedLake.deleteBand(spark, d, "value", 300.0, 1.0e12, mode = "dv")
    val live = VersionedLake.read(spark, d).count()
    assert(VersionedLake.snapshot(spark, d).files.exists(_.dv.isDefined))
    VersionedLake.compact(spark, d, "0000-01-01", "9999-12-31",
      clusterBy = Seq("value"))
    val after = VersionedLake.snapshot(spark, d)
    assert(after.files.forall(_.dv.isEmpty),
      "compaction must absorb deletion vectors")
    assert(after.files.map(_.rows).sum === live)
    assert(VersionedLake.read(spark, d).count() === live)
    // the sidecar is unreferenced now; a DRY RUN names it (and the
    // pre-compaction data files) without touching anything
    val audit = VersionedLake.vacuum(spark, d, retainVersions = 1,
      olderThanHours = 0.0, dryRun = true)
    assert(audit.dvFiles.nonEmpty, "dry run must report the orphaned dv")
    assert(audit.dataFiles.nonEmpty && audit.bytes > 0)
    assert(new java.io.File(s"$d/_dv").listFiles().nonEmpty,
      "dry run must not delete")
    // the real sweep reclaims exactly what the audit named
    val swept = VersionedLake.vacuum(spark, d, retainVersions = 1,
      olderThanHours = 0.0)
    assert(swept.dvFiles.toSet === audit.dvFiles.toSet &&
      swept.dataFiles.toSet === audit.dataFiles.toSet)
    val dvDir = new java.io.File(s"$d/_dv")
    assert(!dvDir.exists() || dvDir.listFiles().isEmpty,
      "vacuum left an orphaned dv sidecar")
    assert(VersionedLake.read(spark, d).count() === live)
  }

  test("the tombstone-free read path plans ZERO joins — the dv anti-join " +
      "enters only while tombstones exist and a compaction removes it " +
      "again") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    VersionedLake.append(ev, d, statsCols = Seq("value"))
    def readPlan(): String = {
      val df = VersionedLake.read(spark, d)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    assert(!readPlan().contains("Join"),
      "a lake without tombstones must plan a bare scan")
    VersionedLake.deleteBand(spark, d, "value", 300.0, 1.0e12, mode = "dv")
    assert(readPlan().contains("Join"),
      "tombstoned files must anti-join their positions")
    VersionedLake.compact(spark, d, "0000-01-01", "9999-12-31")
    assert(!readPlan().contains("Join"),
      "compaction must pay down the read-side join debt")
  }

  test("stacked dv deletes fold prior tombstones into ONE sidecar per " +
      "entry; changes() surfaces a dv delete as deletes; restore rolls " +
      "the tombstones back") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    val vPre = VersionedLake.append(ev, d, statsCols = Seq("value"))
    val v2 = VersionedLake.deleteBand(spark, d, "value", 400.0, 1.0e12,
      mode = "dv")
    val v3 = VersionedLake.deleteBand(spark, d, "value", 300.0, 400.0,
      mode = "dv")
    assert(v3 === v2 + 1)
    // every entry references at most one sidecar, and both bands applied
    val snap = VersionedLake.snapshot(spark, d)
    val expect = ev.filter(col("value") < 300.0 || col("value").isNull)
    assert(VersionedLake.read(spark, d).count() === expect.count())
    assert(snap.files.map(_.rows).sum === expect.count())
    // the feed across BOTH dv commits is exactly the deleted rows
    val fed = VersionedLake.changes(spark, d, vPre, Some(v3))
    assert(fed.filter(col("_change_type") =!= "delete").count() === 0)
    assert(fed.count() ===
      ev.filter(col("value") >= 300.0 && col("value") <= 1.0e12).count())
    // restore to the pre-delete version: tombstones roll back
    VersionedLake.restore(spark, d, vPre)
    assert(VersionedLake.read(spark, d).count() === ev.count())
    assert(VersionedLake.snapshot(spark, d).files.forall(_.dv.isEmpty))
  }

  private def raceOps(ops: Seq[() => Any]): Seq[Either[Throwable, Any]] = {
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ops.size)
    try {
      val futs = ops.map { op =>
        pool.submit(new java.util.concurrent.Callable[Either[Throwable, Any]] {
          def call(): Either[Throwable, Any] = {
            start.await()
            try Right(op()) catch { case t: Throwable => Left(t) }
          }
        })
      }
      start.countDown()
      futs.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  private def snapshotFilesExist(d: String): Unit = {
    val snap = VersionedLake.snapshot(spark, d)
    snap.files.foreach { f =>
      assert(new java.io.File(s"$d/${f.path}").isFile,
        s"snapshot references a missing file: ${f.path}")
    }
  }

  test("TRUE concurrent-writer races (latch-synchronized threads on one " +
      "lake): racing appends both land, append commutes with compact, " +
      "racing maintenance loses loudly — and the head always equals the " +
      "serial union of the winners") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    def shifted(i: Int) = ev.filter(pmod(col("event_id"), lit(3)) === 0)
      .withColumn("event_id", col("event_id") + i * 10000000L)
    VersionedLake.append(ev.filter(pmod(col("event_id"), lit(3)) === 0), d)
    val base = VersionedLake.read(spark, d).count()
    val sliceN = shifted(0).count()

    // RACE 1: two concurrent appends — pure appends commute, so BOTH
    // must retry-merge through the version race and land
    val r1 = raceOps(Seq(
      () => VersionedLake.append(shifted(1), d),
      () => VersionedLake.append(shifted(2), d)))
    assert(r1.forall(_.isRight),
      s"an append lost a commute-able race: ${r1.collect { case Left(t) => t.getMessage }}")
    assert(VersionedLake.read(spark, d).count() === base + 2 * sliceN)
    snapshotFilesExist(d)

    // RACE 2: compact vs append — maintenance commutes with appends
    // too (the append removes nothing; compact substitutes only what it
    // read). Both succeed, no row lost or doubled.
    val r2 = raceOps(Seq(
      () => VersionedLake.compact(spark, d, "0000-01-01", "9999-12-31"),
      () => VersionedLake.append(shifted(3), d)))
    assert(r2.forall(_.isRight),
      s"compact/append race failed: ${r2.collect { case Left(t) => t.getMessage }}")
    assert(VersionedLake.read(spark, d).count() === base + 3 * sliceN)
    snapshotFilesExist(d)

    // RACE 3: two compacts over the same days — they substitute the
    // same entries, so EXACTLY one wins and the loser aborts loudly on
    // conflict detection instead of resurrecting replaced files.
    // (Re-append first so there is something to compact.)
    VersionedLake.append(shifted(4), d)
    val r3 = raceOps(Seq(
      () => VersionedLake.compact(spark, d, "0000-01-01", "9999-12-31",
        clusterBy = Seq("value")),
      () => VersionedLake.compact(spark, d, "0000-01-01", "9999-12-31",
        clusterBy = Seq("value"))))
    assert(r3.count(_.isRight) === 1,
      s"same-day compact race: expected exactly one winner, got $r3")
    r3.collect { case Left(t) =>
      assert(t.getMessage.contains("conflict"),
        s"loser must abort on CONFLICT, not: ${t.getMessage}")
    }
    assert(VersionedLake.read(spark, d).count() === base + 4 * sliceN)
    snapshotFilesExist(d)

    // RACE 4: two deletes of DISJOINT bands — each rewrites only files
    // holding its matches; whether they collide on shared files (one
    // aborts) or not (both land) the head must equal the serial union
    // of the winners' predicates
    val m1 = VersionedLake.read(spark, d)
      .filter(col("value") >= 900.0 && col("value") <= 1.0e12).count()
    val m2 = VersionedLake.read(spark, d)
      .filter(col("value") >= 800.0 && col("value") < 900.0).count()
    val r4 = raceOps(Seq(
      () => VersionedLake.deleteBand(spark, d, "value", 900.0, 1.0e12),
      () => VersionedLake.deleteWhere(spark, d,
        col("value") >= 800.0 && col("value") < 900.0)))
    assert(r4.exists(_.isRight), s"both deletes aborted: $r4")
    r4.collect { case Left(t) =>
      assert(t.getMessage.contains("conflict"),
        s"loser must abort on CONFLICT, not: ${t.getMessage}")
    }
    val removed = (if (r4.head.isRight) m1 else 0L) +
      (if (r4(1).isRight) m2 else 0L)
    assert(VersionedLake.read(spark, d).count() ===
      base + 4 * sliceN - removed,
      "the head must be exactly the winners' serial union")
    snapshotFilesExist(d)
  }

  test("timestamp time travel: versionAt maps publish times to versions, " +
      "readAt serves the snapshot visible then, pre-history timestamps " +
      "fail loudly") {
    val d = freshRoot()
    val ev = table(spark, sfDir, "events")
    val even = ev.filter(pmod(col("event_id"), lit(2)) === 0)
    VersionedLake.append(even, d)
    val t1 = System.currentTimeMillis()
    Thread.sleep(60) // publish mtimes must straddle t1
    VersionedLake.append(ev.filter(pmod(col("event_id"), lit(2)) === 1), d)
    assert(VersionedLake.versionAt(spark, d, t1) === 1L)
    assert(VersionedLake.readAt(spark, d, t1).count() === even.count())
    // a timestamp after the last commit reads the head (the Delta rule)
    assert(VersionedLake.versionAt(spark, d,
      System.currentTimeMillis() + 60000) === 2L)
    // a timestamp before the first retained commit is an error, not v1
    val err = intercept[RuntimeException] {
      VersionedLake.versionAt(spark, d, t1 - 3600 * 1000)
    }
    assert(err.getMessage.contains("no version"))
  }

  test("streaming SOURCE tails the commit log: initial snapshot, then one " +
      "batch per appended version; a compaction feeds NOTHING; a restart " +
      "on the same checkpoint never double-reads a version") {
    val a = freshRoot()
    val b = freshRoot()
    val ckpt = Files.createTempDirectory("graft_lakesrc_ckpt").toString
    val ev = table(spark, sfDir, "events")
    def sl(i: Int) = ev.filter(pmod(col("event_id"), lit(3)) === i)
    VersionedLake.appendBatch(sl(0), a, batchId = 0)
    VersionedLake.appendBatch(sl(1), a, batchId = 1)
    // the lake→lake relay: source(A) → stateless projection → sink(B)
    val q = VersionedLake.sink(VersionedLake.source(spark, a).drop("dt"),
      b, ckpt)
    try {
      q.processAllAvailable()
      assert(VersionedLake.read(spark, b).count() ===
        sl(0).count() + sl(1).count())
      // a version landing mid-stream relays exactly its rows
      VersionedLake.appendBatch(sl(2), a, batchId = 2)
      q.processAllAvailable()
      assert(VersionedLake.read(spark, b).count() === ev.count())
      // compaction publishes a version but feeds nothing (pure rewrite)
      val days = VersionedLake.snapshot(spark, a).files.map(_.dt).distinct.sorted
      VersionedLake.compact(spark, a, days.head, days.last)
      q.processAllAvailable()
      assert(VersionedLake.read(spark, b).count() === ev.count())
    } finally q.stop()
    // RESTART on the same checkpoint: the version high-water mark rides
    // the stream checkpoint — nothing re-delivers, and the next append
    // streams exactly once
    val extra = ev.limit(37).withColumn("event_id", col("event_id") + 7000000L)
    VersionedLake.append(extra, a)
    val q2 = VersionedLake.sink(VersionedLake.source(spark, a).drop("dt"),
      b, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(VersionedLake.read(spark, b).count() === ev.count() + 37)
    // row-level equality with the upstream lake, not just counts
    val cols = ev.columns.map(col).toSeq
    assert(VersionedLake.read(spark, b).select(cols: _*)
      .exceptAll(VersionedLake.read(spark, a).select(cols: _*)).count() === 0)
  }

  test("streaming source CDC mode: the stream IS the change feed " +
      "(rewrites are data, not failures); maxVersionsPerBatch drains a " +
      "version backlog in bounded batches") {
    val a = freshRoot()
    val ev = table(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    VersionedLake.append(ev, a, statsCols = Seq("value"))
    val ck = Files.createTempDirectory("graft_lakecdc_ck").toString
    val q = VersionedLake.source(spark, a, cdc = true).writeStream
      .format("memory").queryName("lakesrc_cdc")
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      def fed = spark.sql("select * from lakesrc_cdc")
      // initial batch: the snapshot tagged insert
      assert(fed.filter(col("_change_type") === "insert").count() === ev.count())
      // a cow delete is DATA in cdc mode: its rows arrive tagged delete
      VersionedLake.deleteBand(spark, a, "value", 300.0, 1.0e12)
      q.processAllAvailable()
      val banded = ev.filter(col("value") >= 300.0 && col("value") <= 1.0e12)
      assert(fed.filter(col("_change_type") === "delete").count() ===
        banded.count())
      // an upsert arrives as pre-image delete + new-image insert
      val touched = VersionedLake.read(spark, a).drop("dt")
        .filter(col("value") < 200.0).limit(15)
        .withColumn("value", col("value") + 20000.0).localCheckpoint()
      VersionedLake.upsert(touched, a, key = "event_id")
      q.processAllAvailable()
      assert(fed.filter(col("_change_type") === "insert" &&
        col("value") >= 20000.0).count() === 15)
      assert(fed.filter(col("_change_type") === "delete").count() ===
        banded.count() + 15)
    } finally q.stop()
    // rate limit: after the initial snapshot, a 3-version backlog with
    // maxVersionsPerBatch=1 must drain across ≥3 bounded micro-batches,
    // delivering every row exactly once
    val b = freshRoot()
    val slim = ev.limit(200).localCheckpoint()
    VersionedLake.append(slim, b)
    val ck2 = Files.createTempDirectory("graft_lakerate_ck").toString
    val q2 = VersionedLake.source(spark, b, maxVersionsPerBatch = 1L)
      .writeStream.format("memory").queryName("lakesrc_rate")
      .option("checkpointLocation", ck2).start()
    try {
      q2.processAllAvailable() // initial snapshot (batch 0)
      (1 to 3).foreach { i =>
        VersionedLake.append(
          slim.withColumn("event_id", col("event_id") + i * 1000000L), b)
      }
      q2.processAllAvailable() // drains the backlog, capped per batch
      assert(spark.sql("select * from lakesrc_rate").count() === 200L * 4)
      assert(spark.sql("select distinct event_id from lakesrc_rate").count()
        === 200L * 4, "rate-limited drain must not double-deliver")
      // the 3-version backlog took ≥3 bounded batches, not one giant one
      assert(q2.recentProgress.map(_.batchId).max >= 3,
        s"backlog drained in too few batches: ${q2.recentProgress.map(_.batchId).toSeq}")
    } finally q2.stop()
    // startingVersion: the first batch tails FROM that version — no
    // initial snapshot replay (the resume-a-pipeline knob)
    val ck3 = Files.createTempDirectory("graft_lakestart_ck").toString
    val q3 = VersionedLake.source(spark, b, startingVersion = 4L)
      .writeStream.format("memory").queryName("lakesrc_startv")
      .option("checkpointLocation", ck3).start()
    try {
      q3.processAllAvailable()
      // lake b holds 4 appends of 200; starting at v4 serves only v4's
      assert(spark.sql("select * from lakesrc_startv").count() === 200L)
      assert(spark.sql("select min(event_id) from lakesrc_startv").head()
        .getLong(0) >= 3000000L, "startingVersion must skip v1-v3 rows")
    } finally q3.stop()
  }

  test("streaming source REFUSES history rewrites by default; " +
      "ignoreChanges streams an upsert's new images and skips rewrites") {
    val a = freshRoot()
    val ev = table(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    VersionedLake.append(ev, a, statsCols = Seq("value"))
    val ck1 = Files.createTempDirectory("graft_lakesrc_ck1").toString
    val q = VersionedLake.source(spark, a).writeStream
      .format("memory").queryName("lakesrc_strict")
      .option("checkpointLocation", ck1).start()
    try {
      q.processAllAvailable()
      assert(spark.sql("select * from lakesrc_strict").count() === ev.count())
      // a cow delete rewrites history → the stream must fail loudly
      VersionedLake.deleteBand(spark, a, "value", 300.0, 1.0e12)
      val err = intercept[Exception] { q.processAllAvailable() }
      assert(err.getMessage.contains("only tails appends"),
        s"unexpected failure: ${err.getMessage}")
    } finally q.stop()
    // fresh checkpoint with ignoreChanges: an upsert's NEW images stream,
    // its rewrites do not
    val postDelete = VersionedLake.read(spark, a).count()
    val ck2 = Files.createTempDirectory("graft_lakesrc_ck2").toString
    val q2 = VersionedLake.source(spark, a, ignoreChanges = true)
      .writeStream.format("memory").queryName("lakesrc_loose")
      .option("checkpointLocation", ck2).start()
    try {
      q2.processAllAvailable()
      assert(spark.sql("select * from lakesrc_loose").count() === postDelete)
      val touched = VersionedLake.read(spark, a).drop("dt")
        .filter(col("value") < 200.0).limit(20)
        .withColumn("value", col("value") + 10000.0)
        .localCheckpoint()
      VersionedLake.upsert(touched, a, key = "event_id")
      q2.processAllAvailable()
      assert(spark.sql("select * from lakesrc_loose").count() ===
        postDelete + 20)
      assert(spark.sql("select * from lakesrc_loose")
        .filter(col("value") >= 10000.0).count() === 20,
        "the streamed rows must be the upsert's NEW images")
    } finally q2.stop()
  }
}
