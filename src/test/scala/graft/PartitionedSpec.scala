package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.Engine.table
import graft.sources.{Partitioned, VersionedLake}

class PartitionedSpec extends SparkSessionSpec {

  private lazy val root = {
    val d = Files.createTempDirectory("graft_partitioned").toString
    Partitioned.writeByDay(table(spark, sfDir, "events"), s"$d/events")
    s"$d/events"
  }

  test("day-partitioned round trip: same rows, ts precision intact") {
    val ev = table(spark, sfDir, "events")
    val back = spark.read.option("basePath", root).parquet(root).drop("dt")
    assert(back.count() === ev.count())
    val cols = ev.columns.map(col).toSeq
    assert(back.select(cols: _*).collect().map(_.toSeq).toSet ===
      ev.select(cols: _*).collect().map(_.toSeq).toSet)
  }

  test("a day-range read prunes at the DIRECTORY level (PartitionFilters)") {
    val days = spark.read.option("basePath", root).parquet(root)
      .select(date_format(col("dt"), "yyyy-MM-dd").as("dt"))
      .distinct().orderBy("dt").collect().map(_.getString(0))
    assert(days.length >= 3, s"need >=3 days to prove pruning, got ${days.length}")
    val day = days(1)
    val pruned = Partitioned.readDays(spark, root, day, day)
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get
    // the dt predicate must be a PARTITION filter (directory pruning),
    // never a data filter that opens every footer
    assert(scan.partitionFilters.nonEmpty,
      "dt predicate did not land in PartitionFilters")
    pruned.collect()
    val partsRead = scan.metrics("numPartitions").value
    assert(partsRead === 1,
      s"one-day read touched $partsRead partition dirs (of ${days.length})")
    // and the rows equal the flat-table filter for the same day
    val expected = table(spark, sfDir, "events")
      .filter(date_format(col("ts"), "yyyy-MM-dd") === day).count()
    assert(pruned.count() === expected)
  }

  test("compaction runs against an explicit file:-scheme root (Hadoop FS)") {
    // import, compaction and the commit all go through the Hadoop FS
    // API: a java.io.File control plane silently finds NO day dirs
    // under a scheme'd root and compacts nothing — worse than an error
    val d = Files.createTempDirectory("graft_part_uri").toString + "/events"
    val uri = s"file:$d"
    val ev = table(spark, sfDir, "events")
    Partitioned.writeByDay(ev, uri)
    Partitioned.appendByDay(ev, uri) // double the rows → >1 file per day
    VersionedLake.importTree(spark, uri)
    def perDay(): Map[String, Int] = VersionedLake.snapshot(spark, uri).files
      .groupBy(_.dt).map { case (day, fs) => day -> fs.size }
    val before = perDay()
    assert(before.nonEmpty && before.values.exists(_ > 1),
      "append through the scheme'd root did not accumulate files")
    val days = before.keys.toSeq.sorted
    assert(days.length >= 3, "need >=3 days")
    // the last day stays out of range: its entries must not change
    val (from, to) = (days.head, days(days.length - 2))
    def lastDay() = VersionedLake.snapshot(spark, uri).files
      .filter(_.dt == days.last).map(_.path).toSet
    val lastBefore = lastDay()
    val v = VersionedLake.compact(spark, uri, from, to)
    val after = perDay()
    assert(after.keySet === before.keySet, "compaction dropped a day")
    assert(days.init.forall(after(_) === 1),
      s"scheme'd-root compaction left multi-file days: $after")
    assert(lastDay() === lastBefore, "an out-of-range day was rewritten")
    assert(Partitioned.readDays(spark, uri, days.head, days.last).count()
      === 2 * ev.count())
    // idempotent: every in-range day is at its bound, so a re-run
    // rewrites nothing and commits no version
    assert(VersionedLake.compact(spark, uri, from, to) === v)
  }

  test("readDays over a compacted commit-log tree counts every row once " +
      "(superseded files stay in the day dirs until vacuum)") {
    val d = Files.createTempDirectory("graft_part_log").toString + "/events"
    val ev = table(spark, sfDir, "events")
    Partitioned.writeByDay(ev.filter(pmod(col("event_id"), lit(2)) === 0), d)
    Partitioned.appendByDay(ev.filter(pmod(col("event_id"), lit(2)) === 1), d)
    VersionedLake.importTree(spark, d)
    val days = VersionedLake.snapshot(spark, d).files.map(_.dt).distinct.sorted
    val (from, to) = (days.head, days.last)
    VersionedLake.compact(spark, d, from, to)
    val n = Partitioned.readDays(spark, d, from, to).count()
    assert(n === VersionedLake.read(spark, d, None, from, to).count())
    assert(n === ev.count())
  }

  test("readDays over a commit-log tree does not return a staged but " +
      "uncommitted append's orphan files") {
    val d = Files.createTempDirectory("graft_part_orphan").toString + "/events"
    val ev = table(spark, sfDir, "events")
    Partitioned.writeByDay(ev, d)
    VersionedLake.importTree(spark, d)
    // the on-disk state of an append whose files moved into the day dirs
    // but whose commit never published: data files no manifest names
    Partitioned.appendByDay(ev, d)
    val days = VersionedLake.snapshot(spark, d).files.map(_.dt).distinct.sorted
    val n = Partitioned.readDays(spark, d, days.head, days.last).count()
    assert(n === VersionedLake.read(spark, d, None, days.head, days.last).count())
    assert(n === ev.count())
  }

  test("writer caps small files: one exchange keyed on dt, files per day bounded") {
    // the no-repartition form writes (tasks x days) files; the keyed
    // exchange caps it at shuffle-partition granularity per day
    val days = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("dt="))
    assert(days.nonEmpty)
    days.foreach { d =>
      val parts = d.listFiles().count(_.getName.startsWith("part-"))
      assert(parts <= 2,
        s"${d.getName} holds $parts part files — small-files explosion")
    }
  }

  test("NaN stats never break band reads: an unparseable min/max bound " +
      "degrades to never-prune instead of throwing") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_nan").toString + "/events"
    // one NaN row per day: max(value) stringifies to "NaN", which
    // BigDecimal cannot parse — pre-fix every later band read threw
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 10.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 06:00:00"), Double.NaN),
      (3L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 500.0),
      (4L, java.sql.Timestamp.valueOf("2024-01-02 06:00:00"), Double.NaN)
    ).toDF("event_id", "ts", "value")
    Partitioned.writeByDay(df, d)
    VersionedLake.importTree(spark, d)
    VersionedLake.compact(spark, d, "2024-01-01", "2024-01-02",
      clusterBy = Seq("value"))
    assert(VersionedLake.snapshot(spark, d).files
      .forall(_.stats.get("value").exists(_._2 == "NaN")),
      "gate needs NaN-polluted commit-log stats")
    val report = VersionedLake.bandsReport(spark, d, Seq(("value", 5.0, 15.0)))
    assert(report.selected.length === report.total,
      "a NaN-polluted range must never prune (bounds are unprovable)")
    val got = VersionedLake.readBands(spark, d, Seq(("value", 5.0, 15.0)))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L))
  }

  test("a band proven empty by the manifest plans NO scan (empty relation, " +
      "not the unpruned full read)") {
    val d = Files.createTempDirectory("graft_emptyband").toString + "/events"
    val ev = table(spark, sfDir, "events")
    Partitioned.writeByDay(ev, d)
    VersionedLake.importTree(spark, d)
    def clustered() = VersionedLake.compact(spark, d, "0000-01-01",
      "9999-12-31", minFilesPerDay = 4, clusterBy = Seq("value"))
    val v = clustered()
    // idempotent: the layout witness marks every day clustered, so a
    // second clustered run rewrites nothing
    assert(clustered() === v)
    // a band beyond every recorded max: pruning proves zero overlap
    val report = VersionedLake.bandsReport(spark, d, Seq(("value", 1.0e15, 2.0e15)))
    assert(report.total > 0 && report.selected.isEmpty,
      "gate needs a provably-empty band")
    val df = VersionedLake.readBands(spark, d, Seq(("value", 1.0e15, 2.0e15)))
    assert(df.collect().isEmpty)
    // a fallback that re-read the FULL day range exactly when pruning
    // proved no file could match would plan a file scan here
    assert(!df.queryExecution.executedPlan.exists(
      _.isInstanceOf[FileSourceScanExec]),
      "provably-empty band still planned a file scan")
  }
}
