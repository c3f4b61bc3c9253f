package graft

import java.sql.Timestamp

import graft.sources.Partitioned
import graft.streaming.LakeSink

/** The stream → lake forwarder: a replayed batch id is a no-op, a
  * half-committed attempt is invisible and lands once on replay, and
  * `Partitioned.readDays` reads the sink tree through its commit log.
  */
class LakeSinkSpec extends SparkSessionSpec {
  import spark.implicits._

  private def t(day: Int, h: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-${day}%02d $h%02d:00:00")

  private def lakeRows(path: String): Seq[Seq[Any]] =
    Partitioned.readDays(spark, path, "2024-01-01", "2024-01-31")
      .select("event_id", "ts", "value")
      .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])

  test("replayed batch ids are idempotent, including a half-committed attempt") {
    val root = java.nio.file.Files.createTempDirectory("graft-lakesink-rp").toString
    val lake = s"$root/events"
    val df = Seq((1L, t(5), 1.0), (2L, t(6), 2.0)).toDF("event_id", "ts", "value")
    LakeSink.appendBatch(df, lake, batchId = 7)
    val once = lakeRows(lake)
    assert(once.size === 2)
    // full replay of a committed batch: the high-water mark skips it
    LakeSink.appendBatch(df, lake, batchId = 7)
    assert(lakeRows(lake) === once)
    // the next id lands; then un-publish its commit, leaving its data
    // files in the day dirs — the state of a crash between the file
    // move and the manifest publish
    val next = Seq((3L, t(6, 6), 3.0)).toDF("event_id", "ts", "value")
    LakeSink.appendBatch(next, lake, batchId = 8)
    val twice = lakeRows(lake)
    assert(twice.size === 3)
    val commit = new java.io.File(s"$lake/_commits/v00000002.json")
    assert(commit.delete(), "test setup: batch 8's commit must exist")
    assert(lakeRows(lake) === once, "an uncommitted batch's files were read")
    // the replay of the half-committed id lands its rows exactly once
    LakeSink.appendBatch(next, lake, batchId = 8)
    assert(lakeRows(lake) === twice)
    LakeSink.appendBatch(next, lake, batchId = 8)
    assert(lakeRows(lake) === twice)
  }
}
