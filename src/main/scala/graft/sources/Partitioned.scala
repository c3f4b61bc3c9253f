package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned parquet layout — THE scan-pruning feature of a
  * 100 TB event lake: `dt=YYYY-MM-DD/` directories let a day-ranged
  * query read only its days' files (Catalyst partition pruning — the
  * predicate never even opens the other directories' footers), and
  * make retention/backfill per-day directory operations instead of
  * table rewrites.
  *
  * Scale discipline:
  *  - the partition column is a DERIVED day string; the original event
  *    timestamp rides unchanged inside the files, so layout is an
  *    ingest concern and queries keep full precision;
  *  - writers repartition by dt first: without it every input task
  *    holding k days writes k small files per task — the classic
  *    small-files explosion (days × tasks files). One exchange keyed
  *    on the partition column caps output at one file per day per
  *    shuffle partition;
  *  - readers pass `basePath` so the dt directory column stays
  *    available, and prune with a dt predicate (PartitionedSpec gates
  *    `PartitionFilters` in the scan — a filter that lands in
  *    `PushedFilters` instead is reading every directory).
  *
  * This object only writes raw trees. Compaction, file skipping and
  * exactly-once ingest are [[VersionedLake]] commits: adopt a raw tree
  * with [[VersionedLake.importTree]], and from then on the commit log —
  * not the directory listing — decides which files are live.
  */
object Partitioned {

  /** Write `df` under `path` partitioned by the day of `tsCol`. */
  def writeByDay(df: DataFrame, path: String, tsCol: String = "ts"): Unit =
    df.withColumn("dt", date_format(col(tsCol), "yyyy-MM-dd"))
      .repartition(col("dt"))
      .write.mode("overwrite")
      .partitionBy("dt")
      .parquet(path)

  /** Read a day-partitioned table; `days` (inclusive bounds, "YYYY-MM-DD")
    * prunes at the DIRECTORY level before any file is opened. Partition
    * type inference reads `dt=...` dirs as DATE; the bounds coerce and
    * prune on that native column, and `dt` is cast back to the string
    * the writer derived so the column round-trips type-stable.
    *
    * A tree with a `_commits/` log is read as its latest
    * [[VersionedLake]] snapshot instead: its day dirs also hold files
    * the log superseded (until vacuum) or never committed (a crashed
    * writer's orphans), so only the log knows the live set.
    */
  def readDays(
      spark: SparkSession, path: String,
      fromDay: String, toDay: String): DataFrame = {
    val log = new Path(path, VersionedLake.CommitDir)
    if (log.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(log))
      VersionedLake.read(spark, path, None, fromDay, toDay)
    else
      spark.read.option("basePath", path).parquet(path)
        .filter(col("dt") >= fromDay && col("dt") <= toDay)
        .withColumn("dt", date_format(col("dt"), "yyyy-MM-dd"))
  }

  /** Append a batch into an existing day tree (the incremental-ingest
    * path): same derived-dt + repartition discipline as [[writeByDay]],
    * appending files into the touched day directories. Each append adds
    * up to one file per day per shuffle partition; once the tree is
    * adopted ([[VersionedLake.importTree]]), [[VersionedLake.compact]]
    * bounds the count, and later appends go through
    * [[VersionedLake.append]] — files this method adds to an adopted
    * tree are uncommitted, and [[readDays]] does not return them.
    */
  def appendByDay(df: DataFrame, path: String, tsCol: String = "ts"): Unit =
    df.withColumn("dt", date_format(col(tsCol), "yyyy-MM-dd"))
      .repartition(col("dt"))
      .write.mode("append")
      .partitionBy("dt")
      .parquet(path)
}
