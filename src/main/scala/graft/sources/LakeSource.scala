package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** STREAMING SOURCE over a [[VersionedLake]] commit log — the missing
  * half of lake→lake pipelines (the sink has existed since r10; until
  * now a downstream stage had to poll with manual version bookkeeping).
  * The pattern is Delta's streaming source: the OFFSET IS THE COMMIT
  * VERSION, checkpointed by Structured Streaming itself, so restarts
  * resume from the exact version high-water mark and no version is ever
  * double-read — exactly-once composes end-to-end when the downstream
  * sink is [[VersionedLake.sink]] (idempotent batch commits).
  *
  *  - first micro-batch = the full snapshot at the stream-start version
  *    (Delta's "initial snapshot"), dv tombstones anti-applied;
  *  - every later micro-batch = the ADD entries of the next committed
  *    version(s): one manifest read per version, one scan over just the
  *    new files — O(batch), never O(lake);
  *  - a pure compaction commits rewrites, not rows — its adds are
  *    SKIPPED (nothing is double-delivered); [[VersionedLake.evolveSchema]]
  *    adds no files and the source schema is pinned at start (by-name
  *    parquet resolution keeps newer wide files readable);
  *  - a delete/upsert/restore version CHANGES history instead of
  *    appending — the stream FAILS LOUDLY (the Delta contract);
  *  - a version vacuumed past retention fails the batch with a loud
  *    error naming the cure (fresh checkpoint) instead of silently
  *    serving a gap;
  *  - CDC MODE (`cdc = true`): the stream is the CHANGE FEED itself —
  *    the initial batch is the snapshot tagged `insert`, every later
  *    batch is [[VersionedLake.changes]] between the offsets, so deletes
  *    arrive as `delete` rows and upserts as pre-image + new-image
  *    pairs; history rewrites are DATA here, never failures (Delta's
  *    readChangeFeed).
  *
  * The V1 `Source` API is deliberate: `getBatch` composes the batch as a
  * driver-side plan over exactly the versions' files (the same
  * [[VersionedLake.scanEntries]] every batch read uses), which a DSv2
  * `MicroBatchStream` would force into hand-rolled per-partition parquet
  * readers. Spark's own FileStreamSource ships on the same API.
  */
class LakeSource(spark: SparkSession, path: String, cdc: Boolean)
    extends Source {

  private val root = new org.apache.hadoop.fs.Path(path)
  private val fs = VersionedLake.fsOf(spark, root)
  private val dataSchema: StructType =
    VersionedLake.snapshot(spark, path, None).schema

  override val schema: StructType = {
    val s = dataSchema.add("dt", "string")
    if (cdc) s.add("_change_type", "string") else s
  }

  override def getOffset: Option[Offset] =
    VersionedLake.latestVersion(spark, path).map(LongOffset(_))

  /** Adds a version contributes to the stream (empty for pure rewrites;
    * loud for history rewrites).
    */
  private def addsOf(v: Long): Seq[VersionedLake.FileEntry] = {
    val p = VersionedLake.commitPath(root, v)
    val m =
      try VersionedLake.readManifestFile(fs, p)
      catch {
        case e: java.io.FileNotFoundException =>
          sys.error(s"graft-lake source: version $v of $path was vacuumed " +
            "past retention before the stream read it — restart from a " +
            s"fresh checkpoint (underlying: ${e.getMessage})")
      }
    m.op match {
      case "append" | "append-batch" | "import" => m.adds
      case "compact" | "evolve-schema" => Nil // rewrite/metadata: no rows
      case op => sys.error(s"graft-lake source: version $v of $path is a " +
        s"'$op' commit — the stream only tails appends. Read the change " +
        "feed (cdc = true), or start a fresh checkpoint from the current " +
        "snapshot.")
    }
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    def ver(o: Offset): Long = o.json.trim.toLong
    val endV = ver(end)
    val batch =
      if (cdc) getCdcBatch(start.map(ver), endV)
      else VersionedLake.scanEntries(spark, path, dataSchema, start match {
        // initial batch: the whole snapshot at endV (tombstones
        // applied) — NOT the union of historical adds, which would
        // double-count every compaction rewrite
        case None => VersionedLake.snapshot(spark, path, Some(endV)).files
        case Some(s) => ((ver(s) + 1L) to endV).flatMap(addsOf)
      })
    org.apache.spark.sql.GraftBridge.asStreamingFrame(
      batch.select(schema.fieldNames.map(
        org.apache.spark.sql.functions.col).toSeq: _*))
  }

  /** CDC mode: the micro-batch IS the change feed. Initial batch = the
    * snapshot tagged `insert`; every later batch = [[VersionedLake.changes]]
    * between the offsets — deletes surface as `delete` rows, an upsert
    * as pre-image `delete` + new-image `insert`, compactions cancel.
    * History rewrites are DATA here, not a failure: CDC consumers exist
    * precisely to see them.
    */
  private def getCdcBatch(startV: Option[Long], endV: Long): DataFrame =
    startV match {
      case None =>
        VersionedLake.scanEntries(spark, path, dataSchema,
          VersionedLake.snapshot(spark, path, Some(endV)).files)
          .withColumn("_change_type", org.apache.spark.sql.functions.lit("insert"))
      case Some(s) =>
        try VersionedLake.changes(spark, path, s, Some(endV))
        catch {
          case e: RuntimeException
              if e.getMessage != null && e.getMessage.contains("vacuum") =>
            sys.error(s"graft-lake source (cdc): versions ($s, $endV] of " +
              s"$path were vacuumed past retention before the stream read " +
              s"them — restart from a fresh checkpoint (${e.getMessage})")
        }
    }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** `spark.readStream.format("graft.sources.LakeSourceProvider")` (or the
  * short name `graft-lake`) with `option("path", lakeRoot)`; see
  * [[VersionedLake.source]] for the ergonomic entry point.
  */
class LakeSourceProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-lake"

  private def pathOf(params: Map[String, String]): String =
    params.getOrElse("path",
      sys.error("graft-lake source: option 'path' is required"))

  private def flag(params: Map[String, String], k: String): Boolean =
    params.get(k).exists(_.trim.equalsIgnoreCase("true"))

  override def sourceSchema(ctx: SQLContext, userSchema: Option[StructType],
      providerName: String, params: Map[String, String])
      : (String, StructType) = {
    val snap = VersionedLake.snapshot(ctx.sparkSession, pathOf(params), None)
    // the lake IS the schema authority: a user override could only
    // diverge from what the manifests will serve
    val s = snap.schema.add("dt", "string")
    (shortName(), if (flag(params, "cdc")) s.add("_change_type", "string") else s)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      userSchema: Option[StructType], providerName: String,
      params: Map[String, String]): Source =
    new LakeSource(ctx.sparkSession, pathOf(params), cdc = flag(params, "cdc"))
}
