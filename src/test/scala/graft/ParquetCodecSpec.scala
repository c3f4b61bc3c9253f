package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kv.Store
import graft.sources.VersionedLake

/** The parquet codec of every engine write path (`Engine.session` sets
  * zstd once), and tables written under another codec staying readable
  * and writable across the switch. The codec is read from each file's
  * footer, column chunk by column chunk.
  */
class ParquetCodecSpec extends SparkSessionSpec {
  import spark.implicits._

  private val CodecConf = "spark.sql.parquet.compression.codec"

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft_codec_$tag").toString

  /** The codec names of every column chunk in `file`'s footer. */
  private def codecs(file: String): Set[String] = {
    val in = HadoopInputFile.fromPath(new Path(file),
      spark.sparkContext.hadoopConfiguration)
    val r = ParquetFileReader.open(in)
    try r.getFooter.getBlocks.asScala
      .flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
    finally r.close()
  }

  /** Absolute paths of the live data files and dv sidecars of `root`. */
  private def live(root: String): Set[String] =
    VersionedLake.snapshot(spark, root).files
      .flatMap(f => f.path +: f.dv.toSeq).map(p => s"$root/$p").toSet

  /** Every parquet file on disk under `dir`, live or not. */
  private def onDisk(dir: String): Seq[String] =
    Files.walk(java.nio.file.Paths.get(dir)).iterator.asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq

  private def assertCodec(files: Iterable[String], codec: String,
      what: String): Unit = {
    assert(files.nonEmpty, s"$what wrote no parquet file")
    files.foreach { f =>
      assert(codecs(f) === Set(codec), s"$what: $f")
    }
  }

  private def lakeRows(ids: Seq[Int], day: String, tag: String): DataFrame =
    ids.map(i => (i.toLong,
        java.sql.Timestamp.valueOf(s"$day ${"%02d".format(i % 24)}:00:00"),
        i * 0.5, s"$tag-$i"))
      .toDF("event_id", "ts", "value", "payload")

  test("every engine write path lands zstd column chunks: store put, del " +
      "and reconf; lake appendBatch, upsert, two deletes, compact; " +
      "a plain df.write.parquet") {
    // each step must add files of its own, and each added file is zstd
    var seen = Set.empty[String]
    def step(root: String, what: String)(write: => Any): Unit = {
      write
      val added = live(root) -- seen
      assertCodec(added, "ZSTD", what)
      seen ++= added
    }

    val store = new Store(spark, freshDir("store"), defaultBuckets = 4)
    val gid = s"${store.rootDir}/g"
    step(gid, "Store.put") {
      store.put((1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
        "g", Some("id"))
    }
    step(gid, "Store.del")(store.del("g", "7"))
    step(gid, "Store.reconf")(store.reconf("g", 2))

    val d = s"${freshDir("lake")}/events"
    step(d, "VersionedLake.appendBatch") {
      VersionedLake.appendBatch(lakeRows(1 to 30, "2024-01-01", "a")
        .union(lakeRows(31 to 60, "2024-01-02", "a")), d, batchId = 0)
      VersionedLake.appendBatch(lakeRows(61 to 80, "2024-01-01", "b"), d,
        batchId = 1)
    }
    step(d, "VersionedLake.upsert") {
      VersionedLake.upsert(lakeRows(Seq(3, 35, 90), "2024-01-02", "u"), d,
        key = "event_id")
    }
    step(d, "VersionedLake.deleteWhere") {
      VersionedLake.deleteWhere(spark, d, col("event_id") === 5L)
    }
    step(d, "VersionedLake.deleteWhere again") {
      VersionedLake.deleteWhere(spark, d, col("event_id") === 40L)
    }
    step(d, "VersionedLake.compact") {
      VersionedLake.compact(spark, d, "2024-01-01", "2024-01-02")
    }

    val out = s"${freshDir("plain")}/out"
    spark.range(50).selectExpr("id", "cast(id * 3 as string) AS s")
      .write.parquet(out)
    assertCodec(onDisk(out), "ZSTD", "df.write.parquet")
  }

  test("tables written under snappy keep working under zstd: writes land, " +
      "reads equal a shadow, compact and reconf leave only zstd live, " +
      "vacuum removes the snappy generation") {
    val d = s"${freshDir("up_lake")}/events"
    val store = new Store(spark, freshDir("up_store"), defaultBuckets = 8)
    val gid = s"${store.rootDir}/g"
    def kvRows(ids: Seq[Int], tag: String) =
      ids.map(i => (i.toLong, s"$tag$i")).toDF("id", "v")

    val prior = spark.conf.get(CodecConf)
    spark.conf.set(CodecConf, "snappy")
    try {
      VersionedLake.appendBatch(lakeRows(1 to 150, "2024-01-01", "a")
        .union(lakeRows(151 to 300, "2024-01-02", "a")), d, batchId = 0)
      store.put(kvRows(1 to 300, "a"), "g", Some("id"))
    } finally spark.conf.set(CodecConf, prior)
    assertCodec(onDisk(d), "SNAPPY", "the snappy lake")
    assertCodec(onDisk(gid), "SNAPPY", "the snappy store")

    // shadows: lake event_id -> (value, payload); store key -> JSON value
    var lake = (1 to 300).map(i => i.toLong -> (i * 0.5, s"a-$i")).toMap
    var kv = (1 to 300).map(i => i.toString -> s"""{"id":$i,"v":"a$i"}""").toMap

    VersionedLake.appendBatch(lakeRows(301 to 340, "2024-01-03", "b"), d,
      batchId = 1)
    lake ++= (301 to 340).map(i => i.toLong -> (i * 0.5, s"b-$i"))
    val ups = (10 to 300 by 29) ++ (341 to 345)
    VersionedLake.upsert(lakeRows(ups, "2024-01-02", "u"), d, key = "event_id")
    lake ++= ups.map(i => i.toLong -> (i * 0.5, s"u-$i"))
    VersionedLake.deleteWhere(spark, d, col("event_id") % 50 === 0)
    lake = lake.filter(_._1 % 50 != 0)
    VersionedLake.deleteWhere(spark, d, col("event_id") === 151L)
    lake -= 151L

    val puts = (5 to 300 by 17) ++ (301 to 320)
    store.put(kvRows(puts, "b"), "g", Some("id"))
    kv ++= puts.map(i => i.toString -> s"""{"id":$i,"v":"b$i"}""")
    Seq("7", "22", "311").foreach { k => store.del("g", k); kv -= k }

    def checkLake(): Unit = {
      val got = VersionedLake.read(spark, d)
        .select("event_id", "value", "payload").as[(Long, Double, String)]
        .collect().map { case (k, v, p) => k -> (v, p) }
      assert(got.length === lake.size)
      assert(got.toMap === lake)
    }
    def checkStore(): Unit = {
      assert(store.scan("g").as[(String, String)].collect().toMap === kv)
      Seq("1", "5", "7", "22", "150", "311", "320", "999").foreach { k =>
        assert(store.get("g", k).select("value").as[String].collect().toSeq ===
          kv.get(k).toSeq, s"get $k")
      }
    }
    checkLake()
    checkStore()

    VersionedLake.compact(spark, d, "2024-01-01", "2024-01-03")
    store.reconf("g", 4)
    assertCodec(live(d), "ZSTD", "the compacted lake")
    assertCodec(live(gid), "ZSTD", "the reconf'd store")
    checkLake()
    checkStore()

    // reconf already vacuumed its superseded files; the lake's are
    // reclaimed here, and nothing snappy is left on disk
    assert(onDisk(d).exists(f => codecs(f) === Set("SNAPPY")))
    VersionedLake.vacuum(spark, d, retainVersions = 1, olderThanHours = 0.0)
    assertCodec(onDisk(d), "ZSTD", "the vacuumed lake")
    assertCodec(onDisk(gid), "ZSTD", "the reconf'd store on disk")
    checkLake()
  }
}
