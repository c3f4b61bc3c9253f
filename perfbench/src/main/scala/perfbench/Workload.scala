package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One seeded workload: its generator, its op set, and its checks. */
trait Workload {
  def name: String

  /** Writes the seeded inputs as parquet under `dataDir`; returns the
    * input properties for the record (exponents, shares, sizes).
    */
  def generate(dataDir: String): Seq[(String, Double)]

  /** Binds the workload to one generated input and a scratch dir. */
  def open(dataDir: String, workDir: String): Unit

  /** The ops of one pass; `last` marks the final pass of a phase. Pass 0
    * is the untimed warm-up.
    */
  def opsOf(pass: Int, last: Boolean): Seq[Op]

  /** Whether the stream still has pass `pass` (bounded streams end). */
  def hasPass(pass: Int): Boolean = true

  /** Ops run once after the timed phase; their failures count. */
  def finalChecks: Seq[Op] = Nil

  /** (live user bytes, bytes stored on the file system) at the end. */
  def storage(samples: Seq[Sample]): (Long, Long)

  /** Persistent RDDs the workload still serves from (never swept). */
  def liveRdds(): Set[Int] = Set.empty

  /** Root under which the workload's stores live (files-written counts). */
  def writeRoot: Option[String] = None

  /** Workload-specific per-layer figures (planted recall, files live). */
  def extraMetrics(samples: Seq[Sample]): Map[String, Double] = Map.empty
}

object Workload {
  /** Writes `rows` as parquet with a fixed partitioning, so one seed
    * always gives the same files.
    */
  def writeParquet[T <: Product : TypeTag : scala.reflect.ClassTag](spark: SparkSession, rows: Seq[T],
      path: String, slices: Int = 4): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices))
      .write.mode("overwrite").parquet(path)

  def jsonBytes(rows: Array[Row]): Long =
    rows.iterator.map(_.json.getBytes("UTF-8").length.toLong).sum

  /** Canonical-JSON size of the outputs the last sample of each batch op
    * committed (each op overwrites its own output).
    */
  def committedBytes(samples: Seq[Sample]): Long =
    samples.groupBy(_.op.slot).values.map(_.last.outcome.userBytes).sum

  /** Total size of the regular files under `dir` (0 when missing). */
  def du(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Paths of the regular files under `dir`, checksum side files excluded. */
  def files(dir: String): Set[String] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.walk(p)
      try {
        val b = Set.newBuilder[String]
        s.filter((f: Path) => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc"))
          .forEach(f => b += f.toString)
        b.result()
      } finally s.close()
    }
  }

  /** A batch op: the layer call builds the result (eager jobs included),
    * the output commit is the final action, and the committed output is
    * read back and checked against the driver-side expectation.
    */
  def batchOp(spark: SparkSession, outDir: String, name: String, slot: Int,
      layer: String, rows: Long)(build: => org.apache.spark.sql.Dataset[_])(
      check: Array[Row] => Outcome): Op =
    Op(name, slot, layer, Batch, p => {
      val out = s"$outDir/$name"
      val ds = p.call("build")(build)
      p.call("write")(ds.write.mode("overwrite").parquet(out))
      val got = p.call("read", layer = "spark")(spark.read.parquet(out).collect())
      check(got).copy(rows = rows, userBytes = jsonBytes(got))
    })

  def mismatch[K, V](what: String, want: collection.Map[K, V],
      got: collection.Map[K, V]): Outcome =
    if (want == got) Outcome(ok = true, rows = 0L)
    else {
      val bad = (want.keySet ++ got.keySet).find(k => want.get(k) != got.get(k))
      Outcome(ok = false, rows = 0L, detail =
        s"$what: ${want.size} expected vs ${got.size} returned; first difference at " +
          bad.map(k => s"$k: want ${want.get(k)}, got ${got.get(k)}").getOrElse("?"))
    }

  def frame(spark: SparkSession, dataDir: String, table: String): DataFrame =
    graft.Engine.table(spark, dataDir, table)
}
