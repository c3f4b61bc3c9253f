package perfbench

import org.apache.spark.sql.SparkSession

/** The batch workload: the MR corpus jobs and similarity joins of
  * `MrCorpus` beside the iterative graph loops of `GraphIter`, in one
  * session, one set-up and one timed phase, each pass holding both op
  * sets. Their layers (`mr`, `ops.dedup`, `ops.graph`) stay apart in the
  * per-layer figures.
  */
final class BatchWorkload(spark: SparkSession, seed: Long) extends Workload {
  private val parts: Seq[Workload] = Seq(new MrCorpus(spark, seed), new GraphIter(spark, seed))
  private val Stride = 100 // slot offset of each part's ops

  val name = "batch"

  def generate(dataDir: String): Seq[(String, Double)] = {
    val props = parts.map(_.generate(dataDir))
    val sizes = Seq("input_rows", "input_bytes")
    props.flatten.filterNot(p => sizes.contains(p._1)) ++
      sizes.map(k => k -> props.map(_.toMap.getOrElse(k, 0.0)).sum)
  }

  def open(dataDir: String, workDir: String): Unit =
    parts.foreach(p => p.open(dataDir, s"$workDir/${p.name}"))

  def opsOf(pass: Int, last: Boolean): Seq[Op] = parts.zipWithIndex.flatMap { case (p, i) =>
    p.opsOf(pass, last).map(o => o.copy(slot = o.slot + i * Stride))
  }

  private def of(i: Int, samples: Seq[Sample]) = samples.filter(_.op.slot / Stride == i)

  def storage(samples: Seq[Sample]): (Long, Long) = {
    val each = parts.zipWithIndex.map { case (p, i) => p.storage(of(i, samples)) }
    (each.map(_._1).sum, each.map(_._2).sum)
  }

  override def extraMetrics(samples: Seq[Sample]): Map[String, Double] =
    parts.zipWithIndex.flatMap { case (p, i) => p.extraMetrics(of(i, samples)) }.toMap
}
