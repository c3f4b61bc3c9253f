package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Aggregator

import graft.mr.MapReduce
import graft.ops.Dedup

/** Mean of the values per key through the typed Aggregator path. */
object MeanAgg extends Aggregator[Long, (Long, Long), Double] {
  def zero: (Long, Long) = (0L, 0L)
  def reduce(b: (Long, Long), v: Long): (Long, Long) = (b._1 + v, b._2 + 1L)
  def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) = (a._1 + b._1, a._2 + b._2)
  def finish(b: (Long, Long)): Double = b._1.toDouble / b._2.toDouble
  def bufferEncoder: Encoder[(Long, Long)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
  def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

/** The reference's canonical MR jobs through `graft.mr.MapReduce`, plus
  * the three similarity joins of `ops.Dedup`, over one seeded corpus and
  * one seeded weather-event table.
  */
final class MrCorpus(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._
  import MrCorpus.ekey

  val name = "mr_corpus"
  val spec = Gen.CorpusSpec(docs = 700, vocab = 20000, zipfS = 1.05,
    minLen = 24, maxLen = 72, capitalShare = 0.1, nearDupShare = 0.08,
    truncShare = 0.04, events = 80000, years = 12, stations = 500)
  // the registry's own similarity parameters (d03, d16) and a 9/10 token cut
  val JaccardNum = 9
  val JaccardDen = 10
  val MinhashThreshold = 0.8

  private var corpus: Gen.Corpus = _
  private var data = ""
  private var outDir = ""

  def generate(dataDir: String): Seq[(String, Double)] = {
    corpus = Gen.corpus(spec, seed)
    Workload.writeParquet(spark, corpus.docs.toSeq, s"$dataDir/documents.parquet")
    Workload.writeParquet(spark, corpus.events.toSeq, s"$dataDir/weather.parquet")
    Seq("docs" -> spec.docs.toDouble, "vocab" -> spec.vocab.toDouble,
      "zipf_s" -> spec.zipfS, "near_dup_share" -> spec.nearDupShare,
      "truncated_share" -> spec.truncShare, "planted_near_dups" -> corpus.nearDups.size.toDouble,
      "planted_truncations" -> corpus.truncated.size.toDouble,
      "tokens" -> corpus.docs.map(_.text.count(_ == ' ') + 1L).sum.toDouble,
      "events" -> spec.events.toDouble, "event_keys" -> (spec.years * Gen.EventKinds.size).toDouble,
      "input_rows" -> (spec.docs + spec.events).toDouble,
      "input_bytes" -> (Workload.du(s"$dataDir/documents.parquet") +
        Workload.du(s"$dataDir/weather.parquet")).toDouble)
  }

  // ------------------------------------------------ driver-side expectations

  private lazy val texts: Array[String] = corpus.docs.map(_.text)
  private def toks(t: String): Array[String] =
    t.split(graft.functions.TextFunctions.WhitespaceRegex).filter(_.nonEmpty)

  private lazy val wordCounts: Map[String, Long] = counts(texts.iterator.flatMap(toks))
  private lazy val wordCountsCi: Map[String, Long] =
    counts(texts.iterator.flatMap(t => toks(t.toLowerCase)))
  private def counts(it: Iterator[String]): Map[String, Long] = {
    val m = mutable.HashMap[String, Long]()
    it.foreach(w => m(w) = m.getOrElse(w, 0L) + 1L)
    m.toMap
  }
  private def byKind(kind: String) = corpus.events.filter(_.kind == kind).groupBy(_.year)
  private lazy val maxPerYear: Map[Int, Int] = byKind("TMAX").map { case (y, es) => y -> es.map(_.value).max }
  private lazy val minPerYear: Map[Int, Int] = byKind("TMIN").map { case (y, es) => y -> es.map(_.value).min }
  private lazy val meanPerKey: Map[String, Double] = corpus.events.groupBy(ekey).map {
    case (k, es) => k -> es.map(_.value.toLong).sum.toDouble / es.length.toDouble }
  private lazy val stationsPerKey: Map[String, Int] =
    corpus.events.groupBy(ekey).map { case (k, es) => k -> es.map(_.station).distinct.length }

  // similarity: the sets each join compares, exactly as the engine builds them
  private lazy val tokenSets: Array[Set[String]] = texts.map(t => toks(t.toLowerCase).toSet)
  private lazy val gramSets: Array[Set[String]] = texts.map { t =>
    val ts = toks(t.toLowerCase)
    if (ts.length < 4) Set.empty[String] else ts.sliding(4).map(_.mkString(" ")).toSet
  }
  private lazy val shingleSets: Array[Set[String]] = texts.map { t =>
    val norm = t.toLowerCase.replaceAll("\\s+", " ").trim
    val ts = toks(norm)
    if (ts.length < 3) Set(norm) else ts.sliding(3).map(_.mkString(" ")).toSet
  }
  private def inter(a: Set[String], b: Set[String]): Long = a.count(b).toLong

  def open(dataDir: String, workDir: String): Unit = {
    data = dataDir
    outDir = s"$workDir/out"
    // force the expectations now, off the clock
    Seq(wordCounts, wordCountsCi, maxPerYear, minPerYear, meanPerKey, stationsPerKey,
      tokenSets, gramSets, shingleSets).foreach(_.hashCode)
  }

  private def lines = Workload.frame(spark, data, "documents").select("text").as[String]
  private def weather = Workload.frame(spark, data, "weather").as[Event]
  private def documents = Workload.frame(spark, data, "documents")

  private def longMap(rows: Array[Row]): Map[String, Long] =
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Pairs output checks: every pair re-verified exactly, and recall of
    * the planted pairs that meet the cut. `must` are the planted pairs
    * whose similarity is far enough above the cut that even the LSH join
    * misses them with probability below 1e-11; missing one is a failure.
    */
  private def pairCheck(what: String, got: Seq[(Long, Long)], verify: ((Long, Long), Row) => Boolean,
      rows: Array[Row], planted: Seq[(Long, Long)], must: Seq[(Long, Long)]): Outcome = {
    val bad = rows.zip(got).find { case (r, p) => !verify(p, r) }
    val dup = got.size != got.distinct.size
    val found = got.toSet
    val hit = planted.count(found)
    val missed = must.filterNot(found)
    Outcome(ok = bad.isEmpty && !dup && missed.isEmpty, rows = 0L, pairs = got.size.toLong,
      plantedFound = hit.toLong, plantedTotal = planted.size.toLong,
      detail = s"$what: wrong pair ${bad.map(_._1)}, duplicates=$dup, missed planted ${missed.take(3)}")
  }

  private def ordered(p: (Long, Long)) = (math.min(p._1, p._2), math.max(p._1, p._2))

  def opsOf(pass: Int, last: Boolean): Seq[Op] = {
    val nDocs = spec.docs.toLong
    val nEvents = spec.events.toLong
    def op(n: String, slot: Int, layer: String, rows: Long)(b: => org.apache.spark.sql.Dataset[_])(
        c: Array[Row] => Outcome) = Workload.batchOp(spark, outDir, n, slot, layer, rows)(b)(c)
    val words: String => IterableOnce[(String, Long)] =
      l => l.split("\\s+").iterator.filter(_.nonEmpty).map(w => (w, 1L))
    Seq(
      op("mr.wordcount_exec", 0, "mr", nDocs)(
        MapReduce.exec(lines)(words)((k: String, it: Iterator[Long]) => (k, it.sum)))(
        r => Workload.mismatch("word count (exec)", wordCounts, longMap(r))),
      op("mr.wordcount_fold", 1, "mr", nDocs)(MapReduce.wordCount(lines)(spark))(
        r => Workload.mismatch("word count (fold)", wordCounts, longMap(r))),
      op("mr.wordcount_ci", 2, "mr", nDocs)(MapReduce.wordCount(lines, caseInsensitive = true)(spark))(
        r => Workload.mismatch("case-insensitive count", wordCountsCi, longMap(r))),
      op("mr.max_per_year", 3, "mr", nEvents)(
        MapReduce.execFold(weather)((e: Event) =>
          if (e.kind == "TMAX") Iterator((e.year, e.value)) else Iterator.empty)(math.max))(
        r => Workload.mismatch("max per year", maxPerYear, r.map(x => x.getInt(0) -> x.getInt(1)).toMap)),
      op("mr.min_per_year", 4, "mr", nEvents)(
        MapReduce.execFold(weather)((e: Event) =>
          if (e.kind == "TMIN") Iterator((e.year, e.value)) else Iterator.empty)(math.min))(
        r => Workload.mismatch("min per year", minPerYear, r.map(x => x.getInt(0) -> x.getInt(1)).toMap)),
      op("mr.mean_per_key", 5, "mr", nEvents)(
        MapReduce.execAgg(weather)((e: Event) => Iterator((ekey(e), e.value.toLong)))(MeanAgg))(
        r => Workload.mismatch("mean per key", meanPerKey, r.map(x => x.getString(0) -> x.getDouble(1)).toMap)),
      op("mr.stations_per_key", 6, "mr", nEvents)(
        MapReduce.exec(weather)((e: Event) => Iterator((ekey(e), e.station)))(
          (k: String, it: Iterator[Int]) => (k, it.toSet.size)))(
        r => Workload.mismatch("stations per key", stationsPerKey, r.map(x => x.getString(0) -> x.getInt(1)).toMap)),
      op("ops.dedup.ngram_jaccard", 7, "ops.dedup", nDocs)(
        Dedup.ngramJaccardPairs(documents, "text", "doc_id", num = JaccardNum, den = JaccardDen)) { r =>
        val got = r.map(x => (x.getAs[Long]("id_a"), x.getAs[Long]("id_b"))).toSeq
        val planted = corpus.nearDups.map(ordered).filter { case (a, b) =>
          val i = inter(tokenSets(a.toInt), tokenSets(b.toInt))
          i * JaccardDen >= (tokenSets(a.toInt).size + tokenSets(b.toInt).size - i) * JaccardNum }
        pairCheck("ngram jaccard", got, { case ((a, b), x) =>
          val i = inter(tokenSets(a.toInt), tokenSets(b.toInt))
          val u = tokenSets(a.toInt).size + tokenSets(b.toInt).size - i
          a < b && x.getAs[Long]("inter") == i && x.getAs[Long]("uni") == u && i * JaccardDen >= u * JaccardNum
        }, r, planted, planted)
      },
      op("ops.dedup.containment", 8, "ops.dedup", nDocs)(
        Dedup.containmentPairs(documents, "text", "doc_id", num = 9, den = 10, gramK = 4)) { r =>
        val got = r.map(x => (x.getAs[Long]("id_a"), x.getAs[Long]("id_b"))).toSeq
        val planted = corpus.truncated.filter { case (a, _) => gramSets(a.toInt).nonEmpty }
        pairCheck("containment", got, { case ((a, b), x) =>
          val i = inter(gramSets(a.toInt), gramSets(b.toInt))
          a != b && x.getAs[Long]("inter") == i && x.getAs[Long]("sz_a") == gramSets(a.toInt).size &&
            x.getAs[Long]("sz_b") == gramSets(b.toInt).size && i * 10 >= gramSets(a.toInt).size * 9L
        }, r, planted, planted)
      },
      op("ops.dedup.minhash", 9, "ops.dedup", nDocs)(
        Dedup.minhashPairs(documents, "text", "doc_id", k = 3, bands = 16, rowsPerBand = 2,
          threshold = MinhashThreshold)) { r =>
        val got = r.map(x => (x.getAs[Long]("id_a"), x.getAs[Long]("id_b"))).toSeq
        def jac(a: Long, b: Long): Double = {
          val i = inter(shingleSets(a.toInt), shingleSets(b.toInt))
          i.toDouble / (shingleSets(a.toInt).size + shingleSets(b.toInt).size - i).toDouble
        }
        val planted = corpus.nearDups.map(ordered).filter { case (a, b) => jac(a, b) >= MinhashThreshold }
        pairCheck("minhash", got, { case ((a, b), x) =>
          a < b && x.getAs[Double]("jaccard") == jac(a, b) && jac(a, b) >= MinhashThreshold
        }, r, planted, planted.filter { case (a, b) => jac(a, b) >= 0.9 })
      })
  }

  def storage(samples: Seq[Sample]): (Long, Long) =
    (Workload.committedBytes(samples), Workload.du(outDir))


  override def extraMetrics(samples: Seq[Sample]): Map[String, Double] = {
    val d = samples.filter(_.op.layer == "ops.dedup")
    val total = d.map(_.outcome.plantedTotal).sum
    Map("ops.dedup.planted_recall" ->
      (if (total == 0) 0.0 else d.map(_.outcome.plantedFound).sum.toDouble / total))
  }
}

object MrCorpus {
  // outside the class: the map closures that use it must not capture it
  def ekey(e: Event): String = s"${e.year}-${e.kind}"
}
