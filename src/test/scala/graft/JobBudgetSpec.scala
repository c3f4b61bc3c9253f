package graft

import org.apache.spark.sql.DataFrame

import graft.ops.{Dedup, Hits, KCore, LabelProp, PageRank, ShortestPaths}

/** Spark jobs an operator runs, call and final collect together, on one
  * fixed small input.
  *
  * The iterative graph loops run on one small graph. Their budgets are
  * the counts of the GraphLoop discipline (one checkpoint job set per
  * round, scalars observed on those jobs); a gate or guard that comes
  * back as its own `count`/`collect` job, or a round schedule that grows,
  * breaks them.
  *
  * The dedup pair operators run on one small corpus of near-duplicate
  * families and truncated mirrors. Their budgets are the counts of their
  * shuffle and checkpoint plans; an exchange that stops being reused (one
  * branch's aggregate or join key changing shape) breaks them.
  */
class JobBudgetSpec extends SparkSessionSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(5)
  private val sym: Seq[(Long, Long)] = {
    val one = (1 to 90).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2)
    (one ++ one.map(_.swap) ++ (0L until 30L).map(i => (i, (i + 1) % 30))).distinct
  }
  private def e = sym.toDF("src", "dst")
  private def sources = Seq(0L, 7L).toDF("node")

  private val corpus: Seq[(Long, String)] = {
    val words = (0 until 40).map(i => s"w$i")
    val bases = (0 until 12).map(_ => Seq.fill(14)(words(rnd.nextInt(40))))
    bases.zipWithIndex.flatMap { case (t, i) =>
      Seq(3L * i -> t, (3L * i + 1) -> t.updated(5, "edit"), (3L * i + 2) -> t.take(8))
    }.map { case (id, t) => id -> t.mkString(" ") }
  }
  private def docs = corpus.toDF("doc_id", "text")

  private val ops: Seq[(String, Int, () => DataFrame)] = Seq(
    ("fixedPointPageRank", 16, () => PageRank.fixedPointPageRank(e, 3)),
    ("personalizedPageRank", 24, () =>
      PageRank.personalizedPageRank(e, Seq(3L, 4L).toDF("vertex"), 3)),
    ("LabelProp.propagate", 18, () => LabelProp.propagate(e, 3)),
    ("Hits.fixedPointHits", 23, () =>
      Hits.fixedPointHits(e.toDF("hub", "auth"), 3)),
    ("KCore.kCore", 12, () => KCore.kCore(e, k = 4)),
    ("bfsLevels", 23, () => ShortestPaths.bfsLevels(e, sources, maxDepth = 3)),
    ("bellmanFord", 18, () => ShortestPaths.bellmanFord(
      sym.map { case (a, b) => (a, b, 1L + (a * b) % 4) }.toDF("src", "dst", "len"),
      sources, rounds = 3)),
    ("Dedup.components", 24, () => Dedup.components(
      (0L until 20L).map(i => (i, i + 1)).toDF("id_a", "id_b"))),
    ("Dedup.ngramJaccardPairs", 9, () =>
      Dedup.ngramJaccardPairs(docs, "text", "doc_id", num = 7, den = 10)),
    ("Dedup.containmentPairs", 7, () =>
      Dedup.containmentPairs(docs, "text", "doc_id", num = 9, den = 10)),
    ("Dedup.minhashPairs", 6, () =>
      Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.5)),
    ("Dedup.crossMinhashPairs", 9, () => Dedup.crossMinhashPairs(
      docs.filter($"doc_id" % 3 === 0), docs.filter($"doc_id" % 3 =!= 0),
      "text", "doc_id", threshold = 0.5)),
    ("Dedup.lshTuningReport", 16, () =>
      Dedup.lshTuningReport(docs, "text", "doc_id")))

  for ((name, budget, run) <- ops)
    test(s"$name stays within its job budget") {
      run().collect() // warm: first-use analysis must not count
      val n = GraphLoopSpec.jobs(spark)(run().collect())
      assert(n <= budget, s"$name ran $n jobs, budget $budget")
    }
}
