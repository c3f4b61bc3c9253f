package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Engine.table
import graft.functions.VectorFunctions
import graft.ops.Similarity

class SimilaritySpec extends SparkSessionSpec {
  import spark.implicits._

  test("clusterSeparation: margins on hand-built orthogonal clusters") {
    // two orthogonal unit centroids; members exactly on them
    val cents = Array(Array(1.0f, 0.0f), Array(0.0f, 1.0f))
    assert(Similarity.nearestOtherCentroid(cents).toSeq === Seq(0.0, 0.0))
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f))
    ).toDF("id", "vec")
    val out = Similarity.clusterSeparation(corpus, cents)
      .as[(Int, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1) === ((2L, 1.0, 0.0, 1.0))) // cohesive, far from cell 2
    assert(out(2) === ((1L, 1.0, 0.0, 1.0)))
    // degenerate: one centroid has no "other" — empty result, contract
    assert(Similarity.clusterSeparation(corpus,
      Array(Array(1.0f, 0.0f))).count() === 0L)
  }

  test("cosine column function matches manual computation") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 1.0f), Array(1.0f, 1.0f)),
      (3L, Array(3.0f, 4.0f), Array(4.0f, 3.0f))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"), VectorFunctions.cosine(col("a"), col("b")).as("c"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(out(1L) - 0.0) < 1e-12)
    assert(math.abs(out(2L) - 1.0) < 1e-12)
    assert(math.abs(out(3L) - 24.0 / 25.0) < 1e-12)
  }

  def corpusAndQueries() = {
    val e = table(spark, sfDir, "embeddings")
    (e.select(col("vec_id").as("id"), col("embedding").as("vec")),
      e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")))
  }

  /** Cells and codebooks are trained by the caller and passed in. */
  def cells(corpus: DataFrame, n: Int) = Similarity.ivfCentroids(corpus, n)
  def books(corpus: DataFrame, m: Int) = Similarity.pqCodebooks(corpus, m, k = 16)

  test("brute-force top-k: k rows per query, rank ordered by sim") {
    val (corpus, queries) = corpusAndQueries()
    val res = Similarity.bruteForceTopK(corpus, queries, k = 5)
      .select("qid", "rank", "sim").as[(Long, Int, Double)].collect()
    val byQ = res.groupBy(_._1)
    assert(byQ.size === 10)
    byQ.values.foreach { rows =>
      assert(rows.length === 5)
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._3).sliding(2).forall(s => s.head >= s.last))
    }
  }

  test("LSH ANN recall >= 0.5 vs brute force at k=10") {
    val (corpus, queries) = corpusAndQueries()
    val exact = Similarity.bruteForceTopK(corpus, queries, k = 10)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(corpus, queries, k = 10, nPlanes = 4, probeBits = 2)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"LSH recall@10 = $recall (candidates scored: ${approx.size})")
    assert(recall >= 0.5)
  }

  test("IVF ANN recall >= 0.5 vs brute force at k=10") {
    val (corpus, queries) = corpusAndQueries()
    val exact = Similarity.bruteForceTopK(corpus, queries, k = 10)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(corpus, cells(corpus, 16), queries,
      k = 10, nProbe = 6)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"IVF recall@10 = $recall")
    assert(recall >= 0.5)
  }

  test("IVF ANN is exact when probing every cell") {
    val (corpus, queries) = corpusAndQueries()
    val exact = Similarity.bruteForceTopK(corpus, queries, k = 5)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val full = Similarity.ivfTopK(corpus, cells(corpus, 8), queries, k = 5,
      nProbe = 8)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full === exact)
  }

  test("matryoshka ANN: full-width shortlist is exact; recall >= 0.5 at 16 dims") {
    val (corpus, queries) = corpusAndQueries()
    val exact = Similarity.bruteForceTopK(corpus, queries, k = 10)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    // coarseDim = full width: the coarse ranking IS the exact ranking, so
    // any shortlist >= k reproduces brute force exactly
    val full = Similarity.matryoshkaTopK(corpus, queries, k = 10,
      coarseDim = 64, shortlist = 10)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full === exact)
    // truncated prefix: recall must stay useful (synthetic gaussians have
    // no MRL training, so a 16-dim prefix carries only 1/4 of the signal —
    // the shortlist is what buys recall back, exactly as in production)
    val mrl = Similarity.matryoshkaTopK(corpus, queries, k = 10,
      coarseDim = 16, shortlist = 100)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & mrl).size.toDouble / exact.size
    info(s"matryoshka recall@10 (16/64 dims, shortlist 100) = $recall")
    assert(recall >= 0.5)
  }

  test("filtered IVF: every neighbor satisfies the predicate; exact within category when probing all cells") {
    val (corpus, queries) = corpusAndQueries()
    val cCorpus = corpus.withColumn("cat", pmod(col("id"), lit(4L)))
    val cQueries = queries.withColumn("qcat", pmod(col("qid"), lit(4L)))
    val res = Similarity.filteredIvfTopK(cCorpus, cells(cCorpus, 8), cQueries,
      k = 5, catCol = "cat", qcatCol = "qcat", nProbe = 8)
      .select("qid", "neighbor_id").as[(Long, Long)].collect()
    // predicate honored: neighbor category == query category, never self
    assert(res.nonEmpty)
    res.foreach { case (q, n) =>
      assert(n % 4 === q % 4); assert(n !== q)
    }
    // probing all cells ⇒ identical to brute force over the pre-filtered
    // category slice (pre-filter semantics, not post-filter)
    for (c <- 0L until 4L) {
      val exact = Similarity.bruteForceTopK(
        cCorpus.filter(col("cat") === c).drop("cat"),
        cQueries.filter(col("qcat") === c).drop("qcat"), k = 5)
        .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
      val got = res.filter(_._1 % 4 == c).toSet
      assert(got === exact, s"category $c")
    }
  }

  test("IVF broadcast centroid path: 80 cells probed in full == brute force, plan O(1) in cells") {
    val (corpus, queries) = corpusAndQueries()
    // 80 cells on the 500-row corpus is above the 64-cell literal gate:
    // the centroid matrix rides a 1-row broadcast cross-join walked by
    // transform(), instead of 80×64 literal nodes in every task's plan
    val many = cells(corpus, 80)
    assert(many.length === 80 && many.length > Similarity.IvfLiteralCellGate)
    val hof = Similarity.ivfTopK(corpus, many, queries, k = 10, nProbe = 80)
    // probing every cell leaves every other row a candidate: exact
    val exact = Similarity.bruteForceTopK(corpus, queries, k = 10)
    assert(hof.collect().toSet === exact.collect().toSet)
    // plan-size gate: the broadcast plan carries ONE cosine_sim per
    // cosines() call site (inside the lambda), not one per cell — the
    // analyzed plan string must not scale with nCentroids
    val analyzed = hof.queryExecution.analyzed.toString
    val n = "cosine_sim".r.findAllIn(analyzed).size
    assert(n <= 4, s"HOF plan should carry O(1) cosine_sim nodes, got $n")
    // and the centroids genuinely arrive via broadcast, not plan literals
    val physical = hof.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastNestedLoopJoin"),
      "centroid table should ship via a 1-row broadcast join")
  }

  test("cell operators given no cells return zero rows in their own schema") {
    // ivfCentroids and pqCodebooks of an empty corpus are empty; every
    // cell operator then answers with no rows, typed like its answer over
    // trained state
    val (corpus, queries) = corpusAndQueries()
    val groups = table(spark, sfDir, "documents")
      .select(col("doc_id").as("id"), col("lang").as("grp"))
    val none = cells(corpus.limit(0), 16)
    assert(none.isEmpty)
    val some = cells(corpus, 16)
    def cat(df: DataFrame, c: String, id: String) =
      df.withColumn(c, pmod(col(id), lit(4L)))
    val ops: Seq[(String, (DataFrame, Array[Array[Float]]) => DataFrame)] = Seq(
      ("ivfTopK", (c, t) => Similarity.ivfTopK(c, t, queries, k = 5)),
      ("ivfProbeCost", (c, t) =>
        Similarity.ivfProbeCost(c, t, queries, probes = Seq(1, 4))),
      ("filteredIvfTopK", (c, t) => Similarity.filteredIvfTopK(
        cat(c, "cat", "id"), t, cat(queries, "qcat", "qid"), k = 5,
        catCol = "cat", qcatCol = "qcat")),
      ("semanticDedup", (c, t) => Similarity.semanticDedup(c, t, threshold = 0.3)),
      ("semanticDedupExhaustive", (c, t) =>
        Similarity.semanticDedupExhaustive(c, t, threshold = 0.3)),
      ("crossGroupPairs", (c, t) =>
        Similarity.crossGroupPairs(c, t, groups, threshold = 0.3)),
      ("assignCells", (c, t) => Similarity.assignCells(c, t)),
      ("clusterProfile", (c, t) => Similarity.clusterProfile(c, t)),
      ("clusterSeparation", (c, t) => Similarity.clusterSeparation(c, t)),
      ("pqTopK", (c, _) => Similarity.pqTopK(c, books(c, 8), queries, k = 5)),
      ("ivfPqTopK", (c, t) =>
        Similarity.ivfPqTopK(c, t, books(c, 8), queries, k = 5)))
    def typed(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    for ((name, op) <- ops) {
      val full = op(corpus, some)
      val empty = op(corpus.limit(0), none)
      assert(full.count() > 0L, name)
      assert(empty.count() === 0L, name)
      assert(typed(empty) === typed(full), name)
    }
  }

  test("ivfCentroids is deterministic across invocations") {
    val (corpus, _) = corpusAndQueries()
    val a = Similarity.ivfCentroids(corpus, nCentroids = 16)
    val b = Similarity.ivfCentroids(corpus, nCentroids = 16)
    assert(a.length === 16)
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }

  test("clusterProfile partitions the corpus across cells, sims bounded") {
    val e = table(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val prof = Similarity.clusterProfile(e, cells(e, 16)).collect()
    assert(prof.map(_.getAs[Long]("n_vecs")).sum === e.count())
    assert(prof.length <= 16 && prof.nonEmpty)
    prof.foreach { r =>
      val lo = r.getAs[Double]("min_sim"); val hi = r.getAs[Double]("max_sim")
      assert(lo <= hi && hi <= 1.000001 && lo >= -1.000001)
    }
    // cells and first members agree with the raw assignment pass
    val cellIds = prof.map(_.getAs[Int]("cell")).toSet
    assert(cellIds.subsetOf((1 to 16).toSet))
  }

  test("assignCells agrees with clusterProfile's per-cell population") {
    val e = table(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val byCell = Similarity.assignCells(e, cells(e, 16))
      .groupBy("cell").count().as[(Int, Long)].collect().toMap
    val prof = Similarity.clusterProfile(e, cells(e, 16)).collect()
      .map(r => r.getAs[Int]("cell") -> r.getAs[Long]("n_vecs")).toMap
    assert(byCell === prof)
  }

  test("sign-pack codes: packed hamming == unpacked sign-disagreement count") {
    import graft.functions.VectorFunctions.{hammingDist, signPack}
    // 64-dim corpus pairs: hammingDist over the packed longs must equal a
    // direct (unpacked) count of per-dim sign disagreements
    val e = table(spark, sfDir, "embeddings").limit(50)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val pairs = e.crossJoin(
        e.select(col("id").as("id2"), col("vec").as("vec2")))
      .filter(col("id") < col("id2"))
    val unpacked = aggregate(
      zip_with(col("vec"), col("vec2"),
        (x, y) => when((x >= 0) =!= (y >= 0), 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
    val checked = pairs.select(
      hammingDist(signPack(col("vec"), 64), signPack(col("vec2"), 64)).as("h"),
      unpacked.as("u"))
    assert(checked.filter(col("h") =!= col("u")).count() === 0)
    // multi-word packing: a 130-dim vector spans 3 longs; flipping the
    // sign of dims 0, 64, and 129 (one per word) gives hamming exactly 3
    val v = Array.fill(130)(1.0f)
    val w = v.clone(); w(0) = -1f; w(64) = -1f; w(129) = -1f
    val two = Seq((v, w)).toDF("a", "b")
      .select(hammingDist(signPack(col("a"), 130), signPack(col("b"), 130)).as("h"))
    assert(two.head().getLong(0) === 3L)
  }

  test("hamming ANN: planted duplicate is rank 1, recall >= 0.5 vs brute force") {
    val (corpus, queries) = corpusAndQueries()
    val exact = Similarity.bruteForceTopK(corpus, queries, k = 10)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.hammingTopK(corpus, queries, k = 10, dim = 64,
      shortlist = 50)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"hamming recall@10 = $recall")
    assert(recall >= 0.5)
    // an exact duplicate has hamming 0 and cosine 1 -> must surface at rank 1
    val planted = corpus.unionAll(
      corpus.filter(col("id") === 0).select((col("id") + 777777L).as("id"), col("vec")))
    val dup = Similarity.hammingTopK(planted,
        queries.filter(col("qid") === 0), k = 10, dim = 64, shortlist = 50)
      .filter(col("rank") === 1)
      .select("neighbor_id", "hamming").as[(Long, Long)].head()
    assert(dup === ((777777L, 0L)))
  }

  test("ivfAddReport: add == rebuild (cell totals), counts partition the corpus") {
    val e = table(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val trained = cells(e, 8)
    val report = Similarity.ivfAddReport(
      existing = e.filter(col("id") % 10 =!= 0),
      arrivals = e.filter(col("id") % 10 === 0),
      centroids = trained)
      .as[(Int, Long, Long, Long)].collect()
    // n_after per cell must equal a full rebuild's assignment counts —
    // incremental add lands every arrival where the rebuild would
    val rebuild = Similarity.ivfAddReport(e.limit(0), e, trained)
      .select("cell", "n_after").as[(Int, Long)].collect().toMap
    assert(report.map(r => r._1 -> r._4).toMap === rebuild)
    // and the split partitions every cell exactly
    report.foreach { case (cell, nb, na, nt) =>
      assert(nb + na === nt, s"cell $cell")
    }
    assert(report.map(_._4).sum === e.count())
  }

  test("int8 scalar quantization: codes are fixed points, recall stays high") {
    import graft.functions.VectorFunctions.{sqDequantize, sqQuantize}
    val e = table(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    // dequantize∘quantize is a projection: re-quantizing the dequantized
    // vector must reproduce the SAME codes (codes are fixed points)
    val codes = e.select(col("id"), sqQuantize(col("vec")).as("c"))
    val recoded = codes.select(col("id"),
      sqQuantize(sqDequantize(col("c"))).as("c2"), col("c"))
    assert(recoded.filter(col("c") =!= col("c2")).count() === 0)
    // codes live in [-127, 127]
    val bounds = codes.select(array_max(col("c")).as("hi"), array_min(col("c")).as("lo"))
      .agg(max(col("hi")), min(col("lo"))).head()
    assert(bounds.getInt(0) <= 127 && bounds.getInt(1) >= -127)
    // quantized top-10 retains most of the exact top-10 (64-dim, max
    // per-element error 1/254 -> cosine perturbation ~1e-2)
    val (corpus, queries) = corpusAndQueries()
    val exact = Similarity.bruteForceTopK(corpus, queries, k = 10)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val dq = sqDequantize(sqQuantize(col("vec")))
    val qdq = sqDequantize(sqQuantize(col("qvec")))
    val approx = Similarity.bruteForceTopK(
        corpus.select(col("id"), dq.as("vec")),
        queries.select(col("qid"), qdq.as("qvec")), k = 10)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"SQ recall@10 = $recall")
    assert(recall >= 0.7)
  }

  test("near-dup mining finds planted identical vectors") {
    val e = table(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val planted = e.unionAll(
      e.select((col("id") + 10000).as("id"), col("vec")))
    val pairs = Similarity.cosineNearDupPairs(planted, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.length === 500)
    assert(pairs.forall { case (a, b) => b === a + 10000 })
  }

  test("semanticDedup drops every planted twin onto its original") {
    // identical vectors always land in the same k-means cell (argmax of
    // identical cosine arrays), so τ=0.99 must drop exactly the planted
    // copies, each attributed to its original
    val e = table(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val planted = e.unionAll(
      e.select((col("id") + 10000).as("id"), col("vec")))
    val n = e.count()
    val dropped = Similarity.semanticDedup(planted, cells(planted, 16),
        threshold = 0.99)
      .select("id", "dup_of").as[(Long, Long)].collect()
    assert(dropped.length === n)
    assert(dropped.forall { case (id, of) => id === of + 10000 })
  }

  test("semanticDedup keeper rule: dup_of is the MINIMUM earlier cell-mate") {
    // three identical vectors: 2 and 3 both dup onto 1, never onto each
    // other's larger id
    val v = Array.fill(64)(0.5f)
    val other = Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val df = Seq((1L, v), (2L, v), (3L, v), (4L, other))
      .toDF("id", "vec")
    val dropped = Similarity.semanticDedup(df, cells(df, 2), threshold = 0.99)
      .select("id", "dup_of").as[(Long, Long)].collect().sortBy(_._1)
    assert(dropped.toSeq === Seq((2L, 1L), (3L, 1L)))
  }

  test("semanticDedup cell cap: sub-split output == unsplit output") {
    // forcing maxCellRows far below the ~31-row cells makes every cell
    // salt into multiple tile groups; the triangular decomposition must
    // reproduce the unsalted result EXACTLY (same ids, same rounded sims)
    val e = table(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val unsplit = Similarity.semanticDedup(e, cells(e, 16), threshold = 0.3,
        maxCellRows = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    val split = Similarity.semanticDedup(e, cells(e, 16), threshold = 0.3,
        maxCellRows = 8)
      .as[(Long, Long, Double)].collect().toSet
    assert(unsplit.nonEmpty)
    assert(split === unsplit)
  }

  test("semanticDedup cell cap: degenerate one-cell corpus still exact") {
    // one cell is the mega-cluster shape the cap exists for: every
    // row in one cell, so the all-pairs test runs entirely through the
    // salted tiles — output must still match the unsalted plan
    val e = table(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val unsplit = Similarity.semanticDedup(e, cells(e, 1), threshold = 0.3,
        maxCellRows = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    val split = Similarity.semanticDedup(e, cells(e, 1), threshold = 0.3,
        maxCellRows = 50)
      .as[(Long, Long, Double)].collect().toSet
    assert(unsplit.nonEmpty)
    assert(split === unsplit)
  }

  test("cosineNearDupPairs bucket cap: sub-split output == unsplit output") {
    // forcing maxBucketRows far below the bucket sizes makes every bucket
    // salt into multiple tile groups; the triangular decomposition must
    // reproduce the unsalted result EXACTLY (same ids, same rounded sims)
    val e = table(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val planted = e.unionAll(
      e.select((col("id") + 10000).as("id"), col("vec")))
    val unsplit = Similarity.cosineNearDupPairs(planted, threshold = 0.99,
        maxBucketRows = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    val split = Similarity.cosineNearDupPairs(planted, threshold = 0.99,
        maxBucketRows = 8)
      .as[(Long, Long, Double)].collect().toSet
    assert(unsplit.nonEmpty)
    assert(split === unsplit)
  }

  test("cosineNearDupPairs bucket cap: mass-duplicated one-bucket corpus") {
    // the operator's own target workload: many copies of ONE vector all
    // land in the SAME exact hyperplane bucket by construction — the
    // shape that used to serialize into a single |bucket|² task. With the
    // cap the all-pairs test runs entirely through salted tiles and must
    // still emit every one of the n(n-1)/2 pairs.
    val v = Array.tabulate(64)(i => (i + 1).toFloat)
    val n = 60
    val df = (1 to n).map(i => (i.toLong, v)).toDF("id", "vec")
    val pairs = Similarity.cosineNearDupPairs(df, threshold = 0.99,
        maxBucketRows = 7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (for {
      a <- 1 to n; b <- (a + 1) to n
    } yield (a.toLong, b.toLong)).toSet
    assert(pairs === expected)
  }

  test("semanticDedupExhaustive catches planted cross-cell twins") {
    // two near-identical vectors straddling the bisector of two trained
    // centroids: argmax assigns them to DIFFERENT cells, so semanticDedup
    // cannot see the pair (its documented contract); the hyperplane-
    // bucket backstop must restore it. Deterministic end to end: trained
    // centroids are passed explicitly, planes are seeded.
    val dim = 64
    def axis(i: Int): Array[Float] =
      Array.tabulate(dim)(j => if (j == i) 1.0f else 0.0f)
    val trained = Array(axis(0), axis(1))
    // u leans to centroid 1 (cell 2... argmax idx), v leans to centroid 0
    val u = Array.tabulate(dim)(j =>
      if (j == 0) 1.0f else if (j == 1) 1.001f else 0.0f)
    val v = Array.tabulate(dim)(j =>
      if (j == 0) 1.001f else if (j == 1) 1.0f else 0.0f)
    val far = Array.tabulate(dim)(j => if (j == 5) 1.0f else 0.0f)
    val df = Seq((1L, v), (2L, u), (3L, far)).toDF("id", "vec")
    val byId = Similarity.assignCells(df, trained)
      .as[(Long, Int)].collect().toMap
    assert(byId(1L) !== byId(2L), "twins must straddle the cell boundary")
    val plain = Similarity.semanticDedup(df, trained, threshold = 0.99)
      .select("id", "dup_of").as[(Long, Long)].collect().toSet
    assert(!plain.contains((2L, 1L)), "cross-cell pair is invisible to v05")
    val exhaustive = Similarity.semanticDedupExhaustive(df, trained,
        threshold = 0.99)
      .select("id", "dup_of").as[(Long, Long)].collect().toSet
    assert(exhaustive.contains((2L, 1L)))
  }

  test("semanticDedupExhaustive drop set ⊇ semanticDedup drop set") {
    val e = table(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val plain = Similarity.semanticDedup(e, cells(e, 16), threshold = 0.3)
      .select("id").as[Long].collect().toSet
    val exhaustive = Similarity.semanticDedupExhaustive(e, cells(e, 16),
        threshold = 0.3)
      .select("id").as[Long].collect().toSet
    assert(plain.nonEmpty)
    assert(plain.subsetOf(exhaustive))
  }

  test("centroid memo invalidates when a data dir is regenerated in place") {
    // same path, new contents: without the content stamp the memo key
    // (dir, n) would serve the FIRST training run forever — queries and
    // dynamic oracles would silently disagree with the live table
    val tmp = java.nio.file.Files.createTempDirectory("graft-memo").toString
    def install(src: String): Unit = {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$src/embeddings.parquet"),
        java.nio.file.Paths.get(s"$tmp/embeddings.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
    install("/root/testdata/sf0.001")
    val a = graft.queries.VectorQueries.centroids(spark, tmp, 16)
    // memo hit while unchanged: same array instance, no retrain
    assert(graft.queries.VectorQueries.centroids(spark, tmp, 16) eq a)
    install("/root/testdata/sf0.01")
    val b = graft.queries.VectorQueries.centroids(spark, tmp, 16)
    assert(a.map(_.toSeq).toSeq !== b.map(_.toSeq).toSeq,
      "regenerated dir must retrain, not serve stale centroids")
  }

  test("semanticDedup is a subset of global near-dup pairs at the same τ") {
    // cells only ever REMOVE candidate pairs vs the all-pairs test
    val e = table(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val dropped = Similarity.semanticDedup(e, cells(e, 16), threshold = 0.3)
      .select("id", "dup_of").as[(Long, Long)].collect().toSet
    val global = e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .withColumn("sim", VectorFunctions.cosine(col("a.vec"), col("b.vec")))
      .filter(col("sim") >= 0.3)
      .select(col("b.id"), col("a.id")).as[(Long, Long)].collect().toSet
    assert(dropped.nonEmpty)
    dropped.foreach { case (id, of) =>
      assert(global.contains((id, of)), s"($id, $of) not a global pair")
    }
  }

  test("labelCentroidSums: exact hand-built sums, partition-order-free") {
    val df = Seq(
      (1, Seq(1.0f, -1.0f, 0.5f)),
      (1, Seq(0.5f, 0.0f, -0.5f)),
      (2, Seq(2.0f, -2.0f, 0.0f)) // clamps to ±1
    ).toDF("label", "vec")
    // codes: [127,-127,64], [64,0,-63] (floor(-63.5)=-64? floor(-0.5*127+0.5)
    //   = floor(-63.0) = -63), label2: [127,-127,0]
    val got = Similarity.labelCentroidSums(df)
      .as[(Int, Int, Long, Long)].collect().toSet
    assert(got === Set(
      (1, 0, 191L, 2L), (1, 1, -127L, 2L), (1, 2, 1L, 2L),
      (2, 0, 127L, 1L), (2, 1, -127L, 1L), (2, 2, 0L, 1L)))
    // integer sums are reduction-order-free: any partitioning agrees
    val wide = Similarity.labelCentroidSums(df.repartition(7))
      .as[(Int, Int, Long, Long)].collect().toSet
    assert(wide === got)
  }

  test("PQ codes: shape, range, and codewords are encode fixed points") {
    val (corpus, _) = corpusAndQueries()
    val cbs = Similarity.pqCodebooks(corpus, m = 4, k = 16)
    assert(cbs.length === 4)
    assert(cbs.forall(cb => cb.length === 16 && cb.forall(_.length === 16)))
    val enc = corpus.select(col("id"),
      Similarity.pqEncode(col("vec"), cbs).as("codes"))
    val codes = enc.select("codes").as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 4 && c.forall(x => x >= 0 && x < 16)))
    assert(codes.map(_.toList).distinct.size > 1, "degenerate encoding")
    // encode(decode(codes)) == codes: the nearest codeword to a codeword
    // is itself, so reconstruction re-encodes to the same codes
    val recoded = enc.select(col("id"), col("codes"),
      Similarity.pqEncode(
        Similarity.pqDecode(col("codes"), cbs).cast("array<float>"),
        cbs).as("codes2"))
      .filter(not(col("codes") <=> col("codes2")))
    assert(recoded.count() === 0)
  }

  test("PQ ANN recall >= 0.5 vs exact L2 top-k at k=10") {
    val (corpus, queries) = corpusAndQueries()
    // exact-L2 baseline (PQ approximates L2 distance, not cosine)
    val exact = corpus.crossJoin(broadcast(queries))
      .filter(col("id") =!= col("qid"))
      .withColumn("dist", VectorFunctions.l2Distance(col("qvec"), col("vec")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("dist").asc, col("id").asc)))
      .filter(col("rank") <= 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val approx = Similarity.pqTopK(corpus, books(corpus, 8), queries, k = 10)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"PQ recall@10 = $recall")
    assert(recall >= 0.5)
  }

  test("IVF-PQ ANN recall >= 0.5 vs exact L2 at k=10") {
    val (corpus, queries) = corpusAndQueries()
    val exact = corpus.crossJoin(broadcast(queries))
      .filter(col("id") =!= col("qid"))
      .withColumn("dist", VectorFunctions.l2Distance(col("qvec"), col("vec")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("dist").asc, col("id").asc)))
      .filter(col("rank") <= 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfPqTopK(corpus, cells(corpus, 16),
      books(corpus, 8), queries, k = 10, nProbe = 6)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"IVF-PQ recall@10 = $recall")
    assert(recall >= 0.5)
  }

  test("crossGroupPairs: planted cross-lang twin found, same-lang pair filtered") {
    // base corpus plus two planted twins of vector 0: one in another
    // language (must surface) and one in the same language (must be
    // filtered by the cross-group rule even though its cosine is 1.0)
    val e = table(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val corpus = e.unionAll(
      e.filter(col("id") === 0).select(lit(50001L).as("id"), col("vec")))
      .unionAll(
        e.filter(col("id") === 0).select(lit(50002L).as("id"), col("vec")))
    val groups = corpus.select(col("id"),
      when(col("id") === 50001L, lit("xx"))
        .otherwise(lit("en")).as("grp"))
    val got = Similarity.crossGroupPairs(corpus, cells(corpus, 16), groups,
        threshold = 0.999)
      .select("id_a", "id_b", "grp_a", "grp_b")
      .as[(Long, Long, String, String)].collect().toSet
    assert(got.contains((0L, 50001L, "en", "xx")))
    assert(!got.exists { case (a, b, _, _) => Set(a, b) == Set(0L, 50002L) },
      "same-group twin must not surface")
    got.foreach { case (a, b, ga, gb) =>
      assert(a < b); assert(ga != gb)
    }
  }

  test("IVF-PQ probing every cell == pqTopK (the IVF layer only prunes)") {
    val (corpus, queries) = corpusAndQueries()
    val full = Similarity.ivfPqTopK(corpus, cells(corpus, 8), books(corpus, 8),
        queries, k = 10, nProbe = 8)
      .select("qid", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val pq = Similarity.pqTopK(corpus, books(corpus, 8), queries, k = 10)
      .select("qid", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(full === pq)
  }

  test("ANN recall report: full method x query grid, hits consistent with a direct intersection") {
    val got = SparkEntry.queries("v13_ann_recall")(spark, sfDir)
      .as[(String, Long, Long, Double)].collect()
    val methods = Set("lsh", "ivf", "sq", "pq", "ivfpq")
    val qids = got.map(_._2).toSet
    assert(got.map(_._1).toSet === methods)
    assert(got.length === methods.size * qids.size, "one row per (method, qid)")
    got.foreach { case (m, q, n, r) =>
      assert(n >= 0 && n <= 10, s"$m/$q n_hits $n")
      assert(math.abs(r - n / 10.0) < 1e-9, s"$m/$q recall $r != $n/10")
    }
    // one method cross-checked against a direct intersection computed here
    val bf = SparkEntry.queries("v01_ann_bruteforce")(spark, sfDir)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = SparkEntry.queries("v02_ann_lsh")(spark, sfDir)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val wantLsh = qids.map(q =>
      q -> (bf.filter(_._1 == q) intersect lsh.filter(_._1 == q)).size.toLong).toMap
    got.filter(_._1 == "lsh").foreach { case (_, q, n, _) =>
      assert(n === wantLsh(q), s"lsh qid $q")
    }
  }

  test("hard negatives: never the query's label, == label-filtered brute force") {
    val e = table(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))
    val q = table(spark, sfDir, "embeddings").filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    val labels = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    val got = Similarity.hardNegatives(e, q, k = 5)
      .as[(Long, Long, Int, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (qid, nid, _, _) =>
      assert(labels(nid) !== labels(qid), s"query $qid mined same-label $nid")
    }
    // per query: identical to brute force over the label-excluded corpus
    labels.filter(_._1 < 3).foreach { case (qid, lbl) =>
      val want = Similarity.bruteForceTopK(
        e.filter(col("label") =!= lbl).drop("label"),
        q.filter(col("qid") === qid).drop("qlabel"), k = 5)
        .as[(Long, Long, Int, Double)].collect().toSet
      assert(got.filter(_._1 == qid).toSet === want, s"query $qid")
    }
  }

  test("MMR: rank 1 is the relevance argmax; a planted exact dup of it is demoted") {
    val e = table(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = table(spark, sfDir, "embeddings").filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val top1 = Similarity.bruteForceTopK(e, q, k = 1)
      .as[(Long, Long, Int, Double)].collect()
      .map(r => r._1 -> r._2).toMap
    // plant an exact duplicate of each query's most-relevant doc: plain
    // top-2 would return (top, dup); MMR must push the dup off rank 2
    // (its max-sim-to-selected is 1.0, the maximal redundancy penalty)
    val dupIds = top1.values.toSet
    val dups = e.filter(col("id").isin(dupIds.toSeq: _*))
      .select((col("id") + 100000L).as("id"), col("vec"))
    val planted = e.unionAll(dups)
    val got = Similarity.mmrSelect(planted, q, k = 5, shortlist = 20)
      .as[(Long, Int, Long, Double)].collect()
    assert(got.length === 15)
    got.groupBy(_._1).foreach { case (qid, rows) =>
      val byRank = rows.sortBy(_._2)
      // rank 1 = pure relevance argmax: the original top doc (lower id
      // than its planted twin on the rel tie)
      assert(byRank.head._3 === top1(qid), s"query $qid rank-1")
      val dupOfTop = top1(qid) + 100000L
      assert(byRank(1)._3 !== dupOfTop,
        s"query $qid rank-2 picked the exact dup — no diversification")
      // (scores are NOT monotone down the ranking: a negative max-sim
      // turns the redundancy penalty into a bonus — classical MMR)
      // selected ids are distinct
      assert(rows.map(_._3).distinct.length === rows.length)
    }
    // partition invariance of the per-group fold
    val re = Similarity.mmrSelect(planted.repartition(7), q, k = 5,
      shortlist = 20).as[(Long, Int, Long, Double)].collect().toSet
    assert(re === got.toSet)
  }
}
