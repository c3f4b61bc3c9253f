package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search and embedding near-dup detection.
  *
  * Two paths, same contract:
  *  - [[bruteForceTopK]] — exact baseline: broadcast the (small) query set
  *    against the corpus, one narrow pass, per-query top-k via window.
  *    At 100 TB the corpus side stays partitioned; only queries move.
  *  - [[lshTopK]] — scale path: random-hyperplane LSH buckets corpus and
  *    queries; candidates are generated only inside (multi-probed)
  *    buckets, so the scored pair count drops from |Q|·|C| to
  *    |Q|·bucket-size. Recall is tunable via planes/probes.
  *
  * Embedding near-dups ([[cosineNearDupPairs]]) reuse the bucket join —
  * the same blocked-pair shape as MinHash dedup (see [[Dedup]]) — with
  * the [[saltedBlockPairs]] triangular-tile skew bound on each bucket.
  */
object Similarity {

  /** Shared ranking tail: per-query top-k by (sim desc, id asc), rounded
    * sim — the single definition of the ANN output contract.
    */
  private def rankTopK(
      scored: DataFrame, k: Int, idCol: String, qidCol: String): DataFrame = {
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("sim").desc, col(idCol).asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col(idCol).as("neighbor_id"),
        col("rank"), round(col("sim"), 6).as("sim"))
  }

  /** Exact top-k neighbors for each query row.
    *
    * @param corpus  (id, vec) — the big side; stays distributed
    * @param queries (qid, vec) — small; gets broadcast
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("sim", cosine(col(vecCol), col(qvecCol)))
    rankTopK(scored, k, idCol, qidCol)
  }

  /** Hard-negative mining for contrastive training: per query, the top-k
    * most similar corpus vectors whose LABEL differs from the query's —
    * the highest-similarity wrong answers, exactly the negatives a
    * dual-encoder batch wants. Same exact-scoring contract as
    * [[bruteForceTopK]] with the label exclusion fused into the scan
    * filter (before ranking, so the k negatives are true label-excluded
    * top-k, not a post-filtered shortlist that can come up short).
    *
    * Scale: the corpus side stays distributed and unshuffled; queries +
    * labels broadcast. At 100 TB corpora swap the scorer for the IVF
    * probe shape ([[ivfTopK]]) with an over-fetch then the same label
    * filter — the mining contract (exclude same-label) composes with any
    * of the ANN paths; this exact form is also the recall oracle for
    * those.
    *
    * Output: (qidCol, neighbor_id, rank, sim) — v01's contract.
    */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "id", vecCol: String = "vec", labelCol: String = "label",
      qidCol: String = "qid", qvecCol: String = "qvec",
      qlabelCol: String = "qlabel"): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col(qidCol) &&
        col(labelCol) =!= col(qlabelCol))
      .withColumn("sim", cosine(col(vecCol), col(qvecCol)))
    rankTopK(scored, k, idCol, qidCol)
  }

  /** Maximal Marginal Relevance re-rank: per query, greedily select `k`
    * results trading relevance against redundancy —
    * score(d) = λ·rel(q,d) − (1−λ)·max over selected s of sim(d,s) —
    * the diversified-retrieval stage that stops a result list (or a
    * training-data selection round) from being k copies of one document.
    *
    * Pipeline contract (the production rerank shape): MMR runs on a
    * per-query SHORTLIST (`shortlist` exact-top-rel candidates here; an
    * ANN front end at corpus scale), never on the corpus — so the greedy
    * is a per-group sequential fold over ≤`shortlist` rows, exactly what
    * the typed `flatMapGroups` surface is for. One broadcast-scored scan
    * + one qid shuffle of slim (id, rel, vec) shortlist rows.
    *
    * Determinism/oracle: λ defaults to 0.5 (exact in binary — both
    * engines parse it to the same double, the t16 constant-parity
    * lesson); the in-group cosine replays [[graft.expr]]'s exact
    * accumulation order (dot/norms left-to-right, `dot/(√na·√nb)`), so
    * every score is bit-identical to DuckDB's `list_cosine_similarity`
    * and the v15 oracle unrolls the greedy step for step. Ties break to
    * the lowest id.
    *
    * Output: (qid, rank, neighbor_id, score) — rank 1..k in selection
    * order, score rounded to 6.
    */
  def mmrSelect(
      corpus: DataFrame, queries: DataFrame, k: Int, shortlist: Int = 20,
      lambda: Double = 0.5,
      idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    require(k >= 1 && shortlist >= k, s"need shortlist >= k >= 1")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val spark = corpus.sparkSession
    import spark.implicits._
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("rel", cosine(col(vecCol), col(qvecCol)))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("rel").desc, col(idCol).asc)
    val cand = scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= shortlist)
      .select(col(qidCol).cast("long").as("qid"), col(idCol).cast("long").as("id"),
        col("rel"), col(vecCol).as("v"))
    // the exact accumulation order of expr.GraftExpressions.CosineSim —
    // bit-parity with DuckDB's list_cosine_similarity is the contract
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val u = a(i).toDouble; val v = b(i).toDouble
        dot += u * v; na += u * u; nb += v * v
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val oneMinus = 1.0 - lambda
    cand.as[(Long, Long, Double, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val rows = it.toArray.sortBy(_._2)
        val selected = scala.collection.mutable.ArrayBuffer[Int]()
        val out = scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Double)]()
        for (rank <- 1 to math.min(k, rows.length)) {
          var best = -1; var bestScore = Double.NegativeInfinity
          var bestId = Long.MaxValue
          var i = 0
          while (i < rows.length) {
            if (!selected.contains(i)) {
              val maxSim =
                if (selected.isEmpty) 0.0
                else selected.map(j => cos(rows(i)._4, rows(j)._4)).max
              val score = lambda * rows(i)._3 - oneMinus * maxSim
              if (score > bestScore ||
                (score == bestScore && rows(i)._2 < bestId)) {
                best = i; bestScore = score; bestId = rows(i)._2
              }
            }
            i += 1
          }
          selected += best
          out += ((qid, rank, rows(best)._2, bestScore))
        }
        out
      }
      .toDF("qid", "rank", "neighbor_id", "score")
      .withColumn("score", round(col("score"), 6))
  }

  /** LSH-bucketed ANN: hyperplane sign buckets + multiprobe.
    * Each query looks in every bucket within Hamming distance `probeBits`
    * of its own (1 + n + n(n-1)/2 buckets for probeBits=2); candidates are
    * scored exactly, top-k per query.
    *
    * Tuning: bucket collision probability per plane is 1 − θ/π. For
    * tight near-dup clusters (cosine ≥ 0.9, the 100 TB dedup case) use
    * 8–16 planes, probeBits 1. For diffuse corpora (this test corpus:
    * top-10 cosine ≈ 0.3–0.5) fewer planes + probeBits 2 keeps recall up.
    */
  /** Multiprobe bucket-xor masks: the identity probe, all 1-bit flips
    * (probeBits ≥ 1), all 2-bit flips (probeBits ≥ 2). Public so SQL
    * oracles can replicate the probe set (`xor(bucket_a, bucket_b) IN
    * flips` ⇔ the exploded probe join).
    */
  def probeFlips(nPlanes: Int, probeBits: Int): Seq[Long] =
    Seq(0L) ++
      (if (probeBits >= 1) (0 until nPlanes).map(1L << _) else Nil) ++
      (if (probeBits >= 2)
        for { i <- 0 until nPlanes; j <- (i + 1) until nPlanes }
          yield (1L << i) | (1L << j)
      else Nil)

  def lshTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nPlanes: Int = 4, probeBits: Int = 2, dim: Int = 64,
      idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val planes = randomPlanes(nPlanes, dim)
    val cb = corpus.withColumn("bucket", hyperplaneBucket(col(vecCol), planes))
    val qBuckets =
      queries.withColumn("qbucket0", hyperplaneBucket(col(qvecCol), planes))
    val flips = probeFlips(nPlanes, probeBits)
    val probeArr = array(flips.map(f => col("qbucket0").bitwiseXOR(lit(f))): _*)
    val qb = qBuckets
      .withColumn("bucket", explode(probeArr))
      .drop("qbucket0")
    val scored = cb.join(qb, Seq("bucket"))
      .filter(col(idCol) =!= col(qidCol))
      .dropDuplicates(qidCol, idCol)
      .withColumn("sim", cosine(col(vecCol), col(qvecCol)))
    rankTopK(scored, k, idCol, qidCol)
  }

  /** IVF (inverted-file) ANN: the second scale path, complementary to
    * [[lshTopK]]. A small deterministic k-means (Lloyd's, fixed seed,
    * driver-side over a bounded sample — the standard IVF training shape)
    * partitions the space into `nCentroids` cells; corpus rows are
    * assigned to their best cell (one narrow pass, `nCentroids` fused
    * native cosine evals per row against broadcast centroid literals);
    * queries probe their `nProbe` best cells. Candidates are scored
    * exactly within probed cells, top-k per query.
    *
    * At 100 TB: training touches only the sample, assignment is embedded
    * in the scan stage, and the single shuffle is the cell-key join whose
    * fan-in `nProbe/nCentroids` controls cost — the same recall/cost dial
    * as FAISS IVF.
    */
  /** Deterministic IVF centroids: k-means over the lowest-`sampleSize`
    * ids (any fixed sampling rule works; the sample only seeds
    * centroids). Public so SQL oracles can recompute cell assignment
    * from the SAME values the query plans as literals — the v02
    * plane-inlining trick. May return fewer than `nCentroids` rows on an
    * underfull corpus; empty on an empty corpus.
    */
  def ivfCentroids(
      corpus: DataFrame, nCentroids: Int,
      sampleSize: Int = 2048, iters: Int = 10,
      idCol: String = "id", vecCol: String = "vec"): Array[Array[Float]] = {
    val sample = corpus.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(sampleSize)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    if (sample.isEmpty) Array.empty
    else kmeans(sample, nCentroids, iters, sample.head.length)
  }

  /** Above this cell count, centroid cosines switch from per-cell literal
    * arrays (fastest: each cosine is a fused codegen'd expression) to a
    * BROADCAST centroid table walked by a higher-order `transform`: the
    * plan stays O(1) in nCentroids (no nCells × dim literal nodes — at
    * production IVF sizes, 4k–65k cells, that is plan/codegen bloat), and
    * the centroid payload ships once per executor via the broadcast
    * instead of riding every task's serialized plan (a 65k × 64-dim
    * float table is ~16 MB — per-task shipping would dwarf the work).
    */
  private[graft] val IvfLiteralCellGate = 64

  /** Attach the centroid matrix as a broadcast single-row column
    * (`BroadcastNestedLoopJoin` against one row — the canonical
    * constant-side broadcast), for the above-the-gate path.
    */
  private def withCentroidsCol(
      df: DataFrame, centroids: Array[Array[Float]]): DataFrame = {
    import df.sparkSession.implicits._
    val centDF = Seq(centroids.map(_.toSeq).toSeq).toDF("__cents")
    df.crossJoin(broadcast(centDF))
  }

  /** Shared dispatch of the literal-vs-broadcast centroid path: attaches
    * a `__cos` column of per-centroid cosines (plus `__cents` on the
    * broadcast path — callers drop both). ONE definition of the gate so
    * the four cell-based operators cannot drift.
    */
  private def withCellCosines(
      df: DataFrame, centroids: Array[Array[Float]],
      vecCol: String, maxLiteralCells: Int): DataFrame = {
    val useLiterals = centroids.length <= maxLiteralCells
    val base = if (useLiterals) df else withCentroidsCol(df, centroids)
    val cosines =
      if (useLiterals)
        // ONE array literal + one lambda — not nCells unrolled cosines
        // over nCells×dim CreateArray(Literal) nodes, whose analysis/
        // optimization cost dominated the v04/v11 wall at bench scale
        // (same per-row kernel, same order, same values)
        transform(typedLit(centroids.map(_.toSeq).toSeq),
          c => cosine(col(vecCol), c))
      else
        transform(col("__cents"), c => cosine(col(vecCol), c))
    base.withColumn("__cos", cosines)
  }

  /** 1-based argmax cell over `__cos` (ties -> first, matching
    * list_position(list_aggregate 'max') in the SQL oracles).
    */
  private def argmaxCell: Column =
    array_position(col("__cos"), array_max(col("__cos"))).cast("int")

  /** The corpus half of IVF: per-row argmax cell (1-based via
    * array_position; ties → first). Exposed so a PERSISTED index
    * ([[IvfPersist]]) can skip re-assigning the whole corpus on restart —
    * [[ivfTopKAssigned]] over these rows is bit-identical to [[ivfTopK]]
    * because this is the exact assignment it computes inline.
    */
  def ivfAssign(
      corpus: DataFrame, centroids: Array[Array[Float]],
      idCol: String = "id", vecCol: String = "vec",
      maxLiteralCells: Int = IvfLiteralCellGate): DataFrame =
    withCellCosines(corpus, centroids, vecCol, maxLiteralCells)
      .withColumn("cell", argmaxCell)
      .drop("__cos", "__cents")

  /** [[ivfTopK]] over a PRE-ASSIGNED corpus (rows carrying `cell`) —
    * the search path of a persisted/incrementally-maintained index,
    * where the corpus assignment pass already happened (at build or
    * add time) and must not be re-run per restart.
    */
  def ivfTopKAssigned(
      assigned: DataFrame, centroids: Array[Array[Float]],
      queries: DataFrame, k: Int, nProbe: Int = 4,
      idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec",
      maxLiteralCells: Int = IvfLiteralCellGate): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val nCells = centroids.length
    val probes = math.min(nProbe, nCells)
    // queries: nProbe best cells — sort (−cos, idx) structs, take nProbe
    val qb = withCellCosines(queries, centroids, qvecCol, maxLiteralCells)
      .withColumn("__ranked", sort_array(zip_with(
        col("__cos"), sequence(lit(1), lit(nCells)),
        (c, i) => struct((-c).as("negc"), i.as("idx")))))
      .withColumn("cell",
        explode(slice(transform(col("__ranked"), s => s("idx").cast("int")),
          1, probes)))
      .drop("__cos", "__ranked", "__cents")
    val scored = assigned.join(qb, Seq("cell"))
      .filter(col(idCol) =!= col(qidCol))
      .dropDuplicates(qidCol, idCol)
      .withColumn("sim", cosine(col(vecCol), col(qvecCol)))
    rankTopK(scored, k, idCol, qidCol)
  }

  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4,
      sampleSize: Int = 2048, iters: Int = 10,
      idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec",
      maxLiteralCells: Int = IvfLiteralCellGate,
      trained: Option[Array[Array[Float]]] = None): DataFrame = {
    // an underfull corpus yields fewer centroids than requested: all cell
    // arithmetic below must use the ACTUAL count, or queries would probe
    // null-padded phantom cells and match nothing
    val centroids = trained.getOrElse(
      ivfCentroids(corpus, nCentroids, sampleSize, iters, idCol, vecCol))
    if (centroids.isEmpty)
      return corpus.sparkSession.emptyDataFrame
        .select(lit(0L).as(qidCol), lit(0L).as("neighbor_id"),
          lit(0).as("rank"), lit(0.0).as("sim")).limit(0)
    ivfTopKAssigned(
      ivfAssign(corpus, centroids, idCol, vecCol, maxLiteralCells),
      centroids, queries, k, nProbe, idCol, vecCol, qidCol, qvecCol,
      maxLiteralCells)
  }

  /** IVF probe-COST audit: for each candidate probe count, how many
    * corpus rows an [[ivfTopK]] query at that nProbe would scan, and the
    * corpus share — the cost half of the recall-vs-cost tuning curve
    * (v20's recall sweep is the other half; together they pick nProbe).
    *
    * Computed from CELL SIZES, never by materializing candidates: the
    * per-(query, probe) total is Σ probed |cell| via a nCells-row
    * broadcast join, minus the query's own-row hits (an id-equality
    * equi-join against the slim (id, cell) assignment — the exact mirror
    * of [[ivfTopK]]'s `id =!= qid` exclusion). The audit therefore costs
    * O(|Q|·probes) past the one cell-assignment scan, independent of
    * corpus size; the corpus total rides a 1-row broadcast (the t16
    * discipline, NLJ-allowlisted).
    */
  def ivfProbeCost(
      corpus: DataFrame, queries: DataFrame, probes: Seq[Int],
      nCentroids: Int = 16,
      sampleSize: Int = 2048, iters: Int = 10,
      idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec",
      maxLiteralCells: Int = IvfLiteralCellGate,
      trained: Option[Array[Array[Float]]] = None): DataFrame = {
    require(probes.nonEmpty && probes.forall(_ >= 1),
      s"probes must be >= 1, got $probes")
    val centroids = trained.getOrElse(
      ivfCentroids(corpus, nCentroids, sampleSize, iters, idCol, vecCol))
    val nCells = centroids.length
    val cb = withCellCosines(corpus, centroids, vecCol, maxLiteralCells)
      .withColumn("cell", argmaxCell)
      .select(col(idCol).as("__cid"), col("cell"))
    val csz = cb.groupBy(col("cell")).agg(count(lit(1)).as("__csz"))
    val tot = csz.agg(sum(col("__csz")).as("__corpus"))
    val probed = withCellCosines(queries, centroids, qvecCol, maxLiteralCells)
      .withColumn("__order", transform(sort_array(zip_with(
        col("__cos"), sequence(lit(1), lit(nCells)),
        (c, i) => struct((-c).as("negc"), i.as("idx")))),
        s => s("idx").cast("int")))
      .withColumn("n_probe", explode(array(probes.map(lit(_)): _*)))
      .withColumn("cell", explode(slice(col("__order"), lit(1),
        least(col("n_probe"), lit(nCells)))))
      .select(col(qidCol), col("n_probe"), col("cell"))
    val sums = probed.join(broadcast(csz), Seq("cell"))
      .groupBy(col(qidCol), col("n_probe"))
      .agg(sum(col("__csz")).as("__tot"))
    val selfh = probed.join(cb,
        probed("cell") === cb("cell") && probed(qidCol) === cb("__cid"))
      .groupBy(col(qidCol), col("n_probe"))
      .agg(count(lit(1)).as("__sh"))
    sums.join(selfh, Seq(qidCol, "n_probe"), "left")
      .crossJoin(broadcast(tot))
      .select(col("n_probe"), col(qidCol),
        (col("__tot") - coalesce(col("__sh"), lit(0L))).as("n_candidates"),
        round((col("__tot") - coalesce(col("__sh"), lit(0L))).cast("double")
          / col("__corpus").cast("double"), 6).as("corpus_share"))
  }

  /** Filtered ANN: [[ivfTopK]] under a metadata predicate — each query
    * sees only corpus rows whose `catCol` equals its `qcatCol` (the
    * production "search within a tenant / category / license bucket"
    * shape). The predicate rides the CANDIDATE JOIN KEY (cell, cat),
    * not a post-rank filter: post-filtering an unfiltered top-k throws
    * away recall (mismatched neighbors leave < k survivors), while here
    * candidates are pruned inside the shuffle itself before any cosine
    * is scored. Cells are trained once on the FULL corpus (the FAISS
    * IDSelector discipline), so one index serves every predicate value
    * and adding a new category re-trains nothing.
    */
  def filteredIvfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      catCol: String, qcatCol: String,
      nCentroids: Int = 16, nProbe: Int = 4,
      sampleSize: Int = 2048, iters: Int = 10,
      idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec",
      maxLiteralCells: Int = IvfLiteralCellGate,
      trained: Option[Array[Array[Float]]] = None): DataFrame = {
    val centroids = trained.getOrElse(
      ivfCentroids(corpus, nCentroids, sampleSize, iters, idCol, vecCol))
    if (centroids.isEmpty)
      return corpus.sparkSession.emptyDataFrame
        .select(lit(0L).as(qidCol), lit(0L).as("neighbor_id"),
          lit(0).as("rank"), lit(0.0).as("sim")).limit(0)
    val nCells = centroids.length
    val probes = math.min(nProbe, nCells)
    val cb = withCellCosines(corpus, centroids, vecCol, maxLiteralCells)
      .withColumn("cell", argmaxCell)
      .drop("__cos", "__cents")
    val qb = withCellCosines(queries, centroids, qvecCol, maxLiteralCells)
      .withColumn("__ranked", sort_array(zip_with(
        col("__cos"), sequence(lit(1), lit(nCells)),
        (c, i) => struct((-c).as("negc"), i.as("idx")))))
      .withColumn("cell",
        explode(slice(transform(col("__ranked"), s => s("idx").cast("int")),
          1, probes)))
      .drop("__cos", "__ranked", "__cents")
      .withColumnRenamed(qcatCol, catCol)
    val scored = cb.join(qb, Seq("cell", catCol))
      .filter(col(idCol) =!= col(qidCol))
      .dropDuplicates(qidCol, idCol)
      .withColumn("sim", cosine(col(vecCol), col(qvecCol)))
    rankTopK(scored, k, idCol, qidCol)
  }

  /** Matryoshka ANN (MRL prefix truncation, Kusupati et al. 2022):
    * coarse ranking on the FIRST `coarseDim` dimensions — matryoshka-
    * trained embeddings pack the most signal into the prefix, so the
    * truncated vector is a usable low-cost index — then an exact
    * full-width re-rank of the per-query shortlist. The third
    * compression family next to SQ (v08, fewer bits/dim) and PQ (v09,
    * codebook codes): fewer DIMS per vector.
    *
    * Scale shape: the coarse pass streams the corpus once against a
    * broadcast |Q| query set with a coarseDim-wide kernel (at dim 64 →
    * 16 that is 4× less arithmetic and — in a production layout where
    * the prefix is stored as its own column/file — 4× less I/O); only
    * |Q|·shortlist ids come back, and the re-rank joins them to the
    * corpus as a BROADCAST (the corpus never shuffles, the v09/v16
    * refine discipline).
    */
  def matryoshkaTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      coarseDim: Int = 16, shortlist: Int = 50,
      idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val wCoarse = Window.partitionBy(col(qidCol))
      .orderBy(col("__csim").desc, col(idCol).asc)
    val short = corpus
      .select(col(idCol), slice(col(vecCol), 1, coarseDim).as("__cv"))
      .crossJoin(broadcast(queries.select(col(qidCol),
        slice(col(qvecCol), 1, coarseDim).as("__cq"))))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("__csim", cosine(col("__cv"), col("__cq")))
      .withColumn("__crank", row_number().over(wCoarse))
      .filter(col("__crank") <= shortlist)
      .select(col(qidCol), col(idCol))
    val rescored = corpus.select(col(idCol), col(vecCol))
      .join(broadcast(short), Seq(idCol))
      .join(broadcast(queries.select(col(qidCol), col(qvecCol))), Seq(qidCol))
      .withColumn("sim", cosine(col(vecCol), col(qvecCol)))
    rankTopK(rescored, k, idCol, qidCol)
  }

  /** Salted triangular-tile all-pairs within equal-key blocks — the
    * shared skew bound under [[semanticDedup]] (blocks = k-means cells)
    * and [[cosineNearDupPairs]] (blocks = hyperplane buckets).
    *
    * Input: (`blockCol`, id, vec). Output: one row per unordered pair of
    * distinct ids sharing a block — (a_id, a_vec, b_id, b_vec), each pair
    * EXACTLY once (orientation unspecified across salt groups; callers
    * normalize with least/greatest).
    *
    * Mechanics: blocks larger than `maxBlockRows` are salted into
    * `s = ⌈|block|/maxBlockRows⌉` deterministic groups (`xxhash64(id) mod
    * s`) and the all-pairs test is decomposed into the s(s+1)/2
    * triangular tiles (gᵢ ≤ gⱼ): a row with salt g enters tiles
    * (g, g..s−1) on the build side and (0..g, g) on the probe side, so an
    * unordered pair with salts (gₐ, g_b) meets in EXACTLY the tile
    * (min, max) — coverage is preserved, nothing is compared twice (the
    * same-tile orientation dup is removed by the salt/id filter below),
    * and the per-task comparison count is bounded by ~maxBlockRows²
    * regardless of skew. Total comparison work is unchanged (the callers'
    * contract IS exact within-block all-pairs); what the cap buys is that
    * the work spreads across tiles instead of serializing in one task.
    * Row replication is s+1 copies per row ≈ |block|/maxBlockRows —
    * always ≪ the |block|²/2 comparisons the tiles carry, so shuffle
    * volume never dominates.
    *
    * Block sizes come from a `groupBy(blockCol).count()` — a second
    * linear pass, deliberately: map-side combine keeps it fully parallel,
    * where a window-count would gather the mega block into the very
    * straggler task the cap exists to prevent. The size table is one row
    * per DISTINCT block (≤ nCentroids cells / 2^nPlanes buckets), so the
    * broadcast is always small.
    */
  private[graft] def saltedBlockPairs(
      rows: DataFrame, blockCol: String, maxBlockRows: Int): DataFrame = {
    require(maxBlockRows >= 1, s"maxBlockRows must be >= 1, got $maxBlockRows")
    // Materialize the slim (id, vec, block) rows ONCE: this operator
    // scans its input three times (size table, left tile leg, right tile
    // leg), and without a checkpoint each pass re-executed the upstream
    // signature/cell-assignment compute (measured: m09's 64-md5-per-row
    // fingerprint pass ran 3x, ~1.6 s of its 3.6 s min at sf0.1). The
    // frame is the blocking-slim projection by construction — at any
    // scale one write + three scans of it beats three recomputes of the
    // corpus-wide kernel feeding it.
    val mat = rows.localCheckpoint()
    val sizes = mat.groupBy(col(blockCol)).agg(count(lit(1)).as("__n"))
    val salted = mat.join(broadcast(sizes), Seq(blockCol))
      .withColumn("__s", greatest(lit(1),
        ceil(col("__n").cast("double") / lit(maxBlockRows))).cast("int"))
      .withColumn("__g", pmod(xxhash64(col("id")), col("__s")).cast("int"))
      .drop("__n")
    val left = salted
      .withColumn("__tj", explode(sequence(col("__g"), col("__s") - lit(1))))
      .select(col(blockCol), col("__g").as("__ti"), col("__tj"),
        col("id").as("a_id"), col("vec").as("a_vec"), col("__g").as("__ga"))
    val right = salted
      .withColumn("__ti", explode(sequence(lit(0), col("__g"))))
      .select(col(blockCol), col("__ti"), col("__g").as("__tj"),
        col("id").as("b_id"), col("vec").as("b_vec"), col("__g").as("__gb"))
    // explicit AQE-exempt width for the quadratic in-tile expansion:
    // AQE sizes the post-join stage from the PRE-join input, which
    // wildly underestimates Σ|block|² output (same guard as Dedup's
    // pair-expansion joins); the tile key spreads a salted block's tiles
    // across these partitions
    val width = expansionParallelism(rows)
    val tileKey = Seq(col(blockCol), col("__ti"), col("__tj"))
    left.repartition(width, tileKey: _*)
      .join(right.repartition(width, tileKey: _*),
        Seq(blockCol, "__ti", "__tj"))
      // each unordered pair exactly once: cross-salt pairs meet only in
      // their (min, max) tile with the smaller salt on the left; same-salt
      // pairs meet twice in tile (g, g) — keep the id-ordered orientation
      .filter(col("__ga") < col("__gb") ||
        (col("__ga") === col("__gb") && col("a_id") < col("b_id")))
      .select(col("a_id"), col("a_vec"), col("b_id"), col("b_vec"))
  }

  /** SemDeDup-style semantic deduplication: k-means cells (the SAME
    * deterministic [[ivfCentroids]] training IVF uses) scope the pairwise
    * cosine test, so the comparison count is Σ|cell|² instead of |corpus|²
    * — the shape that makes embedding dedup feasible at 100 TB (cluster
    * first, compare only within clusters).
    *
    * A row is dropped when an EARLIER id (the deterministic keeper rule:
    * min id wins, matching [[Dedup.exactSurvivors]]) in the same cell has
    * cosine ≥ threshold. Output is the dropped set:
    * (id, dup_of, sim) with dup_of = the smallest such earlier id and
    * sim = cosine(id, dup_of), rounded.
    *
    * Cross-cell near-dup pairs are invisible by design — that recall
    * trade-off is the operator's contract (SemDeDup makes the same one);
    * [[cosineNearDupPairs]] is the blocking-by-bucket alternative, and
    * [[semanticDedupExhaustive]] layers it back on as a recall backstop.
    *
    * '''Skew bound (`maxCellRows`).''' A cell is still all-pairs inside,
    * and `repartition(cell)` alone leaves one mega-cluster as ONE task
    * doing |cell|² work — so the pair generation runs through the shared
    * [[saltedBlockPairs]] triangular-tile decomposition, bounding each
    * task at ~maxCellRows² comparisons regardless of skew while keeping
    * the output bit-identical to the unsalted plan (SimilaritySpec
    * asserts both the sub-split and the degenerate one-cell case).
    */
  def semanticDedup(
      corpus: DataFrame, threshold: Double,
      nCentroids: Int = 16, sampleSize: Int = 2048, iters: Int = 10,
      idCol: String = "id", vecCol: String = "vec",
      maxLiteralCells: Int = IvfLiteralCellGate,
      trained: Option[Array[Array[Float]]] = None,
      maxCellRows: Int = 4096): DataFrame = {
    require(maxCellRows >= 1, s"maxCellRows must be >= 1, got $maxCellRows")
    val centroids = trained.getOrElse(
      ivfCentroids(corpus, nCentroids, sampleSize, iters, idCol, vecCol))
    if (centroids.isEmpty)
      return corpus.sparkSession.emptyDataFrame
        .select(lit(0L).as("id"), lit(0L).as("dup_of"), lit(0.0).as("sim"))
        .limit(0)
    val assigned = withCellCosines(corpus, centroids, vecCol, maxLiteralCells)
      .withColumn("cell", argmaxCell)
      .select(col(idCol).as("id"), col(vecCol).as("vec"), col("cell"))
    val pairs = saltedBlockPairs(assigned, "cell", maxCellRows)
      .withColumn("sim", cosine(col("a_vec"), col("b_vec")))
      .filter(col("sim") >= threshold)
      .withColumn("__lo", least(col("a_id"), col("b_id")))
      .withColumn("__hi", greatest(col("a_id"), col("b_id")))
    val w = Window.partitionBy(col("__hi")).orderBy(col("__lo").asc)
    pairs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("__hi").as("id"), col("__lo").as("dup_of"),
        round(col("sim"), 6).as("sim"))
  }

  /** Cross-group near-pair mining within the deterministic k-means
    * cells — the bitext/parallel-data candidate generator: (id_a, id_b)
    * pairs at cosine ≥ threshold whose GROUPS differ (languages for
    * parallel-corpus mining, sources for cross-source near-dup audits).
    * Same within-cell contract and [[saltedBlockPairs]] skew bound as
    * [[semanticDedup]]; the group table joins on the id AFTER the pair
    * generation and threshold filter, so group metadata never rides the
    * quadratic expansion — only surviving pairs pay the metadata join.
    *
    * Output: (id_a, id_b, grp_a, grp_b, sim), id_a < id_b.
    */
  def crossGroupPairs(
      corpus: DataFrame, groups: DataFrame, threshold: Double,
      nCentroids: Int = 16, sampleSize: Int = 2048, iters: Int = 10,
      idCol: String = "id", vecCol: String = "vec", grpCol: String = "grp",
      maxLiteralCells: Int = IvfLiteralCellGate,
      trained: Option[Array[Array[Float]]] = None,
      maxCellRows: Int = 4096): DataFrame = {
    val centroids = trained.getOrElse(
      ivfCentroids(corpus, nCentroids, sampleSize, iters, idCol, vecCol))
    if (centroids.isEmpty) {
      // empty-corpus result built by the same projections as the
      // non-empty path, so id/grp column TYPES track the caller's inputs
      // (a hardcoded long/string schema would diverge for other key types)
      return corpus.limit(0)
        .select(col(idCol).as("id_a"), col(idCol).as("id_b"),
          lit(0.0).as("sim"))
        .join(groups.limit(0)
          .select(col(idCol).as("id_a"), col(grpCol).as("grp_a")), Seq("id_a"))
        .join(groups.limit(0)
          .select(col(idCol).as("id_b"), col(grpCol).as("grp_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("grp_a"), col("grp_b"),
          col("sim"))
    }
    val assigned = withCellCosines(corpus, centroids, vecCol, maxLiteralCells)
      .withColumn("cell", argmaxCell)
      .select(col(idCol).as("id"), col(vecCol).as("vec"), col("cell"))
    // cosine is orientation-symmetric bit-for-bit (per-element products
    // commute inside the same accumulation order), so the salt-dependent
    // pair orientation cannot perturb sim — the v05 oracle's argument
    val pairs = saltedBlockPairs(assigned, "cell", maxCellRows)
      .withColumn("sim", cosine(col("a_vec"), col("b_vec")))
      .filter(col("sim") >= threshold)
      .select(least(col("a_id"), col("b_id")).as("id_a"),
        greatest(col("a_id"), col("b_id")).as("id_b"),
        round(col("sim"), 6).as("sim"))
    pairs
      .join(groups.select(col(idCol).as("id_a"), col(grpCol).as("grp_a")), Seq("id_a"))
      .join(groups.select(col(idCol).as("id_b"), col(grpCol).as("grp_b")), Seq("id_b"))
      .filter(col("grp_a") =!= col("grp_b"))
      .select(col("id_a"), col("id_b"), col("grp_a"), col("grp_b"), col("sim"))
  }

  /** [[semanticDedup]] with a cross-cell recall backstop: the union of
    * the within-cell pair set and the hyperplane-bucket blocked pair set
    * ([[cosineNearDupPairs]]), re-resolved under the same min-earlier-id
    * keeper rule. Near-identical twins that straddle a k-means cell
    * boundary — invisible to SemDeDup's contract — still collide in their
    * exact hyperplane bucket with probability → 1 as cosine → 1, so at
    * the high thresholds where a user means "drop the twins" the union
    * restores the recall the cell scoping gives up. Both legs run their
    * pair generation through the same [[saltedBlockPairs]] skew bound
    * (cells capped at `maxCellRows`, buckets at `maxBucketRows`), so the
    * union adds no new scale hazard: no block — however mass-duplicated —
    * can collapse into a single quadratic task.
    *
    * Output contract matches [[semanticDedup]]: (id, dup_of, sim) with
    * dup_of = the minimum earlier id related by EITHER leg and sim =
    * cosine(id, dup_of).
    */
  def semanticDedupExhaustive(
      corpus: DataFrame, threshold: Double,
      nCentroids: Int = 16, sampleSize: Int = 2048, iters: Int = 10,
      nPlanes: Int = 8, dim: Int = 64,
      idCol: String = "id", vecCol: String = "vec",
      maxLiteralCells: Int = IvfLiteralCellGate,
      trained: Option[Array[Array[Float]]] = None,
      maxCellRows: Int = 4096,
      maxBucketRows: Int = 4096): DataFrame = {
    val inCell = semanticDedup(corpus, threshold, nCentroids, sampleSize,
      iters, idCol, vecCol, maxLiteralCells, trained, maxCellRows)
    val blocked = cosineNearDupPairs(corpus, threshold, nPlanes, dim,
      idCol, vecCol, maxBucketRows)
      .select(col("id_b").as("id"), col("id_a").as("dup_of"), col("sim"))
    val w = Window.partitionBy(col("id")).orderBy(col("dup_of").asc)
    inCell.unionAll(blocked)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id"), col("dup_of"), col("sim"))
  }

  /** Per-row cluster assignment over the deterministic k-means cells —
    * the reusable primitive behind IVF probing, SemDeDup scoping, and the
    * cluster profile, exposed as an operator so OTHER columns/tables can
    * be analyzed cluster-conditionally (join on the id).
    *
    * Output: (id, cell). One narrow pass; no shuffle.
    */
  def assignCells(
      corpus: DataFrame,
      nCentroids: Int = 16, sampleSize: Int = 2048, iters: Int = 10,
      idCol: String = "id", vecCol: String = "vec",
      maxLiteralCells: Int = IvfLiteralCellGate,
      trained: Option[Array[Array[Float]]] = None): DataFrame = {
    val centroids = trained.getOrElse(
      ivfCentroids(corpus, nCentroids, sampleSize, iters, idCol, vecCol))
    if (centroids.isEmpty)
      return corpus.sparkSession.emptyDataFrame
        .select(lit(0L).as("id"), lit(0).as("cell")).limit(0)
    withCellCosines(corpus, centroids, vecCol, maxLiteralCells)
      .select(col(idCol).as("id"), argmaxCell.as("cell"))
  }

  /** Per-cluster corpus profile over the SAME deterministic k-means cells
    * IVF and SemDeDup use: for each cell, member count, the id of its
    * first member, and the min/max cosine of members to their centroid —
    * the cluster-balance / cluster-tightness readout a domain-mixing or
    * curation pipeline consults before sampling from clusters.
    *
    * All aggregates are picked (count / min / max), never accumulated
    * (no mean), so the result is invariant to row order and bit-exact
    * against any engine computing the same cosines — the property the
    * dynamic SQL oracle relies on.
    *
    * Output: (cell, n_vecs, min_id, min_sim, max_sim). One narrow
    * assignment pass + one groupBy shuffle of nCentroids groups.
    */
  def clusterProfile(
      corpus: DataFrame,
      nCentroids: Int = 16, sampleSize: Int = 2048, iters: Int = 10,
      idCol: String = "id", vecCol: String = "vec",
      maxLiteralCells: Int = IvfLiteralCellGate,
      trained: Option[Array[Array[Float]]] = None): DataFrame = {
    val centroids = trained.getOrElse(
      ivfCentroids(corpus, nCentroids, sampleSize, iters, idCol, vecCol))
    if (centroids.isEmpty)
      return corpus.sparkSession.emptyDataFrame
        .select(lit(0).as("cell"), lit(0L).as("n_vecs"), lit(0L).as("min_id"),
          lit(0.0).as("min_sim"), lit(0.0).as("max_sim")).limit(0)
    withCellCosines(corpus, centroids, vecCol, maxLiteralCells)
      .withColumn("cell", argmaxCell)
      // cosine to the OWN centroid IS the argmax value — no re-compute
      .withColumn("__sim", array_max(col("__cos")))
      .groupBy(col("cell"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col(idCol)).as("min_id"),
        round(min(col("__sim")), 6).as("min_sim"),
        round(max(col("__sim")), 6).as("max_sim"))
  }

  /** Nearest-other-centroid cosine per (1-based) cell — pure driver
    * arithmetic over the ≤k trained centroids (normalized, so cosine =
    * dot), rounded to 6 so the SAME literal is inlined in the plan and
    * in the dynamic oracle: parity by construction.
    */
  private[graft] def nearestOtherCentroid(
      centroids: Array[Array[Float]]): Array[Double] =
    centroids.indices.map { i =>
      val best = centroids.indices.filter(_ != i).map { j =>
        var s = 0.0; var d = 0
        while (d < centroids(i).length) {
          s += centroids(i)(d).toDouble * centroids(j)(d).toDouble; d += 1
        }
        s
      }.max
      BigDecimal(best).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toArray

  /** Cluster-SEPARATION audit over the shared deterministic cells (the
    * Davies–Bouldin-style readout on top of v06's balance profile): per
    * cell, the member count, the exact round-6 mean cosine to the own
    * centroid (per-member round-6 terms summed as DECIMAL — the t30
    * order-independent class, so the mean hash-matches), the
    * nearest-other-centroid cosine (an inlined literal), and the
    * cohesion-minus-confusability margin. A well-separated cell has
    * mean_sim ≫ nn_sim. One scan, one cell-keyed partial agg; the
    * centroid geometry is k²-bounded driver work.
    */
  def clusterSeparation(
      corpus: DataFrame,
      nCentroids: Int = 16, sampleSize: Int = 2048, iters: Int = 10,
      idCol: String = "id", vecCol: String = "vec",
      maxLiteralCells: Int = IvfLiteralCellGate,
      trained: Option[Array[Array[Float]]] = None): DataFrame = {
    val centroids = trained.getOrElse(
      ivfCentroids(corpus, nCentroids, sampleSize, iters, idCol, vecCol))
    if (centroids.length < 2)
      return corpus.sparkSession.emptyDataFrame
        .select(lit(0).as("cell"), lit(0L).as("n_vecs"),
          lit(0.0).as("mean_sim"), lit(0.0).as("nn_sim"),
          lit(0.0).as("margin")).limit(0)
    val nn = nearestOtherCentroid(centroids)
    withCellCosines(corpus, centroids, vecCol, maxLiteralCells)
      .withColumn("cell", argmaxCell)
      .withColumn("__sim", array_max(col("__cos")))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(round(col("__sim"), 6)
          .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(18, 6)))
          .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6))
          .as("__s"))
      .withColumn("mean_sim",
        round(col("__s").cast("double") / col("n_vecs").cast("double"), 6))
      .withColumn("nn_sim",
        element_at(typedLit(nn.toSeq), col("cell")))
      .select(col("cell"), col("n_vecs"), col("mean_sim"), col("nn_sim"),
        round(col("mean_sim") - col("nn_sim"), 6).as("margin"))
  }

  /** Deterministic Lloyd's k-means over a driver-side sample (cosine
    * geometry: points and centroids L2-normalized each round, so argmax
    * cosine = argmin L2). Seeded by taking every ⌈n/k⌉-th sample point.
    */
  private def kmeans(
      sample: Array[Array[Float]], k: Int, iters: Int, dim: Int): Array[Array[Float]] = {
    def normalize(v: Array[Float]): Array[Float] = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
      val n = math.sqrt(s)
      if (n == 0) v else v.map(x => (x / n).toFloat)
    }
    val pts = sample.map(normalize)
    val stride = math.max(1, pts.length / k)
    var cents = Array.tabulate(math.min(k, pts.length))(i => pts(i * stride % pts.length))
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Int](cents.length)
      pts.foreach { p =>
        var best = 0; var bestDot = Double.MinValue
        var c = 0
        while (c < cents.length) {
          var d = 0.0; var i = 0
          while (i < dim) { d += p(i).toDouble * cents(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c)
        else normalize(sums(c).map(x => (x / counts(c)).toFloat))
      }.toArray
    }
    cents
  }

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    * threshold) via hyperplane-bucket blocking + exact verification.
    * Identical/near-identical vectors always share their exact bucket, so
    * true dups are never missed by the blocking for thresholds near 1.
    *
    * '''Skew bound (`maxBucketRows`).''' The operator's own target
    * workload — a mass-duplicated corpus — concentrates the duplicated
    * vectors into ONE exact bucket by construction, so a plain per-bucket
    * self-join would serialize a 10M-copy cluster into a single task
    * doing ~5·10¹³ comparisons. The pair generation therefore runs
    * through the same [[saltedBlockPairs]] triangular-tile decomposition
    * [[semanticDedup]] uses for cells: per-task comparisons are bounded
    * ~maxBucketRows² regardless of bucket skew, and the output is
    * bit-identical to the unsalted join (SimilaritySpec asserts both the
    * sub-split and the degenerate all-one-bucket case).
    */
  def cosineNearDupPairs(
      corpus: DataFrame, threshold: Double,
      nPlanes: Int = 8, dim: Int = 64,
      idCol: String = "id", vecCol: String = "vec",
      maxBucketRows: Int = 4096): DataFrame = {
    val planes = randomPlanes(nPlanes, dim)
    val b = corpus
      .withColumn("bucket", hyperplaneBucket(col(vecCol), planes))
      .select(col(idCol).as("id"), col(vecCol).as("vec"), col("bucket"))
    saltedBlockPairs(b, "bucket", maxBucketRows)
      .withColumn("sim", cosine(col("a_vec"), col("b_vec")))
      .filter(col("sim") >= threshold)
      .select(least(col("a_id"), col("b_id")).as("id_a"),
        greatest(col("a_id"), col("b_id")).as("id_b"),
        round(col("sim"), 6).as("sim"))
  }

  /** Per-label quantized centroid accumulator — the dataset-shift /
    * class-balance profile: int8-quantize each vector
    * ([[graft.functions.VectorFunctions.sqQuantize]]) and SUM per
    * (label, dim) in the INTEGER domain. Long addition is associative-
    * commutative, so the result is exact and reduction-order-free — a
    * float mean drifts by partition order and can hash-match no oracle
    * (the q30 fixed-point trick, applied to embedding space).
    * (sum_code, n_vecs) reconstruct per-label means to quantization
    * precision; the delta between two corpus drops is the drift signal.
    *
    * Scale shape: the ×dim posexplode is the standard columnar
    * expansion; partial aggregation combines per partition before the
    * exchange, so the shuffle carries |labels|·dim rows per partition,
    * never the exploded stream.
    */
  def labelCentroidSums(
      df: DataFrame, labelCol: String = "label",
      vecCol: String = "vec"): DataFrame =
    df.select(col(labelCol).as("label"),
        posexplode(sqQuantize(col(vecCol))).as(Seq("dim", "code")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("code")).as("sum_code"), count(lit(1)).as("n_vecs"))

  // ──────────────────── Product quantization (PQ) ────────────────────

  /** Plain-L2 Lloyd's k-means for PQ sub-spaces (the spherical variant
    * above serves IVF, whose cells live on the unit sphere; PQ
    * sub-vectors don't). Deterministic: stride-sampled init, first-min
    * assignment ties, empty clusters keep their previous centroid.
    */
  private def kmeansL2(
      sample: Array[Array[Float]], k: Int, iters: Int): Array[Array[Float]] = {
    val dim = sample.head.length
    val stride = math.max(1, sample.length / k)
    var cents =
      Array.tabulate(math.min(k, sample.length))(i => sample(i * stride % sample.length))
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Int](cents.length)
      sample.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          var d = 0.0; var i = 0
          while (i < dim) {
            val t = p(i).toDouble - cents(c)(i).toDouble; d += t * t; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(x => (x / counts(c)).toFloat)
      }.toArray
    }
    cents
  }

  /** PQ codebooks: the vector space cut into `m` contiguous sub-spaces,
    * an independent k-codeword L2 k-means per sub-space, trained on the
    * same deterministic bounded sample [[ivfCentroids]] uses (the FAISS
    * train-once shape — driver-side over ≤`sampleSize` rows, never a
    * distributed iteration).
    */
  def pqCodebooks(
      corpus: DataFrame, m: Int, k: Int,
      sampleSize: Int = 2048, iters: Int = 10,
      idCol: String = "id", vecCol: String = "vec"): Array[Array[Array[Float]]] = {
    val sample = corpus.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(sampleSize)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "pqCodebooks needs a non-empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must split evenly into $m sub-spaces")
    val sub = dim / m
    Array.tabulate(m)(mi =>
      kmeansL2(sample.map(_.slice(mi * sub, (mi + 1) * sub)), k, iters))
  }

  /** Σ(aᵢ−bᵢ)² in double, strict left-to-right — the squared form skips
    * the sqrt so the per-codeword argmin is one fewer rounding step (and
    * the oracle mirrors the squared compare, so tie bits can't diverge
    * through a sqrt collapse).
    */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0), (acc, x) => acc + x)

  /** Encode a vector to its `m` PQ codes: per sub-space argmin-distance
    * codeword index (first-min ties, matching list_position semantics).
    * Pure Column composition — codegen'd, no UDF; a 64-float vector
    * compresses to m small ints (4 codes ≈ 64× less state than float32,
    * THE memory/bandwidth lever for trillion-row ANN).
    */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Float]]]): Column = {
    val sub = codebooks(0)(0).length
    val codes = codebooks.zipWithIndex.map { case (cb, mi) =>
      val s = slice(vec, mi * sub + 1, sub)
      // one codebook literal + one lambda per sub-space (not nCodes
      // unrolled aggregate(zip_with) trees over CreateArray literals —
      // the tree-size cut that keeps planning off the v09/v11/v13
      // critical path); per-element arithmetic and first-min tie
      // semantics are unchanged
      val dists = transform(typedLit(cb.map(_.toSeq).toSeq), c => l2sq(s, c))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    array(codes.toIndexedSeq: _*)
  }

  /** Decode PQ codes back to the reconstructed vector (the concatenation
    * of each sub-space's selected codeword, as doubles). Codebooks ride
    * the plan as literals — nothing is looked up at runtime but an
    * `element_at`.
    */
  def pqDecode(codes: Column, codebooks: Array[Array[Array[Float]]]): Column = {
    // one 3-level array literal shared by every sub-space lookup (the
    // unrolled form carried m·nCodes·sub Literal nodes through analysis)
    val books = typedLit(
      codebooks.map(_.map(_.map(_.toDouble).toSeq).toSeq).toSeq)
    concat(codebooks.indices.map { mi =>
      element_at(element_at(books, mi + 1), element_at(codes, mi + 1) + 1)
    }.toIndexedSeq: _*)
  }

  /** PQ ANN with exact re-rank (the FAISS IVFPQ+refine shape): the
    * corpus is encoded to codes (64× smaller than float32 — at 100 TB
    * the codes fit where the vectors never would), the ADC pass scores
    * queries against the RECONSTRUCTED vectors (asymmetric distance:
    * the query stays exact, only the corpus is quantized) to cut
    * |corpus| candidates down to a `refine`-sized shortlist, and only
    * the shortlist's TRUE vectors are fetched for the exact final
    * top-k. The expensive full-width scan touches codes only; full
    * vectors move for |Q|·refine rows, not |corpus|.
    *
    * The reconstruction concatenates sub-space codewords in order, so
    * the 64-element left-to-right distance accumulation equals the
    * per-sub-space sum — one fused codegen'd pass, bit-reproducible
    * against the oracle; both ranking windows tie-break on id.
    */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 4, nCodes: Int = 16, refine: Int = 100,
      trained: Option[Array[Array[Array[Float]]]] = None,
      idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val cbs = trained.getOrElse(pqCodebooks(corpus, m, nCodes, idCol = idCol, vecCol = vecCol))
    // the encode pass is m·nCodes distance kernels per row — the widen
    // gate spreads it when the scan under-partitions (single-row-group
    // files); identity at real split counts
    val enc = widen(corpus.select(col(idCol), col(vecCol)))
      .select(col(idCol), pqEncode(col(vecCol), cbs).as("codes"))
    val adcW = Window.partitionBy(col(qidCol))
      .orderBy(col("adc_dist").asc, col(idCol).asc)
    val shortlist = enc.crossJoin(broadcast(queries.select(col(qidCol), col(qvecCol))))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("adc_dist",
        l2Distance(col(qvecCol), pqDecode(col("codes"), cbs)))
      .withColumn("adc_rank", row_number().over(adcW))
      .filter(col("adc_rank") <= refine)
      .select(col(qidCol), col(idCol))
    // shortlist is |Q|·refine rows — broadcast it back against the
    // corpus so the vector fetch is a broadcast join, not a shuffle
    val refined = corpus.join(broadcast(shortlist), Seq(idCol))
      .join(broadcast(queries), Seq(qidCol))
      .withColumn("dist", l2Distance(col(qvecCol), col(vecCol)))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("dist").asc, col(idCol).asc)
    refined
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col(idCol).as("neighbor_id"),
        col("rank"), round(col("dist"), 6).as("dist"))
  }

  /** PQ codebook-utilization audit — the quantization-health readout
    * FAISS calls the imbalance factor: per sub-space, how many of the
    * trained codewords the corpus actually uses, the hottest codeword's
    * count, and K·Σ(nⱼ/N)² (1.0 = perfectly balanced; → K = every
    * vector on one codeword, at which point the v09/v11 ADC shortlists
    * degrade to near-random). Run it before trusting a trained index —
    * a dead or collapsed sub-space is invisible in recall spot checks.
    *
    * Scale shape: encode fuses into the scan (the v09 pass), the ×m
    * posexplode partially aggregates per partition, so the shuffle
    * carries ≤ m·nCodes rows per partition at any corpus size; all
    * counts exact int64, the imbalance is one round-6 double chain.
    *
    * Output: (subspace, n_used_codes, n_vecs, max_code_count,
    * imbalance).
    */
  def pqUtilization(
      corpus: DataFrame, codebooks: Array[Array[Array[Float]]],
      idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    val nCodes = codebooks(0).length
    widen(corpus.select(col(idCol), col(vecCol)))
      .select(posexplode(pqEncode(col(vecCol), codebooks))
        .as(Seq("subspace", "code")))
      .groupBy(col("subspace"), col("code"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("subspace"))
      .agg(count(lit(1)).as("n_used_codes"),
        sum(col("__c")).as("n_vecs"),
        max(col("__c")).as("max_code_count"),
        sum(col("__c") * col("__c")).as("__ss"))
      .select(col("subspace"), col("n_used_codes"), col("n_vecs"),
        col("max_code_count"),
        round((lit(nCodes.toDouble) * col("__ss").cast("double")) /
          (col("n_vecs").cast("double") * col("n_vecs").cast("double")),
          6).as("imbalance"))
  }

  /** IVF-PQ ANN with exact re-rank — the composition FAISS ships as its
    * production default (IndexIVFPQ + refine), and THE 100 TB ANN
    * architecture: the resident index state per corpus row is one cell
    * int + `m` code bytes (vs 64 float32s — 32–64× smaller, so a
    * trillion-vector index fits a cluster's memory where raw vectors
    * never would), and a query's ADC scan touches only its `nProbe`
    * probed cells (`nProbe/nCentroids` of the corpus) instead of every
    * row — [[pqTopK]]'s full-corpus ADC pass with IVF's candidate
    * pruning layered on top.
    *
    * Plan shape: the encode pass fuses cell-argmax + PQ-encode into the
    * corpus scan (no shuffle); the ADC stage is a single cell-key join
    * against the broadcast probe list; the refine stage fetches true
    * vectors for |Q|·refine rows via a broadcast join. The corpus is
    * never shuffled.
    *
    * Determinism: cell assignment ties → first max (matching
    * `list_position`), ADC and final ranks tie-break on id, and the
    * ADC sum is the left-associated per-sub-space partial order the
    * oracle replays — the v04 + v09 bit-exactness contract extended to
    * the LUT decomposition, so the composed SQL oracle is a full
    * equality check.
    */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 6,
      m: Int = 8, nCodes: Int = 16, refine: Int = 100,
      trainedCells: Option[Array[Array[Float]]] = None,
      trainedBooks: Option[Array[Array[Array[Float]]]] = None,
      idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec",
      maxLiteralCells: Int = IvfLiteralCellGate): DataFrame = {
    val cents = trainedCells.getOrElse(
      ivfCentroids(corpus, nCentroids, idCol = idCol, vecCol = vecCol))
    val cbs = trainedBooks.getOrElse(
      pqCodebooks(corpus, m, nCodes, idCol = idCol, vecCol = vecCol))
    val encoded = ivfPqEncode(corpus, cents, cbs, idCol, vecCol, maxLiteralCells)
    ivfPqTopKEncoded(
      encoded.select(col(idCol), col("cell"), col("codes")),
      // refine on FLOAT vectors, matching the persisted path's
      // array<float> cellSchema (IvfPersist): an array<double> corpus
      // would otherwise re-rank at double precision fresh but float
      // precision reloaded, breaking the reloaded == fresh bit-exactness
      // contract with no error anywhere (float corpora — the test
      // embeddings — are untouched: the cast is a no-op)
      corpus.select(col(idCol), col(vecCol).cast("array<float>").as(vecCol)),
      cents, cbs, queries, k, nProbe, refine,
      idCol, vecCol, qidCol, qvecCol, maxLiteralCells)
  }

  /** Build the resident IVF-PQ index state — (id, cell, codes, vec) —
    * in one fused scan pass (cell argmax + m·nCodes distance kernels;
    * the widen gate spreads it past a parallelism-collapsed scan).
    * Split out of [[ivfPqTopK]] so a PERSISTED index (ops/IvfPersist)
    * encodes arrivals with the exact build kernel and searches reloaded
    * state through the exact search tail ([[ivfPqTopKEncoded]]).
    * `vec` rides through for the persisted refine side; the ADC pass
    * must project it away ([[ivfPqTopK]] does) so candidates stay
    * code-width.
    */
  def ivfPqEncode(
      corpus: DataFrame,
      cents: Array[Array[Float]], cbs: Array[Array[Array[Float]]],
      idCol: String = "id", vecCol: String = "vec",
      maxLiteralCells: Int = IvfLiteralCellGate): DataFrame = {
    require(cents.nonEmpty, "ivfPqEncode needs trained centroids")
    withCellCosines(
        widen(corpus.select(col(idCol), col(vecCol))),
        cents, vecCol, maxLiteralCells)
      .withColumn("cell", argmaxCell)
      .select(col(idCol), col("cell"),
        pqEncode(col(vecCol), cbs).as("codes"), col(vecCol))
  }

  /** IVF-PQ search over a PRE-BUILT index: `encoded` carries
    * (id, cell, codes) — fresh from [[ivfPqEncode]] or reloaded from a
    * Store — and `vectors` (id, vec) is the true-vector side only the
    * |Q|·refine re-rank fetch touches. The exact tail of [[ivfPqTopK]],
    * bit-for-bit (IvfPersistSpec pins reloaded == fresh).
    */
  def ivfPqTopKEncoded(
      encoded: DataFrame, vectors: DataFrame,
      cents: Array[Array[Float]], cbs: Array[Array[Array[Float]]],
      queries: DataFrame, k: Int,
      nProbe: Int = 6, refine: Int = 100,
      idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec",
      maxLiteralCells: Int = IvfLiteralCellGate): DataFrame = {
    require(cents.nonEmpty, "ivfPqTopKEncoded needs trained centroids")
    val nCells = cents.length
    val probes = math.min(nProbe, nCells)
    // queries probe their nProbe best cells (the ivfTopK probe shape),
    // and carry a precomputed ADC lookup table: ||q−recon||² is separable
    // per sub-space, so lut[mi][j] = ||q_mi − codebook[mi][j]||² turns
    // each candidate's distance into m table lookups + adds instead of a
    // dim-wide recompute — FAISS's precomputed distance tables, the step
    // that makes ADC throughput independent of dim. The LUT column is
    // computed BEFORE the probe-cell explode, so its m·nCodes kernel
    // evals run once per query row (the exploded probe rows copy the
    // array, they don't recompute it), amortized over every candidate in
    // the probed cells. Measured ≈ parity with the decode form at the
    // 64-dim test embeddings (the per-row ENCODE pass dominates there);
    // the per-pair saving is dim/m-fold, so at production dims (768+)
    // ADC stops scaling with dim at all.
    val sub = cbs(0)(0).length
    val lut = array(cbs.zipWithIndex.map { case (cb, mi) =>
      val s = slice(col(qvecCol), mi * sub + 1, sub)
      // one codebook literal + one lambda per sub-space (the pqEncode
      // tree-size discipline); per-entry arithmetic unchanged
      transform(typedLit(cb.map(_.toSeq).toSeq), c => l2sq(s, c))
    }.toIndexedSeq: _*)
    val qb = withCellCosines(queries, cents, qvecCol, maxLiteralCells)
      .withColumn("__lut", lut)
      .withColumn("__ranked", sort_array(zip_with(
        col("__cos"), sequence(lit(1), lit(nCells)),
        (c, i) => struct((-c).as("negc"), i.as("idx")))))
      .withColumn("cell",
        explode(slice(transform(col("__ranked"), s => s("idx").cast("int")),
          1, probes)))
      .drop("__cos", "__ranked", "__cents")
    // ADC within probed cells only; a corpus row lives in exactly one
    // cell, so each (query, corpus) pair meets at most once — no dedup.
    // Sum order is mi = 0..m−1 left-associated — the oracle replays the
    // identical parenthesization, so the sqrt sees the same double.
    val adcSq = cbs.indices
      .map(mi => element_at(element_at(col("__lut"), mi + 1),
        element_at(col("codes"), mi + 1) + 1))
      .reduce(_ + _)
    val adcW = Window.partitionBy(col(qidCol))
      .orderBy(col("adc_dist").asc, col(idCol).asc)
    val shortlist = encoded.join(broadcast(qb), Seq("cell"))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("adc_dist", sqrt(adcSq))
      .withColumn("adc_rank", row_number().over(adcW))
      .filter(col("adc_rank") <= refine)
      .select(col(qidCol), col(idCol))
    // exact re-rank on true vectors — |Q|·refine rows, broadcast-joined
    val refined = vectors.join(broadcast(shortlist), Seq(idCol))
      .join(broadcast(queries.select(col(qidCol), col(qvecCol))), Seq(qidCol))
      .withColumn("dist", l2Distance(col(qvecCol), col(vecCol)))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("dist").asc, col(idCol).asc)
    refined
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col(idCol).as("neighbor_id"),
        col("rank"), round(col("dist"), 6).as("dist"))
  }

  /** Incremental IVF index maintenance (the FAISS train-once/add-many
    * path): a batch of new arrivals is assigned to the FROZEN trained
    * centroids — no retrain, no touch of the existing postings — and the
    * report shows the per-cell posting-list growth. At 100 TB this is
    * how the index absorbs a daily ingest: assignment is a narrow
    * per-row pass over the arrivals only (existing cell counts come from
    * the index's own catalog; here both sides are recomputed so the
    * report is self-contained and oracle-able), one partially-aggregated
    * cell count each side, and a |cells|-sized full-outer merge.
    *
    * Assignment is the shared deterministic argmax-cosine cell rule
    * ([[withCellCosines]]/[[argmaxCell]]), so an arrival lands exactly
    * where a full rebuild would put it — adds never skew results, only
    * cell balance (which this report is for).
    *
    * Output: (cell, n_before, n_added, n_after).
    */
  def ivfAddReport(
      existing: DataFrame, arrivals: DataFrame,
      trained: Array[Array[Float]],
      idCol: String = "id", vecCol: String = "vec",
      maxLiteralCells: Int = IvfLiteralCellGate): DataFrame = {
    require(trained.nonEmpty, "trained centroids must be non-empty")
    def cellCounts(df: DataFrame, name: String): DataFrame =
      withCellCosines(df, trained, vecCol, maxLiteralCells)
        .withColumn("cell", argmaxCell)
        .groupBy(col("cell")).agg(count(lit(1)).as(name))
    cellCounts(existing, "__nb")
      .join(cellCounts(arrivals, "__na"), Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("__nb"), lit(0L)).as("n_before"),
        coalesce(col("__na"), lit(0L)).as("n_added"),
        (coalesce(col("__nb"), lit(0L)) + coalesce(col("__na"), lit(0L)))
          .as("n_after"))
  }

  /** Binary-quantized ANN: sign-bit codes + Hamming shortlist + exact
    * cosine rerank — the 1-bit endpoint of the quantization family
    * (v08 int8 SQ → v09/v11 PQ → this). The production pattern for
    * billion-scale retrieval where even PQ codes are too big to scan.
    *
    * Plan shape (the 100 TB story):
    *  1. Each corpus row collapses to (id, ceil(dim/64) packed longs) —
    *     [[graft.functions.VectorFunctions.signPack]] is fused into the
    *     scan, so the candidate stage streams 8 bytes/row of code instead
    *     of 256 bytes of float vector; the float vectors never shuffle.
    *  2. Candidate scoring broadcasts only the query CODES and computes
    *     XOR+popcount per pair (`bit_count`, whole-stage codegen'd) —
    *     integer ALU work, no FP, no array traversal.
    *  3. The per-query Hamming top-`shortlist` survivors (|Q|·shortlist
    *     rows, deterministic tie-break by id) are broadcast back against
    *     the corpus for an exact-cosine rerank — the identical
    *     refine tail v09/v11 use.
    *
    * Hamming on sign bits estimates angular distance (cos θ ≈
    * cos(π·h/dim) — the hyperplane-LSH identity with the coordinate
    * axes as planes), so shortlist ≫ k buys back the quantization
    * recall loss; SimilaritySpec bounds recall vs the exact v01 result.
    */
  def hammingTopK(
      corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      shortlist: Int = 50,
      idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val codes = corpus.select(col(idCol), signPack(col(vecCol), dim).as("__code"))
    val qcodes = queries.select(col(qidCol), signPack(col(qvecCol), dim).as("__qcode"))
    val hw = Window.partitionBy(col(qidCol))
      .orderBy(col("hamming").asc, col(idCol).asc)
    val short = codes.crossJoin(broadcast(qcodes))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("hamming", hammingDist(col("__code"), col("__qcode")))
      .withColumn("__hrank", row_number().over(hw))
      .filter(col("__hrank") <= shortlist)
      .select(col(qidCol), col(idCol), col("hamming"))
    // exact rerank on true vectors — |Q|·shortlist rows, broadcast-joined
    val rer = corpus.join(broadcast(short), Seq(idCol))
      .join(broadcast(queries.select(col(qidCol), col(qvecCol))), Seq(qidCol))
      .withColumn("sim", cosine(col(vecCol), col(qvecCol)))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("sim").desc, col(idCol).asc)
    rer
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col(idCol).as("neighbor_id"), col("rank"),
        col("hamming"), round(col("sim"), 6).as("sim"))
  }
}
