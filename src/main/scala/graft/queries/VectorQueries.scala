package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine.table
import graft.ops
import graft.ops.Similarity

/** Similarity-search query surface over `embeddings` (64-dim float
  * vectors).
  *
  * Oracle parity note: cosine is computed in DOUBLE with strict
  * left-to-right accumulation on both sides (Spark: the native fused
  * `cosine_sim` expression, whose accumulator chains preserve the same
  * IEEE order as the composed dot/norm form; DuckDB:
  * `list_cosine_similarity` over `DOUBLE[]`) — verified bit-exact, so
  * even the rounded `sim` column hash-matches.
  */
object VectorQueries {


  /** Trained-index memo: the IVF centroids are a pure deterministic
    * function of (data dir contents, nCentroids), so queries AND their
    * dynamic oracles share one training run instead of re-sampling +
    * re-running k-means per construction. This is the FAISS usage
    * pattern (train once, serve many); every cell and PQ operator takes
    * the trained index as a required argument.
    *
    * The memo key carries a content stamp of the dir's embeddings table,
    * so regenerating a data dir IN PLACE (same path, new data) trains
    * fresh centroids instead of silently serving stale ones
    * (SimilaritySpec proves the invalidation).
    */
  private val centroidMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Long), Array[Array[Float]]]()

  /** Cheap driver-side content stamp: fold of (mtime, length) over the
    * embeddings table's file tree. Any rewrite changes mtime or size.
    */
  private def embeddingsStamp(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().foldLeft(1L)((a, c) => a * 1000003L ^ walk(c))
      else f.lastModified() * 1000003L ^ f.length()
    walk(new java.io.File(s"$dir/embeddings.parquet"))
  }

  private[graft] def centroids(
      s: SparkSession, dir: String, n: Int): Array[Array[Float]] =
    centroidMemo.computeIfAbsent((dir, n, embeddingsStamp(dir)), _ =>
      Similarity.ivfCentroids(
        table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        nCentroids = n))

  /** PQ codebook memo — same train-once/content-stamp contract as
    * [[centroidMemo]], keyed additionally by (m, k).
    */
  private val pqMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int, Long), Array[Array[Array[Float]]]]()

  private[graft] def pqBooks(
      s: SparkSession, dir: String, m: Int, k: Int): Array[Array[Array[Float]]] =
    pqMemo.computeIfAbsent((dir, m, k, embeddingsStamp(dir)), _ =>
      Similarity.pqCodebooks(
        table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        m = m, k = k))

  /** embeddings ∪ (embeddings ⊕ id+1000000000000): plants one exact duplicate per
    * vector (natural max pairwise cosine in the corpus is 0.51, so dup
    * queries need ground truth).
    */
  private def planted(s: SparkSession, dir: String): DataFrame = {
    val e = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    e.unionAll(e.select((col("vec_id") + 1000000000000L).as("vec_id"), col("embedding")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact brute-force ANN baseline: top-10 cosine neighbors for each of
    // the first 5 vectors. Corpus side stays distributed; queries
    // broadcast.
    "v01_ann_bruteforce" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = table(s, dir, "embeddings")
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(e, q, k = 10)
    }),

    // LSH-bucketed ANN (the 100 TB path). Full SQL oracle: the hyperplanes
    // are deterministic (splitmix64, seed 42), so their values are inlined
    // into the oracle SQL as literals, the sign-bit bucket is recomputed
    // with the same left-to-right double dot product, and multiprobe is
    // `xor(bucket, qbucket) IN flips`. SimilaritySpec keeps the recall
    // bound vs. v01.
    "v02_ann_lsh" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = table(s, dir, "embeddings")
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.lshTopK(e, q, k = 10, nPlanes = 4, probeBits = 2)
    }),

    // IVF-cell ANN (the second scale path: k-means cells + nProbe probing,
    // the FAISS-IVF shape). Full SQL oracle, generated per data dir (the
    // centroids are a deterministic function of the table): see
    // [[dynamicOracles]]. SimilaritySpec additionally bounds recall vs v01.
    "v04_ann_ivf" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = table(s, dir, "embeddings")
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopK(e, centroids(s, dir, 16), q, k = 10, nProbe = 6)
    }),

    // Filtered ANN: IVF top-k under a metadata equality predicate
    // (category = vec_id mod 4 as the metadata stand-in) — the
    // "search within a tenant/category" production shape. Pre-filter
    // semantics: the predicate joins as a candidate key alongside the
    // probed cell, so recall is computed within the category rather
    // than post-filtering a global top-k. Same deterministic full-corpus
    // centroids as v04 (one index serves every predicate), so the
    // oracle inlines them as literals — see [[dynamicOracles]].
    "v18_ann_filtered" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          pmod(col("vec_id"), lit(4L)).as("cat"))
      val q = table(s, dir, "embeddings")
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          pmod(col("vec_id"), lit(4L)).as("qcat"))
      Similarity.filteredIvfTopK(e, centroids(s, dir, 16), q, k = 10,
        catCol = "cat", qcatCol = "qcat", nProbe = 6)
    }),

    // Matryoshka ANN: coarse rank on the first 16 of 64 dims (the MRL
    // prefix-truncation path — dimension compression next to v08's bit
    // compression and v09's codebook compression), exact full-width
    // re-rank of a 50-deep shortlist. Static SQL oracle (no trained
    // state): same slice, same cosine kernel contract as v01.
    "v19_ann_matryoshka" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = table(s, dir, "embeddings")
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.matryoshkaTopK(e, q, k = 10, coarseDim = 16,
        shortlist = 50)
    }),

    // ANN recall report — "measure, don't guess" as a first-class
    // operator: per (method, query), recall@10 of every approximate path
    // (LSH, IVF, SQ, PQ, IVF-PQ) against the exact v01 baseline. Every
    // method is deterministic, so the report itself is oracled: the
    // DuckDB side recomputes each method from its own oracle SQL and the
    // same intersection counts must fall out. At 100 TB the baseline leg
    // runs over a sampled query set; the harness shape is unchanged.
    // bf is localCheckpointed so the five legs reuse one materialization
    // instead of replanning the exact scorer per leg.
    "v13_ann_recall" -> ((s, dir) => {
      val bf = queries("v01_ann_bruteforce")(s, dir)
        .select(col("qid"), col("neighbor_id")).localCheckpoint()
      val qids = bf.select(col("qid")).distinct()
      Seq("lsh" -> "v02_ann_lsh", "ivf" -> "v04_ann_ivf",
        "sq" -> "v08_ann_sq", "pq" -> "v09_ann_pq",
        "ivfpq" -> "v11_ann_ivfpq").map { case (m, qn) =>
        val hits = queries(qn)(s, dir)
          .select(col("qid"), col("neighbor_id"))
          .join(bf, Seq("qid", "neighbor_id"), "left_semi")
          .groupBy(col("qid")).agg(count(lit(1)).as("__n"))
        qids.join(hits, Seq("qid"), "left")
          .select(lit(m).as("method"), col("qid"),
            coalesce(col("__n"), lit(0L)).as("n_hits"),
            round(coalesce(col("__n"), lit(0L)).cast("double") / 10.0, 6)
              .as("recall_at_10"))
      }.reduce(_ unionAll _)
    }),

    // IVF probe-recall curve: recall@10 vs the exact baseline at
    // nProbe ∈ {1, 2, 4, 8} — the ANN analog of d14's LSH banding
    // report, measuring the probe/recall tradeoff on the ACTUAL corpus
    // (what picks v04's production nProbe). Each leg is the v04 plan at
    // a different probe count against ONE checkpointed exact baseline;
    // the oracle composes the probe-parameterized IVF oracle per leg,
    // v13-style, so the curve is verified with zero new formulations.
    "v20_ivf_probe_curve" -> ((s, dir) => {
      val bf = queries("v01_ann_bruteforce")(s, dir)
        .select(col("qid"), col("neighbor_id")).localCheckpoint()
      val qids = bf.select(col("qid")).distinct()
      val e = table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = table(s, dir, "embeddings")
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Seq(1, 2, 4, 8).map { p =>
        val hits = Similarity.ivfTopK(e, centroids(s, dir, 16), q, k = 10,
            nProbe = p)
          .select(col("qid"), col("neighbor_id"))
          .join(bf, Seq("qid", "neighbor_id"), "left_semi")
          .groupBy(col("qid")).agg(count(lit(1)).as("__n"))
        qids.join(hits, Seq("qid"), "left")
          .select(lit(p).as("n_probe"), col("qid"),
            coalesce(col("__n"), lit(0L)).as("n_hits"),
            round(coalesce(col("__n"), lit(0L)).cast("double") / 10.0, 6)
              .as("recall_at_10"))
      }.reduce(_ unionAll _)
    }),

    // IVF probe-COST curve: candidates scanned per (query, nProbe) and
    // the corpus share — the cost half of the tuning tradeoff whose
    // recall half is v20; reading the two together picks production
    // nProbe. Cell-size arithmetic only (Similarity.ivfProbeCost) —
    // the audit never materializes a candidate row.
    "v25_ivf_cost_curve" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = table(s, dir, "embeddings")
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfProbeCost(e, centroids(s, dir, 16), q,
        probes = Seq(1, 2, 4, 8))
    }),

    // IVF DELETE maintenance: search over the index with every 9th
    // vector tombstoned — the FAISS remove_ids reality: deletes prune
    // the candidate set (an id anti-join BEFORE cell assignment ships
    // anything), the shared centroids never retrain, and no removed id
    // may surface. Complements v17's incremental ADD.
    "v26_ivf_delete" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val live = e.filter(pmod(col("id"), lit(9)) =!= 0)
      val q = table(s, dir, "embeddings")
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopK(live, centroids(s, dir, 16), q, k = 10, nProbe = 4)
    }),

    // Hard-negative mining: per query, the top-10 most-similar vectors
    // with a DIFFERENT label — the contrastive-training negatives picker
    // (Similarity.hardNegatives: v01's exact scorer with the label
    // exclusion fused into the scan filter; the IVF paths compose the
    // same way at corpus scale).
    "v12_hard_negatives" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("label"))
      val q = table(s, dir, "embeddings")
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      Similarity.hardNegatives(e, q, k = 10)
    }),

    // Embedding-cosine near-dup pairs at ≥ 0.99 over the planted corpus:
    // exactly the 500 planted identical pairs. Blocking cannot miss them
    // (identical vectors share their exact bucket), so the full-pairwise
    // DuckDB oracle is an equality check, not just a bound.
    "v03_cosine_neardups" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(
        planted(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec")),
        threshold = 0.99)),

    // SemDeDup-style semantic dedup: the SAME deterministic k-means cells
    // IVF uses scope the pairwise cosine test (Σ|cell|² comparisons, not
    // |corpus|²); dropped = rows with an earlier same-cell row at cosine
    // ≥ 0.35. Natural corpus — within-cell-only recall IS the operator's
    // contract, and the dynamic oracle (centroid inlining, the v04 trick)
    // recomputes exactly that contract in SQL.
    "v05_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(
        table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        centroids(s, dir, 16), threshold = 0.35)),

    // v05 with the cross-cell recall backstop: within-cell pairs ∪
    // hyperplane-bucket blocked pairs, re-resolved under the same
    // min-earlier-id keeper rule. The dynamic oracle unions the v05
    // cell-pair SQL with the v03-style bucket-pair SQL (8 inlined planes)
    // — both legs bit-exact, so the union is too.
    "v07_semdedup_exhaustive" -> ((s, dir) =>
      Similarity.semanticDedupExhaustive(
        table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        centroids(s, dir, 16), threshold = 0.35)),

    // Cluster profile over the same deterministic k-means cells: member
    // count / first member / centroid-cosine extrema per cell — the
    // cluster-balance readout a domain-mixing pass samples from. All
    // aggregates are picked, never accumulated, so the dynamic oracle is
    // exact (same centroid-inlining as v04/v05).
    "v06_cluster_profile" -> ((s, dir) =>
      Similarity.clusterProfile(
        table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        centroids(s, dir, 16))),

    // Cluster-separation audit (Davies–Bouldin-style) over the same
    // cells: per cell, exact round-6 mean cosine to the own centroid
    // vs the nearest-other-centroid cosine, and the margin between
    // them — the readout that says whether the shared k-means is
    // actually partitioning the space (v05/v11 recall depends on it).
    "v23_cluster_separation" -> ((s, dir) =>
      Similarity.clusterSeparation(
        table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        centroids(s, dir, 16))),

    // Scalar-quantized ANN: corpus AND queries quantized to int8 codes
    // (4x memory/bandwidth vs float32 — the capacity lever at 100 TB),
    // exact top-k over the dequantized floats. Every arithmetic step
    // (clamp, floor-round, /127, float narrow) is the same IEEE op in
    // DuckDB, so the oracle is a full equality check, not a recall bound.
    "v08_ann_sq" -> ((s, dir) => {
      import graft.functions.VectorFunctions.{sqDequantize, sqQuantize}
      val dq = table(s, dir, "embeddings")
        .select(col("vec_id"),
          sqDequantize(sqQuantize(col("embedding"))).as("v8"))
      val e = dq.select(col("vec_id").as("id"), col("v8").as("vec"))
      val q = dq.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v8").as("qvec"))
      Similarity.bruteForceTopK(e, q, k = 10)
    }),

    // Product-quantization ANN with exact re-rank: 8 sub-spaces × 16
    // codewords — each 64-float vector becomes 8 small ints (32× less
    // state than float32, the memory lever none of v01/v02/v04/v08
    // pull); the ADC shortlist (top-100) is re-ranked on true vectors
    // (asymmetric distance + refine, the FAISS shape). Full SQL oracle:
    // codebooks are deterministic (L2 k-means, fixed seed/sample rule),
    // so encode + decode + distance replay in DuckDB with the codebooks
    // inlined as exact decimal literals — see [[dynamicOracles]].
    "v09_ann_pq" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = table(s, dir, "embeddings")
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.pqTopK(e, pqBooks(s, dir, 8, 16), q, k = 10)
    }),

    // IVF-PQ with exact re-rank — the FAISS production composition and
    // THE trillion-row ANN shape: per-row resident state is cell int +
    // 8 code bytes; ADC touches only probed cells (6/16 of the corpus
    // here); true vectors move for |Q|·refine rows. Full SQL oracle:
    // the v04 centroid CTE composed with the v09 codebook CTEs — both
    // legs' bit-exactness arguments carry over unchanged.
    "v11_ann_ivfpq" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = table(s, dir, "embeddings")
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfPqTopK(e, centroids(s, dir, 16), pqBooks(s, dir, 8, 16),
        q, k = 10, nProbe = 6)
    }),

    // Per-label quantized centroid sums: the dataset-shift profile in
    // exact integer arithmetic (int8 codes summed per (label, dim) —
    // order-free, so fully oracleable where a float mean is not).
    "v10_label_centroids" -> ((s, dir) =>
      Similarity.labelCentroidSums(
        table(s, dir, "embeddings")
          .select(col("label"), col("embedding").as("vec")))),

    // Cross-lingual bitext candidate mining: cross-LANGUAGE embedding
    // pairs at cosine >= 0.35 within the shared k-means cells — the
    // parallel-corpus candidate generator (same within-cell contract as
    // v05; language metadata joins after the threshold filter, never
    // riding the quadratic expansion).
    "p09_bitext_candidates" -> ((s, dir) =>
      Similarity.crossGroupPairs(
        table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        centroids(s, dir, 16),
        table(s, dir, "documents")
          .select(col("doc_id").as("id"), col("lang").as("grp")),
        threshold = 0.35)),

    // CROSS-MODAL composition: embedding-space clusters joined back to
    // the text table (vec_id ↔ doc_id) for a cluster-conditioned language
    // histogram — "what does each semantic cluster contain", the readout
    // that drives cluster-aware curation decisions. Assignment is the
    // shared deterministic cell primitive; the join is a plain id
    // equi-join; counts are integer-exact.
    "p03_cluster_language_mix" -> ((s, dir) => {
      val cells = Similarity.assignCells(
        table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        centroids(s, dir, 16))
      val docs = table(s, dir, "documents")
        .select(col("doc_id").as("id"), col("lang"))
      cells.join(docs, Seq("id"))
        .groupBy(col("cell"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // Distributed Lloyd's k-means TRAINING (not just inference like
    // v04's sampled-fit cells): the full corpus participates in every
    // round, fixed-point-integer arithmetic makes the run bit-exact, and
    // the oracle replays all 2 training rounds + final assignment as
    // unrolled SQL — the q30/PageRank discipline applied to a training
    // loop. Per round: map-side assignment against the centroid literal
    // + ONE partially-aggregated (cell, dim) shuffle; the corpus never
    // re-shuffles.
    "v14_kmeans_train" -> ((s, dir) =>
      ops.KMeansTrain.lloydAssign(
        table(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding")),
        k = 8, rounds = 2, idCol = "vec_id", vecCol = "embedding")
        .withColumnRenamed("id", "vec_id")),

    // MMR diversified re-rank: greedy λ=0.5 relevance-vs-redundancy
    // selection of 5 from each query's exact top-20 shortlist — the
    // rerank stage that keeps a result list (or a data-selection round)
    // from being five copies of one document. Oracle unrolls all five
    // greedy steps (correlated max-sim subqueries, the q45 surface).
    "v15_mmr_rerank" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = table(s, dir, "embeddings")
        .filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.mmrSelect(e, q, k = 5, shortlist = 20)
    }),

    // Binary (sign-bit) quantized ANN: 64-dim float32 → ONE packed long,
    // Hamming (XOR+popcount) shortlist, exact-cosine rerank. The 1-bit
    // endpoint of the v08/v09/v11 quantization family. Full SQL oracle:
    // the sign bits and integer Hamming sums are exactly reproducible,
    // and the rerank reuses the established list_cosine_similarity
    // parity contract.
    "v16_ann_hamming" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = table(s, dir, "embeddings")
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.hammingTopK(e, q, k = 10, dim = 64, shortlist = 50)
    }),

    // Incremental IVF add: arrivals (vec_id % 10 == 0) assigned to the
    // FROZEN trained centroids (the shared v04 memo — train once, add
    // many); per-cell posting growth report. Dynamic oracle: same
    // centroid literals, same argmax-cell rule, counts split by the
    // same arrival predicate.
    "v17_ivf_add" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.ivfAddReport(
        existing = e.filter(pmod(col("id"), lit(10)) =!= 0),
        arrivals = e.filter(pmod(col("id"), lit(10)) === 0),
        centroids = centroids(s, dir, 16))
    }),

    // Embedding-norm QA audit: per-label histogram of L2-norm tenth
    // buckets plus each bucket's norm range and dimension check — the
    // ingest gate that catches unnormalized, zero, or truncated vectors
    // before they poison cosine ANN. Norms ride the established
    // left-fold double contract (VectorFunctions.norm ≡ the oracle's
    // list_aggregate sum); buckets are floor(norm·10) integers, and the
    // only cross-row aggregates are counts and min/max (order-safe — no
    // cross-row double sums anywhere). One scan, one partial-agg
    // groupBy over ≤ |labels|·|buckets| cells.
    "v21_norm_audit" -> ((s, dir) => {
      import graft.functions.VectorFunctions.norm
      val e = table(s, dir, "embeddings")
        .select(col("label"), size(col("embedding")).as("__d"),
          norm(col("embedding")).as("__n"))
      e.groupBy(col("label"),
        floor(col("__n") * lit(10.0)).cast("long").as("norm_bucket"))
        .agg(count(lit(1)).as("n_vecs"),
          round(min(col("__n")), 6).as("min_norm"),
          round(max(col("__n")), 6).as("max_norm"),
          min(col("__d")).as("min_dim"), max(col("__d")).as("max_dim"))
    }),

    // PQ codebook-utilization audit (FAISS's imbalance factor): per
    // sub-space, used-codeword count, hottest codeword, and K·Σ(nⱼ/N)²
    // — the trained-index health gate next to v21/v22 (a collapsed
    // sub-space silently degrades every v09/v11 shortlist). Same
    // trained codebooks as v09, so the dynamic oracle replays the enc
    // CTE and re-aggregates — see [[dynamicOracles]].
    "v24_pq_utilization" -> ((s, dir) =>
      Similarity.pqUtilization(
        table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        pqBooks(s, dir, 8, 16))),

    // Int8 scalar-quantization reconstruction-error audit: per-label
    // histogram of L2(original, dequantized) milli-buckets — the
    // quality gate that decides whether the 4× storage cut of the v08
    // path is safe for a corpus (errors concentrate near the clamp
    // boundary if vectors aren't normalized — v21's job to catch).
    // Per-row doubles ride the established l2 fold parity; cross-row
    // aggregates are count/min/max only.
    "v22_sq_error_audit" -> ((s, dir) => {
      import graft.functions.VectorFunctions.{l2Distance, sqDequantize, sqQuantize}
      val e = table(s, dir, "embeddings")
        .select(col("label"),
          l2Distance(col("embedding"),
            sqDequantize(sqQuantize(col("embedding")))).as("__e"))
      e.groupBy(col("label"),
        floor(col("__e") * lit(1000.0)).cast("long").as("err_milli_bucket"))
        .agg(count(lit(1)).as("n_vecs"),
          round(min(col("__e")), 6).as("min_err"),
          round(max(col("__e")), 6).as("max_err"))
    })
  )

  /** The v02 oracle rebuilt from the SAME deterministic constants the
    * query uses: plane values as SQL literals (Double.toString round-trips
    * exactly, so DuckDB parses the identical bits) and the probe-flip set
    * from [[Similarity.probeFlips]].
    */
  private val v02OracleSql: String = {
    val planes = graft.functions.VectorFunctions.randomPlanes(4, 64)
    val flips = Similarity.probeFlips(nPlanes = 4, probeBits = 2)
    def bucket(c: String): String =
      planes.zipWithIndex.map { case (p, i) =>
        val lit = p.mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product($c::DOUBLE[], $lit::DOUBLE[]) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    s"""WITH cb AS (
          SELECT vec_id AS id, embedding AS vec,
            ${bucket("embedding")} AS bucket
          FROM embeddings),
        qb AS (
          SELECT vec_id AS qid, embedding AS qvec,
            ${bucket("embedding")} AS qbucket
          FROM embeddings WHERE vec_id < 5),
        scored AS (
          SELECT qb.qid, cb.id AS neighbor_id,
            list_cosine_similarity(cb.vec::DOUBLE[], qb.qvec::DOUBLE[]) AS sim
          FROM cb, qb
          WHERE cb.id <> qb.qid
            AND xor(cb.bucket, qb.qbucket) IN (${flips.mkString(", ")})),
        ranked AS (
          SELECT qid, neighbor_id, sim,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id ASC) AS rank
          FROM scored)
        SELECT qid, neighbor_id, rank, round(sim, 6) AS sim
        FROM ranked WHERE rank <= 10"""
  }

  /** Shared dynamic-oracle preamble: the `base`/`cb` CTEs with the
    * centroid cosines inlined as EXACT decimal literals (every binary
    * float has one; `BigDecimal(f.toDouble)` is the exact widening, so
    * DuckDB's `::DOUBLE[]` parse yields bit-identical doubles) and the
    * first-max cell assignment + own-centroid cosine. One definition —
    * the four centroid oracles (v04/v05/v06/p03) cannot drift on the
    * byte-exactness contract.
    */
  /** v18's oracle: the v04 IVF oracle with the category equality folded
    * into the candidate join — cb.id % 4 = qp.qcat mirrors the Spark
    * side's (cell, cat) join key exactly.
    */
  private def v18OracleSql(s: SparkSession, dir: String): String = {
    val cents = centroids(s, dir, 16)
    val nCells = cents.length
    val probes = math.min(6, nCells)
    s"""${centroidCellCte(cents)},
        qp AS (
          SELECT vec_id AS qid, embedding AS qvec, vec_id % 4 AS qcat,
            gs.i AS cell
          FROM base, generate_series(1, $nCells) gs(i)
          WHERE vec_id < 5
          QUALIFY row_number() OVER (PARTITION BY vec_id
                    ORDER BY cosl[gs.i] DESC, gs.i ASC) <= $probes),
        scored AS (
          SELECT qp.qid, cb.id AS neighbor_id,
            list_cosine_similarity(cb.vec::DOUBLE[], qp.qvec::DOUBLE[]) AS sim
          FROM cb JOIN qp ON cb.cell = qp.cell AND cb.id % 4 = qp.qcat
            AND cb.id <> qp.qid),
        ranked AS (
          SELECT qid, neighbor_id, sim,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id ASC) AS rank
          FROM scored)
        SELECT qid, neighbor_id, rank, round(sim, 6) AS sim
        FROM ranked WHERE rank <= 10"""
  }

  private def centroidCellCte(cents: Array[Array[Float]]): String = {
    def exact(f: Float): String =
      new java.math.BigDecimal(f.toDouble).toPlainString
    val cosl = cents.map { c =>
      val litArr = c.map(exact).mkString("[", ", ", "]")
      s"list_cosine_similarity(embedding::DOUBLE[], $litArr::DOUBLE[])"
    }.mkString("[", ",\n            ", "]")
    s"""WITH base AS (
          SELECT vec_id, embedding,
            $cosl AS cosl
          FROM embeddings),
        cb AS (
          SELECT vec_id AS id, embedding AS vec,
            CAST(list_position(cosl, list_aggregate(cosl, 'max')) AS INTEGER) AS cell,
            list_aggregate(cosl, 'max') AS sim
          FROM base)"""
  }

  /** The v04 oracle rebuilt from the SAME deterministic constants the
    * query uses — v02's plane-inlining trick, extended to DATA-DEPENDENT
    * constants: the IVF centroids are a deterministic function of the
    * table (k-means, fixed seed/sample rule), so the oracle must be
    * generated against the verify dir (hence a (spark, dir) => SQL entry,
    * not a static string — Verify evaluates these at dump time).
    *
    * Exactness: each centroid float is printed as its EXACT decimal
    * expansion (every binary float has one; `BigDecimal(f.toDouble)` is
    * the exact widening), so DuckDB's `::DOUBLE[]` parse yields bit-for-
    * bit the same doubles Spark's `cosine` reads from the float literals.
    * Cell assignment ties break identically: `array_position(max)` and
    * `list_position(list_aggregate 'max')` both pick the FIRST max; probe
    * ranking orders by (cos DESC, idx ASC) on both sides.
    */
  private def v04OracleSql(s: SparkSession, dir: String): String =
    ivfOracleSql(s, dir, 6)

  /** [[v04OracleSql]] generalized over the probe count — one body serves
    * v04 (6 probes) and every leg of the v20 probe-recall curve.
    */
  private def ivfOracleSql(
      s: SparkSession, dir: String, nProbe: Int,
      corpusWhere: String = ""): String = {
    val cents = centroids(s, dir, 16)
    val nCells = cents.length
    val probes = math.min(nProbe, nCells)
    s"""${centroidCellCte(cents)},
        qp AS (
          SELECT vec_id AS qid, embedding AS qvec, gs.i AS cell
          FROM base, generate_series(1, $nCells) gs(i)
          WHERE vec_id < 5
          QUALIFY row_number() OVER (PARTITION BY vec_id
                    ORDER BY cosl[gs.i] DESC, gs.i ASC) <= $probes),
        scored AS (
          SELECT qp.qid, cb.id AS neighbor_id,
            list_cosine_similarity(cb.vec::DOUBLE[], qp.qvec::DOUBLE[]) AS sim
          FROM cb JOIN qp ON cb.cell = qp.cell AND cb.id <> qp.qid
          $corpusWhere),
        ranked AS (
          SELECT qid, neighbor_id, sim,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id ASC) AS rank
          FROM scored)
        SELECT qid, neighbor_id, rank, round(sim, 6) AS sim
        FROM ranked WHERE rank <= 10"""
  }

  /** The v05 oracle: same centroid-inlining scheme as [[v04OracleSql]]
    * (identical cell assignment SQL), then within-cell pairwise cosine ≥
    * threshold with the min-earlier-id keeper rule. Bit-exactness carries
    * over unchanged: same centroid decimal expansions, same
    * `list_cosine_similarity` double path, same first-max tie-break.
    */
  private def v05OracleSql(s: SparkSession, dir: String): String = {
    val cents = centroids(s, dir, 16)
    s"""${centroidCellCte(cents)},
        pairs AS (
          SELECT b.id AS id, a.id AS dup_of,
            list_cosine_similarity(a.vec::DOUBLE[], b.vec::DOUBLE[]) AS sim
          FROM cb a JOIN cb b ON a.cell = b.cell AND a.id < b.id
          WHERE list_cosine_similarity(a.vec::DOUBLE[], b.vec::DOUBLE[]) >= 0.35)
        SELECT id, dup_of, round(sim, 6) AS sim FROM pairs
        QUALIFY row_number() OVER (PARTITION BY id ORDER BY dup_of ASC) = 1"""
  }

  /** The v07 oracle: the v05 within-cell pair SQL unioned with the
    * v03-style hyperplane-bucket pair SQL (8 planes, same splitmix64
    * constants inlined), then the min-dup_of keeper over the union. Both
    * legs reuse the bit-exactness arguments of their standalone oracles.
    */
  private def v07OracleSql(s: SparkSession, dir: String): String = {
    val cents = centroids(s, dir, 16)
    val planes = graft.functions.VectorFunctions.randomPlanes(8, 64)
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      val lit = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(embedding::DOUBLE[], $lit::DOUBLE[]) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    s"""${centroidCellCte(cents)},
        bk AS (
          SELECT vec_id AS id, embedding AS vec,
            $bucket AS bucket
          FROM embeddings),
        allp AS (
          SELECT b.id AS id, a.id AS dup_of,
            list_cosine_similarity(a.vec::DOUBLE[], b.vec::DOUBLE[]) AS sim
          FROM cb a JOIN cb b ON a.cell = b.cell AND a.id < b.id
          WHERE list_cosine_similarity(a.vec::DOUBLE[], b.vec::DOUBLE[]) >= 0.35
          UNION ALL
          SELECT b.id AS id, a.id AS dup_of,
            list_cosine_similarity(a.vec::DOUBLE[], b.vec::DOUBLE[]) AS sim
          FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.id < b.id
          WHERE list_cosine_similarity(a.vec::DOUBLE[], b.vec::DOUBLE[]) >= 0.35)
        SELECT id, dup_of, round(sim, 6) AS sim FROM allp
        QUALIFY row_number() OVER (PARTITION BY id ORDER BY dup_of ASC) = 1"""
  }

  /** The v06 oracle: the v04/v05 cell-assignment CTE, then per-cell
    * picked aggregates. min/max over the same bit-exact cosine doubles
    * are order-insensitive picks, so no accumulation drift is possible.
    */
  private def v06OracleSql(s: SparkSession, dir: String): String = {
    val cents = centroids(s, dir, 16)
    s"""${centroidCellCte(cents)}
        SELECT cell, count(*) AS n_vecs, min(id) AS min_id,
          round(min(sim), 6) AS min_sim, round(max(sim), 6) AS max_sim
        FROM cb GROUP BY cell"""
  }

  /** The v23 oracle: the shared cell CTE, per-member round-6 sims
    * summed as exact DECIMAL (order-independent, so the mean
    * hash-matches), and the SAME nearest-other-centroid literals the
    * plan inlines (computed once driver-side — parity by
    * construction).
    */
  private def v23OracleSql(s: SparkSession, dir: String): String = {
    val cents = centroids(s, dir, 16)
    val nn = graft.ops.Similarity.nearestOtherCentroid(cents)
    val vals = nn.zipWithIndex.map { case (v, i) =>
      s"(${i + 1}, CAST(${BigDecimal(v).bigDecimal.toPlainString} AS DOUBLE))"
    }.mkString(", ")
    s"""${centroidCellCte(cents)},
        g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
                CAST(sum(CAST(round(sim, 6) AS DECIMAL(18,6)))
                  AS DECIMAL(38,6)) AS s
              FROM cb GROUP BY cell),
        nn AS (SELECT * FROM (VALUES $vals) AS t(cell, nn_sim))
        SELECT g.cell, g.n_vecs,
          round(CAST(g.s AS DOUBLE) / CAST(g.n_vecs AS DOUBLE), 6)
            AS mean_sim,
          nn.nn_sim,
          round(round(CAST(g.s AS DOUBLE) / CAST(g.n_vecs AS DOUBLE), 6)
            - nn.nn_sim, 6) AS margin
        FROM g JOIN nn USING (cell)"""
  }

  /** The p09 oracle: the shared cell-assignment CTE, within-cell pairs
    * at the threshold (v05's pair SQL), then the documents join for
    * languages and the cross-language filter — the metadata join adds
    * no arithmetic, so v05's bit-exactness argument carries over.
    */
  private def p09OracleSql(s: SparkSession, dir: String): String = {
    val cents = centroids(s, dir, 16)
    s"""${centroidCellCte(cents)},
        p AS (
          SELECT a.id AS id_a, b.id AS id_b,
            round(list_cosine_similarity(a.vec::DOUBLE[], b.vec::DOUBLE[]), 6) AS sim
          FROM cb a JOIN cb b ON a.cell = b.cell AND a.id < b.id
          WHERE list_cosine_similarity(a.vec::DOUBLE[], b.vec::DOUBLE[]) >= 0.35)
        SELECT p.id_a, p.id_b, da.lang AS grp_a, db.lang AS grp_b, p.sim
        FROM p
        JOIN documents da ON da.doc_id = p.id_a
        JOIN documents db ON db.doc_id = p.id_b
        WHERE da.lang <> db.lang"""
  }

  /** The p03 oracle: the shared cell-assignment CTE joined to documents
    * on the aligned id, then integer-exact counts.
    */
  private def p03OracleSql(s: SparkSession, dir: String): String = {
    val cents = centroids(s, dir, 16)
    s"""${centroidCellCte(cents)}
        SELECT cb.cell, d.lang, count(*) AS n_docs
        FROM cb JOIN documents d ON d.doc_id = cb.id
        GROUP BY cb.cell, d.lang"""
  }

  /** The v09 oracle: PQ encode + decode + asymmetric distance replayed
    * in DuckDB with the trained codebooks inlined as exact decimal
    * literals (the centroidCellCte exactness argument, applied to the
    * per-sub-space codeword tables).
    *
    * Bit-exactness chain: per-codeword distances are Σ(aᵢ−bᵢ)² in double
    * left-to-right (Spark `aggregate` ≡ DuckDB `list_aggregate 'sum'`);
    * the argmin is a first-match position over identical doubles
    * (`array_position`/`list_position` of the min); the reconstruction
    * concatenates codewords in sub-space order, so the final 64-element
    * sqrt-of-sum runs the identical IEEE sequence on both engines.
    */
  private def exactF(f: Float): String =
    new java.math.BigDecimal(f.toDouble).toPlainString

  /** The PQ encode/reconstruct CTE bodies (`d`, `enc`, `rec`), shared by
    * the v09 and v11 oracles so the codebook-inlining exactness contract
    * has one definition. `d` computes per-sub-space codeword distances,
    * `enc` the argmin codes, `rec` the reconstructed DOUBLE[] vector.
    */
  private def pqEncRecCtes(cbs: Array[Array[Array[Float]]]): String = {
    val sub = cbs(0)(0).length
    // per-sub-space distance list: one Σ(aᵢ−bᵢ)² per codeword
    def distList(mi: Int): String =
      cbs(mi).map { c =>
        val lit = c.map(exactF).mkString("[", ", ", "]")
        val off = mi * sub
        s"""list_aggregate(list_transform(range(1, ${sub + 1}),
             i -> (CAST(embedding[i + $off] AS DOUBLE) - ($lit)[i])
                * (CAST(embedding[i + $off] AS DOUBLE) - ($lit)[i])), 'sum')"""
      }.mkString("[", ",\n            ", "]")
    def bookLit(mi: Int): String =
      cbs(mi).map(_.map(exactF).mkString("[", ", ", "]"))
        .mkString("[", ",\n            ", "]")
    val reconExpr = cbs.indices
      .map(mi => s"(${bookLit(mi)})[c$mi + 1]").mkString(" || ")
    s"""d AS (
          SELECT vec_id, embedding,
            ${cbs.indices.map(mi => s"${distList(mi)} AS d$mi").mkString(",\n            ")}
          FROM embeddings),
        enc AS (
          SELECT vec_id, embedding,
            ${cbs.indices.map(mi =>
              s"CAST(list_position(d$mi, list_aggregate(d$mi, 'min')) - 1 AS INTEGER) AS c$mi")
              .mkString(",\n            ")}
          FROM d),
        rec AS (
          SELECT vec_id, $reconExpr AS recon FROM enc)"""
  }

  /** Squared-diff-sum distance between a query vector and a corpus-side
    * DOUBLE[] expression — the shared sqrt(Σ(aᵢ−bᵢ)²) SQL fragment.
    */
  private def l2SqlExpr(dim: Int, a: String, b: String): String =
    s"""sqrt(list_aggregate(list_transform(range(1, ${dim + 1}),
              i -> (CAST($a[i] AS DOUBLE) - $b)
                 * (CAST($a[i] AS DOUBLE) - $b)), 'sum'))"""

  private def v09OracleSql(s: SparkSession, dir: String): String = {
    val cbs = pqBooks(s, dir, 8, 16)
    val dim = cbs(0)(0).length * cbs.length
    s"""WITH ${pqEncRecCtes(cbs)},
        q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
              WHERE vec_id < 5),
        shortlist AS (
          SELECT q.qid, r.vec_id AS neighbor_id,
            ${l2SqlExpr(dim, "q.qvec", "r.recon[i]")} AS adc_dist
          FROM rec r, q WHERE r.vec_id <> q.qid
          QUALIFY row_number() OVER (PARTITION BY qid
            ORDER BY adc_dist ASC, neighbor_id ASC) <= 100),
        refined AS (
          SELECT s.qid, s.neighbor_id,
            ${l2SqlExpr(dim, "q.qvec", "CAST(e.embedding[i] AS DOUBLE)")} AS dist
          FROM shortlist s
          JOIN embeddings e ON e.vec_id = s.neighbor_id
          JOIN q ON q.qid = s.qid),
        ranked AS (
          SELECT qid, neighbor_id, dist,
            row_number() OVER (PARTITION BY qid ORDER BY dist ASC, neighbor_id ASC) AS rank
          FROM refined)
        SELECT qid, neighbor_id, rank, round(dist, 6) AS dist
        FROM ranked WHERE rank <= 10"""
  }

  /** The v11 oracle: the v04 centroid-cell CTE composed with the v09 PQ
    * encode CTEs — corpus rows carry (cell, codes); queries probe their
    * 6 best cells; the ADC shortlist is restricted to probed cells and
    * scored by the LUT decomposition the operator uses — per-sub-space
    * squared partials against the SELECTED codeword, summed mi-ascending
    * left-associated (`p0 + p1 + …` parses left-assoc, matching the
    * Scala `reduce`), sqrt at the end — so every surviving double is
    * bit-identical; refine and final ranking replay v09's
    * exact-distance SQL.
    */
  private def v11OracleSql(s: SparkSession, dir: String): String = {
    val cents = centroids(s, dir, 16)
    val cbs = pqBooks(s, dir, 8, 16)
    val dim = cbs(0)(0).length * cbs.length
    val sub = cbs(0)(0).length
    val nCells = cents.length
    val probes = math.min(6, nCells)
    // per-sub-space partial: ||q_mi − codebook[mi][c_mi]||² with the
    // selected codeword picked by the row's code — same exact-decimal
    // codebook literals as the enc CTE
    def bookLit(mi: Int): String =
      cbs(mi).map(_.map(exactF).mkString("[", ", ", "]"))
        .mkString("[", ",\n            ", "]")
    val adcSq = cbs.indices.map { mi =>
      val off = mi * sub
      s"""list_aggregate(list_transform(range(1, ${sub + 1}),
            i -> (CAST(q.qvec[i + $off] AS DOUBLE) - (${bookLit(mi)})[e.c$mi + 1][i])
               * (CAST(q.qvec[i + $off] AS DOUBLE) - (${bookLit(mi)})[e.c$mi + 1][i])), 'sum')"""
    }.mkString("(", "\n          + ", ")")
    s"""${centroidCellCte(cents)},
        ${pqEncRecCtes(cbs)},
        q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
              WHERE vec_id < 5),
        qp AS (
          SELECT vec_id AS qid, gs.i AS cell
          FROM base, generate_series(1, $nCells) gs(i)
          WHERE vec_id < 5
          QUALIFY row_number() OVER (PARTITION BY vec_id
                    ORDER BY cosl[gs.i] DESC, gs.i ASC) <= $probes),
        shortlist AS (
          SELECT q.qid, e.vec_id AS neighbor_id,
            sqrt($adcSq) AS adc_dist
          FROM enc e
          JOIN cb ON cb.id = e.vec_id
          JOIN qp ON qp.cell = cb.cell AND e.vec_id <> qp.qid
          JOIN q ON q.qid = qp.qid
          QUALIFY row_number() OVER (PARTITION BY q.qid
            ORDER BY adc_dist ASC, neighbor_id ASC) <= 100),
        refined AS (
          SELECT s.qid, s.neighbor_id,
            ${l2SqlExpr(dim, "q.qvec", "CAST(e.embedding[i] AS DOUBLE)")} AS dist
          FROM shortlist s
          JOIN embeddings e ON e.vec_id = s.neighbor_id
          JOIN q ON q.qid = s.qid),
        ranked AS (
          SELECT qid, neighbor_id, dist,
            row_number() OVER (PARTITION BY qid ORDER BY dist ASC, neighbor_id ASC) AS rank
          FROM refined)
        SELECT qid, neighbor_id, rank, round(dist, 6) AS dist
        FROM ranked WHERE rank <= 10"""
  }

  /** Oracles that depend on the data dir (deterministic-but-data-derived
    * constants). Evaluated by Verify at dump time against the verify dir.
    */
  /** v13's oracle composes each method's own oracle SQL (static or
    * data-dependent) as an isolated nested-WITH subquery against the
    * v01 exact baseline CTE, so the recall arithmetic is verified with
    * ZERO new method formulations — a regression in any method's oracle
    * or plan shows up as a recall mismatch here too.
    */
  private def v13OracleSql(s: SparkSession, dir: String): String = {
    val legs = Seq(
      "lsh" -> oracles("v02_ann_lsh"),
      "ivf" -> v04OracleSql(s, dir),
      "sq" -> oracles("v08_ann_sq"),
      "pq" -> v09OracleSql(s, dir),
      "ivfpq" -> v11OracleSql(s, dir))
    val union = legs.map { case (m, sql) =>
      s"""SELECT '$m' AS method, q.qid,
            CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
            round(CAST(coalesce(h.n, 0) AS DOUBLE) / 10.0, 6) AS recall_at_10
          FROM qids q LEFT JOIN (
            SELECT m.qid, count(*) AS n
            FROM ($sql) m
            JOIN bf ON bf.qid = m.qid AND bf.neighbor_id = m.neighbor_id
            GROUP BY m.qid) h ON q.qid = h.qid"""
    }.mkString("\nUNION ALL\n")
    s"""WITH bf AS (${oracles("v01_ann_bruteforce")}),
        qids AS (SELECT DISTINCT qid FROM bf)
        $union"""
  }

  /** v17's oracle: the [[centroidCellCte]] assignment (identical
    * centroid decimal literals and first-max tie-break), counts split by
    * the arrival predicate, |cells|-sized full-outer merge. All counts
    * CAST BIGINT.
    */
  private def v17OracleSql(s: SparkSession, dir: String): String = {
    val cents = centroids(s, dir, 16)
    s"""${centroidCellCte(cents)},
        b AS (SELECT cell, count(*) AS n FROM cb
              WHERE id % 10 <> 0 GROUP BY cell),
        a AS (SELECT cell, count(*) AS n FROM cb
              WHERE id % 10 = 0 GROUP BY cell)
        SELECT coalesce(b.cell, a.cell) AS cell,
          CAST(coalesce(b.n, 0) AS BIGINT) AS n_before,
          CAST(coalesce(a.n, 0) AS BIGINT) AS n_added,
          CAST(coalesce(b.n, 0) + coalesce(a.n, 0) AS BIGINT) AS n_after
        FROM b FULL OUTER JOIN a ON b.cell = a.cell"""
  }

  /** v20's oracle: the v13 composition scheme with the SAME ivf oracle
    * body at each probe count.
    */
  private def v20OracleSql(s: SparkSession, dir: String): String = {
    val union = Seq(1, 2, 4, 8).map { p =>
      val sql = ivfOracleSql(s, dir, p)
      s"""SELECT $p AS n_probe, q.qid,
            CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
            round(CAST(coalesce(h.n, 0) AS DOUBLE) / 10.0, 6)
              AS recall_at_10
          FROM qids q LEFT JOIN (
            SELECT m.qid, count(*) AS n
            FROM ($sql) m
            JOIN bf ON bf.qid = m.qid AND bf.neighbor_id = m.neighbor_id
            GROUP BY m.qid) h ON q.qid = h.qid"""
    }.mkString("\nUNION ALL\n")
    s"""WITH bf AS (${oracles("v01_ann_bruteforce")}),
        qids AS (SELECT DISTINCT qid FROM bf)
        $union"""
  }

  /** The v24 oracle: the shared PQ enc CTE (same codebook literals, same
    * argmin rule as v09), unpivoted to a (subspace, code) stream and
    * re-aggregated — every count is exact int64, the imbalance replays
    * the identical (K·Σn²)/(N·N) double chain.
    */
  private def v24OracleSql(s: SparkSession, dir: String): String = {
    val cbs = pqBooks(s, dir, 8, 16)
    val nCodes = cbs(0).length
    val legs = cbs.indices
      .map(mi => s"SELECT $mi AS subspace, c$mi AS code FROM enc")
      .mkString("\n          UNION ALL ")
    s"""WITH ${pqEncRecCtes(cbs)},
        h AS ($legs),
        g AS (SELECT subspace, code, CAST(count(*) AS BIGINT) AS c
              FROM h GROUP BY 1, 2),
        a AS (SELECT subspace,
                CAST(count(*) AS BIGINT) AS n_used_codes,
                CAST(sum(c) AS BIGINT) AS n_vecs,
                CAST(max(c) AS BIGINT) AS max_code_count,
                CAST(sum(c * c) AS BIGINT) AS ss
              FROM g GROUP BY 1)
        SELECT CAST(subspace AS INTEGER) AS subspace, n_used_codes,
          n_vecs, max_code_count,
          round(($nCodes.0 * CAST(ss AS DOUBLE)) /
            (CAST(n_vecs AS DOUBLE) * CAST(n_vecs AS DOUBLE)), 6)
            AS imbalance
        FROM a"""
  }

  /** The v25 oracle: the shared centroid-inlining cell CTE, cell sizes
    * exact int64, probe ranking by the identical (cos DESC, idx ASC)
    * rule, Σ|cell| minus the own-row hit, one round-6 share division.
    */
  private def v25OracleSql(s: SparkSession, dir: String): String = {
    val cents = centroids(s, dir, 16)
    val nCells = cents.length
    s"""${centroidCellCte(cents)},
        cs AS (SELECT cell, CAST(count(*) AS BIGINT) AS csz
               FROM cb GROUP BY 1),
        qr AS (SELECT vec_id AS qid, gs.i AS cell,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY cosl[gs.i] DESC, gs.i ASC) AS rnk
               FROM base, generate_series(1, $nCells) gs(i)
               WHERE vec_id < 5),
        pp AS (SELECT * FROM (VALUES (1), (2), (4), (8)) t(p)),
        probed AS (SELECT pp.p, qr.qid, qr.cell
                   FROM pp JOIN qr ON qr.rnk <= pp.p),
        tot AS (SELECT p, qid, CAST(sum(csz) AS BIGINT) AS t
                FROM probed JOIN cs USING (cell) GROUP BY 1, 2),
        selfh AS (SELECT p, qid, CAST(count(*) AS BIGINT) AS sh
                  FROM probed JOIN cb
                    ON cb.cell = probed.cell AND cb.id = probed.qid
                  GROUP BY 1, 2),
        n AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM cb)
        SELECT tot.p AS n_probe, tot.qid,
          tot.t - coalesce(selfh.sh, 0) AS n_candidates,
          round(CAST(tot.t - coalesce(selfh.sh, 0) AS DOUBLE)
            / CAST(n.nc AS DOUBLE), 6) AS corpus_share
        FROM tot
        LEFT JOIN selfh ON selfh.p = tot.p AND selfh.qid = tot.qid
        CROSS JOIN n"""
  }

  val dynamicOracles: Map[String, (SparkSession, String) => String] = Map(
    // v26: the v04 oracle body with the tombstone filter on the
    // CANDIDATE side only (queries still come from the full table).
    "v26_ivf_delete" -> ((s: SparkSession, dir: String) =>
      ivfOracleSql(s, dir, nProbe = 4,
        corpusWhere = "WHERE cb.id % 9 <> 0")),
    "v25_ivf_cost_curve" -> (v25OracleSql(_, _)),
    "v24_pq_utilization" -> (v24OracleSql(_, _)),
    "v20_ivf_probe_curve" -> (v20OracleSql(_, _)),
    "v17_ivf_add" -> (v17OracleSql(_, _)),
    "v13_ann_recall" -> (v13OracleSql(_, _)),
    "v09_ann_pq" -> (v09OracleSql(_, _)),
    "v11_ann_ivfpq" -> (v11OracleSql(_, _)),
    "p09_bitext_candidates" -> (p09OracleSql(_, _)),
    "v04_ann_ivf" -> (v04OracleSql(_, _)),
    "v18_ann_filtered" -> (v18OracleSql(_, _)),
    "v05_semantic_dedup" -> (v05OracleSql(_, _)),
    "v07_semdedup_exhaustive" -> (v07OracleSql(_, _)),
    "v06_cluster_profile" -> (v06OracleSql(_, _)),
    "v23_cluster_separation" -> (v23OracleSql(_, _)),
    "p03_cluster_language_mix" -> (p03OracleSql(_, _)))

  /** v15's oracle: the v01 scored CTE cut to a top-20 shortlist, a
    * pairwise candidate-sim table, then the five greedy MMR steps
    * unrolled — each step excludes the already-selected set (NOT
    * EXISTS) and subtracts the correlated max selected-sim. λ=0.5 is
    * exact in binary, cosines are bit-identical across engines (the v01
    * contract), so every intermediate score matches bitwise.
    */
  private def v15OracleSql: String = {
    val steps = (2 to 5).map { i =>
      val prevUnion = (1 until i)
        .map(j => s"SELECT qid, id FROM sel$j").mkString(" UNION ALL ")
      s"""prev$i AS ($prevUnion),
         st$i AS (
           SELECT qid, id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
           FROM (
             SELECT c.qid, c.id,
               0.5 * c.rel - 0.5 * (
                 SELECT max(ps.sim) FROM ps JOIN prev$i p
                   ON p.qid = ps.qid AND ps.idb = p.id
                 WHERE ps.qid = c.qid AND ps.ida = c.id) AS score
             FROM cand c
             WHERE NOT EXISTS (
               SELECT 1 FROM prev$i p WHERE p.qid = c.qid AND p.id = c.id))),
         sel$i AS (SELECT qid, id, score FROM st$i WHERE rn = 1)"""
    }.mkString(",\n")
    val ranked = (1 to 5)
      .map(i => s"SELECT qid, $i AS rk, id, score FROM sel$i")
      .mkString(" UNION ALL ")
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec
            FROM embeddings WHERE vec_id < 3),
        scored AS (
          SELECT q.qid, e.vec_id AS id,
            list_cosine_similarity(e.embedding::DOUBLE[], q.qvec::DOUBLE[]) AS rel
          FROM embeddings e, q WHERE e.vec_id <> q.qid),
        cand AS (SELECT qid, id, rel FROM (
            SELECT qid, id, rel,
              row_number() OVER (PARTITION BY qid ORDER BY rel DESC, id ASC) AS rn
            FROM scored) WHERE rn <= 20),
        ps AS (
          SELECT a.qid, a.id AS ida, b.id AS idb,
            list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS sim
          FROM cand a JOIN cand b ON a.qid = b.qid AND a.id <> b.id
          JOIN embeddings ea ON ea.vec_id = a.id
          JOIN embeddings eb ON eb.vec_id = b.id),
        st1 AS (SELECT qid, id, 0.5 * rel - 0.5 * 0.0 AS score,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY 0.5 * rel - 0.5 * 0.0 DESC, id ASC) AS rn
                FROM cand),
        sel1 AS (SELECT qid, id, score FROM st1 WHERE rn = 1),
        $steps
        SELECT qid, CAST(rk AS INT) AS rank, id AS neighbor_id,
          round(score, 6) AS score
        FROM ($ranked)"""
  }

  val oracles: Map[String, String] = Map(
    "v02_ann_lsh" -> v02OracleSql,
    "v15_mmr_rerank" -> v15OracleSql,
    // Mirrors v21: the same left-fold Σx² (list_aggregate 'sum' over the
    // per-element double squares — the established norm parity
    // contract), floor(norm·10) BIGINT buckets, and only order-safe
    // count/min/max cross-row aggregates.
    // Mirrors v22: the v08 quantize/dequantize expression verbatim,
    // the same (x − x̂)·(x − x̂) left-fold and sqrt, floor(err·1000)
    // BIGINT buckets, order-safe count/min/max only.
    "v22_sq_error_audit" ->
      """WITH dq AS (
           SELECT label, embedding,
             list_transform(embedding, x ->
               CAST(CAST(floor(greatest(-1.0, least(1.0, CAST(x AS DOUBLE))) * 127.0 + 0.5) AS INTEGER) / 127.0 AS REAL)) AS v8
           FROM embeddings),
         er AS (SELECT label,
                  sqrt(list_aggregate(list_transform(range(1, 65),
                    i -> (CAST(embedding[i] AS DOUBLE)
                           - CAST(v8[i] AS DOUBLE))
                         * (CAST(embedding[i] AS DOUBLE)
                           - CAST(v8[i] AS DOUBLE))), 'sum')) AS e
                FROM dq)
         SELECT label,
           CAST(floor(e * 1000.0) AS BIGINT) AS err_milli_bucket,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(min(e), 6) AS min_err, round(max(e), 6) AS max_err
         FROM er GROUP BY 1, 2""",
    "v21_norm_audit" ->
      """WITH n AS (SELECT label, len(embedding) AS d,
             sqrt(list_aggregate(list_transform(range(1, 65),
               i -> CAST(embedding[i] AS DOUBLE)
                    * CAST(embedding[i] AS DOUBLE)), 'sum')) AS nrm
           FROM embeddings)
         SELECT label, CAST(floor(nrm * 10.0) AS BIGINT) AS norm_bucket,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(min(nrm), 6) AS min_norm, round(max(nrm), 6) AS max_norm,
           CAST(min(d) AS INTEGER) AS min_dim,
           CAST(max(d) AS INTEGER) AS max_dim
         FROM n GROUP BY 1, 2""",
    // Mirrors hammingTopK: sign-disagreement count per dim (integer —
    // exactly the popcount of the XORed packed codes), shortlist by
    // (hamming, id), rerank by list_cosine_similarity (the established
    // bit-parity contract). list_sum → CAST BIGINT (the p08 lesson).
    "v16_ann_hamming" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qvec
              FROM embeddings WHERE vec_id < 5),
         h AS (
           SELECT q.qid, e.vec_id AS id,
             CAST(list_sum(list_transform(range(1, 65),
               i -> CASE WHEN (e.embedding[i] >= 0) <> (q.qvec[i] >= 0)
                         THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
           FROM embeddings e, q WHERE e.vec_id <> q.qid),
         s AS (
           SELECT qid, id, hamming,
             row_number() OVER (PARTITION BY qid
               ORDER BY hamming ASC, id ASC) AS hrank
           FROM h),
         r AS (
           SELECT s.qid, s.id AS neighbor_id, s.hamming,
             list_cosine_similarity(e.embedding::DOUBLE[], q.qvec::DOUBLE[]) AS sim
           FROM s JOIN embeddings e ON e.vec_id = s.id
                  JOIN q ON q.qid = s.qid
           WHERE s.hrank <= 50),
         ranked AS (
           SELECT qid, neighbor_id, hamming, sim,
             row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, neighbor_id ASC) AS rank
           FROM r)
         SELECT qid, neighbor_id, rank, hamming, round(sim, 6) AS sim
         FROM ranked WHERE rank <= 10""",
    // Unrolled Lloyd's replay (the q30 idiom): quantize -> md5-bucket
    // seeds -> [assign -> integer-mean update] x2 -> final assignment.
    // Every value is integer, every sum is CAST to BIGINT (DuckDB sums
    // to HUGEINT — the p08 lesson), `//` on nonnegative ints matches
    // Spark-side floorDiv.
    "v14_kmeans_train" ->
      """WITH q AS (
           SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor((CAST(x AS DOUBLE) + 1.0) * 1000000.0) AS BIGINT)) AS qv
           FROM embeddings),
         e AS (
           SELECT vec_id, CAST(t.i AS INTEGER) AS i, qv[CAST(t.i AS INTEGER)] AS v
           FROM q CROSS JOIN generate_series(1, 64) t(i)),
         b AS (
           SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS mk,
             CAST(CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS INTEGER) AS cell
           FROM q),
         s0 AS (
           SELECT cell, vec_id FROM (
             SELECT cell, vec_id,
               row_number() OVER (PARTITION BY cell ORDER BY mk, vec_id) AS rn
             FROM b) WHERE rn = 1),
         c0 AS (SELECT s0.cell, e.i, e.v FROM s0 JOIN e USING (vec_id)),
         d1 AS (
           SELECT e.vec_id, c.cell,
             CAST(sum((e.v - c.v) * (e.v - c.v)) AS BIGINT) AS d2
           FROM e JOIN c0 c USING (i) GROUP BY 1, 2),
         a1 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
             FROM d1) WHERE rn = 1),
         u1 AS (
           SELECT a1.cell, e.i,
             CAST(CAST(sum(e.v) AS BIGINT) // count(*) AS BIGINT) AS v
           FROM a1 JOIN e USING (vec_id) GROUP BY 1, 2),
         c1 AS (
           SELECT c0.cell, c0.i, coalesce(u1.v, c0.v) AS v
           FROM c0 LEFT JOIN u1 ON u1.cell = c0.cell AND u1.i = c0.i),
         d2r AS (
           SELECT e.vec_id, c.cell,
             CAST(sum((e.v - c.v) * (e.v - c.v)) AS BIGINT) AS d2
           FROM e JOIN c1 c USING (i) GROUP BY 1, 2),
         a2 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
             FROM d2r) WHERE rn = 1),
         u2 AS (
           SELECT a2.cell, e.i,
             CAST(CAST(sum(e.v) AS BIGINT) // count(*) AS BIGINT) AS v
           FROM a2 JOIN e USING (vec_id) GROUP BY 1, 2),
         c2 AS (
           SELECT c1.cell, c1.i, coalesce(u2.v, c1.v) AS v
           FROM c1 LEFT JOIN u2 ON u2.cell = c1.cell AND u2.i = c1.i),
         df AS (
           SELECT e.vec_id, c.cell,
             CAST(sum((e.v - c.v) * (e.v - c.v)) AS BIGINT) AS d2
           FROM e JOIN c2 c USING (i) GROUP BY 1, 2)
         SELECT vec_id, cell, d2 AS dist2 FROM (
           SELECT vec_id, cell, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
           FROM df) WHERE rn = 1""",
    "v01_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.qid, e.vec_id AS neighbor_id,
             list_cosine_similarity(e.embedding::DOUBLE[], q.qvec::DOUBLE[]) AS sim
           FROM embeddings e, q WHERE e.vec_id <> q.qid),
         ranked AS (
           SELECT qid, neighbor_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id ASC) AS rank
           FROM scored)
         SELECT qid, neighbor_id, rank, round(sim, 6) AS sim
         FROM ranked WHERE rank <= 10""",
    // Mirrors v19: same prefix slice (1-based inclusive list slicing ==
    // Spark's slice(vec, 1, 16)), same cosine kernel (v01 contract),
    // same coarse-shortlist → exact-re-rank two-phase with identical
    // tie-breaks; the final sim rides the v01 round-6 rule.
    "v19_ann_matryoshka" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qvec
              FROM embeddings WHERE vec_id < 5),
         coarse AS (
           SELECT q.qid, e.vec_id AS neighbor_id,
             list_cosine_similarity((e.embedding::DOUBLE[])[1:16],
               (q.qvec::DOUBLE[])[1:16]) AS csim
           FROM embeddings e, q WHERE e.vec_id <> q.qid),
         short AS (SELECT qid, neighbor_id FROM (
             SELECT qid, neighbor_id,
               row_number() OVER (PARTITION BY qid
                 ORDER BY csim DESC, neighbor_id ASC) AS crank
             FROM coarse) WHERE crank <= 50),
         rescored AS (
           SELECT s.qid, s.neighbor_id,
             list_cosine_similarity(e.embedding::DOUBLE[],
               q2.qvec::DOUBLE[]) AS sim
           FROM short s
           JOIN embeddings e ON e.vec_id = s.neighbor_id
           JOIN q q2 ON q2.qid = s.qid),
         ranked AS (SELECT qid, neighbor_id, sim,
             row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, neighbor_id ASC) AS rank
           FROM rescored)
         SELECT qid, neighbor_id, rank, round(sim, 6) AS sim
         FROM ranked WHERE rank <= 10""",
    // v01's oracle with the label exclusion in the same scan filter.
    "v12_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
              FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.qid, e.vec_id AS neighbor_id,
             list_cosine_similarity(e.embedding::DOUBLE[], q.qvec::DOUBLE[]) AS sim
           FROM embeddings e, q
           WHERE e.vec_id <> q.qid AND e.label <> q.qlabel),
         ranked AS (
           SELECT qid, neighbor_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id ASC) AS rank
           FROM scored)
         SELECT qid, neighbor_id, rank, round(sim, 6) AS sim
         FROM ranked WHERE rank <= 10""",
    "v03_cosine_neardups" ->
      """WITH u AS (SELECT vec_id, embedding FROM embeddings
                    UNION ALL SELECT vec_id + 1000000000000, embedding FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
         FROM u a JOIN u b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.99""",
    // Mirrors labelCentroidSums: same sqQuantize step (clamp, floor-
    // round), generate_series as the posexplode, integer sums.
    "v10_label_centroids" ->
      """WITH q AS (
           SELECT label,
             list_transform(embedding, x ->
               CAST(floor(greatest(-1.0, least(1.0, CAST(x AS DOUBLE))) * 127.0 + 0.5) AS INTEGER)) AS codes
           FROM embeddings),
         sel AS (
           SELECT label, CAST(gs.i - 1 AS INTEGER) AS dim, codes[gs.i] AS code
           FROM q, generate_series(1, 64) gs(i))
         SELECT label, dim, CAST(sum(code) AS BIGINT) AS sum_code,
           count(*) AS n_vecs
         FROM sel GROUP BY 1, 2""",
    // Mirrors sqQuantize/sqDequantize step for step: clamp, floor-round
    // to int code, /127 as DOUBLE, narrow to REAL — all IEEE-identical —
    // then the v01 exact top-k over the dequantized vectors.
    "v08_ann_sq" ->
      """WITH dq AS (
           SELECT vec_id,
             list_transform(embedding, x ->
               CAST(CAST(floor(greatest(-1.0, least(1.0, CAST(x AS DOUBLE))) * 127.0 + 0.5) AS INTEGER) / 127.0 AS REAL)) AS v8
           FROM embeddings),
         q AS (SELECT vec_id AS qid, v8 AS qvec FROM dq WHERE vec_id < 5),
         scored AS (
           SELECT q.qid, e.vec_id AS neighbor_id,
             list_cosine_similarity(e.v8::DOUBLE[], q.qvec::DOUBLE[]) AS sim
           FROM dq e, q WHERE e.vec_id <> q.qid),
         ranked AS (
           SELECT qid, neighbor_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id ASC) AS rank
           FROM scored)
         SELECT qid, neighbor_id, rank, round(sim, 6) AS sim
         FROM ranked WHERE rank <= 10"""
  )
}
