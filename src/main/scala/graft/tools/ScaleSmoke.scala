package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine
import graft.kv.Store
import graft.ops.{CorpusStats, Dedup, Similarity, TemporalJoins}

/** Dev tool: scale-up smoke test + gated regression. Self-unions the sf
  * tables N× (ids offset per replica so keys stay distinct) and runs the
  * heavy operator shapes, printing wall times — evidence that plans
  * scale linearly-ish rather than quadratically when the data grows,
  * without needing a bigger generated dataset.
  *
  * Usage:
  *   runMain graft.tools.ScaleSmoke [factor] [sfDir]   — smoke + JSON line
  *   runMain graft.tools.ScaleSmoke gate [sfDir]       — GATED: times the
  *     hazard shapes at factor 1 and 4 and FAILS (exit 1) when any grows
  *     super-linearly past a generous bound (k=3; the one-cell semantic
  *     dedup, whose CONTRACT is quadratic comparison work, gets the
  *     quadratic bound instead). Prints a scale_gate JSON line.
  *
  * The deterministic companion is ScaleGateSpec (per-task pair bounds +
  * tile-exchange plan gates, runs in `sbt test`); this main adds the
  * wall-clock evidence.
  */
object ScaleSmoke {

  private def scaled(
      spark: SparkSession, dir: String, name: String,
      idCols: Seq[String], factor: Int): DataFrame = {
    val base = Engine.table(spark, dir, name)
    (0 until factor).map { i =>
      idCols.foldLeft(base) { (df, c) =>
        df.withColumn(c, col(c) + lit(i.toLong * 100000000L))
      }
    }.reduce(_ unionAll _)
  }

  private val results = scala.collection.mutable.LinkedHashMap[String, Double]()

  private def time(label: String)(f: => Long): Double = {
    val t0 = System.nanoTime()
    val n = f
    val secs = (System.nanoTime() - t0) / 1e9
    results(label) = secs
    println(f"[scale] $label%-28s rows=$n%12d wall=$secs%7.1fs")
    secs
  }

  private def jsonLine(metric: String, fields: Seq[(String, String)]): String =
    (Seq("\"metric\"" + s""":"$metric"""") ++
      fields.map { case (k, v) => s""""$k":$v""" }).mkString("{", ",", "}")

  private def shapesJson(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString("{", ",", "}")

  /** The hazard shapes the gate times at two factors: the blocked-pair
    * dedup family (linear bound — their per-block quadratics are capped)
    * plus the degenerate one-cell semantic dedup (quadratic bound — all
    * pairs of one cell IS its contract; the gate catches catastrophic
    * regression, the per-task spread is ScaleGateSpec's job).
    */
  private def gateShapes(
      spark: SparkSession, dir: String, factor: Int): Seq[(String, () => Long, Boolean)] = {
    val docs = scaled(spark, dir, "documents", Seq("doc_id"), factor)
    val emb = scaled(spark, dir, "embeddings", Seq("vec_id"), factor)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Seq(
      ("exact_groups", () =>
        Dedup.exactGroups(docs, "text", "doc_id").queryExecution.toRdd.count(), false),
      ("minhash_pairs", () =>
        Dedup.minhashPairs(docs, "text", "doc_id").queryExecution.toRdd.count(), false),
      ("simhash_pairs", () =>
        Dedup.simhashPairs(docs, "text", "doc_id").queryExecution.toRdd.count(), false),
      ("ngram_jaccard", () =>
        Dedup.ngramJaccardPairs(docs, "text", "doc_id", num = 19, den = 20)
          .queryExecution.toRdd.count(), false),
      ("cosine_neardups", () =>
        Similarity.cosineNearDupPairs(emb, threshold = 0.99)
          .queryExecution.toRdd.count(), false),
      ("semantic_dedup", () =>
        Similarity.semanticDedup(emb, Similarity.ivfCentroids(emb, 16 * factor),
          threshold = 0.35).queryExecution.toRdd.count(), false),
      ("semantic_dedup_one_cell", () =>
        Similarity.semanticDedup(emb, Similarity.ivfCentroids(emb, 1),
          threshold = 0.35, maxCellRows = 2048).queryExecution.toRdd.count(), true),
      // the r7 corpus-law shapes: bigram explode → groupBy (heaps) and
      // token explode → top-K cut (zipf) — both must stay linear
      ("heaps_curve", () =>
        CorpusStats.heapsCurve(docs, "text", "doc_id")
          .queryExecution.toRdd.count(), false),
      ("zipf_slope", () =>
        CorpusStats.zipfSlope(docs, "text", maxRank = 200)
          .queryExecution.toRdd.count(), false),
      // banded binary-signature pair expansion (m09): hot buckets are
      // salt-tiled, so growth must stay near-linear like the LSH shapes
      ("perceptual_pairs", () =>
        graft.mm.Multimodal.perceptualHashPairs(
          graft.mm.Multimodal.asMediaTable(docs))
          .queryExecution.toRdd.count(), false),
      // the co-purchase edge build behind q54/q57/q75/q78: a per-order
      // self-join whose expansion is bounded by basket size (≤7 here),
      // so growth in ORDERS must stay linear — the graph-query hazard
      ("copurchase_edges", () => {
        val lp = scaled(spark, dir, "lineitem", Seq("l_orderkey"), factor)
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        lp.as("x").join(lp.as("y"), "l_orderkey")
          .filter(col("x.l_partkey") =!= col("y.l_partkey"))
          .groupBy(col("x.l_partkey").as("src"),
            col("y.l_partkey").as("dst"))
          .agg(count(lit(1)).as("w"))
          .queryExecution.toRdd.count()
      }, false),
      // per-vertex triangle crediting (q85): offsetting BOTH ids makes
      // the factor copies disjoint subgraphs, so edges/triangles/credit
      // rows all grow ×factor — the degree-ordered walk must stay
      // linear in that regime
      ("vertex_triangles", () => {
        val lp = scaled(spark, dir, "lineitem",
            Seq("l_orderkey", "l_partkey"), factor)
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val edges = lp.as("x").join(lp.as("y"), "l_orderkey")
          .filter(col("x.l_partkey") < col("y.l_partkey"))
          .select(col("x.l_partkey").as("src"),
            col("y.l_partkey").as("dst"))
        graft.ops.Triangles.vertexTriangles(edges)
          .queryExecution.toRdd.count()
      }, false),
      // the q97 truncated-adjacency wedge fan-out: disjoint-subgraph
      // scaling (both ids offset) grows pivots ×factor at constant
      // degree, so the ≤maxFanout² per-pivot wedge join must stay linear
      ("link_wedges", () => {
        val lp = scaled(spark, dir, "lineitem",
            Seq("l_orderkey", "l_partkey"), factor)
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val edges = lp.as("x").join(lp.as("y"), "l_orderkey")
          .filter(col("x.l_partkey") < col("y.l_partkey"))
          .select(col("x.l_partkey").cast("long").as("lo"),
            col("y.l_partkey").cast("long").as("hi"))
          .distinct()
        graft.ops.LinkPrediction.neighborScores(
          edges, maxFanout = 32, minCommon = 12)
          .queryExecution.toRdd.count()
      }, false),
      // the TPC-H fact-join family under the r10 broadcast policy: the
      // q123 shape where the supplier build side GROWS ×factor with the
      // corpus (every table offset-scaled, so the joins line up per
      // replica). With the forced broadcast() hints gone, stats/AQE own
      // the build-side decision — this gate proves the family stays
      // near-linear as the side the old hints pinned grows, i.e. the
      // plan stays keyed (or broadcastable-by-stats) instead of cliffing
      ("tpch_fact_join", () => {
        val li = scaled(spark, dir, "lineitem",
            Seq("l_orderkey", "l_suppkey"), factor)
          .select(col("l_orderkey"), col("l_suppkey"),
            col("l_extendedprice"), col("l_discount"))
        val o = scaled(spark, dir, "orders", Seq("o_orderkey"), factor)
          .select(col("o_orderkey"), col("o_orderdate"))
        val supN = scaled(spark, dir, "supplier", Seq("s_suppkey"), factor)
          .select(col("s_suppkey"),
            (pmod(col("s_suppkey"), lit(25)) === 7).as("__is_target"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(supN, col("l_suppkey") === col("s_suppkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(
            sum(when(col("__is_target"), col("l_extendedprice"))).as("t"),
            count(lit(1)).as("n"))
          .queryExecution.toRdd.count()
      }, false),
      // the q96 LPA rounds in the SHUFFLE regime (broadcast gate forced
      // off — the billions-of-vertices path): per round one label-table
      // key-join against the checkpointed adjacency plus one partially
      // aggregated (vertex, label) exchange; disjoint-subgraph scaling
      // must stay linear
      ("label_prop_shuffle", () => {
        val lp = scaled(spark, dir, "lineitem",
            Seq("l_orderkey", "l_partkey"), factor)
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val edges = lp.as("x").join(lp.as("y"), "l_orderkey")
          .filter(col("x.l_partkey") < col("y.l_partkey"))
          .select(col("x.l_partkey").as("src"),
            col("y.l_partkey").as("dst"))
        graft.ops.LabelProp.propagate(edges, rounds = 2,
          broadcastMaxVertices = 0L)
          .queryExecution.toRdd.count()
      }, false))
  }

  /** Gate mode: wall-time ratio between factors must stay ≤ bound.
    * Generous k and a noise floor on the base time keep this stable on a
    * loaded machine while still failing hard on a quadratic blowup
    * (linear shape at factor 4: expected ratio ~4, bound 12; quadratic
    * regression: ~16+).
    */
  private def gateMain(dir: String): Unit = {
    val spark = Engine.session()
    val fHi = 4
    val k = 3.0
    def runAll(factor: Int): Map[String, Double] =
      gateShapes(spark, dir, factor).map { case (label, f, _) =>
        val t0 = System.nanoTime()
        f()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[scale-gate] x$factor $label%-24s $secs%7.2fs")
        label -> secs
      }.toMap
    // warm the JVM/codegen caches on the small factor first, then measure
    runAll(1)
    val t1 = runAll(1)
    val t4 = runAll(fHi)
    val quadratic = gateShapes(spark, dir, 1).map { case (l, _, q) => l -> q }.toMap
    val verdicts = t1.keys.toSeq.sorted.map { l =>
      val base = math.max(t1(l), 0.3) // noise floor: tiny times are overhead
      val ratio = t4(l) / base
      val bound = (if (quadratic(l)) fHi.toDouble * fHi else fHi.toDouble) * k
      (l, ratio, bound, ratio <= bound)
    }
    val ratios = verdicts.map { case (l, r, _, _) => l -> r }
    println(jsonLine("scale_gate", Seq(
      "factor_hi" -> fHi.toString, "k" -> k.toString,
      "ratios" -> shapesJson(scala.collection.mutable.LinkedHashMap(ratios: _*)),
      "pass" -> verdicts.forall(_._4).toString)))
    verdicts.filterNot(_._4).foreach { case (l, r, b, _) =>
      System.err.println(f"[scale-gate] FAIL $l: ratio $r%.1f exceeds bound $b%.1f")
    }
    spark.stop()
    if (!verdicts.forall(_._4)) sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("gate")) {
      gateMain(if (args.length > 1) args(1) else "/root/testdata/sf0.1")
      return
    }
    val factor = if (args.length > 0) args(0).toInt else 10
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Engine.session()
    println(s"[scale] factor=$factor over $dir")

    val li = scaled(spark, dir, "lineitem", Seq("l_orderkey"), factor)
    val o = scaled(spark, dir, "orders", Seq("o_orderkey"), factor)
    time(s"agg lineitem x$factor") {
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity"), count(lit(1))).queryExecution.toRdd.count()
    }
    time(s"join li⋈orders x$factor") {
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)))
        .queryExecution.toRdd.count()
    }

    val docs = scaled(spark, dir, "documents", Seq("doc_id"), factor)
    time(s"minhash pairs docs x$factor") {
      Dedup.minhashPairs(docs, "text", "doc_id").queryExecution.toRdd.count()
    }
    time(s"simhash pairs docs x$factor") {
      Dedup.simhashPairs(docs, "text", "doc_id").queryExecution.toRdd.count()
    }
    time(s"exact dedup docs x$factor") {
      Dedup.exactGroups(docs, "text", "doc_id").queryExecution.toRdd.count()
    }
    // the d05 shape; at smoke scale the size gate usually still picks the
    // broadcast path, so ALSO force the salted-shuffle fallback — the path
    // a 100 TB corpus would take — and confirm it stays near-linear
    time(s"ngram jaccard docs x$factor") {
      Dedup.ngramJaccardPairs(docs, "text", "doc_id", num = 19, den = 20)
        .queryExecution.toRdd.count()
    }
    val bcBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      time(s"ngram jaccard salted x$factor") {
        Dedup.ngramJaccardPairs(docs, "text", "doc_id", num = 19, den = 20)
          .queryExecution.toRdd.count()
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcBefore)

    // asof join under a manufactured celebrity key: every 4th event is
    // rewritten onto one user, the straggler shape the skew path exists
    // for. The plain path serializes the hot key into ONE window task;
    // the per-(key, day) path must stay near the balanced time.
    val hotEvents = scaled(spark, dir, "events", Seq("event_id"), factor)
      .withColumn("user_id",
        when(pmod(col("event_id"), lit(4)) === 0, lit(1L))
          .otherwise(col("user_id")))
    val hotPurch = hotEvents.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val hotViews = hotEvents.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("value"))
    time(s"asof hot-key plain x$factor") {
      TemporalJoins.asofJoin(hotPurch, hotViews, "user_id", "ts", "ts",
        rightCols = Seq("value")).queryExecution.toRdd.count()
    }
    time(s"asof hot-key skew-day x$factor") {
      TemporalJoins.asofJoin(hotPurch, hotViews, "user_id", "ts", "ts",
        rightCols = Seq("value"), skewBucket = Some("day"))
        .queryExecution.toRdd.count()
    }

    // Store cycle at scale: bulk put, then a point get that must open
    // ONE bucket of the gid — the partial-read contract KVSpec gates at
    // unit scale, timed here at volume.
    val storeRoot = java.nio.file.Files
      .createTempDirectory("graft-scale-store").toString
    val store = new Store(spark, storeRoot, defaultBuckets = 32)
    time(s"store put docs x$factor") {
      store.put(docs, "docs", keyCol = Some("doc_id"))
      store.scan("docs").count()
    }
    time(s"store point-get x$factor") {
      val got = store.get("docs", "42")
      // collect() executes THIS queryExecution; count() would plan a new
      // one and leave these metrics at zero
      val n = got.collect().length.toLong
      val scanned = got.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }
      println(s"[scale]   point-get files scanned: ${scanned.mkString(",")} (gid holds 32 buckets)")
      n
    }
    // a large merge-on-read batch: every key is shadowed, so the put
    // tombstones one row per key — positions must stay on the executors
    time(s"store re-put docs x$factor") {
      store.put(docs.withColumn("text", upper(col("text"))), "docs",
        keyCol = Some("doc_id"))
      store.scan("docs").count()
    }

    val emb = scaled(spark, dir, "embeddings", Seq("vec_id"), factor)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Engine.table(spark, dir, "embeddings")
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    time(s"ivf ann corpus x$factor") {
      Similarity.ivfTopK(emb, Similarity.ivfCentroids(emb, 16), q, k = 10,
        nProbe = 6).queryExecution.toRdd.count()
    }
    // semantic dedup: in-cell quadratic expansion must grow with corpus,
    // not blow up — cells multiply, pairs per cell stay bounded by the
    // cell-size distribution (more cells at larger corpora in production;
    // here the check is the explicit expansion width holding up)
    time(s"semantic dedup x$factor") {
      Similarity.semanticDedup(emb, Similarity.ivfCentroids(emb, 16 * factor),
        threshold = 0.35).queryExecution.toRdd.count()
    }
    // the degenerate mega-cell: every row in ONE cell, so comparison work
    // is quadratic BY CONTRACT — what this smokes is that the maxCellRows
    // tiles keep it spread across tasks instead of serializing (the
    // per-task bound itself is gated deterministically in ScaleGateSpec)
    time(s"semantic dedup 1-cell x$factor") {
      Similarity.semanticDedup(emb, Similarity.ivfCentroids(emb, 1),
        threshold = 0.35, maxCellRows = 2048).queryExecution.toRdd.count()
    }
    // corpus stats: repetition is per-row narrow (should be ~linear);
    // dup-span coverage and contamination shuffle the gram stream once
    time(s"repetition signals x$factor") {
      CorpusStats.repetitionSignals(docs, "text", "doc_id")
        .queryExecution.toRdd.count()
    }
    time(s"dup-span coverage x$factor") {
      CorpusStats.dupSpanCoverage(docs, "text", "doc_id", k = 8)
        .queryExecution.toRdd.count()
    }
    time(s"contamination x$factor") {
      CorpusStats.contamination(
        train = docs.filter(col("doc_id") % 100 =!= 0),
        eval = docs.filter(col("doc_id") % 100 === 0),
        "text", "doc_id", k = 8).queryExecution.toRdd.count()
    }
    // chunking is narrow+explode (must be flat-linear); tfidf carries the
    // two term-key shuffles and the co-partitioned tf⋈df join
    time(s"chunk by tokens x$factor") {
      CorpusStats.chunkByTokens(docs, "text", "doc_id", chunkSize = 32)
        .queryExecution.toRdd.count()
    }
    time(s"tfidf top terms x$factor") {
      CorpusStats.tfidfTopTerms(docs, "text", "doc_id", m = 3)
        .queryExecution.toRdd.count()
    }
    time(s"cluster profile x$factor") {
      Similarity.clusterProfile(emb, Similarity.ivfCentroids(emb, 16))
        .queryExecution.toRdd.count()
    }
    // IVF-PQ: the encode pass is per-row narrow, the ADC join fans in by
    // nProbe/nCells — both must track corpus size linearly
    time(s"ivfpq ann corpus x$factor") {
      Similarity.ivfPqTopK(emb, Similarity.ivfCentroids(emb, 16),
        Similarity.pqCodebooks(emb, m = 8, k = 16), q, k = 10, nProbe = 6)
        .queryExecution.toRdd.count()
    }
    // bigram NLL: explode + two count join-backs on the bigram keys —
    // vocabulary grows sublinearly, the token stream linearly
    time(s"bigram nll x$factor") {
      CorpusStats.bigramNll(docs, "text", "doc_id")
        .queryExecution.toRdd.count()
    }
    // shuffle-shard export plan: narrow LCG pass + shard-keyed window
    time(s"shuffle shards x$factor") {
      graft.ops.Sharding.shuffleShards(docs, nShards = 64)
        .queryExecution.toRdd.count()
    }
    // BM25: one explode + a 1-row corpus-stats broadcast + df join-back —
    // token stream linear, term vocabulary sublinear
    time(s"bm25 x$factor") {
      CorpusStats.bm25(docs, "text", "doc_id",
        queryTerms = Seq("the", "data", "model"))
        .queryExecution.toRdd.count()
    }
    // cross-group (bitext) candidate mining: the p09 shape — same salted
    // in-cell tiles as semantic dedup plus the post-threshold group join
    val docLangs = docs.select(col("doc_id").as("id"),
      (pmod(col("doc_id"), lit(7))).cast("string").as("grp"))
    time(s"bitext candidates x$factor") {
      Similarity.crossGroupPairs(emb, Similarity.ivfCentroids(emb, 16 * factor),
        docLangs, threshold = 0.35).queryExecution.toRdd.count()
    }
    // distributed Lloyd's: per round one assignment pass + one (cell,dim)
    // partial-agg shuffle — wall time must track the corpus linearly
    time(s"kmeans train x$factor") {
      graft.ops.KMeansTrain.lloydAssign(
        scaled(spark, dir, "embeddings", Seq("vec_id"), factor)
          .select(col("vec_id"), col("embedding")),
        k = 8, rounds = 2, idCol = "vec_id", vecCol = "embedding")
        .queryExecution.toRdd.count()
    }
    // LSH tuning report: 16 md5 hashes per shingle (the portable family's
    // documented 16x) + three banded candidate joins + the exact-Jaccard
    // truth leg — each leg near-linear on a natural corpus
    time(s"lsh tuning report x$factor") {
      Dedup.lshTuningReport(docs, "text", "doc_id")
        .queryExecution.toRdd.count()
    }
    // binary-quantized ANN: |Q| fixed, so the XOR+popcount candidate pass
    // is linear in corpus; the rerank is |Q|·shortlist broadcast rows
    time(s"hamming ann corpus x$factor") {
      Similarity.hammingTopK(emb, q, k = 10, dim = 64, shortlist = 50)
        .queryExecution.toRdd.count()
    }
    // snapshot CDC: two digest scans + one slim full-outer shuffle
    time(s"snapshot cdc x$factor") {
      graft.ops.Snapshot.diff(
        docs, docs.filter(col("doc_id") % 17 =!= 0),
        "doc_id", Seq("text")).queryExecution.toRdd.count()
    }
    // RAKE keyphrases: token explode (linear) + word-keyed degree/freq
    // shuffle + join-back; per-doc windows bound run grouping
    time(s"rake keyphrases x$factor") {
      CorpusStats.rakeKeyphrases(docs, "text", "doc_id")
        .queryExecution.toRdd.count()
    }
    // filtered ANN: the IVF candidate join with the predicate folded into
    // the join key — candidate volume must TRACK the category fraction
    val catEmb = emb.withColumn("cat", pmod(col("id"), lit(4L)))
    val catQ = q.withColumn("qcat", pmod(col("qid"), lit(4L)))
    time(s"filtered ivf ann x$factor") {
      Similarity.filteredIvfTopK(catEmb, Similarity.ivfCentroids(catEmb, 16),
        catQ, k = 10, catCol = "cat", qcatCol = "qcat", nProbe = 6)
        .queryExecution.toRdd.count()
    }
    // skyline: pre-agg to (qtr, price) + quarter-partitioned prefix-min
    // window over the aggregate + key join-back — no global sort
    time(s"price-date skyline x$factor") {
      val oo = o.select(col("o_orderkey"),
        date_trunc("quarter", col("o_orderdate")).as("qtr"),
        col("o_totalprice"), col("o_orderdate"))
      val pp = oo.groupBy(col("qtr"), col("o_totalprice"))
        .agg(min(col("o_orderdate")).as("gmd"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qtr")).orderBy(col("o_totalprice").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      oo.join(pp.withColumn("cmd", min(col("gmd")).over(w)),
          Seq("qtr", "o_totalprice"))
        .filter((col("cmd").isNull || col("cmd") > col("o_orderdate")) &&
          col("gmd") === col("o_orderdate"))
        .queryExecution.toRdd.count()
    }
    // BFS levels: maxDepth frontier joins; frontier/visited stay
    // node-bounded, each round one key join + one anti-join
    time(s"bfs levels x$factor") {
      val lp = li.select(col("l_orderkey"), col("l_partkey")).distinct()
      val edges = lp.as("x").join(lp.as("y"), "l_orderkey")
        .filter(col("x.l_partkey") =!= col("y.l_partkey"))
        .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
      val sources = li.filter(col("l_partkey") < 10)
        .select(col("l_partkey").as("node")).distinct()
      graft.ops.ShortestPaths.bfsLevels(edges, sources, maxDepth = 3)
        .queryExecution.toRdd.count()
    }
    // containment: asymmetric prefix filter — candidate stream tracks
    // prefix-gram rarity, fetch-join verification once per pair
    time(s"containment pairs x$factor") {
      Dedup.containmentPairs(docs, "text", "doc_id",
        num = 9, den = 10, gramK = 4).queryExecution.toRdd.count()
    }
    // symmetric-delete fuzzy pairs: (L+1)-fold linear variant shuffle,
    // in-bucket expansion bounded by near-dup cluster sizes
    time(s"symdelete pairs x$factor") {
      Dedup.symDeletePairs(docs, "text", "doc_id", keyLen = 24)
        .queryExecution.toRdd.count()
    }
    // cross-corpus minhash: candidates are the eval×train cross term
    // inside buckets only — must scale with the small side
    time(s"cross minhash x$factor") {
      Dedup.crossMinhashPairs(
        docs.filter(col("doc_id") % 100 === 0), docs, "text", "doc_id")
        .queryExecution.toRdd.count()
    }
    // novelty: one gram-hash shuffle, min partial agg, per-doc groupBy
    time(s"ngram novelty x$factor") {
      CorpusStats.ngramNovelty(docs, "text", "doc_id", k = 4)
        .queryExecution.toRdd.count()
    }
    println(jsonLine("scale_smoke", Seq(
      "factor" -> factor.toString, "shapes" -> shapesJson(results))))
    spark.stop()
  }
}
