package graft

/** Physical-plan quality gates: these assert the *plan*, not the result —
  * a regression that silently turns a broadcast into a shuffle or loses
  * parquet pushdown stays correct but dies at 100 TB. Keeping the
  * properties in a spec makes plan quality part of the green bar.
  */
class PlanSpec extends SparkSessionSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  /** Post-execution plan: AQE finalizes stages (incl. WholeStageCodegen
    * wrapping) only once the query has run.
    */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect() // executes THIS queryExecution (count() would plan a new one)
    df.queryExecution.executedPlan.toString
  }

  test("q01: shipdate filter and column pruning reach the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    // projection needs 6 of 11 lineitem columns; scan schema must not
    // include the unused join keys
    assert(!p.contains("l_partkey"))
    assert(!p.contains("l_suppkey"))
  }

  test("q06: dimension tables broadcast, facts shuffle") {
    val p = plan("q06_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"))
    // the lineitem⋈orders⋈customer spine must NOT be nested-loop
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q01/q06: aggregates are partial (map-side combine present)") {
    Seq("q01_pricing_summary", "q06_revenue_by_nation").foreach { q =>
      val p = plan(q)
      assert(p.contains("partial_"), s"$q lost partial aggregation")
    }
  }

  test("v01: native cosine expression is in the plan, inside codegen") {
    val p = finalPlan("v01_ann_bruteforce")
    assert(p.contains("cosine_sim"))
    // `*(n)` prefixes = WholeStageCodegen stages in the final AQE plan;
    // the projection computing cosine_sim must carry one
    assert(p.linesIterator.exists(l =>
      l.contains("cosine_sim") && l.trim.startsWith("+- *(")))
  }

  test("a small versioned-lake read broadcasts into a join WITHOUT a " +
      "hint: the manifest's explicit file list carries real sizes, so " +
      "stats/AQE-gated build-side sizing works on lake reads like on " +
      "parquet tables") {
    import org.apache.spark.sql.functions._
    val d = java.nio.file.Files.createTempDirectory("graft_lake_cbo")
      .toString + "/events"
    val small = graft.Engine.table(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .limit(200)
    graft.sources.VersionedLake.append(small, d)
    val lake = graft.sources.VersionedLake.read(spark, d)
      .select(col("event_id"), col("value").as("lake_value"))
    val fact = graft.Engine.table(spark, sfDir, "events")
    val joined = fact.join(lake, Seq("event_id")) // no broadcast() hint
      .groupBy(col("event_type"))
      .agg(sum(col("lake_value")).as("s"))
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"a 200-row lake read must broadcast unhinted; plan:\n$p")
  }

  test("q104: all three filters push to their scans; top-10 is TakeOrdered") {
    val p = plan("q104_shipping_priority")
    assert(p.contains("GreaterThan(l_shipdate"))
    assert(p.contains("LessThan(o_orderdate"))
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"))
    assert(p.contains("TakeOrderedAndProject"))
    // lineitem scan must prune to the 4 needed columns
    assert(!p.contains("l_quantity"))
  }

  test("q108: star join — filters pushed, one broadcast dim, partial agg") {
    val p = plan("q108_region_revenue")
    // region + date cuts reach their scans
    assert(p.contains("EqualTo(r_name,ASIA)"))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"))
    assert(p.contains("LessThan(o_orderdate"))
    // supplier⋈nation⋈region collapse into a broadcast probe; the fact
    // spine must never degrade to NLJ/cartesian
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_"), "q108 lost map-side combine")
    // lineitem scan prunes to the 4 needed columns
    assert(!p.contains("l_quantity"))
    assert(!p.contains("l_tax"))
  }

  test("q109: semi+anti composition — keyed joins, broadcast dim, top-k") {
    val p = plan("q109_sole_late_suppliers")
    assert(p.contains("LeftSemi"), "q109 lost the EXISTS semi-join")
    assert(p.contains("LeftAnti"), "q109 lost the NOT EXISTS anti-join")
    // the suppkey inequality must ride as residual condition on keyed
    // joins, never as a nested-loop/cartesian pair stream
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), "nation-filtered supplier dim must broadcast")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q111: correlated-avg shape — brand filter pushed, ONE lineitem scan, keyed window") {
    val p = plan("q111_small_quantity_revenue")
    // the 3-brand slice must reach the part scan as an In filter
    assert(p.contains("In(p_brand"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_"), "q111 lost map-side combine")
    // the per-part stats ride a window over the join — the agg-then-
    // join-back form scans the brand-pruned join twice
    val liScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans <= 1, s"q111 scans lineitem $liScans times")
    // and that window must be PART-keyed, never global
    assert(p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("l_partkey")),
      "q111's per-part stats window is not keyed on l_partkey")
  }

  test("q112: groupwise argmin folds in ONE aggregation, no window") {
    val p = plan("q112_cheapest_supplier")
    assert(!p.contains("Window"), "q112 pays a window for the argmin")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_"), "q112 argmin lost map-side combine")
  }

  test("q113: scalar subquery broadcasts; dormancy is a keyed anti-join") {
    val p = plan("q113_dormant_rich_customers")
    assert(p.contains("LeftAnti"), "q113 lost the NOT EXISTS anti-join")
    assert(!p.contains("CartesianProduct"))
    // the recent-orders date cut pushes to the orders scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"))
  }

  test("q116: the disjunction's part-only implication pushes as Or(And(...))") {
    val p = plan("q116_disjunctive_revenue")
    // the OR-of-ANDs arms must prune the part scan BEFORE the join
    assert(p.contains("Or(And("), "disjunctive part filter not pushed")
    assert(p.contains("p_brand"), "brand arm missing from pushed filters")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_"), "q116 lost map-side combine")
  }

  test("q117: flags/dates pushed; attributes join AFTER the aggregate; top-k") {
    val p = plan("q117_returned_revenue")
    assert(p.contains("EqualTo(l_returnflag,R)"))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
    // customer/nation attributes must not ride through the aggregation:
    // no customer column may appear inside a partial aggregate's grouping
    assert(!p.linesIterator.exists(l =>
      l.contains("partial_") && l.contains("c_name")),
      "customer attributes shuffled through the aggregate")
  }

  test("q118: left-outer count distribution — keyed outer join, shared partitioning") {
    val p = plan("q118_order_count_distribution")
    // the null group is the point: the join must stay LEFT OUTER
    assert(p.contains("LeftOuter"), "q118 lost the left outer join")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // the priority exclusion pushes to the orders scan
    assert(p.contains("Not(EqualTo(o_orderpriority,1-URGENT))"),
      "q118 priority cut not pushed")
    // the per-customer count must reuse the join's c_custkey hash
    // partitioning: exactly the join exchanges plus the tiny c_count
    // regroup — never an extra custkey exchange between join and agg
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 3, s"q118 has $exchanges exchanges; the per-customer " +
      "count must ride the join's partitioning")
  }

  test("q119: HAVING threshold before the joins; top-100 is TakeOrdered") {
    val p = plan("q119_large_order_customers")
    // one lineitem scan: IN-set and displayed qty are the SAME aggregate
    val liScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans <= 1, s"q119 scans lineitem $liScans times")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_"), "q119 lost map-side combine")
    // lineitem scan prunes to the 2 needed columns
    assert(!p.contains("l_extendedprice"))
  }

  test("q120: nested semi chain — both semis keyed, part set broadcast") {
    val p = plan("q120_surplus_part_suppliers")
    val semis = p.linesIterator.count(_.contains("LeftSemi"))
    assert(semis >= 2, s"q120 has $semis semi joins; the chain needs both")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // the name prefix pushes to the part scan as a StringStartsWith
    assert(p.contains("StringStartsWith(p_name,red )"),
      "q120 name prefix not pushed")
    // the ship-year cut pushes to the lineitem scan
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("partial_"), "q120 lost map-side combine")
  }

  test("q121: EXISTS is a keyed semi with the date compare as residual") {
    val p = plan("q121_order_priority_check")
    assert(p.contains("LeftSemi"), "q121 lost the EXISTS semi-join")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // the quarter cut bounds the probe side at the scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"))
    assert(p.contains("LessThan(o_orderdate"))
    // lineitem prunes to the 2 join/condition columns
    assert(!p.contains("l_extendedprice"))
    assert(!p.contains("l_quantity"))
  }

  test("q122: two-nation slice prunes BEFORE the disjunction; keyed joins only") {
    val p = plan("q122_volume_shipping")
    // the 2-nation cut reaches the nation scans as an In filter — the
    // disjunction then evaluates over the pruned slice, not the world
    assert(p.contains("In(n_name"), "q122 nation slice not pushed")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("partial_"), "q122 lost map-side combine")
  }

  test("q123/q124: conditional-aggregate ratios scan the fact table ONCE") {
    Seq("q123_market_share", "q124_promo_revenue_share").foreach { q =>
      val p = plan(q)
      val liScans = p.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("lineitem"))
      assert(liScans <= 1, s"$q scans lineitem $liScans times — both " +
        "conditional sums must ride one pass")
      assert(!p.contains("CartesianProduct"))
      assert(!p.contains("BroadcastNestedLoopJoin"))
      assert(p.contains("partial_"), s"$q lost map-side combine")
    }
    // q123's region membership must stay a SEMI probe (no customer
    // attribute may widen the fact rows)
    assert(plan("q123_market_share").contains("LeftSemi"))
    // q124's month cut pushes to the lineitem scan
    assert(plan("q124_promo_revenue_share")
      .contains("GreaterThanOrEqual(l_shipdate"))
  }

  test("q126: NOT IN is a keyed anti join; size/brand cuts push to the part scan") {
    val p = plan("q126_supplier_part_distribution")
    assert(p.contains("LeftAnti"), "q126 lost the NOT-IN anti join")
    assert(p.contains("In(p_size"), "q126 size cut not pushed")
    assert(p.contains("Not(EqualTo(p_brand,Brand#2))"), "q126 brand cut not pushed")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q14: banded range join plans as a shuffled equi-join, not NLJ") {
    val p = plan("q14_price_band_join")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q07: top-k plans as TakeOrderedAndProject, not global sort") {
    val p = plan("q07_top_orders")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q13: asof join is union+window, never a nested-loop join") {
    val p = plan("q13_asof_view_purchase")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Window"))
  }

  test("q13: production engages the skew path — windows over (key, bucket)") {
    val p = plan("q13_asof_view_purchase")
    // the in-bucket pass partitions by (__k, __b): a hot key's rows spread
    // across its time buckets instead of serializing into one task
    assert(p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("__k") && l.contains("__b")))
  }

  test("d08: train gram stream is filtered by a BROADCAST semi-join") {
    // the eval gram set must broadcast and prune the train stream BEFORE
    // any exchange: a regression to shuffling the full train gram
    // distinct scales with the corpus instead of the eval set
    val p = plan("d08_contamination")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")),
      "eval-gram broadcast semi-join missing from the contamination plan")
  }

  test("d07/d08: gram keys are 8-byte hashes, not gram strings") {
    Seq("d07_dup_spans", "d08_contamination").foreach { q =>
      val p = plan(q)
      assert(p.contains("kgram_hashes"), s"$q lost the native gram-hash kernel")
      assert(!p.contains("concat_ws"), s"$q re-materializes gram strings")
    }
  }

  test("q14/t07: probe/kernel side widens past a parallelism-collapsed scan") {
    // single-row-group dev files scan as ~1 task; the CPU-heavy stage
    // must run post-repartition (identity at production split counts).
    // The widen width is pinned via conf so the gate holds identically on
    // any runner (under local[2] the defaultParallelism gate would be the
    // identity and this assert would fail spuriously)
    spark.conf.set("graft.widen.parallelism", "4")
    try {
      Seq("q14_price_band_join", "t07_repetition").foreach { q =>
        val p = plan(q)
        assert(p.contains("RoundRobinPartitioning"),
          s"$q runs its hot pass at scan parallelism")
      }
    } finally spark.conf.unset("graft.widen.parallelism")
  }

  test("q29: bloom prune sits on the fact scan inside codegen") {
    // the native predicate must filter lineitem IN the scan's codegen
    // stage — before any exchange — or the semi-join reduction is lost
    val p = finalPlan("q29_bloom_join")
    assert(p.contains("bloom_might_contain"),
      "native bloom predicate missing from the q29 plan")
    assert(p.linesIterator.exists(l =>
      l.contains("bloom_might_contain") && l.contains("Filter")
        && l.trim.startsWith("*(")
        || l.contains("bloom_might_contain") && l.contains("Filter")
        && l.trim.startsWith("+- *(")),
      "bloom predicate fell out of whole-stage codegen")
  }

  test("q28: heavy-hitter recount shuffles candidates, not the key universe") {
    // pass 2's pre-shuffle HashAggregate groups by the candidate-tagged
    // key — the broadcast tag join must stay broadcast (a shuffled tag
    // join would move every fact row twice)
    val p = plan("q28_heavy_hitters")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftOuter")),
      "candidate tag join is not a broadcast left join")
    assert(p.contains("partial_count"),
      "recount lost map-side partial aggregation")
  }

  /** Queries where a BroadcastNestedLoopJoin is the DESIGNED plan: a
    * deliberately tiny broadcast side (the ANN query set, the 1-row
    * corpus-total frame), where nested-loop over a handful of rows is
    * the cheapest physical form. Everything else must never NLJ.
    */
  private val intendedNlj = Set(
    "v01_ann_bruteforce", // query set broadcast against the corpus
    "v08_ann_sq",         // same shape over the dequantized int8 codes
    "v09_ann_pq",         // ADC pass: query set broadcast against codes
    "v12_hard_negatives", // v01's scorer + non-equi label exclusion
    "v13_ann_recall",     // composes the v01/v08/v09 legs above
    "t10_tfidf", "t11_unigram_nll", // 1-row corpus-count cross join
    "p23_perplexity_gate",          // t11's 1-row corpus-total cross join
    "t19_collocations",             // 1-row bigram-total cross join
    "t16_bm25",                     // 1-row (N, total-length) cross join
    "q31_gap_fill",                 // 1-row (h0, h1) range cross join
    "q46_mergeable_stats",          // 1-row (scalar stats × KMV) joins
    "q54_market_basket",            // 1-row order-count cross join
    "p17_temperature_mixture",      // 1-row weight-normalizer cross join
    "p27_temperature_curve",        // p17's normalizer per τ leg
    "v15_mmr_rerank",               // query set broadcast (v01 shape)
    "v16_ann_hamming",              // query CODES broadcast vs corpus codes
    "v19_ann_matryoshka",           // coarse prefix pass: v01 shape on a slice
    "t27_unigram_drift",            // 20-row top-word + 1-row total cross joins
    "t29_bpe_train",                // 1-row per-round merge-argmax cross joins
    "p19_temporal_split",           // 1-row cutoff-day broadcast cross join
    "q76_mann_kendall",             // day-aggregate non-equi self-pairing
    "q77_theil_sen",                // day-pair self-pairing + 1-row count
    "q79_ks_two_sample",            // 1-row (n1,n2) broadcast cross join
    "q83_cusum",                    // 1-row (n,total) broadcast cross join
    "q86_survival",                 // 1-row horizon-date broadcast cross join
    "q87_mutual_info",              // 1-row grand-total broadcast cross join
    "q88_seasonality",              // 1-row grand-mean broadcast cross join
    "q89_bootstrap_ci",             // 200-row replicate-axis + 1-row CI broadcasts
    "q91_fano_burstiness",          // 1-row hour-span broadcast cross join
    "q94_modularity",               // 1-row total-edge-mass broadcast
    "q99_kmv_overlap",              // ≤k-array sketch-frame self-pairing
    "v25_ivf_cost_curve",           // 1-row corpus-total broadcast
    "t32_word_burstiness",          // 1-row document-total broadcast
    "t34_extractive_summary",       // 1-row doc-total × vocab IDF frame
    "p21_upsampling_caps",          // 1-row source-count broadcast
    "q113_dormant_rich_customers",  // 1-row global-average broadcast
    "q131_important_parts",         // 1-row total-value broadcast
    "q125_top_supplier")            // 1-row scalar-max broadcast

  test("q34: the funnel reads events ONCE (the one-shuffle claim)") {
    // the staged-CTE SQL shape scans events per stage; the typed-MR
    // funnel's whole point is a single scan feeding a single groupByKey
    val p = plan("q34_funnel")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans === 1, s"funnel planned $scans event scans — must be one")
  }

  test("p07/p08/q38: every window operator is partitioned (no global window)") {
    // the single-partition window is the quiet scale killer: correct at
    // test SF, one task holding the corpus at 100 TB. The export/budget/
    // anomaly windows must all key on a real partition column. A GLOBAL
    // windowspecdefinition starts with an order expr (" ASC"/" DESC") or
    // goes straight to the frame; a partitioned one leads with plain
    // partition columns.
    Seq("p07_shuffle_shards", "p08_token_budget", "q38_hourly_anomaly",
      "q49_quantiles_interp", "q50_mad_outliers", "q52_price_date_skyline",
      "t21_rake_keyphrases")
      .foreach { q =>
        val p = finalPlan(q)
        val specs = "windowspecdefinition\\(([^,)]*)".r
          .findAllMatchIn(p).map(_.group(1)).toSeq
        assert(specs.nonEmpty, s"$q expected a window operator")
        specs.foreach { first =>
          assert(!first.contains("specifiedwindowframe") &&
            !first.contains(" ASC") && !first.contains(" DESC"),
            s"$q plans a GLOBAL window (spec leads with '$first')")
        }
      }
  }

  test("v11: probe list broadcasts — the encoded corpus never shuffles before ADC") {
    val p = finalPlan("v11_ann_ivfpq")
    // the cell join must be a broadcast join (probe side), and the
    // shortlist/refine fetches are broadcast too — the only hash
    // exchanges in the whole plan are the two qid-keyed rank windows
    // (ADC shortlist + final top-k); ReusedExchange references don't
    // count as new exchanges
    assert(p.contains("BroadcastHashJoin"))
    // AQE toString repeats the tree under "== Initial Plan ==" — slice
    // to the final section or every operator double-counts
    val finalSection = p.split("== Initial Plan ==").head
    val exchanges = finalSection.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
    assert(exchanges <= 2,
      s"v11 plans $exchanges hash exchanges; corpus is leaking into a shuffle")
  }

  test("v16: packed codes scored in codegen; rerank fetches broadcast") {
    val p = finalPlan("v16_ann_hamming")
    // the Hamming kernel must be the codegen'd builtin pair, never a UDF
    assert(p.contains("bit_count"), "packed-code popcount missing from plan")
    // shortlist + query-vector fetches are broadcast joins; the only
    // hash exchanges are the two qid-keyed rank windows (Hamming
    // shortlist + final top-k) — the corpus never shuffles
    assert(p.contains("BroadcastHashJoin"))
    val finalSection = p.split("== Initial Plan ==").head
    val exchanges = finalSection.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
    assert(exchanges <= 2,
      s"v16 plans $exchanges hash exchanges; corpus is leaking into a shuffle")
  }

  test("q128/q129: scan-aggregate pair — all predicates pushed, no join, partial agg") {
    // the default 100-char metadata render truncates q129's 7-entry
    // PushedFilters list mid-name; widen it so the gate sees every entry
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try {
      val p1 = plan("q128_pricing_report")
      assert(p1.contains("LessThanOrEqual(l_shipdate"), "q128 date cut not pushed")
      assert(p1.contains("partial_"), "q128 lost map-side combine")
      assert(!p1.contains("Join"), "q128 must be a single-table scan-agg")
      val p2 = plan("q129_forecast_revenue")
      assert(p2.contains("GreaterThanOrEqual(l_shipdate"), "q129 date cut not pushed")
      assert(p2.contains("GreaterThanOrEqual(l_discount"), "q129 discount band not pushed")
      assert(p2.contains("LessThan(l_quantity"), "q129 quantity cap not pushed")
      assert(!p2.contains("Join"), "q129 must be a single-table scan-agg")
      assert(p2.contains("partial_"), "q129 lost map-side combine")
      // q129's scan prunes to the 4 referenced columns
      assert(!p2.contains("l_tax"))
      assert(!p2.contains("l_partkey"))
    } finally spark.conf.unset("spark.sql.maxMetadataStringLength")
  }

  test("q130: name filter pushed to the part scan; keyed joins only") {
    val p = plan("q130_product_profit")
    assert(p.contains("StringContains(p_name,bolt)"), "q130 name cut not pushed")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_"), "q130 lost map-side combine")
    // the fact rows must not carry part/supplier attributes beyond the
    // profit inputs: supplier contributes only its nationkey
    assert(!p.contains("s_name"))
  }

  test("q131: ONE partsupp-equivalent scan (the checkpoint), 1-row total NLJ only") {
    val p = plan("q131_important_parts")
    // both consumers (grouped values + global total) read the pinned
    // per-part aggregate: no lineitem FileScan may appear in the final
    // plan — the localCheckpoint ran it exactly once at build time
    val liScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans === 0, s"q131 re-scans lineitem $liScans times past the pin")
    assert(!p.contains("CartesianProduct"))
    // the only NLJ is the 1-row broadcast total (intendedNlj allowlists it)
    assert(p.contains("BroadcastNestedLoopJoin"),
      "q131 lost the 1-row scalar broadcast")
  }

  test("q132: date cuts pushed; late test rides the keyed join as residual") {
    val p = plan("q132_priority_shipping")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "q132 year cut not pushed")
    assert(p.contains("LessThan(l_shipdate"), "q132 year cut not pushed")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_"), "q132 lost map-side combine")
  }

  test("broadcast-hint policy: Relational.scala forces broadcasts ONLY on " +
    "bounded sides (nation/region slices, 1-row scalars)") {
    // Source-level gate for the r9 verdict's scale rule: a forced
    // broadcast() on a side that grows with the corpus (supplier,
    // customer, part slices — any fixed FRACTION of a dimension) is an
    // executor-OOM cliff at 100 TB, because the hint overrides both the
    // stats planner and AQE. Only truly bounded sides may carry a hint:
    // nation/region (25 rows at any SF) and 1-row scalar frames. Plan
    // gates can't see the difference (stats broadcast the slices at test
    // SF either way), so this gate greps the source.
    val src = java.nio.file.Files.readString(java.nio.file.Paths.get(
      "src/main/scala/graft/queries/Relational.scala"))
    val allowed = Seq(
      "broadcast(n)",                    // nation (25 rows)
      "broadcast(r)",                    // region (5 rows)
      "broadcast(ns.",                   // filtered-nation slices (q122)
      "broadcast(table(s, dir, \"nation\")", // inline nation probes
      "broadcast(avgRow)",               // 1-row scalar (q113)
      "broadcast(mx)",                   // 1-row scalar (q125)
      "broadcast(tot)")                  // 1-row scalar (q131)
    val offenders = src.linesIterator.zipWithIndex
      .filter { case (l, _) => l.contains("broadcast(") }
      .filterNot { case (l, _) => allowed.exists(l.contains) }
      .map { case (l, i) => s"line ${i + 1}: ${l.trim}" }
      .toSeq
    assert(offenders.isEmpty,
      s"forced broadcast() on a corpus-growing side:\n${offenders.mkString("\n")}")
  }

  test("streaming operators on a static frame: no watermark survives " +
      "optimization, so a batch caller never pays for the streaming shape") {
    import graft.streaming.{EventStream, StatsStream}
    import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, LogicalPlan}
    import org.apache.spark.sql.functions.col
    val ev = Engine.table(spark, sfDir, "events")
    def of(t: String) = ev.filter(col("event_type") === t)
    def marks(p: LogicalPlan) = p.collect { case w: EventTimeWatermark => w }.size
    Seq(
      "hourlyAgg" -> EventStream.hourlyAgg(ev),
      "segmentHourly" -> EventStream.segmentHourly(ev,
        Engine.table(spark, sfDir, "customer")),
      "slidingAgg" -> EventStream.slidingAgg(ev),
      "hourlyUniques" -> EventStream.hourlyUniques(ev),
      "sessionWindows" -> EventStream.sessionWindows(ev),
      "viewPurchaseJoin" -> EventStream.viewPurchaseJoin(of("purchase"), of("view")),
      "viewPurchaseCounts" -> EventStream.viewPurchaseCounts(ev),
      "viewPurchaseLeftOuter" ->
        EventStream.viewPurchaseLeftOuter(of("purchase"), of("view")),
      "shardStatsStream" ->
        StatsStream.shardStatsStream(ev, "event_id", Seq("event_id", "user_id"))
    ).foreach { case (name, df) =>
      assert(marks(df.queryExecution.optimizedPlan) === 0,
        s"$name keeps a watermark in its optimized batch plan")
    }
  }

  test("no query plans a CartesianProduct; NLJ only where designed") {
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q plans a CartesianProduct")
      if (!intendedNlj(q))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$q plans an unintended BroadcastNestedLoopJoin")
    }
  }
}
