package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window

import graft.Engine.table

/** Relational / MR-parity query suite over the harness tables.
  *
  * These realize the reference's canonical workload shapes
  * (test/mr.test.js:100-243 — grouped max/min folds, word count) plus the
  * relational operators a user of any engine expects (join, top-k, window,
  * distinct), expressed as declarative DataFrame plans so Catalyst gets
  * pushdown/pruning/broadcast for free.
  *
  * Determinism note: money sums are computed in DECIMAL, not DOUBLE.
  * Double addition is order-dependent and Spark's partial aggregation order
  * differs from DuckDB's, so a double `sum()` hash-mismatches the oracle in
  * the last ulps. Casting inputs to DECIMAL(18,6) makes the arithmetic
  * exact and engine-independent. (Arbitrary doubles never sit exactly on a
  * decimal rounding tie, so the cast itself is deterministic across
  * engines.)
  */
object Relational {

  /** The week's `value ∈ [100, 150]` band of the imported, clustered
    * lake fixture, read through the commit-log stats (q133, q138).
    */
  private def importedBandWeek(s: SparkSession, dir: String): DataFrame =
    graft.sources.VersionedLake
      .readBand(s, LakeFixtures.importedLake(s, dir), "value", 100.0, 150.0,
        None, "2024-01-08", "2024-01-14")
      .groupBy(col("dt"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        dec38(sum(dec(col("value")))).cast("double").as("sum_value"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))

  /** q136/q143: a hard-link CLONE of the shared clustered fixture, then
    * the REAL band delete against the clone — the op's honest cost stays
    * in the bench on every run without rebuilding the lake (committed
    * files are immutable, so the clone is O(files) link(2) calls and the
    * shared fixture is never mutated) — then the post-delete week.
    */
  private def lakeDeleteWeek(s: SparkSession, dir: String): DataFrame = {
    val out = LakeFixtures.cloneLake(LakeFixtures.clusteredLake(s, dir))
    graft.sources.VersionedLake.deleteBand(s, out, "value", 300.0, 1.0e12,
      fromDay = "2024-01-08", toDay = "2024-01-14")
    graft.sources.VersionedLake
      .read(s, out, None, "2024-01-08", "2024-01-14")
      .groupBy(col("dt"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        dec38(sum(dec(col("value")))).cast("double").as("sum_value"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 shape: scan-filter-aggregate with partial aggregation.
    // The reference analog is the grouped-fold MR job (mr.test.js:100-126).
    "q01_pricing_summary" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // arithmetic stays DECIMAL-exact; the final cast to DOUBLE only
          // changes the carrier type so the Spark and DuckDB outputs
          // canonicalize identically in the driver's hash compare
          dec38(sum(dec(col("l_quantity")))).cast("double").as("sum_qty"),
          dec38(sum(dec(col("l_extendedprice")))).cast("double").as("sum_base_price"),
          dec38(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 6)) - dec(col("l_discount")))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // NCDC "max temperature per year" analog (mr.test.js:100-126): events
    // is the timestamped fact table; max is order-independent → safe on
    // doubles.
    "q02_max_value_by_year" -> ((s, dir) => {
      table(s, dir, "events")
        .groupBy(year(col("ts")).as("yr"), col("event_type"))
        .agg(max(col("value")).as("max_value"))
    }),

    // "min temperature per year" variant (all.student.test.js:100-126).
    "q03_min_value_by_year" -> ((s, dir) => {
      table(s, dir, "events")
        .groupBy(year(col("ts")).as("yr"), col("event_type"))
        .agg(min(col("value")).as("min_value"))
    }),

    // Word count — the reference's flagship flatMap-shaped MR job
    // (mr.test.js:165-204). Declarative form (explode+groupBy) so Catalyst
    // plans partial aggregation = the reference's compactV2 combiner.
    "q04_wordcount" -> ((s, dir) => {
      table(s, dir, "documents")
        .select(explode(split(col("text"), "\\s+")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"))
    }),

    // Case-insensitive variant (all.student.test.js:376-416).
    "q05_wordcount_ci" -> ((s, dir) => {
      table(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"))
    }),

    // Multi-way join: revenue by nation (TPC-H Q5 shape). nation/region
    // are tiny → Catalyst broadcasts them; customer⋈orders⋈lineitem
    // shuffle on their keys. The reference can only express joins by hand
    // inside reduce closures (SURVEY §2.6) — this is the declarative form.
    "q06_revenue_by_nation" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val n = table(s, dir, "nation")
      val r = table(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          dec38(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 6)) - dec(col("l_discount")))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q3 (shipping priority, adapted to this schema's columns):
    // segment-filtered customers ⋈ pre-cutoff orders ⋈ post-cutoff
    // lineitems, revenue per order, top-10. The canonical multi-join +
    // agg + top-k pipeline in one plan: both date filters push to the
    // scans, revenue is the exact DECIMAL chain (cross-engine
    // identical, so the LIMIT cut is deterministic under the orderkey
    // tie-break), and the top-10 plans as TakeOrderedAndProject — no
    // global sort. The segment-filtered customer side GROWS with the
    // corpus (~1/5 of customers), so its broadcast is stats/AQE-gated,
    // never forced (the q108 policy, uniform since r10): stats
    // broadcast it while it fits the threshold, AQE re-plans from
    // exact runtime sizes past that.
    "q104_shipping_priority" -> ((s, dir) => {
      val cut = lit("1995-03-15").cast("timestamp")
      val c = table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") < cut)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_orderpriority"))
      val li = table(s, dir, "lineitem")
        .filter(col("l_shipdate") > cut)
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(dec38(sum(dec(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 6)) - dec(col("l_discount")))))
          .as("__rev"))
        .orderBy(col("__rev").desc, col("l_orderkey").asc)
        .limit(10)
        .select(col("l_orderkey"), col("o_orderdate"),
          col("o_orderpriority"),
          col("__rev").cast("double").as("revenue"))
    }),

    // TPC-H Q5 (local-supplier volume, adapted): the classic 6-table
    // STAR JOIN — lineitem⋈orders⋈customer carry the fact-side shuffles
    // (orderkey, then custkey), while supplier+nation+region collapse
    // into ONE broadcast dimension (pre-joined under the region filter,
    // so the fact stream is probed once, not three times). The
    // customer=supplier same-nation condition rides the broadcast probe.
    // Date range pushes to the orders scan; revenue is the exact-DECIMAL
    // chain. Scale: both fact shuffles are key-partitioned and
    // partial-agg'd. The supplier side GROWS with the corpus (1/5 of it
    // under the region cut), so the broadcast is NOT forced: the scan-
    // stats planner broadcasts it while it fits the threshold and AQE
    // re-plans from exact runtime sizes past that — at test SF the plan
    // is the broadcast probe (PlanSpec gates it); at 100 TB the same
    // code degrades to a keyed shuffle join instead of OOMing every
    // executor on a forced-broadcast billion-supplier build side.
    "q108_region_revenue" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1997-01-01").cast("timestamp")
      val c = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(col("o_orderkey"), col("o_custkey"))
      val li = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
      val dim = table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
        .join(table(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey")),
          col("s_nationkey") === col("n_nationkey"))
        .join(table(s, dir, "region").filter(col("r_name") === "ASIA")
          .select(col("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(dim, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          dec38(sum(dec(col("l_extendedprice")) *
            (lit(1).cast(DecimalType(18, 6)) - dec(col("l_discount")))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q21 (suppliers who kept orders waiting, adapted — this
    // schema has no commit/receipt dates, so "late" := shipped more
    // than 90 days after the order date): the SEMI+ANTI composition
    // over lineitem self-joins. l1 = late (order, supplier) pairs for
    // the probed nation; LEFT SEMI against ALL pairs (some other
    // supplier touched the order) then LEFT ANTI against late pairs
    // (no OTHER supplier was late) — supplier s was the sole delay.
    // Scale: both self-joins key on l_orderkey with the suppkey
    // inequality as residual condition — ordinary key-partitioned
    // shuffles, per-order fan bounded by order width; the nation-
    // filtered supplier dimension (1/25 of suppliers — grows with the
    // corpus, so its broadcast is stats/AQE-gated, never forced);
    // distinct() collapses the pair sets before any self-join so
    // multiplicity never inflates the exchanges.
    "q109_sole_late_suppliers" -> ((s, dir) => {
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
      val lp = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      // ONE (order, supplier) pair table with a late flag (max-when ==
      // EXISTS a late line), MATERIALIZED once: the late side, the
      // all-pairs side, and the anti probe all read it, and Catalyst
      // optimizes each consumer branch independently (divergent pruning
      // defeats ReusedExchange), so without the checkpoint the
      // lineitem⋈orders scan+shuffle runs three times (measured: 3x
      // 600k-row exchanges at sf0.1). The pair table is |distinct
      // (order, supplier)| rows — a fraction of lineitem at any SF —
      // so materializing it is the 100 TB plan too (the d06/q30
      // localCheckpoint round idiom).
      val pairs = lp.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 90 DAY"), 1).otherwise(0))
          .as("__late"))
        .localCheckpoint()
      val late = pairs.filter(col("__late") === 1)
        .select(col("l_orderkey"), col("l_suppkey"))
      val alls = pairs.select(col("l_orderkey"), col("l_suppkey"))
      val sup = table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
        .join(table(s, dir, "nation").filter(col("n_name") === "NATION_12")
          .select(col("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
      val l1 = late.join(sup, col("l_suppkey") === col("s_suppkey"))
      val hasOther = l1.as("a").join(alls.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") =!= col("b.l_suppkey"), "left_semi")
      val soleLate = hasOther.as("a").join(late.as("c"),
        col("a.l_orderkey") === col("c.l_orderkey") &&
          col("a.l_suppkey") =!= col("c.l_suppkey"), "left_anti")
      soleLate.groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(20)
    }),

    // TPC-H Q17 (small-quantity-order revenue, adapted): the CORRELATED
    // AVG SUBQUERY plan — revenue from line items whose quantity sits
    // below 20% of their part's average, for a 3-brand slice. Spark-first
    // decorrelation: the per-part (sum, count) ride a PART-KEYED WINDOW
    // over the brand-pruned join — ONE lineitem scan, ONE l_partkey
    // exchange (the agg-then-join-back form scans the join twice;
    // PlanSpec gates the single scan). The threshold compare is
    // integer-exact: qty < 0.2·avg ⇔ 5·qty·cnt < sum — fraction-free
    // DECIMAL arithmetic, so no engine can disagree at the boundary
    // (the q38 6n>5m discipline); DECIMAL window sums are exact, hence
    // order-free. Revenue is the exact-DECIMAL chain; the /7 yearly
    // average is one IEEE double division after the cast.
    "q111_small_quantity_revenue" -> ((s, dir) => {
      val brands = Seq("Brand#2", "Brand#17", "Brand#5")
      val p = table(s, dir, "part")
        .filter(col("p_brand").isin(brands: _*))
        .select(col("p_partkey"), col("p_brand"))
      val li = table(s, dir, "lineitem")
        // the brand slice grows with the corpus → broadcast is
        // stats/AQE-gated, never forced (the q108 policy)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(p, col("l_partkey") === col("p_partkey"))
      val w = Window.partitionBy(col("l_partkey"))
      li.withColumn("__sq", dec38(sum(dec(col("l_quantity"))).over(w)))
        .withColumn("__n", count(lit(1)).over(w))
        .filter(dec(col("l_quantity")) * lit(5) * col("__n") < col("__sq"))
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n_items"),
          (dec38(sum(dec(col("l_extendedprice")))).cast("double") / lit(7.0))
            .as("avg_yearly"))
    }),

    // TPC-H Q2 essence (cheapest supplier per part): the GROUPWISE
    // ARGMIN JOIN — per part of one type, the minimum-balance supplier
    // among those that actually shipped it. No window: the argmin folds
    // inside one aggregation as a (acctbal, suppkey) struct-min (the
    // q96 struct-max idiom), then ONE broadcast join back to supplier
    // attributes — two exchanges total, both key-partitioned, at any
    // corpus size. Ties break to the smaller suppkey via the struct's
    // lexicographic order; acctbal is compared as exact DECIMAL.
    "q112_cheapest_supplier" -> ((s, dir) => {
      val p = table(s, dir, "part")
        .filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey"), col("p_name"))
      val sup = table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      val ps = table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      // supplier and the type-filtered part slice BOTH grow with the
      // corpus → no forced broadcast anywhere (the q108 policy);
      // stats/AQE broadcast them while they fit, keyed-shuffle past that
      val argmin = ps
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(min(struct(dec(col("s_acctbal")).as("b"),
          col("s_suppkey").as("k"))).as("__m"))
        .select(col("l_partkey"), col("__m.k").as("s_suppkey"))
      argmin
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(sup, Seq("s_suppkey"))
        .select(col("p_partkey"), col("p_name"), col("s_name"),
          col("s_acctbal"))
    }),

    // TPC-H Q22 (dormant rich customers, adapted — no phone column, so
    // grouped by nation): the SCALAR-SUBQUERY + ANTI-JOIN composition.
    // The global positive-balance average rides a 1-row broadcast (the
    // t16 discipline); customers above it anti-join recent orders
    // (nothing ordered since 2000). The average is derived identically
    // in both engines: exact DECIMAL sum cast to double, one IEEE
    // division — the threshold compare is then deterministic.
    "q113_dormant_rich_customers" -> ((s, dir) => {
      val c = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val avgRow = c.filter(col("c_acctbal") > 0.0)
        .agg((dec38(sum(dec(col("c_acctbal")))).cast("double") /
          count(lit(1))).as("__avg"))
      val recent = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      c.crossJoin(broadcast(avgRow))
        .filter(col("c_acctbal") > col("__avg"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_custs"),
          dec38(sum(dec(col("c_acctbal")))).cast("double").as("total_bal"))
    }),

    // TPC-H Q19 (discounted revenue under a DISJUNCTIVE predicate): the
    // OR-of-ANDs plan — three (brand, size-range, qty-range) arms over
    // lineitem⋈part. Catalyst cannot split an OR across relations, so
    // the part-only implication of the arms (brand ∧ size per arm) is
    // written as an explicit pre-filter — it reaches the parquet scan
    // as a pushed Or(And(...)) and prunes BEFORE the join — while the
    // full disjunction (which needs both sides) evaluates post-join.
    // The per-arm qty bounds are integer-valued doubles; revenue is the
    // exact-DECIMAL chain, grouped per brand (each arm pins its brand).
    "q116_disjunctive_revenue" -> ((s, dir) => {
      val p = table(s, dir, "part")
        .filter(
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#17" && col("p_size").between(10, 25)) ||
          (col("p_brand") === "Brand#5" && col("p_size").between(20, 40)))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val li = table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
      // the three-arm part slice grows with the corpus → stats/AQE-
      // gated broadcast only (the q108 policy)
      li.join(p, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#17" && col("p_size").between(10, 25) &&
            col("l_quantity").between(10, 40)) ||
          (col("p_brand") === "Brand#5" && col("p_size").between(20, 40) &&
            col("l_quantity").between(20, 50)))
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n_items"),
          dec38(sum(dec(col("l_extendedprice")) *
            (lit(1).cast(DecimalType(18, 6)) - dec(col("l_discount")))))
            .cast("double").as("revenue"))
    }),

    // TPC-H Q10 (returned-item revenue, adapted): customers ranked by
    // the revenue they returned in one quarter — the fact-spine
    // join + group + top-k warehouse report. Return flag and date both
    // push to their scans; customer attributes and the nation name join
    // AFTER the aggregation (the top-k cut needs only custkey +
    // revenue — joining attributes first would shuffle them through the
    // aggregate); exact-DECIMAL revenue makes the top-20 cut
    // deterministic under the custkey tie-break. The customer side
    // GROWS with the corpus, so its broadcast is NOT forced (the q108
    // gate): stats broadcast it while it fits, AQE re-plans past that —
    // a forced hint would OOM the build side at 100 TB. Nation stays an
    // explicit broadcast: 25 rows at any SF.
    "q117_returned_revenue" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1996-04-01").cast("timestamp")
      val li = table(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(col("o_orderkey"), col("o_custkey"))
      val agg = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(dec38(sum(dec(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 6)) - dec(col("l_discount")))))
          .as("__rev"))
      val c = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_nationkey"))
      val n = table(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      agg
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .orderBy(col("__rev").desc, col("c_custkey").asc)
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          col("c_acctbal"), col("__rev").cast("double").as("revenue"))
    }),

    // TPC-H Q13 (customer order-count distribution, adapted — no
    // o_comment column, so the exclusion predicate is a priority
    // class): the LEFT-OUTER COUNT DISTRIBUTION plan — the one shape
    // whose semantics hinge on the null group: customers with NO
    // (non-urgent) orders must surface as c_count = 0, which only a
    // left outer join + count(o_orderkey) (null-skipping) expresses;
    // an inner join silently drops the zero bucket. Scale: the outer
    // join and the per-customer count share the c_custkey partitioning
    // (one exchange serves both — the join's shuffle IS the agg's),
    // and the closing distribution groups on c_count — tens of rows at
    // any corpus size.
    "q118_order_count_distribution" -> ((s, dir) => {
      val c = table(s, dir, "customer").select(col("c_custkey"))
      val o = table(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),

    // TPC-H Q18 (large-order customers): the HAVING + IN-SUBQUERY
    // composition — orders whose total line quantity clears a
    // threshold, re-joined to their order/customer attributes. Spark-
    // first decorrelation: the IN-set and the displayed quantity are
    // the SAME aggregate, so one lineitem groupBy(l_orderkey) with the
    // HAVING as a post-agg filter feeds the join directly — no second
    // pass over lineitem, no semi join against a re-aggregation. The
    // threshold compare is exact-DECIMAL (sum of integer-valued
    // quantities), so no engine can disagree at the boundary. Scale:
    // the qualifying set is the 99th-percentile tail of orders — tiny
    // relative to lineitem — and the orders/customer joins key on it;
    // TakeOrderedAndProject closes top-100 without a global sort.
    "q119_large_order_customers" -> ((s, dir) => {
      val big = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .groupBy(col("l_orderkey"))
        .agg(dec38(sum(dec(col("l_quantity")))).as("__qty"))
        .filter(col("__qty") > lit(250).cast(DecimalType(38, 6)))
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_totalprice"))
      val c = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"))
      big.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"),
          col("__qty").cast("double").as("total_qty"))
    }),

    // TPC-H Q20 (part suppliers with surplus shipments, adapted — no
    // partsupp table, so (l_partkey, l_suppkey) pairs from lineitem
    // stand in, and the availqty>half-shipped test becomes a shipped-
    // quantity threshold over one year): the NESTED SEMI CHAIN —
    // supplier ⟕ (pairs over threshold ⟕ name-filtered parts). Both
    // semis flow INTO supplier, so no supplier attribute widens the
    // inner exchanges: the pair aggregate shuffles on (part, supp),
    // semi-prunes against the broadcast part set, collapses to distinct
    // suppkeys (a supplier-sized set), and the nation-filtered supplier
    // side probes it. Exact-DECIMAL threshold, suppkey-ordered output.
    "q120_surplus_part_suppliers" -> ((s, dir) => {
      val pr = table(s, dir, "part")
        .filter(col("p_name").startsWith("red "))
        .select(col("p_partkey"))
      val pairs = table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(dec38(sum(dec(col("l_quantity")))).as("__sq"))
      // the name-prefix part slice grows with the corpus → stats/AQE-
      // gated broadcast only (the q108 policy)
      val qual = pairs
        .join(pr, col("l_partkey") === col("p_partkey"),
          "left_semi")
        .filter(col("__sq") > lit(40).cast(DecimalType(38, 6)))
        .select(col("l_suppkey")).distinct()
      table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
        .join(broadcast(table(s, dir, "nation")
          .filter(col("n_name") === "NATION_3")
          .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(qual, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .orderBy(col("s_suppkey").asc)
        .select(col("s_suppkey"), col("s_name"))
    }),

    // TPC-H Q4 (order priority checking): the CORRELATED EXISTS whose
    // condition references BOTH sides' non-key columns — at least one
    // line shipped more than 60 days after the order date. Spark-first:
    // a LEFT SEMI keyed on orderkey with the cross-side date compare as
    // residual; the quarter cut pushes to the orders scan and bounds
    // the probe side before the join. Counts are exact int64; the
    // priority regroup is five rows at any SF.
    "q121_order_priority_check" -> ((s, dir) => {
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val li = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      o.join(li, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),

    // TPC-H Q7 (volume shipping between two nations): the SYMMETRIC
    // DISJUNCTION over a join pair — (supp, cust) must be (A,B) or
    // (B,A). Spark-first: supplier and customer each pre-join their
    // 2-row nation slice (a broadcast probe that also PRUNES the fact
    // stream to the two nations before the disjunction), so the OR
    // evaluates over the tiny two-nation slice, never the full join.
    // Grouped by the pair and the ship YEAR; exact-DECIMAL revenue.
    "q122_volume_shipping" -> ((s, dir) => {
      val ns = table(s, dir, "nation")
        .filter(col("n_name").isin("NATION_13", "NATION_19"))
      val sup = table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(ns.select(col("n_nationkey"),
          col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(ns.select(col("n_nationkey").as("n2_key"),
          col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("n2_key"))
        .select(col("c_custkey"), col("cust_nation"))
      table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
        .join(table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        // the two-nation supplier/customer slices grow with the corpus
        // (2/25 of each dimension) → stats/AQE-gated broadcasts only
        // (the q108 policy); the nation probes above stay explicit
        // broadcasts — 25 rows at any SF
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .filter((col("supp_nation") === "NATION_13" &&
            col("cust_nation") === "NATION_19") ||
          (col("supp_nation") === "NATION_19" &&
            col("cust_nation") === "NATION_13"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(dec38(sum(dec(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 6)) - dec(col("l_discount")))))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q8 (national market share): the CONDITIONAL-AGGREGATE
    // RATIO — the share of one nation's suppliers in a region's
    // customer revenue, per order year. One pass computes BOTH sums
    // (sum-when over the same rows), each exact DECIMAL; the share is
    // one IEEE division after the double casts, so no engine can
    // disagree. The region cut collapses customer⋈nation⋈region into a
    // pruned probe; the supplier nation flag rides a second slim probe.
    "q123_market_share" -> ((s, dir) => {
      val custR = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(table(s, dir, "nation")
          .select(col("n_nationkey"), col("n_regionkey"))
          .join(table(s, dir, "region")
            .filter(col("r_name") === "ASIA").select(col("r_regionkey")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val supN = table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(table(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"),
          (col("n_name") === "NATION_7").as("__is_target"))
      val rev = dec(col("l_extendedprice")) *
        (lit(1).cast(DecimalType(18, 6)) - dec(col("l_discount")))
      table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(table(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        // supN is the ENTIRE flagged supplier dimension — grows with
        // the corpus → stats/AQE-gated broadcast only (the q108 policy)
        .join(custR, col("o_custkey") === col("c_custkey"), "left_semi")
        .join(supN, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          (dec38(sum(when(col("__is_target"), rev)
            .otherwise(lit(0).cast(DecimalType(18, 6))))).cast("double") /
            dec38(sum(rev)).cast("double")).as("mkt_share"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q14 (promo revenue share): the single-row conditional
    // ratio — what fraction of one month's revenue came from PROMO
    // parts. Same two-sums-one-division determinism discipline as
    // q123; the month cut pushes to the lineitem scan, and the
    // part-type probe is the only join (its broadcast is stats/AQE-
    // gated like q108 — part grows with the corpus).
    "q124_promo_revenue_share" -> ((s, dir) => {
      val rev = dec(col("l_extendedprice")) *
        (lit(1).cast(DecimalType(18, 6)) - dec(col("l_discount")))
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
        .join(table(s, dir, "part").select(col("p_partkey"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          (lit(100.0) *
            dec38(sum(when(col("p_type") === "PROMO", rev)
              .otherwise(lit(0).cast(DecimalType(18, 6))))).cast("double") /
            dec38(sum(rev)).cast("double")).as("promo_share"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q15 (top supplier): the AGG → SCALAR-MAX → EQUALITY-JOIN
    // composition (the view + subquery form) — tie-SAFE by
    // construction, unlike a LIMIT 1: every supplier at the max
    // revenue surfaces. Revenue per supplier is the exact-DECIMAL sum,
    // so the max and the equality compare are engine-independent; the
    // 1-row max broadcasts (the q113 scalar discipline).
    "q125_top_supplier" -> ((s, dir) => {
      val rev = table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(dec38(sum(dec(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 6)) - dec(col("l_discount")))))
          .as("__rev"))
      val mx = rev.agg(max(col("__rev")).as("__mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("__rev") === col("__mx"))
        .join(table(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal")),
          col("l_suppkey") === col("s_suppkey"))
        .orderBy(col("s_suppkey").asc)
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("__rev").cast("double").as("total_revenue"))
    }),

    // TPC-H Q16 (supplier-part relationship distribution): NOT-IN
    // exclusion + grouped COUNT DISTINCT — how many distinct suppliers
    // ship each (brand, type, size) combination, excluding negative-
    // balance suppliers (the complaint-list stand-in). Spark-first:
    // the NOT IN is a LEFT ANTI against the (null-free) exclusion set,
    // the size/brand cuts push to the part scan, and the distinct
    // count rides the same (brand, type, size) exchange as the group.
    "q126_supplier_part_distribution" -> ((s, dir) => {
      val p = table(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#2" &&
          col("p_size").isin(1, 5, 10, 15))
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
          col("p_size"))
      val excl = table(s, dir, "supplier")
        .filter(col("s_acctbal") < 0.0).select(col("s_suppkey"))
      // the brand/size part cut and the negative-balance supplier set
      // both grow with the corpus → stats/AQE-gated broadcasts only
      // (the q108 policy)
      table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(excl, col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // TPC-H Q1 (full pricing summary report — completes the q01 shape
    // with the charge chain and the three averages): ONE scan-filter-
    // aggregate pass computing eight aggregates. Every sum is exact
    // DECIMAL; charge = disc_price · (1+tax) stays exact by re-casting
    // the scale-4 disc_price product to DECIMAL(18,6) (exact — values
    // carry 4 decimals) before the tax multiply, keeping the final
    // product at scale 12 under the 38-digit cap on BOTH engines. The
    // averages are the q113 discipline: exact sum → one double cast →
    // one IEEE division by the group count. Scale: pure partial-agg
    // scan — the shuffle carries |groups| = 6 rows per partition.
    "q128_pricing_report" -> ((s, dir) => {
      val one = lit(1).cast(DecimalType(18, 6))
      val discPrice = dec(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
      val charge = discPrice * (one + dec(col("l_tax")))
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dec38(sum(dec(col("l_quantity")))).cast("double").as("sum_qty"),
          dec38(sum(dec(col("l_extendedprice")))).cast("double").as("sum_base_price"),
          dec38(sum(discPrice)).cast("double").as("sum_disc_price"),
          dec38(sum(charge)).cast("double").as("sum_charge"),
          (dec38(sum(dec(col("l_quantity")))).cast("double") / count(lit(1)))
            .as("avg_qty"),
          (dec38(sum(dec(col("l_extendedprice")))).cast("double") / count(lit(1)))
            .as("avg_price"),
          (dec38(sum(dec(col("l_discount")))).cast("double") / count(lit(1)))
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // TPC-H Q6 (forecasting revenue change): the pure SCAN-AGGREGATE —
    // every predicate (date range, discount band, quantity cap) pushes
    // to the parquet scan, no join anywhere, revenue = price·discount
    // summed exactly in DECIMAL. The BETWEEN bounds compare the same
    // parquet doubles against the same literals on both engines, so the
    // band cut is deterministic. Scale: the cheapest possible plan —
    // filtered scan + partial agg + 1-row exchange.
    "q129_forecast_revenue" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(
          dec38(sum(dec(col("l_extendedprice")) * dec(col("l_discount"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q9 (product type profit, adapted — no partsupp table, so
    // p_retailprice·quantity stands in for the supplycost leg): the
    // MULTI-JOIN PROFIT regroup — lineitem ⋈ name-filtered part ⋈
    // supplier ⋈ nation ⋈ orders, profit summed per supplier nation ×
    // order year. The name filter pushes to the part scan as a
    // StringContains and prunes the fact stream at the FIRST join; the
    // supplier side carries only (suppkey, nationkey) so the fact rows
    // never widen; nation broadcasts (25 rows); every other join is
    // keyed shuffle (part and supplier grow with the corpus — the q108
    // broadcast policy). Profit = rev − cost computed in one exact
    // DECIMAL expression: both products are scale-4-exact at scale 12,
    // the difference fits DECIMAL(38,12) on both engines.
    "q130_product_profit" -> ((s, dir) => {
      val p = table(s, dir, "part")
        .filter(col("p_name").contains("bolt"))
        .select(col("p_partkey"), col("p_retailprice"))
      val sup = table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val n = table(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
      val amount = dec(col("l_extendedprice")) *
        (lit(1).cast(DecimalType(18, 6)) - dec(col("l_discount"))) -
        dec(col("p_retailprice")) * dec(col("l_quantity"))
      table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(dec38(sum(amount)).cast("double").as("sum_profit"))
    }),

    // TPC-H Q11 (important stock identification, adapted — no partsupp,
    // so per-part shipped value from one nation's suppliers stands in
    // for ps_supplycost·ps_availqty): the GROUP-SHARE-VS-SCALAR plan —
    // parts whose value exceeds a fraction of the TOTAL value. Spark-
    // first: the per-part value aggregate is MATERIALIZED once
    // (localCheckpoint — the q109 pairs idiom) because both the
    // grouped rows and the global total read it; without the pin the
    // lineitem⋈supplier scan+shuffle runs twice. The 1-row total rides
    // a broadcast cross join (the q113 scalar discipline); the
    // threshold compare casts both exact DECIMALs to double and does
    // ONE multiply — identical operands and operator order on both
    // engines, so no boundary disagreement.
    "q131_important_parts" -> ((s, dir) => {
      val sup = table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(table(s, dir, "nation")
          .filter(col("n_name") === "NATION_3")
          .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val pv = table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
        .join(sup, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"))
        .agg(dec38(sum(dec(col("l_extendedprice")))).as("__val"))
        .localCheckpoint()
      val tot = pv.agg(dec38(sum(col("__val"))).as("__tot"))
      pv.crossJoin(broadcast(tot))
        .filter(col("__val").cast("double") >
          lit(0.001) * col("__tot").cast("double"))
        .select(col("l_partkey"), col("__val").cast("double").as("value"))
    }),

    // TPC-H Q12 (shipping modes and order priority, adapted — no
    // l_shipmode/commitdate columns, so l_linestatus stands in for the
    // mode and "late" := shipped >30 days after the order date): the
    // TWO-CONDITIONAL-COUNT regroup — one pass over the year's late
    // lines counts urgent-or-high and other-priority orders per status
    // (the q123 sum-when discipline; both counts exact int64). The year
    // cut pushes to the lineitem scan; the late test is a cross-side
    // date compare riding the keyed join as residual.
    "q132_priority_shipping" -> ((s, dir) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
        .join(table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAY"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
    }),

    // Day-partitioned lake layout gate (sources/Partitioned.scala): the
    // events table is rewritten as a dt=YYYY-MM-DD directory tree, and a
    // one-week range is answered from the PRUNED read (directory-level
    // PartitionFilters — PartitionedSpec gates that only the range's
    // dirs are touched). The oracle computes from the FLAT parquet, so
    // the hash match proves the layout + pruning path lossless: same
    // rows, full timestamp precision, exact-DECIMAL value sums.
    "q114_partitioned_scan" -> ((s, dir) => {
      // TempDirs: one session root, recursively deleted by a shutdown
      // hook — deleteOnExit on a non-empty dir is a no-op and leaked a
      // table copy per invocation (r8 ADVICE)
      val root = graft.TempDirs.scratch("graft_q114").toFile
      val out = root.getAbsolutePath + "/events"
      graft.sources.Partitioned.writeByDay(table(s, dir, "events"), out)
      graft.sources.Partitioned.readDays(s, out, "2024-01-08", "2024-01-14")
        .groupBy(col("dt"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          dec38(sum(dec(col("value")))).cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // Lake COMPACTION gate: the events table lands as a raw
    // Partitioned base write plus an append (the incremental-ingest
    // lifecycle that accumulates small files), is adopted into a commit
    // log (VersionedLake.importTree), the week is compacted in one
    // atomic commit (VersionedLake.compact), and the week aggregate is
    // answered by Partitioned.readDays — which reads through the log,
    // since the day dirs still hold the superseded files. The oracle
    // computes from the flat parquet, so the hash match proves the
    // append + import + compaction lossless end-to-end — same rows,
    // full timestamp precision, exact sums, no superseded file read
    // twice. The write/append/compact cost is the honest maintenance
    // cost and stays in the bench (the q114 discipline).
    "q127_compacted_scan" -> ((s, dir) => {
      val root = graft.TempDirs.scratch("graft_q127").toFile
      val out = root.getAbsolutePath + "/events"
      // the lake slice is 11 days and only the queried week compacts:
      // each day's rewrite is one (tiny) Spark job off a sequential
      // driver loop, so compacting the full year here would bill ~90
      // job submissions of pure overhead to the bench — the gate needs
      // append + compact + pruned-read losslessness, which one week
      // (with uncompacted neighbor days proving range discipline) covers
      val ev = table(s, dir, "events")
        .filter(col("ts") >= lit("2024-01-05").cast("timestamp") &&
          col("ts") < lit("2024-01-16").cast("timestamp"))
      graft.sources.Partitioned.writeByDay(
        ev.filter(pmod(col("event_id"), lit(2)) === 0), out)
      graft.sources.Partitioned.appendByDay(
        ev.filter(pmod(col("event_id"), lit(2)) === 1), out)
      graft.sources.VersionedLake.importTree(s, out)
      graft.sources.VersionedLake.compact(
        s, out, "2024-01-08", "2024-01-14")
      graft.sources.Partitioned.readDays(s, out, "2024-01-08", "2024-01-14")
        .groupBy(col("dt"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          dec38(sum(dec(col("value")))).cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // Clustered compaction + file-level data skipping: the q127
    // lifecycle with the week RANGE-CLUSTERED on `value` (per-file
    // min/max recorded in the commit log), and the week's band answered
    // through VersionedLake.readBand, which prunes non-overlapping
    // FILES from the snapshot's stats before any footer opens (entries
    // without stats are always read). The oracle computes the same band
    // from the FLAT parquet, so the hash match proves the cluster
    // rewrite + file pruning lossless end-to-end, not merely
    // self-consistent. Scale: at 100 TB a narrow band over a clustered
    // lake opens O(band) files instead of O(corpus) footers.
    "q133_clustered_scan" -> ((s, dir) =>
      // the write+append+import+clustered-compact lifecycle is the
      // shared per-process fixture q138 also reads (LakeFixtures): the
      // oracle recomputes from FLAT parquet, so the fixture's build is
      // still verified end-to-end by every read
      importedBandWeek(s, dir)),

    // Versioned lake with a manifest commit log
    // (sources/VersionedLake.scala): two appends commit v1 (even event_ids)
    // and v2 (odd), compaction publishes v3 atomically, and the query
    // answers the SAME aggregate twice — time-traveled to v1 and from
    // the compacted head — in one result (tagged rows, one build cost).
    // The oracle recomputes both snapshots from the FLAT parquet (v1 =
    // the even half, live = everything), so the hash match proves
    // snapshot isolation AND compaction losslessness end-to-end: a
    // compaction that double-counted or dropped a file fails the live
    // half; a manifest that leaked v2/v3 files into the v1 read fails
    // the time-travel half. Scale: reads open exactly the manifest's
    // files — day pruning is a driver-side filter on entries, no
    // directory walk of a 10⁵-day tree; commits are one atomic
    // create-if-absent regardless of lake size.
    "q134_versioned_lake" -> ((s, dir) => {
      // shared fixture (v1 = even half, v2 = odd, v3 = compaction); the
      // query exercises time travel + the compacted head read
      val out = LakeFixtures.plainLake(s, dir)
      val v1 = 1L
      def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.groupBy(col("dt"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            dec38(sum(dec(col("value")))).cast("double").as("sum_value"),
            countDistinct(col("user_id")).as("n_users"))
          .withColumn("snap", lit(tag))
      agg(graft.sources.VersionedLake.read(s, out, Some(v1),
        "2024-01-08", "2024-01-14"), "v1")
        .union(agg(graft.sources.VersionedLake.read(s, out, None,
          "2024-01-08", "2024-01-14"), "live"))
    }),

    // Data skipping from the COMMIT LOG on a natively versioned lake
    // (q133 reads an imported one): appends record coarse per-file
    // min/max in their manifest entries, clustered compaction tightens
    // them to disjoint ranges, and readBand prunes files straight off
    // the snapshot — no directory listing. Same flat-parquet oracle as q133,
    // so equality proves manifest-stats pruning lossless end-to-end;
    // VersionedLakeSpec pins that files are actually skipped and that
    // stat-less entries always survive selection.
    "q135_versioned_band" -> ((s, dir) => {
      // shared clustered fixture; the query exercises the manifest-stats
      // band read (the fixture's append/compact losslessness is verified
      // by the flat-parquet oracle on every invocation)
      val out = LakeFixtures.clusteredLake(s, dir)
      graft.sources.VersionedLake
        .readBand(s, out, "value", 100.0, 150.0,
          None, "2024-01-08", "2024-01-14")
        .groupBy(col("dt"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          dec38(sum(dec(col("value")))).cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("event_id")).as("min_event_id"),
          max(col("event_id")).as("max_event_id"))
    }),

    // DELETE on the versioned lake (the retention / right-to-erasure
    // op): after the q135 lifecycle, every row with value ≥ 300 is
    // deleted through deleteBand — manifest stats prove most clustered
    // files disjoint from the band so they are never scanned, and the
    // matches are tombstoned in one deletion-vector sidecar with zero
    // data-file rewrites, one atomic commit. The week aggregate reads the
    // post-delete head, which anti-applies the tombstones; the oracle
    // applies the complement predicate to the FLAT parquet (keeping
    // NULLs — the SQL DELETE convention), so equality proves the delete
    // removed exactly the matches and nothing else. VersionedLakeSpec
    // pins the blast radius (untouched entries identical, the data tree
    // byte-identical) and the time-travel audit trail (pre-delete
    // snapshots keep the rows until vacuum). q143 runs the same body
    // under its own registry name.
    "q136_lake_delete" -> ((s, dir) => lakeDeleteWeek(s, dir)),
    "q143_lake_dv_delete" -> ((s, dir) => lakeDeleteWeek(s, dir)),

    // ADOPTION gate (VersionedLake.importTree): an existing Partitioned
    // day tree — base write plus an append, the q127 lifecycle — is
    // imported IN PLACE into a commit log (one census job, files
    // untouched), then CLUSTERED-COMPACTED through the versioned path
    // and answered via a manifest band read. The oracle computes the
    // band from the FLAT parquet, so the hash match proves the whole
    // migration chain lossless: adoption census, post-import atomic
    // compaction, stats skipping. This is the bridge between the two
    // lake flavors — a user migrates a raw dt= tree to snapshots/
    // time-travel/CDC without moving a byte of data.
    "q138_imported_lake" -> ((s, dir) =>
      // shared fixture: raw tree → importTree → clustered compact; the
      // query reads the migrated lake through the manifest band path
      importedBandWeek(s, dir)),

    // UPSERT into the versioned lake (the MERGE/CDC-apply analog,
    // last-write-wins by event_id): the 11-day slice lands as the base,
    // then ONE upsert batch carries value corrections for one day's
    // event_id % 10 == 0 rows AND brand-new backfill rows on the
    // neighbor day (event_id + 1e12, a new event_type) — matched keys'
    // stale rows are anti-joined out of only the files that hold them,
    // the batch appends through the stats path, and BOTH land in one
    // atomic commit (no snapshot anywhere holds two versions of a key —
    // VersionedLakeSpec pins that on the per-version sweep). The oracle
    // reconstructs the merge relationally from flat parquet (untouched
    // ∪ updated ∪ new), so the hash match proves key matching,
    // stale-row removal, and the single-commit merge end-to-end. Scale:
    // the update batch broadcasts (CDC batches are small by nature);
    // rewrite I/O is O(files holding matched keys) — two days of an
    // 11-day lake here — never O(lake).
    "q137_lake_upsert" -> ((s, dir) => {
      // hard-link CLONE of the single-append base fixture, then the REAL
      // upsert against the clone (the q136 clone discipline — the merge
      // cost stays in the bench, the lake build does not)
      val out = LakeFixtures.cloneLake(LakeFixtures.upsertBase(s, dir))
      val ev = LakeFixtures.slimSlice(s, dir)
      // DAY-LOCAL update batch (the realistic CDC shape): corrections
      // land on one day, backfill on its neighbor — so the rewrite blast
      // radius is two days' files of an 11-day lake, not a full rewrite
      // (the spec pins that untouched files survive verbatim; a batch
      // touching every file would be a compaction, not an upsert)
      val corrections = ev
        .filter(col("ts") >= lit("2024-01-10").cast("timestamp") &&
          col("ts") < lit("2024-01-11").cast("timestamp") &&
          pmod(col("event_id"), lit(10)) === 0)
        .withColumn("value", col("value") + 1000.0)
      val backfill = ev
        .filter(col("ts") >= lit("2024-01-11").cast("timestamp") &&
          col("ts") < lit("2024-01-12").cast("timestamp") &&
          pmod(col("event_id"), lit(10)) === 3)
        .withColumn("event_id", col("event_id") + 1000000000000L)
        .withColumn("event_type", lit("backfill"))
      graft.sources.VersionedLake.upsert(
        corrections.union(backfill), out, key = "event_id",
        statsCols = Seq("value"))
      graft.sources.VersionedLake
        .read(s, out, None, "2024-01-08", "2024-01-14")
        .groupBy(col("dt"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          dec38(sum(dec(col("value")))).cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("event_id")).as("min_event_id"),
          max(col("event_id")).as("max_event_id"))
    }),

    // CHANGE FEED gate (VersionedLake.changes — the CDC read): after the
    // q136-style lifecycle (two appends → clustered compact → band
    // delete), the feed between the post-append and post-delete versions
    // must be EXACTLY the deleted band tagged `delete`: the compaction
    // in between rewrote every in-window file, and those rows must
    // CANCEL in the multiset diff (the feed reads only files present in
    // exactly one snapshot — never the unchanged corpus). The oracle
    // recomputes the deleted band from FLAT parquet, so the hash match
    // proves cancellation + pre-image fidelity end-to-end;
    // VersionedLakeSpec pins the insert side (appends, upsert images)
    // and the pure-compaction empty feed.
    "q141_lake_changes" -> ((s, dir) => {
      // shared fixture carrying the whole lifecycle (appends → clustered
      // compact → band delete); the MEASURED op is the change feed
      // itself — the CDC read a downstream consumer pays per poll
      val out = LakeFixtures.changesLake(s, dir)
      graft.sources.VersionedLake.changes(s, out,
        LakeFixtures.ChangesBaseVersion, None)
        .groupBy(col("dt"), col("event_type"), col("_change_type"))
        .agg(count(lit(1)).as("n_events"),
          dec38(sum(dec(col("value")))).cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("event_id")).as("min_event_id"),
          max(col("event_id")).as("max_event_id"))
    }),

    // Z-ORDER clustering gate (VersionedLake.compact zorder = true): the
    // week is compacted on the Morton interleave of (value, user_id), and
    // the query reads a band on USER_ID — the trailing column a lexical
    // (value, user_id) layout cannot skip on, because its per-file
    // user_id ranges span the domain. The manifest-stats pruning runs
    // through the same readBand path as q135, and the oracle computes the
    // band from FLAT parquet, so the hash match proves the interleaved
    // layout + two-column stats lossless end-to-end; VersionedLakeSpec
    // pins that BOTH columns actually skip files (skipped > 0 each).
    "q140_lake_zorder" -> ((s, dir) => {
      // shared Z-ordered fixture; the query reads the TRAILING cluster
      // column's band — the read a lexical layout cannot skip on
      val out = LakeFixtures.zorderLake(s, dir)
      graft.sources.VersionedLake
        .readBand(s, out, "user_id", 5.0, 25.0,
          None, "2024-01-08", "2024-01-14")
        .groupBy(col("dt"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          dec38(sum(dec(col("value")))).cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("event_id")).as("min_event_id"),
          max(col("event_id")).as("max_event_id"))
    }),

    // TIMESTAMP time travel (VersionedLake.readAt — Delta's `TIMESTAMP
    // AS OF`): the query reads the lake AS OF the wall-clock instant
    // captured between the fixture's v1 and v2 commits — versionAt maps
    // the instant to v1 via manifest publish mtimes (atomic publish
    // makes the mtime the visibility instant), so the result must be
    // exactly the even event_id half (q134's v1 leg, same oracle
    // shape). A mapping error of ±1 version serves the wrong row set
    // and fails the hash. Scale: resolution is one commit-dir listing —
    // no header or body reads.
    "q144_lake_as_of" -> ((s, dir) => {
      val out = LakeFixtures.plainLake(s, dir)
      val t1 = LakeFixtures.plainLakeV1Stamp(s, dir)
      graft.sources.VersionedLake
        .readAt(s, out, t1, "2024-01-08", "2024-01-14")
        .groupBy(col("dt"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          dec38(sum(dec(col("value")))).cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("event_id")).as("min_event_id"),
          max(col("event_id")).as("max_event_id"))
    }),

    // TWO-SIDED band on the Z-ordered lake (VersionedLake.readBands —
    // the query pattern Z-order EXISTS for): a conjunctive band on BOTH
    // clustered columns prunes files whose hyper-rectangle misses either
    // bound, skipping strictly more files than either single-column band
    // (VersionedLakeSpec pins that inequality). The oracle applies both
    // predicates to FLAT parquet, so the hash match proves conjunctive
    // manifest pruning lossless end-to-end. Scale: a point-ish query on
    // a 100 TB Morton-laid lake opens O(selectivity product) files —
    // the multiplicative win a lexical layout only gets on its leading
    // column.
    "q142_lake_band2" -> ((s, dir) => {
      val out = LakeFixtures.zorderLake(s, dir)
      graft.sources.VersionedLake
        .readBands(s, out,
          Seq(("value", 100.0, 150.0), ("user_id", 5.0, 25.0)),
          None, "2024-01-08", "2024-01-14")
        .groupBy(col("dt"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          dec38(sum(dec(col("value")))).cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("event_id")).as("min_event_id"),
          max(col("event_id")).as("max_event_id"))
    }),

    // ADDITIVE SCHEMA EVOLUTION on the versioned lake
    // (VersionedLake.evolveSchema — the 100 TB path for "add a column":
    // one pure-manifest commit, zero data rewrites): the even event_id
    // half lands on the original schema, one evolve commit adds a
    // nullable `score`, the odd half arrives carrying it, and the week
    // read SPANS both file generations — parquet by-name resolution
    // against the snapshot schema yields NULL score for pre-evolution
    // files. The oracle reconstructs the same union from flat parquet
    // (old half with NULL score, new half with value+100), so the hash
    // match proves the evolve commit, the post-evolve drift guard, and
    // the NULL back-fill semantics end-to-end; count(score) per group
    // pins exactly WHICH rows are scoreless. VersionedLakeSpec pins the
    // boundary cases (drift still refused, duplicate evolve refused,
    // pre-evolution time travel serves the old schema).
    "q139_lake_evolution" -> ((s, dir) => {
      // shared two-file-generation fixture (append → evolve → append);
      // the query reads ACROSS the evolution boundary, where by-name
      // parquet resolution must NULL-fill the pre-evolution files
      val out = LakeFixtures.evolvedLake(s, dir)
      graft.sources.VersionedLake
        .read(s, out, None, "2024-01-08", "2024-01-14")
        .groupBy(col("dt"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count(col("score")).as("n_scored"),
          dec38(sum(dec(col("score")))).cast("double").as("sum_score"),
          dec38(sum(dec(col("value")))).cast("double").as("sum_value"),
          min(col("event_id")).as("min_event_id"))
    }),

    // CSV ingest gate (sources/Csv.scala): the documents table round-
    // trips through the schema-required delimited source — write CSV,
    // re-read with the pinned schema, aggregate per (lang, source) with
    // a content checksum. The ORACLE computes the same aggregate from
    // the PARQUET twin, so a hash match proves the CSV boundary is
    // lossless end-to-end (RFC 4180 quoting, header skip, type
    // re-parse) — not merely self-consistent. The temp dir is per-call;
    // the write cost is the honest ingest cost and stays in the bench.
    "q110_csv_ingest" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val path = graft.TempDirs.scratch("graft_csv_q110").toFile
      val out = path.getAbsolutePath + "/docs"
      graft.sources.Csv.write(docs, out)
      graft.sources.Csv.read(s, out, docs.schema)
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_len"),
          countDistinct(md5(col("text"))).as("n_distinct_texts"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc_id"),
          max(col("doc_id")).as("max_doc_id"))
    }),

    // Top-k with deterministic tie-break (sort + limit; the reference has
    // no sort operator at all, SURVEY §2.6 — strict superset).
    "q07_top_orders" -> ((s, dir) => {
      table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // Window functions: per-customer order sequencing (none in reference).
    "q08_order_ranks" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      table(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"), col("prev_price"))
    }),

    // Distinct aggregation (not expressible in reference's MR without a
    // second job).
    "q09_distinct_users" -> ((s, dir) => {
      table(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
    }),

    // KV surface: content-addressed key enumeration — `store.get(null)`
    // (all/store.js:150-163) with getID-style sha256 keys (id.js:72-78).
    "q10_kv_scan" -> ((s, dir) => {
      table(s, dir, "documents")
        .select(
          sha2(concat_ws("|", col("doc_id"), col("lang"), col("source")), 256).as("key"),
          col("doc_id"))
    }),

    // Semi/anti join shapes (EXISTS / NOT EXISTS).
    "q11_customers_without_big_orders" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
        .filter(col("o_totalprice") > lit(400000.0))
        .select(col("o_custkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    // Grouped-fold with HAVING shape: large orders.
    "q12_big_orders" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(
          dec38(sum(dec(col("l_quantity")))).as("sum_qty_dec"),
          count(lit(1)).as("n_lines"))
        .filter(col("sum_qty_dec") > lit(150))
        .select(col("l_orderkey"),
          col("sum_qty_dec").cast("double").as("sum_qty"),
          col("n_lines"))
    })
  )

  /** q136/q143's oracle: the complement of the deleted band (NULL
    * values kept — deletes never match NULL).
    */
  private val lakeDeleteOracle =
    """SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
         count(*) AS n_events,
         CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
           AS DOUBLE) AS sum_value,
         count(DISTINCT user_id) AS n_users,
         min(event_id) AS min_event_id,
         max(event_id) AS max_event_id
       FROM events
       WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-08'
         AND strftime(ts, '%Y-%m-%d') <= '2024-01-14'
         AND (value < 300.0 OR value IS NULL)
       GROUP BY 1, 2"""

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_qty,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_base_price,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_disc_price,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",
    "q02_max_value_by_year" ->
      """SELECT year(ts) AS yr, event_type, max(value) AS max_value
         FROM events GROUP BY 1, 2""",
    "q03_min_value_by_year" ->
      """SELECT year(ts) AS yr, event_type, min(value) AS min_value
         FROM events GROUP BY 1, 2""",
    "q04_wordcount" ->
      """SELECT word, count(*) AS cnt FROM (
           SELECT unnest(string_split_regex(text, '[ \t\n\u000B\f\r]+')) AS word FROM documents
         ) WHERE word <> '' GROUP BY word""",
    "q05_wordcount_ci" ->
      """SELECT word, count(*) AS cnt FROM (
           SELECT unnest(string_split_regex(lower(text), '[ \t\n\u000B\f\r]+')) AS word FROM documents
         ) WHERE word <> '' GROUP BY word""",
    "q06_revenue_by_nation" ->
      """SELECT r_name, n_name,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",
    // Mirrors q104: same pushed date cuts, the same exact-DECIMAL
    // revenue chain (so the top-10 cut picks identical rows under the
    // orderkey tie-break), double only in the closing cast.
    "q104_shipping_priority" ->
      """WITH g AS (SELECT l_orderkey, o_orderdate, o_orderpriority,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
               (CAST(1 AS DECIMAL(18,6)) -
                CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6))
               AS rev
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           WHERE c_mktsegment = 'BUILDING'
             AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
             AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
           GROUP BY 1, 2, 3)
       SELECT l_orderkey, o_orderdate, o_orderpriority,
         CAST(rev AS DOUBLE) AS revenue
       FROM g ORDER BY rev DESC, l_orderkey ASC LIMIT 10""",
    // Mirrors q108: same star join under the region/date cuts, same
    // exact-DECIMAL revenue chain, double only in the closing cast.
    "q108_region_revenue" ->
      """SELECT n_name,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
             (CAST(1 AS DECIMAL(18,6)) -
              CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6))
             AS DOUBLE) AS revenue,
           count(*) AS n_items
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
                      AND c_nationkey = s_nationkey
         JOIN nation   ON s_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY n_name""",
    // Mirrors q109: identical late/all pair sets (90-day cut off the
    // order date), EXISTS/NOT EXISTS in place of the semi/anti joins,
    // same (numwait DESC, s_name) deterministic top-20.
    "q109_sole_late_suppliers" ->
      """WITH l AS (SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          late AS (SELECT DISTINCT l_orderkey, l_suppkey FROM l
                   WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY),
          alls AS (SELECT DISTINCT l_orderkey, l_suppkey FROM l)
        SELECT s_name, count(*) AS numwait
        FROM late l1
        JOIN supplier ON s_suppkey = l1.l_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        WHERE n_name = 'NATION_12'
          AND EXISTS (SELECT 1 FROM alls l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM late l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name ASC LIMIT 20""",
    // Mirrors q111: same brand-pruned join feeding both the per-part
    // stats and the detail side, the same fraction-free 5·qty·cnt < sum
    // threshold, the /7 only after the exact sum's double cast.
    "q111_small_quantity_revenue" ->
      """WITH j AS (SELECT p_brand, l_partkey, l_quantity, l_extendedprice
                    FROM lineitem JOIN part ON l_partkey = p_partkey
                    WHERE p_brand IN ('Brand#2', 'Brand#17', 'Brand#5')),
          s AS (SELECT l_partkey AS pk,
                  CAST(sum(CAST(l_quantity AS DECIMAL(18,6)))
                    AS DECIMAL(38,6)) AS sq,
                  count(*) AS n
                FROM j GROUP BY 1)
        SELECT p_brand, count(*) AS n_items,
          CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
            AS DECIMAL(38,6)) AS DOUBLE) / 7.0 AS avg_yearly
        FROM j JOIN s ON l_partkey = pk
        WHERE CAST(l_quantity AS DECIMAL(18,6)) * 5 * n < sq
        GROUP BY p_brand""",
    // Mirrors q112: struct-min == (acctbal, suppkey) lexicographic min,
    // replayed as a row_number over the same exact-DECIMAL order.
    "q112_cheapest_supplier" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
          r AS (SELECT l_partkey, s_suppkey, s_name, s_acctbal,
                  row_number() OVER (PARTITION BY l_partkey
                    ORDER BY CAST(s_acctbal AS DECIMAL(18,6)) ASC,
                             s_suppkey ASC) AS rn
                FROM ps JOIN supplier ON l_suppkey = s_suppkey)
        SELECT p_partkey, p_name, s_name, s_acctbal
        FROM r JOIN part ON l_partkey = p_partkey
        WHERE rn = 1 AND p_type = 'ECONOMY'""",
    // Mirrors q113: identical exact-sum-then-one-division average, same
    // anti-join cutoff.
    "q113_dormant_rich_customers" ->
      """WITH a AS (SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6)))
                      AS DECIMAL(38,6)) AS DOUBLE) / count(*) AS avgbal
                    FROM customer WHERE c_acctbal > 0.0)
        SELECT c_nationkey, count(*) AS n_custs,
          CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6)))
            AS DECIMAL(38,6)) AS DOUBLE) AS total_bal
        FROM customer, a
        WHERE c_acctbal > a.avgbal
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        GROUP BY c_nationkey""",
    // Mirrors q116: identical three-arm disjunction (qty bounds
    // integer-valued on both engines), exact-DECIMAL revenue.
    "q116_disjunctive_revenue" ->
      """SELECT p_brand, count(*) AS n_items,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
             (CAST(1 AS DECIMAL(18,6)) -
              CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6))
             AS DOUBLE) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 1 AND 20)
            OR (p_brand = 'Brand#17' AND p_size BETWEEN 10 AND 25
                AND l_quantity BETWEEN 10 AND 40)
            OR (p_brand = 'Brand#5' AND p_size BETWEEN 20 AND 40
                AND l_quantity BETWEEN 20 AND 50)
         GROUP BY p_brand""",
    // Mirrors q117: same pushed cuts, the exact-DECIMAL revenue so the
    // top-20 cut picks identical rows under the custkey tie-break.
    "q117_returned_revenue" ->
      """WITH g AS (SELECT o_custkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
               (CAST(1 AS DECIMAL(18,6)) -
                CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6))
               AS rev
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_returnflag = 'R'
             AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
           GROUP BY o_custkey)
        SELECT c_custkey, c_name, n_name, c_acctbal,
          CAST(rev AS DOUBLE) AS revenue
        FROM g
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        ORDER BY rev DESC, c_custkey ASC LIMIT 20""",
    // Mirrors q118: the same left-outer null-group semantics —
    // count(o_orderkey) skips nulls, so order-less customers land in
    // the c_count = 0 bucket on both engines.
    "q118_order_count_distribution" ->
      """WITH co AS (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey)
         SELECT c_count, count(*) AS custdist FROM co GROUP BY c_count""",
    // Mirrors q119: identical exact-DECIMAL quantity threshold (the
    // HAVING), the same (o_totalprice DESC, o_orderkey) deterministic
    // top-100.
    "q119_large_order_customers" ->
      """WITH big AS (
           SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,6))
               AS total_qty
           FROM lineitem GROUP BY l_orderkey
           HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,6)))
             AS DECIMAL(38,6)) > 250)
         SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(total_qty AS DOUBLE) AS total_qty
         FROM big
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""",
    // Mirrors q120: EXISTS in place of the semi joins, the same
    // exact-DECIMAL shipped-quantity threshold and name prefix.
    "q120_surplus_part_suppliers" ->
      """WITH pr AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red %'),
          pairs AS (
            SELECT l_partkey, l_suppkey,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,6))
                AS sq
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_partkey, l_suppkey),
          qual AS (SELECT DISTINCT l_suppkey FROM pairs
            WHERE sq > 40
              AND EXISTS (SELECT 1 FROM pr WHERE p_partkey = l_partkey))
        SELECT s_suppkey, s_name FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'
          AND EXISTS (SELECT 1 FROM qual WHERE l_suppkey = s_suppkey)
        ORDER BY s_suppkey""",
    // Mirrors q121: the classic EXISTS form; both engines count BIGINT.
    "q121_order_priority_check" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY o_orderpriority""",
    // Mirrors q122: same two-nation slice and symmetric disjunction,
    // exact-DECIMAL revenue, year() grouping.
    "q122_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
             (CAST(1 AS DECIMAL(18,6)) -
              CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6))
             AS DOUBLE) AS revenue,
           count(*) AS n_items
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE (n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
            OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13')
         GROUP BY 1, 2, 3""",
    // Mirrors q123: both sums exact DECIMAL over the identical row set,
    // the share one double division — the same parenthesization.
    "q123_market_share" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(CAST(sum(CASE WHEN n_s = 'NATION_7'
               THEN CAST(l_extendedprice AS DECIMAL(18,6)) *
                 (CAST(1 AS DECIMAL(18,6)) -
                  CAST(l_discount AS DECIMAL(18,6)))
               ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(38,6))
             AS DOUBLE) /
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
             (CAST(1 AS DECIMAL(18,6)) -
              CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6))
             AS DOUBLE) AS mkt_share,
           count(*) AS n_items
         FROM (
           SELECT l_extendedprice, l_discount, o_orderdate, ns.n_name AS n_s
           FROM lineitem
           JOIN orders   ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ns ON s_nationkey = ns.n_nationkey
           WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
             AND EXISTS (
               SELECT 1 FROM customer
               JOIN nation nc ON c_nationkey = nc.n_nationkey
               JOIN region ON nc.n_regionkey = r_regionkey
               WHERE c_custkey = o_custkey AND r_name = 'ASIA'))
         GROUP BY 1""",
    // Mirrors q124: the same month slice and conditional sums; 100 *
    // promo / total in the identical double order.
    "q124_promo_revenue_share" ->
      """SELECT
           100.0 * CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
               THEN CAST(l_extendedprice AS DECIMAL(18,6)) *
                 (CAST(1 AS DECIMAL(18,6)) -
                  CAST(l_discount AS DECIMAL(18,6)))
               ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(38,6))
             AS DOUBLE) /
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
             (CAST(1 AS DECIMAL(18,6)) -
              CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6))
             AS DOUBLE) AS promo_share,
           count(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'""",
    // Mirrors q125: the view + scalar-max form; exact-DECIMAL revenue
    // makes the equality tie-safe on both engines.
    "q125_top_supplier" ->
      """WITH r AS (
           SELECT l_suppkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
               (CAST(1 AS DECIMAL(18,6)) -
                CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6))
               AS rev
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, s_acctbal,
           CAST(rev AS DOUBLE) AS total_revenue
         FROM r JOIN supplier ON l_suppkey = s_suppkey
         WHERE rev = (SELECT max(rev) FROM r)
         ORDER BY s_suppkey""",
    // Mirrors q126: NOT IN over the null-free exclusion set == the
    // anti join; BIGINT distinct counts.
    "q126_supplier_part_distribution" ->
      """SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#2' AND p_size IN (1, 5, 10, 15)
           AND l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3""",
    // Mirrors q128: identical exact-DECIMAL chains (disc_price re-cast
    // to (18,6) before the tax multiply, same as Spark), averages as
    // exact-sum-double-cast / count — one IEEE division each.
    "q128_pricing_report" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_base_price,
           CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) *
             (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))
             AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) *
             (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))
             AS DECIMAL(18,6)) *
             (CAST(1 AS DECIMAL(18,6)) + CAST(l_tax AS DECIMAL(18,6))))
             AS DECIMAL(38,6)) AS DOUBLE) AS sum_charge,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) / count(*) AS avg_qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) / count(*) AS avg_price,
           CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",
    // Mirrors q129: same pushed band/date/quantity cuts over the same
    // parquet doubles, exact-DECIMAL price*discount sum.
    "q129_forecast_revenue" ->
      """SELECT
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
             CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS revenue,
           count(*) AS n_items
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24""",
    // Mirrors q130: the same one-expression exact-DECIMAL profit
    // (both scale-12 products under the 38-digit cap), year() as INT.
    "q130_product_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
             (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))) -
             CAST(p_retailprice AS DECIMAL(18,6)) *
             CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_profit
         FROM lineitem
         JOIN part     ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation   ON s_nationkey = n_nationkey
         JOIN orders   ON l_orderkey = o_orderkey
         WHERE p_name LIKE '%bolt%'
         GROUP BY 1, 2""",
    // Mirrors q131: the same nation-filtered EXISTS, exact-DECIMAL
    // per-part values, and the identical double-cast threshold compare
    // (one multiply, same operand order).
    "q131_important_parts" ->
      """WITH pv AS (
           SELECT l_partkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
               AS DECIMAL(38,6)) AS val
           FROM lineitem
           WHERE EXISTS (SELECT 1 FROM supplier
                         JOIN nation ON s_nationkey = n_nationkey
                         WHERE s_suppkey = l_suppkey
                           AND n_name = 'NATION_3')
           GROUP BY l_partkey)
         SELECT l_partkey, CAST(val AS DOUBLE) AS value
         FROM pv
         WHERE CAST(val AS DOUBLE) >
           0.001 * CAST((SELECT CAST(sum(val) AS DECIMAL(38,6)) FROM pv)
             AS DOUBLE)""",
    // Mirrors q132: identical late test and year cut; counts forced to
    // BIGINT (DuckDB sum(int) is HUGEINT, which the driver's hash
    // distinguishes).
    "q132_priority_shipping" ->
      """SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate > o_orderdate + INTERVAL 30 DAY
         GROUP BY l_linestatus""",
    // Mirrors q114 from the FLAT side: DuckDB derives the same day
    // strings from the raw timestamps; Spark answers from the pruned
    // partitioned copy.
    "q114_partitioned_scan" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-08'
           AND strftime(ts, '%Y-%m-%d') <= '2024-01-14'
         GROUP BY 1, 2""",
    // Mirrors q127 from the FLAT side (the q114 oracle): Spark answers
    // from the appended-then-compacted day tree.
    "q127_compacted_scan" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-08'
           AND strftime(ts, '%Y-%m-%d') <= '2024-01-14'
         GROUP BY 1, 2""",
    // Mirrors q133 from the FLAT side (the q127 oracle + the band
    // predicate): Spark answers through the clustered lake's
    // commit-log-pruned file read — equality proves clustering + file
    // skipping lossless (a dropped file fails n_events; a wrongly
    // pruned file fails the event_id extremes).
    "q133_clustered_scan" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users,
           min(event_id) AS min_event_id,
           max(event_id) AS max_event_id
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-08'
           AND strftime(ts, '%Y-%m-%d') <= '2024-01-14'
           AND value >= 100.0 AND value <= 150.0
         GROUP BY 1, 2""",
    // Mirrors q134 from the FLAT side: the v1 snapshot is the even
    // event_id half, the live head is everything — recomputed from raw
    // parquet, so equality proves time travel + atomic compaction.
    "q134_versioned_lake" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users,
           'v1' AS snap
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-08'
           AND strftime(ts, '%Y-%m-%d') <= '2024-01-14'
           AND event_id % 2 = 0
         GROUP BY 1, 2
         UNION ALL
         SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users,
           'live' AS snap
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-08'
           AND strftime(ts, '%Y-%m-%d') <= '2024-01-14'
         GROUP BY 1, 2""",
    // Mirrors q135 from the FLAT side (q133's oracle): Spark answers
    // through the commit log's stats-pruned file read.
    "q135_versioned_band" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users,
           min(event_id) AS min_event_id,
           max(event_id) AS max_event_id
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-08'
           AND strftime(ts, '%Y-%m-%d') <= '2024-01-14'
           AND value >= 100.0 AND value <= 150.0
         GROUP BY 1, 2""",
    // Mirrors q138 from the FLAT side (q133's oracle): Spark answers
    // through import → clustered compact → manifest band read.
    "q138_imported_lake" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users,
           min(event_id) AS min_event_id,
           max(event_id) AS max_event_id
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-08'
           AND strftime(ts, '%Y-%m-%d') <= '2024-01-14'
           AND value >= 100.0 AND value <= 150.0
         GROUP BY 1, 2""",
    // Mirrors q137 from the FLAT side: the upsert result reconstructed
    // relationally — untouched rows UNION updated pre-images UNION new
    // rows (DuckDB CTEs over the same flat events).
    "q137_lake_upsert" ->
      """WITH week AS (
           SELECT * FROM events
           WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-08'
             AND strftime(ts, '%Y-%m-%d') <= '2024-01-14'
         ), merged AS (
           SELECT event_id, ts, user_id, event_type, value FROM week
           WHERE NOT (event_id % 10 = 0
             AND strftime(ts, '%Y-%m-%d') = '2024-01-10')
           UNION ALL
           SELECT event_id, ts, user_id, event_type, value + 1000.0
           FROM week WHERE event_id % 10 = 0
             AND strftime(ts, '%Y-%m-%d') = '2024-01-10'
           UNION ALL
           SELECT event_id + 1000000000000, ts, user_id, 'backfill',
             value
           FROM week WHERE event_id % 10 = 3
             AND strftime(ts, '%Y-%m-%d') = '2024-01-11'
         )
         SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users,
           min(event_id) AS min_event_id,
           max(event_id) AS max_event_id
         FROM merged
         GROUP BY 1, 2""",
    // Mirrors q141 from the FLAT side: the change feed across
    // compact+delete must be exactly the deleted band tagged 'delete'
    // (compaction rows cancel in the multiset diff).
    "q141_lake_changes" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           'delete' AS "_change_type",
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users,
           min(event_id) AS min_event_id,
           max(event_id) AS max_event_id
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-08'
           AND strftime(ts, '%Y-%m-%d') <= '2024-01-14'
           AND value >= 300.0 AND value <= 1000000000000.0
         GROUP BY 1, 2""",
    // Mirrors q140 from the FLAT side (q133's oracle with a user_id
    // band): Spark answers through the z-order-clustered manifest read.
    "q140_lake_zorder" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users,
           min(event_id) AS min_event_id,
           max(event_id) AS max_event_id
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-08'
           AND strftime(ts, '%Y-%m-%d') <= '2024-01-14'
           AND user_id >= 5.0 AND user_id <= 25.0
         GROUP BY 1, 2""",
    // Mirrors q144 from the FLAT side: AS-OF the captured instant only
    // the even half existed (q134's v1 reconstruction + the extremes).
    "q144_lake_as_of" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users,
           min(event_id) AS min_event_id,
           max(event_id) AS max_event_id
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-08'
           AND strftime(ts, '%Y-%m-%d') <= '2024-01-14'
           AND event_id % 2 = 0
         GROUP BY 1, 2""",
    // Mirrors q142 from the FLAT side: both band predicates applied to
    // raw events — equality proves the conjunctive manifest pruning over
    // the Morton layout drops only provably-disjoint files.
    "q142_lake_band2" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users,
           min(event_id) AS min_event_id,
           max(event_id) AS max_event_id
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-08'
           AND strftime(ts, '%Y-%m-%d') <= '2024-01-14'
           AND value >= 100.0 AND value <= 150.0
           AND user_id >= 5.0 AND user_id <= 25.0
         GROUP BY 1, 2""",
    // Mirrors q139 from the FLAT side: the evolved lake reconstructed
    // relationally — the pre-evolution half carries NULL score, the
    // post-evolution half carries value+100 (count(score) pins which).
    "q139_lake_evolution" ->
      """WITH week AS (
           SELECT * FROM events
           WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-08'
             AND strftime(ts, '%Y-%m-%d') <= '2024-01-14'
         ), merged AS (
           SELECT event_id, ts, event_type, value,
             CAST(NULL AS DOUBLE) AS score
           FROM week WHERE event_id % 2 = 0
           UNION ALL
           SELECT event_id, ts, event_type, value,
             value + 100.0 AS score
           FROM week WHERE event_id % 2 = 1
         )
         SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           count(*) AS n_events,
           count(score) AS n_scored,
           CAST(CAST(sum(CAST(score AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_score,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS DOUBLE) AS sum_value,
           min(event_id) AS min_event_id
         FROM merged
         GROUP BY 1, 2""",
    // Mirrors q136/q143 from the FLAT side (one body, one oracle).
    "q143_lake_dv_delete" -> lakeDeleteOracle,
    "q136_lake_delete" -> lakeDeleteOracle,
    // Mirrors q110 from the PARQUET side: Spark answers from the CSV
    // round-trip, DuckDB from the original parquet — equality proves
    // the delimited boundary lossless, not just self-consistent.
    "q110_csv_ingest" ->
      """SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS sum_len,
           count(DISTINCT md5(text)) AS n_distinct_texts,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id
         FROM documents
         GROUP BY lang, source""",
    "q07_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "q08_order_ranks" ->
      """SELECT o_custkey, o_orderkey, rn, prev_price FROM (
           SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn,
             lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_price
           FROM orders
         ) WHERE rn <= 3""",
    "q09_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
         FROM events GROUP BY event_type""",
    "q10_kv_scan" ->
      """SELECT sha256(concat_ws('|', doc_id, lang, source)) AS key, doc_id
         FROM documents""",
    "q11_customers_without_big_orders" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""",
    "q12_big_orders" ->
      """SELECT l_orderkey,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_qty,
         count(*) AS n_lines
         FROM lineitem GROUP BY l_orderkey
         HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,6)) > 150"""
  )
}
