package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Neighborhood link-prediction scores over an undirected graph — the
  * classic trio (common neighbors, Jaccard, Adamic–Adar) for part pairs
  * not yet connected. The reference has no graph surface; this is the
  * recommender/graph-completion extension in the q35 wedge-join
  * discipline.
  *
  * Scale shape: wedges pivot through the shared neighbor z, whose cost
  * is Σ deg(z)² — quadratic in degree, the hazard that melts dense
  * co-occurrence graphs (the sf0.1 co-order graph averages degree ~110;
  * unbounded wedges cost 40M+ rows and a same-sized groupBy). The
  * operator therefore scores over each pivot's first-`maxFanout`
  * neighbors by id — DETERMINISTIC adjacency-list truncation, the
  * standard neighbor-sampling move of production link predictors
  * (ids are arbitrary w.r.t. structure, so the sample is uniform-ish
  * and, critically, reproducible: the SQL oracle replays the same
  * row_number cut). Per-pivot cost is then ≤ maxFanout², total wedge
  * rows ≤ |V|·maxFanout²/2 — linear in vertices at fixed cap, which the
  * ScaleSmoke gate times at two factors. AA weights use the pivot's
  * FULL degree (hub damping is the estimator's own job); each term is
  * round-6 of one libm ln summed as exact DECIMAL (the t11 cross-row
  * double-sum discipline). cn/jaccard are defined over the sampled
  * wedges by contract.
  *
  * Wedge generation is IN-ROW (the Triangles adjacency idiom): one
  * explicit-width exchange groups each pivot's sorted neighbor list
  * (truncated to `maxFanout` — identical to the former row_number cut)
  * together with its full degree, and the a<b wedge pairs explode from
  * the array. The former form (row_number window → degree join → pivot
  * self-join) paid two extra exchanges AND hit AQE's byte-based
  * coalescing: the ~10 MB pivot exchange coalesced to 4 partitions, so
  * the 25× wedge explosion plus the (a, b) partial aggregation ran
  * nearly single-task (measured 7.3 s of a 14.3 s wall at sf0.1). A
  * generator's output size is invisible to AQE (guide §2.5's synthetic-
  * key collapse genus); the explicit repartition width pins the
  * explode + partial-agg stage at cluster parallelism.
  */
object LinkPrediction {

  /** edges: undirected (lo, hi), distinct, lo < hi, long-typed.
    * Output: (part_a, part_b, cn, jaccard, adamic_adar) for non-edges
    * with ≥ minCommon shared sampled neighbors.
    */
  def neighborScores(
      edges: DataFrame, maxFanout: Int = 32,
      minCommon: Int = 12): DataFrame = {
    require(maxFanout >= 2, s"maxFanout must be >= 2, got $maxFanout")
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    val p = expansionParallelism(edges)
    // MATERIALIZED once (guide §1.2 compute once): the edge set is
    // consumed from five plan branches (both orientations for the degree
    // table and the adjacency build, plus the final anti-join) — without
    // the checkpoint the caller's edge construction (for q97 a full
    // lineitem scan + per-order set aggregation + pair explode +
    // distinct) re-executes per branch
    val ed = edges.localCheckpoint()
    // both orientations explode IN-ROW (one pass over the materialized
    // edges instead of a two-branch unionAll scanning them twice)
    val both = ed.select(explode(array(
        struct(col("lo").as("z"), col("hi").as("n")),
        struct(col("hi").as("z"), col("lo").as("n")))).as("__b"))
      .select(col("__b.z").as("z"), col("__b.n").as("n"))
    val deg = both.groupBy(col("z").as("v")).agg(count(lit(1)).as("d"))
    // per pivot: full degree + the first-maxFanout sorted neighbors
    // (edges are distinct, so the neighbor list is duplicate-free and
    // slice(sort_array(...), 1, maxFanout) equals the old
    // row_number-over-(z order by n) <= maxFanout cut)
    val adj = both.repartition(p, col("z"))
      .groupBy(col("z"))
      .agg(count(lit(1)).as("__dz"),
        slice(sort_array(collect_list(col("n"))), 1, maxFanout).as("__ns"))
    val cand = adj
      .select(col("__dz"), explode(flatten(transform(col("__ns"), (x, i) =>
        transform(slice(col("__ns"), i + lit(2), size(col("__ns"))),
          y => struct(x.as("a"), y.as("b")))))).as("__w"))
      .select(col("__w.a").as("a"), col("__w.b").as("b"),
        round(lit(1.0) / log(col("__dz").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("__aa"))
    val scored = cand.groupBy("a", "b")
      .agg(count(lit(1)).as("cn"),
        sum(col("__aa")).cast(DecimalType(38, 6)).as("__aas"))
      .filter(col("cn") >= minCommon)
    scored
      .join(ed, scored("a") === ed("lo") && scored("b") === ed("hi"),
        "left_anti")
      .join(deg.select(col("v").as("a"), col("d").as("__da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("__db")), Seq("b"))
      .select(col("a").as("part_a"), col("b").as("part_b"), col("cn"),
        round(col("cn").cast("double") /
          (col("__da") + col("__db") - col("cn")).cast("double"), 6)
          .as("jaccard"),
        col("__aas").cast("double").as("adamic_adar"))
  }
}
