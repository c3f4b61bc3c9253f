package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-point-integer PageRank — the third canonical MapReduce workload
  * (wordcount `q04`, inverted index `t14`, PageRank here), engineered so
  * the iteration is BIT-EXACT across engines.
  *
  * A floating-point contribution sum is order-dependent and every shuffle
  * reorders it, so here rank is a scaled BIGINT (`scale` = rank 1.0) and
  * every step is integer arithmetic — contribution = `r div outdeg`,
  * damping = `0.15·scale + (85·Σcontrib) div 100` — independent of
  * partitioning and reduce order; the DuckDB oracle replays the identical
  * recurrence (q30). Truncation bias is ≤ 1 ulp-of-scale per term per
  * round on both engines identically (~1e-12 of rank mass at 10¹²).
  *
  * Vertex universe: src ∪ dst. DANGLING vertices (no out-edges)
  * redistribute their mass uniformly: with D = Σ ranks over dangling
  * vertices and N = |vertices|, every vertex's update gains `D div N`
  * (D mod N is truncated identically on both engines). Vertices with no
  * IN-edges still receive the base + dangling share.
  *
  * Iteration shape ([[GraphLoop]]'s round discipline): edges ⋈ outdeg
  * are materialized ONCE; every round joins the vertex-sized rank table
  * into the edge scan and pays exactly one data-sized exchange, the
  * partially-aggregated dst-keyed contribution shuffle. A graph where
  * every vertex is both src and dst (q30's) runs exactly that plan; a
  * general graph adds a vertex-sized left join plus a 1-row dangling-mass
  * broadcast per round. Rounds are fixed, so the oracle unrolls them.
  *
  * Overflow contract: a single vertex can in the worst case receive the
  * whole rank mass (≈ N·scale), so `85 · N · scale` must fit a long —
  * `require`d explicitly. At a billion vertices pick scale ≤ 10⁸ (rank
  * precision 1e-8 — far finer than PageRank needs); the default 10¹²
  * serves graphs to ~10⁵ vertices.
  *
  * Output: (vertex, r) — r the scaled fixed-point rank after
  * `iterations` rounds from a uniform `scale` start.
  */
object PageRank {

  def fixedPointPageRank(
      edges: DataFrame, iterations: Int,
      scale: Long = 1000000000000L,
      broadcastMaxVertices: Long = GraphLoop.BroadcastMaxVertices): DataFrame = {
    // WEIGHTED edges: a `w` column (positive integer weights) makes each
    // contribution `(r·w) div wsum(src)` — for w ≡ 1 and wsum = outdeg
    // that is bit-identical to the unweighted `r div outdeg`, so both
    // cases share one code path (and q30's oracle is untouched).
    // Parallel (src, dst) rows canonicalize by summing their weights.
    val weighted = edges.columns.contains("w")
    val g = setup(
      if (weighted) edges
        .select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
        .groupBy("src", "dst").agg(sum(col("w")).as("w"))
      else unitWeights(edges), iterations, scale, broadcastMaxVertices)
    if (weighted) {
      // the weighted contribution computes r·w BEFORE the floor-div; the
      // worst-case r is the whole rank mass ≈ N·scale, so N·scale·maxW
      // must fit a long
      require(g.maxW >= 1L, s"edge weights must be positive, got max ${g.maxW}")
      require(g.maxW <= Long.MaxValue / g.nV / scale,
        s"N*scale*maxW must fit a long: N=${g.nV}, scale=$scale, maxW=${g.maxW}" +
          s" — lower scale (e.g. 100000000L) for heavy weights")
    }
    // complete = every vertex has out- AND in-edges: no dangling mass, no
    // contribution-less vertices — a round is the contribution shuffle only
    val complete = g.nSrc == g.nV && g.nDst == g.nV
    val dangling = Option.when(g.nSrc < g.nV)(
      g.vflags.filter(col("s") === 0).select(col("vertex")))
    val vertices = g.vflags.select(col("vertex"))
    val base = scale / 100L * 15L
    (1 to iterations).foldLeft(vertices.withColumn("r", lit(scale))) { (ranks, _) =>
      (if (complete) round(g.edgeSide, ranks, base, g.gate.broadcasts)
        else roundGeneral(g.edgeSide, vertices, dangling, g.nV, ranks, lit(base),
          g.gate)).localCheckpoint()
    }
  }

  /** PERSONALIZED PageRank (q115): the teleport term concentrates on a
    * source set S — rank becomes "importance relative to S", the
    * proximity score behind related-item retrieval. Integer-exact like
    * [[fixedPointPageRank]]: the per-source base is
    * `(15·scale·N) div (100·|S|)` (zero off S — the total teleport mass,
    * and so the overflow bound, match the uniform variant's), and the
    * rounds are the uniform general path's with that base per vertex.
    *
    * Contract: every vertex must have out-edges (symmetrize or self-loop
    * first) — PPR's dangling correction would re-teleport lost mass to S,
    * a second data-dependent term the operator refuses to approximate.
    */
  def personalizedPageRank(
      edges: DataFrame, sources: DataFrame, iterations: Int,
      scale: Long = 1000000000000L,
      broadcastMaxVertices: Long = GraphLoop.BroadcastMaxVertices): DataFrame = {
    val g = setup(unitWeights(edges), iterations, scale, broadcastMaxVertices)
    require(g.nSrc == g.nV,
      s"personalizedPageRank requires every vertex to have out-edges " +
        s"(${g.nV - g.nSrc} dangling) — symmetrize or add self-loops")
    val srcSet = sources
      .select(col("vertex").cast("long").as("vertex")).distinct()
      .withColumn("__inS", lit(1L))
    val (vertices, s) = GraphLoop.checkpoint(
      g.vflags.select(col("vertex")).join(srcSet, Seq("vertex"), "left")
        .select(col("vertex"), coalesce(col("__inS"), lit(0L)).as("__inS")),
      count_if(col("__inS") === 1L).as("nS"))
    val nS = s.getLong(0)
    require(nS >= 1L, "sources must intersect the graph's vertex set")
    // (15·scale·N) div (100·|S|); scale % 100 == 0 makes the /100 exact
    // first, so the single truncation is the div by |S| — the oracle
    // derives the same value as (15*scale*N) // (100*|S|)
    val baseS = scale / 100L * 15L * g.nV / nS
    (1 to iterations).foldLeft(vertices.select(col("vertex"), lit(scale).as("r"))) {
      (ranks, _) => roundGeneral(g.edgeSide, vertices, None, g.nV, ranks,
        col("__inS") * baseS, g.gate).localCheckpoint()
    }
  }

  private def unitWeights(edges: DataFrame): DataFrame = edges
    .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    .distinct()
    .withColumn("w", lit(1L))

  private final case class Graph(
      edgeSide: DataFrame, vflags: DataFrame,
      nV: Long, nSrc: Long, nDst: Long, maxW: Long, gate: GraphLoop.Gate)

  /** The setup both variants share: edges (src, dst, w) ⋈ wsum, and one
    * row per vertex of src ∪ dst with its appears-as-src/dst flags, each
    * checkpointed ONCE; the vertex stats and maxW ride those two jobs.
    */
  private def setup(e: DataFrame, iterations: Int, scale: Long,
      broadcastMaxVertices: Long): Graph = {
    GraphLoop.requireRounds("iterations", iterations)
    require(scale >= 100L && scale % 100L == 0L,
      s"scale must be a positive multiple of 100, got $scale")
    // `e` feeds both join sides, but its terminal aggregation exchange is
    // identical in both and ReuseExchange serves the second from the
    // first — an explicit checkpoint here measured SLOWER
    val (withDeg, w) = GraphLoop.checkpoint(
      e.join(e.groupBy("src").agg(sum(col("w")).as("wsum")), "src"),
      coalesce(max(col("w")), lit(0L)).as("maxW"))
    val (vflags, v) = GraphLoop.checkpoint(
      withDeg.select(col("src").as("vertex"), lit(1).as("s"), lit(0).as("d"))
        .unionAll(withDeg
          .select(col("dst").as("vertex"), lit(0).as("s"), lit(1).as("d")))
        .groupBy("vertex")
        .agg(max(col("s")).as("s"), max(col("d")).as("d")),
      count(lit(1)).as("nV"), count_if(col("s") === 1).as("nSrc"),
      count_if(col("d") === 1).as("nDst"))
    val nV = v.getLong(0)
    require(nV <= Long.MaxValue / 100L / scale,
      s"85*N*scale must fit a long: N=$nV needs scale <= ${Long.MaxValue / 100L / nV}")
    val gate = GraphLoop.Gate(nV, broadcastMaxVertices)
    Graph(gate.edgeSide(withDeg, "src"), vflags, nV, v.getLong(1), v.getLong(2),
      w.getLong(0), gate)
  }

  /** One rank iteration of the complete-graph fast path, un-checkpointed —
    * exposed so specs can assert the physical join strategy (the outer
    * loop's checkpoint flattens the plan to a LogicalRDD scan).
    */
  private[graft] def round(
      withDeg: DataFrame, ranks: DataFrame, base: Long,
      useBroadcast: Boolean): DataFrame =
    withDeg
      .join(GraphLoop.Gate(useBroadcast).side(ranks),
        col("src") === col("vertex"))
      .select(col("dst"), expr("(r * w) div wsum").as("c"))
      .groupBy(col("dst"))
      .agg(expr(s"$base + (85 * sum(c)) div 100").as("r"))
      .select(col("dst").as("vertex"), col("r"))

  /** One rank iteration of the general path: contributions left-joined
    * onto the full vertex set (no-in-edge vertices keep their base), plus
    * the dangling-mass share `D div N` — a 1-row aggregate broadcast into
    * the vertex-sized update — when `dangling` is given. `base` is a
    * literal (uniform) or a column of `vertices` (personalized).
    */
  private[graft] def roundGeneral(
      withDeg: DataFrame, vertices: DataFrame, dangling: Option[DataFrame],
      nV: Long, ranks: DataFrame, base: Column, gate: GraphLoop.Gate): DataFrame = {
    val contrib = withDeg
      .join(gate.side(ranks), col("src") === col("vertex"))
      .select(col("dst"), expr("(r * w) div wsum").as("c"))
      .groupBy(col("dst"))
      .agg(sum(col("c")).as("__s"))
      .select(col("dst").as("vertex"), col("__s"))
    val updated = vertices.join(contrib, Seq("vertex"), "left")
    dangling match {
      case None => updated.select(col("vertex"),
        (base + expr("(85 * coalesce(__s, CAST(0 AS BIGINT))) div 100")).as("r"))
      case Some(d) =>
        // Σ r over dangling vertices — dangling is vertex-bounded, so it
        // follows the same broadcast gate as the rank table itself
        val dmass = ranks.join(gate.side(d), Seq("vertex"), "left_semi")
          .agg(coalesce(sum(col("r")), lit(0L)).as("__dm"))
        updated.crossJoin(broadcast(dmass))
          .select(col("vertex"), (base + expr(
            s"(85 * (coalesce(__s, CAST(0 AS BIGINT)) + __dm div $nV)) div 100"))
            .as("r"))
    }
  }
}
