package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS levels (q51) — unweighted shortest-path distance
  * from a source set, depth-capped — and weighted Bellman–Ford distances
  * (q78).
  *
  * Algorithm: frontier expansion (the Pregel shape). Each round joins
  * the CURRENT FRONTIER (not the whole visited set) against the edge
  * list, anti-joins out already-visited nodes, and unions the
  * survivors in at level d — so a node's recorded level is by
  * construction the FIRST round that reached it, i.e. the minimum
  * distance. Termination: depth cap or empty frontier.
  *
  * Scale shape: the edge list is hash-partitioned by source ONCE and
  * checkpointed in that layout, so every round's frontier⋈edges join
  * exchanges only the FRONTIER — the edge set never re-shuffles after
  * setup (ShortestPathsSpec pins the single-exchange plan). `visited`
  * and `frontier` are localCheckpointed every round ([[GraphLoop]]'s
  * round discipline); the driver loop is O(maxDepth) actions.
  */
object ShortestPaths {

  /** BFS levels from `sources` over a DIRECTED edge list (feed both
    * orientations for an undirected graph). Output: (node, level) for
    * every node within `maxDepth` hops of any source; sources are level
    * 0. Nodes unreachable within the cap are absent.
    */
  def bfsLevels(
      edges: DataFrame, sources: DataFrame, maxDepth: Int,
      srcCol: String = "src", dstCol: String = "dst",
      nodeCol: String = "node",
      broadcastMaxVertices: Long = GraphLoop.BroadcastMaxVertices): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val e = edges
      .select(col(srcCol).cast("long").as("__src"),
        col(dstCol).cast("long").as("__dst"))
      .filter(col("__src") =!= col("__dst"))
      .distinct()
      .repartition(col("__src"))
      .localCheckpoint()
    // the frontier and visited sets are bounded by src ∪ dst
    val gate = GraphLoop.Gate.ofEdges(e, "__src", "__dst", broadcastMaxVertices)
    val size = count(lit(1)).as("n")
    var (visited, m) = GraphLoop.checkpoint(sources
      .select(col(nodeCol).cast("long").as("node"))
      .distinct()
      .select(col("node"), lit(0).as("level")), size)
    var frontier = visited
    var d = 0
    while (d < maxDepth && m.getLong(0) > 0L) {
      d += 1
      val (next, nm) = GraphLoop.checkpoint(gate.side(frontier)
        .join(e, col("node") === col("__src"))
        .select(col("__dst").as("node"))
        .distinct()
        .join(gate.side(visited.select(col("node"))), Seq("node"), "left_anti")
        .select(col("node"), lit(d).as("level")), size)
      visited = visited.unionAll(next).localCheckpoint()
      frontier = next
      m = nm
    }
    visited
  }

  /** Weighted multi-source shortest paths — `rounds` Bellman–Ford
    * relaxations over a DIRECTED edge list with POSITIVE integer
    * lengths (feed both orientations for an undirected graph). Output:
    * (node, dist) where dist is the exact length of the shortest
    * source→node path using at most `rounds` edges; sources are dist 0,
    * nodes unreachable within the hop cap are absent. All arithmetic is
    * long integer, so an unrolled SQL oracle replays every round
    * bit-for-bit. Parallel (src, dst) edges collapse to their MINIMUM
    * length — the only one a shortest path could use.
    *
    * Scale shape: the bfsLevels layout, but no shrinking frontier — a
    * weighted relax can improve an already-settled node, so every round
    * folds the full dist table (the textbook Bellman–Ford round).
    */
  def bellmanFord(
      edges: DataFrame, sources: DataFrame, rounds: Int,
      srcCol: String = "src", dstCol: String = "dst",
      lenCol: String = "len", nodeCol: String = "node",
      broadcastMaxVertices: Long = GraphLoop.BroadcastMaxVertices): DataFrame = {
    GraphLoop.requireRounds("rounds", rounds)
    // the positive-length guard rides the edge checkpoint's job
    val (e, m) = GraphLoop.checkpoint(edges
      .select(col(srcCol).cast("long").as("__src"),
        col(dstCol).cast("long").as("__dst"),
        col(lenCol).cast("long").as("__len"))
      .filter(col("__src") =!= col("__dst"))
      .groupBy(col("__src"), col("__dst"))
      .agg(min(col("__len")).as("__len"))
      .repartition(col("__src")), min(col("__len")).as("minLen"))
    val minLen = if (m.isNullAt(0)) 1L else m.getLong(0)
    require(minLen >= 1L, s"edge lengths must be positive, got $minLen")
    // the dist table is bounded by src ∪ dst
    val gate = GraphLoop.Gate.ofEdges(e, "__src", "__dst", broadcastMaxVertices)
    val init = sources
      .select(col(nodeCol).cast("long").as("node"))
      .distinct()
      .select(col("node"), lit(0L).as("dist"))
      .localCheckpoint()
    (1 to rounds).foldLeft(init) { (dist, _) =>
      dist
        .unionAll(gate.side(dist)
          .join(e, col("node") === col("__src"))
          .select(col("__dst").as("node"),
            (col("dist") + col("__len")).as("dist")))
        .groupBy(col("node"))
        .agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
  }
}
