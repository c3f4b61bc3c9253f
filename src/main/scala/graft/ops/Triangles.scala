package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting — with PageRank (q30) and connected
  * components (d06), the third canonical iterative/graph MR workload
  * (the reference's engine family was built for exactly these
  * fan-out/shuffle shapes).
  *
  * Algorithm: degree-ordered edge-iterator.
  *  1. undirected edges dedup to (lo, hi);
  *  2. every edge is DIRECTED from its (degree, id)-smaller endpoint to
  *     the larger — a total order, so each triangle {a≺b≺c} is counted
  *     exactly once: by its a→b edge, as the common out-neighbor c;
  *  3. per directed edge, |N⁺(u) ∩ N⁺(v)| via the native sorted
  *     merge-walk kernel (`intersect_card_sorted`, the d05 candidate-
  *     verification expression) — no wedge rows are ever materialized
  *     (the wedge-join form generates Σ C(d⁺,2) rows through the join
  *     pipeline; here the same comparisons are a zero-allocation walk
  *     inside one codegen'd expression).
  *
  * Scale shape: directing by degree bounds every out-adjacency at
  * O(√|E|) (a node of out-degree d needs d neighbors of degree ≥ d, so
  * d(d+1)/2 ≤ |E|) — per-row array size AND per-row walk cost are both
  * √|E|-bounded, so no single hub can produce a straggler row. The two
  * adjacency joins are key shuffles at an explicit (AQE-exempt) width —
  * the walk cost is invisible to AQE's byte-based coalescing, the Dedup
  * pair-join idiom.
  */
object Triangles {

  /** The shared traversal preamble both counters consume: normalized
    * undirected edges, per-vertex degrees, edges DIRECTED from the
    * (degree, id)-smaller endpoint (the total order that makes each
    * triangle discoverable exactly once), the sorted out-adjacency,
    * and the explicit exchange width. One definition — q35 and q85
    * can never drift on which triangles exist.
    */
  private case class DirectedGraph(
      deg: DataFrame, directed: DataFrame, adj: DataFrame, p: Int)

  private def directedAdjacency(
      edges: DataFrame, srcCol: String, dstCol: String): DirectedGraph = {
    val e = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("lo"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
    val deg = e.select(col("lo").as("v")).unionAll(e.select(col("hi").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // direct each edge from the (deg, id)-smaller endpoint to the larger
    val directed = e
      .join(deg.withColumnRenamed("v", "lo").withColumnRenamed("deg", "dlo"), "lo")
      .join(deg.withColumnRenamed("v", "hi").withColumnRenamed("deg", "dhi"), "hi")
      .select(
        when(col("dlo") < col("dhi") ||
          (col("dlo") === col("dhi") && col("lo") < col("hi")), col("lo"))
          .otherwise(col("hi")).as("u"),
        when(col("dlo") < col("dhi") ||
          (col("dlo") === col("dhi") && col("lo") < col("hi")), col("hi"))
          .otherwise(col("lo")).as("v"))
    // sorted out-adjacency (distinct by edge-dedup construction)
    val adj = directed.groupBy("u")
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
    DirectedGraph(deg, directed, adj, expansionParallelism(edges))
  }

  /** Count triangles in an undirected graph given as an edge list (any
    * orientation, duplicates and self-loops tolerated — normalized
    * away; node ids must be integral). Returns one row: (n_triangles).
    */
  def triangleCount(
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val g = directedAdjacency(edges, srcCol, dstCol)
    // a v with no out-edges intersects to 0 — the inner join dropping
    // its rows is the same sum
    val perEdge = g.directed.repartition(g.p, col("u"))
      .join(g.adj, Seq("u"))
      .select(col("v"), col("nbrs").as("un"))
      .repartition(g.p, col("v"))
      .join(g.adj.withColumnRenamed("u", "v").withColumnRenamed("nbrs", "vn"),
        Seq("v"))
      .select(intersectCard(col("un"), col("vn")).as("c"))
    perEdge.agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
  }

  /** Per-vertex triangle participation — the inputs of the local
    * clustering coefficient. Returns one row per vertex of the
    * normalized undirected graph: (vertex, degree, triangles, wedges)
    * where wedges = C(degree, 2); the coefficient triangles/wedges is
    * left to the caller so the contract stays all-integer
    * (bit-portable across engines).
    *
    * Same degree-ordered direction as [[triangleCount]], so each
    * triangle {a≺b≺c} is discovered exactly once (on its a→b edge, as
    * the common out-neighbor c) and credited to all three corners in
    * ONE pass: the common-neighbor array explodes to credit each c,
    * and `array_repeat(endpoint, |common|)` rides the same explode to
    * credit u and v — 3·T credit rows total, no second traversal, no
    * wedge materialization beyond the √|E|-bounded per-edge
    * intersection. Vertices in no triangle are restored by a left
    * join from the degree table (one vertex-keyed shuffle).
    */
  def vertexTriangles(
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val g = directedAdjacency(edges, srcCol, dstCol)
    val credits = g.directed.repartition(g.p, col("u"))
      .join(g.adj, Seq("u"))
      .select(col("u"), col("v"), col("nbrs").as("un"))
      .repartition(g.p, col("v"))
      .join(g.adj.withColumnRenamed("u", "v").withColumnRenamed("nbrs", "vn"),
        Seq("v"))
      .select(col("u"), col("v"),
        array_intersect(col("un"), col("vn")).as("__c"))
      .filter(size(col("__c")) > 0)
      .select(explode(concat(col("__c"),
        array_repeat(col("u"), size(col("__c"))),
        array_repeat(col("v"), size(col("__c"))))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).as("__t"))
    g.deg.select(col("v").as("vertex"), col("deg").as("degree"))
      .join(credits, Seq("vertex"), "left")
      .select(col("vertex"), col("degree"),
        coalesce(col("__t"), lit(0L)).as("triangles"),
        expr("degree * (degree - 1) div 2").as("wedges"))
  }
}
