package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by parallel peeling (q65). The k-core is the
  * unique maximal subgraph in which every vertex has degree ≥ k — the
  * standard "dense backbone" extraction for community seeding and graph
  * cleaning.
  *
  * Algorithm: simultaneous peeling. Each round removes EVERY current
  * vertex whose surviving degree is < k, then decrements its neighbors.
  * Peeling is confluent (any removal schedule reaches the same unique
  * fixpoint), so this batch schedule, a sequential schedule, and the
  * oracle's full-recompute schedule all agree — that is what makes the
  * operator oracle-able despite being iterative.
  *
  * Scale shape: the edge list is hash-partitioned by src ONCE and
  * checkpointed in that layout. Each round's work is keyed by the DOOMED
  * set — the vertices removed this round — which joins the edge table on
  * its partitioning key, so the edges never re-shuffle. Degrees are
  * maintained DECREMENTALLY (deg −= removed-neighbor count), so a round
  * costs O(edges incident to the doomed set), not O(E). The degree table
  * is localCheckpointed per round ([[GraphLoop]]'s round discipline).
  */
object KCore {

  /** Vertices of the k-core of a DIRECTED edge list (feed both
    * orientations for an undirected graph; self-loops dropped,
    * duplicate edges collapsed). Output: (node, core_degree) — the
    * vertex's degree WITHIN the core (≥ k by construction). Empty when
    * the graph has no k-core.
    *
    * `maxRounds` bounds the driver loop: peeling needs O(|V|) rounds in
    * theory but a handful in practice, and the result is the true k-core
    * only at a fixpoint, so the cap is a guard, not a tuning knob.
    */
  def kCore(
      edges: DataFrame, k: Int, maxRounds: Int = 64,
      srcCol: String = "src", dstCol: String = "dst",
      broadcastMaxVertices: Long = GraphLoop.BroadcastMaxVertices): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val e = edges
      .select(col(srcCol).cast("long").as("__src"),
        col(dstCol).cast("long").as("__dst"))
      .filter(col("__src") =!= col("__dst"))
      .distinct()
      .repartition(col("__src"))
      .localCheckpoint()
    // one row per vertex of src ∪ dst with its out-degree: the gate
    // counts the `__dst`-keyed decrement table's keys too
    val (all, n) = GraphLoop.checkpoint(
      e.select(explode(array(
          struct(col("__src").as("node"), lit(1L).as("o")),
          struct(col("__dst").as("node"), lit(0L).as("o")))).as("__v"))
        .groupBy(col("__v.node").as("node")).agg(sum(col("__v.o")).as("deg")),
      count(lit(1)).as("nV"))
    val gate = GraphLoop.Gate(n.getLong(0), broadcastMaxVertices)
    var deg = all.filter(col("deg") > 0)
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      val (doomed, d) = GraphLoop.checkpoint(
        deg.filter(col("deg") < k).select(col("node")), count(lit(1)).as("n"))
      if (d.getLong(0) == 0L) done = true
      else {
        // each removed vertex decrements its still-alive neighbors; a
        // neighbor removed in the SAME round is dropped by the
        // anti-join anyway, so over-decrementing it is harmless
        val dec = gate.side(doomed)
          .join(e, col("node") === col("__src"))
          .groupBy(col("__dst").as("__n"))
          .agg(count(lit(1)).as("__dec"))
        deg = deg
          .join(gate.side(doomed), Seq("node"), "left_anti")
          .join(gate.side(dec), col("node") === col("__n"), "left")
          .select(col("node"),
            (col("deg") - coalesce(col("__dec"), lit(0L))).as("deg"))
          .localCheckpoint()
      }
      round += 1
    }
    // at a fixpoint this filter is a no-op (everything survived with
    // deg >= k); under a premature cap it keeps the output contract
    // (every reported degree >= k) even though the set may be a
    // superset of the true core
    deg.filter(col("deg") >= k)
      .select(col("node"), col("deg").as("core_degree"))
  }
}
