package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (LPA, q96) — the
  * cheap first answer to "what communities does this graph have" when no
  * taxonomy exists (q94's modularity scores a GIVEN partition; LPA
  * DISCOVERS one).
  *
  * Algorithm: labels start as vertex ids; each synchronous round every
  * vertex adopts the most frequent label among its neighbors, ties to
  * the SMALLEST label. Min-label ties plus a FIXED round count make the
  * run a deterministic function of the edge set, which is what lets a
  * SQL oracle replay it round for round.
  *
  * Scale shape: the both-orientations adjacency list is hash-partitioned
  * by neighbor ONCE and checkpointed; each round is one key-join of the
  * |V|-sized label table against it plus a partially-aggregated
  * (vertex, label) shuffle that carries at most one row per (vertex,
  * distinct neighbor label), never the edge stream. The argmax folds
  * into a (count, −label) struct-max. The label table is
  * localCheckpointed per round ([[GraphLoop]]'s round discipline), so
  * every round's plan is rooted at materialized partitions and the
  * returned frame's plan holds no exchange.
  */
object LabelProp {

  /** Communities of an UNDIRECTED edge list (one row per edge, either
    * orientation; self-loops dropped, duplicates collapsed) after
    * `rounds` (1 to [[GraphLoop.MaxRounds]]) synchronous LPA rounds.
    * Output: (node, community) — the node's label after the final round.
    * Isolated vertices (absent from the edge list) are by definition not
    * present.
    */
  def propagate(
      edges: DataFrame, rounds: Int,
      srcCol: String = "src", dstCol: String = "dst",
      broadcastMaxVertices: Long = GraphLoop.BroadcastMaxVertices): DataFrame = {
    GraphLoop.requireRounds("rounds", rounds)
    val e = edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    // both orientations explode IN-ROW: a unionAll of two projections
    // would execute the caller's edge build twice (guide §1.2)
    val adj = e.select(explode(array(
        struct(col("a").as("v"), col("b").as("n")),
        struct(col("b").as("v"), col("a").as("n")))).as("__o"))
      .select(col("__o.v").as("v"), col("__o.n").as("n"))
      .repartition(col("n"))
      .localCheckpoint()
    // `adj` holds both orientations, so the label table covers every
    // endpoint and its row count is the gate's vertex count
    val (init, n) = GraphLoop.checkpoint(
      adj.select(col("v")).distinct().withColumn("label", col("v")),
      count(lit(1)).as("nV"))
    val gate = GraphLoop.Gate(n.getLong(0), broadcastMaxVertices)
    (1 to rounds).foldLeft(init) { (labels, _) =>
      adj.join(gate.side(labels.select(col("v").as("n"), col("label"))), Seq("n"))
        .groupBy(col("v"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("v"))
        .agg(max(struct(col("__c").as("c"), (-col("label")).as("nl"))).as("__m"))
        .select(col("v"), (-col("__m.nl")).as("label"))
        .localCheckpoint()
    }.select(col("v").as("node"), col("label").as("community"))
  }
}
