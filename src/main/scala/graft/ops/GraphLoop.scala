package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The round discipline of the iterative graph operators (PageRank,
  * LabelProp, Hits, KCore, ShortestPaths, Dedup.components) — the
  * reference's hand-driven `mr.exec` re-run loop (SURVEY §2.6):
  *
  *  1. the broadcast regime: one vertex-count gate over BOTH endpoint
  *     columns picks, once per call, whether the vertex-sized side of
  *     every round's join broadcasts ([[Gate.side]]);
  *  2. every scalar a loop reads back (gate counts, guards, maxima,
  *     emptiness, convergence sums) rides the `localCheckpoint` job that
  *     already materialises its table ([[checkpoint]]);
  *  3. every round ends with a `localCheckpoint`, so each round's plan is
  *     rooted at materialised partitions (r13 measured lazily unrolled
  *     rounds at 0.6–0.8× on q30, q75 and q115), and the fixed-round
  *     loops share one cap ([[requireRounds]]).
  */
object GraphLoop {

  /** Largest vertex count whose vertex-sized tables (ranks, labels,
    * frontier, scores) broadcast into each round's edge join. Executor
    * memory assumption: a broadcast vertex table holds nV × ~16–24 B (long
    * key, long or int payload, hash-relation overhead), ~32–48 MB per
    * executor at the gate.
    */
  val BroadcastMaxVertices: Long = 2L * 1000 * 1000

  /** Round cap of the fixed-round loops; an oracle unrolls every round. */
  val MaxRounds = 50

  def requireRounds(name: String, rounds: Int): Unit =
    require(rounds >= 1 && rounds <= MaxRounds,
      s"$name must be in [1, $MaxRounds], got $rounds")

  /** The per-call join regime. Checkpointed frames carry no statistics,
    * so without an explicit hint Catalyst sort-merge-joins each round and
    * re-sorts (or re-exchanges) the data-sized edge table every time.
    */
  final case class Gate(broadcasts: Boolean) {
    def side(df: DataFrame): DataFrame = if (broadcasts) broadcast(df) else df

    /** The edge table as each round joins it: as is below the gate; above
      * it hash-partitioned on the join `key` ONCE and checkpointed in that
      * layout, so every round re-exchanges only the vertex side.
      */
    def edgeSide(edges: DataFrame, key: String): DataFrame =
      if (broadcasts) edges else edges.repartition(col(key)).localCheckpoint()
  }

  object Gate {
    def apply(vertices: Long, maxVertices: Long): Gate =
      Gate(vertices <= maxVertices)

    /** Gate on |a ∪ b| over a materialised edge table, for loops that
      * keep no vertex-level table of their own to observe the count on.
      */
    def ofEdges(edges: DataFrame, a: String, b: String,
        maxVertices: Long): Gate =
      Gate(edges.select(explode(array(col(a), col(b))).as("__v"))
        .distinct().count(), maxVertices)
  }

  /** `df.localCheckpoint()`, plus the values of `metrics` (named
    * aggregate columns) computed by that same job: the observation sits
    * directly under the checkpoint, so no separate action scans the
    * materialised table. Sums over an empty table read as null.
    */
  def checkpoint(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val observed = df.observe("graph.loop", metrics.head, metrics.tail: _*)
    val out = observed.localCheckpoint()
    (out, observed.queryExecution.observedMetrics("graph.loop"))
  }
}
