package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-point-integer HITS (Kleinberg hubs & authorities): a good HUB
  * points at good authorities, a good AUTHORITY is pointed at by good
  * hubs — the natural reading on BIPARTITE interaction graphs
  * (customers→parts) where PageRank's single score conflates the sides.
  *
  * The same bit-exactness discipline as q30: floating-point HITS
  * normalizes by an L2 norm (a sqrt — never hash-matchable), so here
  * scores are scaled BIGINTs and each half-round normalizes by the MAX
  * instead, `s' = (s · scale) div max` (the principal eigenvector
  * direction is unchanged); the DuckDB oracle unrolls the identical
  * recurrence with a `max()` subquery per half-round (q82).
  *
  * Iteration shape ([[GraphLoop]]'s round discipline): the edge list is
  * deduped and checkpointed ONCE; each half-round pays one key-grouped
  * partially-aggregated shuffle (sum of partner scores) whose raw sums
  * are checkpointed; the normalized scores are a lazy projection read
  * off that checkpoint. Rounds are fixed, so the oracle unrolls them.
  *
  * Overflow contract: a half-round sum is at most maxDegree·scale and
  * the normalization multiplies by scale before dividing, so
  * `maxDegree · scale²` must fit a long — with the default scale 10⁶
  * that admits degrees to ~9·10⁶; heavier graphs lower `scale`.
  *
  * Output: (vertex, score, hub_side) — the authority score of every
  * auth-side vertex (`hub_side = false`) and the hub score of every
  * hub-side vertex (`hub_side = true`), both after `iterations` full
  * rounds from a uniform `scale` start.
  */
object Hits {

  def fixedPointHits(
      edges: DataFrame, iterations: Int,
      scale: Long = 1000000L,
      broadcastMaxVertices: Long = GraphLoop.BroadcastMaxVertices): DataFrame = {
    GraphLoop.requireRounds("iterations", iterations)
    require(scale >= 100L, s"scale must be >= 100, got $scale")
    val e = edges
      .select(col("hub").cast("long").as("hub"),
        col("auth").cast("long").as("auth"))
      .distinct()
      .localCheckpoint()
    // one row per vertex of hub ∪ auth with its degree on each side: the
    // gate's vertex count and the max degree ride its checkpoint job, and
    // the auth side seeds the first half-round
    val (deg, stats) = GraphLoop.checkpoint(
      e.select(explode(array(
          struct(col("hub").as("v"), lit(1L).as("h")),
          struct(col("auth").as("v"), lit(0L).as("h")))).as("__o"))
        .groupBy(col("__o.v").as("v"))
        .agg(sum(col("__o.h")).as("hd"), sum(lit(1L) - col("__o.h")).as("ad")),
      count(lit(1)).as("nV"), max(greatest(col("hd"), col("ad"))).as("maxDeg"))
    val maxDeg = stats.getLong(1)
    require(maxDeg <= Long.MaxValue / scale / scale,
      s"maxDegree*scale^2 must fit a long: maxDegree=$maxDeg, scale=$scale")
    val gate = GraphLoop.Gate(stats.getLong(0), broadcastMaxVertices)
    val eByAuth = gate.edgeSide(e, "auth")
    val eByHub = gate.edgeSide(e, "hub")
    // one half-round: partner scores summed per `key`; the normalizing
    // max folds in as a literal (r13 measured a broadcast cross join of
    // the max at 0.93×)
    def half(byPartner: DataFrame, key: String, partner: String,
        scores: DataFrame): DataFrame = {
      val (raw, m) = GraphLoop.checkpoint(
        byPartner.join(gate.side(scores), col(partner) === scores("v"))
          .groupBy(col(key)).agg(sum(col("s")).as("__r")),
        max(col("__r")).as("m"))
      raw.select(col(key).as("v"),
        expr(s"(__r * ${scale}L) div ${m.getLong(0)}L").as("s"))
    }
    var a = deg.filter(col("ad") > 0).select(col("v"), lit(scale).as("s"))
    var h: DataFrame = null
    for (_ <- 1 to iterations) {
      h = half(eByAuth, "hub", "auth", a)
      a = half(eByHub, "auth", "hub", h)
    }
    a.select(col("v").as("vertex"), col("s").as("score"),
        lit(false).as("hub_side"))
      .unionAll(h.select(col("v").as("vertex"), col("s").as("score"),
        lit(true).as("hub_side")))
  }
}
