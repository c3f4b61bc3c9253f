package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.{Dedup, GraphLoop, Hits, KCore, PageRank, ShortestPaths}

/** r13's broadcast-regime gates: below `broadcastMaxVertices` the
  * per-round joins broadcast the node-bounded side (score/frontier/
  * doomed/label table) so the checkpointed edge table is never re-sorted
  * or re-exchanged; above the gate they fall back to the co-partitioned
  * shuffle join. The gate is a PHYSICAL decision only — both regimes
  * must produce byte-equal results (the PageRankSpec regime discipline,
  * extended to the ops that gained the gate this round).
  */
class RegimeGateSpec extends SparkSessionSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private val edges: Seq[(Long, Long)] =
    (1 to 400).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2).distinct

  test("Hits: broadcast and co-partitioned regimes are byte-equal") {
    val e = edges.map { case (a, b) => (a, 100L + b) }.toDF("hub", "auth")
    val bc = Hits.fixedPointHits(e, 3)
      .as[(Long, Long, Boolean)].collect().toSet
    val co = Hits.fixedPointHits(e, 3, broadcastMaxVertices = 0L)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(bc === co)
  }

  test("bfsLevels: broadcast and co-partitioned regimes are byte-equal") {
    val e = edges.toDF("src", "dst")
    val src = Seq(1L, 2L).toDF("node")
    val bc = ShortestPaths.bfsLevels(e, src, maxDepth = 3)
      .as[(Long, Int)].collect().toSet
    val co = ShortestPaths.bfsLevels(e, src, maxDepth = 3,
        broadcastMaxVertices = 0L)
      .as[(Long, Int)].collect().toSet
    assert(bc === co)
  }

  test("bellmanFord: broadcast and co-partitioned regimes are byte-equal") {
    val e = edges.map { case (a, b) => (a, b, 1L + (a + b) % 7) }
      .toDF("src", "dst", "len")
    val src = Seq(1L, 2L).toDF("node")
    val bc = ShortestPaths.bellmanFord(e, src, rounds = 3)
      .as[(Long, Long)].collect().toSet
    val co = ShortestPaths.bellmanFord(e, src, rounds = 3,
        broadcastMaxVertices = 0L)
      .as[(Long, Long)].collect().toSet
    assert(bc === co)
  }

  test("kCore: broadcast and co-partitioned regimes are byte-equal") {
    val both = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val e = both.toDF("src", "dst")
    val bc = KCore.kCore(e, k = 4)
      .as[(Long, Long)].collect().toSet
    val co = KCore.kCore(e, k = 4, broadcastMaxVertices = 0L)
      .as[(Long, Long)].collect().toSet
    assert(bc === co)
  }

  test("components: broadcast and co-partitioned regimes are byte-equal") {
    // a long chain exercises the pointer-jump rounds in both regimes
    val chain = (0L until 40L).map(i => (i, i + 1))
    val pairs = chain.toDF("id_a", "id_b")
    val bc = Dedup.components(pairs)
      .as[(Long, Long)].collect().toSet
    val co = Dedup.components(pairs, broadcastMaxVertices = 0L)
      .as[(Long, Long)].collect().toSet
    assert(bc === co)
  }

  // Few sources, huge fan-out: 3 sources × 400 dst-only vertices plus a
  // 0→1→2 chain. A gate between |src| = 3 and |src ∪ dst| = 1203 must
  // pick the shuffle regime — the frontier, dist and decrement tables
  // grow to the dst-only vertices.
  private val fanOut: Seq[(Long, Long)] = Seq((0L, 1L), (1L, 2L)) ++
    (for (s <- 0L to 2L; i <- 0L until 400L) yield (s, 1000L + s * 400L + i))
  private val fanGate = 100L

  /** Rows of `run(gate)` under the default gate and under `fanGate` with
    * both auto-broadcast thresholds off, plus every plan the gated call
    * executed (its final collect included).
    */
  private def gated(run: Long => DataFrame): (Set[Any], Set[Any], Seq[String]) = {
    val dflt = run(GraphLoop.BroadcastMaxVertices).collect().toSet[Any]
    val plans = new ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    GraftBridge.waitListenerBus(spark)
    spark.listenerManager.register(listener)
    try {
      val got = run(fanGate).collect().toSet[Any]
      GraftBridge.waitListenerBus(spark)
      (dflt, got, plans.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(listener)
      saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }

  private def assertShuffleRegime(run: Long => DataFrame): Unit = {
    val (dflt, got, plans) = gated(run)
    assert(got === dflt)
    assert(got.nonEmpty)
    assert(plans.nonEmpty)
    assert(!plans.exists(_.contains("BroadcastHashJoin")),
      plans.find(_.contains("BroadcastHashJoin")).getOrElse(""))
  }

  test("fan-out: the gate counts dst-only vertices (bfsLevels)") {
    val e = fanOut.toDF("src", "dst")
    val src = Seq(0L).toDF("node")
    assertShuffleRegime(g => ShortestPaths.bfsLevels(e, src, maxDepth = 3,
      broadcastMaxVertices = g))
  }

  test("fan-out: the gate counts dst-only vertices (bellmanFord)") {
    val e = fanOut.map { case (a, b) => (a, b, 1L + (a + b) % 5) }
      .toDF("src", "dst", "len")
    val src = Seq(0L).toDF("node")
    assertShuffleRegime(g => ShortestPaths.bellmanFord(e, src, rounds = 3,
      broadcastMaxVertices = g))
  }

  test("fan-out: the gate counts dst-only vertices (kCore)") {
    // 0 and 1 have out-degree 401, 2 has 400: k = 401 peels 2 in round one
    val e = fanOut.toDF("src", "dst")
    assertShuffleRegime(g => KCore.kCore(e, k = 401, broadcastMaxVertices = g))
  }

  test("fan-out: the gate counts dst-only vertices (PageRank)") {
    val e = fanOut.toDF("src", "dst")
    assertShuffleRegime(g => PageRank.fixedPointPageRank(e, 3,
      broadcastMaxVertices = g))
  }
}
