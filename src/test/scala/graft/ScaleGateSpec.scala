package graft

import org.apache.spark.sql.functions._

import graft.Engine.table
import graft.ops.Similarity

/** Deterministic scale gates: the quadratic-hazard operators must SPREAD
  * their in-block all-pairs work across tasks, never serialize it into
  * one. These gate partition-level facts (pair counts per task, the
  * tile-key exchange in the plan) rather than wall time, so they fail
  * the moment a regression loses the salting — at unit-test cost and
  * with zero timing flakiness. The wall-clock companion is
  * `graft.tools.ScaleSmoke gate` (factor-ratio bounds, JSON output).
  */
class ScaleGateSpec extends SparkSessionSpec {
  import spark.implicits._

  test("saltedBlockPairs spreads a mega-block across tasks, bounded per task") {
    // ONE block of 1024 rows — the degenerate all-one-cell / all-one-
    // bucket corpus. Unsalted, its 523,776 pairs land in a single task;
    // the tile decomposition must spread them with a per-task bound.
    val n = 1024
    val maxRows = 64
    val rows = spark.range(n)
      .select(lit(1).as("cell"), col("id"), array(lit(1.0f)).as("vec"))
    val pairs = Similarity.saltedBlockPairs(rows, "cell", maxRows)
    val perPart = pairs.select(spark_partition_id().as("p"))
      .groupBy("p").count().as[(Int, Long)].collect()
    // coverage: every unordered pair exactly once
    assert(perPart.map(_._2).sum === n.toLong * (n - 1) / 2)
    // spread: the pair stage runs wide, not in one straggler
    assert(perPart.length >= 8,
      s"pairs concentrated in ${perPart.length} task(s)")
    // bound: no task carries more than a small multiple of maxRows²
    // (several ~maxRows² tiles can hash to one partition; an unsalted
    // regression puts all 523k pairs in one task and fails by ~4x)
    val maxPer = perPart.map(_._2).max
    val bound = 32L * maxRows * maxRows
    assert(maxPer <= bound,
      s"one task carries $maxPer pairs (bound $bound)")
  }

  test("semanticDedup and cosineNearDupPairs route pairs through tile exchange") {
    // the operators must not bypass the salted helper: their physical
    // plans carry the (block, __ti, __tj) tile-key exchange
    val e = table(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val p1 = Similarity.semanticDedup(e, Similarity.ivfCentroids(e, 16),
        threshold = 0.35, maxCellRows = 8)
      .queryExecution.executedPlan.toString
    assert(p1.contains("__ti") && p1.contains("__tj"),
      "semanticDedup lost the triangular-tile decomposition")
    val p2 = Similarity.cosineNearDupPairs(e, threshold = 0.99, maxBucketRows = 8)
      .queryExecution.executedPlan.toString
    assert(p2.contains("__ti") && p2.contains("__tj"),
      "cosineNearDupPairs lost the triangular-tile decomposition")
  }
}
