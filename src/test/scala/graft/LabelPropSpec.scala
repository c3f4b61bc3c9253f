package graft

import graft.ops.LabelProp

class LabelPropSpec extends SparkSessionSpec {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    LabelProp.propagate(edges.toDF("src", "dst"), rounds)
      .as[(Long, Long)].collect().toMap

  // two triangles bridged by one edge: 1-2-3 (△) —3·10— 10-11-12 (△)
  private val bridged = Seq(
    (1L, 2L), (2L, 3L), (1L, 3L),
    (10L, 11L), (11L, 12L), (10L, 12L),
    (3L, 10L))

  test("three rounds separate the bridged triangles (hand-unrolled)") {
    // r1: 1→2, 2→1, 3→1, 10→3, 11→10, 12→10  (all min-label ties)
    // r2: 1→1, 2→1, 3→1, 10→10, 11→3, 12→3
    // r3: left triangle locks to 1; right converges on the bridge's 3
    assert(run(bridged, 1) === Map(
      1L -> 2L, 2L -> 1L, 3L -> 1L, 10L -> 3L, 11L -> 10L, 12L -> 10L))
    assert(run(bridged, 3) === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 3L, 11L -> 3L, 12L -> 3L))
  }

  test("self-loops, duplicate edges, and orientation are normalized") {
    // the same graph fed dirty: reversed duplicates, a self-loop, a
    // repeated edge — must produce the identical round-3 labels
    val dirty = bridged ++ bridged.map { case (a, b) => (b, a) } ++
      Seq((7L, 7L), (1L, 2L), (2L, 1L))
    assert(run(dirty, 3) === run(bridged, 3))
    // the pure self-loop vertex contributes no edge, so it is absent
    assert(!run(dirty, 1).contains(7L))
  }

  test("frequency beats label size: a heavy neighborhood outvotes min") {
    // star center 5 with leaves 6,7,8 all pre-converged after round 1:
    // r1: leaves (deg-1) take center's label 5; center takes min leaf 6
    // r2: center sees {5,5,5} → 5 wins by FREQUENCY over smaller 6? No —
    // leaves now carry 5, so center's histogram is {5:3}; center → 5,
    // leaves see center's 6 → 6. Labels keep swapping (the classic LPA
    // bipartite oscillation) — the fixed round count pins which side.
    val star = Seq((5L, 6L), (5L, 7L), (5L, 8L))
    assert(run(star, 1) === Map(5L -> 6L, 6L -> 5L, 7L -> 5L, 8L -> 5L))
    assert(run(star, 2) === Map(5L -> 5L, 6L -> 6L, 7L -> 6L, 8L -> 6L))
  }

  test("rounds are capped and run eagerly: the result's plan has no exchange") {
    intercept[IllegalArgumentException] {
      LabelProp.propagate(bridged.toDF("src", "dst"), rounds = 51)
    }
    val out = LabelProp.propagate(bridged.toDF("src", "dst"), rounds = 3)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
