package graft

import org.apache.spark.sql.{Column, DataFrame}

package object ops {

  /** Partition count for quadratic pair-expansion joins: AQE coalesces by
    * pre-join input size, which wildly underestimates an explosive join's
    * output, so these stages need an explicit (AQE-exempt) width.
    */
  private[graft] def expansionParallelism(df: DataFrame): Int =
    math.max(df.sparkSession.sparkContext.defaultParallelism * 2, 16)

  /** |A∩B| of sorted distinct long arrays — session-independent direct
    * construction of the native merge-walk expression.
    */
  private[graft] def intersectCard(a: Column, b: Column): Column =
    graft.expr.nat(graft.expr.GraftExpressions.IntersectCardSorted(
      graft.expr.toExpr(a), graft.expr.toExpr(b)))

  /** Spread a compute-heavy narrow pass across the cluster when the scan
    * produced far fewer partitions than cores (small single-row-group
    * files — Spark cannot split below a row group, so per-row-heavy
    * operators would otherwise run nearly single-task). The gate only
    * fires in that small-scan regime, where the repartition payload is
    * trivially cheap by construction; at 100 TB split count dwarfs core
    * count and this is the identity.
    */
  private[graft] def widen(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    // session conf override so the gate is testable at a FIXED width on
    // any runner (PlanSpec pins it; unset ⇒ the cluster's parallelism)
    val p = s.conf.getOption("graft.widen.parallelism").map(_.toInt)
      .getOrElse(s.sparkContext.defaultParallelism)
    if (df.rdd.getNumPartitions * 4 <= p) df.repartition(p) else df
  }
}
