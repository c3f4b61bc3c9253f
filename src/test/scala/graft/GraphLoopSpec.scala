package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.GraphLoop

/** GraphLoop.checkpoint reads its scalars from the checkpoint's own job:
  * the observed values must equal a separate aggregate, and observing
  * must not add a job to the checkpoint — the Spark behaviour every
  * ported loop relies on.
  */
class GraphLoopSpec extends SparkSessionSpec {
  import spark.implicits._

  private def jobs[T](body: => T): Int = GraphLoopSpec.jobs(spark)(body)

  private def table(n: Int): DataFrame =
    (0 until n).map(i => (i.toLong % 7, i.toLong)).toDF("k", "v")
      .groupBy("k").agg(sum("v").as("s"))

  private val metrics = Seq(count(lit(1)).as("n"), sum(col("s")).as("t"),
    max(col("k")).as("m"))

  test("observed scalars equal a separate aggregate, empty input included") {
    for (n <- Seq(100, 0)) {
      val df = table(n)
      val want = df.agg(metrics.head, metrics.tail: _*).head()
      val (out, got) = GraphLoop.checkpoint(df, metrics: _*)
      assert(got.toSeq === want.toSeq, s"n=$n")
      assert(out.count() === want.getLong(0))
    }
    val (_, empty) = GraphLoop.checkpoint(table(0), metrics: _*)
    assert(empty.getLong(0) === 0L && empty.isNullAt(1) && empty.isNullAt(2))
  }

  test("observing adds no job to the checkpoint") {
    val plain = jobs(table(100).localCheckpoint())
    val observed = jobs(GraphLoop.checkpoint(table(100), metrics: _*))
    val counted = jobs(table(100).localCheckpoint().count())
    assert(observed === plain, s"observe+checkpoint $observed vs checkpoint $plain")
    assert(counted > plain, s"checkpoint then count $counted vs $plain")
  }

  test("gates count both endpoints and the round cap is shared") {
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    assert(GraphLoop.Gate.ofEdges(e, "a", "b", 4L).broadcasts)
    assert(!GraphLoop.Gate.ofEdges(e, "a", "b", 3L).broadcasts)
    GraphLoop.requireRounds("rounds", GraphLoop.MaxRounds)
    intercept[IllegalArgumentException](GraphLoop.requireRounds("rounds", 0))
    intercept[IllegalArgumentException](
      GraphLoop.requireRounds("rounds", GraphLoop.MaxRounds + 1))
  }
}

object GraphLoopSpec {

  /** Spark jobs started while `body` runs. */
  def jobs[T](spark: SparkSession)(body: => T): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    GraftBridge.waitListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try { body; GraftBridge.waitListenerBus(spark); n.get }
    finally spark.sparkContext.removeSparkListener(l)
  }
}
