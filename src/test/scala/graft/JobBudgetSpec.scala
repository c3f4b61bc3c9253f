package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.kv.Store
import graft.ops.{Dedup, Hits, KCore, LabelProp, PageRank, ShortestPaths, Similarity}
import graft.sources.VersionedLake
import graft.streaming.{EventStream, StatsStream}

/** Spark jobs an operator runs, call and final collect together, on one
  * fixed small input.
  *
  * The iterative graph loops run on one small graph. Their budgets are
  * the counts of the GraphLoop discipline (one checkpoint job set per
  * round, scalars observed on those jobs); a gate or guard that comes
  * back as its own `count`/`collect` job, or a round schedule that grows,
  * breaks them.
  *
  * The dedup pair operators run on one small corpus of near-duplicate
  * families and truncated mirrors. Their budgets are the counts of their
  * shuffle and checkpoint plans; an exchange that stops being reused (one
  * branch's aggregate or join key changing shape) breaks them.
  *
  * The ANN and embedding-dedup operators run on one small random vector
  * corpus with cells and codebooks trained before the call, as every
  * caller trains them. Their budgets are the counts of the probe join,
  * the shortlist broadcasts and the salted-tile checkpoint; a training
  * pass or a fetch that comes back as its own job breaks them.
  *
  * The streaming operators run on one small static events frame, as the
  * registry runs them. Their budgets are the counts of their aggregate
  * and join plans on a static frame; a watermark or stream-only operator
  * that stays in the batch plan and costs a job breaks them.
  *
  * The key writes, the lake delete and the store and lake reads run
  * against a small store gid and a small two-day lake, each built fresh
  * for the call. The writes' budgets are the counts of the merge-on-read
  * protocol (the batch pin and its bounds, the landed files and their
  * stats, the match pin, its per-file counts and the sidecar write); a
  * probe that comes back as its own job (a bucket hashed by a query, a
  * per-bucket emptiness check) breaks them. A read is one scan job (the
  * change feed's two diffs add their exchanges); a listing or schema
  * inference job breaks it.
  */
class JobBudgetSpec extends SparkSessionSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(5)
  private val sym: Seq[(Long, Long)] = {
    val one = (1 to 90).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2)
    (one ++ one.map(_.swap) ++ (0L until 30L).map(i => (i, (i + 1) % 30))).distinct
  }
  private def e = sym.toDF("src", "dst")
  private def sources = Seq(0L, 7L).toDF("node")

  private val corpus: Seq[(Long, String)] = {
    val words = (0 until 40).map(i => s"w$i")
    val bases = (0 until 12).map(_ => Seq.fill(14)(words(rnd.nextInt(40))))
    bases.zipWithIndex.flatMap { case (t, i) =>
      Seq(3L * i -> t, (3L * i + 1) -> t.updated(5, "edit"), (3L * i + 2) -> t.take(8))
    }.map { case (id, t) => id -> t.mkString(" ") }
  }
  private def docs = corpus.toDF("doc_id", "text")

  private val vecs: Seq[(Long, Array[Float])] = {
    val r = new scala.util.Random(11)
    (0L until 120L).map(i => i -> Array.fill(16)(r.nextGaussian().toFloat))
  }
  private def emb = vecs.toDF("id", "vec")
  private def embQ = vecs.take(4).toDF("qid", "qvec")
  private lazy val cells = Similarity.ivfCentroids(emb, nCentroids = 8)
  private lazy val books = Similarity.pqCodebooks(emb, m = 4, k = 8)

  private def evs = (0 until 60).map { i =>
    (i.toLong, new java.sql.Timestamp(1709251200000L + i * 300000L), (i % 10).toLong,
      Seq("view", "click", "purchase")(i % 3), i * 1.5, "")
  }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  private def custs = (0L until 10L).map(i => (i, s"seg${i % 3}"))
    .toDF("c_custkey", "c_mktsegment")

  private val ops: Seq[(String, Int, () => DataFrame)] = Seq(
    ("fixedPointPageRank", 16, () => PageRank.fixedPointPageRank(e, 3)),
    ("personalizedPageRank", 24, () =>
      PageRank.personalizedPageRank(e, Seq(3L, 4L).toDF("vertex"), 3)),
    ("LabelProp.propagate", 18, () => LabelProp.propagate(e, 3)),
    ("Hits.fixedPointHits", 23, () =>
      Hits.fixedPointHits(e.toDF("hub", "auth"), 3)),
    ("KCore.kCore", 12, () => KCore.kCore(e, k = 4)),
    ("bfsLevels", 23, () => ShortestPaths.bfsLevels(e, sources, maxDepth = 3)),
    ("bellmanFord", 18, () => ShortestPaths.bellmanFord(
      sym.map { case (a, b) => (a, b, 1L + (a * b) % 4) }.toDF("src", "dst", "len"),
      sources, rounds = 3)),
    ("Dedup.components", 24, () => Dedup.components(
      (0L until 20L).map(i => (i, i + 1)).toDF("id_a", "id_b"))),
    ("Dedup.ngramJaccardPairs", 9, () =>
      Dedup.ngramJaccardPairs(docs, "text", "doc_id", num = 7, den = 10)),
    ("Dedup.containmentPairs", 7, () =>
      Dedup.containmentPairs(docs, "text", "doc_id", num = 9, den = 10)),
    ("Dedup.minhashPairs", 6, () =>
      Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.5)),
    ("Dedup.crossMinhashPairs", 9, () => Dedup.crossMinhashPairs(
      docs.filter($"doc_id" % 3 === 0), docs.filter($"doc_id" % 3 =!= 0),
      "text", "doc_id", threshold = 0.5)),
    ("Dedup.lshTuningReport", 16, () =>
      Dedup.lshTuningReport(docs, "text", "doc_id")),
    ("Similarity.ivfTopK", 4, () =>
      Similarity.ivfTopK(emb, cells, embQ, k = 5, nProbe = 3)),
    ("Similarity.filteredIvfTopK", 4, () => Similarity.filteredIvfTopK(
      emb.withColumn("cat", pmod($"id", lit(2L))), cells,
      embQ.withColumn("qcat", pmod($"qid", lit(2L))), k = 5,
      catCol = "cat", qcatCol = "qcat", nProbe = 3)),
    ("Similarity.ivfPqTopK", 6, () => Similarity.ivfPqTopK(emb, cells, books,
      embQ, k = 5, nProbe = 3, refine = 20)),
    ("Similarity.semanticDedup", 8, () =>
      Similarity.semanticDedup(emb, cells, threshold = 0.3)),
    ("Similarity.hammingTopK", 6, () =>
      Similarity.hammingTopK(emb, embQ, k = 5, dim = 16, shortlist = 20)),
    ("Similarity.matryoshkaTopK", 6, () =>
      Similarity.matryoshkaTopK(emb, embQ, k = 5, coarseDim = 8, shortlist = 20)),
    ("EventStream.hourlyAgg", 2, () => EventStream.hourlyAgg(evs)),
    ("EventStream.viewPurchaseCounts", 2, () => EventStream.viewPurchaseCounts(evs)),
    ("EventStream.segmentHourly", 3, () => EventStream.segmentHourly(evs, custs)),
    ("EventStream.slidingAgg", 2, () => EventStream.slidingAgg(evs)),
    ("EventStream.viewPurchaseLeftOuter", 2, () => EventStream.viewPurchaseLeftOuter(
      evs.filter($"event_type" === "purchase"), evs.filter($"event_type" === "view"))),
    ("StatsStream.shardStatsStream", 2, () =>
      StatsStream.shardStatsStream(evs, "event_id", Seq("event_id", "user_id"))),
    ("EventStream.hourlyUniques", 3, () => EventStream.hourlyUniques(evs)),
    ("EventStream.sessionWindows", 2, () => EventStream.sessionWindows(evs)))

  for ((name, budget, run) <- ops)
    test(s"$name stays within its job budget") {
      run().collect() // warm: first-use analysis must not count
      val n = GraphLoopSpec.jobs(spark)(run().collect())
      info(s"$name ran $n jobs")
      assert(n <= budget, s"$name ran $n jobs, budget $budget")
    }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-budget").toString

  private def kv(ids: Range, tag: String) =
    ids.map(i => (i.toLong, s"$tag$i")).toDF("id", "v")

  /** A gid of 8 buckets holding ids 0..39, landed by two puts. */
  private def store(): Store = {
    val s = new Store(spark, tmp(), defaultBuckets = 8)
    s.put(kv(0 until 20, "v"), "g", Some("id"))
    s.put(kv(20 until 40, "v"), "g", Some("id"))
    s
  }

  private def events(ids: Range, plus: Double) = ids.map { i =>
    (i.toLong, java.sql.Timestamp.valueOf(f"2024-03-0${1 + i % 2} ${i % 24}%02d:00:00"),
      i * 1.5 + plus)
  }.toDF("event_id", "ts", "value")

  /** A two-day lake of ids 0..11, landed by two appends. */
  private def lake(): String = {
    val p = tmp() + "/events"
    VersionedLake.append(events(0 until 6, 0.0), p)
    VersionedLake.append(events(6 until 12, 0.0), p)
    p
  }

  /** (name, budget, set-up returning the measured call). */
  private val writes: Seq[(String, Int, () => () => Unit)] = Seq(
    ("Store.put", 10, () => {
      val s = store(); () => s.put(kv(35 until 45, "w"), "g", Some("id"))
    }),
    ("Store.get", 1, () => {
      val s = store(); () => s.get("g", "7").collect(): Unit
    }),
    ("Store.del", 3, () => { val s = store(); () => s.del("g", "7") }),
    ("VersionedLake.deleteWhere", 3, () => {
      val p = lake(); () => VersionedLake.deleteWhere(spark, p, col("value") > 9.0): Unit
    }),
    ("VersionedLake.upsert", 10, () => {
      val p = lake()
      () => VersionedLake.upsert(events(8 until 14, 100.0), p, key = "event_id"): Unit
    }),
    ("Store.scan", 1, () => {
      val s = store(); () => s.scan("g").collect(): Unit
    }),
    ("VersionedLake.read", 1, () => {
      val p = lake(); () => VersionedLake.read(spark, p).collect(): Unit
    }),
    ("VersionedLake.readBands", 1, () => {
      val p = lake()
      () => VersionedLake.readBands(spark, p, Seq(("value", 2.0, 8.0))).collect(): Unit
    }),
    ("VersionedLake.changes", 3, () => {
      val p = lake(); () => VersionedLake.changes(spark, p, 1L).collect(): Unit
    }))

  for ((name, budget, setup) <- writes)
    test(s"$name stays within its job budget") {
      setup()() // warm: first-use analysis must not count
      val run = setup()
      val n = GraphLoopSpec.jobs(spark)(run())
      info(s"$name ran $n jobs")
      assert(n <= budget, s"$name ran $n jobs, budget $budget")
    }
}
