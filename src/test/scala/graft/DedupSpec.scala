package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup

class DedupSpec extends SparkSessionSpec {
  import spark.implicits._

  // corpus with planted exact dups and near-dups (one-word edits)
  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat near the river bank today"), // near dup of 1
    (4L, "completely different text about database engines and query optimizers"),
    (5L, "spark catalyst optimizer rewrites logical plans into physical plans"),
    (6L, "THE  QUICK   brown fox jumps over the lazy dog near the river bank today") // dup of 1 modulo case/ws
  ).toDF("doc_id", "text")

  test("exact dedup: normalized content groups") {
    val groups = Dedup.exactGroups(docs, "text", "doc_id").collect()
    val byKeeper = groups.map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(byKeeper(1L) === 3L) // 1, 2, 6 collapse
    assert(groups.length === 4)
    val survivors = Dedup.exactSurvivors(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(survivors === Set(1L, 3L, 4L, 5L))
  }

  test("precedenceSurvivors: priority beats id, ties by min id, unique low-priority survives") {
    val df = Seq(
      (1L, "same text", "crawl"),
      (2L, "same text", "curated"), // pri 0: keeper despite larger id
      (3L, "same text", "crawl"),
      (4L, "other", "crawl"),       // unique content: low priority still kept
      (5L, "Other ", "crawl")       // same fp as 4 after normalization; min id wins
    ).toDF("doc_id", "text", "source")
    val got = Dedup.precedenceSurvivors(df, "text", "doc_id",
        when(col("source") === "curated", 0).otherwise(1))
      .select(col("doc_id"), col("n_copies"))
      .as[(Long, Long)].collect().toSet
    assert(got === Set((2L, 3L), (4L, 2L)))
  }

  test("components merges transitive chains and leaves islands alone") {
    // a-b, b-c chain (a~c never emitted) + isolated pair + untouched ids
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = Dedup.components(pairs)
      .as[(Long, Long)].collect().map(_.swap).toMap // id -> cluster
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val survivors = Dedup.nearDupSurvivorMap(
      Seq(1L, 2L, 3L, 4L, 10L, 11L).toDF("doc_id"), pairs, "doc_id")
      .as[(Long, Long)].collect().map(_.swap).toMap
    assert(survivors(4L) === 4L) // singleton keeps itself
    assert(survivors(3L) === 1L)
  }

  test("components converges on a long path (diameter > 2)") {
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.components(chain)
      .as[(Long, Long)].collect()
    assert(comp.length === 9)
    assert(comp.forall(_._1 === 1L))
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 6L))) // normalization catches case/ws
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists { case (a, b) => Set(a, b) === Set(4L, 5L) })
  }

  test("minhash jaccard estimate is exact-verified (planted dup = 1.0)") {
    val j = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.5)
      .filter(col("id_a") === 1 && col("id_b") === 2)
      .select("jaccard").as[Double].head()
    assert(j === 1.0)
  }

  test("simhash: identical docs at distance 0, near-dups within 3") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxDist = 3)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect()
    val asMap = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(asMap((1L, 2L)) === 0)
    assert(asMap((1L, 6L)) === 0)
    assert(!asMap.contains((4L, 5L)))
  }

  test("md5 simhash pairs: same pair semantics as the xxhash64 family") {
    val pairs = Dedup.simhashPairsMd5(docs, "text", "doc_id", maxDist = 3)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect()
    val asMap = pairs.map(p => (p._1, p._2) -> p._3).toMap
    // identical docs have identical signatures under ANY hash family
    assert(asMap((1L, 2L)) === 0)
    assert(asMap((1L, 6L)) === 0)
    assert(!asMap.contains((4L, 5L)))
  }

  test("ngram jaccard pairs: integer-exact thresholding") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", num = 9, den = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => Set(a, b) === Set(4L, 5L) })
  }

  test("ngram jaccard: salted shuffle path returns the broadcast path's pairs") {
    def run() = Dedup.ngramJaccardPairs(docs, "text", "doc_id", num = 9, den = 10)
      .collect().map(_.toSeq).toSet
    val viaBroadcast = run()
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disabling broadcast forces the size gate onto the salted path
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val viaSalted = run()
      assert(viaSalted === viaBroadcast)
      assert(viaSalted.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
  }

  test("incremental survivors across batches == global exact survivors") {
    val root = java.nio.file.Files.createTempDirectory("graft-inc").toString
    val store = new graft.kv.Store(spark, root)
    // batch 2 re-sends doc 1's content (id 7) and its own dup (8, 9)
    val batch1 = docs
    val batch2 = Seq(
      (7L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (8L, "brand new content that only appears in the second batch"),
      (9L, "brand new content that only appears in the second batch"),
      (10L, "entirely novel second-batch document")
    ).toDF("doc_id", "text")
    val s1 = Dedup.incrementalSurvivors(store, "fps", batch1, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val s2 = Dedup.incrementalSurvivors(store, "fps", batch2, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val global = Dedup.exactSurvivors(
        batch1.unionAll(batch2), "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(s1 ++ s2 === global)
    assert(s2 === Set(8L, 10L)) // 7 is a cross-batch dup; 9 an in-batch dup
    // an identical re-send survives nothing and leaves the index intact
    val s3 = Dedup.incrementalSurvivors(store, "fps", batch2, "text", "doc_id")
      .collect()
    assert(s3.isEmpty)
  }

  test("components: 1000-link chain converges via pointer jumping") {
    // a path graph is the WORST case for plain min-label propagation
    // (rounds = diameter = 1000); the pointer-jump shortcut must bring
    // convergence to O(log n) — maxIter = 10 throws without it
    val pairs = spark.range(1000)
      .selectExpr("id AS id_a", "id + 1 AS id_b")
    val out = Dedup.components(pairs, maxIter = 10)
      .as[(Long, Long)].collect()
    assert(out.length === 1001)
    assert(out.forall(_._1 == 0L), "every chain node must label to node 0")
  }

  test("two-phase incremental dedup: fresh is retryable, absorb is the commit") {
    val root = java.nio.file.Files.createTempDirectory("graft-inc3").toString
    val store = new graft.kv.Store(spark, root)
    val batch = Seq(
      (1L, "alpha content"), (2L, "alpha content"), (3L, "beta content")
    ).toDF("doc_id", "text")
    // phase 1 is a pure read: retrying before the absorb sees the index
    // unchanged and returns the same keeper set — the property the
    // one-call form gives up (its at-most-once contract is pinned by the
    // re-send case above)
    val f1 = Dedup.incrementalFresh(store, "fps", batch, "text", "doc_id")
      .select("keeper_id").as[Long].collect().toSet
    val f2 = Dedup.incrementalFresh(store, "fps", batch, "text", "doc_id")
    assert(f2.select("keeper_id").as[Long].collect().toSet === f1)
    assert(f1 === Set(1L, 3L))
    // the commit point: absorb AFTER survivors are durably persisted
    Dedup.absorbFingerprints(store, "fps", f2)
    // now the content is known — a replayed batch yields nothing new
    assert(Dedup.incrementalFresh(store, "fps", batch, "text", "doc_id")
      .count() === 0)
  }

  test("incrementalFresh prunes the index scan to the batch's buckets") {
    val root = java.nio.file.Files.createTempDirectory("graft-inc4").toString
    val store = new graft.kv.Store(spark, root, defaultBuckets = 16)
    def mk(lo: Long, n: Long) =
      spark.range(lo, lo + n)
        .selectExpr("id AS doc_id", "concat('unique doc number ', id) AS text")
    // seed: 300 docs populate (w.h.p.) every one of the 16 buckets
    Dedup.incrementalSurvivors(store, "fps", mk(0, 300), "text", "doc_id")
      .count()
    // a ONE-doc batch touches exactly one bucket: the anti-join's index
    // scan must partition-prune to that bucket's files, not read the gid
    @volatile var scanned = -1L
    // plain TreeNode traversal stops at AQE wrappers (AdaptiveSparkPlanExec
    // and materialized QueryStageExec nodes hide their subtrees from
    // `children`), so recurse through them explicitly
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      import org.apache.spark.sql.execution.adaptive._
      val here = p match {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case _ => Nil
      }
      val deeper = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      here ++ deeper.flatMap(scans)
    }
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        scans(qe.executedPlan)
          .filter(_.metadata.get("Location").exists(_.contains(root)))
          .foreach(s => scanned = s.metrics("numFiles").value)
      override def onFailure(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val fresh = Dedup.incrementalFresh(store, "fps", mk(1000, 1),
        "text", "doc_id")
      assert(fresh.count() === 1)
      // the listener bus is asynchronous — wait for the checkpoint's plan
      val deadline = System.currentTimeMillis() + 20000
      while (scanned < 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      def countParquet(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(countParquet).sum
        else if (f.getName.endsWith(".parquet")) 1L else 0L
      val total = countParquet(new java.io.File(s"$root/fps"))
      assert(scanned >= 1 && scanned < total,
        s"expected pruned index scan, got $scanned of $total files")
    } finally spark.listenerManager.unregister(listener)
  }

  test("incremental survivors: batch whose new fps land in OCCUPIED buckets") {
    // enough keys that batch 2's fingerprints collide with batch 1's
    // buckets — the index put() then REWRITES files the survivors frame
    // was derived from; a lazy read-after-swap crashed here before the
    // materialization fix
    val root = java.nio.file.Files.createTempDirectory("graft-inc2").toString
    val store = new graft.kv.Store(spark, root)
    def mk(lo: Long, n: Long) =
      spark.range(lo, lo + n)
        .selectExpr("id AS doc_id", "concat('unique doc number ', id) AS text")
    val s1 = Dedup.incrementalSurvivors(store, "fps", mk(0, 200), "text", "doc_id")
      .count()
    assert(s1 === 200)
    // batch 2 overlaps 0-99 (cross-batch dups) and adds 100 new docs —
    // whose fps necessarily hit already-populated buckets (200 keys over
    // 32 buckets leaves none empty with overwhelming probability)
    val s2 = Dedup.incrementalSurvivors(store, "fps", mk(100, 200), "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(s2 === (200L until 300L).toSet)
  }

  test("d12 quality keeper: every group pairs original+mirror, cleanest (shortest) copy wins") {
    val got = SparkEntry.queries("d12_quality_survivors")(spark, sfDir)
      .as[(String, Long, Long, Double, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (fp, keeper, n, q, len) =>
      assert(n >= 2, s"$fp: planted mirror missing")
      assert(q >= 0.0 && q <= 1.0, s"$fp quality $q")
      // the space-doubled mirror is strictly longer wherever the text
      // has a space, and quality ties on this punct-free corpus — the
      // length tie-break must hand every multi-word group to an original
      assert(keeper >= 0, s"$fp: padded mirror $keeper won over an original")
      assert(len >= 0)
    }
  }

  test("p11 leak-safe split: content groups never straddle the boundary; the naive split does") {
    val d = Engine.table(spark, sfDir, "documents").select($"doc_id", $"text")
    val planted = d.unionAll(
      d.select((-$"doc_id" - 1).as("doc_id"), $"text"))
    val safe = Dedup.leakSafeSplit(planted, "text", "doc_id")
      .as[(Long, Long, String)].collect()
    assert(safe.length === planted.count())
    // every (original, mirror) pair shares its representative's side
    val byRep = safe.groupBy(_._2)
    byRep.foreach { case (rep, rows) =>
      assert(rows.map(_._3).toSet.size === 1,
        s"rep $rep split across ${rows.map(_._3).toSet}")
    }
    // at least one planted pair has ids the NAIVE per-id split separates —
    // i.e. the operator is doing real work, not vacuously agreeing
    val naive = graft.ops.Sampling.split(planted, "doc_id")
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val straddled = safe.map(_._2).distinct.count { rep =>
      val ids = byRep(rep).map(_._1)
      ids.map(naive).toSet.size > 1
    }
    assert(straddled > 0, "mirror feed produced no naive-split straddle")
  }

  test("d14 lsh tuning: finer bands only add candidates; counts consistent") {
    val rep = Dedup.lshTuningReport(docs, "text", "doc_id")
      .as[(Int, Int, Long, Long, Long, Double)].collect().sortBy(-_._1)
    assert(rep.map(r => (r._1, r._2)).toSeq === Seq((16, 1), (8, 2), (4, 4)))
    // a (4,4) band match implies two (8,2) matches implies four (16,1)
    // matches — candidate sets are nested, so counts are monotone
    val counts = rep.map(_._3).toSeq
    assert(counts(0) >= counts(1) && counts(1) >= counts(2), counts)
    rep.foreach { case (b, r, cand, tru, det, recall) =>
      assert(det <= tru && det <= cand, s"($b,$r)")
      assert(recall >= 0.0 && recall <= 1.0)
      // the three exact-dup pairs (1,2),(1,6),(2,6) share identical
      // signatures: every config must detect them
      assert(tru >= 3 && det >= 3, s"($b,$r) missed an exact dup")
    }
  }

  test("sourceOverlap: distinct-fp counts, orientation, within-source dups ignored") {
    val docs = Seq(
      ("x", "s1"), ("y", "s1"),
      ("x", "s2"), ("x", "s2"),   // within-source dup counts ONCE
      ("  X ", "s2"),             // normalizes to the same fp as "x"
      ("y", "s3"), ("z", "s3"))
      .toDF("text", "source")
    val got = Dedup.sourceOverlap(docs, "text", "source")
      .as[(String, String, Long)].collect().toSet
    // s1∩s2 share fp(x); s1∩s3 share fp(y); s2∩s3 share nothing.
    // Pairs are lexicographic (a < b), never mirrored.
    assert(got === Set(("s1", "s2", 1L), ("s1", "s3", 1L)))
  }

  test("crossMinhashPairs: cross-side pairs only; within-side dups invisible") {
    val left = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "spark catalyst optimizer rewrites logical plans into physical plans")
    ).toDF("doc_id", "text")
    val right = Seq(
      (3L, "the quick brown fox jumps over the lazy dog near the river"),
      (4L, "completely unrelated text about database engines and queries"),
      (5L, "identical twin lives on the right side of the corpus only"),
      (6L, "identical twin lives on the right side of the corpus only")
    ).toDF("doc_id", "text")
    val got = Dedup.crossMinhashPairs(left, right, "text", "doc_id",
        threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // 1↔3 is the only cross-side near-dup; the 5↔6 twins are same-side
    // and must never surface
    assert(got === Set((1L, 3L)))
  }

  test("containmentPairs: half-doc contained; reverse and unrelated are not") {
    val docs = Seq(
      (1L, "a1 b2 c3 d4 e5 f6 g7 h8 i9 j10 k11 l12"), // full: 9 4-grams
      (2L, "a1 b2 c3 d4 e5 f6"),                      // its first half
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8")                 // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "text", "doc_id",
        num = 9, den = 10, gramK = 4)
      .select("id_a", "id_b", "inter", "sz_a", "sz_b")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // all 3 of doc 2's grams live in doc 1 → containment 1; the reverse
    // direction is 3/9 and fails; the unrelated doc shares nothing
    assert(got === Set((2L, 1L, 3L, 3L, 9L)))
  }

  test("symDeletePairs: substitution, indel, exact — and nothing past 1") {
    val docs = Seq(
      (1L, "hello world"), (2L, "hxllo world"), (3L, "hello worl"),
      (4L, "hello world"), (5L, "totally different")
    ).toDF("doc_id", "text")
    val got = Dedup.symDeletePairs(docs, "text", "doc_id", keyLen = 24)
      .as[(Long, Long, Int)].collect().toSet
    // (2,3) is distance 2 — variant blocking surfaces it as a candidate
    // but verification must drop it
    assert(got === Set((1L, 2L, 1), (1L, 3L, 1), (1L, 4L, 0),
      (2L, 4L, 1), (3L, 4L, 1)))
  }

  test("symDeletePairs: degenerate short/empty keys stay exact") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, ""), (4L, "ab"))
      .toDF("doc_id", "text")
    val got = Dedup.symDeletePairs(docs, "text", "doc_id", keyLen = 24)
      .as[(Long, Long, Int)].collect().toSet
    // every 1-char/empty combination is within distance 1 except ""↔"ab"
    assert(got === Set((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 1),
      (1L, 4L, 1), (2L, 4L, 1)))
  }

  test("containmentPairs: docs below the gram size are absent, not erroneous") {
    val docs = Seq(
      (1L, "a1 b2 c3 d4 e5 f6 g7 h8"),
      (2L, "a1 b2 c3 d4"),  // exactly one 4-gram, contained in 1
      (3L, "x y")           // < 4 tokens: no grams
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "text", "doc_id",
        num = 1, den = 1, gramK = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((2L, 1L)))
  }

  test("symDeletePairs == brute-force levenshtein <= 1 (blocking is exact)") {
    val docs = (0L until 80L)
      .map(i => (i, s"prefix ${i % 9} tail ${(i / 9) % 5}"))
      .toDF("doc_id", "text")
    val got = Dedup.symDeletePairs(docs, "text", "doc_id", keyLen = 24)
      .as[(Long, Long, Int)].collect().toSet
    val k = docs.select(col("doc_id"),
      lower(substring(col("text"), 1, 24)).as("k"))
    val brute = k.as("a").crossJoin(k.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id") &&
        levenshtein(col("a.k"), col("b.k")) <= 1)
      .select(col("a.doc_id"), col("b.doc_id"),
        levenshtein(col("a.k"), col("b.k")))
      .as[(Long, Long, Int)].collect().toSet
    assert(got === brute)
  }

  test("similarity cuts outside (0, 1] and gram sizes below 1 are rejected") {
    val bad: Seq[(String, () => Any)] = Seq(
      "ngram num = 0" -> (() =>
        Dedup.ngramJaccardPairs(docs, "text", "doc_id", num = 0, den = 10).collect()),
      "containment num = 0" -> (() =>
        Dedup.containmentPairs(docs, "text", "doc_id", num = 0, den = 10).collect()),
      "ngram den = 0" -> (() =>
        Dedup.ngramJaccardPairs(docs, "text", "doc_id", num = 1, den = 0).collect()),
      "containment den = 0" -> (() =>
        Dedup.containmentPairs(docs, "text", "doc_id", num = 1, den = 0).collect()),
      "tuning num > den" -> (() =>
        Dedup.lshTuningReport(docs, "text", "doc_id", num = 3, den = 2).collect()),
      "containment gramK = 0" -> (() => Dedup.containmentPairs(
        docs, "text", "doc_id", num = 1, den = 2, gramK = 0).collect()))
    for ((name, run) <- bad)
      withClue(s"$name: ") { intercept[IllegalArgumentException](run()) }
  }

  test("prefix-filtered pair operators == brute force over all pairs") {
    // every doc carries "common" (the frequent token prefix filtering
    // must sort to the suffix); near-dups change one word of a base doc,
    // truncated mirrors keep a base doc's head
    val r = new scala.util.Random(17)
    val vocab = (0 until 60).map(i => s"t$i")
    val bases = (0 until 30).map(_ =>
      "common" +: Seq.fill(4 + r.nextInt(16))(vocab(r.nextInt(60))))
    val near = (0 until 25).map { _ =>
      val b = bases(r.nextInt(30))
      b.updated(1 + r.nextInt(b.size - 1), vocab(r.nextInt(60)))
    }
    val mirrors = (0 until 25).map { _ =>
      val b = bases(r.nextInt(30))
      b.take(2 + r.nextInt(b.size - 1))
    }
    val toks: Map[Long, Seq[String]] = (bases ++ near ++ mirrors)
      .zipWithIndex.map { case (t, i) => i.toLong -> t }.toMap
    val df = toks.toSeq.map { case (i, t) => (i, t.mkString(" ")) }
      .toDF("doc_id", "text")

    // token-set Jaccard, integer-exact at the cut
    val sets = toks.map { case (i, t) => i -> t.toSet }
    def jaccardBrute(num: Int, den: Int) = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
      inter = (sa & sb).size.toLong
      uni = (sa | sb).size.toLong
      if inter * den >= uni * num
    } yield (a, b, inter, uni)).toSet
    def ngram(num: Int, den: Int) =
      Dedup.ngramJaccardPairs(df, "text", "doc_id", num, den)
        .as[(Long, Long, Long, Long)].collect().toSet
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    for ((num, den) <- Seq((1, 2), (4, 5)); threshold <- Seq(before, "-1")) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      try {
        val want = jaccardBrute(num, den)
        assert(want.nonEmpty)
        assert(ngram(num, den) === want, s"cut $num/$den, broadcast $threshold")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
    }

    // directed 4-gram containment; docs under 4 tokens have no grams
    val grams = toks.collect { case (i, t) if t.size >= 4 =>
      i -> t.sliding(4).map(_.mkString(" ")).toSet }
    val containBrute = (for {
      (a, sa) <- grams.toSeq; (b, sb) <- grams.toSeq if a != b
      inter = (sa & sb).size.toLong
      if inter * 4 >= sa.size.toLong * 3
    } yield (a, b, inter, sa.size.toLong, sb.size.toLong)).toSet
    assert(containBrute.nonEmpty)
    assert(Dedup.containmentPairs(df, "text", "doc_id", num = 3, den = 4)
      .select("id_a", "id_b", "inter", "sz_a", "sz_b")
      .as[(Long, Long, Long, Long, Long)].collect().toSet === containBrute)

    // the tuning report's truth: trigram-shingle Jaccard >= 1/2
    val tri = toks.collect { case (i, t) if t.size >= 3 =>
      i -> t.sliding(3).map(_.mkString(" ")).toSet }
    val nTrue = (for {
      (a, sa) <- tri.toSeq; (b, sb) <- tri.toSeq if a < b
      if 2 * (sa & sb).size >= (sa | sb).size
    } yield 1).size.toLong
    assert(nTrue > 0)
    val rep = Dedup.lshTuningReport(df, "text", "doc_id")
      .select("n_true").as[Long].collect()
    assert(rep.nonEmpty && rep.forall(_ === nTrue))
  }
}
