package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines.
  *
  * All variants are pure Column/DataFrame compositions (whole-stage
  * codegen, no UDFs). The pair operators share one set-similarity join,
  * split into the two phases of V-SMART-Join (VLDB 2012):
  *
  *   candidate phase: per-row signature or rarity-ordered prefix
  *     (narrow, inside the scan stage) → explode small constant-width
  *     band/bucket keys → shuffle ONCE on the key → pair generation
  *     inside buckets (`bucketPairs`; rarity sets from `raritySets`,
  *     prefixes cut by `prefixLen`);
  *   similarity phase: exact verification on the deduped candidate pairs
  *     only (`overlap` fetches both hashed sets and merge-walks |A∩B|),
  *     each operator applying its own cut.
  *
  * At 100 TB the only heavy exchange is the bucket-key shuffle, whose
  * width we control (bands × docs), and candidate verification touches a
  * vanishing fraction of the N² pair space. The reference engine has no
  * dedup operator; its closest primitive is content-addressed keys
  * (util/id.js:72-78 — sha256 of the serialized value), which our
  * [[exact]] generalizes.
  */
object Dedup {

  /** min(A∩B) of sorted distinct long arrays (early-exit merge walk) —
    * the PPJoin emit-once key for prefix-filtered pair joins.
    */
  private def minCommonSorted(a: Column, b: Column): Column =
    graft.expr.nat(graft.expr.GraftExpressions.MinCommonSorted(
      graft.expr.toExpr(a), graft.expr.toExpr(b)))

  // ------------------------------------------------ set-similarity join

  /** Prefix length |s| − ⌈t·|s|⌉ + 1 of a set of size `sz` at the cut
    * t = num/den: a pair at or above the cut shares an element within
    * it (the prefix-filter bound, proved at [[ngramJaccardPairs]]). The
    * one place a cut becomes a prefix, so the one place it is checked.
    */
  private def prefixLen(sz: Column, num: Int, den: Int): Column = {
    require(0 < num && num <= den, s"similarity cut must lie in (0, 1], got $num/$den")
    val n = sz.cast("long")
    (n - ((n * num + (den - 1)) / den).cast("long") + 1).cast("int")
  }

  /** Rarity-ordered sets for the prefix-filtered joins: `elems` (one
    * distinct-element array per row) explodes to the element stream
    * (id, w), returned with docs (id, hs, prefix). `hs` is the set as
    * SORTED xxhash64 longs, the merge-walk form [[overlap]] verifies on;
    * `prefix` is the first `prefixLen` elements in global rarity order
    * (document frequency asc, element asc). Both come from one aggregate,
    * so a caller reading both shares its exchange.
    */
  private def raritySets(
      df: DataFrame, idCol: String, elems: Column,
      num: Int, den: Int): (DataFrame, DataFrame) = {
    val plen = prefixLen(size(col("byRarity")), num, den)
    // spread tokenization/aggregation off the (possibly single-partition)
    // scan before the explode fans out
    val tok = df.repartition(expansionParallelism(df))
      .select(col(idCol).as("id"), explode(elems).as("w"))
    val dfreq = tok.groupBy("w").agg(count(lit(1)).as("dfreq"))
    val docs = tok.join(dfreq, "w")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("dfreq"), col("w")))).as("byRarity"))
      .select(col("id"),
        sort_array(transform(col("byRarity"), s => xxhash64(s("w")))).as("hs"),
        slice(transform(col("byRarity"), s => s("w")), lit(1), plen).as("prefix"))
    (tok, docs)
  }

  /** The candidate phase's one exchange: `a` and `b` repartition on
    * `keys` and equi-join as aliases `a` and `b`; `b = None` self-joins
    * `a`, keeping each unordered pair once (`a.id < b.id`). The width is
    * explicit because the in-bucket pair expansion happens AFTER this
    * exchange, invisible to AQE, which would otherwise coalesce the tiny
    * pre-join inputs into one task that does all the quadratic work.
    */
  private def bucketPairs(
      a: DataFrame, b: Option[DataFrame], keys: Seq[String]): DataFrame = {
    def part(d: DataFrame) =
      d.repartition(expansionParallelism(d), keys.map(col): _*)
    val l = part(a)
    val on = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    l.as("a").join(b.fold(l)(part).as("b"),
      if (b.isEmpty) on && col("a.id") < col("b.id") else on)
  }

  /** The similarity phase's fetch: each deduped candidate (id_a, id_b)
    * gets both sides' sorted hashed sets (`hs` of `a` and `b`, keyed by
    * `id`), their sizes `sz_a`/`sz_b` (long) and `inter` = |A∩B| from one
    * merge walk. Each caller applies its own cut.
    */
  private def overlap(cand: DataFrame, a: DataFrame, b: DataFrame): DataFrame =
    cand
      .join(a.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(b.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("sz_a", size(col("hs_a")).cast("long"))
      .withColumn("sz_b", size(col("hs_b")).cast("long"))
      .withColumn("inter", intersectCard(col("hs_a"), col("hs_b")))

  // ---------------------------------------------------------------- exact

  /** Exact duplicate groups by normalized-content fingerprint.
    * Output: (fp, keeper_id, n_copies) for every content group.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Surviving rows after exact dedup (deterministic keeper = min id). */
  def exactSurvivors(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = exactGroups(df, textCol, idCol)
      .select(col("keeper_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** LEAKAGE-SAFE train/val/test split: the split coordinate is the
    * content group's representative id (min id per normalized
    * fingerprint), not the row's own id — so every copy of the same
    * content lands on the SAME side of the boundary. A naive per-id hash
    * split ([[Sampling.split]]) puts ~2·trainPct·(100−trainPct)% of dup
    * pairs on opposite sides: exactly the train→test contamination an
    * eval suite exists to prevent (DedupSpec pins that the naive split
    * really does straddle groups this one keeps together).
    *
    * Scale shape: one fp-keyed partial aggregation (slim (fp, id) rows —
    * text never moves) + a slim fp join-back; the split itself is a pure
    * column function of rep_id. Same md5 split-band arithmetic as
    * [[Sampling.split]], so membership is stable under repartitioning,
    * appends, and re-runs.
    *
    * Output: (id, rep_id, split).
    */
  def leakSafeSplit(
      df: DataFrame, textCol: String, idCol: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val slim = df.select(col(idCol).cast("long").as("id"),
      fingerprint(col(textCol)).as("fp"))
    val rep = slim.groupBy("fp").agg(min(col("id")).as("rep_id"))
    Sampling.split(slim.join(rep, "fp"), "rep_id", trainPct, valPct)
      .select(col("id"), col("rep_id"), col("split"))
  }

  /** Leak-safe K-FOLD assignment for cross-validation: fold keyed on the
    * exact-dup group's min-id representative (the [[leakSafeSplit]]
    * rule), so every copy of a text lands in the same fold and no
    * train-fold/test-fold contamination can occur; the fold itself is
    * the shared md5 bucket mod k — engine-portable, stable under
    * repartitioning/appends/re-runs. k must divide 100 so the bucket→
    * fold map is exactly uniform (the [[Sampling.split]] band algebra).
    *
    * Output: (id, rep_id, fold). One fp shuffle + one rep join — the
    * leakSafeSplit cost shape.
    */
  def kFold(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 5): DataFrame = {
    require(k >= 2 && 100 % k == 0, s"k must divide 100, got $k")
    val slim = df.select(col(idCol).cast("long").as("id"),
      fingerprint(col(textCol)).as("fp"))
    val rep = slim.groupBy("fp").agg(min(col("id")).as("rep_id"))
    slim.join(rep, "fp")
      .select(col("id"), col("rep_id"),
        pmod(Sampling.hashBucket(col("rep_id")), lit(k)).as("fold"))
  }

  /** Time-windowed exact dedup: duplicates only count WITHIN the same
    * time bucket — the at-least-once event-delivery cleaner (retried
    * webhook posts, replayed log segments) and the rolling-ingest analog
    * of [[exactSurvivors]] for continuously arriving corpora where
    * cross-epoch repeats are legitimate (a daily snapshot SHOULD repeat
    * yesterday's unchanged rows).
    *
    * The dedup key is (content key cols, bucket = epoch-seconds div
    * `bucketSeconds`); keeper = first by (tsCol-seconds, tieCol). State
    * is bounded by the bucket width at ANY stream length — the property
    * that makes this shape runnable forever on an ingest pipeline, where
    * whole-history dedup state grows without bound (that cross-batch
    * problem is [[incrementalSurvivors]]' job). One (keys, bucket)
    * shuffle; slim projection rides it.
    *
    * Output: the surviving input rows plus `bucket` and `n_copies` (the
    * group size — the duplicate-rate monitoring signal).
    */
  def windowedSurvivors(
      df: DataFrame, keyCols: Seq[String], tsCol: String, tieCol: String,
      bucketSeconds: Long = 3600L): DataFrame = {
    require(keyCols.nonEmpty, "windowedSurvivors needs at least one key column")
    require(bucketSeconds >= 1, s"bucketSeconds must be positive, got $bucketSeconds")
    val es = unix_timestamp(col(tsCol))
    val slim = df.select(
      (Seq(col(tieCol)) ++ keyCols.map(col) :+ es.as("__es")): _*)
      .withColumn("bucket", expr(s"__es div ${bucketSeconds}L"))
    val byGroup = Window.partitionBy(
      (keyCols.map(col) :+ col("bucket")): _*)
    val keep = slim
      .withColumn("__rn", row_number().over(
        byGroup.orderBy(col("__es").asc, col(tieCol).asc)))
      .withColumn("n_copies", count(lit(1)).over(byGroup))
      .filter(col("__rn") === 1)
      .select(col(tieCol), col("bucket"), col("n_copies"))
    df.join(keep, Seq(tieCol))
  }

  /** Multi-source ingestion merge: one survivor per content fingerprint,
    * chosen by source PRECEDENCE — the ingest-time rule "the same
    * document arriving from several feeds keeps the most trusted copy"
    * (curated feed over mirror over crawl). Lowest `priority` value
    * wins; ties break on min id, so the keeper is total-order
    * deterministic like [[exactSurvivors]]' min-id rule.
    *
    * Scale shape: the precedence window runs over a SLIM (fp, priority,
    * id) projection — full rows never ride the fp shuffle — and
    * survivors join back by id. Output: the surviving input rows plus
    * `n_copies` (the merged group's size, the ingest-dedup monitoring
    * signal).
    */
  def precedenceSurvivors(
      df: DataFrame, textCol: String, idCol: String,
      priority: Column): DataFrame = {
    val slim = df.select(
      fingerprint(col(textCol)).as("__fp"),
      priority.as("__pri"), col(idCol))
    val byFp = Window.partitionBy(col("__fp"))
    val keep = slim
      .withColumn("__rn",
        row_number().over(byFp.orderBy(col("__pri").asc, col(idCol).asc)))
      .withColumn("n_copies", count(lit(1)).over(byFp))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("n_copies"))
    df.join(keep, Seq(idCol))
  }

  /** Phase 1 of incremental exact dedup: the batch's content groups that
    * are new w.r.t. BOTH the batch itself and the persistent fingerprint
    * index — a PURE READ (the index is never modified), so it is safe to
    * retry any number of times. Output: (fp, keeper_id), materialized.
    *
    * Scale shape: the batch's fingerprints are tagged with the store's
    * OWN placement bucket ([[graft.kv.Store.placement]]) and the index
    * scan is pruned to exactly the bucket partitions the batch touches
    * (a `bucket IN (...)` partition filter over the retained layout
    * column — DedupSpec gates the pruned file count). A small batch
    * against a huge index therefore reads and shuffles only the touched
    * slice of the index, never the full index; the anti-join keys on
    * (bucket, fp), so its exchange carries the store's placement scheme
    * rather than re-hashing bare fingerprints.
    *
    * The result is MATERIALIZED (localCheckpoint) before returning: a
    * later [[absorbFingerprints]] commits a new version of the index, and
    * a `reconf` removes the files this read, so a lazy frame evaluated
    * after them would read a different index or hit deleted part files.
    */
  def incrementalFresh(
      store: graft.kv.Store, gid: String,
      batch: DataFrame, textCol: String, idCol: String): DataFrame = {
    val inBatch = exactGroups(batch, textCol, idCol)
      .select(col("fp"), col("keeper_id"))
      .withColumn("bucket", store.placement(gid, col("fp")))
    val touched = inBatch.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSeq // ≤ bucket-count values — driver-safe
    val known = store.scanBucketed(gid)
      .filter(col("bucket").isin(touched: _*))
      .select(col("bucket"), col("key").as("fp"))
    inBatch.join(known, Seq("bucket", "fp"), "left_anti")
      .select(col("fp"), col("keeper_id"))
      .localCheckpoint()
  }

  /** Phase 2 of incremental exact dedup: absorb a [[incrementalFresh]]
    * result into the index (one merge-on-read Store upsert of the batch's
    * fingerprints). Call AFTER the survivors derived from `fresh` are
    * durably persisted — see the retry contract on
    * [[incrementalSurvivors]].
    */
  def absorbFingerprints(
      store: graft.kv.Store, gid: String, fresh: DataFrame): Unit =
    store.put(
      fresh.select(col("fp").as("key"),
        col("keeper_id").cast("string").as("value")),
      gid, keyCol = Some("key"))

  /** INCREMENTAL exact dedup against a persistent fingerprint index — the
    * crawl-pipeline shape: each arriving batch is deduped within itself
    * AND against every previously ingested batch, then the index absorbs
    * the batch's new fingerprints. The index lives in a [[graft.kv.Store]]
    * gid (content fingerprint as the KV key, keeper id as the value), so
    * it survives process restarts and re-shards with `reconf` like any
    * other stored dataset.
    *
    * Returns the batch's surviving rows. Processing batches in id order
    * yields exactly the global [[exactSurvivors]] result (DedupSpec
    * proves batch1-then-batch2 == all-at-once).
    *
    * '''Retry contract: AT-MOST-ONCE per content.''' This one-call form
    * updates the index BEFORE the caller has durably consumed the
    * returned survivors, so re-running a batch whose downstream write
    * failed returns EMPTY — the failed attempt's survivors are never
    * re-emitted (nothing is ever emitted twice; a crash can lose, not
    * duplicate). Pipelines that need effectively-once output must use
    * the two-phase form directly: [[incrementalFresh]] (pure read,
    * idempotent) → durably persist the survivors → [[absorbFingerprints]].
    * DedupSpec pins both contracts.
    */
  def incrementalSurvivors(
      store: graft.kv.Store, gid: String,
      batch: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fresh = incrementalFresh(store, gid, batch, textCol, idCol)
    absorbFingerprints(store, gid, fresh)
    batch.join(
      fresh.select(col("keeper_id").as(idCol)), Seq(idCol), "left_semi")
  }

  // -------------------------------------------------------------- MinHash

  /** MinHash signature of a hashed-shingle array, `numHashes` values
    * folded into one array: sig[i] = min over hashed shingles of
    * xxhash64(shingleHash, i). Re-hashing with the index as salt gives a
    * deterministic independent hash family with no multiply-add (which
    * would overflow under ANSI mode). Taking the shingles, not the text,
    * lets callers compute the shingle set once and reuse it for exact
    * verification. Native one-pass kernel, no shuffle; bit-identical to
    * [[minhashFromShinglesComposed]].
    */
  def minhashFromShingles(hs: Column, numHashes: Int): Column =
    graft.expr.nat(graft.expr.SignatureExpressions.MinHashSig(
      graft.expr.toExpr(hs), numHashes))

  /** Composed-builtin minhash (numHashes array passes per row) — the
    * differential oracle for the native kernel.
    */
  def minhashFromShinglesComposed(hs: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(hs, h => xxhash64(h, lit(i))))
    }: _*)

  /** LSH band keys: signature split into `bands` bands of `rowsPerBand`
    * minhashes; band key = XXH64 fold of the band's values, seeded with
    * the band index so buckets from different bands never collide.
    * Native kernel — no per-band string materialization.
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    graft.expr.nat(graft.expr.SignatureExpressions.BandKeys(
      graft.expr.toExpr(sig), bands, rowsPerBand))

  /** Candidate near-dup pairs via MinHash+LSH, verified with exact Jaccard
    * over hashed shingle sets.
    *
    * @param threshold Jaccard similarity cutoff, e.g. 0.8
    * @return (id_a, id_b, jaccard) with id_a < id_b
    */
  def minhashPairs(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, bands: Int = 16, rowsPerBand: Int = 2,
      threshold: Double = 0.8): DataFrame =
    lshPairs(df, None, textCol, idCol, k, bands, rowsPerBand, threshold)

  /** CROSS-corpus minhash near-dup pairs: LSH candidates strictly between
    * `left` and `right` (never within either side) — the fuzzy
    * decontamination primitive. [[graft.ops.CorpusStats.contamination]]
    * catches exact 8-gram overlap; an eval item paraphrased by one word
    * sails through it, and running [[minhashPairs]] over the union wastes
    * the whole right×right candidate budget to find pairs that get
    * discarded. Here each band bucket joins left rows against right rows
    * only, so candidate volume is the cross term alone — at a typical
    * eval:train ratio of 1:10⁶ that is the difference between a lookup
    * and a self-join. Same signature machinery, same exact-verification
    * contract: output pairs carry TRUE shingle Jaccard (raw IEEE division
    * of exact integers), LSH only gates recall (miss probability
    * (1−j^rows)^bands — 3e-12 at j=0.9 with 16×2).
    */
  def crossMinhashPairs(
      left: DataFrame, right: DataFrame, textCol: String, idCol: String,
      k: Int = 3, bands: Int = 16, rowsPerBand: Int = 2,
      threshold: Double = 0.8): DataFrame =
    lshPairs(left, Some(right), textCol, idCol, k, bands, rowsPerBand, threshold)

  /** The one body of [[minhashPairs]] (`right = None`: pairs within
    * `left`) and [[crossMinhashPairs]] (pairs strictly between `left` and
    * `right`). Band keys carry (id, bucket) ONLY: the wide shingle arrays
    * never ride the bucket shuffle or the quadratic in-bucket pair
    * stream; they are fetched for the deduped candidates alone.
    */
  private def lshPairs(
      left: DataFrame, right: Option[DataFrame], textCol: String,
      idCol: String, k: Int, bands: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    val numHashes = bands * rowsPerBand
    // spread signature computation: small single-file inputs otherwise run
    // the whole shingling/minhash map side on 1-2 scan partitions.
    // (r13 measured a localCheckpoint here at 0.5× — persisting the wide
    // shingle arrays costs more than the codegen'd recompute, and the
    // repartition exchange is already reused across the consumers.)
    def sets(df: DataFrame) = df.repartition(expansionParallelism(df)).select(
      col(idCol).as("id"), hashedShingles(col(textCol), k).as("hs"))
    def banded(s: DataFrame) = s.select(col("id"),
      explode(lshBandKeys(minhashFromShingles(col("hs"), numHashes),
        bands, rowsPerBand)).as("bucket"))
    val l = sets(left)
    val r = right.map(sets)
    // pairs within a bucket, deduped across bands while still (long, long)
    val cand = bucketPairs(banded(l), r.map(banded), Seq("bucket"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    overlap(cand, l, r.getOrElse(l))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      // raw IEEE division, not round(…, 6): division of exact integers is
      // correctly rounded in every engine, so the double is bit-identical
      // to the DuckDB oracle's — rounding would reintroduce engine-specific
      // decimal behavior
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash of the token multiset: bit j of the result is 1 iff
    * a strict majority of tokens have bit j set in their xxhash64.
    * Native one-pass kernel ([[graft.expr.SigOps.simhash64]]);
    * bit-identical to [[simhashComposed]].
    */
  def simhash(text: Column): Column =
    graft.expr.nat(graft.expr.SignatureExpressions.SimHash64(
      graft.expr.toExpr(tokens(normalized(text)))))

  /** Portable simhash variant: per-token bits from the first 16 hex chars
    * of md5(token) as two 32-bit words (packed lo<<32|hi). Same majority
    * rule and pair semantics as [[simhash]]; the hash family is chosen so
    * a SQL engine with md5() can recompute the signature bit-for-bit —
    * this is the oracle-checkable form a differential-testing pipeline
    * wants, at identical kernel cost.
    */
  def simhashMd5(text: Column): Column =
    graft.expr.nat(graft.expr.SignatureExpressions.SimHashMd5(
      graft.expr.toExpr(tokens(normalized(text)))))

  /** Composed-builtin form of [[simhashMd5]] — its differential oracle. */
  def simhashMd5Composed(text: Column): Column = {
    val toks = tokens(normalized(text))
    def shr(v: Column, n: Column): Column = call_function("shiftright", v, n)
    def shl(v: Column, n: Column): Column = call_function("shiftleft", v, n)
    def word(t: Column, off: Int): Column =
      conv(substring(md5(t), off, 8), 16, 10).cast("long")
    val hs = transform(toks, t => shiftleft(word(t, 9), 32).bitwiseOR(word(t, 1)))
    val counts = aggregate(
      hs,
      array_repeat(lit(0L), 64),
      (acc, h) =>
        zip_with(acc, sequence(lit(0), lit(63)),
          (c, j) => c + shr(h, j).bitwiseAND(lit(1L))))
    val n = size(toks).cast("long")
    aggregate(
      zip_with(counts, sequence(lit(0), lit(63)),
        (c, j) => when(c * 2 > n, shl(lit(1L), j)).otherwise(lit(0L))),
      lit(0L),
      (acc, b) => acc.bitwiseOR(b))
  }

  /** Composed-builtin SimHash (64-lane aggregate per token) — the
    * differential oracle for the native kernel.
    */
  def simhashComposed(text: Column): Column = {
    val toks = tokens(normalized(text))
    // shiftright/shiftleft in the Scala API only take Int amounts; the SQL
    // functions accept column amounts — call them by name.
    def shr(v: Column, n: Column): Column = call_function("shiftright", v, n)
    def shl(v: Column, n: Column): Column = call_function("shiftleft", v, n)
    // counts[j] = number of tokens with bit j set
    val counts = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) =>
        zip_with(acc, sequence(lit(0), lit(63)),
          (c, j) => c + shr(xxhash64(t), j).bitwiseAND(lit(1L))))
    val n = size(toks).cast("long")
    // bit j set iff counts[j]*2 > n (strict majority of +1 over -1)
    aggregate(
      zip_with(counts, sequence(lit(0), lit(63)),
        (c, j) => when(c * 2 > n, shl(lit(1L), j)).otherwise(lit(0L))),
      lit(0L),
      (acc, b) => acc.bitwiseOR(b))
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ maxDist (≤ 3 with the
    * default 4 chunks): pigeonhole — any pair within distance 3 shares at
    * least one identical 16-bit chunk, so chunk-equality is the LSH
    * bucket, then popcount(xor) verifies exactly.
    */
  def simhashPairs(
      df: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 3): DataFrame =
    simhashPairsBy(df, simhash(col(textCol)), idCol, maxDist)

  /** [[simhashPairs]] with the portable md5 hash family ([[simhashMd5]])
    * — identical bucket/verify machinery, SQL-oracle-reproducible bits.
    */
  def simhashPairsMd5(
      df: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 3): DataFrame =
    simhashPairsBy(df, simhashMd5(col(textCol)), idCol, maxDist)

  private def simhashPairsBy(
      df: DataFrame, sig: Column, idCol: String,
      maxDist: Int): DataFrame = {
    val chunked = df.repartition(expansionParallelism(df))
      .select(col(idCol).as("id"), sig.as("sh"))
      .select(col("id"), col("sh"),
        explode(transform(sequence(lit(0), lit(3)), c =>
          concat_ws(":", c.cast("string"),
            call_function("shiftright", col("sh"), c * 16).bitwiseAND(lit(0xffffL)).cast("string"))))
          .as("chunk"))
    // distance filter BEFORE the pair-dedup shuffle: popcount is codegen'd
    // and prunes the quadratic in-bucket stream down to the true near-dups,
    // so only matching pairs pay the exchange.
    bucketPairs(chunked, None, Seq("chunk"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("dist"))
      .filter(col("dist") <= maxDist)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  // ------------------------------------------- components / survivors

  /** Connected components over a near-dup pair set: every doc appearing
    * in `pairs` gets the minimum id reachable through the pair graph as
    * its `cluster_id` — the canonical keeper for transitive dup groups
    * (a~b, b~c ⇒ {a,b,c} even when a~c was never emitted).
    *
    * Min-label propagation with POINTER JUMPING, driver-looped: each
    * round (a) joins current labels across edges and keeps the per-node
    * min, then (b) shortcuts the label chain — label(v) ←
    * label(label(v)), composed 4-fold as three chained joins on the
    * materialized label table — so the distance-to-root under the label
    * pointers shrinks geometrically. Convergence is O(log diameter)
    * rounds (a 1000-link chain converges in ~6 — DedupSpec gates it),
    * not O(diameter); near-dup clusters are stars/cliques (diameter ≤
    * ~3) where the seed pass already converges, so typical cost stays
    * 2–3 small shuffles — the DataFrame-native Pregel-lite that stays in
    * Catalyst instead of dropping to RDDs.
    */
  def components(pairs: DataFrame, maxIter: Int = 25,
      broadcastMaxVertices: Long = GraphLoop.BroadcastMaxVertices): DataFrame = {
    // both orientations explode IN-ROW: a `unionAll` of two projections
    // would execute the pair-generation subtree (for d06/d15 the entire
    // minhash LSH pipeline) twice
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct()
      // src-keyed layout: only the label table exchanges per round
      .repartition(col("src"))
      .localCheckpoint()
    // labels are monotone non-increasing per node, so the label sum is
    // unchanged iff NO label changed. Decimal: a long sum could overflow
    // on trillions of rows with large ids. Null on an empty table.
    val labelSum = sum(col("cluster_id").cast("decimal(38,0)")).as("s")
    // seed with the FIRST neighbor-min pass fused into initialization:
    // label₀(v) = min(v, min over neighbors u of u) — round one from
    // identity labels, for one groupBy. It covers both endpoints, so its
    // row count is the gate's.
    val (seed, m) = GraphLoop.checkpoint(edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("cluster_id"))
      .select(col("src").as("id"), col("cluster_id")),
      count(lit(1)).as("n"), labelSum)
    val gate = GraphLoop.Gate(m.getLong(0), broadcastMaxVertices)
    var labels = seed
    var prevSum = m.getDecimal(1)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // neighbor-min pass: label'(v) = min(label(v), min over (u,v) edges
      // of label(u))
      val viaNeighbors = edges
        .join(gate.side(labels.withColumnRenamed("id", "src")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("cluster_id")).as("nmin"))
      // materialized: the pointer-jump joins below reference this table
      // four times — checkpointing once beats re-deriving the edge join
      val (afterNeighbors, am) = GraphLoop.checkpoint(
        labels.join(viaNeighbors, Seq("id"), "left")
          .select(col("id"),
            least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id")))
              .as("cluster_id")),
        labelSum)
      if (java.util.Objects.equals(am.getDecimal(0), prevSum)) {
        // Neighbor-min fixpoint: per edge (u,v) labels dominate both ways
        // ⇒ constant per component ⇒ the component min, and the pointer
        // jump below would be the identity. Gating the jump on observed
        // label movement makes the common verify round (near-dup graphs
        // are stars/cliques) one join instead of four.
        converged = true
        labels = afterNeighbors
      } else {
        // labels moved — pointer jumping follows the label chain 4 deep
        // (label ← l(l(l(l(v)))), three chained joins; left join +
        // coalesce covers the chain root). Labels stay monotone, so the
        // sum test still detects the combined fixpoint.
        val (next, nm) = GraphLoop.checkpoint(
          (1 to 3).foldLeft(afterNeighbors) { (l, i) =>
            l.join(
                gate.side(afterNeighbors.select(col("id").as(s"__p$i"),
                  col("cluster_id").as(s"__l$i"))),
                col("cluster_id") === col(s"__p$i"), "left")
              .select(col("id"),
                coalesce(col(s"__l$i"), col("cluster_id")).as("cluster_id"))
          }, labelSum)
        prevSum = nm.getDecimal(0)
        labels = next
      }
      iter += 1
    }
    // fail loudly: silently returning partially-propagated labels would
    // report one transitive dup group as several and leak dups through
    // the survivor map
    if (!converged)
      throw new IllegalStateException(
        s"components: not converged after $maxIter rounds — graph diameter " +
          s"exceeds maxIter; raise maxIter")
    labels.select(col("cluster_id"), col("id"))
  }

  /** One row per input doc: its dedup cluster id (= itself when it has no
    * near-dup). Keepers are `cluster_id === id`.
    */
  def nearDupSurvivorMap(
      df: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol).as("id"))
      .join(components(pairs), Seq("id"), "left")
      .select(coalesce(col("cluster_id"), col("id")).as("cluster_id"),
        col("id").as(idCol))

  // ------------------------------------------------------ n-gram Jaccard

  /** Exact token-set Jaccard pairs with **prefix filtering** (Bayardo et
    * al., "Scaling Up All Pairs Similarity Search", WWW'07): order every
    * doc's tokens by global rarity (document frequency asc, token asc) and
    * index only the first `|d| − ⌈t·|d|⌉ + 1` tokens. Any pair with
    * Jaccard ≥ t = num/den must share a prefix token (if A∩B misses A's
    * prefix then |A∩B| ≤ ⌈t·|A|⌉ − 1 < t·|A| ≤ |A∩B|), so the candidate
    * set is exact — no false negatives — while the inverted-index join
    * shrinks ~(1−t)² in pair volume and never touches the frequent-token
    * skew ("the" sorts to the suffix and is never indexed). Candidates are
    * verified with INTEGER arithmetic (inter·den ≥ uni·num) — engine-exact
    * and oracle-friendly. The naive all-token join this replaces is the
    * classic quadratic blowup at 100 TB; prefix filtering is the standard
    * scale-out answer and needs no similarity-destroying frequency cutoff.
    */
  def ngramJaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      num: Int, den: Int): DataFrame = {
    val (_, docs) = raritySets(df, idCol,
      array_distinct(tokens(lower(col(textCol)))), num, den)
    // The prefix index rows carry the doc's full hashed set: the heavy
    // candidate stream is then produced AND verified inside one codegen'd
    // join stage — no candidate-pair shuffle, no fetch-joins. Only pairs
    // that pass the threshold reach the final dedup exchange. (For corpora
    // with huge per-doc sets, flip to bare-id candidates + fetch-joins; for
    // typical document token sets this payload-on-index shape is cheaper.)
    // The index keys on each prefix token's hash `h`; the sorted prefix
    // hashes `ph` ride both sides so each pair is emitted at ONE meeting
    // (the min common prefix hash), not once per shared prefix token
    // (measured 6.6× inflation at the 0.7 cut).
    val pref = docs
      .withColumn("ph", sort_array(transform(col("prefix"), w => xxhash64(w))))
      .select(col("id"), col("hs"), col("ph"), explode(col("ph")).as("h"))
    // Join strategy is SIZE-GATED: the prefix index grows linearly with
    // the corpus, so an unconditional broadcast would blow the driver at
    // scale. The estimate comes from the optimizer's input-size stats (no
    // extra job): the index holds ~(1−t) of each doc's tokens, each row
    // carrying the 8-byte-per-token hashed set ⇒ ~0.1× the raw text
    // bytes; input/4 deliberately over-estimates several-fold so the
    // broadcast path only runs when clearly safe. Under the session
    // broadcast threshold we broadcast the build side and round-robin the
    // probe side (pair expansion balanced regardless of token skew).
    // Above it, both sides shuffle on (h, salt): the build side
    // replicates `salt` ways, the probe side picks a deterministic salt
    // per doc, so each (a, b) pair still meets exactly once and a hot
    // token's quadratic work spreads over `salt` tasks.
    val bytesEst = df.queryExecution.optimizedPlan.stats.sizeInBytes / 4
    // "-1" (broadcast disabled) fails the byte-string parse → 0 → salted
    val threshold = scala.util.Try(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "64m")))
      .getOrElse(0L)
    val joined =
      if (threshold > 0 && bytesEst <= threshold)
        pref.repartition(expansionParallelism(df)).as("a")
          .join(broadcast(pref).as("b"),
            col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      else {
        // salt trade-off: the build side replicates `salt`× through the
        // shuffle, but each in-bucket expansion is quadratic, so per-task
        // balance dominates replication cost until salt reaches the task
        // slot count (measured at 10× smoke: salt 8/32/64 → 161/140/108s
        // on 64 slots). Scale with parallelism, but cap: past ~64 splits
        // a hot token is already spread thin and linear replication of
        // the whole index takes over.
        val salt = math.min(expansionParallelism(df), 64)
        val a = pref.withColumn("__salt", pmod(xxhash64(col("id")), lit(salt)))
        val b = pref.withColumn("__salt",
          explode(sequence(lit(0L), lit(salt - 1L))))
        a.as("a").join(b.as("b"),
          col("a.h") === col("b.h") && col("a.__salt") === col("b.__salt") &&
            col("a.id") < col("b.id"))
      }
    joined
      // PPJoin emit-once: keep only the meeting at the pair's minimum
      // shared prefix hash, so the dedup exchange sees each pair once
      .filter(col("a.h") === minCommonSorted(col("a.ph"), col("b.ph")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        intersectCard(col("a.hs"), col("b.hs")).as("inter"),
        size(col("a.hs")).as("sz_a"), size(col("b.hs")).as("sz_b"))
      .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
      // jaccard >= num/den  ⇔  inter*den >= uni*num   (integer-exact)
      .filter(col("inter") * den >= col("uni") * lit(num))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"))
  }

  // ---------------------------------------------------------- containment

  /** Directed k-gram-set CONTAINMENT pairs: (a, b) with
    * |A∩B| / |A| ≥ num/den over each doc's DISTINCT token-k-gram set —
    * the asymmetric complement of [[ngramJaccardPairs]]. Symmetric
    * Jaccard misses subset duplication (a doc that IS the first half of
    * another scores union-diluted: J = |A|/|B| ≈ ½ while C(A→B) = 1), so
    * corpus pipelines run containment alongside it to catch
    * quote-expansions and truncated mirrors. The unit is a k-gram, not a
    * token, because small closed vocabularies make unigram sets
    * near-universal (on the 31-word test corpus EVERY doc pair is
    * unigram-contained — a measured degeneracy, not a theoretical one);
    * k-grams keep the sets sparse at any vocabulary size.
    *
    * Prefix filtering still applies, but asymmetrically: order A's
    * grams by global rarity and index the first
    * `|A| − ⌈t·|A|⌉ + 1`; if B misses ALL of A's prefix then
    * |A∩B| ≤ ⌈t·|A|⌉ − 1 < t·|A|, so a qualifying pair must hit the
    * prefix — exact, no false negatives. Unlike the Jaccard case the
    * probe side is B's FULL gram set (containment puts no lower bound
    * on |B|'s overlap fraction), so candidates come from
    * prefix(A) ⋈ grams(B): per-pair work is bounded by how RARE A's
    * rarest grams are — the rarity sort is what keeps the stream
    * sub-quadratic, a boilerplate gram never probes anything. Candidates
    * dedup to bare (a, b) ids BEFORE the hashed sets are fetch-joined, so
    * exact verification (integer inter·den ≥ sz_a·num) runs once per
    * pair. The heavy exchanges are all id- or gram-keyed; AQE's skew
    * split handles hot probe grams.
    */
  def containmentPairs(
      df: DataFrame, textCol: String, idCol: String,
      num: Int, den: Int, gramK: Int = 4): DataFrame = {
    require(gramK >= 1, s"gramK must be >= 1, got $gramK")
    val toks = tokens(lower(col(textCol)))
    val gramList =
      if (gramK == 1) array_distinct(toks)
      else when(size(toks) >= gramK,
        array_distinct(transform(
          sequence(lit(1), size(toks) - (gramK - 1)),
          i => array_join(slice(toks, i, lit(gramK)), " "))))
        .otherwise(array().cast("array<string>"))
    val (tok, docs) = raritySets(df, idCol, gramList, num, den)
    // prefix(A) ⋈ grams(B) keys on the gram string: keyed on its hash,
    // the planner runs one more job here
    val cand = docs.select(col("id").as("id_a"), explode(col("prefix")).as("w"))
      .join(tok.select(col("id").as("id_b"), col("w")), Seq("w"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    overlap(cand, docs, docs)
      // containment >= num/den  ⇔  inter*den >= sz_a*num (integer-exact)
      .filter(col("inter") * den >= col("sz_a") * lit(num))
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"), col("sz_b"))
  }

  // ------------------------------------------------------- edit distance

  /** Edit-distance-1 key pairs by SYMMETRIC-DELETE blocking (the
    * SymSpell family): every key generates itself plus each
    * single-character deletion; two keys within Levenshtein distance 1
    * ALWAYS share a variant (equal → the key itself; substitution at i →
    * both delete i; indel → the longer deletes the inserted char and
    * meets the shorter's own full key), so the variant-equijoin candidate
    * set is exact — no false negatives — and the only shuffle is
    * (L+1)-fold linear on variant hash, never a length/sliding-window
    * scan. Candidates are verified with the codegen'd `levenshtein`
    * builtin; false positives (variant-sharing keys at distance 2) are
    * filtered there. The classic fuzzy-match primitive for titles, URLs,
    * and near-identical boilerplate headers where token-set methods
    * ([[ngramJaccardPairs]]) can't see a one-character typo.
    *
    * Variant buckets are near-dup clusters by construction: a cluster of
    * n identical keys costs n²/2 output pairs — inherent to the exact
    * pair semantics (same caveat as [[exactGroups]] listing its copies),
    * not a blocking artifact.
    *
    * Output: (id_a, id_b, dist) with id_a < id_b and dist ≤ 1 over
    * `lower(substr(text, 1, keyLen))`.
    */
  def symDeletePairs(
      df: DataFrame, textCol: String, idCol: String,
      keyLen: Int = 24): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      lower(substring(col(textCol), 1, keyLen)).as("k"))
    val v = base.select(col("id"), col("k"),
      explode(array_union(
        array(col("k")),
        transform(sequence(lit(1), length(col("k"))), i =>
          concat(col("k").substr(lit(1), i - 1),
            col("k").substr(i + 1, length(col("k")) - i))))).as("v"))
    bucketPairs(v, None, Seq("v"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.k").as("k_a"), col("b.k").as("k_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("dist", levenshtein(col("k_a"), col("k_b")))
      .filter(col("dist") <= 1)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  // ------------------------------------------------------- LSH tuning

  /** LSH parameter-tuning report: for each (bands, rowsPerBand) cut of
    * ONE shared minhash signature, the candidate-pair count and the
    * recall against exact Jaccard ≥ num/den — the measurement that picks
    * d03's production parameters (more bands ⇒ higher recall, more
    * candidates to verify; the report quantifies that tradeoff on the
    * actual corpus instead of the textbook S-curve).
    *
    * The hash family here is md5-derived so a SQL engine replays every
    * signature bit-for-bit — the d04 portable-family discipline. ONE md5
    * per shingle supplies two 60-bit halves (h0, h1); hash j is the
    * linear combination h0 + j·(h1 mod 1e9+7) — Carter-Wegman-style
    * pairwise independence from a single digest, integer-exact in any
    * engine, no overflow (h0 < 2⁶⁰, j·h1m < 2³⁴). Still ~1 md5 per
    * shingle vs the xxhash64 production kernel's ([[minhashPairs]])
    * near-free hashing — the right trade for a TUNING run, which a
    * pipeline executes once on a bounded sample per corpus, not per
    * ingest batch. Candidate generation itself is the production shape —
    * band keys carry (id, key) only, pairs expand only inside buckets.
    *
    * Output: (bands, rows_per_band, n_candidates, n_true, n_detected,
    * recall) — one row per config.
    */
  def lshTuningReport(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16,
      configs: Seq[(Int, Int)] = Seq((16, 1), (8, 2), (4, 4)),
      num: Int = 1, den: Int = 2): DataFrame = {
    require(configs.nonEmpty && configs.forall { case (b, r) =>
      b >= 1 && r >= 1 && b * r <= numHashes },
      s"each bands*rowsPerBand must fit numHashes=$numHashes: $configs")
    val plen = prefixLen(size(col("hs")), num, den)
    // trigram shingles over lowercased whitespace tokens, hashed to
    // (h0, h1) ONCE at the scan — the checkpoint carries only slim
    // (id, sorted-distinct h0 set, 16 minhashes) rows, never strings
    val tk = filter(split(lower(col(textCol)), WhitespaceRegex),
      t => t =!= lit(""))
    val sig = df.repartition(expansionParallelism(df))
      .select(col(idCol).cast("long").as("id"), tk.as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("id"), transform(
        sequence(lit(1), size(col("tk")) - 2),
        i => concat_ws(" ", slice(col("tk"), i, lit(3)))).as("shingles"))
      // duplicate shingles are harmless here: array_min ignores them and
      // hs dedups the h0 projection (DuckDB can't distinct a struct
      // list, so neither side does)
      .withColumn("h01", transform(col("shingles"), s => struct(
        conv(substring(md5(s), 1, 15), 16, 10).cast("long").as("h0"),
        (conv(substring(md5(s), 17, 15), 16, 10).cast("long")
          % 1000000007L).as("h1"))))
      .select(col("id"),
        array_sort(array_distinct(transform(col("h01"),
          h => h.getField("h0")))).as("hs"),
        transform(sequence(lit(0), lit(numHashes - 1)), j =>
          array_min(transform(col("h01"), h =>
            h.getField("h0") + j.cast("long") * h.getField("h1")))).as("mh"))
      .localCheckpoint()
    // ground truth: exact Jaccard ≥ num/den over the hashed shingle sets
    // — the d05 shape: co-shingle pair stream deduped to (a, b), then a
    // merge-walk |A∩B| over the two sorted sets. PREFIX FILTERING
    // (Bayardo, on the hash-sorted global order): only each side's
    // `prefixLen` sorted hashes are indexed — the co-occurrence stream
    // drops ~(1−t)² without losing a pair
    val ex = sig.select(col("id"),
      explode(slice(col("hs"), lit(1), plen)).as("h"))
    val cand = bucketPairs(ex, None, Seq("h"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val truth = overlap(cand, sig, sig)
      .filter(col("inter") * den >= (col("sz_a") + col("sz_b") - col("inter")) * num)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint()
    val nTrue = truth.count()
    // ALL configs' band keys in ONE pass / ONE exchange / ONE self-join:
    // the key struct carries the config index, so equality never crosses
    // configs and the quadratic expansion happens once per bucket
    val keyArrays = configs.zipWithIndex.map { case ((b, r), ci) =>
      transform(sequence(lit(0), lit(b - 1)), bi =>
        struct(lit(ci).as("cfg"),
          concat(bi.cast("string"), lit("|"),
            concat_ws(",", transform(
              slice(col("mh"), bi.cast("int") * r + 1, lit(r)),
              m => m.cast("string")))).as("k")))
    }
    val keyed = sig.select(col("id"),
        explode(concat(keyArrays: _*)).as("ck"))
      .select(col("id"), col("ck.cfg").as("cfg"), col("ck.k").as("k"))
    val counts = bucketPairs(keyed, None, Seq("cfg", "k"))
      .select(col("a.cfg").as("cfg"),
        col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("cfg", "id_a", "id_b")
      .join(truth.withColumn("__t", lit(1L)), Seq("id_a", "id_b"), "left")
      .groupBy(col("cfg"))
      .agg(count(lit(1)).as("n_candidates"),
        coalesce(sum(col("__t")), lit(0L)).as("n_detected"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val spark = df.sparkSession
    import spark.implicits._
    configs.zipWithIndex.map { case ((b, r), ci) =>
      val (nc, nd) = counts.getOrElse(ci, (0L, 0L))
      val recall =
        if (nTrue > 0) BigDecimal(nd.toDouble / nTrue.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        else 1.0
      (b, r, nc, nTrue, nd, recall)
    }.toDF("bands", "rows_per_band", "n_candidates", "n_true",
      "n_detected", "recall")
  }

  /** Cross-SOURCE exact-duplication matrix: for every unordered pair of
    * distinct sources, how many normalized fingerprints both carry —
    * the "is CommonCrawl re-delivering C4?" curation diagnostic. d10
    * reports per-source dedup impact; this reports WHICH source pairs
    * share content, which is what decides precedence rules (p05) and
    * whether a feed is worth ingesting at all.
    *
    * Scale shape: the corpus collapses to DISTINCT (fingerprint, source)
    * first — one partially-aggregated shuffle — so the per-fingerprint
    * self-join cell is bounded by |sources| (a catalog-sized constant),
    * never by how many documents share the fingerprint. A fingerprint
    * duplicated a million times inside one source contributes ONE row
    * per source it appears in. No quadratic leg anywhere.
    *
    * Output: (source_a, source_b, n_shared_fps) with source_a < source_b.
    */
  def sourceOverlap(df: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val fps = df.select(fingerprint(col(textCol)).as("__fp"),
      col(sourceCol).cast("string").as("__src")).distinct()
    fps.join(fps.select(col("__fp"), col("__src").as("__src_b")), Seq("__fp"))
      .filter(col("__src") < col("__src_b"))
      .groupBy(col("__src").as("source_a"), col("__src_b").as("source_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
  }
}
