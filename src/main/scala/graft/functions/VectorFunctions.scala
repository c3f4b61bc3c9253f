package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, as pure Column
  * expressions (`zip_with`/`aggregate` are codegen'd higher-order
  * functions — no UDF, no deserialization of the array to JVM objects).
  *
  * All arithmetic is promoted to double BEFORE accumulation, and sums run
  * strictly left-to-right — the same order DuckDB's list functions use —
  * so results are bit-reproducible against the oracle.
  */
object VectorFunctions {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity via the native fused expression (one codegen'd
    * pass; bit-identical to `dot/(norm·norm)` — see
    * [[graft.expr.GraftExpressions.CosineSim]]). Constructed directly, so
    * it works under ANY session — including ones the driver harness
    * builds without graft's extensions.
    */
  def cosine(a: Column, b: Column): Column =
    graft.expr.nat(graft.expr.GraftExpressions.CosineSim(
      graft.expr.toExpr(a), graft.expr.toExpr(b)))

  /** Composed-builtin cosine — kept as the differential-test oracle for
    * the native expression.
    */
  def cosineComposed(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  def l2Distance(a: Column, b: Column): Column =
    sqrt(aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0), (acc, x) => acc + x))

  /** Symmetric int8 scalar quantization of a float vector: clamp each
    * element to [-1, 1] and map to an integer code in [-127, 127] via
    * `floor(x·127 + 0.5)` — floor-based rounding because `floor` is the
    * same IEEE operation in every engine, where round() half-way rules
    * differ. At 100 TB the int8 codes cut vector storage and scan
    * bandwidth 4× versus float32; ANN then runs over [[sqDequantize]]d
    * floats (v08), and the codes compose with the LSH/IVF paths by
    * quantizing before bucketing.
    */
  def sqQuantize(v: Column): Column =
    transform(v, x =>
      floor(greatest(lit(-1.0), least(lit(1.0), x.cast("double"))) * lit(127.0)
        + lit(0.5)).cast("int"))

  /** Inverse of [[sqQuantize]] up to quantization error: code/127 as
    * float. Dequantize→requantize is exact (the codes are fixed points),
    * which SimilaritySpec asserts.
    */
  def sqDequantize(q: Column): Column =
    transform(q, c => (c.cast("double") / lit(127.0)).cast("float"))

  /** Sign-bit sketch against a fixed hyperplane set: bucket id in
    * [0, 2^planes.length). The random-hyperplane LSH primitive — two
    * vectors' bucket-collision probability rises with cosine similarity.
    */
  def hyperplaneBucket(v: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      // one array literal per plane (not dim unrolled Literal nodes —
      // the Similarity tree-size discipline); dot semantics unchanged
      val pl = typedLit(p.toSeq)
      when(dot(v, pl) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Deterministic pseudo-random unit-ish hyperplanes (splitmix64-seeded,
    * fixed across runs/machines — no Math.random, ever).
    */
  def randomPlanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    var state = seed
    def next(): Long = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d4a68b021e9f4bL
      z ^ (z >>> 31)
    }
    Seq.fill(nPlanes)(Array.fill(dim) {
      // uniform in [-1, 1) from the top 53 bits
      (next() >>> 11).toDouble / (1L << 52).toDouble - 1.0
    })
  }

  /** Binary (sign-bit) quantization: dim float elements collapse to
    * ceil(dim/64) packed BIGINT words — bit i of word w is
    * `v[w·64+i] >= 0`. The 1-bit extreme of the v08/v09 quantization
    * family: 64-dim float32 (256 B) becomes ONE long (8 B), a 32× cut in
    * the bytes a candidate scan touches, and Hamming distance over the
    * codes is XOR+popcount — a handful of ALU ops per candidate vs dim
    * multiply-adds. `dim` is static, so the word folds unroll into
    * straight-line codegen'd CASE/OR chains (no dynamic shifts, no UDF).
    */
  def signPack(v: Column, dim: Int): Column = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val words = (dim + 63) / 64
    array((0 until words).map { w =>
      (w * 64 until math.min(w * 64 + 64, dim)).map { i =>
        when(element_at(v, i + 1) >= lit(0), lit(1L << (i - w * 64)))
          .otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    }: _*)
  }

  /** Hamming distance between two [[signPack]]ed codes:
    * Σ_w popcount(a_w XOR b_w), via codegen'd `zip_with`+`bit_count`.
    */
  def hammingDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)
}
