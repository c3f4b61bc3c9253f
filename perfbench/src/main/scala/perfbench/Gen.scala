package perfbench

import scala.util.Random

/** Zipf(s) sampler over ranks 0 until n (rank 0 the most frequent). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def draw(r: Random): Int = {
    val u = r.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}

final case class Doc(doc_id: Long, text: String)
final case class Event(station: Int, year: Int, kind: String, value: Int)
final case class Edge(src: Long, dst: Long)
final case class KvRow(k: String, n: Long, p: String)

/** The seeded input generators. Everything the engine sees is written to
  * parquet from these; the driver-side checks read the same in-memory
  * values, never the engine's output.
  */
object Gen {

  /** A distinct lowercase pseudo-word per rank (base-26, ≥ 3 letters). */
  def word(i: Int): String = {
    val b = new StringBuilder
    var x = i + 676
    while (x > 0) { b.append(('a' + x % 26).toChar); x /= 26 }
    b.toString
  }

  // ------------------------------------------------------------ corpus

  final case class CorpusSpec(docs: Int, vocab: Int, zipfS: Double,
      minLen: Int, maxLen: Int, capitalShare: Double,
      nearDupShare: Double, truncShare: Double,
      events: Int, years: Int, stations: Int)

  final case class Corpus(docs: Array[Doc], nearDups: Seq[(Long, Long)],
      truncated: Seq[(Long, Long)], events: Array[Event])

  val EventKinds: Seq[String] = Seq("TMAX", "TMIN", "PRCP")

  def corpus(spec: CorpusSpec, seed: Long): Corpus = {
    val r = new Random(seed * 7919L + 1)
    val zipf = new Zipf(spec.vocab, spec.zipfS)
    val toks = new Array[Array[String]](spec.docs)
    val near = Seq.newBuilder[(Long, Long)]
    val trunc = Seq.newBuilder[(Long, Long)]
    def fresh(len: Int): Array[String] = Array.fill(len) {
      val w = word(zipf.draw(r))
      if (r.nextDouble() < spec.capitalShare) w.capitalize else w
    }
    for (i <- 0 until spec.docs) {
      val u = r.nextDouble()
      toks(i) =
        if (i >= 16 && u < spec.nearDupShare) {
          // near-duplicate: an earlier document with one token replaced
          val j = r.nextInt(i)
          val t = toks(j).clone()
          t(2 + r.nextInt(t.length - 2)) = word(zipf.draw(r))
          near += ((j.toLong, i.toLong))
          t
        } else if (i >= 16 && u < spec.nearDupShare + spec.truncShare) {
          // truncated mirror: the first half of an earlier document
          val j = r.nextInt(i)
          trunc += ((i.toLong, j.toLong))
          toks(j).take(toks(j).length / 2)
        } else fresh(spec.minLen + r.nextInt(spec.maxLen - spec.minLen + 1))
    }
    val docs = Array.tabulate(spec.docs)(i => Doc(i.toLong, toks(i).mkString(" ")))
    val events = Array.fill(spec.events) {
      val year = 2000 + r.nextInt(spec.years)
      val kind = EventKinds(r.nextInt(EventKinds.length))
      val base = kind match { case "TMAX" => 150; case "TMIN" => 20; case _ => 0 }
      Event(r.nextInt(spec.stations), year, kind, base + r.nextInt(400) - 200)
    }
    Corpus(docs, near.result(), trunc.result(), events)
  }

  // ------------------------------------------------------------- graphs

  final case class GraphSpec(vertices: Int, edges: Int, zipfSrc: Double,
      zipfDst: Double, sources: Int, fanOut: Int)

  final case class Graph(name: String, edges: Array[Edge])

  /** Power-law directed graph: both endpoints Zipf-drawn over independent
    * random permutations of the vertex ids.
    */
  def powerLaw(spec: GraphSpec, seed: Long): Graph = {
    val r = new Random(seed * 104729L + 2)
    val permS = r.shuffle((0 until spec.vertices).toVector)
    val permD = r.shuffle((0 until spec.vertices).toVector)
    val zs = new Zipf(spec.vertices, spec.zipfSrc)
    val zd = new Zipf(spec.vertices, spec.zipfDst)
    val es = Array.newBuilder[Edge]
    var made = 0
    while (made < spec.edges) {
      val s = permS(zs.draw(r)).toLong
      val d = permD(zd.draw(r)).toLong
      if (s != d) { es += Edge(s, d); made += 1 }
    }
    Graph("powerlaw", es.result())
  }

  /** Few sources with huge fan-out: most vertices appear only as `dst`. */
  def fanOut(spec: GraphSpec, seed: Long): Graph = {
    val r = new Random(seed * 15485863L + 3)
    val es = Array.newBuilder[Edge]
    for (s <- 0 until spec.sources) {
      // a sparse ring among the sources keeps them mutually reachable
      es += Edge(s.toLong, ((s + 1) % spec.sources).toLong)
      for (_ <- 0 until spec.fanOut)
        es += Edge(s.toLong, (spec.sources + r.nextInt(spec.vertices - spec.sources)).toLong)
    }
    Graph("fanout", es.result())
  }

  /** Near-duplicate-shaped pairs: `clusters` disjoint groups of 2 to 5
    * vertex ids, each a star around its first member plus one chord.
    */
  def clusterPairs(vertices: Int, clusters: Int, seed: Long): Array[(Long, Long)] = {
    val r = new Random(seed * 49979687L + 5)
    val ids = r.shuffle((0 until vertices).toVector).iterator
    Array.fill(clusters) {
      val members = Vector.fill(2 + r.nextInt(4))(ids.next().toLong)
      val star = members.tail.map(m => (members.head, m))
      val chord = if (members.size > 2) Seq((members(1), members(2))) else Nil
      (star ++ chord).map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    }.flatten
  }

  // ----------------------------------------------------------- kv stream

  final case class KvSpec(initialKeys: Int, smallBatch: Int, largeBatch: Int,
      overwriteShare: Double, recentShare: Double, zipfS: Double, payloadLen: Int,
      days: Int)

  def key(i: Int): String = f"k$i%07d"

  def kvRow(i: Int, version: Long, r: Random, len: Int): KvRow =
    KvRow(key(i), version, Array.fill(len)(('a' + r.nextInt(26)).toChar).mkString)

  /** Canonical JSON of a row — the exact `to_json(struct(k, n, p))` text
    * the store keeps as the value (payloads are plain [a-z]).
    */
  def json(row: KvRow): String = s"""{"k":"${row.k}","n":${row.n},"p":"${row.p}"}"""

  /** The lake day of a key: fixed per key so updates stay in place. */
  def dayOf(k: String, days: Int): Int = math.abs(k.hashCode % days)

  def dayString(d: Int): String =
    java.time.LocalDate.of(2024, 1, 1).plusDays(d.toLong).toString
}
