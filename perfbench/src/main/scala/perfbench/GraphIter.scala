package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, LabelProp, PageRank}

/** Iterative graph loops of `ops` on two seeded graphs: `PageRank` on a
  * few-sources/huge-fan-out graph whose vertices mostly appear only as
  * `dst`, `LabelProp` on a power-law graph, and `Dedup.components` over
  * near-duplicate-shaped pairs. Every output is replayed or bounded on
  * the driver.
  */
final class GraphIter(spark: SparkSession, seed: Long) extends Workload {

  val name = "graph_iter"
  val powerSpec = Gen.GraphSpec(vertices = 5000, edges = 15000, zipfSrc = 0.9,
    zipfDst = 0.7, sources = 0, fanOut = 0)
  val fanSpec = Gen.GraphSpec(vertices = 5000, edges = 0, zipfSrc = 0, zipfDst = 0,
    sources = 8, fanOut = 500)
  // fewer rounds than the registry's queries use: each loop still runs its
  // eager per-round jobs, and a pass fits the benchmark's time budget
  val PrIterations = 2
  val LpaRounds = 2
  val PrScale = 1000000000000L
  val PairClusters = 600

  private var graphs: Seq[Gen.Graph] = Nil
  private var pairs: Array[(Long, Long)] = Array.empty
  private var data = ""
  private var outDir = ""

  def generate(dataDir: String): Seq[(String, Double)] = {
    graphs = Seq(Gen.powerLaw(powerSpec, seed), Gen.fanOut(fanSpec, seed))
    pairs = Gen.clusterPairs(powerSpec.vertices, PairClusters, seed)
    graphs.foreach { g =>
      Workload.writeParquet(spark, g.edges.toSeq, s"$dataDir/edges_${g.name}.parquet")
    }
    Workload.writeParquet(spark, pairs.toSeq, s"$dataDir/pairs.parquet")
    val bytes = graphs.map(g => Workload.du(s"$dataDir/edges_${g.name}.parquet")).sum +
      Workload.du(s"$dataDir/pairs.parquet")
    val (p, f) = (graphs.head, graphs(1))
    Seq("powerlaw_vertices" -> powerSpec.vertices.toDouble, "powerlaw_edges" -> p.edges.length.toDouble,
      "powerlaw_zipf_src" -> powerSpec.zipfSrc, "powerlaw_zipf_dst" -> powerSpec.zipfDst,
      "fanout_sources" -> fanSpec.sources.toDouble, "fanout_per_source" -> fanSpec.fanOut.toDouble,
      "fanout_edges" -> f.edges.length.toDouble,
      "fanout_dst_only_share" -> {
        val srcs = f.edges.map(_.src).toSet
        val all = f.edges.flatMap(e => Seq(e.src, e.dst)).toSet
        (all -- srcs).size.toDouble / all.size },
      "pair_clusters" -> PairClusters.toDouble, "pairs" -> pairs.length.toDouble,
      "input_rows" -> (graphs.map(_.edges.length).sum + pairs.length).toDouble,
      "input_bytes" -> bytes.toDouble)
  }

  // ------------------------------------------------ driver-side replays

  private final class Expect(g: Gen.Graph) {
    private val distinctDirected: Array[(Long, Long)] =
      g.edges.map(e => (e.src, e.dst)).filter(p => p._1 != p._2).distinct
    val vertices: Set[Long] = g.edges.flatMap(e => Seq(e.src, e.dst)).toSet
    private val undirected: Map[Long, Array[Long]] = distinctDirected
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct.groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2) }

    /** Synchronous LPA: most frequent neighbour label, ties to the smallest. */
    lazy val lpa: Map[Long, Long] = {
      var lab = undirected.keys.map(v => v -> v).toMap
      for (_ <- 1 to LpaRounds) lab = undirected.map { case (v, ns) =>
        v -> -ns.groupBy(lab).iterator.map { case (l, xs) => (xs.length, -l) }.max._2 }
      lab
    }

    lazy val components: Map[Long, Long] = {
      val parent = mutable.Map[Long, Long]()
      def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      parent.keys.toSeq.map(v => v -> find(v)).toMap
    }

    def force(): Unit = { lpa; components; () }
  }

  private var expects: Map[String, Expect] = Map.empty

  def open(dataDir: String, workDir: String): Unit = {
    data = dataDir
    outDir = s"$workDir/out"
    expects = graphs.map(g => g.name -> new Expect(g)).toMap
    expects.values.foreach(_.force())
  }

  private def edges(g: String): DataFrame = Workload.frame(spark, data, s"edges_$g")

  /** Which loops run on which graph. The few-sources/huge-fan-out graph
    * gets PageRank, whose vertex count and broadcast gate its dst-only
    * vertices stress; the power-law graph gets the propagation loops.
    */
  val Plan: Map[String, Seq[String]] = Map(
    "powerlaw" -> Seq("label_prop", "components"),
    "fanout" -> Seq("pagerank"))

  def opsOf(pass: Int, last: Boolean): Seq[Op] = graphs.zipWithIndex.flatMap { case (g, gi) =>
    val x = expects(g.name)
    val rows = g.edges.length.toLong
    def op(n: String, slot: Int, rows: Long = rows)(b: => org.apache.spark.sql.Dataset[_])(
        c: Array[Row] => Outcome) =
      Workload.batchOp(spark, outDir, s"ops.graph.$n.${g.name}", gi * 10 + slot, "ops.graph",
        rows)(b)(c)
    Seq(
      "pagerank" -> (() => op("pagerank", 0)(PageRank.fixedPointPageRank(edges(g.name).select("src", "dst"),
        iterations = PrIterations)) { r =>
        val got = r.map(x => x.getLong(0) -> x.getLong(1)).toMap
        val mass = got.values.map(BigInt(_)).sum
        val want = BigInt(x.vertices.size) * PrScale
        val drift = ((mass - want).abs * 1000000 / want).toLong
        Outcome(ok = got.keySet == x.vertices && drift == 0L, rows = 0L,
          detail = s"pagerank: ${got.size} vertices of ${x.vertices.size}, mass $mass vs $want")
      }),
      "label_prop" -> (() => op("label_prop", 1)(LabelProp.propagate(edges(g.name), rounds = LpaRounds))(r =>
        Workload.mismatch("label propagation", x.lpa, r.map(y => y.getLong(0) -> y.getLong(1)).toMap))),
      "components" -> (() => op("components", 2, rows = pairs.length.toLong)(Dedup.components(
        Workload.frame(spark, data, "pairs").select(col("_1").as("id_a"), col("_2").as("id_b"))))(r =>
        Workload.mismatch("components", x.components, r.map(y => y.getLong(1) -> y.getLong(0)).toMap))))
      .filter { case (n, _) => Plan(g.name).contains(n) }.map(_._2())
  }

  def storage(samples: Seq[Sample]): (Long, Long) =
    (Workload.committedBytes(samples), Workload.du(outDir))

}
