package graft

import org.apache.spark.sql.functions._

import graft.Engine.table
import graft.kv.Store
import graft.ops.{IvfPersist, Similarity}

class IvfPersistSpec extends SparkSessionSpec {

  private def corpus = table(spark, sfDir, "embeddings")
    .select(col("vec_id").as("id"), col("embedding").as("vec"))
  private def queries = table(spark, sfDir, "embeddings")
    .filter(col("vec_id") < 5)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("build -> persist -> reload -> search == fresh-build search, bit-exact") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val store = new Store(spark, root, defaultBuckets = 8)
    val cents = Similarity.ivfCentroids(corpus, nCentroids = 16)
    val assigned = Similarity.ivfAssign(corpus, cents)

    IvfPersist.persist(store, "ann", cents, assigned)

    // centroids survive the JSON values bit-exactly (float shortest-
    // decimal round-trip is the identity)
    val reloaded = IvfPersist.loadCentroids(store, "ann")
    assert(reloaded.length === cents.length)
    assert(reloaded.zip(cents).forall { case (a, b) => a.sameElements(b) })

    val fresh = Similarity.ivfTopK(corpus, cents, queries, k = 10, nProbe = 4)
    assert(rows(IvfPersist.search(store, "ann", queries, k = 10, nProbe = 4))
      === rows(fresh))
  }

  test("add (v17) and delete (v26) maintain the persisted index across restarts") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-ad").toString
    val store = new Store(spark, root, defaultBuckets = 8)
    val base = corpus.filter(col("id") % 5 =!= 0)
    val arrivals = corpus.filter(col("id") % 5 === 0)
    val cents = Similarity.ivfCentroids(base, nCentroids = 16)

    IvfPersist.persist(store, "ann", cents, Similarity.ivfAssign(base, cents))
    // ADD: arrivals assign against the STORED centroids, upsert by id
    IvfPersist.add(store, "ann", arrivals)
    val freshAll = Similarity.ivfTopK(corpus, cents, queries, k = 10, nProbe = 4)
    assert(rows(IvfPersist.search(store, "ann", queries, k = 10, nProbe = 4))
      === rows(freshAll))

    // DELETE: drop one id that a query currently retrieves — the loaded
    // search must equal a fresh build over the corpus minus that row
    val victim = freshAll.orderBy(col("qid"), col("rank"))
      .select(col("neighbor_id")).head.getLong(0)
    IvfPersist.delete(store, "ann", victim)
    val freshMinus = Similarity.ivfTopK(
      corpus.filter(col("id") =!= victim), cents, queries, k = 10, nProbe = 4)
    assert(rows(IvfPersist.search(store, "ann", queries, k = 10, nProbe = 4))
      === rows(freshMinus))
  }

  test("IVF-PQ (v11, the production default): persist -> reload -> search " +
      "== fresh, across an add and a delete") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    val store = new Store(spark, root, defaultBuckets = 8)
    val base = corpus.filter(col("id") % 7 =!= 0)
    val arrivals = corpus.filter(col("id") % 7 === 0)
    val cents = Similarity.ivfCentroids(base, nCentroids = 16)
    val cbs = Similarity.pqCodebooks(base, m = 8, k = 16)

    IvfPersist.persistPq(store, "pq", cents, cbs, base)

    // codebooks survive the JSON values bit-exactly
    val books = IvfPersist.loadCodebooks(store, "pq")
    assert(books.length === cbs.length)
    assert(books.zip(cbs).forall { case (a, b) =>
      a.length == b.length && a.zip(b).forall { case (x, y) => x.sameElements(y) }
    })

    def fresh(c: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqTopK(c, cents, cbs, queries, k = 10, nProbe = 6, refine = 60)
    def loaded() =
      IvfPersist.searchPq(store, "pq", queries, k = 10, nProbe = 6, refine = 60)

    assert(rows(loaded()) === rows(fresh(base)))

    // ADD: encode against the STORED frozen centroids + codebooks
    IvfPersist.addPq(store, "pq", arrivals)
    assert(rows(loaded()) === rows(fresh(corpus)))

    // DELETE: drop a retrieved id; loaded == fresh over corpus minus it
    val victim = fresh(corpus).orderBy(col("qid"), col("rank"))
      .select(col("neighbor_id")).head.getLong(0)
    IvfPersist.deletePq(store, "pq", victim)
    assert(rows(loaded()) === rows(fresh(corpus.filter(col("id") =!= victim))))
  }
}
