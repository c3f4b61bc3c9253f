package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.kv.Store

/** IVF index persistence — the RESTART path of the production ANN
  * service: v17 add and v26 delete maintain a LIVE index, but a service
  * that dies must reload (centroids, cell assignments) from durable
  * storage and search bit-identically to a fresh build, without
  * re-scanning the corpus for re-assignment.
  *
  * Layout: two [[Store]] gids per index —
  *  - `<gid>__centroids`: one row per cell (cell, centroid) — nCells
  *    rows, driver-bounded like the ≤2048-row training samples;
  *  - `<gid>__cells`: one row per corpus vector (id, cell, vec), keyed
  *    by id so [[Store.put]]'s upsert IS the add path and
  *    [[Store.del]] the delete path — maintenance between restarts
  *    writes the batch's rows and one tombstone sidecar, never a
  *    full-index rewrite.
  *
  * Bit-exactness argument: floats survive the Store's JSON values via
  * shortest-decimal round-trip (Float.toString → parse is the identity
  * on finite floats), the cell column is an int, and
  * [[Similarity.ivfTopK]] is [[Similarity.ivfAssign]] followed by
  * [[Similarity.ivfTopKAssigned]] over the same trained centroids — so
  * loaded-search == fresh-search row for row (IvfPersistSpec pins it,
  * including across an add and a delete).
  */
object IvfPersist {

  private def centGid(gid: String) = s"${gid}__centroids"
  private def cellGid(gid: String) = s"${gid}__cells"

  private val centSchema = StructType.fromDDL(
    "cell INT, centroid ARRAY<FLOAT>")
  private val cellSchema = StructType.fromDDL(
    "id BIGINT, cell INT, vec ARRAY<FLOAT>")

  /** Persist a built index. `assigned` carries (id, vec, cell) — the
    * [[Similarity.ivfAssign]] output.
    */
  def persist(
      store: Store, gid: String,
      centroids: Array[Array[Float]], assigned: DataFrame,
      idCol: String = "id", vecCol: String = "vec"): Unit = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val centDf = centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i + 1, c.toSeq) }
      .toDF("cell", "centroid")
    store.put(centDf, centGid(gid), Some("cell"))
    store.put(
      assigned.select(col(idCol).cast("long").as("id"),
        col("cell").cast("int").as("cell"),
        // cast to the cellSchema's ARRAY<FLOAT> like id/cell: an
        // array<double> corpus would otherwise narrow SILENTLY through
        // the JSON reload and break the bit-exactness contract (loaded
        // search != fresh search) with no error anywhere
        col(vecCol).cast("array<float>").as("vec")),
      cellGid(gid), Some("id"))
  }

  /** Add arrivals to a persisted index: assign against the STORED
    * centroids (never retrained — the v17 contract) and upsert.
    */
  def add(
      store: Store, gid: String, arrivals: DataFrame,
      idCol: String = "id", vecCol: String = "vec"): Unit = {
    val assigned = Similarity.ivfAssign(
      arrivals, loadCentroids(store, gid), vecCol)
    store.put(
      assigned.select(col(idCol).cast("long").as("id"),
        col("cell").cast("int").as("cell"),
        col(vecCol).cast("array<float>").as("vec")),
      cellGid(gid), Some("id"))
  }

  /** Delete one vector by id — the v26 contract via the Store's
    * tombstone delete.
    */
  def delete(store: Store, gid: String, id: Long): Unit =
    store.del(cellGid(gid), id.toString)

  /** Reload the centroid matrix (nCells rows — bounded driver action,
    * the centroid-training precedent).
    */
  def loadCentroids(store: Store, gid: String): Array[Array[Float]] =
    store.scan(centGid(gid))
      .select(from_json(col("value"), centSchema).as("r"))
      .select(col("r.cell"), col("r.centroid"))
      .orderBy(col("cell"))
      .collect()
      .map(_.getSeq[Float](1).toArray)

  /** Reload the assigned corpus — a distributed scan of the cells gid;
    * rows never hit the driver.
    */
  def loadAssigned(store: Store, gid: String): DataFrame =
    store.scan(cellGid(gid))
      .select(from_json(col("value"), cellSchema).as("r"))
      .select(col("r.id"), col("r.cell"), col("r.vec"))

  /** Search a persisted index: reload + [[Similarity.ivfTopKAssigned]].
    * Equals a fresh [[Similarity.ivfTopK]] over the same rows given the
    * stored centroids, bit-exactly.
    */
  def search(
      store: Store, gid: String, queries: DataFrame, k: Int,
      nProbe: Int = 4,
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame =
    Similarity.ivfTopKAssigned(
      loadAssigned(store, gid), loadCentroids(store, gid),
      queries, k, nProbe, qidCol = qidCol, qvecCol = qvecCol)

  // ------------------------------------------------------- IVF-PQ form
  // The production default (v11) persists one more artifact — the PQ
  // codebooks — and its cells gid carries (id, cell, codes, vec): codes
  // are the resident ADC state, vec the true-vector side only the
  // |Q|·refine re-rank fetch reads. Store upsert/del remain the add and
  // delete paths (merge-on-read), and arrivals are encoded
  // with the exact build kernel ([[Similarity.ivfPqEncode]]) against
  // the FROZEN centroids + codebooks, so a reloaded index searches
  // bit-identically to a fresh build (IvfPersistSpec pins it, across an
  // add and a delete).

  private def bookGid(gid: String) = s"${gid}__codebooks"

  private val bookSchema = StructType.fromDDL(
    "mi INT, book ARRAY<ARRAY<FLOAT>>")
  private val pqCellSchema = StructType.fromDDL(
    "id BIGINT, cell INT, codes ARRAY<INT>, vec ARRAY<FLOAT>")

  private def encodedRows(
      arrivals: DataFrame,
      cents: Array[Array[Float]], cbs: Array[Array[Array[Float]]],
      idCol: String, vecCol: String): DataFrame =
    Similarity.ivfPqEncode(arrivals, cents, cbs, idCol, vecCol)
      .select(col(idCol).cast("long").as("id"),
        col("cell").cast("int").as("cell"), col("codes"),
        col(vecCol).cast("array<float>").as("vec"))

  /** Persist a built IVF-PQ index: centroids, per-sub-space codebooks,
    * and the encoded corpus.
    */
  def persistPq(
      store: Store, gid: String,
      cents: Array[Array[Float]], cbs: Array[Array[Array[Float]]],
      corpus: DataFrame,
      idCol: String = "id", vecCol: String = "vec"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centDf = cents.zipWithIndex.toSeq
      .map { case (c, i) => (i + 1, c.toSeq) }
      .toDF("cell", "centroid")
    store.put(centDf, centGid(gid), Some("cell"))
    val bookDf = cbs.zipWithIndex.toSeq
      .map { case (b, mi) => (mi, b.map(_.toSeq).toSeq) }
      .toDF("mi", "book")
    store.put(bookDf, bookGid(gid), Some("mi"))
    store.put(encodedRows(corpus, cents, cbs, idCol, vecCol),
      cellGid(gid), Some("id"))
  }

  /** Add arrivals to a persisted IVF-PQ index: assign + encode against
    * the STORED (frozen) centroids and codebooks, then upsert.
    */
  def addPq(
      store: Store, gid: String, arrivals: DataFrame,
      idCol: String = "id", vecCol: String = "vec"): Unit =
    store.put(
      encodedRows(arrivals, loadCentroids(store, gid),
        loadCodebooks(store, gid), idCol, vecCol),
      cellGid(gid), Some("id"))

  /** Delete one vector by id — identical to the flat-IVF [[delete]]. */
  def deletePq(store: Store, gid: String, id: Long): Unit =
    store.del(cellGid(gid), id.toString)

  /** Reload the per-sub-space codebooks (m·k codewords — driver-bounded
    * like the centroid matrix).
    */
  def loadCodebooks(store: Store, gid: String): Array[Array[Array[Float]]] =
    store.scan(bookGid(gid))
      .select(from_json(col("value"), bookSchema).as("r"))
      .select(col("r.mi"), col("r.book"))
      .orderBy(col("mi"))
      .collect()
      .map(_.getSeq[scala.collection.Seq[Float]](1).map(_.toArray).toArray)

  /** Reload the encoded corpus — a distributed scan; rows never hit the
    * driver.
    */
  def loadEncoded(store: Store, gid: String): DataFrame =
    store.scan(cellGid(gid))
      .select(from_json(col("value"), pqCellSchema).as("r"))
      .select(col("r.id"), col("r.cell"), col("r.codes"), col("r.vec"))

  /** Search a persisted IVF-PQ index through the exact
    * [[Similarity.ivfPqTopKEncoded]] tail — equals a fresh
    * [[Similarity.ivfPqTopK]] given the stored centroids and codebooks,
    * bit-exactly.
    */
  def searchPq(
      store: Store, gid: String, queries: DataFrame, k: Int,
      nProbe: Int = 6, refine: Int = 100,
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val enc = loadEncoded(store, gid)
    Similarity.ivfPqTopKEncoded(
      enc.select(col("id"), col("cell"), col("codes")),
      enc.select(col("id"), col("vec")),
      loadCentroids(store, gid), loadCodebooks(store, gid),
      queries, k, nProbe, refine, qidCol = qidCol, qvecCol = qvecCol)
  }
}
