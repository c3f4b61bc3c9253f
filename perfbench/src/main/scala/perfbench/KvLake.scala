package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kv.{Mem, Store}
import graft.sources.{Partitioned, VersionedLake}
import graft.streaming.LakeSink

/** A row of an upsert batch as generated; `upd` marks a key that was live
  * before its block.
  */
final case class KvBatchRow(batch: Int, upd: Boolean, k: String, n: Long, p: String, ts: Timestamp) {
  def row: KvRow = KvRow(k, n, p)
}

/** A closed loop with one client over a seeded op stream, one block per
  * pass: point gets (Zipf keys, recent-key bias), a scan, a small and a
  * large upsert with a share of overwrites and a delete — against
  * `kv.Store` (parquet) and `kv.Mem` (block-manager cache). The block's
  * rows go as one micro-batch through `LakeSink` and `VersionedLake`
  * (append or upsert, then delete) and are read back with
  * `Partitioned.readDays` and `VersionedLake.read`. The last block of a
  * timed phase ends with the maintenance: one `VersionedLake.compact`
  * and one `reconf` of the store.
  */
final class KvLake(spark: SparkSession, seed: Long) extends Workload {
  import KvLake._

  val name = "kv_lake"
  val spec = Gen.KvSpec(initialKeys = 1200, smallBatch = 5, largeBatch = 200,
    overwriteShare = 0.3, recentShare = 0.3, zipfS = 1.0, payloadLen = 48, days = 8)
  // the warm-up block, then the timed ones (a traced run of --seconds 10
  // takes 4, three untraced and one traced)
  val Blocks = 12
  val Gid = "bench"
  val Buckets = 32

  private var stream: Seq[Seq[Step]] = Nil
  private var batches: Map[Int, Array[KvBatchRow]] = Map.empty
  private var data = ""
  private var root = ""
  private var store: Store = _
  private val mem = new Mem
  private def sinkPath = s"$root/lake_sink"
  private def lakePath = s"$root/lake_versioned"

  // one shadow per backend, updated as each write op completes
  private val storeShadow = mutable.Map[String, KvRow]()
  private val memShadow = mutable.Map[String, KvRow]()
  private val lakeShadow = mutable.Map[String, KvRow]()
  private val sinkShadow = mutable.ArrayBuffer[KvRow]()

  def generate(dataDir: String): Seq[(String, Double)] = {
    val r = new Random(seed * 32452843L + 4)
    val zipf = new Zipf(spec.initialKeys * 4, spec.zipfS)
    val live = mutable.LinkedHashSet[String]()
    val recent = mutable.ArrayBuffer[String]()
    var nextKey = 0
    var version = 0L
    val bs = mutable.LinkedHashMap[Int, Array[KvBatchRow]]()
    var overwrites = 0L
    var written = 0L
    // keys written in the current block: never overwritten again inside it,
    // so a block's rows are key-unique as one lake micro-batch
    val blockKeys = mutable.Set[String]()
    var atStart = Set.empty[String]
    def rowsFor(batch: Int, n: Int): Array[KvBatchRow] = {
      val keys = mutable.LinkedHashSet[String]()
      while (keys.size < n) {
        if (live.nonEmpty && r.nextDouble() < spec.overwriteShare) {
          val k = live.iterator.drop(r.nextInt(live.size)).next()
          if (!blockKeys(k) && keys.add(k)) overwrites += 1
        } else { keys += Gen.key(nextKey); nextKey += 1 }
      }
      val rows = keys.toArray.map { k =>
        version += 1
        val row = Gen.kvRow(k.drop(1).toInt, version, r, spec.payloadLen)
        KvBatchRow(batch, atStart(k), row.k, row.n, row.p, tsOf(row.k))
      }
      rows.foreach { x => live += x.k; recent += x.k; blockKeys += x.k }
      written += rows.length
      bs(batch) = rows
      rows
    }
    rowsFor(0, spec.initialKeys)
    var batch = 0
    def getKey(): String =
      if (recent.nonEmpty && r.nextDouble() < spec.recentShare)
        recent(recent.length - 1 - r.nextInt(math.min(64, recent.length)))
      else Gen.key(zipf.draw(r))
    def put(large: Boolean): Put = {
      batch += 1
      rowsFor(batch, if (large) spec.largeBatch else spec.smallBatch)
      Put(batch)
    }
    def del(): Del = {
      val k = if (r.nextBoolean()) recent.reverseIterator.find(live).get
        else live.iterator.drop(r.nextInt(live.size)).next()
      live -= k
      Del(k)
    }
    def range(): (Int, Int) = { val a = r.nextInt(spec.days - 2); (a, a + 2) }
    stream = (0 until Blocks).map { blk =>
      // the warm-up block runs every kind of op, with one get in place of each run of gets
      def gets(n: Int) = Seq.fill(if (blk == 0) 1 else n)(Get(getKey()))
      blockKeys.clear()
      atStart = live.toSet
      // 12 client reads (11 gets, 1 scan) per 3 client writes (2 upserts,
      // 1 delete); then the block's rows reach the lake as one micro-batch
      // and are read back
      val (g1, p1, g2) = (gets(4), put(large = false), gets(4))
      val d = del()
      val (g3, p2) = (gets(3), put(large = true))
      val (rd, sn) = (range(), range())
      g1 ++ Seq(p1) ++ g2 ++ Seq(Scan, d) ++ g3 ++ Seq(p2,
        LakeAppend(blk + 1, Seq(p1.batch, p2.batch)),
        LakeDelete(d.key), ReadDays(rd._1, rd._2), Snap(sn._1, sn._2))
    }
    batches = bs.toMap
    val rows = bs.values.flatten.toSeq
    Workload.writeParquet(spark, rows, s"$dataDir/kv_batches.parquet")
    val steps = stream.flatten
    Seq("initial_keys" -> spec.initialKeys.toDouble, "blocks" -> Blocks.toDouble,
      "key_zipf_s" -> spec.zipfS, "recent_share" -> spec.recentShare,
      "overwrite_share" -> overwrites.toDouble / written, "small_batch_rows" -> spec.smallBatch.toDouble,
      "large_batch_rows" -> spec.largeBatch.toDouble,
      "reads_per_write" -> steps.count(s => s.isInstanceOf[Get] || s == Scan).toDouble /
        steps.count(s => s.isInstanceOf[Put] || s.isInstanceOf[Del]),
      "lake_batches" -> (Blocks + 1).toDouble,
      "input_rows" -> rows.size.toDouble,
      "input_bytes" -> Workload.du(s"$dataDir/kv_batches.parquet").toDouble)
  }

  private def tsOf(k: String): Timestamp = {
    val minute = math.abs(k.hashCode / 7) % 1440
    Timestamp.valueOf(java.time.LocalDate.parse(Gen.dayString(Gen.dayOf(k, spec.days)))
      .atStartOfDay().plusMinutes(minute.toLong))
  }

  def open(dataDir: String, workDir: String): Unit = {
    data = dataDir
    root = s"$workDir/kv"
    store = new Store(spark, s"file:$root/store", Buckets)
  }

  override def hasPass(pass: Int): Boolean = pass < Blocks

  private def batchFrame(bs: Seq[Int], upd: Option[Boolean] = None): DataFrame =
    Workload.frame(spark, data, "kv_batches")
      .filter(col("batch").isin(bs: _*) && upd.map(col("upd") === _).getOrElse(lit(true)))
      .drop("batch", "upd")

  private def rowsOf(b: Int): Array[KvRow] = batches(b).map(_.row)
  private def cached(o: Op): Op = o.copy(cached = true)
  private def bytesOf(rows: Iterable[KvRow]): Long = rows.iterator.map(r => Gen.json(r).length.toLong).sum
  private def kvPairs(m: collection.Map[String, KvRow]) = m.map { case (k, r) => k -> Gen.json(r) }.toMap
  private def inDays(r: KvRow, from: Int, to: Int) = {
    val d = Gen.dayOf(r.k, spec.days); d >= from && d <= to
  }

  private def read(name: String, slot: Int, layer: String)(f: Probe => (Boolean, Long, String)) =
    Op(name, slot, layer, Read, p => { val (ok, n, d) = f(p); Outcome(ok, n, detail = d) })

  private def write(name: String, slot: Int, layer: String, rows: Long, userBytes: Long)(
      f: Probe => Unit) =
    Op(name, slot, layer, Write, p => { f(p); Outcome(ok = true, rows = rows, userBytes = userBytes) })

  private def putOps(b: Int, slot: Int): Seq[Op] = {
    val rows = rowsOf(b)
    val n = rows.length.toLong
    Seq(
      write("kv.put", slot, "kv", n, bytesOf(rows)) { p =>
        p.call("write")(store.put(batchFrame(Seq(b)).select("k", "n", "p"), Gid, Some("k")))
        rows.foreach(r => storeShadow(r.k) = r)
      },
      cached(write("kv.mem_put", slot + 1, "kv", n, 0L) { p =>
        p.call("write")(mem.put(batchFrame(Seq(b)).select("k", "n", "p"), Gid, Some("k")))
        rows.foreach(r => memShadow(r.k) = r)
      }))
  }

  /** One lake micro-batch, the rows of `bs`: all of them through the
    * `LakeSink`, and through `VersionedLake` the new keys by
    * `appendBatch` and the keys live before the block by `upsert`.
    */
  private def lakeOps(lakeBatch: Int, bs: Seq[Int], slot: Int): Seq[Op] = {
    val all = bs.flatMap(batches(_))
    def rows(xs: Seq[KvBatchRow]) = xs.map(_.row)
    val (upd, fresh) = all.partition(_.upd)
    Seq(
      Some(write("lake.sink_append", slot, "lake", all.size.toLong, bytesOf(rows(all))) { p =>
        p.call("write")(LakeSink.appendBatch(batchFrame(bs), sinkPath, lakeBatch.toLong))
        sinkShadow ++= rows(all)
      }),
      Option.when(fresh.nonEmpty)(write("lake.append", slot + 1, "lake", fresh.size.toLong,
          bytesOf(rows(fresh))) { p =>
        p.call("write")(VersionedLake.appendBatch(batchFrame(bs, Some(false)), lakePath, lakeBatch.toLong))
        rows(fresh).foreach(r => lakeShadow(r.k) = r)
      }),
      Option.when(upd.nonEmpty)(write("lake.upsert", slot + 2, "lake", upd.size.toLong,
          bytesOf(rows(upd))) { p =>
        p.call("write")(VersionedLake.upsert(batchFrame(bs, Some(true)), lakePath, key = "k"))
        rows(upd).foreach(r => lakeShadow(r.k) = r)
      })).flatten
  }

  private def get(name: String, slot: Int, key: String, shadow: mutable.Map[String, KvRow],
      f: => DataFrame) = read(name, slot, "kv") { p =>
    val df = p.call("build")(f)
    val got = p.call("read")(df.collect()).map(r => r.getString(0) -> r.getString(1)).toSeq
    val want = shadow.get(key).map(r => r.k -> Gen.json(r)).toSeq
    (got == want, got.size.toLong, s"get $key: want $want, got $got")
  }

  private def scan(name: String, slot: Int, shadow: mutable.Map[String, KvRow], f: => DataFrame) =
    read(name, slot, "kv") { p =>
      val df = p.call("build")(f)
      val got = p.call("read")(df.collect()).map(r => r.getString(0) -> r.getString(1))
      val want = kvPairs(shadow)
      (got.length == want.size && got.toMap == want, got.length.toLong,
        s"scan: ${want.size} keys expected, ${got.length} rows returned")
    }

  private def readDays(slot: Int, from: Int, to: Int) = read("lake.read_days", slot, "lake") { p =>
    val df = p.call("build")(Partitioned.readDays(spark, sinkPath, Gen.dayString(from), Gen.dayString(to)))
    val got = p.call("read")(df.select("k", "n").collect()).map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val want = sinkShadow.filter(inDays(_, from, to)).map(r => (r.k, r.n)).sorted.toSeq
    (got == want, got.size.toLong, s"readDays $from-$to: ${want.size} rows expected, ${got.size} returned")
  }

  private def snapshotRead(slot: Int, from: Int, to: Int) = read("lake.snapshot_read", slot, "lake") { p =>
    val df = p.call("build")(VersionedLake.read(spark, lakePath,
      fromDay = Gen.dayString(from), toDay = Gen.dayString(to)))
    val got = p.call("read")(df.select("k", "n").collect()).map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val want = lakeShadow.values.filter(inDays(_, from, to)).map(r => (r.k, r.n)).toSeq.sorted
    (got == want, got.size.toLong, s"snapshot $from-$to: ${want.size} rows expected, ${got.size} returned")
  }

  def opsOf(pass: Int, last: Boolean): Seq[Op] = {
    val load = if (pass == 0) putOps(0, 1000) ++ lakeOps(0, Seq(0), 1002) else Nil
    var slot = 0
    def next(n: Int) = { val s = slot; slot += n; s }
    // once per timed phase, so an untraced run times one compact and one reconf
    val maintenance = if (last && pass > 0) Seq(Compact, Reconf) else Nil
    load ++ (stream(pass) ++ maintenance).flatMap {
      case Get(k) => val s = next(2); Seq(
        get("kv.get", s, k, storeShadow, store.get(Gid, k)),
        cached(get("kv.mem_get", s + 1, k, memShadow, mem.get(Gid, k))))
      case Scan => val s = next(2); Seq(
        scan("kv.scan", s, storeShadow, store.scan(Gid)),
        cached(scan("kv.mem_scan", s + 1, memShadow, mem.scan(Gid))))
      case Put(b) => putOps(b, next(2))
      case Del(k) => val s = next(2); Seq(
        write("kv.del", s, "kv", 1L, 0L) { p => p.call("write")(store.del(Gid, k)); storeShadow -= k },
        cached(write("kv.mem_del", s + 1, "kv", 1L, 0L) { p => p.call("write")(mem.del(Gid, k)); memShadow -= k }))
      case LakeAppend(lb, bs) => lakeOps(lb, bs, next(3))
      case LakeDelete(k) => Seq(write("lake.delete", next(1), "lake", 1L, 0L) { p =>
        p.call("write")(VersionedLake.deleteWhere(spark, lakePath, col("k") === k)); lakeShadow -= k
      })
      case ReadDays(a, b) => Seq(readDays(next(1), a, b))
      case Snap(a, b) => Seq(snapshotRead(next(1), a, b))
      case Compact => Seq(write("lake.compact", next(1), "lake", 0L, 0L) { p =>
        p.call("write")(VersionedLake.compact(spark, lakePath, Gen.dayString(0), Gen.dayString(spec.days - 1)))
      })
      case Reconf => Seq(write("kv.reconf", next(1), "kv", 0L, 0L) { p =>
        p.call("write")(store.reconf(Gid, Buckets))
      })
    }
  }

  override def finalChecks: Seq[Op] = Seq(
    scan("check.store_scan", 0, storeShadow, store.scan(Gid)),
    scan("check.mem_scan", 1, memShadow, mem.scan(Gid)),
    readDays(2, 0, spec.days - 1),
    snapshotRead(3, 0, spec.days - 1))

  def storage(samples: Seq[Sample]): (Long, Long) =
    (bytesOf(storeShadow.values) + bytesOf(sinkShadow) + bytesOf(lakeShadow.values),
      Workload.du(s"$root/store") + Workload.du(sinkPath) + Workload.du(lakePath))

  override def liveRdds(): Set[Int] =
    try mem.scan(Gid).queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    catch { case _: NoSuchElementException => Set.empty }

  override def writeRoot: Option[String] = Some(root)

  override def extraMetrics(samples: Seq[Sample]): Map[String, Double] =
    Map("lake.files_live" -> VersionedLake.snapshot(spark, lakePath).files.size.toDouble)
}

object KvLake {
  sealed trait Step
  final case class Get(key: String) extends Step
  case object Scan extends Step
  final case class Put(batch: Int) extends Step
  final case class Del(key: String) extends Step
  final case class LakeAppend(lakeBatch: Int, batches: Seq[Int]) extends Step
  final case class LakeDelete(key: String) extends Step
  final case class ReadDays(from: Int, to: Int) extends Step
  final case class Snap(from: Int, to: Int) extends Step
  case object Compact extends Step
  case object Reconf extends Step
}
