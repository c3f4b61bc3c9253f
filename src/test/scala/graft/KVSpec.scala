package graft

import org.apache.spark.sql.functions._
import graft.kv.{Mem, Store}

/** KV layer semantics from the reference (mem/store CRUD,
  * test/local.test.js:426-711; sharded ops test/all.test.js:524-847).
  */
class KVSpec extends SparkSessionSpec {
  import spark.implicits._

  def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-kv").toString

  test("store put/get/keys/del round-trip") {
    val store = new Store(spark, freshRoot())
    val df = Seq((1L, "jcarlin"), (2L, "dvass")).toDF("id", "name")
    store.put(df, "users", keyCol = Some("id"))
    assert(store.keys("users").as[String].collect().toSet === Set("1", "2"))
    val got = store.get("users", "1").select("value").as[String].head()
    assert(got.contains("jcarlin"))
    store.del("users", "1")
    assert(store.keys("users").as[String].collect().toSet === Set("2"))
  }

  test("content-addressed default key (getID semantics, id.js:72-78)") {
    val store = new Store(spark, freshRoot())
    val df = Seq(("x", 1), ("y", 2)).toDF("a", "b")
    store.put(df, "g")
    val keys = store.keys("g").as[String].collect()
    assert(keys.length === 2)
    assert(keys.forall(_.matches("[0-9a-f]{64}"))) // sha-256 hex
    // same content ⇒ same key ⇒ idempotent put
    store.put(df, "g")
    assert(store.keys("g").count() === 2)
  }

  test("duplicate key: last write wins (all.student.test.js:230-293)") {
    val store = new Store(spark, freshRoot())
    store.put(Seq((1L, "old")).toDF("id", "v"), "d", Some("id"))
    store.put(Seq((1L, "new")).toDF("id", "v"), "d", Some("id"))
    assert(store.scan("d").count() === 1)
    assert(store.get("d", "1").select("value").as[String].head().contains("new"))
  }

  test("reconf rewrites into n hash buckets (all/store.js:217-285)") {
    val store = new Store(spark, freshRoot())
    store.put((1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"), "r", Some("id"))
    store.reconf("r", 4)
    assert(store.scan("r").count() === 100)
    assert(store.get("r", "42").count() === 1)
  }

  test("point get prunes to one bucket: scans fewer files than the gid holds") {
    val store = new Store(spark, freshRoot(), defaultBuckets = 8)
    store.put((1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      "p", Some("id"))
    val got = store.get("p", "42")
    assert(got.count() === 1)
    got.collect()
    val scan = got.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val scanned = scan.metrics("numFiles").value
    def countParquet(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(countParquet).sum
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    val total = countParquet(new java.io.File(s"${store.rootDir}/p"))
    assert(scanned >= 1 && scanned < total,
      s"expected pruned scan, got $scanned of $total files")
  }

  test("put rewrites only touched buckets") {
    val store = new Store(spark, freshRoot(), defaultBuckets = 8)
    store.put((1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      "t", Some("id"))
    val dir = new java.io.File(s"${store.rootDir}/t")
    def mtimes(): Map[String, Long] =
      dir.listFiles().filter(_.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles().map(_.lastModified()).max).toMap
    val before = mtimes()
    Thread.sleep(1100) // fs mtime granularity
    store.put(Seq((42L, "updated")).toDF("id", "v"), "t", Some("id"))
    val after = mtimes()
    val changed = after.filter { case (k, v) => before.get(k) != Some(v) }
    assert(changed.size === 1, s"expected 1 rewritten bucket, got: $changed")
    assert(store.get("t", "42").select("value").as[String].head()
      .contains("updated"))
    assert(store.scan("t").count() === 100)
  }

  test("Z1 value collapse: Date and null fields round-trip as documented") {
    // SURVEY §1.2: JS Date/undefined/null value corners collapse to JSON
    // strings / nulls. Pin it: a date-bearing and null-bearing row stores
    // as canonical JSON and reads back with the same shape.
    val store = new Store(spark, freshRoot())
    val df = Seq((1L, java.sql.Date.valueOf("2026-08-12"), Option("x")),
      (2L, java.sql.Date.valueOf("1999-01-01"), Option.empty[String]))
      .toDF("id", "d", "s")
    store.put(df, "z", Some("id"))
    val v1 = store.get("z", "1").select("value").as[String].head()
    assert(v1.contains("2026-08-12")) // Date → ISO string in JSON
    val v2 = store.get("z", "2").select("value").as[String].head()
    assert(!v2.contains("\"s\"")) // null field omitted — the documented collapse
    val schema = "id LONG, d DATE, s STRING"
    val back = store.scan("z")
      .select(from_json(col("value"), org.apache.spark.sql.types.StructType.fromDDL(schema)).as("r"))
      .select("r.*").orderBy("id").collect()
    assert(back(0).getDate(1) === java.sql.Date.valueOf("2026-08-12"))
    assert(back(1).isNullAt(2)) // absent field reads back as NULL
  }

  test("placement analog: key→bucket map is deterministic and spread (id.js:107-148)") {
    // The reference asserts its naive/consistent/rendezvous hash placement
    // for fixture keys across 6 nodes (all.test.js:852-1028). Here
    // placement IS the bucket function: assert the same keys place
    // identically in two independent stores (determinism across
    // "clusters"), survive a re-shard, and actually spread.
    val keys = Seq("a", "b", "c", "d", "e", "f", "g", "h",
      "jcarlin", "dvass", "config", "status")
    val df = keys.zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "i")
    val s1 = new Store(spark, freshRoot(), defaultBuckets = 6)
    val s2 = new Store(spark, freshRoot(), defaultBuckets = 6)
    s1.put(df, "g", Some("k")); s2.put(df, "g", Some("k"))
    // physical placement: which bucket dir actually holds each key
    def placement(s: Store): Map[String, String] =
      new java.io.File(s"${s.rootDir}/g").listFiles()
        .filter(_.getName.startsWith("bucket=")).flatMap { bd =>
          spark.read.parquet(bd.toString)
            .select("key").as[String].collect().map(_ -> bd.getName)
        }.toMap
    val p1 = placement(s1)
    assert(p1.keySet === keys.toSet)
    assert(p1 === placement(s2))
    assert(p1.values.toSet.size > 1) // not all on one "node"
    s1.reconf("g", 3)
    keys.foreach(k => assert(s1.get("g", k).count() === 1))
  }

  test("del of the last key leaves a readable empty gid (marker-only dir)") {
    val store = new Store(spark, freshRoot())
    store.put(Seq((1L, "only")).toDF("id", "v"), "e", Some("id"))
    store.del("e", "1")
    // the gid's snapshot now holds no entry; reads must short-circuit to
    // the empty frame, not throw 'Unable to infer schema'
    assert(store.scan("e").count() === 0)
    assert(store.get("e", "1").count() === 0)
    assert(store.keys("e").count() === 0)
    // and a put resurrects it with the pinned bucket count
    store.put(Seq((2L, "back")).toDF("id", "v"), "e", Some("id"))
    assert(store.get("e", "2").select("value").as[String].head()
      .contains("back"))
  }

  test("never-written and marker-only gids read as empty") {
    val store = new Store(spark, freshRoot())
    assert(store.scan("nope").count() === 0)
    assert(store.get("nope", "k").count() === 0)
    store.reconf("pinned", 4) // reconf of an empty gid just commits the count
    assert(store.scan("pinned").count() === 0)
    store.put(Seq((1L, "v")).toDF("id", "v"), "pinned", Some("id"))
    val buckets = new java.io.File(s"${store.rootDir}/pinned").listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName).toSet
    assert(buckets.nonEmpty)
    // bucket ids must come from the PINNED count (4), not defaultBuckets
    assert(buckets.forall(b => b.stripPrefix("bucket=").toInt < 4))
  }

  test("a gid dir of the unversioned layout fails loudly and keeps its files") {
    val store = new Store(spark, freshRoot())
    // the two older layouts: part files at the gid root, and bucket dirs
    // beside a bucket-count marker — data, but no commit log
    Seq(("1", "alpha"), ("2", "beta")).toDF("key", "value")
      .write.parquet(s"${store.rootDir}/flat")
    Seq(("1", "alpha", 0), ("2", "beta", 3)).toDF("key", "value", "bucket")
      .write.partitionBy("bucket").parquet(s"${store.rootDir}/bucketed")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${store.rootDir}/bucketed/_graft_buckets"), "4")
    def files(gid: String): Set[String] = {
      val root = java.nio.file.Paths.get(s"${store.rootDir}/$gid")
      val w = java.nio.file.Files.walk(root)
      try w.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString).toArray.map(_.toString).toSet
      finally w.close()
    }
    for (gid <- Seq("flat", "bucketed")) {
      val before = files(gid)
      val ops: Seq[(String, () => Unit)] = Seq(
        "get" -> (() => store.get(gid, "1").count(): Unit),
        "put" -> (() => store.put(Seq((3L, "c")).toDF("id", "v"), gid, Some("id"))),
        "del" -> (() => store.del(gid, "1")),
        "reconf" -> (() => store.reconf(gid, 4)))
      for ((name, op) <- ops) {
        val e = intercept[IllegalStateException](op())
        assert(e.getMessage.contains("no commit log"), s"$gid $name: ${e.getMessage}")
        assert(files(gid) === before, s"$gid $name touched the files")
      }
    }
  }

  test("store roots on an explicit file:-scheme URI (Hadoop FS control plane)") {
    // The proof the control plane (commit log, staged-file moves,
    // tombstone sidecars) goes through org.apache.hadoop.fs.FileSystem:
    // with a java.io.File control plane a scheme'd root silently read as
    // an EMPTY store (isDirectory("file:/...") is false). Every layout op
    // must behave identically to a plain-path root.
    val store = new Store(spark, s"file:${freshRoot()}")
    val df = (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    store.put(df, "g", Some("id"))
    assert(store.scan("g").count() === 50)
    assert(store.get("g", "7").select("value").as[String].head().contains("v7"))
    // partial rewrite: a second put over the scheme'd root merges
    store.put(Seq((7L, "updated"), (999L, "fresh")).toDF("id", "v"), "g", Some("id"))
    assert(store.scan("g").count() === 51)
    assert(store.get("g", "7").select("value").as[String].head().contains("updated"))
    // del + reconf exercise the tombstone and full-rewrite paths
    store.del("g", "999")
    assert(store.scan("g").count() === 50)
    store.reconf("g", 4)
    assert(store.scan("g").count() === 50)
    assert(store.get("g", "7").select("value").as[String].head().contains("updated"))
  }

  test("driver-side bucket hash == pmod(xxhash64(key), n) over 3,000 keys") {
    // get and del hash the key's bucket on the driver; put and placement
    // hash with Spark's xxhash64 — they must agree on every key
    val keys = "" +: (1 until 3000).map {
      case i if i % 3 == 0 => s"k$i"
      case i if i % 3 == 1 => graft.kv.Placement.getID(i.toString)
      case i => s"ключ-$i-ü-\u00e9\ud83d\ude00"
    }
    for (n <- Seq(1, 7, 32)) {
      val want = keys.toDF("key")
        .select(pmod(xxhash64(col("key")), lit(n.toLong)).cast("int"))
        .as[Int].collect().toSeq
      assert(keys.map(Store.bucketOf(_, n)) === want, s"n = $n")
    }
  }

  test("mem put/get/del with cache") {
    val mem = new Mem
    mem.put(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "m", Some("id"))
    assert(mem.keys("m").as[String].collect().toSet === Set("1", "2"))
    mem.del("m", "2")
    assert(mem.scan("m").count() === 1)
  }
}
