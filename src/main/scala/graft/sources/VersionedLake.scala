package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Day-partitioned lake with a DELTA-MANIFEST COMMIT LOG — the one
  * write protocol of the [[Partitioned]] day layout: ingest (including
  * the streaming sink), compaction and file skipping all go through one
  * atomic manifest commit, so no reader ever sees a day missing or
  * half-rewritten. No reader lists directories at all — the live file
  * set is reconstructed from the commit log under `_commits/`, data
  * files are IMMUTABLE once committed (writers only add files; nothing
  * is deleted until [[vacuum]]), and every write is one atomic manifest
  * publish:
  *
  *  - `_commits/v0000000N.json` — one JSON-lines DELTA per version: a
  *    header line (schema, op, streaming high-water mark, add/remove
  *    counts, and the post-commit `n_files`/`rows`/`bytes` totals so
  *    [[history]] never parses a body), then one line per removed path
  *    and one per added file (relative path, day, rows, bytes, optional
  *    per-column min/max stats, producing op). A commit costs O(its own
  *    files) manifest text no matter how large the lake is — the shape
  *    that keeps a minute-cadence streaming sink viable at 10⁶ files,
  *    where a full-snapshot manifest per batch would be ~10⁸ bytes of
  *    driver JSON per minute;
  *  - `_commits/v0000000N.ckpt.json` — a full-snapshot CHECKPOINT
  *    sidecar every [[CkptInterval]] versions (and at v1, and at the
  *    oldest retained version during [[vacuum]]): [[snapshot]] loads the
  *    nearest checkpoint at-or-below the requested version and replays
  *    at most [[CkptInterval]] deltas on top — never the whole log;
  *  - COMMIT = write the manifest to a hidden temp name, then publish it
  *    at `vN.json` atomically-if-absent: a POSIX hard link (atomic
  *    fail-on-EEXIST, full bytes visible instantly) on `file:` roots, a
  *    rename (refuses an existing destination — the HDFS contract) on
  *    distributed stores. Readers can never observe a half-written
  *    manifest, and two racing committers cannot both win a version —
  *    the loser re-reads the new latest, re-merges, and retries on the
  *    next number. The header's add/remove counts are verified against
  *    the parsed body on every read as a belt-and-braces corruption
  *    tripwire. Object stores without atomic rename-if-absent need an
  *    external lock/conditional-put — the documented Delta-on-S3 caveat,
  *    out of scope here;
  *  - CONFLICT DETECTION: a maintenance commit (compact/delete/upsert/
  *    restore) declares the exact entries it substitutes, each a (path,
  *    deletion vector) pair; if a re-merge after losing a race finds any
  *    of them gone from the new base — removed, or re-published under
  *    another deletion vector — a racing op won those files and replaying
  *    blindly would resurrect its removed rows — the loser ABORTS loudly
  *    instead and must rerun against the new head. Plain appends
  *    (removes = ∅, no read scope) commute with everything and never
  *    abort; a merge-on-read key write aborts even with removes = ∅ when
  *    a racing commit added a file inside its read scope (its key match
  *    never saw that file — see [[commitDelta]]). A commit that would
  *    silently change the table schema aborts the same way — only the
  *    explicit schema ops ([[evolveSchema]], [[restore]], [[importTree]])
  *    may carry a new schema;
  *  - READERS are snapshot-isolated for free: a query plans against the
  *    file list its snapshot reconstructed, and since committed files
  *    are immutable and vacuum-protected, a compaction publishing v+1
  *    mid-query changes nothing the running query references. Time
  *    travel is the same mechanism pointed at an older version;
  *  - every data file (append, compaction, upsert) lands through ONE
  *    helper, [[landStaged]]: staged, moved into its partition dir and
  *    recorded BEFORE the commit, so a crash leaves orphan files that no
  *    manifest references — invisible to every reader, swept by
  *    [[vacuum]] along with files only referenced by expired versions;
  *  - deletes and key writes are MERGE-ON-READ: [[deleteWhere]] and
  *    [[upsert]] record the rows they remove in one deletion-vector
  *    sidecar in the same commit, rewriting no data file
  *    ([[deleteVectors]]); [[compact]] folds the vectors away. A
  *    [[graft.kv.Store]] gid is the same table partitioned by `bucket`
  *    instead of `dt`.
  *
  * Scale shape: appends shuffle once keyed on dt (the [[Partitioned]]
  * small-files discipline), commit payloads are O(delta), compaction
  * rewrites only the days it names, reads open exactly the snapshot's
  * files (day-range pruning is a driver-side filter on the entries — no
  * directory listing of a 10⁵-day tree), and the control plane is all
  * Hadoop FileSystem (file:/hdfs: alike). Snapshot reconstruction parses
  * one checkpoint plus ≤ [[CkptInterval]] deltas of driver JSON — the
  * same order of driver work as Spark's own file index for one scan of
  * the table.
  *
  * Byte counts are on-disk bytes: [[FileEntry]]`.bytes`, the [[history]]
  * totals and [[TargetFileMB]] count the compressed parquet files the
  * session codec wrote (zstd, see [[graft.Engine.session]]), not decoded
  * row bytes.
  */
object VersionedLake {

  private[graft] val CommitDir = "_commits"
  private val VName = """v(\d{8})\.json""".r
  private val CkptName = """v(\d{8})\.ckpt\.json""".r

  /** Full-snapshot checkpoint cadence: snapshot() replays at most this
    * many deltas. 10 balances commit-time amortized checkpoint cost
    * (O(files)/10 per commit) against read-time replay breadth.
    */
  val CkptInterval = 10

  /** [[compact]]'s target file size: a compacted day holds
    * `ceil(bytes / TargetFileMB)` files (floored at `minFilesPerDay`).
    */
  private val TargetFileMB = 128

  /** Days [[compact]] rewrites at once on its driver-side pool — see
    * [[rewriteDays]].
    */
  private val DaysInFlight = 4

  /** One live data file in a snapshot. `path` is root-relative
    * (`dt=YYYY-MM-DD/<name>`), so manifests survive a lake relocation, and
    * `dt` is its partition value. The public lake partitions by day; a
    * [[graft.kv.Store]] gid is a lake partitioned by `bucket`
    * (`bucket=N/<name>`, `dt` = the bucket) — the partition column is the
    * name before the `=` of the path's first component. Only the shared
    * paths serve both (landing, [[scanEntries]], the merge-on-read
    * writes, [[vacuum]]); [[read]]'s day range and [[compact]] are
    * day-only.
    * `stats` carries optional per-column (min, max) string pairs — the
    * data-skipping index living IN the commit log (the Delta/Iceberg
    * arrangement): entries without stats for a column are simply never
    * pruned on it. `src` records the op that produced the file —
    * [[compact]]'s idempotence witness
    * distinguishes genuinely range-clustered files (src == "compact")
    * from append files that happen to sit at the file-count bound with
    * coincidental stats.
    *
    * `dv` is an optional DELETION VECTOR: the root-relative path of a
    * tombstone sidecar (parquet of `(path, pos)` rows) listing the
    * file's deleted row positions — merge-on-read deletes
    * ([[deleteWhere]], [[upsert]], the store's put and del) tombstone
    * instead of rewriting, and every read anti-applies the
    * positions. When set, `rows` counts the
    * LIVE rows (physical minus tombstoned) so history totals and rewrite
    * tripwires stay truthful; `stats` keep their pre-delete bounds —
    * a conservative over-approximation that stays SOUND for pruning.
    */
  final case class FileEntry(path: String, dt: String, rows: Long,
      bytes: Long, stats: Map[String, (String, String)] = Map.empty,
      src: String = "append", dv: Option[String] = None)

  /** A committed version: the table schema plus its full live-file set
    * (reconstructed from the log). The version number is carried by the
    * manifest FILE NAME (the atomic publish is on the name), never
    * duplicated inside the content. `lastBatchId` is the streaming
    * high-water mark (see [[appendBatch]]; -1 when no batch commit has
    * happened).
    */
  final case class Snapshot(version: Long, schema: StructType,
      files: Seq[FileEntry], lastBatchId: Long = -1L, op: String = "")

  /** One line of [[history]]: what each commit did, at a glance — read
    * from headers only (O(versions) driver work, never O(files)).
    */
  final case class Commit(version: Long, op: String, nAdds: Int,
      nRemoves: Int, nFiles: Int, rows: Long, bytes: Long,
      lastBatchId: Long)

  /** A parsed manifest (delta or checkpoint): header + body. */
  private[sources] final case class Manifest(op: String, schema: StructType,
      lastBatchId: Long, nAdds: Int, nRemoves: Int, nFiles: Int,
      rows: Long, bytes: Long, removes: Seq[String], adds: Seq[FileEntry])

  private[sources] def fsOf(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[sources] def commitPath(root: Path, v: Long) =
    new Path(root, f"$CommitDir/v$v%08d.json")
  private def ckptPath(root: Path, v: Long) =
    new Path(root, f"$CommitDir/v$v%08d.ckpt.json")

  /** A partition dir (`dt=DAY`, `bucket=N`): never a hidden stage
    * (`.vstage_*`) or a log dir (`_commits`, `_dv`).
    */
  private def isPartDir(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    s.isDirectory && n.contains('=') && !n.startsWith(".") && !n.startsWith("_")
  }

  /** One listing of `_commits`: (delta versions, checkpoint versions). */
  private def listCommits(fs: FileSystem, root: Path): (Seq[Long], Seq[Long]) = {
    val dir = new Path(root, CommitDir)
    if (!fs.exists(dir)) (Nil, Nil)
    else {
      val names = fs.listStatus(dir).toSeq.collect {
        case s if s.isFile => s.getPath.getName
      }
      (names.collect { case VName(n) => n.toLong }.sorted,
        names.collect { case CkptName(n) => n.toLong }.sorted)
    }
  }

  // ---------------------------------------------------------------------
  // Manifest serialization
  // ---------------------------------------------------------------------

  private def manifestText(op: String, schema: StructType, hwm: Long,
      removes: Seq[String], adds: Seq[FileEntry],
      totals: (Int, Long, Long)): String = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val sb = new StringBuilder
    val head = om.createObjectNode()
    head.put("schema", schema.json)
    head.put("op", op)
    head.put("last_batch_id", hwm)
    head.put("n_adds", adds.length)
    head.put("n_removes", removes.length)
    head.put("n_files", totals._1)
    head.put("rows", totals._2)
    head.put("bytes", totals._3)
    sb.append(om.writeValueAsString(head)).append('\n')
    removes.sorted.foreach { p =>
      val n = om.createObjectNode()
      n.put("remove", p)
      sb.append(om.writeValueAsString(n)).append('\n')
    }
    adds.sortBy(f => (f.dt, f.path)).foreach { f =>
      val n = om.createObjectNode()
      n.put("path", f.path)
      n.put("dt", f.dt)
      n.put("rows", f.rows)
      n.put("bytes", f.bytes)
      n.put("src", f.src)
      f.dv.foreach(d => n.put("dv", d))
      if (f.stats.nonEmpty) {
        val st = n.putObject("stats")
        f.stats.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
          val cn = st.putObject(c)
          cn.put("min", mn)
          cn.put("max", mx)
        }
      }
      sb.append(om.writeValueAsString(n)).append('\n')
    }
    sb.toString
  }

  /** Decode a manifest's header line (`line` is null past the end of
    * the file); the entry lists are left empty.
    */
  private def decodeHeader(
      om: com.fasterxml.jackson.databind.ObjectMapper,
      line: String, where: String): Manifest = {
    require(line != null && line.nonEmpty,
      s"VersionedLake: empty manifest at $where")
    val h = om.readTree(line)
    Manifest(h.get("op").asText(),
      org.apache.spark.sql.types.DataType
        .fromJson(h.get("schema").asText()).asInstanceOf[StructType],
      h.get("last_batch_id").asLong(), h.get("n_adds").asInt(),
      h.get("n_removes").asInt(), h.get("n_files").asInt(),
      h.get("rows").asLong(), h.get("bytes").asLong(), Nil, Nil)
  }

  private def parseManifest(text: String, where: String): Manifest = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    val header = decodeHeader(om, lines.headOption.orNull, where)
    val removes = Seq.newBuilder[String]
    val adds = Seq.newBuilder[FileEntry]
    lines.tail.foreach { l =>
      val n = om.readTree(l)
      if (n.has("remove")) removes += n.get("remove").asText()
      else {
        val stats =
          if (!n.has("stats")) Map.empty[String, (String, String)]
          else {
            val it = n.get("stats").fields()
            val b = Map.newBuilder[String, (String, String)]
            while (it.hasNext) {
              val e = it.next()
              b += e.getKey -> (e.getValue.get("min").asText(),
                e.getValue.get("max").asText())
            }
            b.result()
          }
        adds += FileEntry(n.get("path").asText(), n.get("dt").asText(),
          n.get("rows").asLong(), n.get("bytes").asLong(), stats,
          if (n.has("src")) n.get("src").asText() else "append",
          if (n.has("dv")) Some(n.get("dv").asText()) else None)
      }
    }
    val m = header.copy(removes = removes.result(), adds = adds.result())
    require(m.adds.length == m.nAdds && m.removes.length == m.nRemoves,
      s"VersionedLake: manifest $where is truncated — header declares " +
        s"${m.nAdds}+${m.nRemoves} entries, parsed " +
        s"${m.adds.length}+${m.removes.length}")
    m
  }

  /** Read + validate one manifest file. Publication is atomic (hard
    * link / rename-if-absent), so a count mismatch means storage-level
    * corruption, not a commit race — a short retry covers eventually-
    * visible metadata, then it fails LOUDLY rather than silently
    * serving a truncated file list.
    */
  private[sources] def readManifestFile(fs: FileSystem, p: Path): Manifest = {
    var result: Manifest = null
    var lastErr: Throwable = null
    var i = 0
    while (result == null && i < 3) {
      if (i > 0) Thread.sleep(50L * i)
      try {
        val in = fs.open(p)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        result = parseManifest(text, p.toString)
      } catch {
        // NonFatal, not just the require tripwire: a truncated manifest
        // can also surface as a Jackson parse error or an IO hiccup, and
        // those deserve the same eventually-visible retry (r11 ADVICE)
        case scala.util.control.NonFatal(e) => lastErr = e
      }
      i += 1
    }
    if (result == null) throw lastErr
    result
  }

  /** Parse only the header line — history / high-water-mark reads never
    * pay for the body.
    */
  private def readHeader(fs: FileSystem, p: Path): Manifest = {
    val in = fs.open(p)
    val line =
      try new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8")).readLine()
      finally in.close()
    decodeHeader(new com.fasterxml.jackson.databind.ObjectMapper(), line,
      p.toString)
  }

  /** Publish `text` at `dst` iff `dst` does not exist, ATOMICALLY — the
    * commit-claim primitive. The bytes are written to a hidden temp name
    * first, then linked/renamed into place, so no reader can observe a
    * partial manifest and no two committers can both win a name:
    * `file:` roots use a POSIX hard link (link(2) fails EEXIST
    * atomically; the full content appears in one shot); other schemes
    * use rename, which the HDFS FileSystem contract makes fail when the
    * destination exists. Returns false when the name was already taken
    * (the optimistic-concurrency loser). The temp file is always
    * consumed.
    */
  private def publishIfAbsent(fs: FileSystem, root: Path, dst: Path,
      text: String): Boolean = {
    fs.mkdirs(new Path(root, CommitDir))
    val tmp = new Path(root,
      s"$CommitDir/.tmp-${java.util.UUID.randomUUID.toString.take(12)}")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    val won =
      if (fs.getScheme == "file")
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(fs.makeQualified(dst).toUri),
            java.nio.file.Paths.get(fs.makeQualified(tmp).toUri))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: UnsupportedOperationException =>
            !fs.exists(dst) && fs.rename(tmp, dst)
        }
      else
        // a lost race shows as rename returning false (the HDFS
        // destination-exists contract) or FileAlreadyExists; any OTHER
        // IOException is a real store fault and must surface, not spin
        // the commit loop to "contention exceeded" (r11 ADVICE)
        try !fs.exists(dst) && fs.rename(tmp, dst)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
        }
    fs.delete(tmp, false): Unit // no-op when a rename consumed it
    won
  }

  // ---------------------------------------------------------------------
  // Snapshot reconstruction
  // ---------------------------------------------------------------------

  /** Highest committed version, or None for a virgin root. */
  def latestVersion(spark: SparkSession, path: String): Option[Long] = {
    val root = new Path(path)
    listCommits(fsOf(spark, root), root)._1.lastOption
  }

  /** Streaming high-water mark of the latest commit (-1 before any batch
    * commit) — one header read, never a body parse.
    */
  def lastBatchId(spark: SparkSession, path: String): Long = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    listCommits(fs, root)._1.lastOption
      .map(v => readHeader(fs, commitPath(root, v)).lastBatchId)
      .getOrElse(-1L)
  }

  /** Load a committed snapshot (latest when `version` is None): nearest
    * checkpoint at-or-below the version, plus ≤ [[CkptInterval]] delta
    * replays on top. Adds replace same-path entries (paths are unique
    * per job UUID, so this only matters for replayed duplicate commits);
    * the final file list is canonically (dt, path)-sorted.
    */
  def snapshot(spark: SparkSession, path: String,
      version: Option[Long] = None): Snapshot = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val (versions, ckpts) = listCommits(fs, root)
    val v = version.orElse(versions.lastOption).getOrElse(
      sys.error(s"VersionedLake: no committed version under $path"))
    snapshotOf(fs, root, versions, ckpts, v)
  }

  /** The latest snapshot, or None for a virgin root — one listing. */
  private[graft] def latest(spark: SparkSession, path: String)
      : Option[Snapshot] = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val (versions, ckpts) = listCommits(fs, root)
    versions.lastOption.map(snapshotOf(fs, root, versions, ckpts, _))
  }

  private def snapshotOf(fs: FileSystem, root: Path, versions: Seq[Long],
      ckpts: Seq[Long], v: Long): Snapshot = {
    val path = root.toString
    if (!versions.contains(v))
      sys.error(s"VersionedLake: version $v does not exist under $path " +
        "(expired by vacuum?)")
    val start = ckpts.filter(_ <= v).lastOption
    var files: Seq[FileEntry] = Nil
    var last: Manifest = null
    start.foreach { c =>
      last = readManifestFile(fs, ckptPath(root, c))
      files = last.adds
    }
    ((start.getOrElse(0L) + 1) to v).foreach { w =>
      if (!versions.contains(w))
        sys.error(s"VersionedLake: version $w needed to replay $v is " +
          s"missing under $path (expired by vacuum?)")
      val m = readManifestFile(fs, commitPath(root, w))
      val dead = m.removes.toSet ++ m.adds.map(_.path)
      files = files.filterNot(f => dead(f.path)) ++ m.adds
      last = m
    }
    Snapshot(v, last.schema, files.sortBy(f => (f.dt, f.path)),
      last.lastBatchId, last.op)
  }

  /** The commit log at a glance, oldest first — one driver-side HEADER
    * read per retained version (totals ride the header at write time;
    * bodies are never parsed). The `op` trail is the audit view: which
    * versions were ingest, which were maintenance, which rolled back
    * what.
    */
  def history(spark: SparkSession, path: String): Seq[Commit] = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    listCommits(fs, root)._1.map { v =>
      val h = readHeader(fs, commitPath(root, v))
      Commit(v, h.op, h.nAdds, h.nRemoves, h.nFiles, h.rows, h.bytes,
        h.lastBatchId)
    }
  }

  /** TIMESTAMP-based time travel (Delta's `TIMESTAMP AS OF`): the
    * highest version whose manifest was published at-or-before
    * `tsMillis` — commit time is the manifest file's store timestamp
    * (publish is atomic, so the mtime IS the moment the version became
    * visible to readers). One listing, no header reads. Errors when
    * every retained version is newer (the cure is a version read or a
    * later timestamp); a timestamp after the last commit reads the
    * head, like Delta.
    */
  def versionAt(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val versions = listCommits(fs, root)._1
    require(versions.nonEmpty, s"VersionedLake: no committed version under $path")
    val atOrBefore = versions.filter(v =>
      fs.getFileStatus(commitPath(root, v)).getModificationTime <= tsMillis)
    atOrBefore.lastOption.getOrElse(
      sys.error(s"VersionedLake: no version of $path existed at " +
        s"${java.time.Instant.ofEpochMilli(tsMillis)} — the oldest " +
        s"retained commit (v${versions.head}) is newer (earlier versions " +
        "may have been vacuumed)"))
  }

  /** [[read]] pinned to the snapshot visible at `tsMillis`. */
  def readAt(spark: SparkSession, path: String, tsMillis: Long,
      fromDay: String = "0000-01-01", toDay: String = "9999-12-31")
      : DataFrame =
    read(spark, path, Some(versionAt(spark, path, tsMillis)), fromDay, toDay)

  // ---------------------------------------------------------------------
  // Commit
  // ---------------------------------------------------------------------

  /** Same columns and types — field order is layout, not identity. */
  private def sameSchema(a: StructType, b: StructType): Boolean = {
    def cols(s: StructType) =
      s.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
    cols(a) == cols(b)
  }

  /** Optimistic-concurrency commit loop over a DELTA intent: re-read the
    * latest snapshot, validate the intent still applies, publish
    * `adds`/`removes` as the next version's manifest. Intent validation
    * on every attempt (including the first — the base may have advanced
    * since the caller read its snapshot):
    *
    *  - every removed entry must still be live in the base with the
    *    deletion vector this op read. A missing one means a racing
    *    commit substituted entries this op derived its rewrites from —
    *    replaying blindly would resurrect the winner's removed rows. A
    *    path still live under ANOTHER deletion vector is the same
    *    hazard: a racing merge-on-read write re-published it with
    *    tombstones this op's substitute never saw. The loser gets a loud
    *    error and must rerun against the new head. Appends (removes = ∅)
    *    trivially pass and commute with every other op;
    *  - the committed schema must match the intent's schema unless the
    *    op explicitly changes it (`allowSchemaChange`) — a maintenance
    *    op racing an [[evolveSchema]] would otherwise re-publish the old
    *    schema or write rewrites missing the new column;
    *  - with `readScope = (version, reads)` (a merge-on-read key write),
    *    no commit after `version` may have added a NEW file (not a
    *    re-published path) that `reads` says the op's match scan would
    *    have opened — Delta's concurrent-append check. Otherwise two
    *    writes inserting the same new key both land on the append path
    *    (neither substitutes an entry) and the key holds two rows. While
    *    the head is still `version` the check costs nothing.
    *
    * After winning version v, a full-snapshot checkpoint sidecar is
    * written at v1 and every [[CkptInterval]]-th version (idempotent —
    * the same atomic publish, skipped if present).
    *
    * COST: a pure-append commit (removes = ∅) that is not a checkpoint
    * version runs entirely off the base HEADER — schema check, streaming
    * high-water mark, and the running totals all ride it, and add paths
    * are fresh per-job UUIDs so they cannot collide with live entries.
    * The streaming sink's steady state is therefore one header read +
    * O(batch) manifest text per micro-batch, with the O(files) snapshot
    * parse paid only every [[CkptInterval]]-th commit (amortized — the
    * Delta checkpoint discipline). Maintenance commits always parse the
    * base in full: conflict detection needs the live path set.
    */
  private[graft] def commitDelta(spark: SparkSession, root: Path,
      schema: StructType, adds: Seq[FileEntry], removes: Seq[FileEntry],
      batchId: Option[Long] = None, op: String = "append",
      allowSchemaChange: Boolean = false,
      readScope: Option[(Long, FileEntry => Boolean)] = None): Long = {
    val fs = fsOf(spark, root)
    def schemaConflict(committed: StructType): Unit =
      if (!allowSchemaChange && !sameSchema(committed, schema))
        sys.error(s"VersionedLake: commit conflict on $op — the " +
          s"table schema changed concurrently (committed " +
          s"${committed.simpleString}, op carries ${schema.simpleString})")
    // versions up to `clean` are known to add nothing the op reads
    var clean = readScope.fold(Long.MaxValue)(_._1)
    def appendConflict(base: Long): Unit = readScope.foreach { case (read, reads) =>
      ((clean + 1L) to base).foreach { w =>
        val m = readManifestFile(fs, commitPath(root, w))
        val republished = m.removes.toSet
        m.adds.find(a => !republished(a.path) && reads(a)).foreach { a =>
          sys.error(s"VersionedLake: concurrent commit conflict on $op — " +
            s"version $w added ${a.path} where this op matched keys " +
            s"against version $read; rerun the op against " +
            "the new head")
        }
      }
      clean = math.max(clean, base)
    }
    val addPaths = adds.map(_.path).toSet
    val removePaths = removes.map(_.path).toSet
    var attempt = 0
    while (attempt < 50) {
      val base = listCommits(fs, root)._1.lastOption
      val v = base.map(_ + 1L).getOrElse(1L)
      val headerOnly = base.isDefined && removes.isEmpty &&
        v % CkptInterval != 0L
      val won =
        if (headerOnly) {
          val h = readHeader(fs, commitPath(root, base.get))
          schemaConflict(h.schema)
          appendConflict(base.get)
          val hwm = math.max(h.lastBatchId, batchId.getOrElse(-1L))
          val totals = (h.nFiles + adds.length,
            h.rows + adds.map(_.rows).sum,
            h.bytes + adds.map(_.bytes).sum)
          publishIfAbsent(fs, root, commitPath(root, v),
            manifestText(op, schema, hwm, Nil, adds, totals))
        } else {
          val (baseFiles, prevBatch) = base match {
            case Some(b) =>
              val s = snapshot(spark, root.toString, Some(b))
              schemaConflict(s.schema)
              (s.files, s.lastBatchId)
            case None => (Seq.empty[FileEntry], -1L)
          }
          val baseKeys = baseFiles.iterator.map(f => (f.path, f.dv)).toSet
          val gone = removes.filterNot(e => baseKeys((e.path, e.dv)))
          if (gone.nonEmpty)
            sys.error(s"VersionedLake: concurrent commit conflict on $op — " +
              s"${gone.size} entries this op substitutes were already " +
              "removed or re-tombstoned by another commit (e.g. " +
              s"${gone.head.path}); rerun the op against the new head")
          base.foreach(appendConflict)
          val merged = (baseFiles.filterNot(f =>
            removePaths(f.path) || addPaths(f.path)) ++ adds)
            .sortBy(f => (f.dt, f.path))
          val hwm = math.max(prevBatch, batchId.getOrElse(-1L))
          val totals =
            (merged.length, merged.map(_.rows).sum, merged.map(_.bytes).sum)
          val ok = publishIfAbsent(fs, root, commitPath(root, v),
            manifestText(op, schema, hwm, removePaths.toSeq, adds, totals))
          if (ok && (v == 1L || v % CkptInterval == 0L)) {
            val ckpt = manifestText(op, schema, hwm, Nil, merged, totals)
            publishIfAbsent(fs, root, ckptPath(root, v), ckpt): Unit
          }
          ok
        }
      if (won) return v
      attempt += 1 // lost the race — replay the intent on the new latest
    }
    sys.error("VersionedLake: commit contention exceeded 50 attempts")
  }

  // ---------------------------------------------------------------------
  // Ingest
  // ---------------------------------------------------------------------

  /** Manifest entries, tagged `src`, for `(partition dir, name, bytes)`
    * files that already sit in their live partition dirs under `base`:
    * per-file row counts (and optional per-column min/max strings) from
    * one tiny metadata job over just the listed files, keyed by the last
    * two path components (`dt=DAY/name` — basenames alone collide when
    * one writer task holds two days). `schema` is the files' data schema,
    * so no job infers it.
    */
  private def entriesOf(spark: SparkSession, base: String,
      files: Seq[(String, String, Long)], schema: StructType,
      statsCols: Seq[String], src: String): Seq[FileEntry] =
    if (files.isEmpty) Nil
    else {
      val aggs = count(lit(1)).as("rows") +: statsCols.flatMap(c => Seq(
        min(col(c)).cast("string").as(s"min:$c"),
        max(col(c)).cast("string").as(s"max:$c")))
      val stats = spark.read.schema(schema)
        .parquet(files.map { case (dir, name, _) => s"$base/$dir/$name" }: _*)
        .select(col("_metadata.file_path").as("f") +: statsCols.map(col): _*)
        .groupBy("f").agg(aggs.head, aggs.tail: _*).collect()
        .map { r =>
          val key = r.getString(0).split('/').takeRight(2).mkString("/")
          val ranges = statsCols.zipWithIndex.flatMap { case (c, i) =>
            val (mn, mx) = (r.getString(2 + 2 * i), r.getString(3 + 2 * i))
            if (mn == null || mx == null) None else Some(c -> (mn, mx))
          }.toMap
          key -> (r.getLong(1), ranges)
        }.toMap
      files.map { case (dir, name, len) =>
        val (rows, ranges) = stats.getOrElse(s"$dir/$name",
          (0L, Map.empty[String, (String, String)]))
        FileEntry(s"$dir/$name", dir.substring(dir.indexOf('=') + 1), rows,
          len, ranges, src)
      }
    }

  /** THE staged-file path of every data write: `write` lays the op's
    * frame out as `dt=<day>/part-*` (or `bucket=N/part-*`) files under a
    * fresh `.vstage_<tag>_*` dir (the prefix [[vacuum]] sweeps); each part
    * file is renamed into its live partition dir (part names carry a
    * per-job UUID, so moves never collide), the stage is deleted, and the
    * moved files are recorded tagged `src`; with `expectRows` they must
    * hold exactly that many rows. Nothing commits here: the files stay
    * invisible orphans until a caller publishes them. Stats are read
    * AFTER the move — Spark's file index silently drops a dot-hidden
    * stage root. `schema` is the data schema `write` lays out.
    */
  private def landStaged(spark: SparkSession, root: Path, tag: String,
      schema: StructType, statsCols: Seq[String], src: String,
      expectRows: Option[Long] = None)(write: String => Unit): Seq[FileEntry] = {
    val fs = fsOf(spark, root)
    val stage = new Path(root,
      s".vstage_${tag}_${java.util.UUID.randomUUID.toString.take(8)}")
    write(stage.toString)
    val moved = fs.listStatus(stage).filter(isPartDir).flatMap { partDir =>
      val dir = partDir.getPath.getName
      val live = new Path(root, dir)
      fs.mkdirs(live)
      fs.listStatus(partDir.getPath)
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        .map { f =>
          val target = new Path(live, f.getPath.getName)
          if (!fs.rename(f.getPath, target))
            throw new java.io.IOException(
              s"VersionedLake: rename ${f.getPath} -> $target failed")
          (dir, f.getPath.getName, f.getLen)
        }
    }.toSeq
    fs.delete(stage, true): Unit
    val entries =
      entriesOf(spark, fs.makeQualified(root).toString, moved, schema,
        statsCols, src)
    expectRows.foreach { want =>
      val got = entries.map(_.rows).sum
      require(got == want,
        s"VersionedLake: $tag rewrote $got rows, expected $want")
    }
    entries
  }

  /** Stage `df` partitioned by the day of its `ts`, move the files into
    * the day dirs, and publish them in one atomic commit. Returns the
    * committed version. Crash-safe: files without a manifest entry are
    * invisible orphans until [[vacuum]] sweeps them. `statsCols` records
    * per-file min/max in the manifest for [[readBands]] skipping (append
    * files carry whatever ranges the shuffle produced — coarse until
    * [[compact]] clusters them tight).
    */
  def append(df: DataFrame, path: String, statsCols: Seq[String] = Nil): Long =
    appendInternal(df, path, statsCols, batchId = None)

  /** One micro-batch's EXACTLY-ONCE append (the streaming sink unit —
    * see [[sink]]): foreachBatch is at-least-once, and idempotence is
    * one header check — the manifest's `last_batch_id` high-water mark
    * is committed ATOMICALLY WITH the files it covers, so
    *  - a replayed batch whose id is ≤ the mark returns without writing
    *    (its rows are provably in the snapshot — same commit);
    *  - a half-done replay (files moved, commit lost) left only
    *    manifest-less orphans: invisible to readers, swept by [[vacuum]],
    *    and the re-run moves fresh uniquely-named files and commits them
    *    exactly once.
    * Assumes ONE streaming writer per lake (batch ids from one
    * checkpoint are monotone — the Structured Streaming contract);
    * concurrent BATCH appends/compactions still commute with it. Cost
    * per batch: one header read for the replay check, O(batch) manifest
    * text for the commit — never O(lake files).
    */
  def appendBatch(df: DataFrame, path: String, batchId: Long): Long = {
    val spark = df.sparkSession
    latestVersion(spark, path) match {
      case Some(v) if lastBatchId(spark, path) >= batchId =>
        v // replay of a fully-committed batch — nothing to do
      case _ => appendInternal(df, path, Nil, Some(batchId))
    }
  }

  /** Run an append-mode streaming DataFrame into the versioned lake:
    * each micro-batch is one [[appendBatch]] commit, so the stream gets
    * snapshot-isolated readers and exactly-once replays. Maintenance
    * ([[compact]], [[vacuum]]) is the caller's, run between batches like
    * any other commit.
    */
  def sink(df: DataFrame, path: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          // No batch pin here, unlike KVSink: that sink runs TWO
          // actions per batch (a probe plus the write) on the batch
          // lineage, so it must checkpoint it to keep the actions
          // consistent. This sink's batch lineage executes in exactly
          // ONE action — the staged write inside appendBatch (the stats
          // job reads the WRITTEN FILES, not the lineage) — so a pin
          // here was one full extra materialization job per micro-batch
          // for nothing (r13, guide §1.2; measured on the s20–s22 lake
          // streaming queries).
          appendBatch(batch.toDF(), path, batchId): Unit
      }
      .start()

  /** Open the lake as a STREAMING SOURCE tailing the commit log (the
    * [[sink]]'s read twin — see [[LakeSource]] for the contract): the
    * stream's offset is the commit VERSION, checkpointed by Structured
    * Streaming, so a restart resumes at the exact high-water mark and no
    * version is double-read. First batch = the current snapshot; each
    * later batch = the next versions' appended files only. Lake→lake
    * stages compose exactly-once with [[sink]] on the write side.
    *
    * With `cdc = true` the stream is the CHANGE FEED itself (rows carry
    * `_change_type` ∈ insert/delete; history rewrites are data, not
    * failures).
    */
  def source(spark: SparkSession, path: String, cdc: Boolean = false)
      : DataFrame =
    spark.readStream
      .format("graft.sources.LakeSourceProvider")
      .option("path", path)
      .option("cdc", cdc.toString)
      .load()

  private def appendInternal(df: DataFrame, path: String,
      statsCols: Seq[String], batchId: Option[Long]): Long =
    commitDelta(df.sparkSession, new Path(path), df.drop("dt").schema,
      stageAndMove(df.withColumn("dt", Partitioned.Day), path, "dt",
        statsCols), Nil,
      batchId, if (batchId.isDefined) "append-batch" else "append")

  /** Land `df` partitioned by its column `part` through [[landStaged]]
    * and return its manifest entries WITHOUT committing
    * ([[appendInternal]] commits them alone; [[mergeByKey]] folds them
    * into one commit with the rows they shadow).
    */
  private[graft] def stageAndMove(df: DataFrame, path: String, part: String,
      statsCols: Seq[String], expectRows: Option[Long] = None)
      : Seq[FileEntry] = {
    val spark = df.sparkSession
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val schema = df.drop(part).schema
    // schema drift guard: committed files are immutable and read as an
    // explicit list, so a divergent append would poison the table with
    // mixed file schemas that surface as silent column loss on read —
    // fail LOUDLY at the write boundary instead (field order is layout,
    // not identity). ADDITIVE evolution is the explicit [[evolveSchema]]
    // commit; anything else is a new lake + an explicit backfill.
    latestVersion(spark, path) match {
      case Some(v) =>
        val committed = readHeader(fs, commitPath(root, v)).schema
        require(sameSchema(schema, committed),
          s"VersionedLake: append schema ${schema.simpleString} does not " +
            s"match the committed schema ${committed.simpleString}")
      case None =>
        // the log dir exists before any data file lands, so
        // Partitioned.readDays reads a virgin lake through its (empty)
        // log and never lists a crashed first append's orphans
        fs.mkdirs(new Path(root, CommitDir)): Unit
    }
    landStaged(spark, root, "append", schema, statsCols, "append",
        expectRows)(stage =>
      df.repartition(col(part))
        .write.mode("overwrite").partitionBy(part).parquet(stage))
  }

  // ---------------------------------------------------------------------
  // Read
  // ---------------------------------------------------------------------

  /** Root-relative `dt=DAY/name` of a scan's absolute file path — the
    * join key between `_metadata.file_path` and manifest entry paths.
    */
  private def relPathCol(c: org.apache.spark.sql.Column) =
    concat_ws("/", slice(split(c, "/"), -2, 2))

  /** The `(path, pos)` rows of a deletion-vector sidecar. */
  private val DvSchema = StructType.fromDDL("path STRING, pos BIGINT")

  /** Write `pos`'s `(path, pos)` rows as ONE deletion-vector sidecar
    * under `_dv/` — staged under `.vstage_dv_*`, then renamed into place
    * — and return its root-relative path. The positions never leave the
    * executors. Until a commit references it, the sidecar is an orphan
    * that [[vacuum]] sweeps.
    */
  private def writeDv(spark: SparkSession, root: Path, pos: DataFrame): String = {
    val fs = fsOf(spark, root)
    val stage = new Path(root,
      s".vstage_dv_${java.util.UUID.randomUUID.toString.take(8)}")
    // one sidecar file keeps the manifest O(touched entries)
    pos.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = fs.listStatus(stage)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    require(part.length == 1,
      s"VersionedLake: dv sidecar stage holds ${part.length} files")
    fs.mkdirs(new Path(root, "_dv"))
    val rel = s"_dv/dv-${java.util.UUID.randomUUID.toString.take(12)}.parquet"
    if (!fs.rename(part.head.getPath, new Path(root, rel)))
      throw new java.io.IOException(
        s"VersionedLake: rename ${part.head.getPath} -> $rel failed")
    fs.delete(stage, true): Unit
    rel
  }

  /** The tombstoned `(path, pos)` rows of the given dv'd entries, as a
    * scan: each distinct sidecar once, keeping only the paths whose
    * CURRENT entry still references it (a later compaction may have
    * materialized a sibling's tombstones out of a shared sidecar — its
    * positions must not resurrect as someone else's deletes). The schema
    * is given, so no job infers it.
    */
  private def dvFrame(spark: SparkSession, path: String,
      dvd: Seq[FileEntry]): DataFrame = {
    val base = qualified(spark, path)
    dvd.groupBy(_.dv.get).toSeq.sortBy(_._1).map { case (dvp, es) =>
      spark.read.schema(DvSchema).parquet(s"$base/$dvp")
        .filter(col("path").isin(es.map(_.path): _*))
    }.reduce(_.union(_))
  }

  /** The lake root as a fully qualified URI — the prefix of every file
    * path a scan hands Spark.
    */
  private def qualified(spark: SparkSession, path: String): String = {
    val root = new Path(path)
    fsOf(spark, root).makeQualified(root).toString
  }

  /** THE snapshot scan, and every reader's one way into the lake's
    * files: read `entries` of the lake at `path` as (schema columns +
    * their partition column `part`, as a string), with every entry's
    * deletion vector anti-applied. Entries without a dv plan exactly the
    * pre-dv scan (no metadata columns, no join — the hot path is
    * untouched when no tombstones exist); dv'd entries scan with
    * `_metadata` (file path, row index) and anti-join their tombstone
    * positions — the merge-on-read contract. The tombstone side is a
    * scan of the sidecars ([[dvFrame]]); statistics/AQE size it, so a few
    * positions broadcast and a large set shuffles — nothing is collected.
    * No entries read as an empty relation, planned without a scan: zero
    * rows in the schema a non-empty scan of the same lake has.
    *
    * `withMeta` keeps `_graft_file` (root-relative path) and
    * `_graft_pos` (row index) in the output — the match scans' handle
    * for per-file accounting.
    */
  private[graft] def scanEntries(spark: SparkSession, path: String,
      schema: StructType, entries: Seq[FileEntry], part: String = "dt",
      withMeta: Boolean = false): DataFrame = {
    val base = qualified(spark, path)
    val metaCols = if (withMeta) Seq("_graft_file", "_graft_pos") else Nil
    val outCols = (schema.fieldNames.toSeq ++ Seq(part) ++ metaCols).map(col)
    def raw(fs: Seq[FileEntry], meta: Boolean) = {
      // the partition column typed in the read schema: its values parse as
      // the strings the paths spell, never inferred as dates or ints
      val reader = spark.read.schema(schema.add(part, "string"))
      val b =
        // no files: the optimizer folds the zero limit into an empty
        // relation, so no scan is planned
        if (fs.isEmpty) reader.parquet().limit(0)
        else reader.option("basePath", base)
          .parquet(fs.map(f => s"$base/${f.path}"): _*)
      if (meta)
        b.withColumn("_graft_file", relPathCol(col("_metadata.file_path")))
          .withColumn("_graft_pos", col("_metadata.row_index"))
      else b
    }
    val (plain, dvd) = entries.partition(_.dv.isEmpty)
    val parts = Seq(
      if (plain.isEmpty && dvd.nonEmpty) None
      else Some(raw(plain, withMeta).select(outCols: _*)),
      if (dvd.isEmpty) None
      else Some {
        val tomb = dvFrame(spark, path, dvd)
        raw(dvd, meta = true)
          .join(tomb, col("_graft_file") === tomb("path") &&
            col("_graft_pos") === tomb("pos"), "left_anti")
          .select(outCols: _*)
      }).flatten
    parts.reduce(_.unionByName(_))
  }

  /** Read a snapshot (latest when `version` is None), day-ranged when
    * bounds are given. Pruning is a driver-side filter on snapshot
    * entries — no directory walks; `basePath` keeps the dt partition
    * column alive on the explicit file list, type-stable with
    * [[Partitioned.readDays]]. The scan carries the SNAPSHOT schema
    * explicitly: after an [[evolveSchema]], files written before the
    * evolution read NULL for the added columns (parquet by-name
    * resolution) instead of poisoning schema inference.
    */
  def read(spark: SparkSession, path: String,
      version: Option[Long] = None,
      fromDay: String = "0000-01-01",
      toDay: String = "9999-12-31"): DataFrame = {
    val snap = snapshot(spark, path, version)
    scanEntries(spark, path, snap.schema,
      snap.files.filter(f => f.dt >= fromDay && f.dt <= toDay))
  }

  /** What a band read decided, exposed for tests/observability: which
    * entries survive, how many were in the day range, how many the
    * commit-log stats skipped.
    */
  final case class PruneReport(
      selected: Seq[String], total: Int, skipped: Int)

  /** Which snapshot entries a read of the CONJUNCTIVE bands
    * `col ∈ [lo, hi]` must open (exposed for tests/observability).
    * Soundness contract:
    *  - an entry is skipped ONLY when its recorded [min, max] on some
    *    band column provably cannot intersect that band (null rows fail
    *    a band predicate, and min/max ignore nulls, so the check is
    *    conservative);
    *  - entries without stats for a column are never pruned on it, so
    *    files committed without stats are never lost;
    *  - the residual predicates still run on every row read, so
    *    pruning is invisible to results by construction.
    * Each column's dtype comes from the snapshot schema. This is the
    * read pattern Z-order exists for: on a (value, user_id)-Morton
    * layout a two-sided band skips strictly more files than either
    * single band, because each file owns a compact hyper-rectangle in
    * BOTH dimensions.
    */
  def bandsReport(spark: SparkSession, path: String,
      bands: Seq[(String, Double, Double)], version: Option[Long] = None,
      fromDay: String = "0000-01-01", toDay: String = "9999-12-31")
      : PruneReport =
    bandsReportOf(snapshot(spark, path, version), bands, fromDay, toDay)

  private def bandsReportOf(snap: Snapshot,
      bands: Seq[(String, Double, Double)],
      fromDay: String, toDay: String): PruneReport = {
    val typed = bands.map { case (c, lo, hi) =>
      (c, snap.schema(c).dataType.simpleString, lo.toString, hi.toString)
    }
    val inDays = snap.files.filter(f => f.dt >= fromDay && f.dt <= toDay)
    val selected = inDays.filter { f =>
      typed.forall { case (c, dtype, lo, hi) =>
        f.stats.get(c) match {
          case Some((mn, mx)) => StatsCompare.overlaps(dtype, mn, mx, lo, hi)
          case None           => true // no recorded range — must read
        }
      }
    }.map(_.path)
    PruneReport(selected, inDays.length,
      inDays.length - selected.length)
  }

  /** Day-ranged CONJUNCTIVE multi-band read: every file pruned whose
    * recorded range on ANY band column provably misses that band
    * ([[bandsReport]]). Result is identical to `read(...)` with all the
    * band filters applied — stats only decide which files open; the
    * predicates still run per row and push into the surviving scans for
    * row-group skipping on the same clustered layout. When pruning
    * proves NO file overlaps, the result is zero rows in the lake's
    * schema. On a Z-ordered layout ([[compact]] `zorder = true`) files
    * are hyper-rectangles in the clustered key space, so a two-sided
    * band skips strictly more files than either single-column band alone
    * (VersionedLakeSpec pins that).
    */
  def readBands(spark: SparkSession, path: String,
      bands: Seq[(String, Double, Double)], version: Option[Long] = None,
      fromDay: String = "0000-01-01", toDay: String = "9999-12-31")
      : DataFrame = {
    require(bands.nonEmpty, "readBands: no bands given")
    val snap = snapshot(spark, path, version)
    val picked = bandsReportOf(snap, bands, fromDay, toDay).selected.toSet
    bands.foldLeft(scanEntries(spark, path, snap.schema,
        snap.files.filter(f => picked(f.path)))) { case (df, (c, lo, hi)) =>
      df.filter(col(c) >= lo && col(c) <= hi)
    }
  }

  // ---------------------------------------------------------------------
  // Maintenance
  // ---------------------------------------------------------------------

  /** Compact each day in [fromDay, toDay] of the LATEST snapshot down to
    * `ceil(bytes / TargetFileMB)` files (floored at `minFilesPerDay`) and
    * publish the substitution atomically. Readers of older versions keep
    * their files — nothing is deleted here ([[vacuum]] reclaims), so the
    * day dirs hold both generations until then and only the commit log
    * tells them apart ([[Partitioned.readDays]] reads through it). Days
    * already at-or-under their bound are skipped when their entries were
    * PRODUCED by a clustered compaction (src == "compact" with stats for
    * every manifest column — append files at the bound with coincidental
    * stats don't count as clustered; r10 ADVICE). Returns the committed
    * version (the latest version when every day was already compact).
    *
    * `clusterBy` range-partitions + sorts each day on the key, so every
    * output file owns a disjoint key range and the manifest stats it
    * records (for `clusterBy`) make [[readBands]] skip every
    * non-overlapping file.
    *
    * With `zorder = true` and ≥2 numeric `clusterBy` columns, each day
    * is laid out on a Z-ORDER (Morton) key instead of the lexical tuple:
    * every column's value maps to a 16-bit linear bucket between the
    * day's min and max, the buckets' bits interleave into one long, and
    * files own contiguous Z-ranges — compact hyper-rectangles in the
    * key space, so [[readBands]] skips files on ANY clustered column
    * (lexical tuple order gives the trailing columns near-useless
    * ranges). Linear bucketing trades the quantile pass a production
    * Z-order would run for one tiny min/max job per day; skew costs
    * stats RESOLUTION only — file sizes stay balanced because the range
    * partitioner samples the Z values themselves. NULLs bucket to 0
    * (they sort first, as in the lexical layout).
    */
  def compact(spark: SparkSession, path: String,
      fromDay: String, toDay: String, minFilesPerDay: Int = 1,
      clusterBy: Seq[String] = Nil, zorder: Boolean = false): Long = {
    if (zorder) {
      require(clusterBy.nonEmpty, "zorder requires clusterBy columns")
      require(clusterBy.size <= 4, "zorder supports at most 4 columns")
    }
    val root = new Path(path)
    val snap = snapshot(spark, path, None)
    val targetBytes = TargetFileMB.toLong * 1024 * 1024
    val manifestCols = clusterBy.distinct
    // the idempotence witness encodes the LAYOUT, not just "a compaction
    // ran": re-compacting with zorder=true (or a reordered clusterBy)
    // over days laid out lexically on the same columns must re-run, or
    // the Morton layout silently never applies (r11 ADVICE). Unclustered
    // compaction keeps the bare "compact" tag.
    val layoutSrc =
      if (clusterBy.isEmpty) "compact"
      else if (zorder && clusterBy.size >= 2)
        s"compact-z:${clusterBy.mkString(",")}"
      else s"compact:${clusterBy.mkString(",")}"
    def want(entries: Seq[FileEntry]): Int = {
      val bytes = entries.map(_.bytes).sum
      math.max(minFilesPerDay.toLong,
        math.max(1L, (bytes + targetBytes - 1) / targetBytes)).toInt
    }
    // at-bound days are skipped only when a run with THIS layout
    // produced them: src carries the cluster spec as the witness —
    // append files carry stats too, and a lexical layout is not a
    // Z-order layout even on identical columns. A day holding
    // tombstoned files is never "done": compaction is where deletion
    // vectors MATERIALIZE (rows drop out physically, dv refs drop).
    // Entry metadata alone decides, so done days never reach the pool.
    val todo = snap.files.filter(f => f.dt >= fromDay && f.dt <= toDay)
      .groupBy(_.dt).values.filterNot { entries =>
        entries.length <= want(entries) &&
        entries.forall(_.dv.isEmpty) &&
        (manifestCols.isEmpty || entries.forall(e =>
          e.src == layoutSrc && manifestCols.forall(e.stats.contains)))
      }.flatten.toSeq
    if (todo.isEmpty) return snap.version
    val fresh = rewriteDays(spark, root, layoutSrc, manifestCols, todo) { entries =>
      val n = want(entries)
      // dv-applied scan: the rewrite absorbs any tombstones, so the
      // new files are plain and the sidecars become vacuum garbage
      val dayDf = scanEntries(spark, path, snap.schema, entries).drop("dt")
      val laid =
        if (clusterBy.isEmpty) dayDf.coalesce(n)
        else if (zorder && clusterBy.size >= 2) {
          // Z-order: one tiny min/max job per day bounds the bucket
          // mapping, then the interleaved key drives the same
          // range-partition machinery as the lexical path
          clusterBy.foreach { c =>
            require(snap.schema(c).dataType
              .isInstanceOf[org.apache.spark.sql.types.NumericType],
              s"zorder column $c must be numeric")
          }
          val aggExprs = clusterBy.flatMap(c => Seq(
            min(col(c)).cast("double"), max(col(c)).cast("double")))
          val b = dayDf.agg(aggExprs.head, aggExprs.tail: _*).head()
          val buckets = clusterBy.zipWithIndex.map { case (c, i) =>
            if (b.isNullAt(2 * i) || b.isNullAt(2 * i + 1) ||
                b.getDouble(2 * i + 1) <= b.getDouble(2 * i)) lit(0L)
            else {
              val (mn, mx) = (b.getDouble(2 * i), b.getDouble(2 * i + 1))
              // NULL value → NULL ratio → greatest(NULL, 0) = 0
              least(greatest(floor(
                (col(c).cast("double") - mn) / (mx - mn) * 65535.0),
                lit(0.0)), lit(65535.0)).cast("long")
            }
          }
          val k = buckets.length
          // bit b of bucket i lands at position b*k + i
          val z = (0 until 16).flatMap(bit => buckets.zipWithIndex.map {
            case (bc, i) => shiftleft(
              shiftright(bc, bit).bitwiseAND(lit(1L)), bit * k + i)
          }).reduce(_.bitwiseOR(_))
          dayDf.withColumn("_graft_z", z)
            .repartitionByRange(n, col("_graft_z"))
            .sortWithinPartitions(col("_graft_z"))
            .drop("_graft_z")
        }
        // disjoint key ranges per file — tight stats, maximal skipping
        else dayDf.repartitionByRange(n, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
      laid
    }
    // the delta substitutes ONLY what this run rewrote: files a racing
    // append committed meanwhile stay live (append/compact commute);
    // a racing maintenance op over the same entries trips the commit
    // loop's conflict detection instead of resurrecting rows
    commitDelta(spark, root, snap.schema, fresh, todo, op = "compact")
  }

  /** DELETE (the retention/right-to-erasure op a 100 TB training lake
    * cannot live without): remove every row matching `predicate` from
    * the LATEST snapshot, MERGE-ON-READ — the matching row positions are
    * tombstoned in one deletion-vector sidecar with ZERO data-file
    * rewrites ([[deleteVectors]]), and every read anti-applies them.
    * Rows where the predicate is NULL are KEPT (a null is not a match —
    * the SQL DELETE convention). One commit; none when nothing matched.
    *
    * Semantics per snapshot: the new version has the rows filtered out;
    * OLDER versions still carry them (time travel is the audit trail),
    * and the tombstoned rows stay in their data files until a compaction
    * rewrites them. A PHYSICAL purge is therefore `deleteWhere`, then
    * [[compact]] over the touched days (it materializes the vectors — a
    * tombstoned day is never "already done"), then [[vacuum]] down to the
    * post-compaction version.
    *
    * Cost shape: one pinned, dv-applied match scan over the candidate
    * files feeds the per-file counts and the sidecar write. Untouched
    * files keep their entries (and their stats) verbatim; touched ones
    * re-publish pointing at the sidecar. [[deleteBand]] shrinks the
    * candidate set further using manifest stats BEFORE any footer opens —
    * the read-path skipping contract applied to writes.
    */
  def deleteWhere(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column): Long = {
    val snap = snapshot(spark, path, None)
    deleteVectors(spark, path, snap, snap.files, "delete",
      _.filter(coalesce(predicate, lit(false)))) // NULL is not a match
  }

  /** [[deleteWhere]] for a band predicate, with the candidate files
    * pruned by manifest stats first: a file whose recorded [min, max]
    * cannot intersect [lo, hi] provably holds no matches and is never
    * even SCANNED — on a clustered lake a narrow delete touches O(band)
    * files of the whole corpus. Stat-less entries stay candidates
    * (soundness over speed, as on the read path).
    */
  def deleteBand(spark: SparkSession, path: String, bandCol: String,
      lo: Double, hi: Double,
      fromDay: String = "0000-01-01", toDay: String = "9999-12-31"): Long = {
    val snap = snapshot(spark, path, None)
    val picked =
      bandsReportOf(snap, Seq((bandCol, lo, hi)), fromDay, toDay).selected.toSet
    val band = col(bandCol) >= lo && col(bandCol) <= hi
    deleteVectors(spark, path, snap, snap.files.filter(f => picked(f.path)),
      "delete", _.filter(coalesce(band, lit(false))))
  }

  /** Rewrite every touched DAY through [[landStaged]] (tagged `src`,
    * recording `statsCols`) on a bounded driver-side pool of
    * [[DaysInFlight]] threads (Spark sessions are thread-safe; each day
    * is one small job, so overlapping them keeps the cluster busy).
    * `layDay(entries)` gives a day's laid-out frame, which must land the
    * entries' live rows. Returns the new entries; once every day has
    * finished, rethrows the first day's failure. Day-only: the files land
    * under `dt=`, so a `bucket`-partitioned entry is refused.
    */
  private def rewriteDays(spark: SparkSession, root: Path, src: String,
      statsCols: Seq[String], touched: Seq[FileEntry])(
      layDay: Seq[FileEntry] => DataFrame): Seq[FileEntry] = {
    require(touched.forall(_.path.startsWith("dt=")),
      "VersionedLake: compact rewrites day partitions only")
    val byDay = touched.groupBy(_.dt).toSeq.sortBy(_._1)
    def landDay(day: String, entries: Seq[FileEntry]): Seq[FileEntry] = {
      val laid = layDay(entries)
      landStaged(spark, root, s"compact_$day", laid.schema, statsCols, src,
          Some(entries.map(_.rows).sum))(
        stage => laid.write.mode("overwrite").parquet(s"$stage/dt=$day"))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(DaysInFlight, byDay.length)))
    val done = try byDay.map { case (day, entries) =>
        pool.submit[Seq[FileEntry]](() => landDay(day, entries))
      }.map(f => scala.util.Try(f.get()))
    finally pool.shutdownNow()
    done.flatMap(_.fold(e => throw e.getCause, identity))
  }

  /** MERGE-ON-READ removal (deletion vectors — the Delta/Iceberg answer
    * to "right-to-erasure over 100 TB with scattered keys"), shared by
    * [[deleteWhere]]/[[deleteBand]], the upsert ([[mergeByKey]]) and the
    * store's del: instead of rewriting every file that holds a match (a
    * one-row delete would rewrite a whole file), the ROW POSITIONS `matched` selects from
    * the dv-applied scan of `candidates` are recorded in one tombstone
    * sidecar under `_dv/` and each touched entry is re-published pointing
    * at it. The positions stay on the executors: one job pins them, one
    * counts them per file — only those O(touched files) counts reach the
    * driver — and one writes the sidecar ([[writeDv]]). `extra`'s
    * entries (the upsert's landed
    * batch) publish in the SAME commit, so no snapshot holds both row
    * versions of an updated key; nothing commits when both are empty.
    * `reads` (the upsert's match scope) makes that commit refuse a file
    * a racing commit added inside the scope ([[commitDelta]]'s
    * concurrent-append check).
    * The commit is O(matches) sidecar bytes + O(touched entries)
    * manifest text, ZERO data-file rewrites. Every read ([[read]]/
    * [[readBands]]/[[changes]]/maintenance scans) anti-applies the
    * positions; [[compact]] MATERIALIZES them (tombstoned days are never
    * "already done"), which is also how the read-side join debt is paid
    * down — the Delta convention of dv-then-compact.
    *
    * Row identity is the parquet row index within the immutable file
    * (`_metadata.row_index` — stable because committed files are never
    * modified in place). Re-deleting a tombstoned file folds its prior
    * positions into the new sidecar, so an entry always references
    * exactly ONE dv file; orphaned sidecars are swept by [[vacuum]].
    * Entries whose every row is tombstoned are dropped outright. `rows`
    * stays the LIVE count; `stats` keep their (conservative, sound)
    * pre-delete bounds until a compaction tightens them.
    */
  private[graft] def deleteVectors(spark: SparkSession, path: String,
      snap: Snapshot, candidates: Seq[FileEntry], op: String,
      matched: DataFrame => DataFrame,
      extra: Seq[FileEntry] = Nil,
      reads: Option[FileEntry => Boolean] = None): Long = {
    val root = new Path(path)
    val (touched, dvAdds) =
      if (candidates.isEmpty) (Nil, Nil)
      else {
        // (file, position) of every NEW tombstone — the scan is
        // dv-applied, so already-deleted rows never re-match. Pinned on
        // the executors: it feeds both the counts and the sidecar.
        // read under the candidates' own partition column (a store
        // gid's is `bucket`)
        val pos = matched(scanEntries(spark, path, snap.schema, candidates,
            candidates.head.path.takeWhile(_ != '='), withMeta = true))
          .select(col("_graft_file").as("path"), col("_graft_pos").as("pos"))
          .localCheckpoint()
        try {
          // per-file counts: each task counts its own rows and the driver
          // merges the O(touched files × tasks) pairs — no exchange
          val hits = pos.select(col("path")).rdd.mapPartitions { rows =>
            val n = scala.collection.mutable.HashMap.empty[String, Long]
            rows.foreach(r => n(r.getString(0)) = n.getOrElse(r.getString(0), 0L) + 1L)
            n.iterator
          }.collect().groupMapReduce(_._1)(_._2)(_ + _)
          val touched = candidates.filter(e => hits.contains(e.path))
          // fully tombstoned entries are dropped outright
          val kept = touched.filter(e => e.rows > hits(e.path))
          if (kept.isEmpty) (touched, Nil)
          else {
            // prior tombstones of the kept files fold into the NEW sidecar
            // (one dv reference per entry, ever); untouched dv'd files
            // keep referencing their old sidecar — [[dvFrame]] filters per
            // entry, so a shared sidecar serving both stays exact (a
            // dropped entry's positions ride along unreferenced the same
            // way)
            val prior = kept.filter(_.dv.isDefined)
            val dv = writeDv(spark, root,
              if (prior.isEmpty) pos else pos.union(dvFrame(spark, path, prior)))
            (touched, kept.map(e =>
              e.copy(rows = e.rows - hits(e.path), dv = Some(dv), src = op)))
          }
        } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(pos)
      }
    val adds = dvAdds ++ extra
    if (touched.isEmpty && adds.isEmpty) snap.version
    else commitDelta(spark, root, snap.schema, adds, touched, op = op,
      readScope = reads.map(snap.version -> _))
  }

  /** ADOPT an existing [[Partitioned]]-layout day tree into a commit log,
    * IN PLACE: the data files stay exactly where they are (any reader of
    * the raw tree keeps working), and one `import` commit publishes them
    * as version 1 — from then on every [[VersionedLake]] op (snapshot
    * reads, clustered compaction, band skipping, deletes, upserts,
    * streaming batches) applies. This is the migration path between the
    * two lake flavors; cost is one metadata listing plus one per-file
    * stats job over the tree (the one-time census an adoption cannot
    * avoid — row counts are what make later rewrites verifiable).
    */
  def importTree(spark: SparkSession, path: String): Long = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    require(latestVersion(spark, path).isEmpty,
      s"VersionedLake: $path already has a commit log")
    val base = fs.makeQualified(root).toString
    val found = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("dt="))
      .flatMap { dayDir =>
        fs.listStatus(dayDir.getPath)
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
          .map(f => (dayDir.getPath.getName, f.getPath.getName, f.getLen))
      }.toSeq
    require(found.nonEmpty, s"VersionedLake: no dt= data under $path")
    val schema = spark.read.option("basePath", base).parquet(base)
      .drop("dt").schema
    val entries = entriesOf(spark, base, found, schema, Nil, "import")
    commitDelta(spark, root, schema, entries, Nil, op = "import",
      allowSchemaChange = true)
  }

  /** ROLLBACK: publish an old version's exact file list as the new head
    * — a pure manifest commit expressing the difference from the current
    * head (no data moves, O(changed entries) text). The target version's
    * files must still exist, i.e. it must be inside the [[vacuum]]
    * retention window; afterwards the mistake-versions remain
    * time-travelable until retention expires them. The streaming
    * high-water mark is PRESERVED (not rolled back): replayed batch ids
    * must stay no-ops even when their data was intentionally restored
    * away, otherwise a restart would re-append what restore removed.
    */
  def restore(spark: SparkSession, path: String, version: Long): Long = {
    val root = new Path(path)
    val target = snapshot(spark, path, Some(version))
    val (removes, adds) = diffEntries(snapshot(spark, path, None), target)
    commitDelta(spark, root, target.schema, adds, removes,
      op = s"restore-v$version", allowSchemaChange = true)
  }

  /** The entries only `a` holds and the entries only `b` holds, by
    * (path, deletion vector) identity. Committed files are immutable per
    * PATH, but a merge-on-read delete re-publishes the same path with a
    * new tombstone reference, so such an entry lands on BOTH sides: the
    * diff [[changes]] reads and the substitution [[restore]] commits
    * (rolling back past a delete re-publishes the path WITHOUT its
    * tombstone reference).
    */
  private def diffEntries(a: Snapshot, b: Snapshot)
      : (Seq[FileEntry], Seq[FileEntry]) = {
    val aKeys = a.files.map(f => (f.path, f.dv)).toSet
    val bKeys = b.files.map(f => (f.path, f.dv)).toSet
    (a.files.filterNot(f => bKeys((f.path, f.dv))),
      b.files.filterNot(f => aKeys((f.path, f.dv))))
  }

  /** ADDITIVE SCHEMA EVOLUTION: one pure-manifest commit extends the
    * table schema with new NULLABLE columns. Appends after it must carry
    * the full evolved schema (the drift guard keeps refusing anything
    * else — silent drift stays an error); files written BEFORE the
    * evolution are never rewritten — reads resolve parquet columns
    * by name against the snapshot schema, so old files yield NULL for
    * the added columns. This is the 100 TB-shaped path: adding a column
    * costs one commit, not a corpus rewrite. Column removal or a type
    * change remains "new lake + explicit backfill" by design.
    */
  def evolveSchema(spark: SparkSession, path: String,
      addColumns: Seq[StructField]): Long = {
    require(addColumns.nonEmpty, "evolveSchema: no columns to add")
    val root = new Path(path)
    val snap = snapshot(spark, path, None)
    val existing = snap.schema.fieldNames.map(_.toLowerCase).toSet
    val dup = addColumns.map(_.name).filter(n => existing(n.toLowerCase))
    require(dup.isEmpty,
      s"evolveSchema: column(s) ${dup.mkString(", ")} already exist")
    val evolved = StructType(
      snap.schema.fields ++ addColumns.map(_.copy(nullable = true)))
    commitDelta(spark, root, evolved, Nil, Nil,
      op = "evolve-schema", allowSchemaChange = true)
  }

  /** UPSERT (the MERGE-by-key analog, last-write-wins): every lake row
    * whose `key` appears in `updates` is replaced by the update row, and
    * update rows with unseen keys are appended — one atomic commit.
    * MERGE-ON-READ ([[mergeByKey]]): the batch lands via the append path
    * (so it carries stats for `statsCols`) and the rows it shadows are
    * tombstoned in one deletion-vector sidecar, in the same commit; no
    * data file is rewritten. The match scan is BOUNDED the same way the
    * delete path bounds its candidates:
    *
    *  - candidate files are pruned FIRST by the snapshot's key-column
    *    stats against the update batch's [min(key), max(key)] envelope —
    *    on a key-clustered lake ([[compact]] with `clusterBy = key`) a
    *    narrow CDC batch scans O(band) files, never the corpus. Stat-less
    *    entries stay candidates (soundness over speed);
    *  - the key-set join is UNHINTED: statistics/AQE size the build
    *    side, so a compact CDC batch broadcasts itself and a fat backfill
    *    frame degrades to a shuffle join instead of OOMing the driver;
    *    the positions it shadows stay on the executors too (only per-file
    *    counts are collected — see [[deleteVectors]]).
    *
    * Older versions keep the pre-image — the CDC audit trail; [[compact]]
    * materializes the tombstones.
    *
    * `updates` must be key-unique and NULL-free; both are checked and
    * refused loudly (dedup upstream when feeds can double-emit).
    */
  def upsert(updates: DataFrame, path: String, key: String,
      statsCols: Seq[String] = Nil): Long = {
    val snap = snapshot(updates.sparkSession, path, None)
    val keyType = snap.schema(key).dataType.simpleString
    mergeByKey(snap, updates.withColumn("dt", Partitioned.Day), path, key,
        "dt", statsCols) { (kMin, kMax, _) => f =>
      f.stats.get(key) match {
        case Some((mn, mx)) => StatsCompare.overlaps(keyType, mn, mx, kMin, kMax)
        case None => true // no recorded key range — must scan
      }
    }
  }

  /** The merge-on-read upsert of [[upsert]] and [[graft.kv.Store.put]]:
    * `rows` (carrying the partition column `part`) land through
    * [[stageAndMove]], and the live rows of `snap` that share their `key`
    * are tombstoned by [[deleteVectors]] in the same commit. `candidates`
    * gives, from the batch's key envelope `(min, max)` (string-encoded,
    * like the manifest's ranges) and the partition values its files
    * landed in, the test of whether an entry may hold a batch key: the
    * match scans the snapshot's entries that pass it, and the commit
    * aborts if a racing commit added one that passes it.
    *
    * The batch's bounds are observed on the job that pins it. NULL keys
    * are REFUSED loudly: semi joins never match NULL, so a NULL-keyed row
    * could only ever land beside an existing NULL-keyed row — silent
    * corruption. A repeated key is refused the same way: both its rows
    * would land. The same observation tells a genuinely empty batch (a
    * no-op) from an all-NULL-key one (an error).
    */
  private[graft] def mergeByKey(snap: Snapshot, rows: DataFrame,
      path: String, key: String, part: String, statsCols: Seq[String])(
      candidates: (String, String, Set[String]) => FileEntry => Boolean): Long = {
    // pin: the batch drives the match scan's key side and the landed
    // files; an unpinned lineage would re-execute the caller's feed per
    // action, and a non-deterministic one could disagree with itself.
    // Each row carries its key's row count, so the pin's own job sees
    // repeats (a batch already grouped by key adds no exchange).
    val (counted, b) = graft.ops.GraphLoop.checkpoint(
      rows.withColumn("__graft_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(key)))),
      min(col(key)).cast("string").as("lo"),
      max(col(key)).cast("string").as("hi"),
      count(lit(1)).as("n"), count(when(col(key).isNull, 1)).as("nulls"),
      count(when(col("__graft_n") > 1, 1)).as("repeats"))
    val pinned = counted.drop("__graft_n")
    try {
      val n = b.getLong(2)
      require(b.getLong(3) == 0L,
        s"VersionedLake.upsert: ${b.getLong(3)} update rows carry a " +
          s"NULL $key — upsert keys must be non-null (NULL never matches " +
          "a join, so such rows would silently duplicate instead of replace)")
      require(b.getLong(4) == 0L,
        s"VersionedLake.upsert: ${b.getLong(4)} update rows repeat a " +
          s"$key — upsert keys must be unique in a batch (every row of a " +
          "repeated key would land, so one key would silently hold two rows)")
      if (n == 0L) snap.version // empty batch — no-op
      else {
        val landed = stageAndMove(pinned, path, part, statsCols, Some(n))
        // the key side is key-unique (checked above), so no distinct
        val keys = pinned.select(col(key))
        val reads =
          candidates(b.getString(0), b.getString(1), landed.map(_.dt).toSet)
        deleteVectors(pinned.sparkSession, path, snap, snap.files.filter(reads),
          "upsert",
          // metadata columns resolve only on the scan, so the position
          // is projected BEFORE the join
          _.select(col("_graft_file"), col("_graft_pos"), col(key))
            .join(keys, Seq(key), "left_semi"),
          landed, Some(reads))
      }
    } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(counted)
  }

  /** CHANGE FEED (the CDC read, Delta's `table_changes` analog): the
    * row-level difference between two committed versions, as a DataFrame
    * carrying the TO-version's schema plus a `_change_type` column —
    * `insert` for rows present in `toVersion` but not `fromVersion`,
    * `delete` for the reverse (an upsert's touched key shows both: its
    * pre-image as a delete, its new image as an insert). Multiset
    * semantics: duplicate rows diff by count.
    *
    * Scale shape — the reason this is an operator and not
    * `read(v2) EXCEPT ALL read(v1)`: the diff only OPENS files present
    * in exactly ONE of the two snapshots (entries are immutable per
    * path, so a shared path provably contributes nothing). A pure
    * compaction between the versions rewrites files without changing
    * rows — those rows cancel in the multiset difference and the feed is
    * empty; an append's files show up only on the insert side. Cost is
    * O(changed files) + one all-column shuffle of just those rows.
    * Across an [[evolveSchema]] boundary, the from-side reads NULL for
    * the added columns (same by-name contract as [[read]]), so an
    * unchanged row does not spuriously diff.
    *
    * Both versions must still be inside the [[vacuum]] retention window.
    */
  def changes(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val from = snapshot(spark, path, Some(fromVersion))
    val to = snapshot(spark, path, toVersion)
    require(from.version <= to.version,
      s"changes: fromVersion ${from.version} is newer than ${to.version}")
    // an entry re-published under a new deletion vector lands on BOTH
    // sides: its unchanged live rows cancel in the multiset diff and the
    // newly-tombstoned rows surface as deletes. Plain shared paths
    // provably contribute nothing.
    val (removedFiles, addedFiles) = diffEntries(from, to)
    // read one side's exclusive files with ITS schema (tombstones
    // anti-applied per side), then align both sides on the TO schema
    // (evolution adds nullable columns only, so the from-side fills
    // NULL for anything it predates)
    val outCols = to.schema.fieldNames.toSeq :+ "dt"
    val older = {
      val raw = scanEntries(spark, path, from.schema, removedFiles)
      val have = raw.columns.toSet
      val aligned = outCols.map(c =>
        if (have(c)) col(c)
        else lit(null).cast(to.schema(c).dataType).as(c))
      raw.select(aligned: _*)
    }
    val newer = scanEntries(spark, path, to.schema, addedFiles)
      .select(outCols.map(col): _*)
    newer.exceptAll(older).withColumn("_change_type", lit("insert"))
      .unionByName(
        older.exceptAll(newer).withColumn("_change_type", lit("delete")))
  }

  /** What a [[vacuum]] would (or did) reclaim — `dryRun = true` returns
    * this WITHOUT deleting anything or writing the self-containment
    * checkpoint: the audit an operator runs before an irreversible
    * retention sweep. `bytes` covers the data files only.
    */
  final case class VacuumReport(dataFiles: Seq[String],
      dvFiles: Seq[String], expiredVersions: Seq[Long],
      expiredCheckpoints: Seq[Long], bytes: Long)

  /** Reclaim storage: delete data files referenced by NO retained
    * version (the latest `retainVersions` manifests), drop the expired
    * manifests + checkpoints, and sweep orphaned stage dirs and commit
    * temp files. Before anything is dropped, the OLDEST retained version
    * gets a full checkpoint sidecar, so every retained version stays
    * reconstructible without the expired deltas. This is the op that
    * bounds time travel — versions older than the retention window stop
    * being readable, which is the documented price of reclaiming their
    * exclusive files.
    *
    * `olderThanHours` is the WRITER-SAFETY horizon (the Delta
    * convention): files and stage dirs modified more recently are never
    * swept, so an in-flight append that has staged/moved files but not
    * yet committed cannot lose them to a concurrent vacuum. Set it above
    * the longest plausible write duration; 0 is safe only when no writer
    * is running. Readers pinned to an EXPIRING version still need the
    * maintenance-window contract — run vacuum outside their lifetime.
    */
  def vacuum(spark: SparkSession, path: String,
      retainVersions: Int = 1, olderThanHours: Double = 168.0,
      dryRun: Boolean = false): VacuumReport = {
    require(retainVersions >= 1, "must retain at least the latest version")
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val (versions, ckpts) = listCommits(fs, root)
    if (versions.isEmpty) return VacuumReport(Nil, Nil, Nil, Nil, 0L)
    val retained = versions.takeRight(retainVersions)
    val oldest = retained.head
    // self-contain the oldest retained version BEFORE dropping the
    // deltas below it (idempotent atomic publish — skipped if present)
    if (!dryRun && !ckpts.contains(oldest)) {
      val s = snapshot(spark, path, Some(oldest))
      val totals =
        (s.files.length, s.files.map(_.rows).sum, s.files.map(_.bytes).sum)
      publishIfAbsent(fs, root, ckptPath(root, oldest),
        manifestText(s.op, s.schema, s.lastBatchId, Nil, s.files, totals)): Unit
    }
    val retainedSnaps = retained.map(v => snapshot(spark, path, Some(v)))
    val live: Set[String] = retainedSnaps.flatMap(_.files.map(_.path)).toSet
    // dv sidecars some retained entry still references — everything else
    // under _dv/ is a superseded or expired tombstone file
    val liveDv: Set[String] =
      retainedSnaps.flatMap(_.files.flatMap(_.dv)).toSet
    val horizon =
      System.currentTimeMillis() - (olderThanHours * 3600 * 1000).toLong
    // data files no retained manifest references — but never anything
    // young enough to be an in-flight writer's (the horizon)
    val deadData = fs.listStatus(root).filter(isPartDir).flatMap { partDir =>
      val dir = partDir.getPath.getName
      fs.listStatus(partDir.getPath)
        .filter(s => s.isFile && !s.getPath.getName.startsWith(".") &&
          !s.getPath.getName.startsWith("_"))
        .filter(f => !live(s"$dir/${f.getPath.getName}") &&
          f.getModificationTime <= horizon)
        .map(f => (s"$dir/${f.getPath.getName}", f.getPath, f.getLen))
    }.toSeq
    // dv sidecars referenced by NO retained version, age-gated the same
    // way (an in-flight delete's fresh sidecar must survive)
    val dvDir = new Path(root, "_dv")
    val deadDv =
      if (!fs.exists(dvDir)) Seq.empty
      else fs.listStatus(dvDir)
        .filter(s => s.isFile && !liveDv(s"_dv/${s.getPath.getName}") &&
          s.getModificationTime <= horizon)
        .map(s => (s"_dv/${s.getPath.getName}", s.getPath)).toSeq
    val report = VacuumReport(deadData.map(_._1), deadDv.map(_._1),
      versions.filter(_ < oldest), ckpts.filter(_ < oldest),
      deadData.map(_._3).sum)
    if (dryRun) return report
    deadData.foreach(f => fs.delete(f._2, false): Unit)
    // drop partition dirs emptied by retention
    fs.listStatus(root).filter(isPartDir)
      .filter(d => fs.listStatus(d.getPath).isEmpty)
      .foreach(d => fs.delete(d.getPath, false): Unit)
    deadDv.foreach(f => fs.delete(f._2, false): Unit)
    // expired manifests + checkpoints (everything strictly below the
    // oldest retained version — it is now checkpoint-self-contained)
    report.expiredVersions
      .foreach(v => fs.delete(commitPath(root, v), false): Unit)
    report.expiredCheckpoints
      .foreach(v => fs.delete(ckptPath(root, v), false): Unit)
    // crashed writers' stage dirs + crashed committers' temp manifests,
    // age-gated the same way
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".vstage_"))
      .filter(_.getModificationTime <= horizon)
      .foreach(s => fs.delete(s.getPath, true): Unit)
    val commitDir = new Path(root, CommitDir)
    if (fs.exists(commitDir))
      fs.listStatus(commitDir)
        .filter(s => s.isFile && s.getPath.getName.startsWith(".tmp-"))
        .filter(_.getModificationTime <= horizon)
        .foreach(s => fs.delete(s.getPath, false): Unit)
    report
  }
}

/** Min/max-vs-band comparison for file-skipping decisions on the
  * string-encoded ranges the commit log records. Conservative by
  * construction: an unrecognized dtype never prunes.
  */
private[sources] object StatsCompare {
  private val numeric =
    Set("tinyint", "smallint", "int", "bigint", "float", "double")

  /** Can any value in [min, max] (typed per `dtype`) fall in [lo, hi]?
    * Float/double columns containing NaN (or ±Infinity) record bounds
    * BigDecimal cannot parse — an unparseable bound answers TRUE (never
    * prune), so one NaN row degrades skipping instead of breaking every
    * later band read of an otherwise healthy lake.
    */
  def overlaps(dtype: String, min: String, max: String,
      lo: String, hi: String): Boolean =
    if (numeric(dtype) || dtype.startsWith("decimal")) {
      scala.util.Try(
        BigDecimal(max) >= BigDecimal(lo) && BigDecimal(min) <= BigDecimal(hi)
      ).getOrElse(true)
    } else if (dtype == "string") max >= lo && min <= hi
    else true // unknown comparison — never prune
}
