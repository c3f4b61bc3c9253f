package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** How an op's calls count toward the end-to-end latencies:
  *  - Batch: job = build + write (the output commit is the final action),
  *    write = the commit, read = the read-back of the committed output;
  *  - Read / Write: the whole op is one job and one read (or write).
  */
sealed trait Kind
case object Batch extends Kind
case object Read extends Kind
case object Write extends Kind

/** What an op reports after its calls return. `rows` is input rows
  * consumed (batch) or rows written plus rows returned (read/write);
  * `userBytes` is the canonical-JSON size of the rows it asked the store
  * to keep.
  */
final case class Outcome(ok: Boolean, rows: Long, userBytes: Long = 0L,
    pairs: Long = 0L, plantedFound: Long = 0L, plantedTotal: Long = 0L,
    detail: String = "")

/** One op of a pass; `slot` is its position, so that the same op of
  * different passes can be matched up. A `cached` op is served from the
  * program's own memory (the in-memory KV store): it counts as a job but
  * not toward the read and write latencies, which time the ops that
  * reach the file system.
  */
final case class Op(name: String, slot: Int, layer: String, kind: Kind,
    run: Probe => Outcome, cached: Boolean = false)

/** One timed call into a layer. `phase` is build, write or read. A
  * batch op's calls are its build, its output commit (write) and the
  * read-back of the committed output.
  */
final case class Call(id: Long, op: String, layer: String, phase: String,
    startMs: Double, endMs: Double, fs: Map[String, Long], ok: Boolean) {
  def secs: Double = (endMs - startMs) / 1000.0
}

final case class Sample(pass: Int, op: Op, calls: Seq[Call], outcome: Outcome,
    error: Option[String], sweptBytes: Long, filesWritten: Long) {
  def ok: Boolean = error.isEmpty && outcome.ok && calls.forall(_.ok)
  private def secsOf(phases: String*): Double =
    calls.filter(c => phases.contains(c.phase)).map(_.secs).sum
  def total: Double = calls.map(_.secs).sum
  def jobSecs: Double = if (op.kind == Batch) secsOf("build", "write") else total
  /** The op as its client sees it: for a batch op the job plus one read-back. */
  def clientSecs: Double = if (op.kind == Batch) jobSecs + readSecs.getOrElse(0.0) else total
  def readSecs: Option[Double] = op.kind match {
    case _ if op.cached => None
    case Batch => Some(secsOf("read"))
    case Read  => Some(total)
    case Write => None
  }
  def writeSecs: Option[Double] = op.kind match {
    case _ if op.cached => None
    case Batch => Some(secsOf("write"))
    case Write => Some(total)
    case Read  => None
  }
  def bytesWritten: Long = calls.map(_.fs.getOrElse("bytesWritten", 0L)).sum
}

object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds at nanosecond resolution (comparable with the
    * epoch-millisecond times Spark stamps on its listener events).
    */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Brackets each layer call with a span: sets the span id as a Spark
  * local property for the listener and reads the Hadoop FS statistics
  * around the call.
  */
final class Probe(spark: SparkSession) {
  private var nextId = 1L
  private var opName = ""
  private var opLayer = ""
  private val buf = mutable.ArrayBuffer[Call]()

  def begin(op: Op): Unit = { opName = op.name; opLayer = op.layer; buf.clear() }
  def end(): Seq[Call] = buf.toList

  private def newId(): Long = { val i = nextId; nextId += 1; i }

  def call[T](phase: String, layer: String = "")(f: => T): T = {
    val id = newId()
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val fs0 = FsStats.snapshot()
    val t0 = Clock.nowMs
    var ok = false
    try { val r = f; ok = true; r }
    finally {
      val t1 = Clock.nowMs
      val fs1 = FsStats.snapshot()
      sc.setLocalProperty(Tracer.SpanKey, null)
      buf += Call(id, opName, if (layer.isEmpty) opLayer else layer, phase, t0, t1,
        FsStats.delta(fs0, fs1), ok)
    }
  }
}

/** Drops leftover persistent RDDs between ops, off the clock, the way
  * `graft.Bench`'s dropDeadBlocks does. RDDs a workload still serves
  * from (the in-memory KV store) are protected by id.
  */
final class Sweeper(spark: SparkSession) {
  var protectedIds: () => Set[Int] = () => Set.empty

  /** Bytes held by unprotected persistent RDDs. */
  def storedBytes(): Long = {
    val keep = protectedIds()
    spark.sparkContext.getRDDStorageInfo
      .filterNot(i => keep(i.id)).map(i => i.memSize + i.diskSize).sum
  }

  def sweep(): Unit = {
    val keep = protectedIds()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
  }
}

/** Runs op lists and keeps every sample. */
final class Runner(val probe: Probe, sweeper: Sweeper, files: () => Set[String]) {

  def runOp(op: Op, pass: Int, traced: Boolean): Sample = {
    probe.begin(op)
    val files0 = if (traced) files() else Set.empty[String]
    val (outcome, err) =
      try (op.run(probe), None)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] ${op.name} failed: $e")
        (Outcome(ok = false, rows = 0L), Some(e.toString))
      }
    val calls = probe.end()
    val written = if (traced) (files() -- files0).size.toLong else 0L
    val swept = if (traced) sweeper.storedBytes() else 0L
    sweeper.sweep()
    if (!outcome.ok && err.isEmpty)
      System.err.println(s"[perfbench] ${op.name} wrong result: ${outcome.detail}")
    Sample(pass, op, calls, outcome, err, swept, written)
  }

  /** Runs exactly `passes` whole passes of `opsOf(pass, last)` from
    * `firstPass` (fewer only where a bounded stream ends), whatever the
    * wall time: every run of one workload times the same ops. `last`
    * marks the phase's final pass.
    */
  def phase(firstPass: Int, passes: Int, traced: Boolean, hasPass: Int => Boolean)(
      opsOf: (Int, Boolean) => Seq[Op]): Seq[Sample] = {
    val end = firstPass + passes
    val out = mutable.ArrayBuffer[Sample]()
    var pass = firstPass
    while (pass < end && hasPass(pass)) {
      val last = pass == end - 1 || !hasPass(pass + 1)
      opsOf(pass, last).foreach(o => out += runOp(o, pass, traced))
      pass += 1
    }
    out.toList
  }
}
