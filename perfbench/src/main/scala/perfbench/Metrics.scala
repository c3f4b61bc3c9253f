package perfbench

/** Turns samples into the benchmark's end-to-end and per-layer figures.
  *
  * Per-pass figures sum, over the ops of one pass, the median of each
  * op's samples, so a run that stops part
  * way through a pass, or hits one slow outlier, still reports one
  * whole pass. An op is identified by its slot (its position in the
  * pass). Per-call figures are medians over the calls of one kind.
  */
object Metrics {
  private val MB = 1024.0 * 1024.0

  def perPass(samples: Seq[Sample])(f: Sample => Double): Double =
    samples.groupBy(_.op.slot).values.map(ss => Stats.median(ss.map(f))).sum

  def perCall(samples: Seq[Sample], names: String*)(f: Sample => Double): Double = {
    val xs = samples.filter(s => names.contains(s.op.name)).map(f)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  def rowsPerSecond(samples: Seq[Sample]): Double =
    perPass(samples)(_.outcome.rows.toDouble) / perPass(samples)(_.clientSecs)

  /** Ratio of the first to the last sample of the ops that ran twice or
    * more: above 1 when the warm-up left work for the timed phase.
    */
  def firstLastRatio(samples: Seq[Sample]): Double = {
    val rep = samples.groupBy(_.op.slot).values.filter(_.size >= 2).toSeq
    if (rep.isEmpty) 0.0 else rep.map(_.head.clientSecs).sum / rep.map(_.last.clientSecs).sum
  }

  /** End-to-end figures: the set-up time, and what the untraced timed
    * phase wrote, kept and retained. On a shared machine these repeat
    * from run to run; the client-side latencies (`timing`) do not, and
    * are per-layer figures.
    */
  def endToEnd(samples: Seq[Sample], setupS: Double, heapMb: Double,
      stored: (Long, Long)): Seq[(String, Double, String)] = {
    val (live, onDisk) = stored
    Seq(
      ("setup_s", setupS, "s"),
      ("write_amp", samples.map(_.bytesWritten).sum.toDouble / samples.map(_.outcome.userBytes).sum, "ratio"),
      ("space_amp", onDisk.toDouble / live, "ratio"),
      ("heap_retained_mb", heapMb, "MB"))
  }

  /** Client-side timing of untraced samples: throughput, the per-op, read
    * and write medians, and the read and write tails. A tail is the
    * highest whole percentile with at least ten samples beyond it, and 0
    * below 20 samples (it would be the median). Also returns the sample
    * count and percentile behind each figure, for the record.
    */
  def timing(samples: Seq[Sample]): (Seq[(String, Double, String)], Seq[(String, Double)]) = {
    val jobs = samples.map(_.jobSecs)
    val reads = samples.flatMap(_.readSecs)
    val writes = samples.flatMap(_.writeSecs)
    def tail(xs: Seq[Double]): (Double, Double) =
      if (xs.size < 20) (0.0, 0.0)
      else { val p = Stats.tailPercentile(xs.size); (Stats.quantile(xs, p), p) }
    val (r, rp) = tail(reads)
    val (w, wp) = tail(writes)
    (Seq(
      ("rows_per_s", rowsPerSecond(samples), "1/s"),
      ("job_p50_s", Stats.median(jobs), "s"),
      ("read_p50_s", Stats.median(reads), "s"),
      ("write_p50_s", Stats.median(writes), "s"),
      ("read_tail_s", r, "s"),
      ("write_tail_s", w, "s")),
      Seq("job_samples" -> jobs.size.toDouble, "read_samples" -> reads.size.toDouble,
        "write_samples" -> writes.size.toDouble, "read_tail_pct" -> rp * 100, "write_tail_pct" -> wp * 100))
  }

  /** Work counters of one call, from the listener. */
  final case class CallWork(jobs: Int, stages: Int, t: TaskCounters, jobSecs: Double)

  final class Traced(tracer: Tracer, cores: Int) {
    private val cache = scala.collection.mutable.Map[Long, CallWork]()

    def work(c: Call): CallWork = cache.getOrElseUpdate(c.id, {
      val js = tracer.jobsOf(c.id)
      val covered = Tracer.covered(js.map(j => (j.startMs.toDouble,
        (if (j.endMs < 0) c.endMs else j.endMs.toDouble))), c.startMs, c.endMs) / 1000.0
      CallWork(js.size, tracer.stagesOf(c.id).size, tracer.countersOf(c.id), covered)
    })

    def selfSecs(c: Call): Double = math.max(0.0, c.secs - work(c).jobSecs)

    private def over(s: Sample, layer: Option[String], phase: Option[String])(f: Call => Double): Double =
      s.calls.filter(c => layer.forall(_ == c.layer) && phase.forall(_ == c.phase)).map(f).sum

    def layerPass(samples: Seq[Sample], layer: String, phase: Option[String] = None)(
        f: Call => Double): Double = perPass(samples.filter(_.op.layer == layer))(over(_, Some(layer), phase)(f))

    def perLayer(samples: Seq[Sample]): Seq[(String, Double, String)] = {
      def lp(l: String, ph: Option[String] = None)(f: Call => Double) = layerPass(samples, l, ph)(f)
      def jobs(c: Call) = work(c).jobs.toDouble
      def stages(c: Call) = work(c).stages.toDouble
      def tasks(c: Call) = work(c).t.tasks.toDouble
      def busy(c: Call) = work(c).t.busyMs / 1000.0
      def shuffleB(c: Call) = work(c).t.shuffleWriteBytes.toDouble
      def shuffleR(c: Call) = work(c).t.shuffleWriteRecords.toDouble
      def secs(c: Call) = c.secs
      def callMedian(names: String*)(f: Call => Double) =
        perCall(samples, names: _*)(s => s.calls.map(f).sum)
      def fsOps(c: Call) = FsStats.ops(c.fs).toDouble
      def fs(key: String)(c: Call) = c.fs.getOrElse(key, 0L).toDouble
      val mr = samples.filter(_.op.layer == "mr")
      val dedup = samples.filter(_.op.layer == "ops.dedup")
      val graph = samples.filter(_.op.layer == "ops.graph")
      def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
      val all = samples
      def allPass(f: Call => Double) = perPass(all)(_.calls.map(f).sum)
      val wall = perPass(all)(_.total)
      Seq(
        ("ops.graph.build_s", lp("ops.graph", Some("build"))(secs), "s/pass"),
        ("ops.graph.exec_s", lp("ops.graph", Some("write"))(secs), "s/pass"),
        ("ops.graph.jobs_in_build", lp("ops.graph", Some("build"))(jobs), "count/pass"),
        ("ops.graph.jobs", lp("ops.graph")(jobs), "count/pass"),
        ("ops.graph.stages", lp("ops.graph")(stages), "count/pass"),
        ("ops.graph.driver_only_s", lp("ops.graph")(selfSecs), "s/pass"),
        ("ops.graph.shuffle_write_bytes", lp("ops.graph")(shuffleB), "B/pass"),
        ("ops.graph.storage_mb", perPass(graph)(_.sweptBytes / MB), "MB/pass"),
        ("mr.build_s", lp("mr", Some("build"))(secs), "s/pass"),
        ("mr.exec_s", lp("mr", Some("write"))(secs), "s/pass"),
        ("mr.jobs", lp("mr")(jobs), "count/pass"),
        ("mr.tasks", lp("mr")(tasks), "count/pass"),
        ("mr.task_busy_s", lp("mr")(busy), "s/pass"),
        ("mr.shuffle_write_bytes", lp("mr")(shuffleB), "B/pass"),
        ("mr.shuffle_records_per_input_row",
          ratio(lp("mr")(shuffleR), perPass(mr)(_.outcome.rows.toDouble)), "ratio"),
        ("mr.spill_bytes", lp("mr")(c => work(c).t.spillBytes.toDouble), "B/pass"),
        ("ops.dedup.build_s", lp("ops.dedup", Some("build"))(secs), "s/pass"),
        ("ops.dedup.exec_s", lp("ops.dedup", Some("write"))(secs), "s/pass"),
        ("ops.dedup.jobs", lp("ops.dedup")(jobs), "count/pass"),
        ("ops.dedup.task_busy_s", lp("ops.dedup")(busy), "s/pass"),
        ("ops.dedup.shuffle_write_bytes", lp("ops.dedup")(shuffleB), "B/pass"),
        ("ops.dedup.shuffle_records_per_pair",
          ratio(lp("ops.dedup")(shuffleR), perPass(dedup)(_.outcome.pairs.toDouble)), "ratio"),
        ("ops.dedup.pairs_out", perPass(dedup)(_.outcome.pairs.toDouble), "count/pass"),
        ("kv.put_s", perCall(samples, "kv.put")(_.total), "s/call"),
        ("kv.get_s", perCall(samples, "kv.get")(_.total), "s/call"),
        ("kv.del_s", perCall(samples, "kv.del")(_.total), "s/call"),
        ("kv.reconf_s", perCall(samples, "kv.reconf")(_.total), "s/call"),
        ("kv.scan_s", perCall(samples, "kv.scan")(_.total), "s/call"),
        ("kv.mem_put_s", perCall(samples, "kv.mem_put")(_.total), "s/call"),
        ("kv.mem_get_s", perCall(samples, "kv.mem_get")(_.total), "s/call"),
        ("kv.put.jobs", callMedian("kv.put")(jobs), "count/call"),
        ("kv.get.jobs", callMedian("kv.get")(jobs), "count/call"),
        ("kv.put.fs_ops", callMedian("kv.put")(fsOps), "count/call"),
        ("kv.get.fs_ops", callMedian("kv.get")(fsOps), "count/call"),
        ("kv.get.bytes_read", callMedian("kv.get")(fs("bytesRead")), "B/call"),
        ("kv.put.bytes_written", callMedian("kv.put")(fs("bytesWritten")), "B/call"),
        ("kv.put.files_written", perCall(samples, "kv.put")(_.filesWritten.toDouble), "count/call"),
        ("lake.commit_s", perCall(samples, CommitOps: _*)(_.total), "s/call"),
        ("lake.read_s", perCall(samples, "lake.read_days", "lake.snapshot_read")(_.total), "s/call"),
        ("lake.compact_s", perCall(samples, "lake.compact")(_.total), "s/call"),
        ("lake.commit.fs_ops", callMedian(CommitOps: _*)(fsOps), "count/call"),
        ("lake.bytes_written", callMedian(CommitOps: _*)(fs("bytesWritten")), "B/call"),
        ("spark.jobs", allPass(jobs), "count/pass"),
        ("spark.stages", allPass(stages), "count/pass"),
        ("spark.tasks", allPass(tasks), "count/pass"),
        ("spark.task_busy_s", allPass(busy), "s/pass"),
        ("spark.task_wait_s", allPass(c => work(c).t.waitMs / 1000.0), "s/pass"),
        ("spark.gc_s", allPass(c => work(c).t.gcMs / 1000.0), "s/pass"),
        ("spark.failed_tasks", allPass(c => work(c).t.failedTasks.toDouble), "count/pass"),
        ("spark.idle_s", allPass(selfSecs), "s/pass"),
        ("spark.core_util", ratio(allPass(busy), cores * wall), "ratio"),
        ("spark.swept_mb", perPass(all)(_.sweptBytes / MB), "MB/pass"))
    }
  }

  val CommitOps: Seq[String] = Seq("lake.sink_append", "lake.append", "lake.upsert", "lake.delete")
}
