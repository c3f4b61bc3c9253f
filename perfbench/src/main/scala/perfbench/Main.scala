package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftBridge, SparkSession}

/** The benchmark's JVM entry point (run.py builds and launches it).
  *
  *   perfbench.Main --workload <batch|kv_lake> --seed <n>
  *     --seconds <s> --trace <0|1> --work <dir> [--trace-out <file.jsonl>]
  *
  * Set-up (session, three seeded generations, one untimed warm-up pass)
  * is followed by the timed phase: a fixed number of passes,
  * `--seconds` / the workload's nominal pass time. Untraced, it prints
  * the end-to-end metrics. Traced, it runs two untraced passes (client-
  * side timing, first-to-last ratio) and then a traced phase of the same
  * length as an untraced run's, and prints the per-layer metrics and the
  * tracing overhead. The last stdout line is the result.
  */
object Main {
  val Workloads: Seq[String] = Seq("batch", "kv_lake")
  private val MB = 1024.0 * 1024.0
  val TracedUntracedPasses = 2
  /** Nominal seconds of one timed pass on 4 cores: a run times `--seconds`
    * / this many passes (at least one), a count that does not depend on
    * the machine's speed.
    */
  val PassSeconds = 10.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsolutePath
    run(workload, seed, seconds, traced, work, opts.get("trace-out"))
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Heap bytes live after a full collection: each heap pool's usage as
    * the last GC left it, so allocation after the GC does not count.
    */
  private def retainedHeap(): Double = {
    System.gc(); Thread.sleep(100); System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed.toDouble).sum
  }

  /** Content digest of every data file under `dir`, names ignored. */
  private def digest(dir: String): String = {
    val s = Files.walk(Paths.get(dir))
    val files = try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.startsWith("part-")).toSeq finally s.close()
    val parts = files.map { p =>
      MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    }.sorted
    parts.mkString(",")
  }

  def run(name: String, seed: Long, seconds: Double, traced: Boolean, work: String,
      traceOut: Option[String]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = graft.Engine.session(master = s"local[$cores]", appName = "perfbench")
    val sessionS = secsSince(t0)
    val wl: Workload = name match {
      case "batch"   => new BatchWorkload(spark, seed)
      case "kv_lake" => new KvLake(spark, seed)
    }
    // three generations of the same seed: the median is the set-up
    // figure, and identical output proves the generator deterministic
    val gens = (0 until 3).map { i =>
      val dir = s"$work/input$i"
      val t = System.nanoTime()
      val props = wl.generate(dir)
      (secsSince(t), props, dir)
    }
    val generateS = Stats.median(gens.map(_._1))
    val deterministic = gens.map(g => digest(g._3)).distinct.size == 1
    val props = gens.last._2
    wl.open(gens.last._3, work)

    val probe = new Probe(spark)
    val sweeper = new Sweeper(spark)
    sweeper.protectedIds = () => wl.liveRdds()
    val runner = new Runner(probe, sweeper, () => wl.writeRoot.map(Workload.files).getOrElse(Set.empty))
    val tw = System.nanoTime()
    val warm = runner.phase(0, 1, traced = false, wl.hasPass)(wl.opsOf)
    val warmupS = secsSince(tw)
    val setupS = sessionS + generateS + warmupS

    val passes = math.max(1, math.round(seconds / PassSeconds).toInt)
    System.gc() // off the clock: the warm-up's garbage is not the timed phase's
    val tt = System.nanoTime()
    val timed = runner.phase(1, if (traced) TracedUntracedPasses else passes,
      traced = false, wl.hasPass)(wl.opsOf)
    val timedS = secsSince(tt)
    val nextPass = if (timed.isEmpty) 1 else timed.last.pass + 1
    val tracer = new Tracer
    val tracedSamples =
      if (!traced) Nil
      else {
        spark.sparkContext.addSparkListener(tracer)
        try runner.phase(nextPass, passes, traced = true, wl.hasPass)(wl.opsOf)
        finally {
          GraftBridge.waitListenerBus(spark)
          spark.sparkContext.removeSparkListener(tracer)
        }
      }
    val tc = System.nanoTime()
    val heapMb = retainedHeap() / MB
    val checks = wl.finalChecks.map(runner.runOp(_, -1, traced = false))
    val checksS = secsSince(tc)

    val all = warm ++ timed ++ tracedSamples ++ checks
    val stored = wl.storage(warm ++ timed ++ tracedSamples)
    val attempted = all.size + 1
    val failed = all.count(!_.ok) + (if (deterministic) 0 else 1)
    val e2e = Metrics.endToEnd(timed, setupS, heapMb, stored)
    val (timing, timingInfo) = Metrics.timing(timed)
    val inputRows = props.toMap.getOrElse("input_rows", 0.0)
    val inputBytes = props.toMap.getOrElse("input_bytes", 0.0)

    val metrics: Seq[(String, Double, String)] =
      if (!traced) e2e
      else {
        val tr = new Metrics.Traced(tracer, cores)
        // against the last untraced pass: the earlier one is still warming up
        val untracedRate = Metrics.rowsPerSecond(timed.filter(_.pass == nextPass - 1))
        val tracedRate = Metrics.rowsPerSecond(tracedSamples)
        val overhead = untracedRate / tracedRate - 1.0
        traceOut.foreach(f => writeTrace(f, name, seed, tracer, tr, tracedSamples, untracedRate, tracedRate))
        val extra = wl.extraMetrics(tracedSamples)
        Seq(
          ("engine.session_s", sessionS, "s"),
          ("engine.generate_s", generateS, "s"),
          ("engine.warmup_s", warmupS, "s"),
          ("engine.first_last_ratio", Metrics.firstLastRatio(timed), "ratio"),
          ("engine.input_rows", inputRows, "rows"),
          ("engine.input_bytes", inputBytes, "B"),
          ("failed_ops_ratio", failed.toDouble / attempted, "ratio"),
          ("trace.overhead", overhead, "ratio")) ++ timing ++
          tr.perLayer(tracedSamples) ++
          Seq(("ops.dedup.planted_recall", extra.getOrElse("ops.dedup.planted_recall", 0.0), "ratio"),
            ("lake.files_live", extra.getOrElse("lake.files_live", 0.0), "count"))
      }

    val record = Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString, "cores" -> cores.toString,
      "seconds" -> Json.num(seconds), "traced" -> traced.toString,
      "timed_ops" -> timed.size.toString, "passes" -> (nextPass - 1).toString,
      "traced_passes" -> tracedSamples.map(_.pass).distinct.size.toString,
      "generator_deterministic" -> deterministic.toString,
      "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS),
        "generate_s" -> Json.arr(gens.map(g => Json.num(g._1))), "warmup_s" -> Json.num(warmupS))),
      "timed_s" -> Json.num(timedS), "checks_s" -> Json.num(checksS),
      "first_last_ratio" -> Json.num(Metrics.firstLastRatio(timed)),
      "timing" -> Json.obj((timing.map(m => m._1 -> m._2) ++ timingInfo).map { case (k, v) => k -> Json.num(v) }),
      "inputs" -> Json.obj(props.map { case (k, v) => k -> Json.num(v) })))
    spark.stop()
    println(s"""{"record": $record}""")
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
  }

  /** Spans as JSON lines: op spans, their calls, and the Spark jobs and
    * stages of each call, linked by parent id; then one summary line per
    * layer with self time (span wall minus the time a child job was
    * running) and the tracing overhead.
    */
  private def writeTrace(path: String, name: String, seed: Long, tracer: Tracer,
      tr: Metrics.Traced, samples: Seq[Sample], untraced: Double, traced: Double): Unit = {
    new File(path).getAbsoluteFile.getParentFile.mkdirs()
    val w = new PrintWriter(path, "UTF-8")
    def line(fields: (String, String)*): Unit = w.println(Json.obj(fields))
    try {
      line("type" -> Json.str("run"), "id" -> "0", "workload" -> Json.str(name), "seed" -> seed.toString)
      var opId = 0L
      var worstGap = 0.0
      samples.foreach { s =>
        opId -= 1 // op spans take negative ids; calls keep the probe's positive ids
        val wall = s.calls.map(_.secs).sum
        val child = s.calls.map(tr.work(_).jobSecs).sum
        line("type" -> Json.str("op"), "id" -> opId.toString, "parent" -> "0",
          "name" -> Json.str(s.op.name), "slot" -> s.op.slot.toString, "layer" -> Json.str(s.op.layer),
          "pass" -> s.pass.toString, "wall_s" -> Json.num(wall), "child_job_s" -> Json.num(child),
          "self_s" -> Json.num(wall - child), "ok" -> s.ok.toString)
        s.calls.foreach { c =>
          val cw = tr.work(c)
          worstGap = math.max(worstGap, math.abs(tr.selfSecs(c) + cw.jobSecs - c.secs))
          line("type" -> Json.str("call"), "id" -> c.id.toString, "parent" -> opId.toString,
            "layer" -> Json.str(c.layer), "phase" -> Json.str(c.phase),
            "start_ms" -> Json.num(c.startMs), "end_ms" -> Json.num(c.endMs),
            "wall_s" -> Json.num(c.secs), "child_job_s" -> Json.num(cw.jobSecs),
            "self_s" -> Json.num(tr.selfSecs(c)), "jobs" -> cw.jobs.toString,
            "tasks" -> cw.t.tasks.toString, "fs_ops" -> FsStats.ops(c.fs).toString,
            "fs_bytes_read" -> c.fs.getOrElse("bytesRead", 0L).toString,
            "fs_bytes_written" -> c.fs.getOrElse("bytesWritten", 0L).toString)
          tracer.jobsOf(c.id).foreach { j =>
            line("type" -> Json.str("job"), "id" -> Json.str(s"job-${j.id}"), "parent" -> c.id.toString,
              "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString, "ok" -> j.ok.toString,
              "stages" -> Json.arr(j.stageIds.map(_.toString)))
          }
          tracer.stagesOf(c.id).foreach { st =>
            line("type" -> Json.str("stage"), "id" -> Json.str(s"stage-${st.id}"),
              "parent" -> Json.str(s"job-${st.job}"), "tasks" -> st.tasks.toString,
              "submit_ms" -> st.submitMs.toString, "end_ms" -> st.endMs.toString,
              "failed" -> st.failed.toString)
          }
        }
      }
      samples.flatMap(_.calls).groupBy(_.layer).toSeq.sortBy(_._1).foreach { case (layer, cs) =>
        val wall = cs.map(_.secs).sum
        val child = cs.map(tr.work(_).jobSecs).sum
        line("type" -> Json.str("layer"), "layer" -> Json.str(layer), "calls" -> cs.size.toString,
          "wall_s" -> Json.num(wall), "child_job_s" -> Json.num(child), "self_s" -> Json.num(wall - child))
      }
      line("type" -> Json.str("overhead"), "untraced_rows_per_s" -> Json.num(untraced),
        "traced_rows_per_s" -> Json.num(traced), "overhead" -> Json.num(untraced / traced - 1.0),
        "max_self_plus_child_minus_wall_s" -> Json.num(worstGap))
    } finally w.close()
  }
}
