package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark:
  *
  * {{{
  * perfbench.PerfMain --workload etl_batch|api_mixed|state_cycle --seed N
  *                    --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Runs one seeded workload against the program's public entry points on
  * `local[SPARK_GRAFT_CPUS]`, checks every output, and prints as its last
  * line `{"correct", "attempted", "failed", "metrics"}`: the end-to-end
  * metrics untraced, the per-layer metrics traced. Exits 1, naming the
  * failed checks, when any output is wrong, and 2 on a failed self-check.
  */
object PerfMain {

  final class Run(val seed: Long, val seconds: Double, val traced: Boolean, val work: Path) {
    val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    private var attempts = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
    val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]

    def attempted: Long = attempts
    def failed: Long = failures.size.toLong

    /** Counts one user operation; it failed when `problems` is non-empty. */
    def record(op: String, problems: Seq[String]): Unit = {
      attempts += 1
      if (problems.nonEmpty) failures += s"$op: ${problems.mkString("; ")}"
    }

    def e2e(name: String, value: Double, unit: String): Unit = endToEnd(name) = (value, unit)
    def layer(name: String, value: Double, unit: String): Unit = perLayer(name) = (value, unit)

    def dir(name: String): Path = Files.createDirectories(work.resolve(name))

    /** The session configuration the program's CLI uses. */
    def session(): SparkSession =
      graft.Tables.configure(SparkSession.builder())
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()

    /** `setup_s`: `reps` set-ups (each a session start plus an untimed
      * warm-up pass), reported as their median. */
    def setups[T](reps: Int)(setUp: Int => T): T = {
      var last: Option[T] = None
      val times = (0 until reps).map { i =>
        val t0 = System.nanoTime()
        last = Some(setUp(i))
        (System.nanoTime() - t0) / 1e9
      }
      e2e("setup_s", Stats.median(times), "s")
      last.get
    }

    /** `heap_retained_MB`: driver heap in use after full collections. */
    def heapRetained(): Unit = {
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
      e2e("heap_retained_MB", mem.getHeapMemoryUsage.getUsed / 1048576.0, "MB")
    }

    def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val run = new Run(opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1",
      Paths.get(opt("work")).toAbsolutePath)

    val t0 = System.nanoTime()
    val selfCheck = SelfCheck.all(run.seed)
    System.err.println(f"[perfbench] self-checks took ${run.elapsed(t0)}%.2f s")
    if (selfCheck.nonEmpty) {
      selfCheck.foreach(f => System.err.println(s"self-check failed: $f"))
      sys.exit(2)
    }
    if (run.traced) {
      Trace.enabled = true
      System.setProperty("spark.extraListeners", classOf[TraceListener].getName)
    }
    opt("workload") match {
      case "etl_batch" => EtlBatch.run(run)
      case "api_mixed" => ApiMixed.run(run)
      case "state_cycle" => StateCycle.run(run)
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    System.err.println(f"[perfbench] workload took ${run.elapsed(t0)}%.2f s")
    if (run.traced) report(run, opt("workload"))

    run.failures.foreach(f => System.err.println(s"check failed: $f"))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("correct", run.failed == 0)
    root.put("attempted", run.attempted)
    root.put("failed", run.failed)
    val metrics = root.putObject("metrics")
    (if (run.traced) run.perLayer else run.endToEnd).foreach { case (k, (v, u)) =>
      val o = metrics.putObject(k); o.put("value", v); o.put("unit", u)
    }
    println(m.writeValueAsString(root))
    System.out.flush()
    // the program's HTTP server leaves non-daemon worker threads behind
    sys.exit(if (run.failed > 0) 1 else 0)
  }

  /** Per-layer metrics common to every workload: error share, Spark totals,
    * self time per layer, and the traced run's own end-to-end figure. */
  private def report(run: Run, workload: String): Unit = {
    run.layer("error_share", run.failed.toDouble / math.max(1L, run.attempted), "ratio")
    val t = Trace.total()
    Seq("jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks, "task_ms" -> t.taskMs,
      "cpu_ms" -> t.cpuMs, "scheduler_delay_ms" -> t.schedulerDelayMs,
      "shuffle_bytes" -> (t.shuffleWriteBytes + t.shuffleReadBytes),
      "spill_bytes" -> t.spillBytes, "failed_tasks" -> t.failedTasks).foreach { case (k, v) =>
      run.layer(s"spark.$k", v.toDouble, if (k.endsWith("_ms")) "ms" else if (k.endsWith("bytes")) "B" else "count")
    }
    val spans = Trace.allClosed()
    Seq("etl", "server", "ext").foreach { layer =>
      run.layer(s"self_ms.$layer",
        spans.filter(_.name.startsWith(layer + ".")).map(Trace.selfMs).sum, "ms")
    }
    run.endToEnd.get("ops_per_s").foreach { case (v, u) => run.layer("traced.ops_per_s", v, u) }
    Trace.write(run.work.getParent.resolve("trace").resolve(s"$workload-seed${run.seed}-${Trace.runId}.json"))
  }

  /** Span timing and Spark counters of the layer call `span`, as
    * `<span>.ms` (mean per call) plus the named counters (per call);
    * nothing when the call was never made. */
  def spanMetrics(run: Run, span: String, counters: String*): Unit = {
    val calls = Trace.closed(span)
    if (calls.isEmpty) return
    val n = calls.size.toDouble
    run.layer(s"$span.ms", Stats.mean(calls.map(_.ms)), "ms")
    val c = Trace.countersOf(span)
    counters.foreach {
      case "jobs" => run.layer(s"$span.jobs", c.jobs / n, "count")
      case "tasks" => run.layer(s"$span.tasks", c.tasks / n, "count")
      case "task_ms" => run.layer(s"$span.task_ms", c.taskMs / n, "ms")
      case "shuffle_write_bytes" => run.layer(s"$span.shuffle_write_bytes", c.shuffleWriteBytes / n, "B")
      case "spill_bytes" => run.layer(s"$span.spill_bytes", c.spillBytes / n, "B")
      case "input_bytes" => run.layer(s"$span.input_bytes", c.inputBytes / n, "B")
      case "output_bytes" => run.layer(s"$span.output_bytes", c.outputBytes / n, "B")
    }
  }

  /** Files and bytes under `dir`, skipping `_`/`.` bookkeeping files. */
  def du(dir: Path): (Long, Long) = {
    if (!Files.exists(dir)) return (0L, 0L)
    val s = Files.walk(dir)
    try {
      var files, bytes = 0L
      s.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith(".")).forEach { p => files += 1; bytes += Files.size(p) }
      (files, bytes)
    } finally s.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest whole percentile (50–99) with at least ten samples above
    * it, by nearest rank, with its value; None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted; val n = s.size
    (99 to 50 by -1).map(p => (p, math.ceil(n * p / 100.0).toInt))
      .find { case (_, rank) => rank >= 1 && n - rank >= 10 }
      .map { case (p, rank) => (p, s(rank - 1)) }
  }
}
