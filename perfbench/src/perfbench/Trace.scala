package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Benchmark-side tracing. Spans wrap the benchmark's calls into the
  * program's public functions (name, start, end, parent, run id); a
  * [[TraceListener]] counts Spark work, and each job is attributed to the
  * innermost span that was open when it was submitted. Traced calls run
  * one after another, so that span is unambiguous. Everything is kept in
  * memory and written out by [[write]] at the end of the run.
  */
object Trace {
  @volatile var enabled: Boolean = false
  val runId: String = java.util.UUID.randomUUID().toString

  final case class Span(id: Int, name: String, parent: Int, startMs: Long, startNs: Long) {
    var endMs: Long = Long.MaxValue
    var endNs: Long = -1L
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Spark work counted per job or per stage. */
  final class Counters {
    var jobs, stages, tasks, failedTasks = 0L
    var taskMs, cpuMs, schedulerDelayMs, shuffleWriteBytes, shuffleReadBytes = 0L
    var spillBytes, inputBytes, outputBytes = 0L
    def add(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
      taskMs += o.taskMs; cpuMs += o.cpuMs; schedulerDelayMs += o.schedulerDelayMs
      shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
      spillBytes += o.spillBytes; inputBytes += o.inputBytes; outputBytes += o.outputBytes
    }
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  // job and stage ids restart with every SparkContext, so they are keyed
  // by the context's generation (one TraceListener per context)
  private val jobTime = mutable.Map.empty[(Int, Int), Long]
  private val stageJob = mutable.Map.empty[(Int, Int), Int]
  private val stageCounters = mutable.Map.empty[(Int, Int), Counters]
  private var generations = 0

  private[perfbench] def newGeneration(): Int = synchronized { generations += 1; generations }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = synchronized {
        val s = Span(spans.size, name, open.headOption.fold(-1)(_.id),
          System.currentTimeMillis(), System.nanoTime())
        spans += s; open = s :: open; s
      }
      try f
      finally synchronized {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis(); open = open.tail
      }
    }

  private[perfbench] def onJobStart(gen: Int, e: SparkListenerJobStart): Unit = synchronized {
    jobTime((gen, e.jobId)) = e.time
    e.stageIds.foreach(st => if (!stageJob.contains((gen, st))) stageJob((gen, st)) = e.jobId)
  }

  private[perfbench] def onTaskEnd(gen: Int, e: SparkListenerTaskEnd): Unit = synchronized {
    val c = stageCounters.getOrElseUpdate((gen, e.stageId), new Counters)
    c.tasks += 1
    if (!e.taskInfo.successful) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.cpuMs += m.executorCpuTime / 1000000L
      c.schedulerDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** The innermost span open at wall-clock time `t`, or -1. */
  private def spanAt(t: Long): Int =
    spans.iterator.filter(s => s.startMs <= t && t <= s.endMs)
      .maxByOption(_.startNs).fold(-1)(_.id)

  /** Spark counters per span id (-1: outside every span). */
  def countersBySpan(): Map[Int, Counters] = synchronized {
    val out = mutable.Map.empty[Int, Counters]
    val jobSpan = jobTime.map { case (j, t) => j -> spanAt(t) }
    jobSpan.foreach { case (_, s) => out.getOrElseUpdate(s, new Counters).jobs += 1 }
    stageCounters.foreach { case (st, c) =>
      stageJob.get(st).flatMap(j => jobSpan.get((st._1, j))).foreach { s =>
        val acc = out.getOrElseUpdate(s, new Counters)
        if (c.tasks > 0) acc.stages += 1
        acc.add(c)
      }
    }
    out.toMap
  }

  def total(): Counters = {
    val t = new Counters
    countersBySpan().values.foreach(t.add)
    t
  }

  def allClosed(): Seq[Span] = synchronized(spans.filter(_.endNs >= 0).toSeq)

  def closed(name: String): Seq[Span] = synchronized(spans.filter(s => s.name == name && s.endNs >= 0).toSeq)

  /** Duration minus the time covered by child spans; traced calls are
    * sequential, so children never overlap. */
  def selfMs(s: Span): Double = synchronized {
    s.ms - spans.filter(c => c.parent == s.id && c.endNs >= 0).map(_.ms).sum
  }

  /** Counters summed over every closed span called `name`. */
  def countersOf(name: String): Counters = {
    val by = countersBySpan()
    val t = new Counters
    closed(name).foreach(s => by.get(s.id).foreach(t.add))
    t
  }

  def write(path: java.nio.file.Path): Unit = synchronized {
    val by = countersBySpan()
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = m.createArrayNode()
    spans.foreach { s =>
      val o = arr.addObject()
      o.put("run", runId); o.put("id", s.id); o.put("name", s.name); o.put("parent", s.parent)
      o.put("start_ms", s.startMs); o.put("end_ms", s.endMs); o.put("ms", s.ms)
      o.put("self_ms", selfMs(s))
      by.get(s.id).foreach { c =>
        o.put("jobs", c.jobs); o.put("tasks", c.tasks); o.put("task_ms", c.taskMs)
        o.put("shuffle_write_bytes", c.shuffleWriteBytes); o.put("input_bytes", c.inputBytes)
        o.put("output_bytes", c.outputBytes)
      }
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, m.writerWithDefaultPrettyPrinter().writeValueAsString(arr))
  }
}

/** Registered through `spark.extraListeners`, so it also sees the sessions
  * the program's CLI creates for itself. */
class TraceListener extends SparkListener {
  private val gen = Trace.newGeneration()
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.onJobStart(gen, e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.onTaskEnd(gen, e)
}
