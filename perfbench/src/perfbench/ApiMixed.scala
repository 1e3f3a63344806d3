package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.etl.{Json, Pipeline}
import graft.server.Api

/** `api_mixed`: `POST /process` through `Api.start` on an ephemeral port.
  *
  * A closed loop with one client per core gives capacity and the latency
  * each concurrent caller sees. The traced run adds an open loop: seeded
  * Poisson arrivals at half that capacity, from at most one connection per
  * core, each request timed from the moment it was due, so a stall also
  * delays the requests queued behind it. Operations are requests.
  */
object ApiMixed {

  private val bodyCount = 280

  private final case class Sample(due: Long, sent: Long, done: Long)

  /** Problems with one response to a body with expectation `e`. */
  def check(status: Int, body: String, e: Gen.Expect): Seq[String] =
    if (status != 200) Seq(s"HTTP $status: ${body.take(200)}")
    else {
      val root = Json.mapper.readTree(body)
      val types = root.get("types").properties().asScala.map(f => f.getKey -> f.getValue.asText).toMap
      Seq(
        Option.when(!root.get("success").asBoolean)("success=false"),
        Option.when(root.get("data").size != e.total)(s"data length ${root.get("data").size} != ${e.total}"),
        Option.when(types != e.apiTypes)(s"types $types != ${e.apiTypes}")).flatten
    }

  def run(r: PerfMain.Run): Unit = {
    val bodies = (0 until bodyCount).map(i => Gen.body(r.seed, i))
    val warm = (0 until r.cpus).map(i => Gen.body(r.seed, bodyCount + i))
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .executor(Executors.newFixedThreadPool(2)).build()
    var spark: SparkSession = null
    var server: com.sun.net.httpserver.HttpServer = null
    def post(d: Gen.Doc): HttpResponse[String] = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${server.getAddress.getPort}/process"))
        .timeout(java.time.Duration.ofSeconds(60))
        .POST(HttpRequest.BodyPublishers.ofByteArray(d.bytes)).build(),
      HttpResponse.BodyHandlers.ofString())
    def request(op: String, d: Gen.Doc): Unit = {
      val res = try post(d) catch { case e: Exception => null }
      r.record(op, if (res == null) Seq("no response") else check(res.statusCode, res.body, d.expect))
    }

    r.setups(3) { i =>
      if (server != null) { server.stop(0); spark.stop() }
      spark = r.session()
      server = Api.start(spark, 0)
      // warm-up: one request per client, as the closed loop sends them
      val k = new AtomicInteger()
      parallel(r.cpus) {
        var j = k.getAndIncrement()
        while (j < warm.size) { request(s"setup$i/$j", warm(j)); j = k.getAndIncrement() }
      }
    }

    /** A closed loop, one client per core, from body 0 until the first
      * whole window of the body mix after `seconds`, so every seed sends
      * the same mix. Returns the samples and the loop's start. */
    def closedLoop(label: String, seconds: Double): (Seq[Sample], Long) = {
      val samples = new ConcurrentLinkedQueue[Sample]()
      val next = new AtomicInteger()
      val stopAt = new AtomicInteger(Int.MaxValue)
      val c0 = System.nanoTime()
      val cEnd = c0 + (seconds * 1e9).toLong
      parallel(r.cpus) {
        var i = next.getAndIncrement()
        while (i < stopAt.get && !(i % Gen.bodyWindow == 0 && System.nanoTime() >= cEnd &&
            { stopAt.compareAndSet(Int.MaxValue, i); true })) {
          val t = System.nanoTime()
          request(s"$label/$i", bodies(i % bodyCount))
          samples.add(Sample(t, t, System.nanoTime()))
          i = next.getAndIncrement()
        }
      }
      (samples.asScala.toSeq, c0)
    }

    // untimed: after the set-ups the JIT is still compiling the request
    // path, and latency under load falls for several seconds more
    closedLoop("warm", r.seconds)
    // capacity, and the latency each concurrent caller sees
    val (closed, c0) = closedLoop("closed", r.seconds)
    val capRps = closed.size / ((closed.map(_.done).max - c0) / 1e9)
    r.e2e("ops_per_s", capRps, "1/s")

    if (r.traced) {
      // open loop at half capacity, seeded Poisson arrivals; its latency
      // swings with the CPU the host grants, so it is a traced figure. It
      // runs twice the run's time, for more samples beyond the tail
      val rate = capRps / 2
      val schedule = OpenLoop.schedule(r.seed, rate, 2 * r.seconds)
      val open = new ConcurrentLinkedQueue[Sample]()
      val k = new AtomicInteger()
      val o0 = System.nanoTime()
      parallel(r.cpus) {
        var j = k.getAndIncrement()
        while (j < schedule.size) {
          val due = o0 + schedule(j)
          OpenLoop.sleepUntil(due)
          val sent = System.nanoTime()
          val d = bodies((bodyCount / 2 + j) % bodyCount)
          request(s"open/$j", d)
          open.add(Sample(due, sent, System.nanoTime()))
          j = k.getAndIncrement()
        }
      }
      val latMs = open.asScala.toSeq.map(s => (s.done - s.due) / 1e6)
      r.layer("api.p50_ms", Stats.median(latMs), "ms")
      // none below eleven samples, which then fails the run's metric check
      Stats.tail(latMs).foreach { case (pct, tail) =>
        r.layer("api.tail_ms", tail, "ms")
        r.layer("api.tail_pct", pct.toDouble, "%")
      }
      r.layer("api.samples", latMs.size.toDouble, "count")
      r.layer("api.capacity_rps", capRps, "1/s")
      r.layer("api.closed_p50_ms", Stats.median(closed.map(s => (s.done - s.due) / 1e6)), "ms")
      r.layer("api.rate_rps", rate, "1/s")
      r.layer("api.gen_late_ms", Stats.median(open.asScala.toSeq.map(s => (s.sent - s.due) / 1e6)), "ms")
      layers(r, spark, bodies.take(20), d => post(d))
    }
    r.heapRetained()
    server.stop(0)
    spark.stop()
  }

  private def parallel(n: Int)(body: => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(n)
    try {
      val fs = (1 to n).map(_ => pool.submit(new Runnable { def run(): Unit = body }))
      fs.foreach(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS) }
  }

  /** The traced run calls `Api.processBody` directly, then the calls it is
    * made of, one span each, and compares with the same bodies over HTTP. */
  private def layers(r: PerfMain.Run, spark: SparkSession, sample: Seq[Gen.Doc],
      post: Gen.Doc => HttpResponse[String]): Unit = {
    import spark.implicits._
    // per body: the direct call and the same body over HTTP, in
    // alternating order, then the calls processBody is made of
    val perBody = sample.zipWithIndex.map { case (d, i) =>
      def direct(): (Int, Double) = {
        val json = Trace.span("server.Api.processBody")(Api.processBody(spark, d.text))
        r.record("layers/processBody", check(200, json, d.expect))
        (json.getBytes("UTF-8").length, Trace.closed("server.Api.processBody").last.ms)
      }
      def http(): Double = {
        val t = System.nanoTime()
        val res = post(d)
        r.record("layers/http", check(res.statusCode, res.body, d.expect))
        (System.nanoTime() - t) / 1e6
      }
      val ((bytes, directMs), httpMs) =
        if (i % 2 == 0) { val a = direct(); (a, http()) } else { val h = http(); (direct(), h) }
      val res = Trace.span("etl.Pipeline.process")(Pipeline.process(spark, Seq(("request_body.txt", d.text)).toDS()))
      Trace.span("server.Api.rowsToJson")(Api.rowsToJson(res.frame))
      Trace.span("etl.Result.cleanup")(res.cleanup())
      (bytes.toDouble, httpMs - directMs)
    }
    PerfMain.spanMetrics(r, "server.Api.processBody", "jobs")
    r.perLayer.remove("server.Api.processBody.jobs").foreach { case (v, u) =>
      r.layer("server.Api.processBody.jobs_per_request", v, u)
    }
    r.layer("server.Api.response_bytes", Stats.mean(perBody.map(_._1)), "B")
    r.layer("server.Api.http_overhead_ms", Stats.median(perBody.map(_._2)), "ms")
    PerfMain.spanMetrics(r, "etl.Pipeline.process", "jobs", "tasks", "task_ms")
    PerfMain.spanMetrics(r, "server.Api.rowsToJson")
    PerfMain.spanMetrics(r, "etl.Result.cleanup")
  }
}

/** Open-loop arrival schedule and pacing. */
object OpenLoop {
  /** Seeded Poisson arrivals at `rate` per second over `seconds`, as
    * nanosecond offsets from the loop's start. */
  def schedule(seed: Long, rate: Double, seconds: Double): IndexedSeq[Long] = {
    val rng = new scala.util.Random(seed * 104729 + 3)
    Iterator.iterate(0.0)(t => t - math.log(1 - rng.nextDouble()) / rate).drop(1)
      .takeWhile(_ < seconds).map(t => (t * 1e9).toLong).toIndexedSeq
  }

  def sleepUntil(due: Long): Unit = {
    var left = due - System.nanoTime()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = due - System.nanoTime()
    }
  }
}
