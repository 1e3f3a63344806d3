package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.etl.{Extract, Json, Pipeline, Sinks}

/** `etl_batch`: the CLI user path, `Main db` over a directory of small
  * files and over a 1 MB file, and `Main process --chunked true` over
  * one large blank-line-separated file, each through `graft.etl.Main.main`.
  *
  * Operations are input files. A pass runs the three invocations; whole
  * passes repeat until the run's time is used. The CLI starts and stops its
  * own Spark session on every invocation, as a user's command does.
  */
object EtlBatch {

  /** Timestamps each line the CLI prints, so per-file wall time is seen
    * from outside; lines are echoed to stderr. */
  private final class LineClock extends java.io.OutputStream {
    private val buf = new java.io.ByteArrayOutputStream
    val lines = mutable.ArrayBuffer.empty[(Long, String)]
    override def write(b: Int): Unit =
      if (b == '\n') {
        val line = buf.toString("UTF-8"); buf.reset()
        lines += ((System.nanoTime(), line)); System.err.println(line)
      } else buf.write(b)
  }

  private val processed = """\[process\] (\S+): (\d+) records \((.*)\)""".r

  private final case class Input(kind: String, dir: Path, docs: Seq[(String, Gen.Doc)], cmd: Seq[String])

  /** One CLI invocation; returns its wall seconds and each file's wall
    * seconds and reported counts, in processing order. */
  private def cli(args: Seq[String]): (Double, Seq[(String, Double, Map[String, Long])]) = {
    val clock = new LineClock
    val out = new java.io.PrintStream(clock, true, "UTF-8")
    val t0 = System.nanoTime()
    Console.withOut(out)(graft.etl.Main.main(args.toArray))
    out.flush()
    val wall = (System.nanoTime() - t0) / 1e9
    var prev = t0
    val files = clock.lines.toSeq.collect { case (t, processed(name, _, kinds)) =>
      val counts = kinds.split(", ").map(_.split("=")).map(a => a(0) -> a(1).toLong).toMap
      val w = (t - prev) / 1e9
      prev = t
      (name, w, counts)
    }
    (wall, files)
  }

  /** Problems with the per-run sinks, which hold the last file's output. */
  private def checkSinks(out: Path, name: String, e: Gen.Expect): Seq[String] = {
    val p = mutable.ArrayBuffer.empty[String]
    val csv = Files.readAllLines(out.resolve("cleaned_output.csv")).asScala
    val header = csv.head.split(",").map(_.stripPrefix("\"").stripSuffix("\"")).toSet
    if (csv.size - 1 != e.total) p += s"csv rows ${csv.size - 1} != ${e.total}"
    if (header != e.csvColumns) p += s"csv columns ${header.toSeq.sorted} != ${e.csvColumns.toSeq.sorted}"
    val meta = Json.mapper.readTree(Files.readString(out.resolve("processing_metadata.json")))
    val byType = meta.get("items_by_type").properties().asScala.map(f => f.getKey -> f.getValue.asLong).toMap
    if (meta.get("filename").asText != name) p += s"metadata filename ${meta.get("filename")}"
    if (meta.get("total_items").asLong != e.total) p += s"metadata total_items ${meta.get("total_items")} != ${e.total}"
    if (byType != e.itemsByType) p += s"metadata items_by_type $byType != ${e.itemsByType}"
    val schema = Json.mapper.readTree(Files.readString(out.resolve("dynamic_schema.json")))
      .fieldNames().asScala.toSet
    if (schema != e.schemaFields) p += s"schema fields ${schema.toSeq.sorted} != ${e.schemaFields.toSeq.sorted}"
    p.toSeq
  }

  private def write(dir: Path, docs: Seq[(String, Gen.Doc)]): Unit =
    docs.foreach { case (n, d) => Files.write(dir.resolve(n), d.bytes) }

  def run(r: PerfMain.Run): Unit = {
    val gen = Gen.etl(r.seed)
    val root = r.dir("etl")
    def input(kind: String, docs: Seq[(String, Gen.Doc)], cmd: String*): Input = {
      val dir = Files.createDirectories(root.resolve(s"in-$kind"))
      write(dir, docs)
      Input(kind, dir, docs, cmd)
    }
    val inputs = Seq(
      input("small", gen.small.zipWithIndex.map { case (d, i) => s"s$i.txt" -> d }, "db"),
      input("medium", gen.medium.zipWithIndex.map { case (d, i) => s"m$i.txt" -> d }, "db"),
      input("chunked", Seq("c.txt" -> gen.chunked), "process", "--chunked", "true"))
    val warm = Seq(input("warm", Seq("w.txt" -> gen.warmup(0)), "db"),
      input("warm-chunked", Seq("wc.txt" -> gen.warmup(1)), "process", "--chunked", "true"))

    var outs = 0
    def outDir(): Path = { outs += 1; root.resolve(s"out-$outs") }
    // problems per operation (pass, file), completed after the store check
    val problems = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
    val stores = mutable.ArrayBuffer.empty[(Path, Seq[(String, Gen.Doc)], String)]

    /** Runs one invocation and checks what it printed and wrote. */
    def invoke(in: Input, op: String): (Double, Seq[(String, Double, Map[String, Long])]) = {
      val out = outDir()
      val (wall, files) = cli(in.cmd.take(1) ++ Seq("--in", in.dir.toString, "--out", out.toString) ++ in.cmd.drop(1))
      in.docs.foreach { case (name, d) =>
        val p = problems.getOrElseUpdate(s"$op/$name", mutable.ArrayBuffer.empty)
        files.find(_._1 == name) match {
          case Some((_, _, got)) => if (got != d.expect.itemsByType) p += s"items_by_type $got != ${d.expect.itemsByType}"
          case None => p += "no [process] line"
        }
      }
      val (lastName, lastDoc) = in.docs.last
      problems(s"$op/$lastName") ++= checkSinks(out, lastName, lastDoc.expect)
      if (in.cmd.head == "db") stores += ((out.resolve("store"), in.docs, op))
      (wall, files)
    }

    // a set-up is one CLI run on a small file; the chunked mode is warmed
    // once more, untimed, before the passes
    r.setups(3)(i => invoke(warm.head, s"setup$i"))
    invoke(warm(1), "warm-chunked")

    val walls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val fileWalls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val t0 = System.nanoTime()
    var pass = 0
    var lastPass = 0.0
    while (pass == 0 || r.elapsed(t0) + lastPass <= r.seconds) {
      val p0 = System.nanoTime()
      inputs.foreach { in =>
        val (wall, files) = Trace.span(s"etl.Main.${in.cmd.head}")(invoke(in, s"pass$pass/${in.kind}"))
        System.err.println(f"[perfbench] ${in.kind}: ${files.map(_._2).mkString(" ")} s; $wall%.2f s in all")
        walls.getOrElseUpdate(in.kind, mutable.ArrayBuffer.empty) += wall
        fileWalls.getOrElseUpdate(in.kind, mutable.ArrayBuffer.empty) ++= files.map(_._2)
      }
      lastPass = r.elapsed(p0)
      pass += 1
    }
    val bytes = inputs.map(in => in.kind -> in.docs.map(_._2.bytes.length.toLong).sum).toMap
    val totalWall = walls.values.flatten.sum
    r.e2e("ops_per_s", inputs.map(_.docs.size).sum * pass / totalWall, "1/s")

    if (r.traced) {
      r.layer("etl.small_files_per_s", gen.small.size * pass / walls("small").sum, "1/s")
      r.layer("etl.medium_MBps", bytes("medium") * pass / 1e6 / walls("medium").sum, "MB/s")
      r.layer("etl.chunked_MBps", bytes("chunked") * pass / 1e6 / walls("chunked").sum, "MB/s")
      r.layer("etl.small_file_s", Stats.median(fileWalls("small").toSeq), "s")
      r.layer("etl.medium_file_s", Stats.median(fileWalls("medium").toSeq), "s")
    }

    // the store is checked once at the end, so the reading session is not
    // part of any invocation's time
    val spark = r.session()
    stores.foreach { case (store, docs, op) =>
      val rows = spark.read.parquet(store.resolve("processed_data").toString)
        .groupBy("filename", "data_type").count().collect()
        .map(row => (row.getString(0), row.getString(1)) -> row.getLong(2)).toMap
      docs.foreach { case (name, d) =>
        val got = rows.collect { case ((`name`, k), n) => k -> n }
        if (got != d.expect.itemsByType) problems(s"$op/$name") += s"store rows $got != ${d.expect.itemsByType}"
      }
    }
    if (r.traced) layers(r, spark, inputs)
    spark.stop()
    problems.foreach { case (op, p) => r.record(op, p.toSeq) }
    r.heapRetained()
  }

  /** The traced run repeats the batch loop's calls one layer at a time, as
    * `Main` composes them, with a span around each call. */
  private def layers(r: PerfMain.Run, spark: org.apache.spark.sql.SparkSession, inputs: Seq[Input]): Unit = {
    val storeGrowth = mutable.ArrayBuffer.empty[(Long, Long)]
    inputs.foreach { in =>
      val out = Files.createDirectories(in.dir.resolveSibling(s"layers-${in.kind}"))
      in.docs.foreach { case (name, d) =>
        val path = in.dir.resolve(name).toString
        val res =
          if (in.kind == "chunked") Trace.span("etl.Pipeline.processChunkedFile")(Pipeline.processChunkedFile(spark, path))
          else Trace.span("etl.Pipeline.processFile")(Pipeline.processFile(spark, path))
        Trace.span("etl.Sinks.writeCsvSingleFile")(Sinks.writeCsvSingleFile(res.frame, out.resolve("cleaned_output.csv").toString))
        Trace.span("etl.Sinks.json") {
          Sinks.writeSchemaJson(res.fieldStats, out.resolve("dynamic_schema.json").toString)
          Sinks.writeMetadataJson(Pipeline.RunMetadata("", "", name, res.totalItems, res.itemsByType),
            out.resolve("processing_metadata.json").toString)
        }
        if (in.kind != "chunked") {
          val before = PerfMain.du(out.resolve("store"))
          Trace.span("etl.Sinks.appendStore")(Sinks.appendStore(res, name, out.resolve("store").toString))
          val after = PerfMain.du(out.resolve("store"))
          storeGrowth += ((after._1 - before._1, after._2 - before._2))
        }
        Trace.span("etl.Result.cleanup")(res.cleanup())
        r.record(s"layers/$name", if (res.itemsByType == d.expect.itemsByType) Nil
          else Seq(s"items_by_type ${res.itemsByType} != ${d.expect.itemsByType}"))
      }
    }
    PerfMain.spanMetrics(r, "etl.Pipeline.processFile", "jobs", "tasks", "task_ms")
    PerfMain.spanMetrics(r, "etl.Pipeline.processChunkedFile", "jobs", "shuffle_write_bytes", "spill_bytes")
    PerfMain.spanMetrics(r, "etl.Sinks.writeCsvSingleFile", "jobs")
    PerfMain.spanMetrics(r, "etl.Sinks.appendStore")
    r.layer("etl.Sinks.appendStore.output_files", Stats.mean(storeGrowth.map(_._1.toDouble).toSeq), "count")
    r.layer("etl.Sinks.appendStore.output_bytes", Stats.mean(storeGrowth.map(_._2.toDouble).toSeq), "B")
    PerfMain.spanMetrics(r, "etl.Sinks.json")
    PerfMain.spanMetrics(r, "etl.Result.cleanup")

    // detection and extraction alone, on the driver, one thread
    def nsPerByte(docs: Seq[Gen.Doc]): Double = {
      val t0 = System.nanoTime()
      docs.foreach(d => Extract.extractRecords(d.text))
      (System.nanoTime() - t0).toDouble / docs.map(_.bytes.length.toLong).sum
    }
    val small = inputs.find(_.kind == "small").get.docs.map(_._2)
    nsPerByte(small) // untimed, so the JIT has compiled the detector
    r.layer("etl.Extract.small_ns_per_byte", nsPerByte(small), "ns/B")
    r.layer("etl.Extract.medium_ns_per_byte", nsPerByte(inputs.find(_.kind == "medium").get.docs.map(_._2)), "ns/B")
  }
}
