package graft.etl

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Streaming watch mode + HTTP API end-to-end tests. */
class WatchApiSpec extends SparkSpec {

  test("watch mode processes an arriving file and writes all three sinks") {
    val in = Files.createTempDirectory("graft_watch_in").toString
    val out = Files.createTempDirectory("graft_watch_out").toString
    val q = graft.streaming.Watch.start(spark, in, out, s"$out/_cp")
    try {
      Files.copy(Paths.get("/root/reference/sample_data.txt"),
        Paths.get(s"$in/sample_data.txt"))
      q.processAllAvailable()
      assert(Files.exists(Paths.get(s"$out/cleaned_output.csv")))
      assert(Files.exists(Paths.get(s"$out/dynamic_schema.json")))
      val meta = Json.mapper.readTree(
        Files.readString(Paths.get(s"$out/processing_metadata.json")))
      assert(meta.get("total_items").asLong() == 27)
      assert(meta.get("filename").asText() == "sample_data.txt")
    } finally q.stop()
  }

  test("watch recovery: restart from checkpoint processes each file exactly once") {
    // SURVEY §2.8 claim: the reference's watchdog loop loses files that
    // arrive while the process is down and has no restart tracking
    // (main.py:15-35); the file-source checkpoint must (a) pick up files
    // that arrived during the outage and (b) NOT reprocess committed ones.
    val in = Files.createTempDirectory("graft_watch_rec_in").toString
    val out = Files.createTempDirectory("graft_watch_rec_out").toString
    val cp = s"$out/_cp"

    Files.writeString(Paths.get(s"$in/a.txt"), "alpha one\n\nalpha two")
    val q1 = graft.streaming.Watch.start(spark, in, out, cp, useStore = true)
    try q1.processAllAvailable() finally q1.stop()

    // watcher is DOWN; two files arrive during the outage
    Files.writeString(Paths.get(s"$in/b.txt"), "bravo one\n\nbravo two")
    Files.writeString(Paths.get(s"$in/c.txt"), "charlie one")

    val q2 = graft.streaming.Watch.start(spark, in, out, cp, useStore = true)
    try q2.processAllAvailable() finally q2.stop()

    // the store appends ONE schemas row per processed batch (one file per
    // batch under maxFilesPerTrigger=1) — the exactly-once ledger, keyed
    // by basename exactly as `db` and the metadata JSON name the file
    val processed = spark.read.parquet(s"$out/store/schemas")
      .select("filename").collect().map(_.getString(0)).toSeq
    assert(processed.sorted == Seq("a.txt", "b.txt", "c.txt"),
      s"per-file process counts must all be 1; got $processed")
    val rowFiles = spark.read.parquet(s"$out/store/processed_data")
      .select("filename").distinct().collect().map(_.getString(0)).toSeq
    assert(rowFiles.sorted == Seq("a.txt", "b.txt", "c.txt"), rowFiles)
  }

  test("POST /process returns {success, data, types} (F2 products fixture)") {
    val server = graft.server.Api.start(spark, 0)
    val port = server.getAddress.getPort
    try {
      val body =
        """{"product_name":"Laptop","price":1299.99,"in_stock":true,"categories":["electronics"],"rating":4.5}
          |{"product_name":"Mouse","price":29.99,"in_stock":true,"categories":["accessories"],"rating":4.2}""".stripMargin
      val resp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/process"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      val json = Json.mapper.readTree(resp.body())
      assert(json.get("success").asBoolean())
      assert(json.get("data").size() == 2)
      val types = json.get("types")
      assert(types.get("categories").asText() == "array")
      assert(types.get("in_stock").asText() == "boolean")
      assert(types.get("price").asText() == "number")
      assert(types.get("product_name").asText() == "string")
      // numbers survive as numbers, not strings
      assert(json.get("data").get(0).get("price").isDouble)
      assert(json.get("data").get(0).get("total_items").asLong() == 2L)
    } finally server.stop(0)
  }

  test("GET / serves the web UI; unknown paths 404") {
    val server = graft.server.Api.start(spark, 0)
    val port = server.getAddress.getPort
    try {
      val client = HttpClient.newHttpClient()
      val root = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(root.statusCode() == 200)
      assert(root.body().contains("graft ETL") && root.body().contains("/process"))
      // S10 — the client-side CSV export ships in the page: the export
      // handler builds a cleaned_output.csv blob from the rendered table
      assert(root.body().contains("exportCsv"))
      assert(root.body().contains("cleaned_output.csv"))
      assert(root.body().contains("text/csv"))
      val missing = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/nope")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(missing.statusCode() == 404)
    } finally server.stop(0)
  }

  test("GET /health returns ok; non-POST /process is rejected") {
    val server = graft.server.Api.start(spark, 0)
    val port = server.getAddress.getPort
    try {
      val client = HttpClient.newHttpClient()
      val health = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(health.statusCode() == 200)
      assert(Json.mapper.readTree(health.body()).get("status").asText() == "ok")
      val wrong = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/process")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(wrong.statusCode() == 405)
      // parity with app.py:61-62 — empty body is a 400
      val empty = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/process"))
          .POST(HttpRequest.BodyPublishers.ofString("   ")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(empty.statusCode() == 400)
    } finally server.stop(0)
  }

  test("POST /process_simple stringifies everything and returns a summary (N6)") {
    val server = graft.server.Api.start(spark, 0)
    val port = server.getAddress.getPort
    try {
      val resp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/process_simple"))
          .POST(HttpRequest.BodyPublishers.ofString("""{"a": 1, "b": true}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      val json = Json.mapper.readTree(resp.body())
      assert(json.get("success").asBoolean())
      assert(json.get("summary").get("records").asLong() == 1)
      assert(json.get("summary").get("columns").asLong() == 5)
      val row = json.get("data").get(0)
      // N6: numbers and booleans arrive as STRINGS in the simple variant
      assert(row.get("a").isTextual && row.get("a").asText() == "1")
      assert(row.get("b").asText() == "true")
    } finally server.stop(0)
  }

  test("POST /process with garbage body still succeeds with text rows") {
    val server = graft.server.Api.start(spark, 0)
    val port = server.getAddress.getPort
    try {
      val resp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/process"))
          .POST(HttpRequest.BodyPublishers.ofString("just some plain prose here")).build(),
        HttpResponse.BodyHandlers.ofString())
      val json = Json.mapper.readTree(resp.body())
      assert(json.get("success").asBoolean())
      assert(json.get("data").size() == 1)
      assert(json.get("data").get(0).get("type").asText() == "text")
    } finally server.stop(0)
  }
}
