package graft.server

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ArrayNode
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.etl.{Json, Pipeline}

/** S4/S9 — HTTP API (reference app.py:51-140 + app_simple.py /health).
  *
  * `POST /process` takes a raw text body, runs the pipeline on it as a
  * single-document batch (fresh, isolated — app.py semantics, SURVEY D-3),
  * and returns `{success, data, types}`:
  *   - `data`: one JSON object per row; nulls kept (NaN→null), numbers /
  *     booleans / arrays preserved, everything else stringified
  *     (app.py:98-135);
  *   - `types`: per-column UI type from a pure schema walk — `array`,
  *     `boolean`, `number`, `datetime`, `string` (app.py:79-94 collapses to
  *     a schema walk on Spark, SURVEY §2.4 A5 — no data pass needed).
  *
  * JDK built-in httpserver: no new dependency under the offline build
  * (SURVEY §7.5). The HTTP layer lives on the driver; only the pipeline's
  * statistics job and the collect of the rows touch executors.
  */
object Api {

  /** N6 — the app_simple stringify-all variant (app_simple.py:86-92):
    * nulls → empty string, every column cast to string. */
  def stringifyAll(df: DataFrame): DataFrame = {
    val stringified = df.select(df.columns.map(c =>
      col(c).cast(StringType).as(c)): _*)
    stringified.na.fill("")
  }

  /** A5 — column type map from the schema alone. */
  def columnTypes(df: DataFrame): Map[String, String] =
    df.schema.fields.map { f =>
      f.name -> (f.dataType match {
        case _: ArrayType => "array"
        case BooleanType => "boolean"
        case _: NumericType => "number"
        case TimestampType | DateType => "datetime"
        case _ => "string"
      })
    }.toMap

  /** S9 — row serialization with nulls kept and scalars typed. */
  def rowsToJson(df: DataFrame): String = Json.mapper.writeValueAsString(rowsToJsonNode(df))

  /** The rows of [[rowsToJson]] as a Jackson array, for responses that
    * embed them. */
  def rowsToJsonNode(df: DataFrame): ArrayNode = {
    val arr = Json.mapper.createArrayNode()
    val fields = df.schema.fields
    df.collect().foreach { row =>
      val o = arr.addObject()
      fields.zipWithIndex.foreach { case (f, i) =>
        if (row.isNullAt(i)) o.putNull(f.name)
        else (f.dataType, row.get(i)) match {
          case (LongType, v: Long) => o.put(f.name, v)
          case (IntegerType, v: Int) => o.put(f.name, v)
          case (DoubleType, v: Double) =>
            if (v.isNaN) o.putNull(f.name) else o.put(f.name, v)
          case (BooleanType, v: Boolean) => o.put(f.name, v)
          case (_: ArrayType, v) =>
            val a = o.putArray(f.name)
            v.asInstanceOf[scala.collection.Seq[Any]].foreach {
              case null => a.addNull()
              case x: Long => a.add(x)
              case x: Int => a.add(x)
              case x: Double => a.add(x)
              case x: Boolean => a.add(x)
              case x => a.add(x.toString)
            }
          case (_, v) => o.put(f.name, v.toString)
        }
      }
    }
    arr
  }

  /** app_simple.py response shape: everything stringified, plus a summary
    * {records, columns} instead of the types map (app_simple.py:109-116). */
  def processBodySimple(spark: SparkSession, body: String): String = {
    import spark.implicits._
    val result = Pipeline.process(spark, Seq(("request_body.txt", body)).toDS())
    val m = Json.mapper
    val root = m.createObjectNode()
    root.put("success", true)
    try {
      val frame = if (result.totalItems == 0) result.frame else stringifyAll(result.frame)
      root.set[JsonNode]("data",
        if (result.totalItems == 0) m.createArrayNode() else rowsToJsonNode(frame))
      val summary = root.putObject("summary")
      summary.put("records", result.totalItems)
      summary.put("columns", if (result.totalItems == 0) 0 else frame.columns.length)
      m.writeValueAsString(root)
    } finally result.cleanup()
  }

  def processBody(spark: SparkSession, body: String): String = {
    import spark.implicits._
    val result = Pipeline.process(spark, Seq(("request_body.txt", body)).toDS())
    try {
      val m = Json.mapper
      val root = m.createObjectNode()
      root.put("success", true)
      if (result.totalItems == 0) {
        root.set[JsonNode]("data", m.createArrayNode())
        root.set[JsonNode]("types", m.createObjectNode())
      } else {
        root.set[JsonNode]("data", rowsToJsonNode(result.frame))
        val types = root.putObject("types")
        columnTypes(result.frame).toSeq.sortBy(_._1).foreach { case (k, v) => types.put(k, v) }
      }
      m.writeValueAsString(root)
    } finally result.cleanup()
  }

  /** Error body matching the reference's failure shape (app.py returns
    * {error, trace} with HTTP 500). Always valid JSON via Jackson. */
  private def errorJson(e: Exception): String = {
    val m = Json.mapper
    val root = m.createObjectNode()
    root.put("error", String.valueOf(e.getMessage))
    root.put("trace", e.getStackTrace.take(5).mkString("\n"))
    m.writeValueAsString(root)
  }

  /** Start the server on `port`; returns the handle (call `.stop(0)`). */
  def start(spark: SparkSession, port: Int): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)

    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        if (ex.getRequestURI.getPath != "/")
          respond(ex, 404, """{"error": "not found"}""")
        else ex.getRequestMethod match {
          case "GET" => respond(ex, 200, WebUi.html, "text/html; charset=utf-8")
          case "HEAD" =>
            // JDK HttpServer rejects a body write on HEAD: headers only
            ex.getResponseHeaders.add("Content-Type", "text/html; charset=utf-8")
            ex.sendResponseHeaders(200, -1)
            ex.close()
          case _ => respond(ex, 405, """{"error": "GET required"}""")
        }
    })

    server.createContext("/health", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        respond(ex, 200, """{"status": "ok"}""")
    })

    server.createContext("/process_simple", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (ex.getRequestMethod != "POST") { respond(ex, 405, """{"success": false, "error": "POST required"}""") }
        else {
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          if (body.trim.isEmpty) { respond(ex, 400, """{"error": "No data provided"}"""); return }
          try respond(ex, 200, Api.processBodySimple(spark, body))
          catch { case e: Exception => respond(ex, 500, errorJson(e)) }
        }
      }
    })

    server.createContext("/process", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (ex.getRequestMethod != "POST") { respond(ex, 405, """{"success": false, "error": "POST required"}""") }
        else {
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          if (body.trim.isEmpty) {
            // parity: reference rejects empty bodies with 400 (app.py:61-62)
            respond(ex, 400, """{"error": "No data provided"}""")
            return
          }
          // parity: processing failures are HTTP 500 with {error, trace}
          // (reference app.py returns 500 on pipeline exceptions)
          try respond(ex, 200, Api.processBody(spark, body))
          catch { case e: Exception => respond(ex, 500, errorJson(e)) }
        }
      }
    })

    // a pool so a slow /process can't block /health (liveness probes)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.start()
    server
  }

  private def respond(
      ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }
}
