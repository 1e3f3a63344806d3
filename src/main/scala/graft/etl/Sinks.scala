package graft.etl

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output sinks (SURVEY §2.1 S5–S9).
  *
  * CSV/schema/metadata are overwrite-per-run; the store (S8) is append-only —
  * matching the reference's split personality (etl_pipeline.py:290-305 vs
  * :352-380).
  */
object Sinks {

  /** One run's sinks, shared by the directory batch (`process`/`db`) and
    * watch mode: CSV, schema and metadata overwrite under `outDir`; with
    * `useStore` the result also appends to the store — Derby over JDBC
    * when `GRAFT_JDBC_URL` is set, parquet under `outDir/store`
    * otherwise. `filename` is the input's basename (comma-joined for a
    * multi-file batch) in the metadata JSON and the store alike. */
  def writeRun(
      result: Pipeline.Result, outDir: String, filename: String,
      startTime: String, useStore: Boolean): Unit = {
    writeCsvSingleFile(result.frame, s"$outDir/cleaned_output.csv")
    writeSchemaJson(result.fieldStats, s"$outDir/dynamic_schema.json")
    writeMetadataJson(
      Pipeline.RunMetadata(startTime, java.time.Instant.now().toString,
        filename, result.totalItems, result.itemsByType),
      s"$outDir/processing_metadata.json")
    if (useStore) sys.env.get("GRAFT_JDBC_URL") match {
      case Some(url) => appendStoreJdbc(result, filename, url)
      case None => appendStore(result, filename, s"$outDir/store")
    }
  }

  /** S5 — single-file CSV with header (reference cleaned_output.csv,
    * etl_pipeline.py:290-292). Spark writes a part-file per partition; the
    * single-file contract needs coalesce(1) + rename. Array columns are
    * serialized as JSON (Spark CSV cannot write arrays; divergence noted in
    * SURVEY D-5 — goldens compare parsed values, not bytes). */
  def writeCsvSingleFile(df: DataFrame, outPath: String): Unit = {
    val stringified = df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case _: ArrayType => acc.withColumn(f.name, to_json(Pipeline.qcol(f.name)))
        case _ => acc
      }
    }
    val tmp = outPath + ".tmp"
    stringified.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(tmp)
    val part = Files.list(Paths.get(tmp)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.startsWith("part-"))
      .getOrElse(sys.error(s"no part file written under $tmp"))
    Files.createDirectories(Paths.get(outPath).toAbsolutePath.getParent)
    Files.move(part, Paths.get(outPath), StandardCopyOption.REPLACE_EXISTING)
    deleteRecursively(Paths.get(tmp))
  }

  /** S6 — dynamic_schema.json: {field → {type, nullable, present_in}},
    * keys sorted for determinism (the reference iterates an unordered set). */
  def writeSchemaJson(stats: Map[String, Pipeline.FieldStats], outPath: String): Unit =
    writeString(outPath, Json.mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(schemaStatsNode(stats)))

  /** S7 — processing_metadata.json (etl_pipeline.py:301-306). */
  def writeMetadataJson(meta: Pipeline.RunMetadata, outPath: String): Unit = {
    val m = Json.mapper
    val root = m.createObjectNode()
    root.put("start_time", meta.startTime)
    root.put("end_time", meta.endTime)
    root.put("filename", meta.filename)
    root.put("total_items", meta.totalItems)
    val byType = root.putObject("items_by_type")
    meta.itemsByType.toSeq.sortBy(_._1).foreach { case (k, v) => byType.put(k, v) }
    writeString(outPath, m.writerWithDefaultPrettyPrinter().writeValueAsString(root))
  }

  /** S8 — append-only store with the reference's two-table shape
    * (processed_data + schemas, DDL at etl_pipeline.py:326-344), as parquet
    * append tables. The reference uses SQLite — a single-node, 2 GB-capped
    * sink; parquet is the scale-path equivalent (SURVEY §7.5): same columns,
    * rows stored as JSON strings, cumulative across runs. */
  def appendStore(result: Pipeline.Result, filename: String, storeDir: String): Unit = {
    val df = result.frame
    val spark = df.sparkSession
    import spark.implicits._

    df.select(
        lit(filename).as("filename"),
        col("source_index"),
        col("type").as("data_type"),
        to_json(struct(df.columns.map(Pipeline.qcol): _*)).as("data_json"),
        current_timestamp().as("created_at"))
      .write.mode("append").parquet(s"$storeDir/processed_data")

    Seq((filename, schemaStatsJson(result.fieldStats)))
      .toDF("filename", "schema_json")
      .withColumn("created_at", current_timestamp())
      .write.mode("append").parquet(s"$storeDir/schemas")
  }

  /** S8 (JDBC variant) — the reference's exact two-table SQL-database shape
    * on embedded Derby (ships with Spark; sqlite-jdbc does not exist in the
    * offline jar set — SURVEY §7.5). DDL mirrors etl_pipeline.py:326-344:
    * autoincrement id + created_at default, rows as JSON strings, append
    * only. Single-partition writes: an embedded DB is a single-node sink by
    * nature (the reference's SQLite had a 2 GB cap); the parquet store above
    * is the scale path.
    */
  def appendStoreJdbc(result: Pipeline.Result, filename: String, jdbcUrl: String): Unit = {
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    ensureDerbyTables(jdbcUrl)

    val df = result.frame
    df.select(
        lit(filename).as("filename"),
        col("source_index"),
        col("type").as("data_type"),
        to_json(struct(df.columns.map(Pipeline.qcol): _*)).as("data_json"))
      .coalesce(1)
      .write.mode("append").jdbc(jdbcUrl, "processed_data", props)

    val spark = df.sparkSession
    import spark.implicits._
    val schemaJson = schemaStatsJson(result.fieldStats)
    Seq((filename, schemaJson)).toDF("filename", "schema_json")
      .coalesce(1)
      .write.mode("append").jdbc(jdbcUrl, "schemas", props)
  }

  private def ensureDerbyTables(jdbcUrl: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(jdbcUrl + ";create=true")
    try {
      val st = conn.createStatement()
      def createIfMissing(ddl: String): Unit =
        try st.executeUpdate(ddl)
        catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () } // exists
      createIfMissing(
        """CREATE TABLE processed_data (
          |  id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
          |  filename VARCHAR(512),
          |  source_index VARCHAR(64),
          |  data_type VARCHAR(32),
          |  data_json CLOB,
          |  created_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""".stripMargin)
      createIfMissing(
        """CREATE TABLE schemas (
          |  id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
          |  filename VARCHAR(512),
          |  schema_json CLOB,
          |  created_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""".stripMargin)
      st.close()
    } finally conn.close()
  }

  private def schemaStatsNode(
      stats: Map[String, Pipeline.FieldStats]): com.fasterxml.jackson.databind.node.ObjectNode = {
    val root = Json.mapper.createObjectNode()
    stats.toSeq.sortBy(_._1).foreach { case (field, fs) =>
      val o = root.putObject(field)
      val arr = o.putArray("type"); fs.types.foreach(arr.add)
      o.put("nullable", fs.nullable); o.put("present_in", fs.presentIn)
    }
    root
  }

  private def schemaStatsJson(stats: Map[String, Pipeline.FieldStats]): String =
    Json.mapper.writeValueAsString(schemaStatsNode(stats))

  private def writeString(path: String, s: String): Unit = {
    val p = Paths.get(path).toAbsolutePath
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, s)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).toArray.map(_.asInstanceOf[java.nio.file.Path]).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
