package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.etl.{Pipeline, Sinks}

/** S3 — watch mode on Structured Streaming (SURVEY §2.8).
  *
  * The reference watches a directory with watchdog and processes each new
  * file as an independent batch (main.py:15-35, 67-83), with a 1 s sleep to
  * let the file finish writing and no recovery if the process dies. Here the
  * file source's atomic-visibility contract subsumes the debounce, and the
  * checkpoint gives exactly-once file tracking across restarts — files that
  * arrive while the watcher is down are processed on resume, which the
  * reference simply loses.
  *
  * `maxFilesPerTrigger=1` preserves the reference's one-file-one-batch unit
  * of work; per-batch sinks ([[Sinks.writeRun]], the same path `db` takes)
  * overwrite CSV/schema/metadata and append to the store, matching the
  * reference's split sink modes.
  */
object Watch {

  def start(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      useStore: Boolean = false): StreamingQuery = {
    import spark.implicits._

    val stream = spark.readStream
      .format("binaryFile")
      .schema("path string, modificationTime timestamp, length long, content binary")
      .option("maxFilesPerTrigger", "1")
      .load(inputDir)

    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // from the path column alone, so binaryFile prunes the content
        val fileNames = batch.select("path").as[String].collect()
        val files = batch.select("path", "content")
          .as[(String, Array[Byte])]
          .map { case (p, b) => (p, Pipeline.decodeWithFallback(b)) }
        if (fileNames.nonEmpty) {
          val start = java.time.Instant.now().toString
          val result = Pipeline.process(spark, files)
          if (result.totalItems > 0)
            Sinks.writeRun(result, outputDir,
              fileNames.map(p => p.substring(p.lastIndexOf('/') + 1)).mkString(","),
              start, useStore)
          result.cleanup()
        }
        ()
      }
      .start()
  }
}
