package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.json.GraftJsonStats
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The Spark assembly of the reference pipeline (SURVEY §2 / §7.1 step 4):
  *
  * {{{
  * wholetext read → flatMap(detect+extract)      // one row per file → N records
  *   → one statistics job: kind counts, per-key  // reference A1-A4
  *     present_in / non-null counts and the
  *     dynamic schema spark.read.json would infer
  *   → from_json pivot to the wide frame         // reference normalize N2/N3
  *   → prune artifacts, stamp total_items,       // N1, A1, N4, N5
  *     precedence-ordered rows, sorted columns
  * }}}
  *
  * Scale notes: extraction is embarrassingly parallel across files (flatMap,
  * no shuffle); the statistics are one map-side fold over the cached records
  * with one partial per partition merged on the driver, as Spark's own JSON
  * inference does, so `process` runs one Spark job and the frame is lazy;
  * `total_items` is the sum of the kind counts + `lit`, never an
  * unpartitioned window; the only shuffle is the final precedence sort.
  */
object Pipeline {

  /** One extracted record row: file provenance + kind/ordinal for ordering +
    * the JSON payload. Column names are prefixed to avoid colliding with
    * user JSON fields. Must be PUBLIC: Janino-generated encoder code calls
    * the accessors, and a private nested class silently drops the whole
    * stage to interpreted mode ("no applicable method" CompileException). */
  final case class RecordRow(
      graft_file: String, graft_kind: String, graft_ordinal: Int, graft_json: String)

  /** Per-field stats artifact (reference infer_schema, etl_pipeline.py:197-218).
    * `types` uses the SURVEY D-4 fixed mapping of Spark types to Python type
    * names so the artifact stays byte-comparable. */
  final case class FieldStats(types: Seq[String], nullable: Boolean, presentIn: Long)

  final case class RunMetadata(
      startTime: String,
      endTime: String,
      filename: String,
      totalItems: Long,
      itemsByType: Map[String, Long])

  /** `cleanup()` unpersists the cached record dataset backing `frame`; call
    * it after the frame has been written/collected. Long-running callers
    * (serve, watch) leak cached blocks per request otherwise. */
  final case class Result(
      frame: DataFrame,
      fieldStats: Map[String, FieldStats],
      itemsByType: Map[String, Long],
      totalItems: Long,
      cleanup: () => Unit = () => ())

  private val core = Seq("type", "source_index", "total_items")
  private val artifacts = Seq("word_count", "title")

  /** S1/S2 — whole-file scan with UTF-8 → Latin-1 fallback
    * (etl_pipeline.py:41-55). binaryFile source so the fallback decode is
    * under our control; Latin-1 maps every byte, so decoding never fails. */
  def readWholeFiles(spark: SparkSession, pathGlob: String): Dataset[(String, String)] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .map { case (path, bytes) => (path, decodeWithFallback(bytes)) }
  }

  def decodeWithFallback(bytes: Array[Byte]): String = {
    import java.nio.charset.{StandardCharsets, CodingErrorAction}
    try {
      val dec = StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
    } catch {
      case _: java.nio.charset.CharacterCodingException =>
        new String(bytes, StandardCharsets.ISO_8859_1)
    }
  }

  /** Process a batch of (filename, content) documents into the normalized
    * wide frame + schema artifact + counts. One call infers ONE schema and
    * stamps ONE `total_items` over all its documents; nothing accumulates
    * across calls. app.py's per-file isolation (SURVEY D-3) is therefore one
    * call per document, which is how the API, `db` and watch call it. */
  def process(spark: SparkSession, files: Dataset[(String, String)]): Result = {
    import spark.implicits._
    val records = files.flatMap { case (file, content) =>
      Extract.extractRecords(content).map(r =>
        RecordRow(file, r.kind, r.ordinal, r.json))
    }
    assemble(spark, records)
  }

  /** Size threshold (bytes) above which [[processFile]] routes a single
    * file to [[processChunkedFile]]. Default 256 MiB: far below the 2 GiB
    * JVM string ceiling a wholetext read would hit, and past the point
    * where one-row-per-file serializes detection on a single core. */
  val chunkThresholdKey = "spark.graft.chunkThresholdBytes"
  private val chunkThresholdDefault: Long = 256L << 20

  /** Process ONE file, auto-routing by size: whole-file semantics below
    * the [[chunkThresholdKey]] threshold, [[processChunkedFile]] at or
    * above it. The wholetext path materializes the entire file as one
    * row — a multi-GB file serializes detection on one executor thread
    * and a > 2 GiB file breaks the JVM string limit — so oversized files
    * take the segment-parallel path instead (same output for the
    * blank-line-separated data model; divergence contract documented on
    * [[processChunkedFile]]). The size probe uses the Hadoop FileSystem
    * of the path, so routing works on HDFS/object stores, not just local
    * disk. */
  def processFile(spark: SparkSession, path: String): Result = {
    val threshold = spark.conf.getOption(chunkThresholdKey)
      .map(_.toLong).getOrElse(chunkThresholdDefault)
    val p = new org.apache.hadoop.fs.Path(path)
    val size = p.getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(p).getLen
    if (size >= threshold) processChunkedFile(spark, path)
    else process(spark, readWholeFiles(spark, path))
  }

  /** One detected block before extraction, with global position (segment id,
    * intra-segment emission index). Public for encoder codegen. */
  final case class BlockRow(seg: Long, pos: Int, kind: String, payload: String)

  /** Large-single-file scale path: the whole-file pipeline runs detection on
    * ONE executor thread per file (wholetext = one row); a multi-GB file
    * would serialize. This mode splits the file into blank-line-separated
    * segments with the text source's multi-char lineSep — each segment a
    * row, scanned in parallel — then restores the whole-file semantics with
    * distributed window ops: global value-dedup (first occurrence wins) and
    * global per-kind ordinals in (segment, emission) order.
    *
    * Contract (documented divergence from whole-file mode): blocks must not
    * span a blank-line boundary, and residual-text stripping of a block's
    * string happens within its own segment only. The reference's own data
    * model (blank-line-separated blocks) satisfies this.
    */
  def processChunkedFile(spark: SparkSession, path: String): Result = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window

    // monotonically_increasing_id preserves file order: ascending partition
    // ids follow ascending file-split offsets for a single text file
    val segsRaw = spark.read.option("lineSep", "\n\n").text(path)
      .select(monotonically_increasing_id().as("seg"), col("value"))

    // widen narrow reads BEFORE detection: a file under maxPartitionBytes
    // (128 MB) scans as ONE partition, which would serialize the CPU-heavy
    // regex detection on a single core. seg ids are assigned below the
    // exchange, so the round-robin reshuffle cannot perturb them; no-op for
    // many-file inputs (the genuinely-large case).
    val segs = graft.ext.Dedup.widen(segsRaw)

    val blocks = segs.as[(Long, String)].flatMap { case (seg, content) =>
      val d = Detector.detect(content)
      val all = d.html.map(("html", _)) ++ d.json.map(("json", _)) ++
        d.text.map(("text", _)) ++ d.media.map(("media", _))
      all.zipWithIndex.map { case ((k, p), i) => BlockRow(seg, i, k, p) }
    }

    // global value-dedup for html/json/media ONLY: the whole-file path
    // (Detector.detect) dedups those kinds by value but emits every
    // qualifying text line, duplicates included — so text bypasses the
    // dedup window. High-cardinality (kind, payload) keys partition
    // evenly, so the window is skew-free.
    val wKP = Window.partitionBy("kind", "payload").orderBy("seg", "pos")
    val texts = blocks.toDF().filter(col("kind") === "text")
    val deduped = blocks.toDF().filter(col("kind") =!= "text")
      .withColumn("rn", row_number().over(wKP)).filter(col("rn") === 1)
      .drop("rn")
      .unionByName(texts)
      .select(col("seg"), col("pos"), col("kind"), col("payload"))

    // Per-kind ordinals WITHOUT a Window.partitionBy(kind): only 4 kinds, so
    // that window would funnel ~n/4 rows through one task each.
    // Ordinals.perKeyOrdinal runs the skew-free two-phase pass (parallel
    // range-sort by (seg, pos), per-partition counts, driver prefix sums,
    // offset re-walk) — the same operator the declared ordinal queries use.
    val withOrd = graft.ext.Ordinals
      .perKeyOrdinal(deduped, "kind", Seq("seg", "pos"))
      .select(col("kind"), col("payload"), col("ordinal"))
      .as[(String, String, Long)]
    val records = withOrd.map { case (kind, payload, ord) =>
      val r = Extract.extractRecord(kind, payload, ord.toInt)
      RecordRow(path, r.kind, r.ordinal, r.json)
    }
    assemble(spark, records)
  }

  /** Shared downstream: the statistics job, pivot, normalize. */
  private def assemble(spark: SparkSession, recordsIn: Dataset[RecordRow]): Result = {
    import spark.implicits._
    val records = recordsIn.persist()

    // A1-A4 in ONE job: the kind counts (total = their sum), per-key
    // present_in / non-null counts and Spark's JSON schema inference
    val stats = GraftJsonStats.compute(records.select($"graft_kind", $"graft_json"))
    val itemsByType = stats.itemsByKind
    val total = itemsByType.values.sum
    if (total == 0) {
      records.unpersist()
      return Result(spark.emptyDataFrame, Map.empty, Map.empty, 0L)
    }
    val inferred = stats.schema

    val wide = records
      .withColumn("graft_rec", from_json($"graft_json", inferred))
      .select($"graft_file", $"graft_kind", $"graft_ordinal", $"graft_json",
        col("graft_rec.*"))

    // A4 — present_in tells "key absent" from "key present with null value",
    // which the pivoted frame alone cannot. nullable = key missing somewhere
    // OR an explicit null value exists.
    val fieldStats = inferred.fields.map { f =>
      val present = stats.presentIn.getOrElse(f.name, 0L)
      val nullable = present < total || stats.nonNull.getOrElse(f.name, 0L) < present
      f.name -> FieldStats(Seq(pythonTypeName(f.dataType)), nullable, present)
    }.toMap

    // N1 — prune extraction artifacts (AFTER stats, like the reference:
    // dynamic_schema.json legitimately contains fields the CSV lacks).
    // A1/N5 — total_items stamped from the driver-side count, as a long.
    val pruned = wide.drop(artifacts: _*)
      .drop("total_items") // a user JSON field of that name is overwritten
      .withColumn("total_items", lit(total))

    // N2/N4 — precedence-ordered rows; core columns first, rest alphabetical.
    val precedence = when($"graft_kind" === "html", 0)
      .when($"graft_kind" === "json", 1)
      .when($"graft_kind" === "text", 2)
      .otherwise(3)
    val internal = Set("graft_file", "graft_kind", "graft_ordinal", "graft_json")
    val dataCols = pruned.columns.filterNot(internal.contains).toSeq
    val restCols = dataCols.filterNot(core.contains).sorted
    val frame = pruned
      .orderBy($"graft_file", precedence, $"graft_ordinal")
      .select((core ++ restCols).map(colToCsvSafe(pruned.schema)): _*)

    Result(frame, fieldStats, itemsByType, total, () => {
      // blocking: an async drop of a large cache lands on whatever runs
      // NEXT (measured: e01's cache eviction billed to e02 at 50x) —
      // cleanup cost belongs to the pipeline that cached the data
      records.unpersist(blocking = true); () })
  }

  /** Backtick-quoted column reference: inferred JSON keys may contain dots
    * (e.g. {"a.b": 1}), which bare col() would parse as nested access.
    * Public so sinks referencing inferred columns share the same quoting. */
  def qcol(name: String) = col("`" + name.replace("`", "``") + "`")

  /** Columns that are always-null JSON fields infer as NullType, which sinks
    * can't write — surface them as string nulls. */
  private def colToCsvSafe(schema: StructType)(name: String) =
    schema.find(_.name == name) match {
      case Some(f) if f.dataType == NullType => qcol(name).cast(StringType).as(name)
      case _ => qcol(name)
    }

  /** SURVEY D-4 — fixed Spark-type → Python-type-name mapping. */
  def pythonTypeName(dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType | ByteType => "int"
    case StringType => "str"
    case DoubleType | FloatType => "float"
    case BooleanType => "bool"
    case _: ArrayType => "list"
    case NullType => "NoneType"
    case other => other.simpleString
  }
}
