package perfbench

import scala.collection.mutable

/** Seeded input generator that knows its own expected outcomes.
  *
  * Every input is assembled from blocks whose detection result follows from
  * the documented rules (FIXTURES.md F2–F11), never from running the
  * program's detector:
  *   - an HTML document yields one record per distinct `<html>`, `<body>`,
  *     `<div>` and `<p>` element (the five overlapping patterns);
  *   - a JSON object yields one record per distinct object string; a
  *     repeated string is one record (F8); only the innermost
  *     one-level-nested object of a deeper one matches (F6);
  *   - a base64 run is one media record per distinct value, and its line
  *     is also a text line, because media is not stripped from the residual
  *     (F9);
  *   - the residual, with HTML documents and JSON objects removed, yields one
  *     text record per trimmed line longer than five characters (F10).
  * The same seed gives byte-identical inputs.
  */
object Gen {

  /** What the pipeline must report for one input. `fields` maps each
    * flattened JSON key to the API column type it must infer. */
  final case class Expect(counts: Map[String, Long], fields: Map[String, String]) {
    def total: Long = counts.values.sum
    def itemsByType: Map[String, Long] = counts.filter(_._2 > 0)
    /** `dynamic_schema.json` keys: stats are computed before the
      * `title`/`word_count` artifacts are pruned. */
    def schemaFields: Set[String] = fields.keySet ++ Set("type", "source_index") ++
      (if (counts("html") + counts("text") + counts("media") > 0)
        Set("title", "word_count") else Set.empty[String])
    def csvColumns: Set[String] = fields.keySet ++ Set("type", "source_index", "total_items")
    def apiTypes: Map[String, String] = fields ++ Map(
      "type" -> "string", "source_index" -> "string", "total_items" -> "number")
  }

  final case class Doc(text: String, expect: Expect) {
    lazy val bytes: Array[Byte] = text.getBytes("UTF-8")
  }

  /** The 30 words of the sf0.1 `documents` text, which uses them in a
    * uniform mix. */
  val vocabulary: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")

  private val b64 = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"

  /** Builds one input of about `targetBytes` from blank-line-separated
    * blocks, tracking its expected outcome as it goes. */
  final class Composer(rng: scala.util.Random, tag: String) {
    private val sb = new StringBuilder
    private val counts = mutable.Map("html" -> 0L, "json" -> 0L, "text" -> 0L, "media" -> 0L)
    private val fields = mutable.Map.empty[String, String]
    private val jsonSeen = mutable.ArrayBuffer.empty[String]
    private val jsonSet = mutable.HashSet.empty[String]
    private val mediaSeen = mutable.ArrayBuffer.empty[String]
    private var serial = 0

    private def next(): String = { serial += 1; s"$tag-$serial" }
    private def soup(n: Int): String =
      Seq.fill(n)(vocabulary(rng.nextInt(vocabulary.size))).mkString(" ")
    private def block(s: String): Unit = {
      if (sb.nonEmpty) sb.append("\n\n")
      sb.append(s)
    }
    private def textLines(lines: Seq[String]): Unit =
      counts("text") += lines.count(_.trim.length > 5)
    private def cents(): String = f"${rng.nextInt(5000)}%d.${1 + rng.nextInt(99)}%02d"

    /** F4-shaped HTML page: `<html>`, `<body>`, one `<div>`, `nP` `<p>`. */
    def html(): Unit = {
      val id = next(); val nP = 1 + rng.nextInt(3)
      val ps = (1 to nP).map(i => s"<p>Paragraph $id.$i ${soup(4 + rng.nextInt(8))}</p>")
      block((Seq(s"<html><head><title>Page $id</title></head>",
        s"<body><h1>Heading $id</h1>",
        s"""<div class="card">Card $id ${soup(3)}</div>""") ++ ps ++
        Seq(s"<ul><li>Item $id one</li><li>Item $id two</li></ul>", "</body></html>"))
        .mkString("\n"))
      counts("html") += 3 + nP
    }

    private def field(k: String, t: String): Unit = fields(k) = t
    private def obj(kvs: (String, String, String)*): String = {
      kvs.foreach { case (k, _, t) => if (k != "type") field(k, t) }
      kvs.map { case (k, v, _) => s""""$k": $v""" }.mkString("{", ", ", "}")
    }
    private def q(s: String) = "\"" + s + "\""
    private def json(o: String): String = {
      if (jsonSet.add(o)) { jsonSeen += o; counts("json") += 1 }
      o
    }

    private def product(): String = json(obj(
      ("product_name", q(s"Item ${next()}"), "string"), ("price", cents(), "number"),
      ("in_stock", rng.nextBoolean().toString, "boolean"),
      ("categories", Seq.fill(1 + rng.nextInt(2))(q(vocabulary(rng.nextInt(vocabulary.size))))
        .mkString("[", ", ", "]"), "array"),
      ("rating", f"${1 + rng.nextInt(4)}%d.${rng.nextInt(10)}%d", "number")))
    private def user(): String = json(obj(("name", q(s"User ${next()}"), "string"),
      ("age", (18 + rng.nextInt(60)).toString, "number"),
      ("active", rng.nextBoolean().toString, "boolean")))
    private def contact(): String = json(obj(("id", (1000 + serial).toString, "number"),
      ("name", q(s"Contact ${next()}"), "string"),
      ("email", q(s"c${serial}@example.org"), "string")))
    private def employee(): String = json(obj(
      ("employee_id", (10000 + serial).toString, "number"),
      ("department", q(vocabulary(rng.nextInt(vocabulary.size))), "string"),
      ("salary", (40000 + rng.nextInt(90000)).toString, "number"),
      ("project", q(s"Project ${next()}"), "string")))
    /** F7: the user `type` field is clobbered to `json`. */
    private def maintenance(): String = json(obj(("type", q("scheduled"), "string"),
      ("maintenance_id", (500 + serial).toString, "number"),
      ("duration_hours", cents(), "number"), ("status", q(s"open ${next()}"), "string")))
    /** One nesting level is flattened with `_`. */
    private def budget(): String = json(obj(("budget_category", q(s"Budget ${next()}"), "string"),
      ("amount", cents(), "number"),
      ("meta", s"""{"quarter": "Q${1 + rng.nextInt(4)}", "team_size": ${1 + rng.nextInt(20)}}""",
        "nested")))

    private def anyObject(): String = rng.nextInt(6) match {
      case 0 => product()
      case 1 => user()
      case 2 => contact()
      case 3 => employee()
      case 4 => maintenance()
      case _ => budget()
    }

    /** A JSON block: an F2/F3/F11-style array (one object per line), a
      * single object, or a repeat of an earlier object (F8). */
    def jsonBlock(): Unit = rng.nextInt(5) match {
      case 0 | 1 => array(Seq.fill(2 + rng.nextInt(3))(anyObject()))
      case 2 if jsonSeen.nonEmpty => block(json(jsonSeen(rng.nextInt(jsonSeen.size))))
      case _ => block(anyObject())
    }

    private def array(objs: Seq[String]): Unit =
      block((("[" +: objs.init.map("  " + _ + ",")) :+ ("  " + objs.last) :+ "]").mkString("\n"))

    /** F2 products or F3 users as one JSON array. */
    def fixture(products: Boolean): Unit =
      array(Seq.fill(2 + rng.nextInt(3))(if (products) product() else user()))

    /** F6: only the innermost one-level object matches; the rest of the
      * line stays in the residual and is a text line. */
    def nestedJson(): Unit = {
      val id = next()
      val inner = json(s"""{"name": "Deep $id", "addr": {"city": "${vocabulary(rng.nextInt(vocabulary.size))}"}}""")
      field("name", "string"); field("addr_city", "string")
      val line = s"""{"user": $inner, "tags": ["a", "b"], "n": ${rng.nextInt(9)}}"""
      block(line)
      textLines(Seq(line.replace(inner, "")))
    }

    /** Prose lines, including lines of ≤5 characters that are dropped
      * (F10) and a line carrying an inline JSON object whose residual is
      * still a text line. */
    def paragraph(): Unit = {
      val lines = Seq.fill(1 + rng.nextInt(5)) {
        rng.nextInt(12) match {
          case 0 => "12345"
          case 1 => "  ok  "
          case 2 => "123456"
          case 3 =>
            val o = anyObject()
            val line = s"note ${next()}: $o end"
            textLines(Seq(line.replace(o, "")))
            line
          case _ => soup(3 + rng.nextInt(18))
        }
      }
      block(lines.mkString("\n"))
      textLines(lines.filterNot(_.startsWith("note ")))
    }

    /** F5: `n` prose lines, each a text record. */
    def prose(n: Int): Unit = {
      val lines = Seq.fill(n)(soup(4 + rng.nextInt(10)))
      block(lines.mkString("\n"))
      textLines(lines)
    }

    /** F9: a data URI or a bare ≥64-character run; repeats dedup as media
      * but each line is still a text line. */
    def media(): Unit = {
      val run =
        if (mediaSeen.nonEmpty && rng.nextInt(6) == 0) mediaSeen(rng.nextInt(mediaSeen.size))
        else {
          val n = 64 + rng.nextInt(200)
          val r = Seq.fill(n)(b64(rng.nextInt(64))).mkString + "=" * rng.nextInt(3)
          mediaSeen += r; counts("media") += 1; r
        }
      val line = if (run.length % 2 == 0) s"data:image/png;base64,$run" else run
      block(line)
      textLines(Seq(line))
    }

    /** Appends blocks in a fixed mix until the input reaches `target`. */
    def fill(target: Int): this.type = {
      while (sb.length < target) rng.nextInt(20) match {
        case 0 | 1 | 2 => html()
        case 3 | 4 | 5 | 6 | 7 => jsonBlock()
        case 8 => nestedJson()
        case 9 | 10 => media()
        case _ => paragraph()
      }
      this
    }

    def result(): Doc = {
      val flat = fields.toMap.flatMap {
        case ("meta", _) => Map("meta_quarter" -> "string", "meta_team_size" -> "number")
        case kv => Map(kv)
      }
      Doc(sb.toString + "\n", Expect(counts.toMap, flat))
    }
  }

  def composer(seed: Long, tag: String): Composer =
    new Composer(new scala.util.Random(seed ^ tag.hashCode.toLong * 0x9E3779B97F4A7C15L), tag)

  // ---- etl_batch -------------------------------------------------------

  /** Sizes are fixed so that every seed does the same amount of work;
    * only the content varies with the seed. */
  val smallSizes: Seq[Int] = Seq(4, 8, 16, 32, 96, 256).map(_ << 10)
  val mediumSizes: Seq[Int] = Seq(1 << 20)
  val chunkedSize: Int = 4 << 20
  val warmupSizes: Seq[Int] = Seq(8 << 10, 32 << 10)

  /** `warmup` holds a small file for `db` and a file for the chunked mode. */
  final case class EtlInputs(small: Seq[Doc], medium: Seq[Doc], chunked: Doc, warmup: Seq[Doc])

  def etl(seed: Long): EtlInputs = EtlInputs(
    smallSizes.zipWithIndex.map { case (n, i) => composer(seed, s"s$i").fill(n).result() },
    mediumSizes.zipWithIndex.map { case (n, i) => composer(seed, s"m$i").fill(n).result() },
    composer(seed, "c").fill(chunkedSize).result(),
    warmupSizes.zipWithIndex.map { case (n, i) => composer(seed, s"w$i").fill(n).result() })

  // ---- api_mixed -------------------------------------------------------

  /** Bodies per whole cycle of the api mix: 5 shapes, one of each. */
  val bodyWindow = 5

  /** Request body `i` of the api mix. Every run of five consecutive
    * bodies holds one of each shape in a seeded order: F2 products, F3
    * users, F4 HTML, F5 prose, and a mixed document whose size cycles
    * through 0.5–32 KB, so every window of 5 bodies has the same shapes. */
  def body(seed: Long, i: Int): Doc = {
    val b = composer(seed, s"b$i")
    val order = new scala.util.Random(seed * 31 + i / 5).shuffle((0 until 5).toList)
    order(i % 5) match {
      case 0 => b.fixture(products = true)
      case 1 => b.fixture(products = false)
      case 2 => b.html()
      case 3 => b.prose(5)
      case _ => b.fill(512 << ((i / 5) % 7))
    }
    b.result()
  }

  // ---- state_cycle -----------------------------------------------------

  /** A `documents` row and an `embeddings` row, in sf0.1's shape. */
  final case class DocRow(doc_id: Long, text: String, source: String)
  final case class VecRow(vec_id: Long, embedding: Seq[Float])

  final case class StateInputs(
      batches: Seq[Seq[DocRow]], vectors: Seq[Seq[VecRow]], probe: Seq[DocRow],
      deletes: Map[Long, Seq[Long]], queryTerms: Seq[String], queryVecs: Seq[VecRow]) {
    def inputBytes: Long = batches.flatten.map(_.text.length.toLong).sum +
      vectors.flatten.map(_.embedding.size * 4L).sum
  }

  val stateBatches = 3
  val stateBatchDocs = 400
  val stateBatchVecs = 160
  val vecDim = 64
  /** Tagged deletes follow these batches: batch → delete tag. */
  val deleteAfter: Map[Int, Long] = Map(1 -> 1L, 2 -> 2L)

  /** The state inputs follow sf0.1's `documents` and `embeddings`:
    *   - a document is 10–99 words drawn uniformly from [[vocabulary]]
    *     (44–577 characters), from one of 20 sources;
    *   - one document in 20 is instead the text of an earlier one with
    *     " dup" appended, and its own source;
    *   - an embedding is a random 64-dim unit vector, so cells and
    *     neighbours are as unclustered as in sf0.1.
    * The probe batch of the LSH-pair read is 40 new documents, four of them
    * such dups, so the read has pairs to return. */
  def state(seed: Long): StateInputs = {
    val rng = new scala.util.Random(seed * 7919 + 17)
    val all = mutable.ArrayBuffer.empty[DocRow]
    def doc(id: Long, dup: Boolean): DocRow = {
      val text =
        if (dup) all(rng.nextInt(all.size)).text + " dup"
        else Seq.fill(10 + rng.nextInt(90))(vocabulary(rng.nextInt(vocabulary.size))).mkString(" ")
      DocRow(id, text, s"src${rng.nextInt(20)}")
    }
    def vec(id: Long): VecRow = {
      val g = Seq.fill(vecDim)(rng.nextGaussian())
      val norm = math.sqrt(g.map(x => x * x).sum)
      VecRow(id, g.map(x => (x / norm).toFloat))
    }
    for (id <- 0L until stateBatches.toLong * stateBatchDocs) all += doc(id, all.nonEmpty && rng.nextInt(20) == 0)
    val vecs = (0L until stateBatches.toLong * stateBatchVecs).map(vec)
    val batches = all.grouped(stateBatchDocs).map(_.toSeq).toSeq
    // each delete removes a slice of the docs ingested so far
    val deletes = deleteAfter.map { case (after, tag) =>
      tag -> batches.take(after).flatten.map(_.doc_id)
        .filter(id => Math.floorMod(id * 2654435761L + seed + tag, 29L) == 0L)
    }
    val probe = Seq.tabulate(40)(i => doc(1000000L + i, i % 10 == 0))
    StateInputs(batches, vecs.grouped(stateBatchVecs).map(_.toSeq).toSeq, probe, deletes,
      Seq.fill(3)(vocabulary(rng.nextInt(vocabulary.size))).distinct,
      Seq.tabulate(8)(i => vec(2000000L + i)))
  }
}
