package graft.etl

import org.apache.spark.GraftJobCounter
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.json.GraftJsonStats
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.etl.Pipeline.{FieldStats, RecordRow}

/** The pipeline's statistics (kind counts, schema, field stats) come from
  * one fold, [[GraftJsonStats.compute]]. This spec compares it, and
  * `Pipeline.process` on top of it, with the three Spark steps it replaced,
  * kept below as the oracle, and pins the Spark jobs of one small body. */
class StatsFoldSpec extends SparkSpec {
  import StatsFoldSpec.Oracle
  import spark.implicits._

  /** groupBy(kind).count(), spark.read.json inference, present_in by
    * explode(json_object_keys) + groupBy, and one count(col) aggregate over
    * the from_json pivot. */
  private def oracle(records: Dataset[RecordRow]): Oracle = {
    val itemsByType = records.groupBy($"graft_kind").count()
      .as[(String, Long)].collect().toMap
    val total = itemsByType.values.sum
    if (total == 0) return Oracle(Map.empty, StructType(Nil), Map.empty, Map.empty, Map.empty)
    val inferred = spark.read.json(records.select($"graft_json").as[String]).schema
    val wide = records
      .withColumn("graft_rec", from_json($"graft_json", inferred))
      .select($"graft_json", col("graft_rec.*"))
    val presentIn = wide
      .select(explode(json_object_keys($"graft_json")).as("k"))
      .groupBy($"k").count()
      .as[(String, Long)].collect().toMap
    val fields = inferred.fields.toSeq
    val counts = wide.agg(count(lit(1)), fields.map(f => count(Pipeline.qcol(f.name))): _*)
      .collect()(0)
    val nonNull = fields.zipWithIndex.map { case (f, i) => f.name -> counts.getLong(i + 1) }.toMap
    val fieldStats = fields.map { f =>
      val present = presentIn.getOrElse(f.name, 0L)
      val nullable = present < total || nonNull(f.name) < present
      f.name -> FieldStats(Seq(Pipeline.pythonTypeName(f.dataType)), nullable, present)
    }.toMap
    Oracle(itemsByType, inferred, presentIn, nonNull, fieldStats)
  }

  private def recordsOf(docs: Seq[(String, String)]): Dataset[RecordRow] =
    docs.flatMap { case (file, content) =>
      Extract.extractRecords(content).map(r => RecordRow(file, r.kind, r.ordinal, r.json))
    }.toDS()

  private def checkFold(records: Dataset[RecordRow]): Oracle = {
    val want = oracle(records)
    val got = GraftJsonStats.compute(records.select($"graft_kind", $"graft_json"))
    assert(got.itemsByKind == want.itemsByType)
    assert(got.schema == want.schema, s"\n fold:   ${got.schema.simpleString}\n oracle: ${want.schema.simpleString}")
    if (want.itemsByType.nonEmpty) assert(got.presentIn == want.presentIn)
    want.schema.fieldNames.foreach { k =>
      assert(got.nonNull.getOrElse(k, 0L) == want.nonNull(k), s"non-null count of `$k`")
    }
    want
  }

  /** The fold on the documents' records, then `Pipeline.process` on the
    * documents in one call. */
  private def check(docs: Seq[(String, String)]): Oracle = {
    val want = checkFold(recordsOf(docs))
    val r = Pipeline.process(spark, docs.toDS())
    try {
      assert(r.itemsByType == want.itemsByType)
      assert(r.totalItems == want.itemsByType.values.sum)
      assert(r.fieldStats == want.fieldStats)
    } finally r.cleanup()
    want
  }

  private val products =
    """[ {"product_name":"Laptop","price":1299.99,"in_stock":true,"categories":["electronics"],"rating":4.5},
      |  {"product_name":"Mouse","price":29.99,"in_stock":true,"categories":["accessories"],"rating":4.2},
      |  {"product_name":"Keyboard","price":79.99,"in_stock":false,"categories":["peripherals","input"],"rating":4.3} ]""".stripMargin

  /** F2–F11 (FIXTURES.md), one document each. */
  private val fixtures = Seq(
    "f2" -> products,
    "f3" -> """[ {"name":"Alice","age":30,"active":true}, {"name":"Bob","age":25,"active":false} ]""",
    "f4" -> """<html><head><title>Sample Page</title></head><body><h1>Welcome</h1>
              |<p>This is a sample paragraph.</p><ul><li>Item 1</li><li>Item 2</li></ul></body></html>""".stripMargin,
    "f5" -> "The first line of prose here.\nA second line of prose.\nThird line follows.\nFourth line.\nAnd a fifth line.",
    "f6" -> """{"user": {"name": "Al", "addr": {"city": "NYC"}}, "tags": ["a","b"], "n": 5} {"a":{"b":{"c":{"d":1}}}}""",
    "f7" -> """{"type": "scheduled", "id": 1}""",
    "f8" -> """{"x": 1} and again {"x": 1}""",
    "f9" -> ("data:image/png;base64,iVBORw0KGgo" + "A" * 80 + "\n\n" + "A" * 70),
    "f10" -> "12345\n123456\n",
    "f11" -> """[{"id": 1, "name": "Ann", "email": "ann@example.com"}, {"id": 2, "name": "Ben", "email": "ben@example.com"}]""")

  /** Adversarial JSON blocks, one document each. */
  private val adversarial = Seq(
    "one key typed 1, \"x\" and null" -> """{"v": 1}
                                          |{"v": "x"}
                                          |{"v": null, "w": 2}""".stripMargin,
    "non-finite and oversized numbers" -> """{"nan": NaN, "big": 1e400, "wide": 123456789012345678901234567890, "k": 1}""",
    "empty, null-only, object and nested arrays" ->
      """{"e": [], "en": [null], "ao": [{"p": 1}, {"q": "s"}], "aa": [[1, 2], [3]]}
        |{"e": [1], "aa": [["x"]], "ao": []}""".stripMargin,
    "empty objects" -> """{} {"d": {}} {"d2": {"x": null}}""",
    "dotted keys" -> """{"a.b": 1, "c": {"d.e": 2}} {"a.b": null}""",
    "user keys the pipeline owns" ->
      """{"type": "t", "source_index": 9, "total_items": "x", "title": 1, "word_count": null}""",
    "no blocks" -> "abc\n\n12345\n",
    "empty" -> "")

  test("fold = three-step statistics on the F2–F11 fixtures") {
    fixtures.foreach { case (name, content) =>
      withClue(s"$name: ")(check(Seq(s"$name.txt" -> content)))
    }
  }

  test("fold = three-step statistics on adversarial records") {
    adversarial.foreach { case (name, content) =>
      withClue(s"$name: ")(check(Seq("adv.txt" -> content)))
    }
    // the adversarial keys reach the records, and the types conflict
    val st = check(adversarial.map { case (n, c) => s"$n.txt" -> c }).fieldStats
    assert(Seq("v", "nan", "big", "wide", "e", "en", "ao", "aa", "a.b", "total_items").forall(st.contains))
    assert(st("v").types == Seq("str") && st("v").nullable)
  }

  /** Bare NaN/Infinity literals are left out: the extractor writes them as
    * strings, and the oracle's json_object_keys rejects them. */
  test("fold = three-step statistics on raw payloads the extractor never writes") {
    val raw = Seq(
      """{"v": 1}""", """{"v": "x"}""", """{"v": null}""", """{"v": ""}""",
      """{"big": 1e400, "wide": 123456789012345678901234567890, "neg": -0.0}""",
      """{"huge": 12345678901234567890123456789012345678901234567890}""",
      """{"e": [], "en": [null], "ao": [{"p": 1}, {"q": "s"}], "aa": [[1, 2], [3]]}""",
      """{"ao": [{"p": "z"}], "aa": [[]]}""",
      """{}""", """{"d": {}}""", """{"s": {"t": null}}""", """{"s": null}""",
      """{"m": [1]}""", """{"m": {"k": 1}}""", """{"": 1, "a.b": {"c.d": 2}}""",
      """{"t": true, "f": 1.5}""", """{"t": 2, "f": 10}""")
    checkFold(raw.zipWithIndex.map { case (j, i) => RecordRow("raw", "json", i, j) }.toDS())
  }

  /** A seeded mixed document of about `bytes` characters: html blocks, JSON
    * objects whose keys change type between records, prose and base64. */
  private def mixedDoc(seed: Long, bytes: Int): String = {
    val rnd = new scala.util.Random(seed)
    val words = "alpha beta gamma delta epsilon zeta theta kappa lambda sigma omega".split(' ')
    def word = words(rnd.nextInt(words.length))
    val keys = Seq("id", "name", "price", "tags", "flag", "score", "meta", "note", "a.b",
      "type", "title", "word_count", "total_items", "source_index")
    def value: String = rnd.nextInt(9) match {
      case 0 => rnd.nextInt(1000).toString
      case 1 => (rnd.nextInt(100000) / 100.0).toString
      case 2 => "\"" + word + "\""
      case 3 => rnd.nextBoolean().toString
      case 4 => "null"
      case 5 => Seq.fill(rnd.nextInt(3))(rnd.nextInt(50)).mkString("[", ", ", "]")
      case 6 => Seq.fill(1 + rnd.nextInt(2))("\"" + word + "\"").mkString("[", ", ", "]")
      case 7 => s"""{"$word": ${rnd.nextInt(10)}, "n": null}"""
      case _ => s"""[{"k": ${rnd.nextInt(5)}}]"""
    }
    val sb = new StringBuilder
    while (sb.length < bytes) {
      rnd.nextInt(4) match {
        case 0 => sb.append(s"<div><h2>$word $word</h2><p>${Seq.fill(8)(word).mkString(" ")}</p></div>")
        case 1 =>
          val ks = keys.filter(_ => rnd.nextInt(3) == 0)
          sb.append(ks.map(k => s""""$k": $value""").mkString("{", ", ", "}"))
        case 2 => sb.append(Seq.fill(5 + rnd.nextInt(20))(word).mkString(" "))
        case _ =>
          sb.append("data:image/png;base64,")
          sb.append(Seq.fill(64 + rnd.nextInt(32))("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdef0123456789+/"(rnd.nextInt(44))).mkString)
      }
      sb.append("\n\n")
    }
    sb.toString
  }

  private lazy val mixed: Seq[(String, String)] =
    Seq(4, 8, 16, 32, 64, 128).zipWithIndex.map { case (kb, i) => s"mixed$i.txt" -> mixedDoc(i + 1L, kb << 10) }

  test("fold = three-step statistics on seeded mixed documents of 4–128 KB") {
    mixed.foreach { case (name, content) =>
      withClue(s"$name: ")(check(Seq(name -> content)))
    }
  }

  test("fold = three-step statistics on one multi-document call (e01/e02 corpus shape)") {
    val corpus = (0 until 60).map { i =>
      val lang = Seq("en", "de", "fr")(i % 3)
      val body = s"""{"doc_id": $i, "lang": "$lang"}\nsome words of document number $i here\n"""
      f"$i%08d" -> (if (i % 2 == 0) body else "<p>intro paragraph block</p>\n" + body + "A" * 72 + "\n")
    }
    val st = check(corpus).fieldStats
    assert(st("doc_id") == FieldStats(Seq("int"), nullable = true, 60))
    check(corpus ++ fixtures ++ adversarial ++ mixed)
  }

  test("Spark jobs of one small body: Pipeline.process ≤ 2, Api.processBody ≤ 5") {
    val body = products + "\n\n<p>a small html block</p>\n\nand one line of plain prose text\n"
    val (r, processJobs) = GraftJobCounter.jobsOf(spark.sparkContext) {
      Pipeline.process(spark, Seq("request_body.txt" -> body).toDS())
    }
    r.cleanup()
    assert(r.totalItems == 5)
    assert(processJobs <= 2, s"Pipeline.process ran $processJobs Spark jobs")
    val (json, bodyJobs) = GraftJobCounter.jobsOf(spark.sparkContext) {
      graft.server.Api.processBody(spark, body)
    }
    assert(json.contains("\"product_name\":\"Laptop\""))
    assert(bodyJobs <= 5, s"Api.processBody ran $bodyJobs Spark jobs")
  }
}

object StatsFoldSpec {
  final case class Oracle(
      itemsByType: Map[String, Long],
      schema: StructType,
      presentIn: Map[String, Long],
      nonNull: Map[String, Long],
      fieldStats: Map[String, FieldStats])
}
