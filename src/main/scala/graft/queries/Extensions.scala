package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.ext.{AsOf, Behavior, Bpe, Compaction, Curate, Dedup, Index, JsonCols, Layout, Multimodal, Packing, Profile, RangeJoin, Sampling, Similarity, StateAudit, StateIO, StatePillar, TextAnalysis, Tfidf}

/** Declared queries for the LLM-training-data extension operators (the
  * BASELINE.json north star): dedup (exact / MinHash / SimHash / n-gram
  * Jaccard / embedding cosine), similarity search (brute-force + IVF),
  * text analysis (lang-ID / quality / token counts / fingerprint),
  * multimodal metadata, and sessionization.
  *
  * Every query is deterministic and has a DuckDB oracle built on portable
  * primitives (md5-hex→bigint hashes, double-only float math, explicit
  * rounding) so the driver can value-check rather than rows-only-check.
  * O(n²) pairwise queries are bounded to fixed id-subsets — the scale paths
  * are the LSH/IVF operators, exercised by the same queries' bucketed
  * variants and by ScalaTest on planted near-duplicates.
  */
object Extensions {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** x01 — exact dedup groups via content-hash groupBy. */
  def x01(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
      .select("fp", "keep_id", "dup_count")
      .orderBy("keep_id")

  /** x02 — MinHash signatures (4 portable permutations) over 3-gram word
    * shingles; map-side array expressions, no shuffle before the sort. */
  def x02(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("doc_id") < 100)
      .filter(size(Dedup.tokens(col("text"))) >= 3)
    d.select((col("doc_id") +: Dedup.minhashColumns(col("text"), 4)): _*)
      .orderBy("doc_id")
  }

  /** x03 — 32-bit SimHash signature per document, unbounded: the native
    * single-pass expression makes this a full-corpus map, no subset bound
    * needed. */
  def x03(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), Dedup.simhashColumn(col("text")))
      .orderBy("doc_id")

  /** x04 — exact n-gram (token) Jaccard near-dup pairs on a bounded subset
    * (the unbounded path is lshPairs — see DedupSpec). */
  def x04(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 120), "doc_id", "text",
        threshold = 0.8)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jac"))
      .orderBy("id_a", "id_b")

  /** x05 — embedding-cosine near-dup pairs (double math, bounded subset). */
  def x05(s: SparkSession, dir: String): DataFrame =
    Similarity.cosinePairs(
        t(s, dir, "embeddings").filter(col("vec_id") < 300), threshold = 0.25)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("id_a", "id_b")

  /** x06 — brute-force cosine top-5 for a small query batch: the exact ANN
    * baseline (broadcast queries, map-side scoring, top-k window). */
  def x06(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** x07 — multi-table random-hyperplane LSH approximate top-3 (3 tables ×
    * 8 seeded ±1 hyperplanes, Hamming-1 multi-probe): the scale path for
    * ANN. The oracle reconstructs every stage — including the literal
    * hyperplane matrix — in SQL. */
  def x07(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 50), k = 3, dims = 8)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** x08 — heuristic language ID: stopword-hit scores + argmax language. */
  def x08(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select((col("doc_id") +: TextAnalysis.langScores(col("text"))): _*)
      .withColumn("predicted", TextAnalysis.predictedLang)
      .orderBy("doc_id")
      .limit(300)

  /** x09 — quality scoring: length/word/stopword features + composite. */
  def x09(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select((col("doc_id") +: TextAnalysis.qualityColumns(col("text"))): _*)
      .orderBy("doc_id")
      .limit(300)

  /** x10 — token counting: whitespace + BPE-ish regex pre-tokenizer. */
  def x10(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select((col("doc_id") +: TextAnalysis.tokenCountColumns(col("text"))): _*)
      .orderBy("doc_id")
      .limit(300)

  /** x11 — document fingerprint via the native RollingHash expression
    * (whole-stage-codegen'd custom Catalyst Expression). */
  def x11(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")
      .limit(300)

  /** x12 — multimodal metadata: binary payload column decoded through the
    * mapPartitions batch-decoder plumbing with the real
    * [[Multimodal.HeaderDecoder]]. Text payloads exercise the `bin`
    * fallback branch (no image signature → 0×0 with real byte stats); the
    * image-parsing branches are gated by x23. */
  def x12(s: SparkSession, dir: String): DataFrame = {
    // ASCII-first-char guard: the decoder reads the first UTF-8 BYTE of the
    // payload while the DuckDB oracle can only read the first CODEPOINT —
    // identical only for ASCII leading chars (same guard style as x16).
    // GIF8 guard: a text beginning `GIF87a`/`GIF89a` is ASCII-leading yet
    // decodes as a real GIF header (parsed dims) while this query's oracle
    // fixes format='bin' — exclude it on BOTH sides (x23 gates that branch).
    val payloads = t(s, dir, "documents")
      .filter(col("text").rlike("^[\\x00-\\x7F]") &&
        !col("text").startsWith("GIF8"))
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    Multimodal.decodeBatch(payloads, Multimodal.HeaderDecoder).toDF()
      .select(col("doc_id"), col("format"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_bytes"),
        col("first_byte").cast("long").as("first_byte"))
      .orderBy("doc_id")
      .limit(300)
  }

  /** x13 — sessionization (30-min gap) over the events stream, batch shape:
    * lag + conditional cumulative sum per user. The streaming equivalent is
    * flatMapGroupsWithState; this declared query pins the semantics. */
  def x13(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val lagTs = lag(col("ts"), 1).over(w)
    val newSess = when(
      lagTs.isNull ||
        (unix_micros(col("ts")) - unix_micros(lagTs)) > 1800L * 1000000L, 1)
      .otherwise(0)
    e.select(col("event_id"), col("user_id"), newSess.as("ns"), col("ts"))
      .withColumn("session_seq",
        sum(col("ns")).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
      .select("event_id", "user_id", "session_seq")
      .orderBy("event_id")
      .limit(500)
  }

  /** x14 — n-gram (char-trigram) language ID: the second lang-ID modality
    * next to x08's stopword heuristic. Replace-based occurrence counting —
    * map-side, portable. */
  def x14(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select((col("doc_id") +: TextAnalysis.ngramLangScores(col("text"))): _*)
      .withColumn("predicted", TextAnalysis.ngramPredictedLang)
      .orderBy("doc_id")
      .limit(300)

  /** x15 — skew-resistant salted aggregation (graft.ext.Skew): two-phase
    * groupBy over the 5-value event_type key. Result equals the plain
    * GROUP BY oracle (rounded sum — partial order differs). */
  def x15(s: SparkSession, dir: String): DataFrame =
    graft.ext.Skew.saltedCountSum(
        t(s, dir, "events"), col("event_type"), col("value"))
      .select(col("k").as("event_type"), col("cnt"),
        round(col("total"), 2).as("total"))
      .orderBy("event_type")

  /** x16 — edit-distance near-dup pairs on title prefixes (bounded subset;
    * levenshtein is built into both engines). The scale path is still
    * LSH-style blocking — pairwise edit distance exists as the verification
    * metric for candidate pairs. */
  def x16(s: SparkSession, dir: String): DataFrame = {
    // ASCII-only guard: DuckDB levenshtein is byte-based, Spark's is
    // codepoint-based — restricting to ASCII prefixes makes the oracle
    // equivalence semantic rather than data-dependent
    val d = t(s, dir, "documents").filter(col("doc_id") < 80)
      .select(col("doc_id"), substring(col("text"), 1, 30).as("prefix"))
      .filter(col("prefix").rlike("^[\\x00-\\x7F]*$"))
    val a = d.as("a")
    val b = d.as("b")
    a.join(b, col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        levenshtein(col("a.prefix"), col("b.prefix")).cast("long").as("dist"))
      .filter(col("dist") <= 17)
      .orderBy("id_a", "id_b")
  }

  /** x17 — THE 100 TB near-dup scale path under the hash gate: MinHash
    * signatures → band buckets → equi-join candidates → shingle-Jaccard
    * verify ([[Dedup.lshPairs]]). Unbounded over the documents table — the
    * whole point is that this operator needs no bound; the oracle
    * reconstructs every stage from the same portable md5 primitives. */
  def x17(s: SparkSession, dir: String): DataFrame =
    Dedup.lshPairs(t(s, dir, "documents"), "doc_id", "text")
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")

  /** x18 — LSH-blocked edit-distance near-dup (typo-level dedup at scale):
    * levenshtein runs ONLY on band-bucket candidates, never as a cartesian
    * ([[Dedup.editDistanceLshPairs]]; contrast the bounded x16). ASCII-only
    * docs: Spark and DuckDB levenshtein agree codepoint-for-codepoint there. */
  def x18(s: SparkSession, dir: String): DataFrame =
    Dedup.editDistanceLshPairs(
      t(s, dir, "documents").filter(col("text").rlike("^[\\x00-\\x7F]*$")),
      "doc_id", "text", maxDist = 20)
      .orderBy("id_a", "id_b")

  /** x19 — near-dup clusters → canonical assignment: connected components
    * of the near-dup graph ([[Dedup.lshComponents]]: rep-level verified
    * pairs + membership star edges — O(docs + dup pairs) edges, never the
    * member-level k² cliques),
    * left-joined back so every document gets a representative (itself for
    * singletons). The final step of corpus-scale dedup: keep rows where
    * doc_id == rep. */
  def x19(s: SparkSession, dir: String): DataFrame = {
    val comp = Dedup.lshComponents(t(s, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("label"))
    t(s, dir, "documents").select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("rep"))
      .orderBy("doc_id")
  }

  /** x20 — reproducible stratified sampling for dataset mixing: membership
    * is a pure function of doc_id ([[Sampling.stratified]]), so the oracle
    * recomputes the EXACT sample — the property rand()-based sampleBy can
    * never give a recipe that must be auditable and re-buildable. */
  def x20(s: SparkSession, dir: String): DataFrame =
    Sampling.stratified(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id",
        rates = Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.1),
        defaultRate = 0.05)
      .orderBy("doc_id")

  /** x21 — group-wise top-k over a LOW-cardinality key (top-3 quality docs
    * per language): reuses the skew-free [[graft.ext.Ordinals.perKeyOrdinal]]
    * instead of a `Window.partitionBy(lang)` (5 values → n/5 rows through
    * one task each at scale). Descending order via the negated score. The
    * sort input is first pre-pruned with the LOSSLESS per-group
    * approx_percentile threshold ([[graft.ext.Ordinals.approxTopKPrune]]):
    * groups large enough for the sketch's rank guarantee shed ≥ 99.9% of
    * their rows before the range sort, small groups pass through untouched
    * — the exact result is provably unchanged either way (ExtSpec pins
    * pruned == unpruned on a distribution where the prune is active). */
  def x21(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select((Seq(col("doc_id"), col("lang")) ++
        TextAnalysis.qualityColumns(col("text"))): _*)
      .select(col("doc_id"), col("lang"), col("quality_score"))
    val pruned = graft.ext.Ordinals.approxTopKPrune(
      docs.withColumn("neg_q", -col("quality_score")),
      "lang", "neg_q", k = 3)
    graft.ext.Ordinals.perKeyOrdinal(pruned, "lang", Seq("neg_q", "doc_id"))
      .filter(col("ordinal") < 3)
      .select(col("lang"), col("doc_id"), col("quality_score"),
        (col("ordinal") + 1).as("rank"))
      .orderBy("lang", "rank")
  }

  /** x22 — the multimodal FEATURE-EXTRACT stage (decode → features → embed):
    * real byte-class counts from the payload bytes via the mapPartitions
    * batch shape ([[Multimodal.featureBatch]] — no stub here). UTF-8
    * continuation bytes are all > 0x7F, so ASCII-class byte counts equal
    * character counts even for non-ASCII docs — no guard needed, the
    * oracle reconstructs every feature from the text. */
  def x22(s: SparkSession, dir: String): DataFrame =
    Multimodal.featureBatch(
        t(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload")))
      .toDF()
      .orderBy("doc_id")

  /** Deterministic minimal-but-valid image bytes for the x23 gate: format
    * cycles by `doc_id % 3`, dimensions derive from doc_id arithmetic the
    * oracle can recompute, and `doc_id % 50` filler bytes follow the header
    * so n_bytes varies. Each header is the real wire format —
    * [[Multimodal.HeaderDecoder]] must actually parse big-endian PNG/JPEG
    * vs little-endian GIF fields to reproduce the oracle's numbers. */
  private[graft] def syntheticImage(id: Long): Array[Byte] = {
    val w = (id % 1000 + 1).toInt
    val h = (id * 7 % 800 + 1).toInt
    val filler = (id % 50).toInt
    val out = new java.io.ByteArrayOutputStream()
    (id % 3) match {
      case 0 => // PNG: signature + IHDR chunk (length, type, 13 data, CRC)
        out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
        out.write(Array[Byte](0, 0, 0, 13))
        out.write("IHDR".getBytes("US-ASCII"))
        out.write(Array[Byte]((w >> 24).toByte, (w >> 16).toByte, (w >> 8).toByte, w.toByte))
        out.write(Array[Byte]((h >> 24).toByte, (h >> 16).toByte, (h >> 8).toByte, h.toByte))
        out.write(Array[Byte](8, 2, 0, 0, 0)) // bit depth, color, comp, filter, interlace
        out.write(Array[Byte](0, 0, 0, 0)) // CRC (not validated by the parser)
      case 1 => // JPEG: SOI + SOF0 (len 11 = 8 + 3·1 component)
        out.write(Array[Byte](0xff.toByte, 0xd8.toByte))
        out.write(Array[Byte](0xff.toByte, 0xc0.toByte, 0, 11, 8))
        out.write(Array[Byte]((h >> 8).toByte, h.toByte, (w >> 8).toByte, w.toByte))
        out.write(Array[Byte](1, 1, 0x11, 0)) // ncomp + one component spec
      case _ => // GIF: signature + logical screen descriptor (little-endian)
        out.write("GIF89a".getBytes("US-ASCII"))
        out.write(Array[Byte](w.toByte, (w >> 8).toByte, h.toByte, (h >> 8).toByte))
        out.write(Array[Byte](0, 0, 0)) // packed, background, aspect
    }
    out.write(new Array[Byte](filler))
    out.toByteArray
  }

  /** x23 — multimodal image-metadata extraction with the REAL header
    * parser: payloads are wire-format PNG/JPEG/GIF headers synthesized from
    * doc_id arithmetic (harness-side, like e03's input synthesis), decoded
    * distributed through [[Multimodal.decodeBatch]]; the oracle recomputes
    * every field from the same arithmetic — so a parser that misreads
    * endianness, offsets, or the SOF walk hash-mismatches immediately. */
  def x23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map(id => (id, syntheticImage(id)))
      .toDF("doc_id", "payload")
    Multimodal.decodeBatch(payloads, Multimodal.HeaderDecoder).toDF()
      .select(col("doc_id"), col("format"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_bytes"),
        col("first_byte").cast("long").as("first_byte"))
      .orderBy("doc_id")
  }

  /** x24 — the deduplicated corpus itself (the operator a pipeline user
    * actually runs): x19's representative assignment materialized by
    * keeping only rows whose doc_id IS the cluster representative
    * ([[Dedup.keepRepresentatives]]). One broadcast-size semi-join over the
    * (tiny) non-representative id set at any scale — the pair graph is
    * sparse relative to the corpus. */
  def x24(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.keepRepresentatives(docs, "doc_id", "text")
      .select(col("doc_id"), col("lang"), md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** x25 — as-of join (SURVEY north-star: temporal enrichment Spark lacks
    * natively): each purchase event matched to the SAME user's latest view
    * at or before it. [[AsOf.joinBackward]] is one key-hash shuffle + an
    * ordered window — never the O(n²) inequality join Spark would plan
    * naively. The oracle is DuckDB's own native `ASOF LEFT JOIN`, so the
    * operator's semantics are pinned to the engine that defines them;
    * (user_id, ts) is unique in the events table, so the match is total-
    * order deterministic. */
  def x25(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"),
        col("event_id").as("view_event_id"), col("ts").as("view_ts"))
    AsOf.joinBackward(purchases, views, Seq("user_id"), "ts", "ts")
      .orderBy("event_id")
  }

  /** x26 — range (interval) join: views per purchase in the preceding hour,
    * via the binned [[RangeJoin.pointInIntervalLeft]] — an equi-join on
    * (user, hour-bin) with an exact residual filter, never a nested loop.
    * The left variant keeps zero-match purchases (null point payload), so
    * `count(us)` yields 0 for them without a hand-rolled join-back. */
  def x26(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .withColumn("us", unix_micros(col("ts")))
    val hourUs = 3600L * 1000000L
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        (col("us") - hourUs).as("start_us"), col("us").as("end_us"))
    RangeJoin.pointInIntervalLeft(
        views, purchases, Seq("user_id"), "us", "start_us", "end_us", hourUs,
        intervalIdCols = Seq("event_id"))
      .groupBy("event_id", "user_id")
      .agg(count(col("us")).as("views_1h"))
      .orderBy("event_id")
  }

  /** x27 — FORWARD as-of join: each view matched to the SAME user's
    * earliest purchase at or after it (the "next conversion" query).
    * Same single-shuffle union+window plan as x25, mirrored frame; the
    * oracle is DuckDB's native `ASOF LEFT JOIN ... ON p.ts >= v.ts`. */
  def x27(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val views = e.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("purchase_event_id"), col("ts").as("purchase_ts"))
    AsOf.join(views, purchases, Seq("user_id"), "ts", "ts", "forward")
      .orderBy("event_id")
  }

  /** x28 — NEAREST as-of join with a tolerance: each purchase matched to
    * the SAME user's closest click within ±30 minutes (ties → backward).
    * DuckDB has no native nearest direction, so the oracle runs BOTH
    * native ASOF directions and reproduces the choose-least-delta /
    * tolerance arithmetic in plain SQL — pinning exactly the semantics
    * [[AsOf.join]] computes inside one window. */
  def x28(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_event_id"), col("ts").as("click_ts"))
    AsOf.join(purchases, clicks, Seq("user_id"), "ts", "ts", "nearest",
        tolerance = Some(expr("INTERVAL 30 MINUTES")))
      .orderBy("event_id")
  }

  /** x29 — TF-IDF top-3 terms per document ([[Tfidf.topTerms]]): the
    * keyword-extraction primitive of a text pipeline, two map-combined
    * aggregations + one broadcastable df join + a per-doc window. N is
    * stamped driver-side (q03 pattern). Ranks tie-break on term, so the
    * DuckDB reconstruction is value-stable; scores rounded for display. */
  def x29(s: SparkSession, dir: String): DataFrame =
    Tfidf.topTerms(
        t(s, dir, "documents").filter(col("doc_id") < 300), "doc_id", "text", 3)
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("score"), 4).as("score"), col("rank").cast("long").as("rank"))
      .orderBy("doc_id", "rank")

  /** x30 — deterministic train/val/test assignment
    * ([[Sampling.splitAssign]]): the split label is a pure function of
    * doc_id (portable md5 bucket), so the exact assignment is re-computable
    * by any engine — a dataset recipe, not a random draw. Map-side, zero
    * shuffle. */
  def x30(s: SparkSession, dir: String): DataFrame =
    Sampling.splitAssign(
        t(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .orderBy("doc_id")

  /** x31 — sequence packing ([[Packing.packBins]]): documents assigned to
    * 2000-token training bins within (lang, hash-shard) streams via an
    * exclusive prefix sum — deterministic offset-based packing with no
    * low-cardinality window partition (the hash shard keeps parallelism at
    * numShards × strata regardless of how skewed lang is). */
  def x31(s: SparkSession, dir: String): DataFrame =
    Packing.packBins(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          (length(col("text")) - length(translate(col("text"), " ", "")) + 1)
            .cast("long").as("tok")),
        "doc_id", "tok", Seq("lang"), "doc_id", budget = 2000L, numShards = 8)
      .select(col("doc_id"), col("lang"), col("tok"), col("shard"), col("bin"))
      .orderBy("doc_id")

  /** x32 — Hamming-banded SimHash near-dup pairs at REP level
    * ([[Dedup.simhashRepPairs]]): the pair-finding scale path for the x03
    * signatures — a (band, byte) equi-join by pigeonhole (Hamming ≤ 1 ⇒
    * shared 8-bit band), exact-dup collapse first, one output row per
    * DISTINCT-TEXT pair with both group sizes. The member-level contract
    * ([[Dedup.simhashPairs]], spec-covered) implies n_a·n_b rows per pair —
    * measured ~10⁹ rows / 790 s at 50× planted duplication, all of it
    * recoverable from this form. Declared at Hamming ≤ 1 (near-identical):
    * the synthetic docs share a tight vocabulary, so looser bounds match
    * weakly-similar pairs by the millions. */
  def x32(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashRepPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 1)
      .orderBy("id_a", "id_b")

  /** x33 — LSH-bucketed embedding near-dup pairs
    * ([[Similarity.lshCosinePairs]]): the SCALE path for embedding-cosine
    * dedup (x05 is the bounded exact variant) — candidates only within
    * hyperplane (table, bucket) cells, exact cosine verify. The oracle
    * reconstructs the identical bucketing from the same literal planes,
    * value-checking the approximation itself. */
  def x33(s: SparkSession, dir: String): DataFrame =
    Similarity.lshCosinePairs(
        t(s, dir, "embeddings").filter(col("vec_id") < 2000), threshold = 0.15)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .orderBy("id_a", "id_b")

  /** x34 — packed-sequence assembly ([[Packing.assembleBins]]): the
    * follow-on of x31 — each bin's documents concatenated in doc_id order
    * into the actual training sequence. Deterministic despite shuffles
    * (sort_array over structs, not bare collect_list); the oracle compares
    * an md5 of the packed text, proving byte-identical assembly. */
  def x34(s: SparkSession, dir: String): DataFrame =
    Packing.assembleBins(
        t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"),
          (length(col("text")) - length(translate(col("text"), " ", "")) + 1)
            .cast("long").as("tok")),
        "doc_id", "text", "tok", Seq("lang"), "doc_id",
        budget = 2000L, numShards = 8)
      .select(col("lang"), col("shard"), col("bin"), col("n_docs"),
        col("tok_sum"), md5(col("packed_text")).as("packed_md5"))
      .orderBy("lang", "shard", "bin")

  /** x35 — PII-style redaction ([[TextAnalysis.redact]]): emails → URLs →
    * long digit runs replaced with typed placeholders, as a map-side
    * regexp_replace chain. Patterns are RE2-compatible so DuckDB applies
    * the identical ones (with the 'g' flag — Spark replaces all matches,
    * DuckDB only the first by default). Synthetic PII is planted by
    * concatenation so the corpus genuinely exercises every pattern. */
  def x35(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"),
          lit("@example.com or https://example.org/d/"), col("doc_id"),
          lit(" ref 123456789 end")).as("raw"))
      .select(col("doc_id"), md5(TextAnalysis.redact(col("raw"))).as("redacted_md5"))
      .orderBy("doc_id")

  /** x36 — repeated-n-gram fraction ([[TextAnalysis.repetition]]): the
    * Gopher-style repetition quality signal (top bigram share per doc).
    * Docs are made genuinely repetitive by self-concatenation so the
    * signal is exercised, not constant. */
  def x36(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        // every doc repeats its own first words: rep_fraction rises with
        // the planted repetition while natural text stays low
        concat_ws(" ", col("text"),
          substring(col("text"), 1, 40),
          substring(col("text"), 1, 40)).as("body"))
    TextAnalysis.repetition(docs, "doc_id", "body", n = 2)
      .orderBy("doc_id")
  }

  /** x37 — eval-set decontamination ([[Dedup.contaminatedDocs]]): docs
    * sharing any 3-gram with a small "eval" slice (the last 10 docs) are
    * flagged with their distinct-offending-gram count — the benchmark-
    * leakage guard of an LLM pipeline. Eval shingles broadcast; the corpus
    * explodes into a broadcast semi-join and never shuffles its text.
    * Planted exact duplicates of eval docs guarantee non-trivial hits. */
  def x37(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val evalSet = docs.orderBy(col("doc_id").desc).limit(10)
      .select("doc_id", "text")
    Dedup.contaminatedDocs(
        docs.filter(col("doc_id") < 400), evalSet, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** x38 — decontamination at n = 13 (the GPT-3 methodology's gram size)
    * through the SHUFFLE fallback ([[Dedup.contaminatedDocs]] with
    * `broadcastEval = Some(false)`): grams hash to portable 60-bit longs on
    * both sides and semi-join through a shuffle — the path for eval sets
    * too large to broadcast (dozens of suites at 13-grams). Eval = every
    * 37th doc, inside the corpus slice, so hits are guaranteed (a doc
    * shares all its own 13-grams). ExtSpec pins shuffle == broadcast. */
  def x38(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val evalSet = docs.filter(col("doc_id") % 37 === 0).select("doc_id", "text")
    Dedup.contaminatedDocs(
        docs.filter(col("doc_id") < 400), evalSet, "doc_id", "text",
        n = 13, broadcastEval = Some(false))
      .orderBy("doc_id")
  }

  /** x39 — the as-of join through the pure-SQL TVF surface
    * ([[graft.functions.TableFunctions]]): the inputs become temp views and
    * x25's exact query runs via `spark.sql` ONLY. The `asof_join` builder
    * returns the same logical plan the Scala API constructs, so this entry
    * pins SQL/DataFrame parity under the oracle hash (DuckDB's native
    * `ASOF LEFT JOIN`, as in x25). */
  def x39(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TableFunctions.register(s)
    val e = t(s, dir, "events")
    e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
      .createOrReplaceTempView("x39_purchases")
    e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"),
        col("event_id").as("view_event_id"), col("ts").as("view_ts"))
      .createOrReplaceTempView("x39_views")
    s.sql(
      """SELECT * FROM asof_join(
        |  'x39_purchases', 'x39_views', 'user_id', 'ts', 'ts', 'backward')
        |ORDER BY event_id""".stripMargin)
  }

  /** x40 — incremental dedup: a "new batch" (the last 100 docs) checked
    * against the "existing corpus" (the first 400) via
    * [[Dedup.incrementalLshPairs]] — corpus×corpus candidates never form,
    * the asymmetric band join only meets batch-reps with corpus-reps. The
    * oracle reconstructs the full LSH relationally (same scaffolding as
    * x17) and keeps only cross-boundary pairs — identical output by
    * construction, since banding and verification agree pairwise. */
  def x40(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.incrementalLshPairs(
        docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400),
        "doc_id", "text")
      .select(col("new_id"), col("old_id"),
        round(col("jaccard"), 4).as("jaccard"))
      .orderBy("new_id", "old_id")
  }

  /** x41 — inverted index: term → (document frequency, sorted posting
    * list) over the full corpus ([[Index.invertedIndex]]). Postings
    * serialize as a comma-joined string so the artifact hashes identically
    * across engines. The sharded scale path is spec-pinned (ExtSpec). */
  def x41(s: SparkSession, dir: String): DataFrame =
    Index.invertedIndex(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("term")

  /** x42 — conjunctive (AND) term search through the posting relation
    * ([[Index.searchAll]]): docs containing ALL of {dup, vector, window}
    * ("dup" is the corpus's one rare term), joined back to the corpus for
    * payload columns. Work is proportional to the query terms' posting
    * lists, never the corpus. */
  def x42(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Index.searchAll(docs, "doc_id", "text", Seq("dup", "vector", "window"))
      .join(docs.select("doc_id", "lang", "n_chars"), Seq("doc_id"))
      .orderBy("doc_id")
  }

  /** x43 — the composed curation pipeline ([[Curate.curate]]): language
    * filter + quality floor (map-side) → exact dedup (one content-keyed
    * shuffle) → 13-gram eval-set decontamination (semi-join) → curated
    * corpus with provenance columns. Eval set = every 37th doc (as x38),
    * so eval members that survive filtering knock themselves out. */
  def x43(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Curate.curate(docs, docs.filter(col("doc_id") % 37 === 0),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  /** x44 — k-means IVF ANN ([[Similarity.kmeansIvfTopK]]): deterministic
    * Lloyd training (seeds = 8 lowest-id vectors, 2 iterations, means
    * rounded to 6 dp so accumulation-order noise cannot propagate), then
    * top-5 exact cosine within each query's 2 nearest cells. The oracle
    * re-derives the ENTIRE training from scratch relationally — the
    * clustering itself is value-checked, not just the final scoring. */
  def x44(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.kmeansIvfTopK(emb, emb.filter(col("vec_id") < 10), topK = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** x45 — the training-data factory capstone: [[Curate.curate]] →
    * [[Sampling.splitAssign]] (deterministic hash splits) →
    * [[Packing.packBins]] (2000-token bins within (split, shard) streams).
    * One declared plan from raw corpus to packed training bins; every
    * stage is the already-gated operator, composed. */
  def x45(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val curated = Curate.curate(docs, docs.filter(col("doc_id") % 37 === 0),
      "doc_id", "text")
    val split = Sampling.splitAssign(curated, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    Packing.packBins(split, "doc_id", "tokens", Seq("split"), "doc_id",
        budget = 2000L, numShards = 4)
      .select(col("doc_id"), col("split"), col("tokens"), col("shard"),
        col("bin"))
      .orderBy("doc_id")
  }

  /** x46 — product-quantization ANN ([[Similarity.pqTopK]]): 8 subspaces ×
    * 16 codes, deterministic per-subspace k-means (seeds = 16 lowest-id
    * vectors' slices, 2 iterations, 6-dp means), asymmetric-distance
    * scoring from the m×k query table. The oracle re-derives every
    * subspace's clustering, the corpus codes AND the ADC sums relationally
    * — the whole compression pipeline is value-checked. */
  def x46(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), topK = 5)
      .orderBy("query_id", "rank")
  }

  /** x47 — IVF-PQ ANN ([[Similarity.ivfPqTopK]]): the x44 coarse quantizer
    * restricts candidates to 2 probed cells per query, the x46 PQ codes
    * rank them by ADC — the standard billion-scale layout (inverted file
    * of cells, entries are compressed codes; raw vectors never touched at
    * query time). Oracle = the two gated derivations composed. */
  def x47(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), topK = 5)
      .orderBy("query_id", "rank")
  }

  /** x48 — SemDeDup semantic deduplication ([[Similarity.semanticDedup]]):
    * the x44 coarse k-means clusters the corpus, pairwise cosine runs only
    * WITHIN a cell, and every vector with a lower-id cell-mate at cos ≥
    * 0.15 is dropped. The oracle composes the gated k-means derivation with
    * a within-cell pair filter — the clustering AND the drops are
    * value-checked. `k = 8` is passed EXPLICITLY: the oracle's k-means CTE
    * chain hard-codes 8 seeds, so the gate pins the 8-cell geometry at any
    * sf (the library default k=0 auto-scales the cell count with the
    * corpus — correct at 100 TB, but it would diverge from this pinned
    * oracle once n > 8·cellTarget). */
  def x48(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(t(s, dir, "embeddings"), threshold = 0.15, k = 8)
      .orderBy("vec_id")

  /** x49 — quality-ranked token-budget selection
    * ([[Sampling.tokenBudget]]): keep the best documents until the running
    * token total hits the budget. The Spark side is the two-phase bucketed
    * prefix sum (no unpartitioned data-sized window); the oracle is the
    * naive single-window global cumulative sum — identical totals because
    * token counts are integral. */
  def x49(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val annotated = d.select(
      (col("doc_id") +: TextAnalysis.qualityColumns(col("text"))): _*)
    Sampling.tokenBudget(annotated, "doc_id", "n_words", "quality_score",
        budget = 20000L)
      .select("doc_id", "quality_score", "n_words", "cum_tokens")
      .orderBy("doc_id")
  }

  /** x50 — graded eval-set contamination ([[Dedup.contaminationScore]]):
    * x37's boolean flag refined to the per-document FRACTION of distinct
    * 13-grams hit by the eval set (every 37th doc), so a pipeline can set
    * an overlap tolerance. Same corpus slice as x38. */
  def x50(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.contaminationScore(
        docs.filter(col("doc_id") < 400),
        docs.filter(col("doc_id") % 37 === 0).select("doc_id", "text"),
        "doc_id", "text", n = 13)
      .orderBy("doc_id")
  }

  /** x51 — hashed-feature linear quality scorer
    * ([[TextAnalysis.classifierColumns]]): fasttext-shaped model scoring as
    * one map-side `aggregate` HOF — 64 hashed buckets, fixed integer
    * weights (embedded verbatim in the oracle), exact long accumulation,
    * one rounded division. Full corpus, zero shuffle before the sort. */
  def x51(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select((col("doc_id") +: TextAnalysis.classifierColumns(col("text"))): _*)
      .orderBy("doc_id")

  /** x52 — cross-document duplicate-5-gram coverage
    * ([[TextAnalysis.dupNgramCoverage]]): the MassiveText-style duplicate
    * n-gram fraction; the (doc, gram) aggregate exchange is consumed by
    * both the gram rollup and the coverage join (ReusedExchange,
    * PlanSpec-pinned). */
  def x52(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.dupNgramCoverage(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** x53 — Okapi BM25 ranked retrieval ([[Index.bm25TopK]]): global top-10
    * docs for {dup, vector, window} by the Lucene-form BM25. The explode is
    * pruned to the query terms before its shuffle (posting-list-sized tf
    * aggregation), df broadcasts back, N/Σdl are one driver scalar stamp,
    * and the final ranking runs through the lossless sketch pre-prune +
    * skew-free ordinal — no corpus-sized window anywhere. The oracle
    * re-derives every stage, with the per-doc sum pinned to the identical
    * ascending-term fold order. */
  def x53(s: SparkSession, dir: String): DataFrame =
    Index.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("dup", "vector", "window"), k = 10)
      .select(col("doc_id"), round(col("score"), 4).as("score"), col("rank"))
      .orderBy("rank")

  /** x54 — hybrid retrieval via reciprocal-rank fusion ([[Index.rrfFuse]]):
    * the BM25 lexical top-20 (x53's terms) fused with the exact-cosine
    * vector top-20 for query vec_id 0 — rank positions only, no score
    * calibration, the production-default hybrid-search combiner. Both
    * inputs are bounded top-N lists, so fusion is join-and-rank over ≤ 2N
    * rows regardless of corpus size. The oracle re-derives BOTH rankings
    * and the fused sum (fixed lex-then-vec addition order). */
  def x54(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    val lex = Index.bm25TopK(docs, "doc_id", "text",
      Seq("dup", "vector", "window"), k = 20)
    val vec = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), k = 20)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    Index.rrfFuse(lex, vec, "doc_id", k = 10)
      .select(col("doc_id"), round(col("rrf"), 6).as("rrf"), col("rank"))
      .orderBy("rank")
  }

  /** x55 — unigram-LM perplexity-proxy quality score
    * ([[TextAnalysis.unigramNll]]): the corpus trains its own unigram
    * model, each doc scores mean −ln p(token) — the CCNet-style "does this
    * look like the corpus" screen. Vocabulary counts are one map-combined
    * aggregate, the token total is a driver literal, and the per-doc float
    * sum folds in pinned ascending-term order; the oracle re-derives the
    * model AND folds the identical order via list_reduce. */
  def x55(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramNll(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"),
        round(col("avg_nll"), 4).as("avg_nll"))
      .orderBy("doc_id")

  /** x56 — decontamination through the BLOOM pre-filter path
    * ([[Dedup.contaminatedDocsBloom]]): the eval grams' hash sketch
    * broadcasts and drops clean corpus grams map-side before the exact
    * verify semi-join — shuffle volume shrinks to true hits + fpp·grams.
    * Same slice and eval set as x38, same oracle SQL: the Bloom filter
    * admits false positives only, and the exact join removes them, so the
    * result is identical to both exact paths for ANY fpp. */
  def x56(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val evalSet = docs.filter(col("doc_id") % 37 === 0).select("doc_id", "text")
    Dedup.contaminatedDocsBloom(
        docs.filter(col("doc_id") < 400), evalSet, "doc_id", "text", n = 13)
      .orderBy("doc_id")
  }

  /** x57 — Z-order (Morton) layout codes ([[Layout.mortonCode]]): the
    * bit-interleave of (l_partkey, l_suppkey) that [[Layout.cluster]]
    * range-partitions a write by, so parquet min/max prunes on BOTH keys.
    * The code is a pure mask/shift/OR expression (codegen'd, no UDF); the
    * oracle recomputes every bit position arithmetically. The clustered
    * write itself is spec-tested via per-partition bounding boxes
    * (partition assignment is sampling-based, so file placement is not
    * hash-gateable; the CODE is). */
  def x57(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        Layout.mortonCode(Seq(col("l_partkey"), col("l_suppkey")), bits = 16)
          .as("zcode"))
      // sort on every output column: the synthetic lineitem carries
      // duplicate (orderkey, linenumber) pairs, and a keyed sort with ties
      // leaves cross-engine row order unspecified
      .orderBy("l_orderkey", "l_linenumber", "zcode")

  /** x58 — latest-event-per-user compaction ([[Compaction.latestByKey]]):
    * the upsert view of the append-only event stream via map-side-combined
    * `max(struct)` argmax — the exchange carries one pre-collapsed row per
    * (task, user), never the history, and no key serializes through a
    * window task. (ts, event_id) is the unique version; the oracle is the
    * classic row_number-desc window. */
  def x58(s: SparkSession, dir: String): DataFrame =
    Compaction.latestByKey(
        t(s, dir, "events").select("event_id", "ts", "user_id", "event_type", "value"),
        keyCols = Seq("user_id"), versionCols = Seq("ts", "event_id"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        round(col("value"), 4).as("value"))
      .orderBy("user_id")

  /** x59 — sketch-based cardinality profiling ([[Profile.sketchDistinct]]):
    * per-source row counts + HLL++ approximate distinct texts. The gate
    * hash-checks the sketch's CONTRACT, not its estimate: the declared
    * output is the exact counts plus the boolean "approx within 3·rsd of
    * exact", which the oracle asserts as TRUE — HLL++ is deterministic for
    * a dataset, so this is a stable value check that the map-side-mergeable
    * profile stays inside its error bound. */
  def x59(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val sketch = Profile.sketchDistinct(d, "source", "text", rsd = 0.05)
    val exact = d.groupBy(col("source"))
      .agg(count_distinct(col("text")).as("exact_distinct"))
    sketch.join(exact, "source")
      .select(col("source"), col("n_rows"), col("exact_distinct"),
        (abs(col("approx_distinct") - col("exact_distinct")) <=
          col("exact_distinct") * 0.15).as("within_bound"))
      .orderBy("source")
  }

  /** x60 — approx-percentile profiling under its rank guarantee
    * ([[Profile.medianBoundCheck]]): per-language approximate median doc
    * length, gated like x59 — the declared output is the exact group
    * counts plus "the returned value's rank is within n/accuracy of n/2",
    * verified against the data and asserted TRUE by the oracle. */
  def x60(s: SparkSession, dir: String): DataFrame =
    Profile.medianBoundCheck(t(s, dir, "documents"), "lang", "n_chars")
      .orderBy("lang")

  /** x61 — the z-order READ path ([[Layout.boxQuery]]): a 2-D box filter
    * executed through the quadtree zcode-range cover over the clustered
    * frame + the exact residual — identical rows to the plain box
    * predicate (the oracle), while the range predicates are the ones
    * parquet min/max pruning and the range-partitioned layout answer
    * without scanning. Completes x57: write-side clustering AND the reads
    * it serves. */
  def x61(s: SparkSession, dir: String): DataFrame = {
    val clustered = Layout.cluster(
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      Seq("l_partkey", "l_suppkey"), numPartitions = 8)
    Layout.boxQuery(clustered, "l_partkey", "l_suppkey",
        xmin = 100L, xmax = 900L, ymin = 10L, ymax = 60L)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
  }

  /** x62 — ordered 3-step funnel view→click→purchase
    * ([[Behavior.funnel]]): earliest strictly-increasing completion times
    * per user, all comparisons and outputs pinned to epoch microseconds.
    * Every shuffle is user-keyed; the step frontiers only shrink. */
  def x62(s: SparkSession, dir: String): DataFrame =
    Behavior.funnel(t(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .orderBy("user_id")

  /** x63 — daily cohort retention ([[Behavior.retention]]): distinct
    * active users per (first-event day, day offset). One user-keyed
    * aggregate + join + one (cohort, offset) count-distinct. */
  def x63(s: SparkSession, dir: String): DataFrame =
    Behavior.retention(t(s, dir, "events"), "user_id", "ts")
      .orderBy("cohort_day", "day_offset")

  /** x64 — deterministic weighted sampling ([[Sampling.weightedSample]]):
    * Efraimidis–Spirakis keys from the portable hash (−ln u / n_chars), 20
    * per language — longer docs proportionally likelier, every engine and
    * retry reproduces the identical sample. The oracle re-derives u, the
    * key, and the per-group ranking. */
  def x64(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedSample(t(s, dir, "documents"), "doc_id", "n_chars",
        "lang", k = 20)
      .select(col("lang"), col("doc_id"), col("sample_rank"))
      .orderBy("lang", "sample_rank")

  /** x65 — deterministic mixture rebalancing ([[Sampling.rebalanceMix]]):
    * cut {src0, src1, src2} to an exact 50/30/20 mix at the largest
    * feasible total, keeping each source's smallest-hash rows. Quotas come
    * from one tiny count aggregate; membership is a pure function of the
    * data, re-derived end-to-end by the oracle. */
  def x65(s: SparkSession, dir: String): DataFrame =
    Sampling.rebalanceMix(t(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
      .select(col("source"), col("doc_id"))
      .orderBy("source", "doc_id")

  /** x66 — sliding context windows ([[Packing.chunkWindows]]): 100-token
    * windows at stride 50 over every document — the long-doc chunking
    * stage of training prep as a pure map-side generate (integer-div
    * window counts, zero shuffle). The oracle re-slices every window. */
  def x66(s: SparkSession, dir: String): DataFrame =
    Packing.chunkWindows(t(s, dir, "documents"), "doc_id", "text",
        window = 100, stride = 50)
      .orderBy("doc_id", "window_id")

  /** x67 — event-rate anomaly detection ([[Behavior.rateAnomalies]]):
    * hourly counts z-scored against the trailing 24 observed hours; the
    * trailing stats are exact integer sums, the float math three pinned
    * ops, and the flag filter runs on variance (bit-identical) rather
    * than a NaN-ordering-sensitive z comparison. */
  def x67(s: SparkSession, dir: String): DataFrame =
    Behavior.rateAnomalies(t(s, dir, "events"), "ts",
        trailing = 24, minZ = 2.0)
      .orderBy("hour")

  /** x68 — the long-document training-prep capstone: [[Packing.chunkWindows]]
    * (100-token windows, stride 50) → [[Packing.packBins]] (2000-token
    * bins over hash shards) as ONE declared plan — raw corpus to packed
    * context-window batches, every stage the already-gated operator. The
    * synthetic window id doc_id·1000 + window_id keys the shard hash and
    * the packing order (windows per doc are bounded ≪ 1000). */
  def x68(s: SparkSession, dir: String): DataFrame = {
    val wins = Packing.chunkWindows(t(s, dir, "documents"), "doc_id", "text",
        window = 100, stride = 50)
      .select(col("doc_id"), col("window_id"),
        (col("doc_id") * 1000L + col("window_id")).as("graft_wid"),
        col("win_tokens"))
    Packing.packBins(wins, "graft_wid", "win_tokens", Nil, "graft_wid",
        budget = 2000L, numShards = 8)
      .select(col("doc_id"), col("window_id"), col("win_tokens"),
        col("shard"), col("bin"))
      .orderBy("doc_id", "window_id")
  }

  /** x69 — canonical text normalization ([[TextAnalysis.normalizeText]]):
    * lowercase → strip non-[a-z0-9 ] → collapse spaces → trim, plus the
    * surviving token count — the pre-dedup cleanup at scan speed. */
  def x69(s: SparkSession, dir: String): DataFrame = {
    val norm = TextAnalysis.normalizeText(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"), norm.as("norm_text"),
        size(filter(split(norm, " "), _ =!= "")).cast("long").as("n_tokens"))
      .orderBy("doc_id")
  }

  /** x70 — per-source corpus health report ([[Profile.sourceReport]]):
    * volume, exact-dup rate, 13-gram contamination rate (eval = every
    * 37th doc), mean words — every fraction one rounded division over
    * integer aggregates, so the dashboard value-checks across engines. */
  def x70(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Profile.sourceReport(docs,
        docs.filter(col("doc_id") % 37 === 0).select("doc_id", "text"),
        "doc_id", "text", "source")
      .orderBy("source")
  }

  /** x71 — boilerplate-opening heavy hitters ([[Profile.topDuplicates]]
    * over each doc's 2-token opening): the top-3 most-repeated document
    * openings per language — the classic "same header pasted everywhere"
    * curation signal. The aggregation keys on the 60-bit hash of the
    * opening (8 bytes through the exchange); ranking runs the skew-free
    * ordinal. Exemplar = lowest doc id. */
  def x71(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("graft_prefix",
        array_join(slice(graft.ext.Dedup.tokens(col("text")), 1, 2), " "))
    Profile.topDuplicates(docs, "doc_id", "graft_prefix", "lang", k = 3)
      .orderBy("lang", "rank")
  }

  /** x72 — typed JSON property promotion ([[JsonCols.promote]]): the
    * events table's `props` JSON column promoted to a typed `k` via one
    * codegen'd from_json map (schema-on-read; the distributed form of the
    * reference's per-row infer loop), then per-event-type integer stats
    * over the promoted field — the "turn the stringly props bag into real
    * columns" step every event pipeline starts with. */
  def x72(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructType}
    val parsed = JsonCols.promote(t(s, dir, "events"), "props",
      new StructType().add("k", LongType))
    parsed.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("k")).as("n_distinct_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")
  }

  /** x73 — BPE-style merge-candidate table
    * ([[TextAnalysis.pairMergeCounts]]): the 30 most frequent adjacent
    * token pairs across the corpus, multiset-counted — round one of
    * tokenizer training. Top-k is TakeOrderedAndProject (k rows per
    * partition), never a vocabulary-wide sort. */
  def x73(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.pairMergeCounts(t(s, dir, "documents"), "text", k = 30)

  /** x74 — int8 embedding quantization ([[Similarity.quantizeInt8]]):
    * FAISS-SQ8-style scalar codes (4× smaller vectors for any code-space
    * pass), gated through per-vector integer code stats so every code
    * value feeds the hash via the sum/min/max triple. */
  def x74(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(t(s, dir, "embeddings"))
      .select(col("vec_id"),
        size(col("codes")).cast("long").as("n_dims"),
        aggregate(col("codes"), lit(0L), (acc, c) => acc + c).as("code_sum"),
        array_min(col("codes")).cast("long").as("code_min"),
        array_max(col("codes")).cast("long").as("code_max"))
      .orderBy("vec_id")

  /** x75 — cross-source overlap matrix ([[Profile.sourceOverlap]]):
    * distinct shared 13-grams per source pair, joined on 8-byte gram
    * hashes — the "which sources mirror each other" forensics view. */
  def x75(s: SparkSession, dir: String): DataFrame =
    Profile.sourceOverlap(t(s, dir, "documents"), "text", "source")
      .orderBy("source_a", "source_b")

  /** x76 — behavioral transition matrix ([[Behavior.transitions]]): counts
    * of consecutive event-type pairs per user stream, (ts, id)-tie-pinned —
    * the first-order Markov "what follows what" view. */
  def x76(s: SparkSession, dir: String): DataFrame =
    Behavior.transitions(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type")
      .orderBy("from_type", "to_type")

  /** x77 — corpus snapshot diff ([[Compaction.snapshotDiff]]): every doc
    * classified added / removed / changed / unchanged between a simulated
    * old snapshot (docs ∤7, original text) and new snapshot (docs ∤3,
    * text rewritten for ids ≡0 mod 5) — the refresh audit view. */
  def x77(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val before = docs.filter(col("doc_id") % 7 =!= 0).select(col("doc_id"), col("text"))
    val after = docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    Compaction.snapshotDiff(before, after, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** x78 — near-dup graph degree histogram ([[Dedup.degreeHistogram]] over
    * the unbounded x17 LSH pairs): "many isolated pairs vs one template
    * cluster" at a glance, before any collapse runs. */
  def x78(s: SparkSession, dir: String): DataFrame =
    Dedup.degreeHistogram(
        Dedup.lshPairs(t(s, dir, "documents"), "doc_id", "text"),
        "id_a", "id_b")
      .orderBy("degree")

  /** x79 — directional shingle containment pairs
    * ([[Dedup.containmentPairs]], |A∩B|/|A| ≥ 0.8 on a bounded subset):
    * the quote/boilerplate-inclusion detector Jaccard is blind to. */
  def x79(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(
        t(s, dir, "documents").filter(col("doc_id") < 600), "doc_id", "text",
        threshold = 0.8)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 4).as("containment"))
      .orderBy("id_a", "id_b")

  /** x80 — dup-cluster size histogram ([[Dedup.clusterSizeHistogram]] over
    * the x19 component assignment, singletons included): "how much does
    * collapse save, one mega-cluster or many small ones". */
  def x80(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val comp = Dedup.lshComponents(docs, "doc_id", "text")
      .select(col("id").as("doc_id"), col("label"))
    val assigned = docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(coalesce(col("label"), col("doc_id")).as("rep"))
    Dedup.clusterSizeHistogram(assigned, "rep").orderBy("size")
  }

  /** x81 — key-skew audit ([[graft.ext.Skew.keySkewAudit]]): the 10
    * heaviest l_partkey values with share and heavy-to-mean ratio — the
    * "look before you join" report that decides salting vs broadcast. */
  def x81(s: SparkSession, dir: String): DataFrame =
    graft.ext.Skew.keySkewAudit(t(s, dir, "lineitem"), "l_partkey", k = 10)
      .orderBy("rank", "key")

  /** x82 — exact integral median per source
    * ([[Profile.exactIntegralMedian]] on n_chars): the value-histogram
    * path that gives EXACT medians over any row count when the domain is
    * small — windows run over distinct values, never rows. */
  def x82(s: SparkSession, dir: String): DataFrame =
    Profile.exactIntegralMedian(t(s, dir, "documents"), "source", "n_chars")
      .orderBy("source")

  /** x83 — exact length-distribution quartiles per language
    * ([[Profile.exactIntegralQuartiles]] on n_chars): median/IQR/ceiling
    * with exact answers from the one-pass value histogram. */
  def x83(s: SparkSession, dir: String): DataFrame =
    Profile.exactIntegralQuartiles(t(s, dir, "documents"), "lang", "n_chars")
      .orderBy("lang")

  /** x84 — rolling 7-day active users ([[Behavior.rollingActiveUsers]]):
    * WAU per day via distinct (day, user) × window-membership explode —
    * the sliding count-distinct no engine's window frame can express. */
  def x84(s: SparkSession, dir: String): DataFrame =
    Behavior.rollingActiveUsers(t(s, dir, "events"), "user_id", "ts")
      .orderBy("day")

  /** x85 — engagement cadence: EXACT quartiles of the inter-event gap
    * (whole seconds) per event type — the x76 lead-window shape feeding
    * [[Profile.exactIntegralQuartiles]]'s value-histogram path; gaps are
    * integral so the whole report is exact at any scale. */
  def x85(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("graft_us"), col("event_id"))
    val gaps = t(s, dir, "events")
      .select(col("event_type"), col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("graft_us"))
      .withColumn("graft_nus", lead(col("graft_us"), 1).over(w))
      .filter(col("graft_nus").isNotNull)
      .select(col("event_type"),
        expr("(graft_nus - graft_us) div 1000000").as("graft_gap"))
    Profile.exactIntegralQuartiles(gaps, "event_type", "graft_gap")
      .orderBy("event_type")
  }

  /** x86 — leakage-free train/val/test split
    * ([[Sampling.leakageFreeSplit]]): split assignment keyed on the
    * near-dup cluster rep, so near-duplicates never straddle train and
    * test — the eval-integrity upgrade over the per-doc x30 split. */
  def x86(s: SparkSession, dir: String): DataFrame =
    Sampling.leakageFreeSplit(t(s, dir, "documents"), "doc_id", "text",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .orderBy("doc_id")

  /** x87 — quality-aware exemplar selection ([[Curate.keepBest]]): per
    * near-dup cluster, keep the highest-quality member via one map-combined
    * argmax aggregate — collapse keeps the clean copy, not the min-id. */
  def x87(s: SparkSession, dir: String): DataFrame =
    Curate.keepBest(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("rep")

  /** x88 — ANN recall audit ([[Similarity.recallAtK]]): IVF-PQ top-10 vs
    * the exact brute-force top-10 over a 20-query probe batch, at x47's
    * production parameters. The other ANN gates (x06/x07/x44/x46/x47) pin
    * determinism — this one pins retrieval QUALITY, x59/x60-style: the
    * oracle recomputes the exact side (per-query truth size + 10th-best
    * cosine from the brute ranking) and asserts the audit bound TRUE.
    * The bound is a floor on the MEAN recall@10 across the probe batch
    * (≥ 0.1), not per query: the synthetic embeddings are near-uniform —
    * the worst case for a 16-centroid/8-dim-subspace product quantizer —
    * so measured per-query recall ranges 0.0–0.6 (means 0.34/0.30/0.21
    * at sf0.001/0.01/0.1, nProbe=2 of 8 cells; nProbe=4 moves the means
    * < 0.03 — distortion-, not probe-, limited). The gate exists to catch
    * a BROKEN index — wrong cells probed, garbled codes → recall ≈ k/n
    * (0.005 at sf0.1), 20× below the floor — not to certify production
    * recall on adversarially uniform vectors; the floor is the weakest
    * observed mean ÷ 2, headroom enough that a reseeded testdata
    * generation cannot flip the gate while a broken index still cannot
    * pass it. The QUALITY claim lives in x102, which runs the same audit
    * on a clustered fixture where recall ≈ 1.0 and gates at 0.8. */
  def x88(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < 20)
    // both feed multiple downstream branches (hits, truth sizes, kth_cos
    // / the mean and the per-query rows) — materialized so the brute
    // corpus pass and the IVF-PQ training lineage run once, not per
    // branch (Spark does not ReusedExchange across an agg+crossJoin DAG)
    val truth = Dedup.materialize(
      Similarity.bruteForceTopK(emb, probes, k = 10))
    val ann = Similarity.ivfPqTopK(emb, probes, topK = 10)
    val audit = Dedup.materialize(Similarity.recallAtK(
      ann.select("query_id", "neighbor_id"),
      truth.select("query_id", "neighbor_id")))
    audit
      .join(truth.groupBy(col("query_id"))
        // floor spelling, not round(): kth_cos crosses the engine
        // boundary, and Spark/DuckDB round() diverge on shortest-decimal
        // midpoints (the documented 0.25525 class)
        .agg((floor(min(col("cos")) * 10000 + lit(0.5)) / 10000)
          .as("kth_cos")), "query_id")
      .crossJoin(audit.agg((avg(col("recall")) >= 0.1).as("mean_recall_ok")))
      .select(col("query_id"), col("n_truth"), col("kth_cos"),
        col("mean_recall_ok"))
      .orderBy("query_id")
  }

  /** x89 — incremental dedup answered from PERSISTED corpus state
    * ([[Dedup.appendLshState]] ×2 + [[Dedup.incrementalLshPairsFromState]]):
    * x40's exact relation, but the corpus's signatures come from parquet
    * state built in two tagged appends — the steady-state ingest shape
    * where per-batch cost is O(batch), never O(corpus) recompute. Same
    * oracle as x40 (the state path is output-identical by construction;
    * ExtSpec pins the parity, this pins the VALUES). The state dir is a
    * fresh temp dir per invocation — the output depends only on the
    * data — and is left for the OS tmp cleaner (the driver wipes /tmp
    * between rounds; a run leaves a few MB per invocation). The timed
    * bench cost of x89 deliberately INCLUDES the two state-building
    * appends: the gate measures the whole steady-state ingest shape,
    * not just the final read. */
  def x89(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x89_state").toFile.getAbsolutePath
    Dedup.appendLshState(docs.filter(col("doc_id") < 200), "doc_id", "text",
      state, batchTag = Some(1L))
    Dedup.appendLshState(
      docs.filter(col("doc_id") >= 200 && col("doc_id") < 400),
      "doc_id", "text", state, batchTag = Some(2L))
    Dedup.incrementalLshPairsFromState(state,
        docs.filter(col("doc_id") >= 400), "doc_id", "text")
      .select(col("new_id"), col("old_id"),
        round(col("jaccard"), 4).as("jaccard"))
      .orderBy("new_id", "old_id")
  }

  /** x90 — per-group embedding profile ([[Similarity.groupProfile]]) over
    * the label column: count, mean squared norm, centroid norm, and
    * dispersion via the bias-variance identity E‖v−c‖² = E‖v‖² − ‖c‖² —
    * no pairwise pass, one posexplode aggregate. The oracle recomputes
    * the per-dimension means with a generate_series × list_extract
    * unnest. */
  def x90(s: SparkSession, dir: String): DataFrame =
    Similarity.groupProfile(t(s, dir, "embeddings"), "label")
      .withColumn("label", col("label").cast("long"))
      .orderBy("label")

  /** x91 — per-eval-doc contamination attribution
    * ([[Dedup.contaminationAttribution]]): for each eval item (every 37th
    * doc — the x43/x45 eval convention), the distinct 13-grams it shares
    * with the training corpus, the distinct corpus docs sharing them, and
    * the heaviest contaminating source. x37/x38/x56 REMOVE contaminated
    * corpus docs; this is the report the eval owner reads to decide which
    * eval items are burned. */
  def x91(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.contaminationAttribution(
        docs.filter(col("doc_id") % 37 =!= 0),
        docs.filter(col("doc_id") % 37 === 0),
        "doc_id", "text", "source")
      .orderBy("eval_id")
  }

  /** x92 — cross-source near-dup flow matrix ([[Dedup.pairGroupMatrix]]
    * over x17's LSH pair relation): which sources duplicate each other
    * (off-diagonal = mirrors / shared upstream) vs self-duplicate
    * (diagonal = crawl artifacts), with pair counts and mean jaccard.
    * The matrix is an aggregation of the DEDUP OUTPUT — the corpus is
    * touched only by the pair derivation the x17 gate already pins. */
  def x92(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.lshPairs(docs, "doc_id", "text")
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    Dedup.pairGroupMatrix(pairs, "id_a", "id_b", "jaccard",
        docs, "doc_id", "source")
      .select(col("group_a").as("source_a"), col("group_b").as("source_b"),
        col("n_pairs"), col("avg_sim").as("avg_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** x93 — distributed BPE merge training ([[Bpe.trainMerges]]): four
    * full train iterations — corpus-wide pair count → pinned argmax →
    * greedy left-to-right re-encode — with later iterations counting
    * pairs over the symbols earlier ones merged. The oracle unrolls the
    * same four iterations as chained CTEs (pair counts on
    * chr(1)-separated keys — the separator sorts below every token byte,
    * so its ORDER BY matches Spark's (n DESC, a, b); re-encode via
    * list_reduce with the first element as the seed accumulator, the
    * same greedy fold). Every row of the output depends on all four
    * corpus passes. */
  def x93(s: SparkSession, dir: String): DataFrame =
    Bpe.trainMerges(t(s, dir, "documents"), "text", numMerges = 4)
      .orderBy("step")

  /** x94 — vocabulary coverage / OOV-rate report
    * ([[TextAnalysis.vocabCoverage]]): the top-50 corpus vocabulary's
    * coverage of each source's token mass — the "is this vocab size
    * enough, and for which domains does it break" report run before
    * committing a tokenizer. Vocabulary ties pinned (count desc, token
    * asc); coverage probes membership via broadcast, so only per-source
    * totals shuffle. */
  def x94(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabCoverage(t(s, dir, "documents"), "text", "source", 50)
      .orderBy("source")

  /** x95 — packing-efficiency report ([[Packing.binEfficiency]]) over
    * x31's per-language packing: bins, packed mass, mean/min/max fill per
    * language — the capacity-waste check run after any packing stage.
    * The oracle recomputes x31's bin relation and stacks the same two
    * aggregations. */
  def x95(s: SparkSession, dir: String): DataFrame = {
    val binned = Packing.packBins(
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        (length(col("text")) - length(translate(col("text"), " ", "")) + 1)
          .cast("long").as("tok")),
      "doc_id", "tok", Seq("lang"), "doc_id", budget = 2000L, numShards = 8)
    Packing.binEfficiency(binned, Seq("lang"), "tok", budget = 2000L)
      .orderBy("lang")
  }

  /** x96 — dedup-aware data accounting ([[Dedup.effectiveTokens]]): per
    * source, claimed vs surviving-after-exact-dedup token mass and the
    * duplicate-waste fraction — the first number a curation run reports.
    * Integer aggregates on (source, md5) only; one rounded division. */
  def x96(s: SparkSession, dir: String): DataFrame =
    Dedup.effectiveTokens(t(s, dir, "documents"), "text", "source")
      .orderBy("source")

  /** x97 — per-document 3-gram novelty ([[Dedup.noveltyScore]]): the
    * share of each doc's distinct grams first seen (by ascending id) in
    * that doc — the long-tail curation signal pair-dedup misses when a
    * doc's content is spread across many predecessors. Inverted layout:
    * gram → min-id aggregate joined back gram-partitioned, no pairwise
    * work. */
  def x97(s: SparkSession, dir: String): DataFrame =
    Dedup.noveltyScore(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** x98 — exact phrase search ([[Index.phraseSearch]]): all documents
    * containing the adjacent words "key agg", with occurrence count and
    * first position — the positional-postings capability term search
    * (x42) can't express. Work ∝ the two terms' posting lists; the
    * (doc, start) intersection is a co-partitioned equi-join. */
  def x98(s: SparkSession, dir: String): DataFrame =
    Index.phraseSearch(t(s, dir, "documents"), "doc_id", "text",
        Seq("key", "agg"))
      .orderBy("doc_id")

  /** x99 — near-dup graph transitivity audit
    * ([[Dedup.transitivityAudit]]) over x17's pair relation: edges,
    * wedges, triangles, global clustering coefficient — the "should I
    * trust the collapse" check before components commits to reps. All
    * counts integer-exact; the coefficient uses the portable floor
    * rounding. */
  def x99(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.transitivityAudit(
      Dedup.lshPairs(docs, "doc_id", "text").select("id_a", "id_b"),
      "id_a", "id_b")
  }

  /** x100 — declared-vs-predicted language confusion matrix
    * ([[TextAnalysis.langConfusion]]): how often the corpus's lang
    * metadata disagrees with the x08 content prediction, per (declared,
    * predicted) cell — the metadata-trust audit run before any
    * language-filtered mixing. Oracle composes the x08 scoring CTE with
    * the same aggregate. */
  def x100(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langConfusion(t(s, dir, "documents"), "lang", "text")
      .orderBy("declared", "predicted")

  /** x101 — SAMPLED BPE training ([[Bpe.trainMergesSampled]]): the same
    * four train iterations as x93, but over the deterministic 25 %
    * hash-sample of the corpus — the production path where per-merge
    * cost is O(sample), independent of corpus size. The oracle is x93's
    * unrolled CTE chain with it0 restricted by the identical portable
    * hash predicate, so the gate pins that the sampled trainer's merge
    * list is exactly the full trainer's semantics applied to the sample
    * (NOT merely similar to the full corpus's list). */
  def x101(s: SparkSession, dir: String): DataFrame =
    Bpe.trainMergesSampled(t(s, dir, "documents"), "text", "doc_id",
        numMerges = 4, sampleRate = 0.25)
      .orderBy("step")

  /** x102 — ANN recall audit on CLUSTERED embeddings
    * ([[Similarity.kmeansIvfTopK]] vs brute truth): x88's audit shape,
    * but over a deterministic mixture fixture where a recall claim MEANS
    * something. x88 runs on the testdata's near-uniform vectors — the
    * honest worst case, gated only as a broken-index tripwire; this
    * fixture derives 8 well-separated clusters from the same vec_ids
    * (center 4.0 on every 8th dimension by vec_id % 8, ± 0.25 portable-
    * hash jitter per dimension — both engines recompute identical
    * doubles), where each query's true top-10 lies inside its own
    * cluster, the k-means seeds (the 8 lowest-id vectors) land one per
    * cluster, and a correctly-probing IVF recalls ≈ 1.0. The gate pins
    * mean recall@10 ≥ 0.8 — tight enough that probing the wrong cells
    * or garbling the assignment fails, with measured headroom ≈ 1.0. */
  def x102(s: SparkSession, dir: String): DataFrame = {
    val dims = 64
    val emb = t(s, dir, "embeddings").select(col("vec_id"))
      .withColumn("embedding", transform(sequence(lit(1), lit(dims)), j =>
        when(pmod(col("vec_id"), lit(8)) === pmod(j - 1, lit(8)), lit(4.0))
          .otherwise(lit(0.0))
          + (pmod(graft.ext.PortableHash.md5Long(
                concat(col("vec_id").cast("string"), lit(":"), j.cast("string"))),
              lit(1000L)).cast("double") / 1000.0 - 0.5) * 0.5))
    val probes = emb.filter(col("vec_id") < 20)
    // both feed multiple branches (x88's materialization rationale)
    val truth = Dedup.materialize(
      Similarity.bruteForceTopK(emb, probes, k = 10))
    val ann = Similarity.kmeansIvfTopK(emb, probes, topK = 10,
      k = 8, iters = 2, nProbe = 2)
    val audit = Dedup.materialize(Similarity.recallAtK(
      ann.select("query_id", "neighbor_id"),
      truth.select("query_id", "neighbor_id")))
    audit
      .join(truth.groupBy(col("query_id"))
        .agg((floor(min(col("cos")) * 10000 + lit(0.5)) / 10000)
          .as("kth_cos")), "query_id")
      .crossJoin(audit.agg((avg(col("recall")) >= 0.8).as("mean_recall_ok")))
      .select(col("query_id"), col("n_truth"), col("kth_cos"),
        col("mean_recall_ok"))
      .orderBy("query_id")
  }

  /** x103 — duplicate SUBSTRING spans ([[Dedup.duplicateSpans]]):
    * maximal token spans covered by 10-gram windows repeated anywhere in
    * the corpus — span-granular dedup after Lee et al. (ACL 2022), the
    * distributable gram-fingerprint equivalent of their suffix-array
    * method. One gram explode, fingerprint-only shuffle, per-doc keyed
    * window merge. */
  def x103(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateSpans(t(s, dir, "documents"), "doc_id", "text",
        minLen = 10)
      .orderBy("doc_id", "span_start")

  /** x104 — temperature-scaled mixture weights
    * ([[Sampling.temperatureMix]], alpha = 0.5 via exact sqrt): per
    * source, raw vs exponentiated token share and the resulting
    * up/down-sampling multiplier — the standard low-resource-source
    * flattening rule (mBERT/XLM alpha sampling). |groups|-bounded;
    * shares are ratios of integer-quantized sums, so the value hash is
    * engine-portable. */
  def x104(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMix(t(s, dir, "documents"), "text", "source",
        alpha = 0.5)
      .orderBy("source")

  /** x105 — hard-negative mining ([[Similarity.hardNegatives]]): per
    * probe query, top-5 corpus vectors inside the cosine band
    * [0.15, 0.35) — nearest non-near-duplicate neighbors, the denoised
    * negative set contrastive training wants. Broadcast probes, one
    * corpus scan, band filter before the per-query ranking window. */
  def x105(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10), k = 5)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** x106 — ANN answered from PERSISTED IVF state
    * ([[Similarity.appendIvfState]] ×2 + [[Similarity.ivfTopKFromState]]):
    * x44's kmeans-IVF retrieval, but centroids train on the FIRST batch
    * (vec_id < 250) and persist; the second batch assigns to the frozen
    * centroids — the steady-state index-maintenance shape where each
    * vector is assigned once ever and query cost is the probed cells
    * only. The oracle re-derives the k-means on the first-batch corpus
    * and assigns ALL vectors to it — exactly the state semantics. Temp
    * state dir per invocation (x89's rationale: output depends only on
    * the data; the driver wipes /tmp between rounds). */
  def x106(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x106_state").toFile.getAbsolutePath
    Similarity.appendIvfState(emb.filter(col("vec_id") < 250), state,
      k = 8, iters = 2, batchTag = Some(1L))
    Similarity.appendIvfState(emb.filter(col("vec_id") >= 250), state,
      k = 8, iters = 2, batchTag = Some(2L))
    Similarity.ivfTopKFromState(s, state, emb.filter(col("vec_id") < 10),
        topK = 5, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** x107 — incremental embedding near-dup pairs from PERSISTED IVF state
    * ([[Similarity.nearDupPairsFromState]]): the steady-state SemDeDup
    * accept gate — a 100-vector batch (vec_id ∈ [400, 500)) probes its 2
    * nearest cells of the state built from vec_id < 400 (centroids
    * trained on the first 250), scoring only the probed cells' state
    * vectors. Pairs at cos ≥ 0.3. The oracle re-derives the first-batch
    * k-means, assigns the state vectors, probes the batch, and scores
    * the identical cell-restricted pairs. */
  def x107(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x107_state").toFile.getAbsolutePath
    Similarity.appendIvfState(emb.filter(col("vec_id") < 250), state,
      k = 8, iters = 2, batchTag = Some(1L))
    Similarity.appendIvfState(
      emb.filter(col("vec_id") >= 250 && col("vec_id") < 400), state,
      k = 8, iters = 2, batchTag = Some(2L))
    Similarity.nearDupPairsFromState(s, state,
        emb.filter(col("vec_id") >= 400 && col("vec_id") < 500),
        threshold = 0.3, nProbe = 2)
      .select(col("new_id"), col("old_id"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("new_id", "old_id")
  }

  /** x108 — substring-level dedup applied ([[Dedup.duplicateSpans]]
    * keepFirst + [[Dedup.removeSpans]]): the cleaned corpus — every doc
    * with the non-first copies of corpus-repeated ≥10-token regions
    * excised and the survivors re-assembled, plus the removal
    * accounting. Lee et al.'s retain-one intent end-to-end (per-gram
    * first-occurrence exemption — see the overlap caveat on
    * duplicateSpans); the gate hashes the full cleaned text of every
    * document. */
  def x108(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.removeSpans(docs, "doc_id", "text",
        Dedup.duplicateSpans(docs, "doc_id", "text", minLen = 10,
          keepFirst = true))
      .orderBy("doc_id")
  }

  /** x109 — incremental corpus accounting from PERSISTED stats state
    * ([[Profile.appendStatsState]] ×3 + [[Profile.statsReport]]): the
    * composition report (per-source docs / token mass / distinct
    * content) answered from per-batch mergeable aggregates — exact
    * integer sums plus a Datasketches HLL union for the
    * cannot-just-add-across-batches distinct count. The gate pins the
    * exact counts by value and the HLL estimate by its error bound
    * (x59's discipline: the bound is the contract, not the estimate). */
  def x109(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x109_state").toFile.getAbsolutePath
    Profile.appendStatsState(docs.filter(col("doc_id") < 150),
      state, "text", "source", Some(1L))
    Profile.appendStatsState(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300),
      state, "text", "source", Some(2L))
    Profile.appendStatsState(docs.filter(col("doc_id") >= 300),
      state, "text", "source", Some(3L))
    val exact = docs.groupBy(col("source"))
      .agg(count_distinct(md5(col("text"))).as("n_unique"))
    Profile.statsReport(s, state)
      .withColumnRenamed("grp", "source")
      .join(exact, "source")
      .select(col("source"), col("n_docs"), col("tokens"), col("n_unique"),
        (abs(col("distinct_est").cast("double") -
            col("n_unique").cast("double")) <=
          col("n_unique").cast("double") * 0.05 + lit(1.0))
          .as("est_within_bound"))
      .orderBy("source")
  }

  /** x110 — BM25 retrieval from PERSISTED postings state
    * ([[Index.appendPostingsState]] ×2 + [[Index.bm25TopKFromState]]):
    * x53's exact ranking, but the tf rows come from a term-bucket
    * PARTITION-PRUNED read of an incrementally-built posting store and
    * the corpus constants from accumulated totals — the search-index
    * maintenance shape where the corpus text is never re-tokenized at
    * query time. Same oracle as x53 (the state path is output-identical
    * by construction; ExtSpec pins the parity, this pins the VALUES). */
  def x110(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x110_state").toFile.getAbsolutePath
    Index.appendPostingsState(docs.filter(col("doc_id") < 250),
      state, "doc_id", "text", batchTag = Some(1L))
    Index.appendPostingsState(docs.filter(col("doc_id") >= 250),
      state, "doc_id", "text", batchTag = Some(2L))
    Index.bm25TopKFromState(s, state, Seq("dup", "vector", "window"),
        k = 10, idCol = "doc_id")
      .select(col("doc_id"), round(col("score"), 4).as("score"), col("rank"))
      .orderBy("rank")
  }

  /** x111 — training-mix assembly to a token budget
    * ([[Sampling.temperatureSample]]): x104's temperature-flattened
    * shares turned into per-source budgets (floor(share · 5000)) and
    * filled per source in deterministic hash order via the two-phase
    * prefix sum — the final "build the mix" step, fully auditable and
    * engine-reproducible. The oracle is the naive per-source running
    * window over the same portable hash. */
  def x111(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureSample(t(s, dir, "documents"), "doc_id", "text",
        "source", totalTokens = 5000L)
      .orderBy("source", "cum_tokens")

  /** x112 — split-leakage audit ([[Sampling.splitLeakageAudit]]): the
    * x17 near-dup pair relation counted per (split, split) cell under
    * BOTH split policies — the naive per-doc hash split (leaks: a
    * near-dup pair straddling train/test inflates every eval metric)
    * and the cluster-rep split (zero leaking cells by construction).
    * The measurement that justifies x86. The oracle re-derives pairs,
    * the recursive-CTE components, both split assignments, and the
    * same audit joins. Single-signature-pass: the materialized pair
    * relation feeds BOTH the audit joins and the cluster-rep split
    * ([[Sampling.leakageFreeSplitFromPairs]]) — the corpus is shingled
    * and signed exactly once (PlanSpec-pinned). */
  def x112(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.materialize(Dedup.lshPairs(docs, "doc_id", "text"))
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val naive = Sampling.splitAssign(docs, "doc_id", splits)
      .select(col("doc_id"), col("split"))
    val safe = Sampling.leakageFreeSplitFromPairs(docs, pairs, "doc_id", splits)
      .select(col("doc_id"), col("split"))
    Sampling.splitLeakageAudit(pairs, naive, "doc_id")
      .withColumn("method", lit("naive_hash"))
      .unionByName(Sampling.splitLeakageAudit(pairs, safe, "doc_id")
        .withColumn("method", lit("cluster_rep")))
      .select(col("method"), col("split_a"), col("split_b"),
        col("n_pairs"), col("leaks"))
      .orderBy("method", "split_a", "split_b")
  }

  /** x113 — dedup-threshold sweep ([[Dedup.thresholdSweep]]): pairs and
    * touched docs the banded index surfaces at thresholds 0.3–0.9, from
    * ONE banded pass at 0.3 — the knob-tuning report behind choosing a
    * dedup threshold. The oracle re-derives the banded candidates with
    * the exact-jaccard filter at 0.3 and applies the same per-threshold
    * comparisons. */
  def x113(s: SparkSession, dir: String): DataFrame =
    Dedup.thresholdSweep(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("threshold")

  /** x114's drifted fixture: x102's 8-cluster geometry (center 4.0 on
    * dimension vec_id % 8, ± 0.25 portable-hash jitter) for most of the
    * corpus, but vectors with vec_id % 10 ≥ 7 (outside the seed/probe
    * range vec_id < 20) are a DRIFTED population — all near 6.0 on
    * dimension 0 — so ~30 % of the corpus piles into one frozen cell.
    * Both engines recompute identical doubles. */
  private def driftedEmb(s: SparkSession, dir: String): DataFrame = {
    val dims = 64
    val shifted = pmod(col("vec_id"), lit(10)) >= 7 && col("vec_id") >= 20
    t(s, dir, "embeddings").select(col("vec_id"))
      .withColumn("embedding", transform(sequence(lit(1), lit(dims)), j =>
        when(shifted,
          when(j === 1, lit(6.0)).otherwise(lit(0.0)))
        .otherwise(
          when(pmod(col("vec_id"), lit(8)) === pmod(j - 1, lit(8)), lit(4.0))
            .otherwise(lit(0.0)))
          + (pmod(graft.ext.PortableHash.md5Long(
                concat(col("vec_id").cast("string"), lit(":"),
                  j.cast("string"))),
              lit(1000L)).cast("double") / 1000.0 - 0.5) * 0.5))
  }

  /** x114 — IVF-state DRIFT audit ([[Similarity.ivfStateAudit]]): the
    * frozen-first-batch centroids ([[Similarity.appendIvfState]]) are
    * the one state-pillar posture with silent decay — drifted appends
    * pile into few stale cells and recall rots without an error. Three
    * appends build the state (batch 1 trains and freezes; batch 3 is a
    * deliberately drifted population, all near one off-center point),
    * then the audit measures BOTH failure modes over the persisted
    * state: recall@10 of the probed answer vs brute-force truth (gated
    * at the x102 clustered floor, 0.8) and per-cell occupancy skew (the
    * x81 shape: share + heavy-to-mean ratio, `cell_overloaded` above
    * 2× the mean). The drifted cell trips the occupancy gate
    * (`retrain_recommended` = true — retrain = rebuild the dir, the
    * documented remedy) while recall holds, because the drifted mass is
    * self-similar inside its one cell. The oracle re-derives the
    * first-batch k-means, assigns ALL vectors to the frozen centroids,
    * and computes the identical integer-ratio occupancy report. */
  /** x115 — DELETE from the persisted postings state
    * ([[Index.deleteFromPostingsState]] → [[Index.bm25TopKFromState]]):
    * the tombstone path the append-only pillars were missing. Two
    * appends build the x110 state, then every doc_id ≡ 3 (mod 7) is
    * deleted (the shape the engine's own curation produces — excision
    * and decontamination REMOVE documents), and the same BM25 query runs
    * over the surviving state: deleted docs stop scoring immediately
    * (postings reads anti-join the tombstones) and the corpus constants
    * (N, avgdl) shrink EXACTLY (a negative integer correction derived
    * from the per-doc sidecar — never a postings scan). The oracle is
    * the x110 BM25 chain over `documents WHERE doc_id % 7 <> 3` — i.e.
    * the delete contract itself: a state after deletes answers exactly
    * like a state built from scratch on the survivors. */
  def x115(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x115_state").toFile.getAbsolutePath
    Index.appendPostingsState(docs.filter(col("doc_id") < 250),
      state, "doc_id", "text", batchTag = Some(1L))
    Index.appendPostingsState(docs.filter(col("doc_id") >= 250),
      state, "doc_id", "text", batchTag = Some(2L))
    Index.deleteFromPostingsState(s, state,
      docs.filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    Index.bm25TopKFromState(s, state, Seq("dup", "vector", "window"),
        k = 10, idCol = "doc_id")
      .select(col("doc_id"), round(col("score"), 4).as("score"), col("rank"))
      .orderBy("rank")
  }

  /** x116 — substring excision to a FIXPOINT
    * ([[Dedup.removeSpansToFixpoint]]): x108's retain-one-copy policy
    * with per-iteration first-occurrence PROTECTION — a token is cut
    * only when covered by a non-first duplicated gram AND not by any
    * first occurrence, so overlapping duplicated regions can no longer
    * excise the last copy of content (the documented keepFirst caveat,
    * closed; ExtSpec proves one-copy retention on a planted-overlap
    * fixture). Iterates detect→protect→excise until a pass removes zero
    * tokens. The oracle unrolls the identical spec for three iterations
    * (iterations after the fixpoint are identities, so unrolling past
    * convergence is harmless). */
  def x116(s: SparkSession, dir: String): DataFrame =
    Dedup.removeSpansToFixpoint(t(s, dir, "documents"), "doc_id", "text",
        minLen = 10)
      .orderBy("doc_id")

  /** x117 — BPE-token-denominated budget selection ([[Bpe.trainMerges]]
    * → [[Bpe.encode]] → [[Sampling.tokenBudget]]): x49's take-the-best-N
    * selection measured in TOKENIZER tokens instead of whitespace words
    * — the unit training budgets are actually written in. Four merges
    * train on the corpus (the x93 chain), every document is re-encoded
    * with the learned merge fold (map-side, no shuffle), and the budget
    * prefix sum runs over the encoded counts. The oracle replays the
    * identical training + encode (the x93 machinery with doc_id carried
    * through the re-encode) and the naive global budget window. */
  def x117(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val merges = Bpe.trainMerges(docs, "text", numMerges = 4)
      .orderBy("step").select("left", "right")
      .as[(String, String)].collect().toSeq
    val enc = Bpe.encode(docs.select(
        (col("doc_id") +: col("text") +:
          TextAnalysis.qualityColumns(col("text"))): _*),
      "text", merges)
      .select(col("doc_id"), col("quality_score"),
        size(col("symbols")).cast("long").as("bpe_tokens"))
    Sampling.tokenBudget(enc, "doc_id", "bpe_tokens", "quality_score",
        budget = 20000L)
      .select("doc_id", "quality_score", "bpe_tokens", "cum_tokens")
      .orderBy("doc_id")
  }

  /** x118 — TRAINED quality scorer ([[TextAnalysis.trainQualityScorer]]
    * → [[TextAnalysis.scoreWithWeights]]): the fasttext-shaped step x51
    * fixes weights for — a deterministic integer averaged perceptron
    * over the 64 hashed bag-of-distinct-token buckets, trained on the
    * labeled quarter of the corpus (label = x49 quality ≥ 0.5, the
    * quality-floor label), scoring EVERY document with the learned
    * averaged weights. Exact integer logits pin the full weight vector;
    * the oracle replays the identical hash-ordered updates in a
    * recursive CTE and re-scores. */
  def x118(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val labeled = docs
      .select((col("doc_id") +: col("text") +:
        TextAnalysis.qualityColumns(col("text"))): _*)
      .select(col("doc_id"), col("text"),
        when(col("quality_score") >= 0.5, 1L).otherwise(-1L).as("label"))
    val sw = TextAnalysis.trainQualityScorer(
      labeled.filter(pmod(col("doc_id"), lit(4)) === 0),
      "doc_id", "text", "label")
    labeled
      .select((col("doc_id") +: col("label") +:
        TextAnalysis.scoreWithWeights(col("text"), sw)): _*)
      .select(col("doc_id"), col("label"), col("clf_logit"),
        col("clf_pred"),
        (col("clf_pred") === (col("label") === 1L)).as("correct"))
      .orderBy("doc_id")
  }

  /** x119 — DELETE from the persisted IVF state
    * ([[Similarity.deleteFromIvfState]] → [[Similarity.ivfTopKFromState]]):
    * the vector pillar's tombstone path — x106's two-append state with
    * every vec_id ≡ 2 (mod 5) deleted, then the same probed retrieval:
    * deleted vectors stop answering immediately, the frozen centroids
    * (trained before the delete) are untouched. Oracle = x106's chain
    * with the deleted vids excluded from the scoring side only — i.e.
    * the delete contract. */
  def x119(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x119_state").toFile.getAbsolutePath
    Similarity.appendIvfState(emb.filter(col("vec_id") < 250), state,
      k = 8, iters = 2, batchTag = Some(1L))
    Similarity.appendIvfState(emb.filter(col("vec_id") >= 250), state,
      k = 8, iters = 2, batchTag = Some(2L))
    Similarity.deleteFromIvfState(s, state,
      emb.filter(pmod(col("vec_id"), lit(5)) === 2).select(col("vec_id")),
      "vec_id", deleteTag = Some(1L))
    Similarity.ivfTopKFromState(s, state, emb.filter(col("vec_id") < 10),
        topK = 5, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** x120 — DELETE from the persisted stats state
    * ([[Profile.deleteFromStatsState]] → [[Profile.statsReport]]): the
    * accounting pillar's tombstone path with the honest HLL caveat —
    * doc/token counts correct EXACTLY via negative pre-aggregated
    * correction rows (the deleting pipeline holds the removed docs), but
    * the distinct-content estimate is union-only (HLL registers cannot
    * subtract) and stays an upper bound on the survivors: the gate pins
    * the exact survivor counts and bounds the estimate against the
    * APPENDED corpus's distinct count, the quantity the sketch actually
    * measures. */
  def x120(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x120_state").toFile.getAbsolutePath
    Profile.appendStatsState(docs.filter(col("doc_id") < 250),
      state, "text", "source", Some(1L))
    Profile.appendStatsState(docs.filter(col("doc_id") >= 250),
      state, "text", "source", Some(2L))
    Profile.deleteFromStatsState(
      docs.filter(pmod(col("doc_id"), lit(7)) === 3),
      state, "text", "source", Some(1L))
    val exactFull = docs.groupBy(col("source"))
      .agg(count_distinct(md5(col("text"))).as("n_unique_appended"))
    Profile.statsReport(s, state)
      .withColumnRenamed("grp", "source")
      .join(exactFull, "source")
      .select(col("source"), col("n_docs"), col("tokens"),
        col("n_unique_appended"),
        (abs(col("distinct_est").cast("double") -
            col("n_unique_appended").cast("double")) <=
          col("n_unique_appended").cast("double") * 0.05 + lit(1.0))
          .as("est_within_bound"))
      .orderBy("source")
  }

  /** x121 — token budget from PERSISTED TOKENIZER STATE
    * ([[Bpe.appendTokenizerState]] → [[Bpe.tokenBudgetFromState]]): the
    * fifth state pillar closing x117's production gap — x117 retrains
    * the merge list and re-encodes the corpus on EVERY budget call
    * (14.9 s at sf0.1, ~2/3 of it training); here merges train ONCE on
    * the first batch and freeze (the IVF-centroid posture — counts must
    * stay one unit), the second batch encodes incrementally under the
    * frozen merges (map-side fold, O(batch)), and the budget query reads
    * only the narrow (id, bpe_tokens) sidecar + a quality frame — the
    * corpus text is never touched and nothing retrains. The oracle
    * replays the frozen-tokenizer shape exactly: pair counting
    * restricted to the training batch, every document re-encoded, the
    * naive global budget window over the encoded counts. */
  def x121(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x121_state").toFile.getAbsolutePath
    Bpe.appendTokenizerState(docs.filter(col("doc_id") < 250), state,
      "doc_id", "text", numMerges = 4, batchTag = Some(1L))
    Bpe.appendTokenizerState(docs.filter(col("doc_id") >= 250), state,
      "doc_id", "text", numMerges = 4, batchTag = Some(2L))
    val quality = docs
      .select((col("doc_id") +: TextAnalysis.qualityColumns(col("text"))): _*)
      .select(col("doc_id"), col("quality_score"))
    Bpe.tokenBudgetFromState(s, state, quality, "doc_id", "quality_score",
        budget = 20000L)
      .select("doc_id", "quality_score", "bpe_tokens", "cum_tokens")
      .orderBy("doc_id")
  }

  /** x122 — IVF RECLUSTER acting on the audit's verdict
    * ([[Similarity.reclusterIvfState]]): x114 measures frozen-centroid
    * drift but until now nothing could ACT on `retrain_recommended`
    * short of a manual rebuild. The x114 drifted state is built (batch 1
    * trains and freezes; batch 3 piles ~30 % of the corpus near one
    * off-center point), the audit trips on occupancy
    * (`drift_flagged_before` — engine-computed, oracle-pinned TRUE),
    * the state RECLUSTERS in place (retrain on the live persisted
    * corpus, reassign once, backup-swap both tables), and retrieval
    * from the re-fitted state equals a from-scratch [[Similarity.kmeansIvfTopK]]
    * over the corpus — the oracle re-derives that full chain (k-means
    * trained on ALL vectors now, not just batch 1) plus the exact
    * integer-ratio occupancy maximum (`max_heavy_after` — on THIS
    * fixture the 30 % drifted mass keeps one genuinely heavy cell even
    * after the re-fit, so the audit honestly still reports it; what
    * recluster restores is the FIT, pinned by the retrieval parity —
    * the ExtSpec fixture where cells can rebalance also pins the skew
    * drop). */
  def x122(s: SparkSession, dir: String): DataFrame = {
    val emb = driftedEmb(s, dir)
    val state = java.nio.file.Files
      .createTempDirectory("graft_x122_state").toFile.getAbsolutePath
    val b1 = col("vec_id") < 8 || pmod(col("vec_id"), lit(10)) < 4
    val b3 = pmod(col("vec_id"), lit(10)) >= 7
    Similarity.appendIvfState(emb.filter(b1), state,
      k = 8, iters = 2, batchTag = Some(1L))
    Similarity.appendIvfState(emb.filter(!b1 && !b3), state,
      k = 8, iters = 2, batchTag = Some(2L))
    Similarity.appendIvfState(emb.filter(!b1 && b3), state,
      k = 8, iters = 2, batchTag = Some(3L))
    val probes = emb.filter(col("vec_id") < 20)
    def worstSkew(): (Boolean, Double) = {
      val rows = Similarity.ivfStateAudit(s, state, probes,
        topK = 10, nProbe = 2, recallFloor = 0.8, occupancyCeil = 2.0)
        .select(col("retrain_recommended"), col("heavy_to_mean")).collect()
      (rows.head.getBoolean(0), rows.map(_.getDouble(1)).max)
    }
    val (flaggedBefore, _) = worstSkew()
    Similarity.reclusterIvfState(s, state)
    val (_, heavyAfter) = worstSkew()
    Similarity.ivfTopKFromState(s, state, emb.filter(col("vec_id") < 10),
        topK = 5, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cos"), 4).as("cos_sim"))
      .withColumn("drift_flagged_before", lit(flaggedBefore))
      .withColumn("max_heavy_after", lit(heavyAfter))
      .orderBy("query_id", "rank")
  }

  /** x123 — corpus-LIFECYCLE capstone over the state pillars: the full
    * append → delete → compact → query cycle for the three result-bearing
    * states in ONE gated plan (the x45/x68 capstone pattern applied to
    * state maintenance — this is the regression net for every future
    * state-layer change). Each pillar appends two tagged batches,
    * deletes a slice (the shape the engine's own curation produces),
    * COMPACTS (tombstones applied physically, layouts preserved), and
    * answers its canonical query — which must hash-match a from-scratch
    * derivation over the SURVIVORS:
    *
    *  - postings → BM25 top-10 (the x115 contract, now through
    *    compaction as well);
    *  - IVF → probed top-5 retrieval (the x119 contract + compaction);
    *  - stats → exact per-source doc/token counts over survivors.
    *
    * All three sections fold into one (pillar, k1, k2, v) relation with
    * doubles quantized to exact 1e-4 integers (floor(round4·1e4 + 0.5) of
    * engine-identical rounded doubles), so the union is one long-typed
    * hash-stable column. */
  def x123(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    val root = java.nio.file.Files
      .createTempDirectory("graft_x123_state").toFile.getAbsolutePath
    val q4 = (c: org.apache.spark.sql.Column) =>
      floor(round(c, 4) * 10000 + lit(0.5)).cast("long")

    val ps = s"$root/postings"
    val vs = s"$root/ivf"
    val ss = s"$root/stats"
    // the three pillar lifecycles touch DISJOINT state dirs (each append/
    // delete/compact holds only its own dir's lease) — overlap the chains
    // (guide §2.6); within a pillar the order stays append→delete→compact
    StateIO.runOverlapped(Seq(
      () => {
        Index.appendPostingsState(docs.filter(col("doc_id") < 250), ps,
          "doc_id", "text", batchTag = Some(1L))
        Index.appendPostingsState(docs.filter(col("doc_id") >= 250), ps,
          "doc_id", "text", batchTag = Some(2L))
        Index.deleteFromPostingsState(s, ps,
          docs.filter(pmod(col("doc_id"), lit(7)) === 3)
            .select(col("doc_id")),
          "doc_id", deleteTag = Some(1L))
        Index.compactPostingsState(s, ps)
      },
      () => {
        Similarity.appendIvfState(emb.filter(col("vec_id") < 250), vs,
          k = 8, iters = 2, batchTag = Some(1L))
        Similarity.appendIvfState(emb.filter(col("vec_id") >= 250), vs,
          k = 8, iters = 2, batchTag = Some(2L))
        Similarity.deleteFromIvfState(s, vs,
          emb.filter(pmod(col("vec_id"), lit(5)) === 2)
            .select(col("vec_id")),
          "vec_id", deleteTag = Some(1L))
        Similarity.compactIvfState(s, vs)
      },
      () => {
        Profile.appendStatsState(docs.filter(col("doc_id") < 250), ss,
          "text", "source", Some(1L))
        Profile.appendStatsState(docs.filter(col("doc_id") >= 250), ss,
          "text", "source", Some(2L))
        Profile.deleteFromStatsState(
          docs.filter(pmod(col("doc_id"), lit(7)) === 3), ss,
          "text", "source", Some(1L))
        Profile.compactStatsState(s, ss)
      }))
    val bm = Index.bm25TopKFromState(s, ps, Seq("dup", "vector", "window"),
        k = 10, idCol = "doc_id")
      .select(lit("bm25_score").as("pillar"),
        col("doc_id").cast("string").as("k1"),
        col("rank").cast("string").as("k2"), q4(col("score")).as("v"))
    val ann = Dedup.materialize(Similarity.ivfTopKFromState(s, vs,
      emb.filter(col("vec_id") < 10), topK = 5, nProbe = 2))
    val annRank = ann.select(lit("ann_rank").as("pillar"),
      col("query_id").cast("string").as("k1"),
      col("rank").cast("string").as("k2"),
      col("neighbor_id").cast("long").as("v"))
    val annCos = ann.select(lit("ann_cos").as("pillar"),
      col("query_id").cast("string").as("k1"),
      col("rank").cast("string").as("k2"), q4(col("cos")).as("v"))
    val st = Dedup.materialize(Profile.statsReport(s, ss))
    val stDocs = st.select(lit("stats_docs").as("pillar"),
      col("grp").as("k1"), lit("").as("k2"), col("n_docs").as("v"))
    val stToks = st.select(lit("stats_tokens").as("pillar"),
      col("grp").as("k1"), lit("").as("k2"), col("tokens").as("v"))

    bm.unionByName(annRank).unionByName(annCos)
      .unionByName(stDocs).unionByName(stToks)
      .orderBy("pillar", "k1", "k2")
  }

  /** x124 — temperature-sampled mix assembly from PERSISTED TOKENIZER
    * STATE ([[Bpe.temperatureSampleFromState]]): x111's full recipe step
    * (α-flattened shares → per-source budgets → deterministic hash-order
    * fill) with BOTH corpus passes replaced by a sidecar read — x111
    * tokenizes the corpus twice (share aggregation + fill); here the
    * (id, bpe_tokens) sidecar joins the source map once and shares/fill
    * read the narrow joined frame. Budgets are denominated in TOKENIZER
    * tokens (the x117/x121 unit): merges froze on the first batch, the
    * second encoded incrementally. The oracle replays the frozen-
    * tokenizer encode and the naive per-source running window over the
    * encoded counts. */
  def x124(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x124_state").toFile.getAbsolutePath
    Bpe.appendTokenizerState(docs.filter(col("doc_id") < 250), state,
      "doc_id", "text", numMerges = 4, batchTag = Some(1L))
    Bpe.appendTokenizerState(docs.filter(col("doc_id") >= 250), state,
      "doc_id", "text", numMerges = 4, batchTag = Some(2L))
    Bpe.temperatureSampleFromState(s, state,
        docs.select(col("doc_id"), col("source")), "doc_id", "source",
        totalTokens = 5000L)
      .orderBy("source", "cum_tokens")
  }

  /** x125 — TIME-TRAVEL (as-of) reads of the postings state
    * ([[Index.bm25TopKFromStateAsOf]]): the tagged `batch_id=N` /
    * `delete_id=N` partitions every append and delete already lands in
    * for replay idempotency double as a full VERSION HISTORY — any past
    * state is a pure partition-pruned cut (`batch_id <= B`,
    * `delete_id <= D`), no rebuild, no extra storage. Three snapshots
    * of the x115 lifecycle answer the same BM25 top-10 under a snapshot
    * label: batch 1 only ("what did the index say last week?"), both
    * batches pre-delete, and both batches + delete 1 — which IS the
    * current state (spec-pinned equal to [[Index.bm25TopKFromState]]).
    * The oracle re-derives each snapshot from the corresponding corpus
    * slice — as-of correctness means a snapshot equals a from-scratch
    * index of exactly the documents that were live then. */
  def x125(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x125_state").toFile.getAbsolutePath
    Index.appendPostingsState(docs.filter(col("doc_id") < 250),
      state, "doc_id", "text", batchTag = Some(1L))
    Index.appendPostingsState(docs.filter(col("doc_id") >= 250),
      state, "doc_id", "text", batchTag = Some(2L))
    Index.deleteFromPostingsState(s, state,
      docs.filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    def snap(label: String, asOfBatch: Long, asOfDelete: Long) =
      Index.bm25TopKFromStateAsOf(s, state, Seq("dup", "vector", "window"),
          k = 10, asOfBatch = asOfBatch, asOfDelete = asOfDelete,
          idCol = "doc_id")
        .select(lit(label).as("snapshot"), col("doc_id"),
          round(col("score"), 4).as("score"), col("rank"))
    snap("t1_batch1", 1L, 0L)
      .unionByName(snap("t2_batch2", 2L, 0L))
      .unionByName(snap("t3_deleted", 2L, 1L))
      .orderBy("snapshot", "rank")
  }

  /** x126 — HYBRID retrieval entirely from persisted state
    * ([[Index.hybridTopKFromState]]): the production RAG query path
    * once a corpus lives in the state pillars — the lexical leg answers
    * from term-bucket-pruned postings ([[Index.bm25TopKFromState]],
    * corpus text never touched), the vector leg from probed IVF cells
    * ([[Similarity.ivfTopKFromState]], embeddings never scanned), and
    * reciprocal-rank fusion combines the two top-20 lists (x54's
    * combiner, both legs now O(query) state reads instead of corpus
    * scans). The oracle re-derives the BM25 ranking, the k-means train
    * + probe chain, and the fused sum in the engine's fixed
    * lex-then-vec addition order. */
  def x126(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    val root = java.nio.file.Files
      .createTempDirectory("graft_x126_state").toFile.getAbsolutePath
    val ps = s"$root/postings"
    val vs = s"$root/ivf"
    Index.appendPostingsState(docs, ps, "doc_id", "text",
      batchTag = Some(1L))
    Similarity.appendIvfState(emb, vs, k = 8, iters = 2,
      batchTag = Some(1L))
    Index.hybridTopKFromState(s, ps, vs, Seq("dup", "vector", "window"),
        emb.filter(col("vec_id") === 0), k = 10, perLegK = 20, nProbe = 2,
        idCol = "doc_id")
      .select(col("doc_id"), round(col("rrf"), 6).as("rrf"), col("rank"))
      .orderBy("rank")
  }

  /** x127 — CRASH-RECOVERY of the recluster swap
    * (`StatePillar.Ivf.recover`): [[Similarity.reclusterIvfState]]
    * moves centroids + cells under ONE commit point
    * ([[graft.ext.StateIO.swapInTables]] — stage both, publish the
    * `_swap_commit` marker with one atomic rename, then apply), so a
    * crash can no longer pair new centroids with old-geometry cells
    * (the round-13 ADVICE window). This gate INJECTS that exact crash —
    * after the centroids rename, before the cells rename — via the
    * fault hook, proves the marker blocks reads (`reads_blocked`,
    * engine-observed, oracle-pinned TRUE), rolls forward
    * (`rolled_forward`), and then retrieval must hash-match a
    * from-scratch k-means chain over the full corpus — the same answer
    * an UNcrashed recluster produces, which is the whole contract:
    * crash at any point ⇒ full old fit or full new fit, never a mix. */
  def x127(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x127_state").toFile.getAbsolutePath
    Similarity.appendIvfState(emb.filter(col("vec_id") < 250), state,
      k = 8, iters = 2, batchTag = Some(1L))
    Similarity.appendIvfState(emb.filter(col("vec_id") >= 250), state,
      k = 8, iters = 2, batchTag = Some(2L))
    val crashed =
      try { Similarity.reclusterIvfState(s, state, crashAfterApplied = 1); false }
      catch { case _: StateIO.InjectedCrash => true }
    val probes = emb.filter(col("vec_id") < 10)
    val blocked =
      try {
        Similarity.ivfTopKFromState(s, state, probes, topK = 5, nProbe = 2)
          .head(1); false
      } catch {
        case e: IllegalArgumentException
            if e.getMessage.contains("recover") => true
      }
    val recovered = StatePillar.Ivf.recover(s, state)
    Similarity.ivfTopKFromState(s, state, probes, topK = 5, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cos"), 4).as("cos_sim"))
      .withColumn("crash_injected", lit(crashed))
      .withColumn("reads_blocked", lit(blocked))
      .withColumn("rolled_forward", lit(recovered))
      .orderBy("query_id", "rank")
  }

  /** x128 — CROSS-PILLAR consistency audit
    * ([[graft.ext.StateAudit.crossPillarConsistency]]): the same corpus
    * lives in several state pillars at once and curation deletes must
    * land in ALL of them — but nothing couples the per-pillar writes,
    * so an orchestrator crash or a never-wired pillar leaves the states
    * silently disagreeing about which documents exist (each pillar
    * still answers correctly for its OWN corpus — budgets computed over
    * documents retrieval already dropped). The fixture plants exactly
    * that failure: delete slice A lands in all three doc-id pillars
    * (LSH, postings, tokenizer), slice B lands in postings ONLY; the
    * audit must surface precisely the B-survivors as
    * (in_lsh, ¬in_postings, in_tokenizer) rows and nothing else. Live
    * sets are each pillar's own read-side derivation (sidecar/members
    * minus tombstones), compared by a narrow id-only full-outer join —
    * output bounded by the divergence, not the corpus. */
  def x128(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val root = java.nio.file.Files
      .createTempDirectory("graft_x128_state").toFile.getAbsolutePath
    val (ls, ps, ts) = (s"$root/lsh", s"$root/postings", s"$root/tokenizer")
    val b1 = docs.filter(col("doc_id") < 250)
    val b2 = docs.filter(col("doc_id") >= 250)
    val sliceA = docs.filter(pmod(col("doc_id"), lit(7)) === 3)
      .select(col("doc_id"))
    val sliceB = docs.filter(pmod(col("doc_id"), lit(11)) === 5)
      .select(col("doc_id"))
    // three independent pillar dirs — each pillar's append→append→delete
    // chain overlaps with the others (guide §2.6); order stays
    // sequential WITHIN a pillar (the planted sliceB delete lands after
    // postings' own chain, exactly as before)
    StateIO.runOverlapped(Seq(
      () => {
        Dedup.appendLshState(b1, "doc_id", "text", ls, batchTag = Some(1L))
        Dedup.appendLshState(b2, "doc_id", "text", ls, batchTag = Some(2L))
        Dedup.deleteFromLshState(s, ls, sliceA, "doc_id",
          deleteTag = Some(1L))
      },
      () => {
        Index.appendPostingsState(b1, ps, "doc_id", "text",
          batchTag = Some(1L))
        Index.appendPostingsState(b2, ps, "doc_id", "text",
          batchTag = Some(2L))
        Index.deleteFromPostingsState(s, ps, sliceA, "doc_id",
          deleteTag = Some(1L))
        // the planted partial failure: slice B reaches postings only
        Index.deleteFromPostingsState(s, ps, sliceB, "doc_id",
          deleteTag = Some(2L))
      },
      () => {
        Bpe.appendTokenizerState(b1, ts, "doc_id", "text", numMerges = 4,
          batchTag = Some(1L))
        Bpe.appendTokenizerState(b2, ts, "doc_id", "text", numMerges = 4,
          batchTag = Some(2L))
        Bpe.deleteFromTokenizerState(s, ts, sliceA, "doc_id",
          deleteTag = Some(1L))
      }))
    StateAudit.crossPillarConsistency(Seq(
        "lsh" -> StateAudit.lshLiveIds(s, ls),
        "postings" -> StateAudit.postingsLiveIds(s, ps),
        "tokenizer" -> StateAudit.tokenizerLiveIds(s, ts)))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** x129 — TIME-TRAVEL retrieval from the IVF state
    * ([[Similarity.ivfTopKFromStateAsOf]]): x125's as-of contract on
    * the vector pillar. Valid precisely BECAUSE the geometry freezes on
    * the first batch — every appended vector was assigned to the same
    * centroids, so any prefix of the tagged history probes exactly as
    * it did then (a per-batch-retraining index has no replayable past).
    * Three snapshots of the x119 lifecycle — batch 1 only, both batches
    * pre-delete, both + delete 1 (= the current state) — each of which
    * the oracle re-derives as the frozen-centroid chain over that
    * version's corpus cut. */
  def x129(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x129_state").toFile.getAbsolutePath
    Similarity.appendIvfState(emb.filter(col("vec_id") < 250), state,
      k = 8, iters = 2, batchTag = Some(1L))
    Similarity.appendIvfState(emb.filter(col("vec_id") >= 250), state,
      k = 8, iters = 2, batchTag = Some(2L))
    Similarity.deleteFromIvfState(s, state,
      emb.filter(pmod(col("vec_id"), lit(5)) === 2).select(col("vec_id")),
      "vec_id", deleteTag = Some(1L))
    val probes = emb.filter(col("vec_id") < 10)
    def snap(label: String, asOfBatch: Long, asOfDelete: Long) =
      Similarity.ivfTopKFromStateAsOf(s, state, probes, topK = 5,
          asOfBatch = asOfBatch, asOfDelete = asOfDelete, nProbe = 2)
        .select(lit(label).as("snapshot"), col("query_id"),
          col("neighbor_id"), col("rank").cast("long").as("rank"),
          round(col("cos"), 4).as("cos_sim"))
    snap("t1_batch1", 1L, 0L)
      .unionByName(snap("t2_batch2", 2L, 0L))
      .unionByName(snap("t3_deleted", 2L, 1L))
      .orderBy("snapshot", "query_id", "rank")
  }

  /** x130 — TIME-TRAVEL fold of the stats state
    * ([[Profile.statsReportAsOf]]): the as-of contract on the
    * accounting pillar. Every stats row is a pure per-(source, batch)
    * increment — counts sum, HLL sketches union — so any tagged prefix
    * folds exactly as it did then: exact doc/token counts at each
    * version, and a distinct estimate over the content APPENDED up to
    * that batch, gated as a bound (the x59/x109 sketch discipline, per
    * snapshot). The oracle re-derives each version's counts from the
    * corpus slices and pins the bound booleans TRUE. */
  def x130(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x130_state").toFile.getAbsolutePath
    Profile.appendStatsState(docs.filter(col("doc_id") < 250),
      state, "text", "source", Some(1L))
    Profile.appendStatsState(docs.filter(col("doc_id") >= 250),
      state, "text", "source", Some(2L))
    Profile.deleteFromStatsState(
      docs.filter(pmod(col("doc_id"), lit(7)) === 3),
      state, "text", "source", Some(1L))
    def snap(label: String, asOfBatch: Long, asOfDelete: Long,
        appendedSlice: org.apache.spark.sql.Column) = {
      val exact = docs.filter(appendedSlice).groupBy(col("source"))
        .agg(count_distinct(md5(col("text"))).as("n_unique_appended"))
      Profile.statsReportAsOf(s, state, asOfBatch, asOfDelete)
        .withColumnRenamed("grp", "source")
        .join(exact, "source")
        .select(lit(label).as("snapshot"), col("source"), col("n_docs"),
          col("tokens"), col("n_unique_appended"),
          (abs(col("distinct_est").cast("double") -
              col("n_unique_appended").cast("double")) <=
            col("n_unique_appended").cast("double") * 0.05 + lit(1.0))
            .as("est_within_bound"))
    }
    snap("t1_batch1", 1L, 0L, col("doc_id") < 250)
      .unionByName(snap("t2_batch2", 2L, 0L, lit(true)))
      .unionByName(snap("t3_deleted", 2L, 1L, lit(true)))
      .orderBy("snapshot", "source")
  }

  /** x131 — TIME-TRAVEL budget selection from the tokenizer state
    * ([[Bpe.tokenBudgetFromStateAsOf]]): the as-of contract on the
    * fifth pillar. Valid because the merges FROZE on batch 1 — every
    * version's persisted counts are in the same unit, so "which
    * documents made the training cut before yesterday's delete?"
    * replays exactly from the sidecar cut, no retraining, no re-encode.
    * Three snapshots of the x121 lifecycle; the oracle replays the
    * frozen-tokenizer encode once and runs the naive budget window over
    * each version's live documents. */
  def x131(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x131_state").toFile.getAbsolutePath
    Bpe.appendTokenizerState(docs.filter(col("doc_id") < 250), state,
      "doc_id", "text", numMerges = 4, batchTag = Some(1L))
    Bpe.appendTokenizerState(docs.filter(col("doc_id") >= 250), state,
      "doc_id", "text", numMerges = 4, batchTag = Some(2L))
    Bpe.deleteFromTokenizerState(s, state,
      docs.filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    val quality = docs
      .select((col("doc_id") +: TextAnalysis.qualityColumns(col("text"))): _*)
      .select(col("doc_id"), col("quality_score"))
    def snap(label: String, asOfBatch: Long, asOfDelete: Long) =
      Bpe.tokenBudgetFromStateAsOf(s, state, quality, "doc_id",
          "quality_score", budget = 20000L, asOfBatch = asOfBatch,
          asOfDelete = asOfDelete)
        .select(lit(label).as("snapshot"), col("doc_id"),
          col("quality_score"), col("bpe_tokens"), col("cum_tokens"))
    snap("t1_batch1", 1L, 0L)
      .unionByName(snap("t2_batch2", 2L, 0L))
      .unionByName(snap("t3_deleted", 2L, 1L))
      .orderBy("snapshot", "doc_id")
  }

  /** x132 — TIME-TRAVEL near-dup gate from the LSH state
    * ([[Dedup.incrementalLshPairsFromState]] `asOf`): the as-of
    * contract on the fifth and last tagged pillar — "would this batch
    * have been accepted against LAST WEEK's corpus?" is the audit
    * question every retroactive curation decision needs, and the tagged
    * bands/reps/members partitions answer it as a pure cut (a batch-2
    * doc byte-equal to a batch-1 group added only a members row in its
    * own partition, so the prefix cut restores the earlier membership
    * exactly). The same arriving batch is checked against three
    * versions — batch 1 only, both batches, both + delete 1 (= the
    * current state) — and each snapshot's pairs must equal the direct
    * doc-pair derivation over that version's corpus (the x40/x89 oracle
    * with the version's cut as a pair filter). */
  def x132(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x132_state").toFile.getAbsolutePath
    Dedup.appendLshState(docs.filter(col("doc_id") < 200), "doc_id", "text",
      state, batchTag = Some(1L))
    Dedup.appendLshState(
      docs.filter(col("doc_id") >= 200 && col("doc_id") < 400),
      "doc_id", "text", state, batchTag = Some(2L))
    Dedup.deleteFromLshState(s, state,
      docs.filter(col("doc_id") < 400 && pmod(col("doc_id"), lit(3)) === 1)
        .select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    val batch = docs.filter(col("doc_id") >= 400)
    def snap(label: String, asOfBatch: Long, asOfDelete: Long) =
      Dedup.incrementalLshPairsFromState(state, batch, "doc_id", "text",
          asOf = Some((asOfBatch, asOfDelete)))
        .select(lit(label).as("snapshot"), col("new_id"), col("old_id"),
          round(col("jaccard"), 4).as("jaccard"))
    snap("t1_batch1", 1L, 0L)
      .unionByName(snap("t2_batch2", 2L, 0L))
      .unionByName(snap("t3_deleted", 2L, 1L))
      .orderBy("snapshot", "new_id", "old_id")
  }

  /** x133 — COORDINATED cross-pillar delete
    * ([[graft.ext.StateAudit.deleteEverywhere]]): the operator that
    * CLOSES the failure class x128 detects (the audit found divergence;
    * nothing could repair it). One call lands a curation delete in the
    * LSH, postings, and tokenizer pillars under ONE shared delete tag.
    * There is no cross-directory commit point on a filesystem, so the
    * contract is IDEMPOTENCE, not atomicity: every per-pillar delete is
    * a tagged partition overwrite, so re-running the same call with the
    * same tag completes a crashed delete (finished pillars overwrite
    * identically, missed pillars apply). The gate INJECTS a crash after
    * pillar 1 — slice B reaches LSH only — and must observe (a) the
    * audit surfacing exactly the B-survivors as
    * (¬in_lsh, in_postings, in_tokenizer) rows, and (b) the REPLAYED
    * call with the same tag emptying the audit. The oracle derives the
    * partial-phase divergence in set algebra; the repaired phase
    * contributes zero rows, so the row count itself pins the repair. */
  def x133(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
    val root = java.nio.file.Files
      .createTempDirectory("graft_x133_state").toFile.getAbsolutePath
    val (ls, ps, ts) = (s"$root/lsh", s"$root/postings", s"$root/tokenizer")
    val b1 = docs.filter(col("doc_id") < 150)
    val b2 = docs.filter(col("doc_id") >= 150)
    // three independent pillar dirs — the per-pillar append chains
    // overlap (guide §2.6); batch order stays sequential WITHIN a pillar
    StateIO.runOverlapped(Seq(
      () => {
        Dedup.appendLshState(b1, "doc_id", "text", ls, batchTag = Some(1L))
        Dedup.appendLshState(b2, "doc_id", "text", ls, batchTag = Some(2L))
      },
      () => {
        Index.appendPostingsState(b1, ps, "doc_id", "text",
          batchTag = Some(1L))
        Index.appendPostingsState(b2, ps, "doc_id", "text",
          batchTag = Some(2L))
      },
      () => {
        Bpe.appendTokenizerState(b1, ts, "doc_id", "text", numMerges = 4,
          batchTag = Some(1L))
        Bpe.appendTokenizerState(b2, ts, "doc_id", "text", numMerges = 4,
          batchTag = Some(2L))
      }))
    val sliceA = docs.filter(pmod(col("doc_id"), lit(7)) === 3)
    val sliceB = docs.filter(pmod(col("doc_id"), lit(9)) === 4)
    def deleteAll(slice: DataFrame, tag: Long, crashAfter: Int = -1): Unit =
      StateAudit.deleteEverywhere(s, slice, "doc_id", "text", "source",
        ls, ps, ts, deleteTag = tag, crashAfterPillars = crashAfter)
    deleteAll(sliceA, tag = 1L)
    val crashed =
      try { deleteAll(sliceB, tag = 2L, crashAfter = 1); false }
      catch { case _: StateIO.InjectedCrash => true }
    def audit() = StateAudit.crossPillarConsistency(Seq(
      "lsh" -> StateAudit.lshLiveIds(s, ls),
      "postings" -> StateAudit.postingsLiveIds(s, ps),
      "tokenizer" -> StateAudit.tokenizerLiveIds(s, ts)))
    // materialized BEFORE the replay: the replay overwrites the very
    // delete_id=2 partitions this audit's lazy plan reads
    val partial = Dedup.materialize(
      audit().withColumn("phase", lit("partial")))
    deleteAll(sliceB, tag = 2L) // the replay — same call, same tag
    val repaired = audit().withColumn("phase", lit("repaired"))
    partial.unionByName(repaired)
      .select(col("phase"), col("id").as("doc_id"), col("in_lsh"),
        col("in_postings"), col("in_tokenizer"))
      .withColumn("crash_injected", lit(crashed))
      .orderBy("phase", "doc_id")
  }

  /** x134 — HISTORY-RETENTION GC for the postings state
    * (`StatePillar.Postings.truncate`): the operator that BOUNDS what
    * time-travel (x125) keeps. The tagged partitions are a full version
    * history — at production cadence, thousands of tiny `batch_id=N`
    * dirs per year and an unbounded promise that every version stays
    * answerable. Truncation collapses everything at or below a floor
    * into ONE base version (sub-floor tombstones applied physically,
    * totals folded into one exact row, the bucket pruning level
    * preserved), publishes the `_history_floor` marker FIRST (a crash
    * before the table swap refuses conservatively, never answers from a
    * half-collapsed cut), then moves all five tables under ONE
    * [[graft.ext.StateIO.swapInTables]] commit point. The gate pins
    * the retention contract from both sides: the two surviving
    * snapshots (the floor version and the current version) hash-match
    * from-scratch derivations of their corpus slices AFTER the GC, and
    * the three refusals — sub-floor as-of, replayed sub-floor append,
    * at-floor delete — are engine-observed and oracle-pinned TRUE. */
  def x134(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x134_state").toFile.getAbsolutePath
    val b1 = docs.filter(col("doc_id") < 150)
    Index.appendPostingsState(b1, state, "doc_id", "text",
      batchTag = Some(1L))
    Index.appendPostingsState(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300),
      state, "doc_id", "text", batchTag = Some(2L))
    Index.appendPostingsState(docs.filter(col("doc_id") >= 300),
      state, "doc_id", "text", batchTag = Some(3L))
    Index.deleteFromPostingsState(s, state,
      docs.filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    StatePillar.Postings.truncate(s, state, floor = 2L)
    def refused(f: => Unit): Boolean =
      try { f; false }
      catch {
        case e: IllegalArgumentException
            if e.getMessage.contains("floor") => true
      }
    val refusedAsOf = refused(
      Index.bm25TopKFromStateAsOf(s, state, Seq("dup"), k = 10,
        asOfBatch = 1L, asOfDelete = 2L, idCol = "doc_id").head(1))
    val refusedAppend = refused(
      Index.appendPostingsState(b1, state, "doc_id", "text",
        batchTag = Some(1L)))
    val refusedDelete = refused(
      Index.deleteFromPostingsState(s, state,
        docs.filter(col("doc_id") === 0).select(col("doc_id")),
        "doc_id", deleteTag = Some(2L)))
    def snap(label: String, asOfBatch: Long, asOfDelete: Long) =
      Index.bm25TopKFromStateAsOf(s, state, Seq("dup", "vector", "window"),
          k = 10, asOfBatch = asOfBatch, asOfDelete = asOfDelete,
          idCol = "doc_id")
        .select(lit(label).as("snapshot"), col("doc_id"),
          round(col("score"), 4).as("score"), col("rank"))
    snap("t_floor", 2L, 2L)
      .unionByName(snap("t_current", 3L, 2L))
      .withColumn("refused_sub_floor_asof", lit(refusedAsOf))
      .withColumn("refused_old_append", lit(refusedAppend))
      .withColumn("refused_old_delete", lit(refusedDelete))
      .orderBy("snapshot", "rank")
  }

  /** x135 — VERSION DIFF over a state's tagged history
    * ([[graft.ext.StateAudit.snapshotDiff]]): "what did last night's
    * pipeline do to the corpus?" answered from the same partition
    * history the as-of reads cut — live-id sets at two versions
    * ([[graft.ext.StateAudit.postingsLiveIdsAsOf]]), full-outer-joined,
    * one row per document live in exactly one. Two steps of the x125
    * lifecycle: appending batch 2 must diff as exactly the batch-2 ids
    * 'added', and delete 1 as exactly the tombstoned ids 'removed' —
    * nothing else (the hash pins both the membership and the absence of
    * phantom rows). Narrow by construction: single-column id cuts,
    * output bounded by the delta, not the corpus. */
  def x135(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x135_state").toFile.getAbsolutePath
    Index.appendPostingsState(docs.filter(col("doc_id") < 250),
      state, "doc_id", "text", batchTag = Some(1L))
    Index.appendPostingsState(docs.filter(col("doc_id") >= 250),
      state, "doc_id", "text", batchTag = Some(2L))
    Index.deleteFromPostingsState(s, state,
      docs.filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    def v(asOfBatch: Long, asOfDelete: Long) =
      StateAudit.postingsLiveIdsAsOf(s, state, asOfBatch, asOfDelete)
    StateAudit.snapshotDiff(v(1L, 0L), v(2L, 0L))
      .withColumn("step", lit("s1_append_b2"))
      .unionByName(StateAudit.snapshotDiff(v(2L, 0L), v(2L, 1L))
        .withColumn("step", lit("s2_delete")))
      .select(col("step"), col("id").as("doc_id"), col("change"))
      .orderBy("step", "doc_id")
  }

  /** x136 — MMR-DIVERSIFIED retrieval from the persisted IVF state
    * ([[Similarity.mmrTopKFromState]], Carbonell & Goldstein SIGIR'98):
    * each pick maximizes `λ·rel − (1−λ)·max sim-to-selected`, so a
    * result list that would otherwise fill with near-duplicates of the
    * best hit spreads across distinct neighborhoods — the query-side
    * complement of the dedup pillar. Two-stage scale shape: candidates
    * are the PROBED state read (nProbe cells of a persisted assignment,
    * corpus never scanned), then a driver-side greedy re-rank of the
    * query-bounded pool (sequential in k by nature — every pick changes
    * every remaining penalty). The oracle UNROLLS all five greedy steps
    * in SQL — candidate pool from the k-means probe chain, pairwise
    * sims, per-step anti-join + argmax with the engine's exact
    * arithmetic (`(1.0 - λ)` as a subtraction, scores quantized to
    * integer 1e-4 units) — so selection order, membership, AND scores
    * all hash-match. */
  def x136(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x136_state").toFile.getAbsolutePath
    Similarity.appendIvfState(emb, state, k = 8, iters = 2,
      batchTag = Some(1L))
    Similarity.mmrTopKFromState(s, state,
        emb.filter(col("vec_id") < 5), k = 5, lambda = 0.7,
        candK = 20, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"),
        floor(col("mmr") * lit(1e4) + lit(0.5)).cast("long").as("mmr_q"),
        col("rank"))
      .orderBy("query_id", "rank")
  }

  /** x137 — CAP-CONSTRAINED temperature mix
    * ([[Sampling.cappedTemperatureMix]], water-filling): the guardrail
    * x104's shares need before they become a recipe — temperature
    * flattening hands the smallest sources multi-× up-weights (epochs
    * over the same few documents), so each final share is capped at
    * 1.5× its natural share and the excess redistributes
    * proportionally among uncapped sources, iterating because the
    * redistribution can push ANOTHER source over its cap. Every step
    * after x104's one quantization is exact integer arithmetic (ppm
    * units, floor division), so the fixpoint hash-matches an oracle
    * that unrolls the rounds with identical HUGEINT ops — capped
    * membership, caps, and final shares all pinned. */
  def x137(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Sampling.cappedTemperatureMix(docs, "text", "source",
        maxUpMilli = 1500L)
      .orderBy("source")
  }

  /** x138 — PHRASE SEARCH from the persisted positional sidecar
    * ([[Index.phraseSearchFromState]]): the promise in x98's scale note
    * kept — "at 100 TB you persist the posting tables and point this
    * relation at them". `appendPostingsState(positions = true)` lands a
    * term-bucketed (id, pos, term) sidecar next to the postings, and
    * the phrase query reads ONLY its terms' buckets (partition-pruned
    * like BM25), anti-joins tombstones, and runs the same
    * (doc, start)-intersection tail as the batch path. Because the
    * sidecar lands in the same tagged partitions, phrase search
    * time-travels for free — the gate unions the current answer
    * (survivors of the delete) with the batch-1 snapshot, each
    * hash-matching x98's oracle over that version's corpus slice. */
  def x138(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x138_state").toFile.getAbsolutePath
    Index.appendPostingsState(docs.filter(col("doc_id") < 250), state,
      "doc_id", "text", batchTag = Some(1L), positions = true)
    Index.appendPostingsState(docs.filter(col("doc_id") >= 250), state,
      "doc_id", "text", batchTag = Some(2L), positions = true)
    Index.deleteFromPostingsState(s, state,
      docs.filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    val phrase = Seq("key", "agg")
    Index.phraseSearchFromStateAsOf(s, state, phrase, asOfBatch = 1L,
        asOfDelete = 0L, idCol = "doc_id")
      .select(lit("t1_batch1").as("snapshot"), col("doc_id"),
        col("n_occurrences"), col("first_pos"))
      .unionByName(
        Index.phraseSearchFromState(s, state, phrase, idCol = "doc_id")
          .select(lit("t2_current").as("snapshot"), col("doc_id"),
            col("n_occurrences"), col("first_pos")))
      .orderBy("snapshot", "doc_id")
  }

  /** True iff `f` throws the history-floor refusal — the truncation
    * gates (x134, x139–x142) pin each pillar's three refusals
    * (sub-floor as-of, replayed sub-floor append, at-floor delete) as
    * engine-observed, oracle-pinned booleans. */
  private def floorRefused(f: => Unit): Boolean =
    try { f; false }
    catch {
      case e: IllegalArgumentException if e.getMessage.contains("floor") =>
        true
    }

  /** x139 — HISTORY-RETENTION GC for the LSH state
    * (`StatePillar.Lsh.truncate`): x134's retention contract on the
    * text-dedup pillar, via the shared
    * [[graft.ext.StateIO.truncateHistory]] core. Pure tag collapse —
    * every reps/bands/members row at or below the floor re-tags to the
    * base version (content byte-preserved; group liveness is
    * deliberately NOT re-derived — that stays [[Dedup.compactLshState]]'s
    * job), collapsed tombstones keep subtracting at read time — so the
    * two SURVIVING snapshots of the incremental near-dup gate (floor
    * version and current version, checked with the same arriving batch)
    * hash-match the direct doc-pair derivation over their corpus cuts,
    * and the three sub-floor refusals are engine-observed, pinned TRUE. */
  def x139(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x139_state").toFile.getAbsolutePath
    val b1 = docs.filter(col("doc_id") < 150)
    Dedup.appendLshState(b1, "doc_id", "text", state, batchTag = Some(1L))
    Dedup.appendLshState(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300),
      "doc_id", "text", state, batchTag = Some(2L))
    Dedup.appendLshState(
      docs.filter(col("doc_id") >= 300 && col("doc_id") < 450),
      "doc_id", "text", state, batchTag = Some(3L))
    Dedup.deleteFromLshState(s, state,
      docs.filter(col("doc_id") < 450 && pmod(col("doc_id"), lit(3)) === 1)
        .select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    StatePillar.Lsh.truncate(s, state, floor = 2L)
    val batch = docs.filter(col("doc_id") >= 450)
    val refusedAsOf = floorRefused(
      Dedup.incrementalLshPairsFromState(state, batch, "doc_id", "text",
        asOf = Some((1L, 2L))).head(1))
    val refusedAppend = floorRefused(
      Dedup.appendLshState(b1, "doc_id", "text", state,
        batchTag = Some(1L)))
    val refusedDelete = floorRefused(
      Dedup.deleteFromLshState(s, state,
        docs.filter(col("doc_id") === 0).select(col("doc_id")), "doc_id",
        deleteTag = Some(2L)))
    def snap(label: String, asOfBatch: Long, asOfDelete: Long) =
      Dedup.incrementalLshPairsFromState(state, batch, "doc_id", "text",
          asOf = Some((asOfBatch, asOfDelete)))
        .select(lit(label).as("snapshot"), col("new_id"), col("old_id"),
          round(col("jaccard"), 4).as("jaccard"))
    snap("t_floor", 2L, 2L)
      .unionByName(snap("t_current", 3L, 2L))
      .withColumn("refused_sub_floor_asof", lit(refusedAsOf))
      .withColumn("refused_old_append", lit(refusedAppend))
      .withColumn("refused_old_delete", lit(refusedDelete))
      .orderBy("snapshot", "new_id", "old_id")
  }

  /** x140 — HISTORY-RETENTION GC for the IVF state
    * (`StatePillar.Ivf.truncate`): the retention contract on the
    * vector pillar. The geometry FROZE on batch 1, so the collapse is a
    * pure partition move — every cell row at or below the floor was
    * assigned against the same centroids it still probes under — and
    * the two surviving as-of probe snapshots hash-match the
    * frozen-centroid chain over their corpus cuts (the x129 oracle with
    * the floor/current version cut). Frozen `centroids` are untouched
    * but still remnant-guarded; the three sub-floor refusals pin TRUE. */
  def x140(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x140_state").toFile.getAbsolutePath
    val b1 = emb.filter(col("vec_id") < 250)
    Similarity.appendIvfState(b1, state, k = 8, iters = 2,
      batchTag = Some(1L))
    Similarity.appendIvfState(
      emb.filter(col("vec_id") >= 250 && col("vec_id") < 375), state,
      k = 8, iters = 2, batchTag = Some(2L))
    Similarity.appendIvfState(emb.filter(col("vec_id") >= 375), state,
      k = 8, iters = 2, batchTag = Some(3L))
    Similarity.deleteFromIvfState(s, state,
      emb.filter(pmod(col("vec_id"), lit(5)) === 2).select(col("vec_id")),
      "vec_id", deleteTag = Some(1L))
    StatePillar.Ivf.truncate(s, state, floor = 2L)
    val probes = emb.filter(col("vec_id") < 10)
    val refusedAsOf = floorRefused(
      Similarity.ivfTopKFromStateAsOf(s, state, probes, topK = 5,
        asOfBatch = 1L, asOfDelete = 2L).head(1))
    val refusedAppend = floorRefused(
      Similarity.appendIvfState(b1, state, k = 8, iters = 2,
        batchTag = Some(1L)))
    val refusedDelete = floorRefused(
      Similarity.deleteFromIvfState(s, state,
        emb.filter(col("vec_id") === 0).select(col("vec_id")), "vec_id",
        deleteTag = Some(2L)))
    def snap(label: String, asOfBatch: Long, asOfDelete: Long) =
      Similarity.ivfTopKFromStateAsOf(s, state, probes, topK = 5,
          asOfBatch = asOfBatch, asOfDelete = asOfDelete, nProbe = 2)
        .select(lit(label).as("snapshot"), col("query_id"),
          col("neighbor_id"), col("rank").cast("long").as("rank"),
          round(col("cos"), 4).as("cos_sim"))
    snap("t_floor", 2L, 2L)
      .unionByName(snap("t_current", 3L, 2L))
      .withColumn("refused_sub_floor_asof", lit(refusedAsOf))
      .withColumn("refused_old_append", lit(refusedAppend))
      .withColumn("refused_old_delete", lit(refusedDelete))
      .orderBy("snapshot", "query_id", "rank")
  }

  /** x141 — HISTORY-RETENTION GC for the stats state
    * (`StatePillar.Stats.truncate`): the retention contract on the
    * accounting pillar, exercised with a BATCH-ATTRIBUTED delete
    * (`srcBatchCol` — the mixed-cut-exactness path): the collapse
    * re-attributes sub-floor corrections to `greatest(src_batch,
    * floor)`, so every still-legal as-of fold (bounds ≥ floor) selects
    * exactly the correction rows it did before, and both surviving
    * snapshots report counts that equal the from-scratch derivation
    * over their corpus cuts — appended-content distinct estimates stay
    * inside the 5 % + 1 HLL bound, and the three refusals pin TRUE. */
  def x141(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x141_state").toFile.getAbsolutePath
    val b1 = docs.filter(col("doc_id") < 150)
    Profile.appendStatsState(b1, state, "text", "source", Some(1L))
    Profile.appendStatsState(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), state,
      "text", "source", Some(2L))
    Profile.appendStatsState(docs.filter(col("doc_id") >= 300), state,
      "text", "source", Some(3L))
    Profile.deleteFromStatsState(
      docs.filter(pmod(col("doc_id"), lit(7)) === 3)
        .withColumn("src_batch",
          when(col("doc_id") < 150, 1L)
            .when(col("doc_id") < 300, 2L).otherwise(3L)),
      state, "text", "source", Some(1L), Some("src_batch"))
    StatePillar.Stats.truncate(s, state, floor = 2L)
    val refusedAsOf = floorRefused(
      Profile.statsReportAsOf(s, state, 1L, 2L).head(1))
    val refusedAppend = floorRefused(
      Profile.appendStatsState(b1, state, "text", "source", Some(1L)))
    val refusedDelete = floorRefused(
      Profile.deleteFromStatsState(docs.filter(col("doc_id") === 0),
        state, "text", "source", Some(2L)))
    def snap(label: String, asOfBatch: Long, asOfDelete: Long,
        appendedSlice: org.apache.spark.sql.Column) = {
      val exact = docs.filter(appendedSlice).groupBy(col("source"))
        .agg(count_distinct(md5(col("text"))).as("n_unique_appended"))
      Profile.statsReportAsOf(s, state, asOfBatch, asOfDelete)
        .withColumnRenamed("grp", "source")
        .join(exact, "source")
        .select(lit(label).as("snapshot"), col("source"), col("n_docs"),
          col("tokens"), col("n_unique_appended"),
          (abs(col("distinct_est").cast("double") -
              col("n_unique_appended").cast("double")) <=
            col("n_unique_appended").cast("double") * 0.05 + lit(1.0))
            .as("est_within_bound"))
    }
    snap("t_floor", 2L, 2L, col("doc_id") < 300)
      .unionByName(snap("t_current", 3L, 2L, lit(true)))
      .withColumn("refused_sub_floor_asof", lit(refusedAsOf))
      .withColumn("refused_old_append", lit(refusedAppend))
      .withColumn("refused_old_delete", lit(refusedDelete))
      .orderBy("snapshot", "source")
  }

  /** x142 — HISTORY-RETENTION GC for the tokenizer state
    * (`StatePillar.Tokenizer.truncate`): the retention contract on the
    * fifth pillar. The merges FROZE on batch 1 — every version's
    * persisted counts are the same unit — so the sidecar collapse is a
    * pure partition move and the two surviving budget selections
    * ([[Bpe.tokenBudgetFromStateAsOf]]) hash-match the frozen-tokenizer
    * encode + naive budget window over their live corpus cuts; frozen
    * `merges` are untouched but remnant-guarded, refusals pin TRUE. */
  def x142(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x142_state").toFile.getAbsolutePath
    val b1 = docs.filter(col("doc_id") < 150)
    Bpe.appendTokenizerState(b1, state, "doc_id", "text", numMerges = 4,
      batchTag = Some(1L))
    Bpe.appendTokenizerState(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), state,
      "doc_id", "text", numMerges = 4, batchTag = Some(2L))
    Bpe.appendTokenizerState(docs.filter(col("doc_id") >= 300), state,
      "doc_id", "text", numMerges = 4, batchTag = Some(3L))
    Bpe.deleteFromTokenizerState(s, state,
      docs.filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    StatePillar.Tokenizer.truncate(s, state, floor = 2L)
    val quality = docs.select(col("doc_id"),
      length(col("text")).cast("double").as("q"))
    val refusedAsOf = floorRefused(
      Bpe.tokenBudgetFromStateAsOf(s, state, quality, "doc_id", "q",
        budget = 20000L, asOfBatch = 1L, asOfDelete = 2L).head(1))
    val refusedAppend = floorRefused(
      Bpe.appendTokenizerState(b1, state, "doc_id", "text",
        numMerges = 4, batchTag = Some(1L)))
    val refusedDelete = floorRefused(
      Bpe.deleteFromTokenizerState(s, state,
        docs.filter(col("doc_id") === 0).select(col("doc_id")), "doc_id",
        deleteTag = Some(2L)))
    def snap(label: String, asOfBatch: Long, asOfDelete: Long) =
      Bpe.tokenBudgetFromStateAsOf(s, state, quality, "doc_id", "q",
          budget = 20000L, asOfBatch = asOfBatch, asOfDelete = asOfDelete)
        .select(lit(label).as("snapshot"), col("doc_id"),
          col("bpe_tokens"), col("cum_tokens"))
    snap("t_floor", 2L, 2L)
      .unionByName(snap("t_current", 3L, 2L))
      .withColumn("refused_sub_floor_asof", lit(refusedAsOf))
      .withColumn("refused_old_append", lit(refusedAppend))
      .withColumn("refused_old_delete", lit(refusedDelete))
      .orderBy("snapshot", "doc_id")
  }

  /** x143 — COORDINATED cross-pillar ingest
    * ([[graft.ext.StateAudit.ingestEverywhere]]): x133's append twin —
    * one call lands an arriving corpus batch in the LSH, postings,
    * tokenizer, AND stats pillars under ONE shared batch tag, closing
    * the other half of the divergence class x128 detects (an
    * orchestrator wiring five separate appends re-creates exactly the
    * partial-write failure the audit exists to catch). Same contract
    * as the delete twin: IDEMPOTENCE, not atomicity — every pillar
    * append is a tagged partition overwrite, so replaying the same
    * call with the same tag completes a crashed ingest. The gate
    * INJECTS a crash after pillar 1 — batch 2 reaches LSH only — and
    * must observe (a) the audit surfacing exactly the batch-2 docs as
    * (in_lsh, ¬in_postings, ¬in_tokenizer) rows, (b) the REPLAYED call
    * emptying the audit, and (c) the stats fold covering the full
    * corpus afterwards. The oracle derives the partial-phase
    * divergence in set algebra; the repaired phase contributes zero
    * rows, so the row count itself pins the repair. */
  def x143(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
    val root = java.nio.file.Files
      .createTempDirectory("graft_x143_state").toFile.getAbsolutePath
    val (ls, ps, ts, ss) =
      (s"$root/lsh", s"$root/postings", s"$root/tokenizer", s"$root/stats")
    val b1 = docs.filter(col("doc_id") < 150)
    val b2 = docs.filter(col("doc_id") >= 150)
    def ingest(batch: DataFrame, tag: Long, crashAfter: Int = -1): Unit =
      StateAudit.ingestEverywhere(s, batch, "doc_id", "text", "source",
        ls, ps, ts, batchTag = tag, statsDir = Some(ss),
        crashAfterPillars = crashAfter)
    ingest(b1, tag = 1L)
    val crashed =
      try { ingest(b2, tag = 2L, crashAfter = 1); false }
      catch { case _: StateIO.InjectedCrash => true }
    def audit() = StateAudit.crossPillarConsistency(Seq(
      "lsh" -> StateAudit.lshLiveIds(s, ls),
      "postings" -> StateAudit.postingsLiveIds(s, ps),
      "tokenizer" -> StateAudit.tokenizerLiveIds(s, ts)))
    // materialized BEFORE the replay: the replay overwrites the very
    // batch_id=2 partitions this audit's lazy plan reads
    val partial = Dedup.materialize(
      audit().withColumn("phase", lit("partial")))
    ingest(b2, tag = 2L) // the replay — same call, same tag
    val repaired = audit().withColumn("phase", lit("repaired"))
    // the stats pillar (not in the id audit — it has no per-doc ids)
    // must also have completed on replay: the fold covers every doc
    val statsComplete = Profile.statsReport(s, ss)
      .agg(coalesce(sum(col("n_docs")), lit(0L))).head().getLong(0) ==
      docs.count()
    partial.unionByName(repaired)
      .select(col("phase"), col("id").as("doc_id"), col("in_lsh"),
        col("in_postings"), col("in_tokenizer"))
      .withColumn("crash_injected", lit(crashed))
      .withColumn("stats_complete", lit(statsComplete))
      .orderBy("phase", "doc_id")
  }

  /** x144 — STATE BRANCH (clone-at-version) on the postings pillar
    * (`StatePillar.Postings.clone` over
    * [[graft.ext.StateIO.cloneStateAsOf]]): materialize "the index
    * after (append 2, delete 1)" as an INDEPENDENT directory — the
    * what-if curation branch: experiment on the clone while the source
    * keeps serving. The gate pins the contract from three sides: (1)
    * the clone's PLAIN read hash-matches the source's as-of read at
    * the branch point, and both match a from-scratch BM25 over that
    * version's surviving corpus (including the `src_batch <= 2` cut on
    * delete corrections — the clone's totals are the exact integers of
    * the branched version, not the source's); (2) cloning onto an
    * existing directory refuses (engine-observed, pinned TRUE); (3)
    * appending and deleting on the CLONE leaves the source's reads
    * bit-identical (engine-compared before/after, pinned TRUE). */
  def x144(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val root = java.nio.file.Files
      .createTempDirectory("graft_x144_state").toFile.getAbsolutePath
    val (src, dst) = (s"$root/src", s"$root/branch")
    Index.appendPostingsState(docs.filter(col("doc_id") < 150), src,
      "doc_id", "text", batchTag = Some(1L))
    Index.appendPostingsState(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), src,
      "doc_id", "text", batchTag = Some(2L))
    Index.appendPostingsState(docs.filter(col("doc_id") >= 300), src,
      "doc_id", "text", batchTag = Some(3L))
    Index.deleteFromPostingsState(s, src,
      docs.filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    Index.deleteFromPostingsState(s, src,
      docs.filter(pmod(col("doc_id"), lit(11)) === 5).select(col("doc_id")),
      "doc_id", deleteTag = Some(2L))
    StatePillar.Postings.clone(s, src, dst, asOfBatch = 2L, asOfDelete = 1L)
    val refusedOverwrite =
      try {
        StatePillar.Postings.clone(s, src, dst, asOfBatch = 2L,
          asOfDelete = 1L)
        false
      } catch {
        case e: IllegalArgumentException
            if e.getMessage.contains("never overwrites") => true
      }
    val terms = Seq("dup", "vector", "window")
    def shape(df: DataFrame, label: String) =
      df.select(lit(label).as("snapshot"), col("doc_id"),
        round(col("score"), 4).as("score"), col("rank"))
    // the branch-point reads, MATERIALIZED before the clone mutates
    val cloneRead = Dedup.materialize(shape(
      Index.bm25TopKFromState(s, dst, terms, k = 10, idCol = "doc_id"),
      "t_clone"))
    val srcCurrent = Index.bm25TopKFromState(s, src, terms, k = 10,
      idCol = "doc_id").collect().toSeq
    // mutate the CLONE only: a new append and a new delete
    Index.appendPostingsState(docs.filter(col("doc_id") >= 300), dst,
      "doc_id", "text", batchTag = Some(3L))
    Index.deleteFromPostingsState(s, dst,
      docs.filter(pmod(col("doc_id"), lit(13)) === 2).select(col("doc_id")),
      "doc_id", deleteTag = Some(2L))
    val sourceIntact = Index.bm25TopKFromState(s, src, terms, k = 10,
      idCol = "doc_id").collect().toSeq == srcCurrent
    cloneRead
      .unionByName(shape(
        Index.bm25TopKFromStateAsOf(s, src, terms, k = 10,
          asOfBatch = 2L, asOfDelete = 1L, idCol = "doc_id"),
        "t_src_asof"))
      .withColumn("refused_overwrite", lit(refusedOverwrite))
      .withColumn("source_intact", lit(sourceIntact))
      .orderBy("snapshot", "rank")
  }

  /** x145 — SINGLE-WRITER LEASE on the state dirs
    * ([[graft.ext.StateIO.withWriterLock]]): every guard before round
    * 15 assumed the other writer was DEAD (crash remnants, swap
    * markers); this is the refusal of a writer that is still ALIVE —
    * exactly what an at-least-once orchestrator's concurrent retry
    * produces (two appends, or an append racing a truncation,
    * interleaving partition overwrites no marker protocol can untangle
    * after the fact). The fixture plants a foreign UNEXPIRED lease and
    * observes every mutating entry point refuse (append / delete /
    * truncate — engine-observed, pinned TRUE); then swaps in an
    * EXPIRED lease — the artifact a crashed writer leaves — and the
    * same append takes it over and lands, releasing the lock on the
    * way out. The final stats fold hash-matches the full corpus, so
    * the takeover append demonstrably applied. */
  def x145(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x145_state").toFile.getAbsolutePath + "/stats"
    val b1 = docs.filter(col("doc_id") < 250)
    val b2 = docs.filter(col("doc_id") >= 250)
    Profile.appendStatsState(b1, state, "text", "source", Some(1L))
    val lock = new org.apache.hadoop.fs.Path(state, "_writer_lock")
    val fs = lock.getFileSystem(s.sessionState.newHadoopConf())
    def plantLease(expiresAtMs: Long): Unit = {
      val out = fs.create(lock, true)
      try out.write(s"other-host:pid=1:thread=1:lease\n$expiresAtMs\n"
        .getBytes("UTF-8"))
      finally out.close()
    }
    plantLease(System.currentTimeMillis() + 3600000L) // live foreign writer
    def refused(f: => Unit): Boolean =
      try { f; false }
      catch { case _: StateIO.ConcurrentWriter => true }
    val refusedAppend = refused(
      Profile.appendStatsState(b2, state, "text", "source", Some(2L)))
    val refusedDelete = refused(
      Profile.deleteFromStatsState(b1.limit(1), state, "text", "source",
        Some(1L)))
    val refusedTruncate = refused(
      StatePillar.Stats.truncate(s, state, floor = 1L))
    // the crashed-writer artifact: an EXPIRED lease — taken over, the
    // append lands, and orderly completion releases the lock
    plantLease(System.currentTimeMillis() - 1000L)
    Profile.appendStatsState(b2, state, "text", "source", Some(2L))
    val released = !fs.exists(lock)
    Profile.statsReport(s, state)
      .withColumnRenamed("grp", "source")
      .select(col("source"), col("n_docs"), col("tokens"))
      .withColumn("refused_live_append", lit(refusedAppend))
      .withColumn("refused_live_delete", lit(refusedDelete))
      .withColumn("refused_live_truncate", lit(refusedTruncate))
      .withColumn("stale_lease_released", lit(released))
      .orderBy("source")
  }

  /** x146 — MANIFEST (object-store-safe) COMMITS
    * ([[graft.ext.StateIO.enableManifestCommits]]): the rename-based
    * swap protocol's correctness rests on atomic `fs.rename`, which
    * S3-class stores do not provide — at the 100 TB design point the
    * default substrate. In manifest mode a content swap stages into
    * fresh versioned directories (pure creates — NO data-dir rename
    * exists to be non-atomic) and commits by overwriting one small
    * `_versions` pointer file; every read resolves through it. The
    * gate re-runs x122's recluster on a manifest-mode state and pins
    * the protocol from both sides of the commit point: a crash with
    * one of two tables staged leaves reads serving the FULL OLD fit
    * with nothing gated and nothing to roll forward (engine-compared,
    * pinned TRUE — the exact window where the rename protocol needs
    * its marker), vacuum reclaims exactly the staged orphan, and the
    * completed recluster's reads hash-match the same full-retrain
    * oracle as x122. */
  def x146(s: SparkSession, dir: String): DataFrame = {
    val emb = driftedEmb(s, dir)
    val state = java.nio.file.Files
      .createTempDirectory("graft_x146_state").toFile.getAbsolutePath
    val b1 = col("vec_id") < 8 || pmod(col("vec_id"), lit(10)) < 4
    val b3 = pmod(col("vec_id"), lit(10)) >= 7
    Similarity.appendIvfState(emb.filter(b1), state,
      k = 8, iters = 2, batchTag = Some(1L))
    Similarity.appendIvfState(emb.filter(!b1 && !b3), state,
      k = 8, iters = 2, batchTag = Some(2L))
    Similarity.appendIvfState(emb.filter(!b1 && b3), state,
      k = 8, iters = 2, batchTag = Some(3L))
    StateIO.enableManifestCommits(s, state)
    def reads() = Similarity.ivfTopKFromState(s, state,
        emb.filter(col("vec_id") < 10), topK = 5, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"),
        round(col("cos"), 4).as("cos_sim"))
    val before = reads().collect().toSeq
    // crash with centroids staged and cells NOT — the rename protocol's
    // mixed-fit window; here the pointer still names both OLD dirs
    val crashed =
      try { Similarity.reclusterIvfState(s, state, crashAfterApplied = 1); false }
      catch { case _: StateIO.InjectedCrash => true }
    val oldFitServed = crashed && reads().collect().toSeq == before
    val noRollforward = !StateIO.recoverSwap(s, state)
    val reclaimed =
      StateIO.vacuumStateVersions(s, state) == Seq("centroids__v0001")
    Similarity.reclusterIvfState(s, state) // the real commit
    reads()
      .withColumn("old_fit_served_after_crash", lit(oldFitServed))
      .withColumn("no_rollforward_needed", lit(noRollforward))
      .withColumn("staged_orphan_reclaimed", lit(reclaimed))
      .orderBy("query_id", "rank")
  }

  /** x147 — CONSISTENCY AUDIT OVER AS-OF CUTS (the
    * `state_consistency_asof` TVF surface): x128 audits the pillars'
    * CURRENT live ids; after an orchestrator crash the forensic
    * question is historical — "were the pillars consistent as of
    * (append B, delete D)?" — and the tagged partition history answers
    * it as a pure pruned filter (the x138 free-time-travel pattern on
    * the audit itself). Same planted failure as x128 (delete slice B
    * reaches postings only, at delete tag 2): the CURRENT audit must
    * surface exactly the B-survivors, while the (B=2, D=1) cut — the
    * last version before the partial delete — and the (B=1, D=0) cut
    * must both come back CONSISTENT (zero divergence rows,
    * engine-observed, pinned TRUE). */
  def x147(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val root = java.nio.file.Files
      .createTempDirectory("graft_x147_state").toFile.getAbsolutePath
    val (ls, ps, ts) = (s"$root/lsh", s"$root/postings", s"$root/tokenizer")
    val b1 = docs.filter(col("doc_id") < 250)
    val b2 = docs.filter(col("doc_id") >= 250)
    val sliceA = docs.filter(pmod(col("doc_id"), lit(7)) === 3)
      .select(col("doc_id"))
    // three independent pillar dirs — each pillar's append→append→delete
    // chain overlaps with the others (guide §2.6); order stays
    // sequential WITHIN a pillar (batch 2 probes batch 1's state)
    StateIO.runOverlapped(Seq(
      () => {
        Dedup.appendLshState(b1, "doc_id", "text", ls, batchTag = Some(1L))
        Dedup.appendLshState(b2, "doc_id", "text", ls, batchTag = Some(2L))
        Dedup.deleteFromLshState(s, ls, sliceA, "doc_id",
          deleteTag = Some(1L))
      },
      () => {
        Index.appendPostingsState(b1, ps, "doc_id", "text",
          batchTag = Some(1L))
        Index.appendPostingsState(b2, ps, "doc_id", "text",
          batchTag = Some(2L))
        Index.deleteFromPostingsState(s, ps, sliceA, "doc_id",
          deleteTag = Some(1L))
      },
      () => {
        Bpe.appendTokenizerState(b1, ts, "doc_id", "text", numMerges = 4,
          batchTag = Some(1L))
        Bpe.appendTokenizerState(b2, ts, "doc_id", "text", numMerges = 4,
          batchTag = Some(2L))
        Bpe.deleteFromTokenizerState(s, ts, sliceA, "doc_id",
          deleteTag = Some(1L))
      }))
    // the planted partial failure, at delete tag 2: postings only
    Index.deleteFromPostingsState(s, ps,
      docs.filter(pmod(col("doc_id"), lit(11)) === 5).select(col("doc_id")),
      "doc_id", deleteTag = Some(2L))
    def auditAsOf(b: Long, d: Long) =
      StateAudit.crossPillarConsistency(Seq(
        "lsh" -> StateAudit.lshLiveIdsAsOf(s, ls, b, d),
        "postings" -> StateAudit.postingsLiveIdsAsOf(s, ps, b, d),
        "tokenizer" -> StateAudit.tokenizerLiveIdsAsOf(s, ts, b, d)))
    val preDeleteConsistent = auditAsOf(2L, 1L).isEmpty
    val batch1Consistent = auditAsOf(1L, 0L).isEmpty
    StateAudit.crossPillarConsistency(Seq(
        "lsh" -> StateAudit.lshLiveIds(s, ls),
        "postings" -> StateAudit.postingsLiveIds(s, ps),
        "tokenizer" -> StateAudit.tokenizerLiveIds(s, ts)))
      .withColumnRenamed("id", "doc_id")
      .withColumn("asof_2_1_consistent", lit(preDeleteConsistent))
      .withColumn("asof_1_0_consistent", lit(batch1Consistent))
      .orderBy("doc_id")
  }

  /** x148 — STATE-DIR HEALTH REPORT ([[StateAudit.healthReport]], the
    * `state_health` TVF): the "when do I GC?" signal the tagged-history
    * design owes its operators — every tagged append/delete keeps one
    * partition dir per table until truncation, so version and file
    * counts grow without bound and the report is what says
    * 'truncate'/'compact' BEFORE the small-file tax bites. Fixture:
    * four appended batches + one delete on the postings pillar, then
    * truncate(floor=4) + compact. The report must flag every
    * batch-tagged table 'truncate' before (4 versions > maxVersions=3)
    * and 'ok' after (1 collapsed version), with the per-table version
    * counts exact and the file-count DECREASE engine-observed
    * (pinned TRUE) — the advice column demonstrably tracks the GC. */
  def x148(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x148_state").toFile.getAbsolutePath + "/postings"
    (0 to 3).foreach { i =>
      Index.appendPostingsState(
        docs.filter(pmod(col("doc_id"), lit(4)) === i), state,
        "doc_id", "text", batchTag = Some(i + 1L))
    }
    Index.deleteFromPostingsState(s, state,
      docs.filter(pmod(col("doc_id"), lit(9)) === 2).select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    val tables = Seq("postings", "totals", "docs")
    def report(phase: String) = StateAudit.healthReport(s, state, tables,
        maxVersions = 3, maxFilesPerLeafDir = 1000000)
      .select(lit(phase).as("phase"), col("table"), col("files"),
        col("batch_versions"), col("delete_versions"), col("advice"))
    val before = Dedup.materialize(report("t1_grown"))
    StatePillar.Postings.truncate(s, state, floor = 4L)
    Index.compactPostingsState(s, state)
    val after = Dedup.materialize(report("t2_collapsed"))
    val filesBefore = before.select(col("table"), col("files"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val filesAfter = after.select(col("table"), col("files"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val decreased = tables.forall(t => filesAfter(t) < filesBefore(t))
    before.unionByName(after)
      .select(col("phase"), col("table"), col("batch_versions"),
        col("delete_versions"), col("advice"))
      .withColumn("files_decreased", lit(decreased))
      .orderBy("phase", "table")
  }

  /** x149 — BRANCH FAST-FORWARD (catch-up)
    * (`StatePillar.Postings.fastForward` over
    * [[graft.ext.StateIO.fastForwardState]]): x144's clone branches a
    * version, but a branch that lives for months falls behind — and
    * the only remedy so far was a full re-clone, O(branch size). The
    * catch-up copies ONLY the source's missing `batch_id` partitions
    * (O(new batches)) plus a wholesale rewrite of the tombstone-sized
    * delete tables, and advances the branch's `_branch` lineage. The
    * gate pins the contract from four sides: (1) the caught-up
    * branch's PLAIN read hash-matches the source's CURRENT read, and
    * both match a from-scratch BM25 over the full survivor corpus
    * (batches 1-3 minus deletes 1-2); (2) a branch that DIVERGED
    * (local append past its cut) refuses by name (engine-observed,
    * pinned TRUE); (3) the returned head is exactly the source's
    * (batch, delete) = (3, 2) (pinned TRUE); (4) a second catch-up is
    * a stable no-op — same head back, read bit-identical
    * (engine-compared, pinned TRUE). */
  def x149(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val root = java.nio.file.Files
      .createTempDirectory("graft_x149_state").toFile.getAbsolutePath
    val src = s"$root/src"
    Index.appendPostingsState(docs.filter(col("doc_id") < 150), src,
      "doc_id", "text", batchTag = Some(1L))
    Index.appendPostingsState(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), src,
      "doc_id", "text", batchTag = Some(2L))
    // delete 1 covers only ids LIVE at the time (batches 1-2): a
    // tombstoned id must never be re-appended, and batch 3 is coming
    Index.deleteFromPostingsState(s, src,
      docs.filter(pmod(col("doc_id"), lit(7)) === 3 && col("doc_id") < 300)
        .select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    StatePillar.Postings.clone(s, src, s"$root/branch", 2L, 1L)
    StatePillar.Postings.clone(s, src, s"$root/diverged", 2L, 1L)
    // the source moves on: one more batch, one more delete
    Index.appendPostingsState(docs.filter(col("doc_id") >= 300), src,
      "doc_id", "text", batchTag = Some(3L))
    Index.deleteFromPostingsState(s, src,
      docs.filter(pmod(col("doc_id"), lit(11)) === 5).select(col("doc_id")),
      "doc_id", deleteTag = Some(2L))
    // a branch with local history past its cut cannot catch up — the
    // two histories would interleave under one tag sequence
    Index.appendPostingsState(docs.filter(col("doc_id") < 20),
      s"$root/diverged", "doc_id", "text", batchTag = Some(3L))
    val refusedDiverged =
      try {
        StatePillar.Postings.fastForward(s, src, s"$root/diverged"); false
      } catch {
        case e: IllegalArgumentException
            if e.getMessage.contains("DIVERGED") => true
      }
    val head = StatePillar.Postings.fastForward(s, src, s"$root/branch")
    val caughtUpToHead = head == ((3L, 2L))
    val terms = Seq("dup", "vector", "window")
    def shape(df: DataFrame, label: String) =
      df.select(lit(label).as("snapshot"), col("doc_id"),
        round(col("score"), 4).as("score"), col("rank"))
    def branchRead() = shape(
      Index.bm25TopKFromState(s, s"$root/branch", terms, k = 10,
        idCol = "doc_id"), "t_branch")
    val afterFf = Dedup.materialize(branchRead())
    // a second catch-up is a stable no-op: same head, read identical
    val noopStable =
      StatePillar.Postings.fastForward(s, src, s"$root/branch") == head &&
        branchRead().collect().toSeq == afterFf.collect().toSeq
    afterFf
      .unionByName(shape(
        Index.bm25TopKFromState(s, src, terms, k = 10, idCol = "doc_id"),
        "t_source"))
      .withColumn("refused_diverged", lit(refusedDiverged))
      .withColumn("caught_up_to_head", lit(caughtUpToHead))
      .withColumn("noop_stable", lit(noopStable))
      .orderBy("snapshot", "rank")
  }

  /** x150 — K-NN GRAPH from the persisted IVF state
    * ([[Similarity.knnGraphFromState]]): every LIVE vector's top-3
    * neighbors from its 2 probed cells — the whole-corpus batch
    * analogue of x106's per-query probes, and the substrate
    * semantic-dedup clustering and mutual-neighbor mining (x151) build
    * on. The probe side is corpus-sized, so the plan differs from the
    * query path where it must: per-vector probe lists come from a
    * map-side sorted-struct slice against the broadcast centroids (no
    * corpus-wide rank window) and the candidate join is a hash join on
    * cid, not a broadcast. Fixture: one trained append + a tombstoned
    * delete (vec_id % 9 = 4) — deleted vectors neither query nor
    * answer, but DID shape the frozen centroids (the training batch).
    * The oracle re-derives the whole chain: k-means training on all of
    * batch 1, per-live-vector 2-cell probes, exact cosine, top-3. */
  def x150(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x150_state").toFile.getAbsolutePath + "/ivf"
    Similarity.appendIvfState(emb, state, k = 8, iters = 2,
      batchTag = Some(1L))
    Similarity.deleteFromIvfState(s, state,
      emb.filter(pmod(col("vec_id"), lit(9)) === 4).select(col("vec_id")),
      "vec_id", deleteTag = Some(1L))
    Similarity.knnGraphFromState(s, state, k = 3, nProbe = 2)
      .select(col("vec_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy("vec_id", "rank")
  }

  /** x151 — MUTUAL nearest-neighbor pairs
    * ([[Similarity.mutualNnPairsFromState]]): (a, b) with a < b where
    * each is in the other's top-3 (x150's graph) and cos ≥ 0.2 — the
    * high-precision candidate relation semantic dedup and hard-negative
    * filtering consume (one-directional kNN edges are routinely hub
    * artifacts; mutuality is the standard cheap filter). Cost over the
    * graph: one self-join of the n·k edge relation on its edge key. */
  def x151(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x151_state").toFile.getAbsolutePath + "/ivf"
    Similarity.appendIvfState(emb, state, k = 8, iters = 2,
      batchTag = Some(1L))
    Similarity.deleteFromIvfState(s, state,
      emb.filter(pmod(col("vec_id"), lit(9)) === 4).select(col("vec_id")),
      "vec_id", deleteTag = Some(1L))
    Similarity.mutualNnPairsFromState(s, state, k = 3, minCos = 0.2,
        nProbe = 2)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("id_a", "id_b")
  }

  /** x152 — KEEP-LAST-N RETENTION POLICY
    * ([[graft.ext.StateIO.retentionFloor]] →
    * `StatePillar.Stats.retain`): operators think "keep the last 2
    * versions addressable", not in absolute floor numbers that drift as
    * batches land — the policy face of x140's truncation, and the verb
    * a cron-driven GC actually calls. Fixture: five tagged appends on
    * the accounting pillar; `retain(keepLast = 2)` must derive floor
    * 5 − 2 = 3 and collapse through it. Pinned: (1) the applied floor
    * is exactly 3 (engine-observed TRUE); (2) a second retain call is
    * an idempotent no-op (None — TRUE); (3) the current report still
    * folds the full corpus and the as-of(4) snapshot folds batches 1-4
    * (both hash-matched); (4) an as-of read below the floor refuses
    * (TRUE); (5) the collapsed pillar carries exactly 3 batch versions
    * — floor base + the 2 kept (engine-counted, TRUE). */
  def x152(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x152_state").toFile.getAbsolutePath + "/stats"
    (1 to 5).foreach { i =>
      Profile.appendStatsState(
        docs.filter(col("doc_id") >= (i - 1) * 100 && col("doc_id") < i * 100),
        state, "text", "source", Some(i.toLong))
    }
    val appliedFloor =
      StatePillar.Stats.retain(s, state, keepLastBatches = 2)
        .contains(3L)
    val secondIsNoop =
      StatePillar.Stats.retain(s, state, keepLastBatches = 2).isEmpty
    val refusedSubFloor =
      try { Profile.statsReportAsOf(s, state, 2L, 0L).collect(); false }
      catch {
        case e: IllegalArgumentException
            if e.getMessage.contains("floor") => true
      }
    val versions = StateAudit.healthReport(s, state, Seq("stats"),
        maxVersions = 64, maxFilesPerLeafDir = 1000000)
      .select(col("batch_versions")).head().getLong(0) == 3L
    def shape(df: DataFrame, label: String) =
      df.withColumnRenamed("grp", "source")
        .select(lit(label).as("snapshot"), col("source"), col("n_docs"),
          col("tokens"))
    shape(Profile.statsReport(s, state), "t_current")
      .unionByName(shape(Profile.statsReportAsOf(s, state, 4L, 0L),
        "t_asof4"))
      .withColumn("applied_floor_3", lit(appliedFloor))
      .withColumn("second_retain_noop", lit(secondIsNoop))
      .withColumn("refused_sub_floor", lit(refusedSubFloor))
      .withColumn("kept_3_versions", lit(versions))
      .orderBy("snapshot", "source")
  }

  /** x153 — SEMANTIC CLUSTERS from the kNN graph
    * ([[Similarity.semanticClustersFromState]]): x151's mutual pairs
    * closed into connected components, every live vector labeled
    * (rep = min member id — the exemplar a dedup pass keeps),
    * singletons their own rep, cluster sizes exact. The x48 SemDeDup
    * clusters within IVF cells only; this composes the mutual-kNN
    * graph, so near-duplicates straddling a cell boundary still merge.
    * The oracle replays the whole chain: training, probes, graph,
    * mutuality, then a recursive-CTE transitive closure with
    * min-reachable-id representatives (the x19 components recipe). */
  def x153(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x153_state").toFile.getAbsolutePath + "/ivf"
    Similarity.appendIvfState(emb, state, k = 8, iters = 2,
      batchTag = Some(1L))
    Similarity.deleteFromIvfState(s, state,
      emb.filter(pmod(col("vec_id"), lit(9)) === 4).select(col("vec_id")),
      "vec_id", deleteTag = Some(1L))
    Similarity.semanticClustersFromState(s, state, k = 3, minCos = 0.2,
        nProbe = 2)
      .orderBy("vec_id")
  }

  /** x154 — TRAINING-DATA EXPORT from persisted state
    * ([[Bpe.exportShardsFromState]]): the capstone a user runs to cut a
    * training set once a corpus lives in the pillars — quality-ordered
    * token-budget selection from the tokenizer sidecar (x121's
    * operator: no retrain, no corpus re-encode), deterministic hash
    * shards and greedy 2000-token bins (x45's packer) — one row per
    * selected document, the materialization plan a shard-writer
    * consumes. Fixture: two tagged appends (merges freeze on batch 1)
    * plus a tombstoned delete; the oracle replays the frozen-tokenizer
    * encode, the delete-respecting budget window, the md5 shard
    * assignment and the integral-divide bin packing end-to-end. */
  def x154(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x154_state").toFile.getAbsolutePath
    Bpe.appendTokenizerState(docs.filter(col("doc_id") < 150), state,
      "doc_id", "text", numMerges = 4, batchTag = Some(1L))
    Bpe.appendTokenizerState(docs.filter(col("doc_id") >= 150), state,
      "doc_id", "text", numMerges = 4, batchTag = Some(2L))
    Bpe.deleteFromTokenizerState(s, state,
      docs.filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    val quality = docs.select(col("doc_id"),
      length(col("text")).cast("double").as("q"))
    Bpe.exportShardsFromState(s, state, quality, "doc_id", "q",
        budget = 20000L, binBudget = 2000L, numShards = 4)
      .select(col("doc_id"), col("bpe_tokens"), col("shard"), col("bin"))
      .orderBy("doc_id")
  }

  /** x155 — SAMPLE-TRAINED IVF centroids
    * ([[Similarity.kmeansCentroidsSampled]] via
    * `appendIvfState(trainSample = 40)`): the first-batch k-means trains
    * on the 40 lowest-portable-hash vectors instead of the full batch —
    * the remedy for the one data-superlinear stage the state layer had
    * (full-batch training is n·k per Lloyd step; at √n cells the BUILD
    * was n^1.5 — SCALE.md measured 4.7→91.9 s at 1×→50×). Assignment
    * stays the linear broadcast-argmin over every vector. The oracle
    * re-derives the whole chain — the deterministic hash-prefix sample,
    * k-means ON the sample, full-corpus assignment, 2-cell probes, exact
    * cosine top-5 — and both engines compute per-query hits against
    * brute-force top-5 (`hits_at_5`), with the mean-recall floor pinned
    * x88-style. */
  def x155(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x155_state").toFile.getAbsolutePath + "/ivf"
    Similarity.appendIvfState(emb, state, k = 8, iters = 2,
      batchTag = Some(1L), trainSample = 40)
    val probes = emb.filter(col("vec_id") < 10)
    // ann feeds both the output rows and the recall audit; truth feeds
    // the audit twice — materialized so the brute pass runs once
    val ann = Dedup.materialize(
      Similarity.ivfTopKFromState(s, state, probes, topK = 5))
    val truth = Dedup.materialize(
      Similarity.bruteForceTopK(emb, probes, k = 5))
    val audit = Dedup.materialize(Similarity.recallAtK(
      ann.select("query_id", "neighbor_id"),
      truth.select("query_id", "neighbor_id")))
    ann
      .join(audit.select(col("query_id"), col("n_hits").as("hits_at_5")),
        Seq("query_id"))
      .crossJoin(audit.agg((avg(col("recall")) >= 0.5).as("mean_recall_ok")))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 4).as("cos_sim"), col("hits_at_5"),
        col("mean_recall_ok"))
      .orderBy("query_id", "rank")
  }

  /** x156 — INCREMENTAL kNN-graph maintenance
    * ([[Similarity.buildKnnGraphState]] + [[Similarity.knnGraphDeltaFromState]]):
    * x150 rebuilds the whole graph every call (the deliberate n^1.5
    * pass); the maintained state updates per IVF append at batch cost —
    * the batch's vectors probe their cells, and the only existing owners
    * re-ranked are those with a probe row in a cell the batch landed in
    * (a partition-pruned read of the persisted reverse probe index,
    * never a corpus scan). Fixture: build on batch 1, append batch 2,
    * delta; the result must BE the full rebuild — engine-checked with a
    * two-way exceptAll (pinned TRUE) and hash-gated against x150's
    * oracle chain re-derived with training on batch 1 only. */
  def x156(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val root = java.nio.file.Files
      .createTempDirectory("graft_x156_state").toFile.getAbsolutePath
    val state = s"$root/ivf"; val graph = s"$root/graph"
    Similarity.appendIvfState(emb.filter(col("vec_id") < 375), state,
      k = 8, iters = 2, batchTag = Some(1L))
    Similarity.buildKnnGraphState(s, state, graph, k = 3, nProbe = 2)
    Similarity.appendIvfState(emb.filter(col("vec_id") >= 375), state,
      k = 8, iters = 2, batchTag = Some(2L))
    Similarity.knnGraphDeltaFromState(s, state, graph, 2L)
    val inc = Dedup.materialize(Similarity.readKnnGraphState(s, graph))
    // one-job signed-count parity (the two-way exceptAll read each side
    // twice, so `full` needed a checkpoint; consumed once, it stays lazy)
    val full = Similarity.knnGraphFromState(s, state, k = 3, nProbe = 2)
    val matches = Dedup.multisetEqual(full, inc)
    inc
      .select(col("vec_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 4).as("cos_sim"))
      .withColumn("matches_full_rebuild", lit(matches))
      .orderBy("vec_id", "rank")
  }

  /** x157 — SHARD-WRITER MATERIALIZATION ([[Bpe.writeShardsFromState]]):
    * x154 returns the export PLAN; the capstone a user actually runs
    * ends with bytes on disk. Same fixture as x154, plus a payload join
    * (the md5 of the document text standing in for the content column a
    * trainer reads); the gate READS THE WRITTEN FILES BACK
    * ([[Bpe.readExportedShards]] — marker-gated) and hash-matches them
    * against x154's oracle chain, so the `shard=`-partitioned parquet
    * on disk — not the plan — is what must equal the oracle. */
  def x157(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val root = java.nio.file.Files
      .createTempDirectory("graft_x157_state").toFile.getAbsolutePath
    val state = s"$root/tok"
    Bpe.appendTokenizerState(docs.filter(col("doc_id") < 150), state,
      "doc_id", "text", numMerges = 4, batchTag = Some(1L))
    Bpe.appendTokenizerState(docs.filter(col("doc_id") >= 150), state,
      "doc_id", "text", numMerges = 4, batchTag = Some(2L))
    Bpe.deleteFromTokenizerState(s, state,
      docs.filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    val quality = docs.select(col("doc_id"),
      length(col("text")).cast("double").as("q"))
    Bpe.writeShardsFromState(s, state, quality, "doc_id", "q",
      budget = 20000L, binBudget = 2000L, numShards = 4,
      outDir = s"$root/export",
      payload = Some(docs.select(col("doc_id"), md5(col("text")).as("text_md5"))))
    Bpe.readExportedShards(s, s"$root/export")
      .select(col("doc_id"), col("bpe_tokens"),
        col("shard").cast("long").as("shard"), col("bin"), col("text_md5"))
      .orderBy("doc_id")
  }

  /** Deterministic REAL image bytes for the x158 gate: a 9×8 block
    * pattern keyed by the id's GROUP (g = id % 40) — so ids 40 apart are
    * the same picture — rendered at an id-dependent resolution (always
    * multiples of 9×8, so dHash's average pooling recovers the block
    * values exactly at any size) and encoded through the JDK's own PNG
    * or BMP writer (both lossless): the decode side must run a real
    * ImageIO parse to reproduce the oracle's numbers. Ids with
    * id % 12 == 11 carry one perturbed block — the NEAR-dup plant,
    * flipping at most the two dHash comparisons that block touches. */
  private[graft] def syntheticBlockImage(id: Long): Array[Byte] = {
    val g = (id % 40).toInt
    val (w, h) = ((id / 40) % 3) match {
      case 0 => (18, 16)
      case 1 => (36, 32)
      case _ => (27, 24)
    }
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val bx = x * 9 / w; val by = y * 8 / h
      var v = (g * 37 + bx * 29 + by * 17 + (bx * by * (g + 3)) % 13) % 199
      if (id % 12 == 11 && bx == 2 && by == 3) v = (v + 100) % 199
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img,
      if ((id / 40) % 2 == 0) "png" else "bmp", bos)
    bos.toByteArray
  }

  /** x158 — IMAGE NEAR-DUP DEDUP via perceptual hashing
    * ([[Multimodal.dHash64]] + [[Dedup.hammingPairs64]]): the multimodal
    * twin of x17 — "are these two payloads the same PICTURE?", which
    * x22/x23's header/byte features cannot answer across a resize or a
    * re-encode. Each payload is a real PNG/BMP decoded with ImageIO,
    * average-pooled to 9×8, difference-hashed to 64 bits; pairs come
    * from the four-16-bit-band pigeonhole join (complete for Hamming
    * ≤ 3, never O(n²)). Planted: every id ≡ g (mod 40) renders the same
    * picture at three resolutions and two encodings (Hamming 0), and
    * id % 12 == 11 carries one edited block (Hamming ≤ 2). The oracle
    * re-derives the block values, the 64 comparison bits, and the full
    * pair relation arithmetically — no image library on its side. */
  def x158(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") < 120).as[Long]
      .map(id => (id, syntheticBlockImage(id))).toDF("doc_id", "payload")
    // byte-identical collapse FIRST (Dedup.collapsePayloadsExact): reps
    // decode + band once; members expand back algebraically. This
    // fixture has no byte-identical plants (every rendering differs), so
    // the member relation equals the rep relation — x168 gates the
    // planted-identical case where the collapse is load-bearing.
    val (members, reps) =
      Dedup.collapsePayloadsExact(payloads, "doc_id", "payload")
    val hashes = Multimodal.perceptualHashBatch(reps, "rid").toDF()
      .filter(col("ok")).select(col("doc_id"), col("phash"))
    val repPairs =
      Dedup.hammingPairs64(hashes, "doc_id", "phash", maxHamming = 3)
    Dedup.expandRepPairs(repPairs, members)
      .unionByName(Dedup.intraRepPairs(members,
        reps.select(col("rid"), lit(0L).as("hamming"))))
      .orderBy("id_a", "id_b")
  }

  /** Deterministic REAL audio bytes for the x159–x161 gates: a 65-window
    * constant-amplitude envelope keyed by the id's GROUP (g = id % 40) —
    * ids 40 apart are the same recording — rendered at an id-dependent
    * (window width, sample rate) and encoded through
    * [[Multimodal.packWav]] as real RIFF/WAVE bytes, so the read side
    * must run the real chunk walk + PCM16 scan to reproduce the oracle's
    * numbers. Window `i` holds `w` mono samples of value `amp(g,i)·100`;
    * ids with id % 12 == 11 carry one perturbed window (the NEAR-dup
    * plant — flips at most the two envelope comparisons window 5
    * touches). */
  private[graft] def syntheticWav(id: Long): Array[Byte] = {
    val g = (id % 40).toInt
    val (w, rate) = ((id / 40) % 3) match {
      case 0 => (16, 8000)
      case 1 => (32, 16000)
      case _ => (24, 11025)
    }
    val samples = new Array[Short](65 * w)
    var i = 0
    while (i < 65) {
      var a = (g * 31 + i * 53 + (i * i * (g + 7)) % 29) % 199
      if (id % 12 == 11 && i == 5) a = (a + 97) % 199
      var j = 0
      while (j < w) { samples(i * w + j) = (a * 100).toShort; j += 1 }
      i += 1
    }
    Multimodal.packWav(samples, channels = 1, sampleRate = rate)
  }

  /** x159 — AUDIO METADATA + FEATURES over real WAV bytes
    * ([[Multimodal.audioStatsBatch]]): the audio member of the
    * multimodal decode → feature stage (x22/x23 are the image twin).
    * Each payload is a real RIFF/WAVE encoding; the engine chunk-walks
    * the header (channels / rate / bits / frames / duration) and scans
    * every PCM16 sample for exact integer loudness mass and peak. The
    * oracle re-derives all eight fields arithmetically from the envelope
    * construction — the packWav encode + wavParse decode must round-trip
    * bit-exactly to agree. */
  def x159(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") < 100).as[Long]
      .map(id => (id, syntheticWav(id))).toDF("doc_id", "payload")
    Multimodal.audioStatsBatch(payloads).toDF()
      .filter(col("ok"))
      .select(col("doc_id"), col("channels"), col("sample_rate"),
        col("bits"), col("n_frames"), col("duration_ms"), col("sum_abs"),
        col("peak_abs"))
      .orderBy("doc_id")
  }

  /** x160 — AUDIO NEAR-DUP DEDUP via energy-gradient fingerprinting
    * ([[Multimodal.audioFingerprint64]] + [[Dedup.hammingPairs64]]): the
    * audio twin of x158 — "are these two payloads the same RECORDING?"
    * across sample rates and lengths, which header metadata cannot
    * answer. Planted: ids ≡ g (mod 40) carry the same envelope at three
    * (rate, length) renderings (Hamming 0), and id % 12 == 11 carries
    * one edited window (Hamming ≤ 2). Pairs come from the same
    * four-16-bit-band pigeonhole join as images — one machinery, every
    * modality. The oracle re-derives the 64 envelope comparisons and the
    * pair relation arithmetically, never decoding audio. */
  def x160(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") < 120).as[Long]
      .map(id => (id, syntheticWav(id))).toDF("doc_id", "payload")
    // same collapsed chain as x158 (no byte-identical plants here —
    // x168 gates those); reps fingerprint + band once
    val (members, reps) =
      Dedup.collapsePayloadsExact(payloads, "doc_id", "payload")
    val sigs = Multimodal.audioFingerprintBatch(reps, "rid").toDF()
      .filter(col("ok")).select(col("doc_id"), col("afp"))
    val repPairs =
      Dedup.hammingPairs64(sigs, "doc_id", "afp", maxHamming = 3)
    Dedup.expandRepPairs(repPairs, members)
      .unionByName(Dedup.intraRepPairs(members,
        reps.select(col("rid"), lit(0L).as("hamming"))))
      .orderBy("id_a", "id_b")
  }

  /** x161 — AUDIO FRAME SAMPLING ([[Multimodal.sampleAudioFrames]]): the
    * evenly-spaced frame-sample stage of a multimodal pipeline (position
    * `pos` of 5 reads channel-0 of frame ⌊pos·n/5⌋). The sampled frame
    * indexes and values are pure arithmetic of the envelope construction
    * — the oracle re-derives both; the engine must land on exactly the
    * same frames through the real decode. */
  def x161(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") < 60).as[Long]
      .map(id => (id, syntheticWav(id))).toDF("doc_id", "payload")
    Multimodal.sampleAudioFrames(payloads, nFrames = 5).toDF()
      .orderBy("doc_id", "pos")
  }

  /** One deterministic REAL PNG frame for the x162 gate: the x158 block
    * pattern keyed by an arbitrary `seed`, rendered at the variant's
    * resolution (all multiples of 9×8, so dHash pooling recovers the
    * block values exactly). */
  private def syntheticFramePng(seed: Int, variant: Int): Array[Byte] = {
    val (w, h) = variant match {
      case 0 => (18, 16)
      case 1 => (36, 32)
      case _ => (27, 24)
    }
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val bx = x * 9 / w; val by = y * 8 / h
      val v = (seed * 37 + bx * 29 + by * 17 +
        (bx * by * (seed + 3)) % 13) % 199
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic GVID payload for x162: 6 real PNG frames keyed by the
    * id's GROUP (g = id % 30) — ids 30 apart are the same video rendered
    * at a different resolution. Frame f's pattern seed is g·6+f (unique
    * per (group, frame)); ids with id % 12 == 11 replace frame 3 with an
    * out-of-range seed (200+g) — the NEAR-dup plant sharing 5 of 6
    * frames. */
  private[graft] def syntheticVideo(id: Long): Array[Byte] = {
    val g = (id % 30).toInt
    val r = ((id / 30) % 3).toInt
    Multimodal.packVideo((0 until 6).map { f =>
      val seed = if (id % 12 == 11 && f == 3) 200 + g else g * 6 + f
      syntheticFramePng(seed, r)
    })
  }

  /** x163 — INCREMENTAL Hamming near-dup from PERSISTED FINGERPRINT
    * state ([[Dedup.appendFpState]] +
    * [[Dedup.incrementalHammingPairsFromState]]): the steady-state twin
    * x158/x160 need at ingest — the corpus's fingerprints band ONCE ever
    * into bucket-partitioned state, and a batch's near-dup check reads
    * only the `bkt=` partitions its own band words hash to (the postings
    * posture on the Hamming join; spec-pinned pruning). Fixture: the
    * audio corpus (ids < 60) fingerprints into state, a curation delete
    * tombstones every id ≡ 7 (mod 10), and the batch (ids 60–119) asks
    * for its live pairs. The oracle re-derives the envelope bits, the
    * cross-pair Hamming relation, and the tombstone subtraction
    * arithmetically. */
  def x163(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val state = java.nio.file.Files
      .createTempDirectory("graft_x163_state").toFile.getAbsolutePath + "/fp"
    def fps(lo: Long, hi: Long) = Multimodal.audioFingerprintBatch(
        t(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") >= lo && col("doc_id") < hi).as[Long]
          .map(id => (id, syntheticWav(id))).toDF("doc_id", "payload"))
      .toDF().filter(col("ok"))
      .select(col("doc_id"), col("afp"))
    Dedup.appendFpState(fps(0, 60), state, "doc_id", "afp",
      batchTag = Some(1L))
    Dedup.deleteFromFpState(s, state,
      t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 60 && pmod(col("doc_id"), lit(10)) === 7),
      "doc_id", deleteTag = Some(1L))
    Dedup.incrementalHammingPairsFromState(s, state, fps(60, 120),
        "doc_id", "afp", maxHamming = 3)
      .orderBy("new_id", "old_id")
  }

  /** x164 — FINGERPRINT NEAR-DUP CLUSTERS ([[Dedup.fingerprintClusters]]):
    * the collapse stage over any perceptual-signature corpus — x160's
    * pair relation closed into connected components (min-id rep,
    * singletons labeled themselves, sizes by groupBy+join) so a
    * modality corpus dedups to one exemplar per cluster, the x19/x87
    * pattern on fingerprints. The oracle closes the same pair relation
    * with a recursive CTE (transitive reachability, min reachable id),
    * x153's recipe. */
  def x164(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") < 120).as[Long]
      .map(id => (id, syntheticWav(id))).toDF("doc_id", "payload")
    val sigs = Multimodal.audioFingerprintBatch(payloads).toDF()
      .filter(col("ok")).select(col("doc_id"), col("afp"))
    Dedup.fingerprintClusters(sigs, "doc_id", "afp", maxHamming = 3)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** x165 — UNIFIED MEDIA-TYPE DISPATCH ([[Multimodal.mediaMetaBatch]]):
    * one typed-metadata row per payload of a MIXED media lake — ids
    * carry a real PNG/BMP image, a real WAV, a GVID video, or junk
    * bytes by id mod 4, and the dispatcher must classify each by its
    * magic bytes and parse the right header (image dims / audio
    * geometry / container frame count + first-frame dims) with no
    * pixel or sample decode. The oracle re-derives every field from
    * the fixture arithmetic (payload byte SIZES are deliberately not
    * in the output — PNG encoder output length is not portable
    * arithmetic). */
  def x165(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") < 120).as[Long]
      .map { id =>
        val p = (id % 4) match {
          case 0 => syntheticBlockImage(id)
          case 1 => syntheticWav(id)
          case 2 => syntheticVideo(id)
          case _ => s"junk payload $id".getBytes("UTF-8")
        }
        (id, p)
      }.toDF("doc_id", "payload")
    Multimodal.mediaMetaBatch(payloads).toDF()
      .select(col("doc_id"), col("media_type"), col("width"),
        col("height"), col("channels"), col("sample_rate"),
        col("n_frames"), col("duration_ms"))
      .orderBy("doc_id")
  }

  /** x162 — VIDEO NEAR-DUP DEDUP via sampled-frame perceptual hashes
    * ([[Multimodal.videoFrameHashes]] + [[Multimodal.videoNearDupPairs]]):
    * the video member of the modality family (x158 image / x160 audio) —
    * two videos match when ≥ 5 of their 6 frames share a dHash, the
    * shingle-join pattern applied to frame fingerprints (distinct
    * (video, hash) → 64-bit equi-join → group-count; never O(n²) in
    * videos). Frames travel in the GVID frame-stream container (a real
    * codec is the [[Multimodal.BinaryDecoder]]-style plug-in the offline
    * build stubs); each sampled frame is a REAL PNG decoded with
    * ImageIO. Planted: ids ≡ g (mod 30) render the same video at three
    * resolutions (share all 6), id % 12 == 11 replaces one frame
    * (shares 5). The oracle re-derives the per-frame 64 bits and the
    * join arithmetically. */
  def x162(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") < 90).as[Long]
      .map(id => (id, syntheticVideo(id))).toDF("doc_id", "payload")
    // byte-identical videos collapse BEFORE frame hashing (one decode +
    // one shingle row set per distinct byte string); intra-group pairs
    // share the group's full distinct-frame count by construction
    val (members, reps) =
      Dedup.collapsePayloadsExact(payloads, "doc_id", "payload")
    val hashes = Multimodal.videoFrameHashes(reps, everyK = 1,
        idCol = "rid").toDF()
      .filter(col("ok")).select(col("doc_id"), col("phash"))
    val repPairs = Multimodal.videoNearDupPairs(hashes, minShared = 5)
    val groupShared = hashes.groupBy(col("doc_id").as("rid"))
      .agg(countDistinct(col("phash")).as("shared_frames"))
      .filter(col("shared_frames") >= 5)
    Dedup.expandRepPairs(repPairs, members)
      .unionByName(Dedup.intraRepPairs(members, groupShared))
      .orderBy("id_a", "id_b")
  }

  /** x166 — DELETE-AWARE kNN-graph maintenance
    * ([[Similarity.knnGraphDeleteDeltaFromState]]): the graph pillar's
    * missing delete-side increment — a steady-state corpus deletes
    * continuously (takedowns, dedup-driven removal), and before this
    * every tombstone advance forced the full n^1.5 rebuild. Fixture:
    * build on batch 1, delta batch 2, then DELETE every vec_id ≡ 4
    * (mod 9) and retract: affected owners are found through the
    * bucket-pruned `homes` index + the deleted cells' probe partitions
    * and re-rank against live residents only; the result must BE the
    * post-delete full rebuild — engine-checked with a two-way exceptAll
    * (pinned TRUE) and hash-gated against x156's oracle chain with the
    * deleted ids removed from queries and candidates. */
  def x166(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val root = java.nio.file.Files
      .createTempDirectory("graft_x166_state").toFile.getAbsolutePath
    val state = s"$root/ivf"; val graph = s"$root/graph"
    Similarity.appendIvfState(emb.filter(col("vec_id") < 375), state,
      k = 8, iters = 2, batchTag = Some(1L))
    Similarity.buildKnnGraphState(s, state, graph, k = 3, nProbe = 2)
    Similarity.appendIvfState(emb.filter(col("vec_id") >= 375), state,
      k = 8, iters = 2, batchTag = Some(2L))
    Similarity.knnGraphDeltaFromState(s, state, graph, 2L)
    Similarity.deleteFromIvfState(s, state,
      emb.filter(pmod(col("vec_id"), lit(9)) === 4).select(col("vec_id")),
      "vec_id", deleteTag = Some(1L))
    // maxDirtyFraction = 1.0 forces the RETRACTION path — the fixture's
    // hash-spread delete dirties every cell, and the gate exists to pin
    // the retraction arithmetic itself (the delegated-rebuild branch is
    // trivially equal to the rebuild it compares against)
    Similarity.knnGraphDeleteDeltaFromState(s, state, graph,
      maxDirtyFraction = 1.0)
    val inc = Dedup.materialize(Similarity.readKnnGraphState(s, graph))
    // one-job signed-count parity (see x156) — `full` is consumed once
    // and stays lazy
    val full = Similarity.knnGraphFromState(s, state, k = 3, nProbe = 2)
    val matches = Dedup.multisetEqual(full, inc)
    inc
      .select(col("vec_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 4).as("cos_sim"))
      .withColumn("matches_full_rebuild", lit(matches))
      .orderBy("vec_id", "rank")
  }

  /** Deterministic MP4 header bytes for the x167 gate: brand/codec/
    * timescale/duration/dims/track-count all id-derived arithmetic,
    * encoded through [[Multimodal.packMp4]] as real ISO BMFF boxes —
    * the parse side must run the real box walk (fixed-point dims,
    * version-0 mvhd arithmetic) to reproduce the oracle's numbers.
    * Track 1 carries the video geometry; extra tracks are audio. */
  private[graft] def syntheticMp4(id: Long): Array[Byte] = {
    val brands = Seq("isom", "mp42", "M4V ")
    val codecs = Seq("avc1", "hvc1", "vp09")
    val ts = 600 + (id % 5).toInt * 400
    val dur = 1000L + (id % 23) * 777L
    val w = 160 + (id % 7).toInt * 80
    val h = 120 + (id % 4).toInt * 60
    val extraTracks = (id % 3).toInt
    Multimodal.packMp4(brands((id % 3).toInt), ts, dur,
      (w, h, codecs((id % 3).toInt)) +:
        Seq.fill(extraTracks)((0, 0, "mp4a")))
  }

  /** x167 — MP4 (ISO BMFF) HEADER METADATA ([[Multimodal.mp4Parse]] +
    * the [[Multimodal.mediaMeta]] dispatcher row): what a real corpus's
    * videos actually are — the GVID container (x162) stands in only for
    * pixel access. Each payload is a real minimal-box MP4 (`ftyp` +
    * `moov[mvhd, trak[tkhd, …stsd]]`); the engine box-walks brand,
    * track count, version-0 mvhd duration arithmetic, 16.16 fixed-point
    * presentation dims, and the first sample entry's codec fourcc —
    * headers only, no sample data. Ids ≡ 4 (mod 5) are junk bytes the
    * dispatcher must refuse as `bin`. The oracle re-derives every field
    * from the fixture arithmetic. */
  def x167(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") < 120).as[Long]
      .map { id =>
        val p =
          if (id % 5 == 4) s"junk payload $id".getBytes("UTF-8")
          else syntheticMp4(id)
        (id, p)
      }.toDF("doc_id", "payload")
    val dispatch = Multimodal.mediaMetaBatch(payloads).toDF()
      .select(col("doc_id"), col("media_type"))
    Multimodal.mp4MetaBatch(payloads).toDF()
      .join(dispatch, "doc_id")
      .select(col("doc_id"), col("media_type"), col("brand"),
        col("n_tracks"), col("duration_ms"), col("width"), col("height"),
        col("codec"))
      .orderBy("doc_id")
  }

  /** x168 — EXACT-COLLAPSE media near-dup
    * ([[Dedup.collapsePayloadsExact]] + [[Dedup.hammingPairs64]] +
    * [[Dedup.expandRepPairs]]/[[Dedup.intraRepPairs]]): the planted
    * byte-identical case x158/x160/x162's fixtures do not carry —
    * ids ≡ r (mod 48) are the SAME WAV bytes (web corpora: logos,
    * spacers, silence), so k copies of one file would put k rows in
    * every band bucket (O(k²) verified pairs) and decode k times.
    * Collapsed, the group fingerprints once and the emitted relation is
    * REP-level — pair counts linear in k — with group sizes alongside;
    * the member-level relation recovered algebraically is engine-checked
    * equal (two-way exceptAll, pinned TRUE) against the raw
    * uncollapsed join at this fixture scale. The oracle re-derives the
    * rep envelopes, the rep pair relation, and the group sizes
    * arithmetically. */
  def x168(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") < 120).as[Long]
      .map(id => (id, syntheticWav(id % 48))).toDF("doc_id", "payload")
    val (members, reps) =
      Dedup.collapsePayloadsExact(payloads, "doc_id", "payload")
    val sigs = Multimodal.audioFingerprintBatch(reps, "rid").toDF()
      .filter(col("ok")).select(col("doc_id"), col("afp"))
    val repPairs =
      Dedup.hammingPairs64(sigs, "doc_id", "afp", maxHamming = 3)
    // fixture-scale parity: the collapsed+expanded member relation must
    // equal the raw uncollapsed banded join
    val rawSigs = Multimodal.audioFingerprintBatch(payloads).toDF()
      .filter(col("ok")).select(col("doc_id"), col("afp"))
    // one-job signed-count parity (see x156) — both sides are consumed
    // exactly once by the check, so neither needs a checkpoint
    val raw = Dedup.hammingPairs64(rawSigs, "doc_id", "afp", maxHamming = 3)
    val expanded = Dedup.expandRepPairs(repPairs, members)
      .unionByName(Dedup.intraRepPairs(members,
        reps.select(col("rid"), lit(0L).as("hamming"))))
    val matches = Dedup.multisetEqual(raw, expanded)
    val sizes = members.groupBy(col("rid")).agg(count(lit(1)).as("n"))
    repPairs
      .join(sizes.select(col("rid").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("rid").as("id_b"), col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"), col("n_a"),
        col("n_b"))
      .withColumn("collapsed_matches_raw", lit(matches))
      .orderBy("id_a", "id_b")
  }

  /** Deterministic GVID payload for the x169 gate: x162's 6 group-keyed
    * frames PLUS two corpus-wide lead-in frames (seeds 300/301 — the
    * black-intro/logo-card hazard) at positions 0/1. The lead-ins render
    * at each video's own resolution but dHash identically (the block
    * pattern pools exactly at every 9×8 multiple), so every video shares
    * them with every other. */
  private[graft] def syntheticVideoLeadIn(id: Long): Array[Byte] = {
    val g = (id % 30).toInt
    val r = ((id / 30) % 3).toInt
    Multimodal.packVideo((0 until 8).map { f =>
      val seed =
        if (f == 0) 300
        else if (f == 1) 301
        else if (id % 12 == 11 && f == 5) 200 + g
        else g * 6 + (f - 2)
      syntheticFramePng(seed, r)
    })
  }

  /** x169 — HOT-FRAME CAP for video near-dup
    * ([[Multimodal.videoNearDupPairs]] `maxFrameDf`): a corpus-wide
    * common frame (black lead-in, studio logo) is a stopword shingle —
    * one hash shared by f videos contributes f²/2 join rows and no
    * signal. The cap drops hashes whose video-document-frequency
    * exceeds it BEFORE the join (the inverted index's stopword
    * posture), so pair counts stay bounded by real shared content and
    * true-dup recall is unchanged: with the two planted lead-ins
    * dropped (df = 90 > 10), the surviving relation is exactly x162's —
    * group pairs share their 6 distinctive frames, edit plants 5. The
    * oracle re-derives the per-frame hashes, the document frequencies,
    * the cap, and the thresholded join arithmetically. */
  def x169(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") < 90).as[Long]
      .map(id => (id, syntheticVideoLeadIn(id))).toDF("doc_id", "payload")
    val hashes = Multimodal.videoFrameHashes(payloads, everyK = 1).toDF()
      .filter(col("ok")).select(col("doc_id"), col("phash"))
    Multimodal.videoNearDupPairs(hashes, minShared = 5, maxFrameDf = 10)
      .orderBy("id_a", "id_b")
  }

  /** x170 — PAGERANK SEMANTIC CENTRALITY over the kNN graph
    * ([[Similarity.pageRankFromState]]): the link-analysis curation
    * primitive (CommonCrawl-style graph quality weighting) applied to
    * the semantic graph — a vector many others count among their
    * nearest neighbors is a dense-region exemplar; donors split their
    * mass 1/outdeg, so hub artifacts donate little. Fixture: x150's IVF
    * chain (train k=8, delete vec_id ≡ 4 mod 9), top-3 graph, FIVE
    * power-iteration rounds at d = 0.85 with uniform teleport and
    * dangling mass redistributed — deterministic by construction, so
    * the oracle re-derives every round as an unrolled CTE over the
    * x150 edge relation. */
  def x170(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x170_state").toFile.getAbsolutePath + "/ivf"
    Similarity.appendIvfState(emb, state, k = 8, iters = 2,
      batchTag = Some(1L))
    Similarity.deleteFromIvfState(s, state,
      emb.filter(pmod(col("vec_id"), lit(9)) === 4).select(col("vec_id")),
      "vec_id", deleteTag = Some(1L))
    Similarity.pageRankFromState(s, state, k = 3, iters = 5)
      .select(col("vec_id"), round(col("pr"), 7).as("pr"))
      .orderBy("vec_id")
  }

  /** x171 — SEEDED QUALITY PROPAGATION (personalized PageRank,
    * [[Similarity.pageRankFromState]] with a `teleport` vector): the
    * quality-bootstrapping move — teleport mass rides a TRUSTED SEED
    * SET (here vec_id < 50, weight vec_id mod 5 + 1; think
    * Wikipedia-seeded crawl scoring), so every vector's score is its
    * seed-reachability through the semantic graph; vectors the seeds
    * cannot reach in 5 rounds score exactly 0. Seed weight landing on
    * DELETED vectors is dropped before normalization (the distribution
    * sums to 1 over live nodes). Same graph and round arithmetic as
    * x170. */
  def x171(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x171_state").toFile.getAbsolutePath + "/ivf"
    Similarity.appendIvfState(emb, state, k = 8, iters = 2,
      batchTag = Some(1L))
    Similarity.deleteFromIvfState(s, state,
      emb.filter(pmod(col("vec_id"), lit(9)) === 4).select(col("vec_id")),
      "vec_id", deleteTag = Some(1L))
    val seeds = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("vid"),
        (pmod(col("vec_id"), lit(5)) + 1).cast("double").as("tp"))
    Similarity.pageRankFromState(s, state, k = 3, iters = 5,
        teleport = Some(seeds))
      .select(col("vec_id"), round(col("pr"), 7).as("pr"))
      .orderBy("vec_id")
  }

  /** Deterministic MP3 bytes for the x172 gate: version / bitrate index
    * / sample-rate index / mode / frame count / ID3v2 size all
    * id-derived, encoded through [[Multimodal.packMp3]] as a real CBR
    * Layer III stream (spec-layout frame headers, bit-faithful syncsafe
    * tag size) — the parse side must skip the tag by its syncsafe
    * arithmetic and decode the header tables to reproduce the oracle's
    * numbers. */
  private[graft] def syntheticMp3(id: Long): Array[Byte] = {
    val versions = Seq("1", "2", "2.5")
    Multimodal.packMp3(
      versions((id % 3).toInt),
      bitrateIdx = 1 + (id % 14).toInt,
      srIdx = ((id % 5) % 3).toInt,
      mono = id % 2 == 1,
      nFrames = 8 + (id % 21).toInt,
      id3Bytes = if (id % 4 == 0) 0 else 50 + (id % 3).toInt * 37)
  }

  /** x172 — MP3 HEADER METADATA ([[Multimodal.mp3Parse]] + the
    * [[Multimodal.mediaMeta]] dispatcher row): with WAV (x159) and MP4
    * (x167) this covers what a real crawl's audio actually is. Each
    * payload is a real CBR Layer III stream behind an optional ID3v2
    * tag; the engine skips the tag via its syncsafe size, decodes
    * version / bitrate / sample-rate / channel-mode from the spec
    * tables, and derives the CBR frame count and duration — headers
    * only, sample bytes never read. Ids ≡ 4 (mod 5) are junk the
    * dispatcher must refuse as `bin`. The oracle re-derives every field
    * from the fixture arithmetic with the bitrate/sample-rate tables as
    * VALUES relations. */
  def x172(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") < 120).as[Long]
      .map { id =>
        val p =
          if (id % 5 == 4) s"not an mp3 $id".getBytes("UTF-8")
          else syntheticMp3(id)
        (id, p)
      }.toDF("doc_id", "payload")
    val dispatch = Multimodal.mediaMetaBatch(payloads).toDF()
      .select(col("doc_id"), col("media_type"))
    Multimodal.mp3MetaBatch(payloads).toDF()
      .join(dispatch, "doc_id")
      .select(col("doc_id"), col("media_type"), col("version"),
        col("bitrate_kbps"), col("sample_rate"), col("channels"),
        col("n_frames"), col("duration_ms"))
      .orderBy("doc_id")
  }

  /** x173 — SEMANTIC DECONTAMINATION ([[Similarity.semanticContaminated]]):
    * the embedding-level third rail beside the n-gram (x37/x38) and
    * bloom (x56) methods — an n-gram scan cannot see a PARAPHRASED eval
    * item leaking into training data, but its embedding still lands next
    * to the eval item's. Fixture: the x150 IVF chain (train k=8, delete
    * vec_id ≡ 4 mod 9), eval suite = the raw vectors of vec_id < 15
    * re-keyed +5000 (planted exact leakage — every live one of them
    * must flag its corpus copy at cos 1), threshold 0.95, probed cells
    * only. One row per contaminated LIVE corpus vector with the closest
    * contaminating eval id — the drop-list a curation pass anti-joins,
    * with attribution. Tombstoned vectors never flag. */
  def x173(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x173_state").toFile.getAbsolutePath + "/ivf"
    Similarity.appendIvfState(emb, state, k = 8, iters = 2,
      batchTag = Some(1L))
    Similarity.deleteFromIvfState(s, state,
      emb.filter(pmod(col("vec_id"), lit(9)) === 4).select(col("vec_id")),
      "vec_id", deleteTag = Some(1L))
    val evalSet = emb.filter(col("vec_id") < 15)
      .select((col("vec_id") + 5000).as("eval_id"), col("embedding"))
    Similarity.semanticContaminated(s, state, evalSet, minCos = 0.95)
      .select(col("vec_id"), col("eval_id"),
        round(col("max_cos"), 4).as("max_cos"))
      .orderBy("vec_id")
  }

  /** x174 — FULL-DECONTAM CURATION CAPSTONE ([[Curate.curateFull]]): the
    * three decontamination rails this library carries — exact 13-gram
    * (x37/x38), Bloom-prefiltered 10-gram (x56's shape at a second gram
    * width), and SEMANTIC over the persisted IVF state (x173) — composed
    * into ONE declared curation plan: raw corpus scanned once (annotate →
    * filter → exact dedup), both gram rails over the materialized
    * survivors, the semantic rail answered from probed IVF cells, drop
    * lists unioned into one anti-join. Eval set = every 37th doc; eval
    * VECTORS = the same ids' embeddings re-keyed +5000 (planted exact
    * leakage — the semantic rail must knock out each eval item's own
    * corpus copy even where the gram rails' self-knockout already did,
    * plus any paraphrase-close neighbor at cos ≥ 0.95). The oracle
    * re-derives all three rails: the x43 CTE chain, the 10-gram variant,
    * and the full k-means/probe/cosine chain. */
  def x174(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    val state = java.nio.file.Files
      .createTempDirectory("graft_x174_state").toFile.getAbsolutePath + "/ivf"
    Similarity.appendIvfState(emb, state, k = 8, iters = 2,
      batchTag = Some(1L))
    val evalVecs = emb.filter(col("vec_id") % 37 === 0)
      .select((col("vec_id") + 5000).as("eval_id"), col("embedding"))
    Curate.curateFull(s, docs, docs.filter(col("doc_id") % 37 === 0),
        state, evalVecs, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** x175 — PAGERANK OVER THE MAINTAINED GRAPH STATE
    * ([[Similarity.pageRankFromGraphState]]): the steady-state scoring
    * posture under the DuckDB oracle — x170 gates PageRank over a graph
    * built fresh per call; this gates it over the DELTA-MAINTAINED edge
    * relation after the full lifecycle x166 pins (build on batch 1 →
    * ingest delta batch 2 → tombstone every vec_id ≡ 4 mod 9 → delete
    * retraction), so a score refresh costs the batch delta plus the
    * bounded rounds, never the per-call n^1.5 rebuild. Nodes come from
    * the maintained `homes` index (isolated live vectors keep teleport
    * mass). The oracle re-derives the post-lifecycle graph directly
    * (the x166 relation) and unrolls the five rounds. */
  def x175(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val root = java.nio.file.Files
      .createTempDirectory("graft_x175_state").toFile.getAbsolutePath
    val state = s"$root/ivf"; val graph = s"$root/graph"
    Similarity.appendIvfState(emb.filter(col("vec_id") < 375), state,
      k = 8, iters = 2, batchTag = Some(1L))
    Similarity.buildKnnGraphState(s, state, graph, k = 3, nProbe = 2)
    Similarity.appendIvfState(emb.filter(col("vec_id") >= 375), state,
      k = 8, iters = 2, batchTag = Some(2L))
    Similarity.knnGraphDeltaFromState(s, state, graph, 2L)
    Similarity.deleteFromIvfState(s, state,
      emb.filter(pmod(col("vec_id"), lit(9)) === 4).select(col("vec_id")),
      "vec_id", deleteTag = Some(1L))
    Similarity.knnGraphDeleteDeltaFromState(s, state, graph,
      maxDirtyFraction = 1.0)
    Similarity.pageRankFromGraphState(s, graph, iters = 5)
      .select(col("vec_id"), round(col("pr"), 7).as("pr"))
      .orderBy("vec_id")
  }

  /** x176 — GRAPH-STATE LAYOUT COMPACTION IS A SEMANTIC NO-OP
    * ([[Similarity.compactGraphState]]): x175's full lifecycle (build →
    * ingest delta → tombstone → delete retraction) with a compaction
    * after EACH maintenance verb — the steady-state file-layout GC a
    * long-lived graph needs (every batch delta appends one file set per
    * touched probe partition; B batches = B× the open cost on every
    * pruned read). The scores must equal x175's exactly — same oracle
    * chain — proving the swap-protocol rewrite changes bytes-on-disk
    * layout and nothing else, and that the deltas compose across a
    * compaction boundary (the delete retraction here reads
    * compacted probes/homes). */
  def x176(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val root = java.nio.file.Files
      .createTempDirectory("graft_x176_state").toFile.getAbsolutePath
    val state = s"$root/ivf"; val graph = s"$root/graph"
    Similarity.appendIvfState(emb.filter(col("vec_id") < 375), state,
      k = 8, iters = 2, batchTag = Some(1L))
    Similarity.buildKnnGraphState(s, state, graph, k = 3, nProbe = 2)
    Similarity.appendIvfState(emb.filter(col("vec_id") >= 375), state,
      k = 8, iters = 2, batchTag = Some(2L))
    Similarity.knnGraphDeltaFromState(s, state, graph, 2L)
    Similarity.compactGraphState(s, graph)
    Similarity.deleteFromIvfState(s, state,
      emb.filter(pmod(col("vec_id"), lit(9)) === 4).select(col("vec_id")),
      "vec_id", deleteTag = Some(1L))
    Similarity.knnGraphDeleteDeltaFromState(s, state, graph,
      maxDirtyFraction = 1.0)
    Similarity.compactGraphState(s, graph)
    Similarity.pageRankFromGraphState(s, graph, iters = 5)
      .select(col("vec_id"), round(col("pr"), 7).as("pr"))
      .orderBy("vec_id")
  }

  def x114(s: SparkSession, dir: String): DataFrame = {
    val emb = driftedEmb(s, dir)
    val state = java.nio.file.Files
      .createTempDirectory("graft_x114_state").toFile.getAbsolutePath
    val b1 = col("vec_id") < 8 || pmod(col("vec_id"), lit(10)) < 4
    val b3 = pmod(col("vec_id"), lit(10)) >= 7
    Similarity.appendIvfState(emb.filter(b1), state,
      k = 8, iters = 2, batchTag = Some(1L))
    Similarity.appendIvfState(emb.filter(!b1 && !b3), state,
      k = 8, iters = 2, batchTag = Some(2L))
    Similarity.appendIvfState(emb.filter(!b1 && b3), state,
      k = 8, iters = 2, batchTag = Some(3L))
    Similarity.ivfStateAudit(s, state, emb.filter(col("vec_id") < 20),
        topK = 10, nProbe = 2, recallFloor = 0.8, occupancyCeil = 2.0)
      .orderBy("cid")
  }

  /** e01 — the FULL ETL pipeline under the oracle gate: per document, build
    * mixed content (one flat JSON fragment + the text body), run
    * detect → extract → infer → pivot → normalize, and emit the normalized
    * wide frame. Each doc yields one json record (doc_id, lang fields) and
    * one text record; the oracle reconstructs the frame relationally.
    * Filenames are zero-padded doc_ids so the pipeline's (file, precedence,
    * ordinal) row order is lexicographically stable. */
  def e01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val files = t(s, dir, "documents")
      .select(
        lpad(col("doc_id").cast("string"), 8, "0").as("f"),
        concat(lit("{\"doc_id\": "), col("doc_id"),
          lit(", \"lang\": \""), col("lang"), lit("\"}\n"), col("text")).as("c"))
      .as[(String, String)]
    // process() runs its eager actions (counts, inference, stats) while the
    // record dataset is cached; release the cache before handing the lazy
    // frame to the driver — one recompute on materialization beats leaking
    // cached blocks per invocation (Bench runs this twice per session).
    val r = graft.etl.Pipeline.process(s, files)
    r.cleanup()
    r.frame
  }

  /** e02 — the FULL detector surface under the oracle gate: each document's
    * content carries an HTML block (D1/E1), a flat JSON fragment (D2/E2), a
    * 72-char base64 run (D3/E5), and the text body (D4/E4). Reference
    * semantics the oracle mirrors: the base64 run is NOT stripped from the
    * residual, so it surfaces as BOTH a media record and a text line; html
    * and media contribute only type/source_index after artifact pruning. */
  def e02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b64 = "A" * 72 // matches the generic ≥64-char base64 pattern
    val files = t(s, dir, "documents")
      .select(
        lpad(col("doc_id").cast("string"), 8, "0").as("f"),
        concat(
          lit("<p>intro paragraph block</p>\n"),
          lit("{\"doc_id\": "), col("doc_id"),
          lit(", \"lang\": \""), col("lang"), lit("\"}\n"),
          lit(b64 + "\n"),
          col("text")).as("c"))
      .as[(String, String)]
    val r = graft.etl.Pipeline.process(s, files)
    r.cleanup()
    r.frame
  }

  /** e03 — chunked large-file mode under the oracle gate: the same corpus as
    * e01 concatenated into ONE blank-line-separated file, processed with
    * [[graft.etl.Pipeline.processChunkedFile]] (parallel per-segment
    * detection + distributed dedup/ordinal reconstruction). The driver-side
    * collect here is TEST HARNESS ONLY — it synthesizes the input file; the
    * operator under test reads it back distributed. */
  def e03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .orderBy("doc_id")
      .as[(Long, String, String)].collect()
    val sb = new StringBuilder
    docs.foreach { case (id, lang, text) =>
      sb.append(s"""{"doc_id": $id, "lang": "$lang"}\n\n""")
      sb.append(text).append("\n\n")
    }
    // one deterministic file per dataset, overwritten each invocation (no
    // per-call temp accumulation across bench/verify runs) and removed at
    // JVM exit
    val f = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_e03_${math.abs(dir.hashCode)}.txt")
    java.nio.file.Files.writeString(f, sb.toString)
    f.toFile.deleteOnExit()
    val r = graft.etl.Pipeline.processChunkedFile(s, f.toString)
    r.cleanup()
    r.frame
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = StrictMap(
    "e01_pipeline" -> (e01 _),
    "e02_detectors" -> (e02 _),
    "e03_chunked" -> (e03 _),
    "x01_dedup_exact" -> (x01 _),
    "x02_dedup_minhash" -> (x02 _),
    "x03_dedup_simhash" -> (x03 _),
    "x04_dedup_jaccard" -> (x04 _),
    "x05_dedup_embed" -> (x05 _),
    "x06_ann_brute" -> (x06 _),
    "x07_ann_ivf" -> (x07 _),
    "x08_lang_id" -> (x08 _),
    "x09_quality" -> (x09 _),
    "x10_token_count" -> (x10 _),
    "x11_fingerprint" -> (x11 _),
    "x12_multimodal" -> (x12 _),
    "x13_sessionize" -> (x13 _),
    "x14_lang_ngram" -> (x14 _),
    "x15_salted_agg" -> (x15 _),
    "x16_edit_distance" -> (x16 _),
    "x17_dedup_lsh" -> (x17 _),
    "x18_edit_lsh" -> (x18 _),
    "x19_dedup_components" -> (x19 _),
    "x20_stratified_sample" -> (x20 _),
    "x21_top_quality" -> (x21 _),
    "x22_multimodal_features" -> (x22 _),
    "x23_image_meta" -> (x23 _),
    "x24_dedup_corpus" -> (x24 _),
    "x25_asof_join" -> (x25 _),
    "x26_range_join" -> (x26 _),
    "x27_asof_forward" -> (x27 _),
    "x28_asof_nearest" -> (x28 _),
    "x29_tfidf" -> (x29 _),
    "x30_split_assign" -> (x30 _),
    "x31_pack_bins" -> (x31 _),
    "x32_simhash_pairs" -> (x32 _),
    "x33_embed_dup_pairs" -> (x33 _),
    "x34_pack_assemble" -> (x34 _),
    "x35_redact" -> (x35 _),
    "x36_repetition" -> (x36 _),
    "x37_decontaminate" -> (x37 _),
    "x38_decontaminate_shuffle" -> (x38 _),
    "x39_asof_sql" -> (x39 _),
    "x40_dedup_incremental" -> (x40 _),
    "x41_inverted_index" -> (x41 _),
    "x42_term_search" -> (x42 _),
    "x43_curate" -> (x43 _),
    "x44_ann_kmeans" -> (x44 _),
    "x45_curate_pack" -> (x45 _),
    "x46_ann_pq" -> (x46 _),
    "x47_ann_ivfpq" -> (x47 _),
    "x48_semantic_dedup" -> (x48 _),
    "x49_token_budget" -> (x49 _),
    "x50_contam_score" -> (x50 _),
    "x51_clf_score" -> (x51 _),
    "x52_dup_ngram" -> (x52 _),
    "x53_bm25" -> (x53 _),
    "x54_hybrid_rrf" -> (x54 _),
    "x55_unigram_lm" -> (x55 _),
    "x56_decontaminate_bloom" -> (x56 _),
    "x57_zorder" -> (x57 _),
    "x58_latest_by_key" -> (x58 _),
    "x59_sketch_profile" -> (x59 _),
    "x60_median_bound" -> (x60 _),
    "x61_zorder_read" -> (x61 _),
    "x62_funnel" -> (x62 _),
    "x63_retention" -> (x63 _),
    "x64_weighted_sample" -> (x64 _),
    "x65_rebalance_mix" -> (x65 _),
    "x66_chunk_windows" -> (x66 _),
    "x67_rate_anomaly" -> (x67 _),
    "x68_window_pack" -> (x68 _),
    "x69_normalize" -> (x69 _),
    "x70_source_report" -> (x70 _),
    "x71_top_duplicates" -> (x71 _),
    "x72_props_promote" -> (x72 _),
    "x73_bpe_pairs" -> (x73 _),
    "x74_quantize_int8" -> (x74 _),
    "x75_source_overlap" -> (x75 _),
    "x76_transitions" -> (x76 _),
    "x77_snapshot_diff" -> (x77 _),
    "x78_degree_histogram" -> (x78 _),
    "x79_containment" -> (x79 _),
    "x80_cluster_sizes" -> (x80 _),
    "x81_skew_audit" -> (x81 _),
    "x82_exact_median" -> (x82 _),
    "x83_quartiles" -> (x83 _),
    "x84_rolling_active" -> (x84 _),
    "x85_gap_cadence" -> (x85 _),
    "x86_leakage_free_split" -> (x86 _),
    "x87_keep_best" -> (x87 _),
    "x88_ann_recall" -> (x88 _),
    "x89_dedup_from_state" -> (x89 _),
    "x90_embedding_profile" -> (x90 _),
    "x91_contam_attribution" -> (x91 _),
    "x92_source_dup_matrix" -> (x92 _),
    "x93_bpe_train" -> (x93 _),
    "x94_vocab_coverage" -> (x94 _),
    "x95_pack_efficiency" -> (x95 _),
    "x96_effective_tokens" -> (x96 _),
    "x97_novelty" -> (x97 _),
    "x98_phrase_search" -> (x98 _),
    "x99_dup_transitivity" -> (x99 _),
    "x100_lang_confusion" -> (x100 _),
    "x101_bpe_train_sampled" -> (x101 _),
    "x102_ann_recall_clustered" -> (x102 _),
    "x103_dup_spans" -> (x103 _),
    "x104_temperature_mix" -> (x104 _),
    "x105_hard_negatives" -> (x105 _),
    "x106_ann_from_state" -> (x106 _),
    "x107_vector_dup_from_state" -> (x107 _),
    "x108_substring_dedup" -> (x108 _),
    "x109_stats_from_state" -> (x109 _),
    "x110_bm25_from_state" -> (x110 _),
    "x111_temperature_sample" -> (x111 _),
    "x112_split_leakage" -> (x112 _),
    "x113_threshold_sweep" -> (x113 _),
    "x114_ivf_state_audit" -> (x114 _),
    "x115_postings_delete" -> (x115 _),
    "x116_substring_fixpoint" -> (x116 _),
    "x117_bpe_budget" -> (x117 _),
    "x118_trained_scorer" -> (x118 _),
    "x119_ivf_delete" -> (x119 _),
    "x120_stats_delete" -> (x120 _),
    "x121_budget_from_state" -> (x121 _),
    "x122_ivf_recluster" -> (x122 _),
    "x123_state_lifecycle" -> (x123 _),
    "x124_sample_from_state" -> (x124 _),
    "x125_bm25_asof" -> (x125 _),
    "x126_hybrid_from_state" -> (x126 _),
    "x127_swap_recovery" -> (x127 _),
    "x128_state_consistency" -> (x128 _),
    "x129_ivf_asof" -> (x129 _),
    "x130_stats_asof" -> (x130 _),
    "x131_budget_asof" -> (x131 _),
    "x132_lsh_asof" -> (x132 _),
    "x133_delete_everywhere" -> (x133 _),
    "x134_history_truncate" -> (x134 _),
    "x135_snapshot_diff" -> (x135 _),
    "x136_mmr_from_state" -> (x136 _),
    "x137_capped_mix" -> (x137 _),
    "x138_phrase_from_state" -> (x138 _),
    "x139_lsh_truncate" -> (x139 _),
    "x140_ivf_truncate" -> (x140 _),
    "x141_stats_truncate" -> (x141 _),
    "x142_tokenizer_truncate" -> (x142 _),
    "x143_ingest_everywhere" -> (x143 _),
    "x144_state_branch" -> (x144 _),
    "x145_writer_lease" -> (x145 _),
    "x146_manifest_commit" -> (x146 _),
    "x147_consistency_asof" -> (x147 _),
    "x148_state_health" -> (x148 _),
    "x149_fast_forward" -> (x149 _),
    "x150_knn_graph" -> (x150 _),
    "x151_mutual_nn" -> (x151 _),
    "x152_retention_policy" -> (x152 _),
    "x153_semantic_clusters" -> (x153 _),
    "x154_export_shards" -> (x154 _),
    "x155_ivf_sampled_train" -> (x155 _),
    "x156_knn_graph_delta" -> (x156 _),
    "x157_export_write" -> (x157 _),
    "x158_image_neardup" -> (x158 _),
    "x159_audio_stats" -> (x159 _),
    "x160_audio_neardup" -> (x160 _),
    "x161_audio_frames" -> (x161 _),
    "x162_video_neardup" -> (x162 _),
    "x163_fp_state_pairs" -> (x163 _),
    "x164_fp_clusters" -> (x164 _),
    "x165_media_meta" -> (x165 _),
    "x166_knn_graph_delete" -> (x166 _),
    "x167_mp4_meta" -> (x167 _),
    "x168_media_collapse" -> (x168 _),
    "x169_video_hotframe" -> (x169 _),
    "x170_pagerank" -> (x170 _),
    "x171_seeded_pagerank" -> (x171 _),
    "x172_mp3_meta" -> (x172 _),
    "x173_semantic_decontam" -> (x173 _),
    "x174_curate_full" -> (x174 _),
    "x175_pagerank_graph_state" -> (x175 _),
    "x176_graph_compact" -> (x176 _)
  )

  /** Shared DuckDB CTE chain for the curation pipeline (x43/x45): quality +
    * lang-ID scoring → filter → keep-min-id dedup (`u`) → 13-gram eval
    * contamination (`contam`, eval = every 37th doc). Final selects differ
    * per query. */
  /** Shared n=13 decontamination oracle (x38 exact-shuffle path, x56 Bloom
    * pre-filter path — both compute this exact relation). */
  /** DuckDB reconstruction of [[Bpe.trainMerges]] (x93): `n` unrolled
    * iterations of pair-count → argmax → list_reduce re-encode. Pair keys
    * join left/right with chr(1) (sorts below every token byte ⇒ the
    * single-key ORDER BY equals Spark's (n DESC, a, b) tie order); the
    * fold seeds the accumulator with the first singleton element, which
    * matches Spark's empty-seed fold because the first symbol can never
    * satisfy the tail-merge guard. */
  private def bpeOracleSql(numMerges: Int, docWhere: String = ""): String = {
    val iters = (1 to numMerges).map { i =>
      s"""p$i AS (
         |  SELECT unnest(list_transform(range(1, len(t)),
         |    j -> t[CAST(j AS INT)] || chr(1) || t[CAST(j AS INT) + 1])) AS p
         |  FROM it${i - 1}),
         |m$i AS (
         |  SELECT string_split(p, chr(1))[1] AS pa,
         |    string_split(p, chr(1))[2] AS pb, n
         |  FROM (SELECT p, CAST(count(*) AS BIGINT) AS n FROM p$i
         |        GROUP BY p ORDER BY n DESC, p LIMIT 1)),
         |it$i AS (
         |  SELECT list_reduce(list_transform(t, x -> [x]), (acc, x) ->
         |    CASE WHEN len(acc) > 0 AND acc[-1] = m$i.pa AND x[1] = m$i.pb
         |         THEN list_concat(list_slice(acc, 1, len(acc) - 1),
         |           [m$i.pa || chr(2) || m$i.pb])
         |         ELSE list_concat(acc, x) END) AS t
         |  FROM it${i - 1}, m$i)""".stripMargin
    }.mkString(",\n")
    val union = (1 to numMerges).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS step, pa AS "left", pb AS "right", n FROM m$i""")
      .mkString("\nUNION ALL\n")
    s"""WITH it0 AS (
       |  SELECT string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2$docWhere),
       |$iters
       |$union
       |ORDER BY step""".stripMargin
  }

  /** Shared x17/x92 oracle: the full relational LSH pair set with
    * rounded shingle-jaccard at threshold 0.5. */
  private lazy val lshJaccardOracleSql: String = lshOracleSql(
    docWhere = "",
    select = """round(CAST(len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)
               |  / len(list_distinct(list_concat(sa.shl, sb.shl))), 4) AS jaccard""".stripMargin,
    where = """CAST(len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)
              |  / len(list_distinct(list_concat(sa.shl, sb.shl))) >= 0.5""".stripMargin)

  /** Shared x40/x89 oracle: the full relational LSH filtered to
    * cross-boundary (corpus < 400 ≤ batch) pairs. */
  private lazy val incrementalDedupOracleSql: String =
    lshIncrPairsOracleSql("id_a < 400 AND id_b >= 400")

  /** The x40/x89 incremental-pair derivation with the corpus/batch split
    * expressed by `pairWhere` — every x132 as-of snapshot is the same
    * relation with that version's corpus cut as the filter. */
  private def lshIncrPairsOracleSql(pairWhere: String): String =
    s"""SELECT id_b AS new_id, id_a AS old_id, jaccard
       |FROM (${lshOracleSql(
             docWhere = "",
             select = """round(CAST(len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)
                        |  / len(list_distinct(list_concat(sa.shl, sb.shl))), 4) AS jaccard""".stripMargin,
             where = """CAST(len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)
                       |  / len(list_distinct(list_concat(sa.shl, sb.shl))) >= 0.5""".stripMargin)})
       |WHERE $pairWhere
       |ORDER BY new_id, old_id""".stripMargin

  private val decontam13OracleSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, greatest(len(t) - 11, 1)),
      |    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4],
      |      t[i+5], t[i+6], t[i+7], t[i+8], t[i+9], t[i+10], t[i+11],
      |      t[i+12])))) AS gram
      |  FROM toks),
      |evg AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 37 = 0),
      |corpus AS (SELECT doc_id, gram FROM sh WHERE doc_id < 400)
      |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS hits
      |FROM corpus c JOIN evg USING (gram)
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  private val curateOracleCtes: String =
    """f AS (
      |  SELECT doc_id, text,
      |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
      |    length(replace(text, ' ', '')) AS n_nonspace,
      |    list_distinct(string_split(text, ' ')) AS tok
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, text, n_words,
      |    round(CAST(n_nonspace AS DOUBLE) / n_words, 4) AS avg_word_len,
      |    round(CAST(len(list_intersect(tok,
      |      ['the','and','of','to','in','is','it','that'])) AS DOUBLE) / n_words, 4)
      |      AS stop_ratio,
      |    CAST(len(list_intersect(tok, ['der','die','das','und','ist','nicht','mit','ein'])) AS BIGINT) AS s_de,
      |    CAST(len(list_intersect(tok, ['the','and','of','to','in','is','it','that'])) AS BIGINT) AS s_en,
      |    CAST(len(list_intersect(tok, ['el','los','que','y','un','por','con','para'])) AS BIGINT) AS s_es,
      |    CAST(len(list_intersect(tok, ['le','les','et','est','une','dans','pour','sur'])) AS BIGINT) AS s_fr,
      |    CAST(len(list_intersect(tok, ['的','是','不','了','在','人','我','他'])) AS BIGINT) AS s_zh
      |  FROM f),
      |q AS (
      |  SELECT doc_id, text, n_words,
      |    round(least(CAST(n_words AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * 0.5
      |      + least(stop_ratio * 10.0, CAST(1.0 AS DOUBLE)) * 0.3
      |      + CASE WHEN avg_word_len BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END, 4)
      |      AS quality_score,
      |    CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
      |         WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
      |         WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
      |         WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
      |         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
      |         ELSE 'zh' END AS lang_pred
      |  FROM s),
      |kept AS (
      |  SELECT * FROM q WHERE lang_pred = 'en' AND quality_score >= 0.6),
      |dd AS (
      |  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      |  FROM kept),
      |u AS (
      |  SELECT doc_id, text, lang_pred, quality_score, n_words
      |  FROM dd WHERE rn = 1),
      |evt AS (SELECT string_split(text, ' ') AS t FROM documents
      |        WHERE doc_id % 37 = 0),
      |evg AS (
      |  SELECT DISTINCT unnest(list_distinct(list_transform(
      |    range(1, greatest(len(t) - 11, 1)),
      |    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4],
      |      t[i+5], t[i+6], t[i+7], t[i+8], t[i+9], t[i+10], t[i+11],
      |      t[i+12])))) AS gram
      |  FROM evt),
      |ug AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, greatest(len(t) - 11, 1)),
      |    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4],
      |      t[i+5], t[i+6], t[i+7], t[i+8], t[i+9], t[i+10], t[i+11],
      |      t[i+12])))) AS gram
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM u)),
      |contam AS (SELECT DISTINCT ug.doc_id FROM ug JOIN evg USING (gram))""".stripMargin

  /** Shared DuckDB scaffolding for the ANN oracles (x44/x46/x47):
    * double-cast embeddings, the deterministic coarse k-means derivation
    * (seeds = 8 lowest ids, 2 Lloyd steps, 6-dp means), and the
    * per-subspace PQ derivation (names s-prefixed so both chains can
    * coexist in one WITH clause). Text identical to the original tested
    * oracles — x47 composes the two unchanged. */
  /** Shared BM25 top-10 oracle (x53 batch path; x110 computes the
    * identical relation from persisted postings state). */
  private val bm25TopKOracleSql: String = bm25TopKOracleSqlWhere("")

  /** The x119 delete-contract retrieval chain (x106 trained on batch 1,
    * deleted vids excluded from the scoring side only) — shared verbatim
    * by the x119 entry and x123's ann section (the capstone adds
    * compaction, which must not change answers). */
  private lazy val ivfDeleteOracleSql: String =
    ivfSnapshotOracleSql(" AND af.vid % 5 <> 2")

  /** The frozen-centroid probed-retrieval chain (x106) with the SCORING
    * side restricted by `scoreWhere` — centroids always train on batch 1
    * (vec_id < 250, the freeze contract), so any corpus restriction is a
    * pure filter on the assigned vectors: the x119 delete contract
    * (`AND af.vid % 5 <> 2`) and every x129 as-of snapshot are the same
    * chain with different cuts. */
  /** The x136 MMR oracle: candidate pool = the probed k-means chain's
    * top-20 per query, then the five greedy picks UNROLLED — step t
    * scores every not-yet-picked candidate `0.7·rel − (1.0−0.7)·max
    * sim-to-picked` (the subtraction written out so both engines
    * compute the identical double) and takes the row_number()=1 row
    * with the engine's tie order (score DESC, neighbor_id). */
  private def mmrOracleSql: String = {
    val steps = (2 to 5).map { t =>
      s"""q$t AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    0.7 * c.rel - (1.0 - 0.7) * max(sm.s) AS sc
         |  FROM cv c
         |  JOIN sims sm ON sm.query_id = c.query_id
         |    AND sm.i = c.neighbor_id
         |  JOIN s${t - 1} sel ON sel.query_id = sm.query_id
         |    AND sel.neighbor_id = sm.j
         |  LEFT JOIN s${t - 1} x ON x.query_id = c.query_id
         |    AND x.neighbor_id = c.neighbor_id
         |  WHERE x.neighbor_id IS NULL
         |  GROUP BY c.query_id, c.neighbor_id, c.rel),
         |p$t AS (
         |  SELECT query_id, neighbor_id, sc AS mmr FROM (
         |    SELECT query_id, neighbor_id, sc,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY sc DESC, neighbor_id) AS rn
         |    FROM q$t) WHERE rn = 1),
         |s$t AS (SELECT * FROM s${t - 1}
         |  UNION ALL SELECT query_id, neighbor_id FROM p$t)""".stripMargin
    }.mkString(",\n")
    val picks = (2 to 5)
      .map(t => s"UNION ALL SELECT query_id, neighbor_id, mmr, $t AS rank FROM p$t")
      .mkString("\n  ")
    s"""WITH $annEmbCte,
       |${kmeansTrainCtes("e", probeWhere = "e.vec_id < 5")},
       |scored AS (
       |  SELECT p.query_id, af.vid AS neighbor_id,
       |    list_dot_product(p.qv, af.v)
       |      / (sqrt(list_dot_product(p.qv, p.qv))
       |         * sqrt(list_dot_product(af.v, af.v))) AS cos
       |  FROM probes p JOIN af USING (cid)
       |  WHERE af.vid != p.query_id),
       |cand AS (
       |  SELECT query_id, neighbor_id, cos AS rel FROM (
       |    SELECT query_id, neighbor_id, cos,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id) AS rn
       |    FROM scored) WHERE rn <= 20),
       |cv AS (
       |  SELECT c.query_id, c.neighbor_id, c.rel, e.v
       |  FROM cand c JOIN e ON e.vec_id = c.neighbor_id),
       |sims AS (
       |  SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,
       |    list_dot_product(a.v, b.v)
       |      / (sqrt(list_dot_product(a.v, a.v))
       |         * sqrt(list_dot_product(b.v, b.v))) AS s
       |  FROM cv a JOIN cv b ON a.query_id = b.query_id
       |    AND a.neighbor_id <> b.neighbor_id),
       |p1 AS (
       |  SELECT query_id, neighbor_id, 0.7 * rel AS mmr FROM (
       |    SELECT query_id, neighbor_id, rel,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY 0.7 * rel DESC, neighbor_id) AS rn
       |    FROM cv) WHERE rn = 1),
       |s1 AS (SELECT query_id, neighbor_id FROM p1),
       |$steps
       |SELECT CAST(query_id AS BIGINT) AS query_id,
       |  CAST(neighbor_id AS BIGINT) AS neighbor_id,
       |  CAST(floor(mmr * 1e4 + 0.5) AS BIGINT) AS mmr_q,
       |  CAST(rank AS BIGINT) AS rank
       |FROM (
       |  SELECT query_id, neighbor_id, mmr, 1 AS rank FROM p1
       |  $picks)
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The x137 water-filling oracle: x104's quantized temperature units,
    * then 24 unrolled cap rounds in exact HUGEINT arithmetic — round t
    * caps every uncapped source whose proportional share of the
    * remaining ppm mass (floor division) exceeds its cap, with
    * remaining/Σu snapshotted at round start (the engine's batched
    * update). Rounds after the fixpoint are no-ops, and 24 covers any
    * source count the fixtures hold (≤ 1 new capped source per round
    * or the round is final). */
  private def cappedMixOracleSql: String = {
    // every c{t} is referenced ~4 times and chains to c{t-1}; without
    // MATERIALIZED, CTE inlining expands the reference tree EXPONENTIALLY
    // in the round count (4^24 scans of `documents` — DuckDB dies on fd
    // exhaustion before it dies on time). Materializing each round makes
    // the unroll linear.
    val rounds = (1 to 24).map { tIdx =>
      val prev = s"c${tIdx - 1}"
      s"""r$tIdx AS MATERIALIZED (SELECT
         |    1000000 - coalesce((SELECT CAST(sum(cap_ppm) AS BIGINT)
         |      FROM base JOIN $prev USING (source)), 0) AS remaining,
         |    (SELECT CAST(sum(b.u) AS BIGINT) FROM base b
         |      LEFT JOIN $prev p ON p.source = b.source
         |      WHERE p.source IS NULL) AS uu),
         |c$tIdx(source) AS MATERIALIZED (
         |  SELECT source FROM $prev
         |  UNION
         |  SELECT b.source
         |  FROM base b CROSS JOIN r$tIdx r
         |  LEFT JOIN $prev p ON p.source = b.source
         |  WHERE p.source IS NULL
         |    AND CAST(r.remaining AS HUGEINT) * b.u // r.uu > b.cap_ppm)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH c AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
       |  FROM documents GROUP BY source),
       |q AS (SELECT *, CAST(floor(sqrt(CAST(tokens AS DOUBLE)
       |      / (SELECT CAST(max(tokens) AS DOUBLE) FROM c)) * 1e12)
       |    AS BIGINT) AS u FROM c),
       |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS rtot,
       |    CAST(sum(u) AS BIGINT) AS utot FROM q),
       |base AS MATERIALIZED (SELECT source, n_docs, tokens, u,
       |    CAST(CAST(1500 AS HUGEINT) * tokens * 1000000
       |      // (CAST(1000 AS HUGEINT) * rtot) AS BIGINT) AS cap_ppm,
       |    CAST(CAST(1000000 AS HUGEINT) * u // utot AS BIGINT) AS temp_ppm
       |  FROM q, tot),
       |c0(source) AS MATERIALIZED (SELECT source FROM base WHERE 1 = 0),
       |$rounds,
       |rf AS (SELECT
       |    1000000 - coalesce((SELECT CAST(sum(cap_ppm) AS BIGINT)
       |      FROM base JOIN c24 USING (source)), 0) AS remaining,
       |    (SELECT CAST(sum(b.u) AS BIGINT) FROM base b
       |      LEFT JOIN c24 p ON p.source = b.source
       |      WHERE p.source IS NULL) AS uu)
       |SELECT b.source, b.n_docs, b.tokens, b.temp_ppm AS share_temp_ppm,
       |  b.cap_ppm,
       |  CASE WHEN p.source IS NOT NULL THEN b.cap_ppm
       |    ELSE CAST(CAST(r.remaining AS HUGEINT) * b.u // r.uu AS BIGINT)
       |  END AS share_final_ppm,
       |  p.source IS NOT NULL AS capped
       |FROM base b CROSS JOIN rf r
       |LEFT JOIN c24 p ON p.source = b.source
       |ORDER BY b.source""".stripMargin
  }

  /** x98's positional phrase oracle over `documents` restricted by
    * `docWhere` — x138 reuses the whole chain per snapshot, which IS
    * the from-state contract: the positional sidecar after deletes (or
    * under an as-of cut) answers exactly like a from-scratch positional
    * derivation over that version's corpus. */
  private def phraseOracleSqlWhere(docWhere: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents$docWhere),
       |p AS (
       |  SELECT doc_id, s.pos, s.term FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
       |      i -> {'pos': i - 1, 'term': w[CAST(i AS INT)]})) AS s
       |    FROM toks) u),
       |s0 AS (SELECT doc_id, pos AS start FROM p WHERE term = 'key'),
       |s1 AS (SELECT doc_id, pos - 1 AS start FROM p WHERE term = 'agg')
       |SELECT s0.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences,
       |  CAST(min(s0.start) AS BIGINT) AS first_pos
       |FROM s0 JOIN s1 USING (doc_id, start)
       |GROUP BY s0.doc_id""".stripMargin

  private def ivfSnapshotOracleSql(scoreWhere: String): String =
    s"""WITH $annEmbCte,
       |tr AS (SELECT * FROM e WHERE vec_id < 250),
       |${kmeansTrainCtes("tr")},
       |scored AS (
       |  SELECT p.query_id, af.vid AS neighbor_id,
       |    list_dot_product(p.qv, af.v)
       |      / (sqrt(list_dot_product(p.qv, p.qv))
       |         * sqrt(list_dot_product(af.v, af.v))) AS cos
       |  FROM probes p JOIN af USING (cid)
       |  WHERE af.vid != p.query_id$scoreWhere),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, round(cos, 4) AS cos_sim
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The x53/x110 BM25 oracle over `documents` restricted by `docWhere` —
    * x115 reuses the whole chain with the tombstoned ids excluded, which
    * IS the delete contract: a state after deletes answers exactly like a
    * state built from scratch on the surviving corpus. */
  private def bm25TopKOracleSqlWhere(docWhere: String): String =
    s"""WITH toks AS (
          |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
          |  FROM documents$docWhere),
          |stats AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(len(tk)) AS BIGINT) AS sumdl FROM toks),
          |tr AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks),
          |tf AS (
          |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
          |  FROM tr WHERE term IN ('dup', 'vector', 'window')
          |  GROUP BY doc_id, dl, term),
          |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
          |scored AS (
          |  SELECT t.doc_id, t.term,
          |    ln((CAST(s.n AS DOUBLE) - d.df + 0.5) / (d.df + 0.5) + 1.0)
          |      * (t.tf * 2.25)
          |      / (t.tf + 1.25 * (1.0 - 0.75 + 0.75 * t.dl
          |          / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE)))) AS sc
          |  FROM tf t JOIN dfreq d USING (term) CROSS JOIN stats s),
          |agg AS (
          |  SELECT doc_id,
          |    max(CASE WHEN term = 'dup' THEN sc END) AS s1,
          |    max(CASE WHEN term = 'vector' THEN sc END) AS s2,
          |    max(CASE WHEN term = 'window' THEN sc END) AS s3
          |  FROM scored GROUP BY doc_id),
          |rk AS (
          |  SELECT doc_id,
          |    coalesce(s1, 0.0) + coalesce(s2, 0.0) + coalesce(s3, 0.0) AS score,
          |    row_number() OVER (
          |      ORDER BY coalesce(s1, 0.0) + coalesce(s2, 0.0) + coalesce(s3, 0.0)
          |        DESC, doc_id) AS rn
          |  FROM agg)
          |SELECT doc_id, round(score, 4) AS score, CAST(rn AS BIGINT) AS rank
          |FROM rk WHERE rn <= 10 ORDER BY rank""".stripMargin

  /** The x93 BPE training chain with doc_id CARRIED through every
    * re-encode — x117 needs the per-document encoded symbol lists, not
    * just the merge table. it0 keeps sub-2-token docs (they contribute
    * zero pairs to every m$i, so the learned merges are identical to
    * x93's filtered chain — but they must reach itN to be encoded). */
  /** `trainWhere` restricts the PAIR-COUNTING side (p$i) to a training
    * subset while it$i still re-encodes every document — the frozen-
    * tokenizer shape x121 gates: merges train on the first batch only,
    * later batches encode under them (sub-2-token and out-of-scope docs
    * contribute zero pairs, so the learned merges equal trainMerges on
    * the filtered batch). Empty string = train on the whole corpus
    * (x117's shape). */
  private def bpeEncodedCorpusCtes(
      numMerges: Int, trainWhere: String = ""): String = {
    val iters = (1 to numMerges).map { i =>
      s"""p$i AS (
         |  SELECT unnest(list_transform(range(1, len(t)),
         |    j -> t[CAST(j AS INT)] || chr(1) || t[CAST(j AS INT) + 1])) AS p
         |  FROM it${i - 1}$trainWhere),
         |m$i AS (
         |  SELECT string_split(p, chr(1))[1] AS pa,
         |    string_split(p, chr(1))[2] AS pb
         |  FROM (SELECT p, CAST(count(*) AS BIGINT) AS n FROM p$i
         |        GROUP BY p ORDER BY n DESC, p LIMIT 1)),
         |it$i AS (
         |  SELECT doc_id, list_reduce(list_transform(t, x -> [x]), (acc, x) ->
         |    CASE WHEN len(acc) > 0 AND acc[-1] = m$i.pa AND x[1] = m$i.pb
         |         THEN list_concat(list_slice(acc, 1, len(acc) - 1),
         |           [m$i.pa || chr(2) || m$i.pb])
         |         ELSE list_concat(acc, x) END) AS t
         |  FROM it${i - 1}, m$i)""".stripMargin
    }.mkString(",\n")
    s"""it0 AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |$iters""".stripMargin
  }

  /** One detect→protect→excise iteration of the x116 fixpoint oracle
    * (from `it{i-1}(doc_id, text)` to `it{i}` + `keep{i}`): x108's
    * gram/island chain run twice over the same ranked gram relation —
    * flagged spans from non-first occurrences (rn > 1), protected spans
    * from first occurrences (rn = 1) — and a token filter that cuts a
    * position only when flagged AND unprotected. */
  private def fixpointIterCtes(i: Int): String =
    s"""g$i AS (
       |  SELECT doc_id,
       |    unnest(range(0, len(t) - 9)) AS start,
       |    unnest(list_transform(range(0, len(t) - 9),
       |      x -> array_to_string(t[x+1:x+10], ' '))) AS gram
       |  FROM it${i - 1} WHERE len(t) >= 10),
       |r$i AS (
       |  SELECT doc_id, start,
       |    count(*) OVER (PARTITION BY gram) AS c,
       |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, start) AS rn
       |  FROM g$i),
       |mf$i AS (
       |  SELECT doc_id, start,
       |    CASE WHEN start - lag(start)
       |        OVER (PARTITION BY doc_id ORDER BY start) > 10
       |      THEN 1 ELSE 0 END AS brk
       |  FROM r$i WHERE c >= 2 AND rn > 1),
       |isf$i AS (
       |  SELECT doc_id, start,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY start) AS island
       |  FROM mf$i),
       |spf$i AS (
       |  SELECT doc_id, min(start) AS s0, max(start) + 9 AS s1
       |  FROM isf$i GROUP BY doc_id, island),
       |mp$i AS (
       |  SELECT doc_id, start,
       |    CASE WHEN start - lag(start)
       |        OVER (PARTITION BY doc_id ORDER BY start) > 10
       |      THEN 1 ELSE 0 END AS brk
       |  FROM r$i WHERE c >= 2 AND rn = 1),
       |isp$i AS (
       |  SELECT doc_id, start,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY start) AS island
       |  FROM mp$i),
       |spp$i AS (
       |  SELECT doc_id, min(start) AS s0, max(start) + 9 AS s1
       |  FROM isp$i GROUP BY doc_id, island),
       |u$i AS (
       |  SELECT doc_id, unnest(t) AS tok, unnest(range(len(t))) AS pos
       |  FROM it${i - 1}),
       |keep$i AS (
       |  SELECT u.doc_id, u.tok, u.pos
       |  FROM u$i u
       |  WHERE NOT (
       |    EXISTS (SELECT 1 FROM spf$i f
       |      WHERE f.doc_id = u.doc_id AND u.pos BETWEEN f.s0 AND f.s1)
       |    AND NOT EXISTS (SELECT 1 FROM spp$i p
       |      WHERE p.doc_id = u.doc_id AND u.pos BETWEEN p.s0 AND p.s1))),
       |it$i AS (
       |  SELECT b.doc_id, coalesce(k.t, CAST([] AS VARCHAR[])) AS t
       |  FROM it${i - 1} b LEFT JOIN (
       |    SELECT doc_id, list(tok ORDER BY pos) AS t
       |    FROM keep$i GROUP BY doc_id) k USING (doc_id))""".stripMargin

  private val annEmbCte: String =
    """e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings)""".stripMargin

  /** Unrolled power-iteration CTEs for the x170/x171 PageRank oracles —
    * the fixed-round recurrence [[graft.ext.Similarity.pageRank]] runs,
    * re-derived in SQL (deterministic: no convergence test, identical
    * float ops — pr·(1/outdeg), not pr/outdeg). Expects upstream CTEs
    * `g(src, dst)` (the edge relation over live nodes) and
    * `tp(vid, tp)` (the normalized teleport distribution over live
    * nodes); yields `pr<iters>(vid, pr)`. */
  private def pageRankCtes(iters: Int, damping: Double): String = {
    val oneMinusD = 1.0 - damping
    val rounds = (1 to iters).map { i =>
      val p = s"pr${i - 1}"
      s"""dm$i AS (
         |  SELECT COALESCE(sum(p.pr), 0) AS dm FROM $p p
         |  LEFT JOIN od ON p.vid = od.src WHERE od.src IS NULL),
         |in$i AS (
         |  SELECT g.dst AS vid, sum(p.pr * (1.0 / od.odeg)) AS m
         |  FROM $p p JOIN g ON p.vid = g.src JOIN od ON g.src = od.src
         |  GROUP BY g.dst),
         |pr$i AS (
         |  SELECT t.vid,
         |    $oneMinusD * t.tp
         |      + $damping * (COALESCE(i.m, 0) + dm$i.dm * t.tp) AS pr
         |  FROM tp t LEFT JOIN in$i i ON t.vid = i.vid, dm$i)""".stripMargin
    }
    s"""od AS (SELECT src, count(*) AS odeg FROM g GROUP BY src),
       |pr0 AS (SELECT vid, tp AS pr FROM tp),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  /** k-means training CTE chain (seeds = 8 lowest ids, 2 Lloyd steps,
    * 6-dp means). `src` names the TRAINING corpus CTE (default the whole
    * `e`); the final `af` assignment and `probes` always run over all of
    * `e` — which is exactly the [[Similarity.appendIvfState]] contract:
    * centroids train on the first batch, every batch assigns to them. */
  private def kmeansTrainCtes(src: String = "e",
      probeWhere: String = "e.vec_id < 10", nProbe: Int = 2): String = {
    val a1From = if (src == "e") "e" else s"$src e"
    s"""c0 AS (
      |  SELECT CAST(vec_id AS INT) AS cid, v AS c FROM $src ORDER BY vec_id LIMIT 8),
      |a1 AS (
      |  SELECT vid, v, cid FROM (
      |    SELECT e.vec_id AS vid, e.v AS v, c0.cid,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c0.c)
      |          + list_dot_product(c0.c, c0.c), c0.cid) AS rn
      |    FROM $a1From, c0) WHERE rn = 1),
      |c1 AS (
      |  SELECT cid, list(m ORDER BY pos) AS c FROM (
      |    SELECT cid, pos, round(avg(x), 6) AS m
      |    FROM (SELECT cid, unnest(v) AS x, unnest(range(len(v))) AS pos FROM a1)
      |    GROUP BY cid, pos) GROUP BY cid),
      |a2 AS (
      |  SELECT vid, v, cid FROM (
      |    SELECT a.vid, a.v, c1.cid,
      |      row_number() OVER (PARTITION BY a.vid ORDER BY
      |        list_dot_product(a.v, a.v) - 2.0 * list_dot_product(a.v, c1.c)
      |          + list_dot_product(c1.c, c1.c), c1.cid) AS rn
      |    FROM a1 a, c1) WHERE rn = 1),
      |c2 AS (
      |  SELECT cid, list(m ORDER BY pos) AS c FROM (
      |    SELECT cid, pos, round(avg(x), 6) AS m
      |    FROM (SELECT cid, unnest(v) AS x, unnest(range(len(v))) AS pos FROM a2)
      |    GROUP BY cid, pos) GROUP BY cid),
      |af AS (
      |  SELECT vid, v, cid FROM (
      |    SELECT e.vec_id AS vid, e.v, c2.cid,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c2.c)
      |          + list_dot_product(c2.c, c2.c), c2.cid) AS rn
      |    FROM e, c2) WHERE rn = 1),
      |probes AS (
      |  SELECT query_id, qv, cid FROM (
      |    SELECT e.vec_id AS query_id, e.v AS qv, c2.cid,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c2.c)
      |          + list_dot_product(c2.c, c2.c), c2.cid) AS rn
      |    FROM e, c2 WHERE $probeWhere) WHERE rn <= $nProbe)""".stripMargin
  }

  private val pqCtes: String =
    """sv AS (
      |  SELECT vec_id, r.sub, v[r.sub*8+1 : r.sub*8+8] AS vs
      |  FROM e, range(8) r(sub)),
      |sc0 AS (
      |  SELECT sub, CAST(vec_id AS INT) AS cid, vs AS c FROM sv
      |  WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16)),
      |sa1 AS (
      |  SELECT vec_id, sub, vs, cid FROM (
      |    SELECT sv.vec_id, sv.sub, sv.vs, sc0.cid,
      |      row_number() OVER (PARTITION BY sv.vec_id, sv.sub ORDER BY
      |        list_dot_product(sv.vs, sv.vs) - 2.0 * list_dot_product(sv.vs, sc0.c)
      |          + list_dot_product(sc0.c, sc0.c), sc0.cid) AS rn
      |    FROM sv JOIN sc0 USING (sub)) WHERE rn = 1),
      |sc1 AS (
      |  SELECT sub, cid, list(mu ORDER BY pos) AS c FROM (
      |    SELECT sub, cid, pos, round(avg(x), 6) AS mu
      |    FROM (SELECT sub, cid, unnest(vs) AS x, unnest(range(len(vs))) AS pos FROM sa1)
      |    GROUP BY sub, cid, pos) GROUP BY sub, cid),
      |sa2 AS (
      |  SELECT vec_id, sub, vs, cid FROM (
      |    SELECT a.vec_id, a.sub, a.vs, sc1.cid,
      |      row_number() OVER (PARTITION BY a.vec_id, a.sub ORDER BY
      |        list_dot_product(a.vs, a.vs) - 2.0 * list_dot_product(a.vs, sc1.c)
      |          + list_dot_product(sc1.c, sc1.c), sc1.cid) AS rn
      |    FROM sa1 a JOIN sc1 USING (sub)) WHERE rn = 1),
      |sc2 AS (
      |  SELECT sub, cid, list(mu ORDER BY pos) AS c FROM (
      |    SELECT sub, cid, pos, round(avg(x), 6) AS mu
      |    FROM (SELECT sub, cid, unnest(vs) AS x, unnest(range(len(vs))) AS pos FROM sa2)
      |    GROUP BY sub, cid, pos) GROUP BY sub, cid),
      |saf AS (
      |  SELECT vec_id, sub, cid FROM (
      |    SELECT sv.vec_id, sv.sub, sc2.cid,
      |      row_number() OVER (PARTITION BY sv.vec_id, sv.sub ORDER BY
      |        list_dot_product(sv.vs, sv.vs) - 2.0 * list_dot_product(sv.vs, sc2.c)
      |          + list_dot_product(sc2.c, sc2.c), sc2.cid) AS rn
      |    FROM sv JOIN sc2 USING (sub)) WHERE rn = 1),
      |sqt AS (
      |  SELECT sv.vec_id AS query_id, sv.sub, sc2.cid,
      |    list_dot_product(sv.vs, sv.vs) - 2.0 * list_dot_product(sv.vs, sc2.c)
      |      + list_dot_product(sc2.c, sc2.c) AS qd
      |  FROM sv JOIN sc2 USING (sub) WHERE sv.vec_id < 10)""".stripMargin

  private val hex15 = "CAST(concat('0x', substr(md5(%s), 1, 15)) AS BIGINT)"
  private def mh(i: Int) = hex15.format(s"'$i:' || s")

  /** Shared DuckDB scaffolding for the LSH oracles (x17/x18): docs →
    * distinct 3-shingles → 16 salted-md5 minhash mins → 4 band buckets →
    * distinct candidate pairs — a stage-by-stage relational reconstruction
    * of [[Dedup.lshCandidates]]. */
  private def lshOracleSql(docWhere: String, select: String, where: String): String = {
    val sig = (0 until 16).map(i => s"min(${mh(i)}) AS mh$i").mkString(", ")
    val bands = (0 until 4).map { b =>
      val cols = (0 until 4).map(r => s"mh${4 * b + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws(',', $cols)) AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH d AS (SELECT doc_id, text FROM documents$docWhere),
       |tok AS (
       |  SELECT doc_id, text, string_split(text, ' ') w FROM d
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (
       |  SELECT doc_id, text, list_distinct(list_transform(
       |    range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) shl
       |  FROM tok),
       |shu AS (SELECT doc_id, unnest(shl) s FROM sh),
       |sig AS (SELECT doc_id, $sig FROM shu GROUP BY doc_id),
       |banded AS ($bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
       |SELECT c.id_a, c.id_b, $select
       |FROM cand c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b
       |WHERE $where
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Shared oracle scaffolding for the hyperplane-LSH queries (x07/x33):
    * the literal ±1 plane matrix is EMITTED from
    * [[Similarity.hyperplaneSigns]] — the same array the Spark expression
    * uses — so both engines bucket with bit-identical double dot products
    * (±1 coefficients make each product an exact negation/copy;
    * accumulation is left-to-right double on both sides). */
  private def hyperplaneCbSql: String = {
    def planeList(tbl: Int, i: Int): String =
      Similarity.hyperplaneSigns(tbl)(i)
        .map(s => if (s > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    def bucketExpr(tbl: Int): String =
      (0 until 8).map(i =>
        s"(CASE WHEN list_dot_product(v, ${planeList(tbl, i)}) > 0 " +
          s"THEN ${1L << i} ELSE 0 END)").mkString("\n      + ")
    (0 until 3).map(tbl =>
      s"SELECT vec_id, v, $tbl AS tbl, ${bucketExpr(tbl)} AS bucket FROM e")
      .mkString("\n  UNION ALL\n  ")
  }

  /** DuckDB reconstruction of [[Similarity.ivfTopK]] (x07). */
  private def ivfOracleSql: String = {
    val cb = hyperplaneCbSql
    val probes = (0 until 8).map(i => s"xor(bucket, ${1L << i})").mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
       |  FROM embeddings),
       |cb AS (
       |  $cb),
       |q0 AS (SELECT vec_id, tbl, bucket FROM cb WHERE vec_id < 50),
       |qp AS (
       |  SELECT vec_id, tbl, unnest([bucket, $probes]) AS bucket FROM q0),
       |cand AS (
       |  SELECT DISTINCT qp.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM qp JOIN cb c ON qp.tbl = c.tbl AND qp.bucket = c.bucket
       |    AND c.vec_id != qp.vec_id),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    list_dot_product(qv.v, nv.v)
       |      / (sqrt(list_dot_product(qv.v, qv.v))
       |         * sqrt(list_dot_product(nv.v, nv.v))) AS cos
       |  FROM cand
       |  JOIN e qv ON qv.vec_id = cand.query_id
       |  JOIN e nv ON nv.vec_id = cand.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, round(cos, 4) AS cos_sim
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB reconstruction of [[Similarity.lshCosinePairs]] (x33): same
    * bucketing CTE; candidate pairs are the distinct same-(table, bucket)
    * id pairs, verified with the exact cosine. */
  private def lshCosinePairsOracleSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
       |  FROM embeddings WHERE vec_id < 2000),
       |cb AS (
       |  $hyperplaneCbSql),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM cb a JOIN cb b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT id_a, id_b,
       |    list_dot_product(av.v, bv.v)
       |      / (sqrt(list_dot_product(av.v, av.v))
       |         * sqrt(list_dot_product(bv.v, bv.v))) AS cos
       |  FROM cand
       |  JOIN e av ON av.vec_id = cand.id_a
       |  JOIN e bv ON bv.vec_id = cand.id_b)
       |SELECT id_a, id_b, round(cos, 4) AS cos
       |FROM scored WHERE cos >= 0.15 ORDER BY id_a, id_b""".stripMargin

  /** Shared DuckDB scaffolding for the connected-components oracles
    * (x19/x24): transitive closure over the x17 pair graph (recursive CTE),
    * then min reachable id per vertex = the cluster representative, exposed
    * to `finalSelect` as `rp(doc_id, rep)` next to `documents d`. */
  private def componentsOracleSql(finalSelect: String): String = {
    val pairs = lshOracleSql(
      docWhere = "",
      select = "1 AS one",
      where = """CAST(len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)
                |  / len(list_distinct(list_concat(sa.shl, sb.shl))) >= 0.5""".stripMargin)
    s"""WITH RECURSIVE p AS (SELECT id_a, id_b FROM ($pairs) tp),
       |edges AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
       |reach AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
       |rp AS (SELECT a AS doc_id, least(a, min(b)) AS rep FROM reach GROUP BY a)
       |$finalSelect""".stripMargin
  }

  /** The x175/x176 oracle chain — shared because x176 (compaction after
    * each maintenance verb) is a declared semantic no-op over x175's
    * lifecycle: same post-lifecycle graph, same five unrolled PageRank
    * rounds. */
  private def graphLifecyclePageRankOracle: String =
    s"""WITH $annEmbCte,
       |b1 AS (SELECT vec_id, v FROM e WHERE vec_id < 375),
       |${kmeansTrainCtes(src = "b1", probeWhere = "e.vec_id % 9 <> 4")},
       |scored AS (
       |  SELECT p.query_id, af.vid AS neighbor_id,
       |    list_dot_product(p.qv, af.v)
       |      / (sqrt(list_dot_product(p.qv, p.qv))
       |         * sqrt(list_dot_product(af.v, af.v))) AS cos
       |  FROM probes p JOIN af USING (cid)
       |  WHERE af.vid != p.query_id AND af.vid % 9 <> 4),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored),
       |g AS (SELECT query_id AS src, neighbor_id AS dst
       |  FROM ranked WHERE rank <= 3),
       |nodes AS (SELECT vec_id AS vid FROM e WHERE vec_id % 9 <> 4),
       |n AS (SELECT count(*) AS cnt FROM nodes),
       |tp AS (SELECT vid, 1.0 / cnt AS tp FROM nodes, n),
       |${pageRankCtes(5, 0.85)}
       |SELECT vid AS vec_id, round(pr, 7) AS pr FROM pr5
       |ORDER BY vec_id""".stripMargin

  val oracleSql: Map[String, String] = StrictMap(
    "e01_pipeline" ->
      """WITH d AS (SELECT doc_id, lang, text FROM documents),
        |rows_ AS (
        |  SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0') AS ord, 0 AS prec,
        |    'json' AS type, 'json_0' AS source_index, doc_id, lang FROM d
        |  UNION ALL
        |  SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0'), 1,
        |    'text', 'text_0', NULL, NULL
        |  FROM d WHERE length(trim(text)) > 5)
        |SELECT type, source_index,
        |  CAST(count(*) OVER () AS BIGINT) AS total_items, doc_id, lang
        |FROM rows_ ORDER BY ord, prec""".stripMargin,
    "e02_detectors" ->
      """WITH d AS (SELECT doc_id, lang, text FROM documents),
        |rows_ AS (
        |  SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0') AS ord, 0 AS prec, 0 AS sub,
        |    'html' AS type, 'html_0' AS source_index,
        |    CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS lang FROM d
        |  UNION ALL
        |  SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0'), 1, 0,
        |    'json', 'json_0', doc_id, lang FROM d
        |  UNION ALL
        |  SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0'), 2, 0,
        |    'text', 'text_0', NULL, NULL FROM d
        |  UNION ALL
        |  SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0'), 2, 1,
        |    'text', 'text_1', NULL, NULL FROM d WHERE length(trim(text)) > 5
        |  UNION ALL
        |  SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0'), 3, 0,
        |    'media', 'media_0', NULL, NULL FROM d)
        |SELECT type, source_index,
        |  CAST(count(*) OVER () AS BIGINT) AS total_items, doc_id, lang
        |FROM rows_ ORDER BY ord, prec, sub""".stripMargin,
    "e03_chunked" ->
      """WITH d AS (
        |  SELECT doc_id, lang, text,
        |    row_number() OVER (ORDER BY doc_id) - 1 AS rn
        |  FROM documents),
        |tn AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS tno
        |  FROM d WHERE length(trim(text)) > 5),
        |rows_ AS (
        |  SELECT 1 AS prec, rn AS o, 'json' AS type,
        |    'json_' || rn AS source_index, doc_id, lang FROM d
        |  UNION ALL
        |  SELECT 2, tno, 'text', 'text_' || tno,
        |    CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR) FROM tn)
        |SELECT type, source_index,
        |  CAST(count(*) OVER () AS BIGINT) AS total_items, doc_id, lang
        |FROM rows_ ORDER BY prec, o""".stripMargin,
    "x01_dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "x02_dedup_minhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, string_split(text, ' ') w FROM documents
         |  WHERE doc_id < 100 AND len(string_split(text, ' ')) >= 3),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) s
         |  FROM tok)
         |SELECT doc_id, min(${mh(0)}) AS mh0, min(${mh(1)}) AS mh1,
         |       min(${mh(2)}) AS mh2, min(${mh(3)}) AS mh3
         |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x03_dedup_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) tk
         |  FROM documents),
         |h AS (SELECT doc_id, ${hex15.format("tk")} hv FROM tok),
         |bits AS (
         |  SELECT doc_id, b, CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END w
         |  FROM h, (SELECT unnest(range(0, 32)) b) bb(b)),
         |bsum AS (SELECT doc_id, b, sum(w) sw FROM bits GROUP BY 1, 2)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN sw > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
         |       AS BIGINT) AS simhash
         |FROM bsum GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x04_dedup_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) tok
        |  FROM documents WHERE doc_id < 120)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.tok, b.tok))), 4) AS jac
        |FROM t a, t b
        |WHERE a.doc_id < b.doc_id
        |  AND CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.tok, b.tok))) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,
    "x05_dedup_embed" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings WHERE vec_id < 300)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)
        |    AS cos_sim
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.25
        |ORDER BY id_a, id_b""".stripMargin,
    "x06_ann_brute" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |    list_dot_product(q.v, e.v)
        |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) AS cos
        |  FROM q, e WHERE e.vec_id != q.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, rank, round(cos, 4) AS cos_sim
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "x07_ann_ivf" -> ivfOracleSql,
    "x33_embed_dup_pairs" -> lshCosinePairsOracleSql,
    "x08_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) tok FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(list_intersect(tok, ['der','die','das','und','ist','nicht','mit','ein'])) AS BIGINT) AS s_de,
        |    CAST(len(list_intersect(tok, ['the','and','of','to','in','is','it','that'])) AS BIGINT) AS s_en,
        |    CAST(len(list_intersect(tok, ['el','los','que','y','un','por','con','para'])) AS BIGINT) AS s_es,
        |    CAST(len(list_intersect(tok, ['le','les','et','est','une','dans','pour','sur'])) AS BIGINT) AS s_fr,
        |    CAST(len(list_intersect(tok, ['的','是','不','了','在','人','我','他'])) AS BIGINT) AS s_zh
        |  FROM t)
        |SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
        |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
        |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        |       ELSE 'zh' END AS predicted
        |FROM s ORDER BY doc_id LIMIT 300""".stripMargin,
    "x09_quality" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
        |    length(replace(text, ' ', '')) AS n_nonspace,
        |    CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
        |      ['the','and','of','to','in','is','it','that'])) AS BIGINT) AS en_hits
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_chars, n_words,
        |    round(CAST(n_nonspace AS DOUBLE) / n_words, 4) AS avg_word_len,
        |    round(CAST(en_hits AS DOUBLE) / n_words, 4) AS stop_ratio
        |  FROM f)
        |SELECT doc_id, n_chars, n_words, avg_word_len, stop_ratio,
        |  round(least(CAST(n_words AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * 0.5
        |    + least(stop_ratio * 10.0, CAST(1.0 AS DOUBLE)) * 0.3
        |    + CASE WHEN avg_word_len BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END, 4)
        |    AS quality_score
        |FROM r ORDER BY doc_id LIMIT 300""".stripMargin,
    "x21_top_quality" ->
      """WITH f AS (
        |  SELECT doc_id, lang,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
        |    length(replace(text, ' ', '')) AS n_nonspace,
        |    CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
        |      ['the','and','of','to','in','is','it','that'])) AS BIGINT) AS en_hits
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |    round(CAST(n_nonspace AS DOUBLE) / n_words, 4) AS avg_word_len,
        |    round(CAST(en_hits AS DOUBLE) / n_words, 4) AS stop_ratio, n_words
        |  FROM f),
        |q AS (
        |  SELECT doc_id, lang,
        |    round(least(CAST(n_words AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * 0.5
        |      + least(stop_ratio * 10.0, CAST(1.0 AS DOUBLE)) * 0.3
        |      + CASE WHEN avg_word_len BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END, 4)
        |      AS quality_score
        |  FROM r),
        |rk AS (
        |  SELECT lang, doc_id, quality_score,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY quality_score DESC, doc_id) AS BIGINT) AS rank
        |  FROM q)
        |SELECT lang, doc_id, quality_score, rank FROM rk
        |WHERE rank <= 3 ORDER BY lang, rank""".stripMargin,
    "x10_token_count" ->
      """SELECT doc_id,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id LIMIT 300""".stripMargin,
    "x11_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_transform(range(1, length(text) + 1),
        |      i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id LIMIT 300""".stripMargin,
    "x12_multimodal" ->
      """SELECT doc_id, 'bin' AS format,
        |  CAST(0 AS BIGINT) AS width,
        |  CAST(0 AS BIGINT) AS height,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte
        |FROM documents WHERE regexp_matches(text, '^[\x00-\x7F]')
        |  AND text NOT LIKE 'GIF8%'
        |ORDER BY doc_id LIMIT 300""".stripMargin,
    "x14_lang_ngram" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    CAST(length(text) - length(replace(text, 'sch', ''))
        |       + length(text) - length(replace(text, 'ein', ''))
        |       + length(text) - length(replace(text, 'der', ''))
        |       + length(text) - length(replace(text, 'die', '')) AS BIGINT) AS g_de,
        |    CAST(length(text) - length(replace(text, 'the', ''))
        |       + length(text) - length(replace(text, 'ing', ''))
        |       + length(text) - length(replace(text, 'ion', ''))
        |       + length(text) - length(replace(text, 'and', '')) AS BIGINT) AS g_en,
        |    CAST(length(text) - length(replace(text, 'los', ''))
        |       + length(text) - length(replace(text, 'que', ''))
        |       + length(text) - length(replace(text, 'ent', ''))
        |       + length(text) - length(replace(text, 'ado', '')) AS BIGINT) AS g_es,
        |    CAST(length(text) - length(replace(text, 'les', ''))
        |       + length(text) - length(replace(text, 'ent', ''))
        |       + length(text) - length(replace(text, 'eau', ''))
        |       + length(text) - length(replace(text, 'our', '')) AS BIGINT) AS g_fr,
        |    CAST(length(text) - length(replace(text, '的', ''))
        |       + length(text) - length(replace(text, '是', ''))
        |       + length(text) - length(replace(text, '不', ''))
        |       + length(text) - length(replace(text, '了', '')) AS BIGINT) AS g_zh
        |  FROM documents)
        |SELECT doc_id, g_de, g_en, g_es, g_fr, g_zh,
        |  CASE WHEN greatest(g_de, g_en, g_es, g_fr, g_zh) = 0 THEN 'und'
        |       WHEN g_de = greatest(g_de, g_en, g_es, g_fr, g_zh) THEN 'de'
        |       WHEN g_en = greatest(g_de, g_en, g_es, g_fr, g_zh) THEN 'en'
        |       WHEN g_es = greatest(g_de, g_en, g_es, g_fr, g_zh) THEN 'es'
        |       WHEN g_fr = greatest(g_de, g_en, g_es, g_fr, g_zh) THEN 'fr'
        |       ELSE 'zh' END AS predicted
        |FROM g ORDER BY doc_id LIMIT 300""".stripMargin,
    "x15_salted_agg" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x16_edit_distance" ->
      """WITH d AS (
        |  SELECT doc_id, substr(text, 1, 30) AS prefix
        |  FROM documents WHERE doc_id < 80
        |    AND regexp_matches(substr(text, 1, 30), '^[\x00-\x7F]*$'))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS dist
        |FROM d a, d b
        |WHERE a.doc_id < b.doc_id AND levenshtein(a.prefix, b.prefix) <= 17
        |ORDER BY id_a, id_b""".stripMargin,
    "x17_dedup_lsh" -> lshJaccardOracleSql,
    "x18_edit_lsh" -> lshOracleSql(
      docWhere = """ WHERE regexp_matches(text, '^[\x00-\x7F]*$')""",
      select = "CAST(levenshtein(sa.text, sb.text) AS BIGINT) AS dist",
      where = "levenshtein(sa.text, sb.text) <= 20"),
    "x19_dedup_components" -> componentsOracleSql(
      """SELECT d.doc_id, CAST(coalesce(rp.rep, d.doc_id) AS BIGINT) AS rep
        |FROM documents d LEFT JOIN rp USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    "x24_dedup_corpus" -> componentsOracleSql(
      """SELECT d.doc_id, d.lang, md5(d.text) AS text_md5
        |FROM documents d LEFT JOIN rp USING (doc_id)
        |WHERE coalesce(rp.rep, d.doc_id) = d.doc_id
        |ORDER BY doc_id""".stripMargin),
    "x23_image_meta" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END
        |    AS format,
        |  CAST(doc_id % 1000 + 1 AS BIGINT) AS width,
        |  CAST((doc_id * 7) % 800 + 1 AS BIGINT) AS height,
        |  CAST((CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 15 ELSE 13 END)
        |    + doc_id % 50 AS BIGINT) AS n_bytes,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 137 WHEN 1 THEN 255 ELSE 71 END
        |    AS BIGINT) AS first_byte
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x20_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |        AS BIGINT) % 10000
        |  < (CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
        |      WHEN 'zh' THEN 1000 ELSE 500 END)
        |ORDER BY doc_id""".stripMargin,
    "x22_multimodal_features" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
        |    AS BIGINT) AS n_upper,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |    AS BIGINT) AS n_digit,
        |  CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_space,
        |  CAST(octet_length(encode(text))
        |    - length(regexp_replace(text, '[^\x00-\x7F]', '', 'g'))
        |    AS BIGINT) AS n_non_ascii
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x13_sessionize" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |s AS (
        |  SELECT event_id, user_id, us,
        |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |            > 1800000000 THEN 1 ELSE 0 END AS ns
        |  FROM e)
        |SELECT event_id, user_id,
        |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |FROM s ORDER BY event_id LIMIT 500""".stripMargin,
    // the operator's semantics are pinned to DuckDB's NATIVE ASOF JOIN —
    // deterministic here because (user_id, ts) is unique per user
    "x25_asof_join" ->
      """SELECT p.event_id, p.user_id, p.ts,
        |  v.event_id AS view_event_id, v.ts AS view_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,
    "x26_range_join" ->
      """SELECT p.event_id, p.user_id,
        |  CAST((SELECT count(*) FROM events v
        |        WHERE v.event_type = 'view' AND v.user_id = p.user_id
        |          AND epoch_us(v.ts) >= epoch_us(p.ts) - 3600000000
        |          AND epoch_us(v.ts) < epoch_us(p.ts)) AS BIGINT) AS views_1h
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,
    // forward direction pinned to DuckDB's native ASOF with the mirrored
    // inequality (earliest right row at-or-after the left timestamp)
    "x27_asof_forward" ->
      """SELECT v.event_id, v.user_id, v.ts,
        |  p.event_id AS purchase_event_id, p.ts AS purchase_ts
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id AND p.ts >= v.ts
        |ORDER BY v.event_id""".stripMargin,
    // DuckDB has no nearest direction: run BOTH native ASOF directions,
    // choose least-absolute-delta (tie -> backward), then apply the ±30 min
    // tolerance — the exact arithmetic AsOf.join computes in one window
    "x28_asof_nearest" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click'),
        |b AS (SELECT p.event_id, c.event_id AS bid, c.ts AS bts
        |      FROM p ASOF LEFT JOIN c
        |        ON p.user_id = c.user_id AND c.ts <= p.ts),
        |f AS (SELECT p.event_id, c.event_id AS fid, c.ts AS fts
        |      FROM p ASOF LEFT JOIN c
        |        ON p.user_id = c.user_id AND c.ts >= p.ts),
        |n AS (SELECT p.event_id, p.user_id, p.ts,
        |        CASE WHEN bid IS NULL THEN fid
        |             WHEN fid IS NULL THEN bid
        |             WHEN epoch_us(p.ts) - epoch_us(bts)
        |                  <= epoch_us(fts) - epoch_us(p.ts) THEN bid
        |             ELSE fid END AS mid,
        |        CASE WHEN bid IS NULL THEN fts
        |             WHEN fid IS NULL THEN bts
        |             WHEN epoch_us(p.ts) - epoch_us(bts)
        |                  <= epoch_us(fts) - epoch_us(p.ts) THEN bts
        |             ELSE fts END AS mts
        |      FROM p LEFT JOIN b USING (event_id) LEFT JOIN f USING (event_id))
        |SELECT event_id, user_id, ts,
        |  CASE WHEN abs(epoch_us(mts) - epoch_us(ts)) <= 1800000000
        |       THEN mid END AS click_event_id,
        |  CASE WHEN abs(epoch_us(mts) - epoch_us(ts)) <= 1800000000
        |       THEN mts END AS click_ts
        |FROM n ORDER BY event_id""".stripMargin,
    // stage-by-stage relational TF-IDF; ties rank by (score desc, term) so
    // the ordering is engine-stable (a cross-engine score tie implies the
    // same (tf, df) inputs and hence the same double)
    "x29_tfidf" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
        |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM d),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM t WHERE term <> '' GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf,
        |        tf.tf * ln(n.n / df.df) AS score
        |      FROM tf, df, n WHERE tf.term = df.term),
        |r AS (SELECT s.*, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, term) AS rank FROM s)
        |SELECT doc_id, term, tf, round(score, 4) AS score,
        |  CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // the exact md5-bucket arithmetic of Sampling.splitAssign: cumulative
    // integer thresholds 8000/9000/10000 over the 60-bit portable hash
    "x30_split_assign" ->
      """SELECT doc_id, lang,
        |  CASE
        |    WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |         AS BIGINT) % 10000 < 8000 THEN 'train'
        |    WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |         AS BIGINT) % 10000 < 9000 THEN 'val'
        |    WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |         AS BIGINT) % 10000 < 10000 THEN 'test'
        |    ELSE 'rest' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // exclusive prefix sum over (lang, md5-shard) streams, integer-divided
    // by the bin budget — the offset-based packing Packing.packBins computes
    "x31_pack_bins" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1
        |         AS BIGINT) AS tok,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |         AS BIGINT) % 8 AS shard
        |  FROM documents)
        |SELECT doc_id, lang, tok, shard,
        |  CAST(COALESCE(SUM(tok) OVER (PARTITION BY lang, shard
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) AS BIGINT) // 2000 AS bin
        |FROM d ORDER BY doc_id""".stripMargin,
    // pigeonhole makes the banded operator EXACT for Hamming <= 3, so the
    // oracle is the exhaustive pair set over the x03 signature CTE applied
    // to DISTINCT texts (min-id rep + group size) — no banding needed
    "x32_simhash_pairs" ->
      s"""WITH g AS (
         |  SELECT CAST(min(doc_id) AS BIGINT) AS rid,
         |    CAST(count(*) AS BIGINT) AS n, text
         |  FROM documents GROUP BY text),
         |tok AS (
         |  SELECT rid, unnest(list_distinct(string_split(text, ' '))) tk
         |  FROM g),
         |h AS (SELECT rid, ${hex15.format("tk")} hv FROM tok),
         |bits AS (
         |  SELECT rid, b, CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END w
         |  FROM h, (SELECT unnest(range(0, 32)) b) bb(b)),
         |bsum AS (SELECT rid, b, sum(w) sw FROM bits GROUP BY 1, 2),
         |sig AS (
         |  SELECT rid,
         |    CAST(sum(CASE WHEN sw > 0 THEN (CAST(1 AS BIGINT) << b)
         |             ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bsum GROUP BY rid)
         |SELECT a.rid AS id_a, b.rid AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming,
         |  ga.n AS n_a, gb.n AS n_b
         |FROM sig a, sig b, g ga, g gb
         |WHERE a.rid < b.rid AND ga.rid = a.rid AND gb.rid = b.rid
         |  AND bit_count(xor(a.simhash, b.simhash)) <= 1
         |ORDER BY id_a, id_b""".stripMargin,
    // ordered string_agg == Spark's sort_array(collect_list(struct))
    // assembly; md5 of the packed text pins byte-identical sequences
    "x34_pack_assemble" ->
      """WITH d AS (
        |  SELECT doc_id, lang, text,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1
        |         AS BIGINT) AS tok,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |         AS BIGINT) % 8 AS shard
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, lang, text, tok, shard,
        |    CAST(COALESCE(SUM(tok) OVER (PARTITION BY lang, shard
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) // 2000 AS bin
        |  FROM d)
        |SELECT lang, shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tok) AS BIGINT) AS tok_sum,
        |  md5(string_agg(text, ' ' ORDER BY doc_id)) AS packed_md5
        |FROM b GROUP BY 1, 2, 3 ORDER BY lang, shard, bin""".stripMargin,
    // identical RE2-safe patterns, 'g' flag (DuckDB replaces only the
    // first match by default; Spark replaces all), \1-style backrefs
    "x35_redact" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id ||
        |    '@example.com or https://example.org/d/' || doc_id ||
        |    ' ref 123456789 end' AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(regexp_replace(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^ ]+', '<URL>', 'g'),
        |    '(^|[^0-9])[0-9]{7,}', '\1<NUM>', 'g')) AS redacted_md5
        |FROM raw ORDER BY doc_id""".stripMargin,
    // non-distinct bigrams via ordinal-joined unnested tokens, then the
    // max-count / total-count per doc — the same two aggregations
    "x36_repetition" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    concat_ws(' ', text, substr(text, 1, 40), substr(text, 1, 40))
        |      AS body
        |  FROM documents),
        |tok AS (SELECT doc_id, string_split(body, ' ') AS toks FROM d),
        |grams AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS gram
        |  FROM tok),
        |counts AS (
        |  SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(max(c) AS BIGINT) AS top_gram_count,
        |  CAST(sum(c) AS BIGINT) AS n_grams,
        |  round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS rep_fraction
        |FROM counts GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same word-3-gram construction as the operator (distinct per doc via
    // the shingle contract), eval = last 10 docs, semi-join + count
    "x37_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
        |    i -> string_split(text, ' ')[i] || ' ' ||
        |         string_split(text, ' ')[i + 1] || ' ' ||
        |         string_split(text, ' ')[i + 2]))) AS gram
        |  FROM documents),
        |ev AS (SELECT doc_id FROM documents ORDER BY doc_id DESC LIMIT 10),
        |evg AS (SELECT DISTINCT gram FROM sh WHERE doc_id IN (SELECT doc_id FROM ev)),
        |corpus AS (SELECT doc_id, gram FROM sh WHERE doc_id < 400)
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS hits
        |FROM corpus c JOIN evg USING (gram)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    // x38: same contract at n = 13 with eval = every 37th doc; the oracle
    // joins on the exact gram strings — the operator's hashed shuffle path
    // agrees up to 2^-60 collisions (none at any tested scale)
    "x38_decontaminate_shuffle" -> decontam13OracleSql,
    // x56: the Bloom pre-filter path computes the identical result (the
    // sketch only over-keeps; the exact semi-join removes its false
    // positives), so it shares x38's oracle verbatim
    "x56_decontaminate_bloom" -> decontam13OracleSql,
    // x39 executes through the SQL TVF surface but computes exactly x25's
    // backward as-of join — same oracle: DuckDB's NATIVE ASOF JOIN
    "x39_asof_sql" ->
      """SELECT p.event_id, p.user_id, p.ts,
        |  v.event_id AS view_event_id, v.ts AS view_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,
    // x40: the full relational LSH (x17's scaffolding) filtered to
    // cross-boundary pairs — the engine's asymmetric band join produces
    // exactly these pairs without ever forming the corpus-side quadratic
    "x40_dedup_incremental" -> incrementalDedupOracleSql,
    // x89: the state-backed path computes x40's exact relation (corpus
    // signatures from parquet instead of recompute) — same oracle
    "x89_dedup_from_state" -> incrementalDedupOracleSql,
    // x41: postings joined as a string after a NUMERIC sort (string_agg
    // with ORDER BY doc_id), matching Spark's sort_array-then-stringify
    "x41_inverted_index" ->
      """WITH p AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        |  FROM documents)
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |FROM p WHERE term <> '' GROUP BY term ORDER BY term""".stripMargin,
    // x42: the (doc, term) pairs are distinct per doc, so count(*) == 3
    // is exact conjunctive containment
    "x42_term_search" ->
      """WITH p AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched FROM p
        |  WHERE term IN ('dup', 'vector', 'window')
        |  GROUP BY doc_id HAVING count(*) = 3)
        |SELECT m.doc_id, m.n_matched, d.lang, d.n_chars
        |FROM m JOIN documents d USING (doc_id) ORDER BY m.doc_id""".stripMargin,
    // x43: the full curation pipeline relationally — x08's lang CASE +
    // x09's quality formula + keep-min-id dedup + x38's 13-gram shape
    // against eval = every 37th doc
    "x43_curate" ->
      s"""WITH $curateOracleCtes
         |SELECT u.doc_id, u.lang_pred, u.quality_score,
         |  u.n_words AS tokens
         |FROM u LEFT JOIN contam c ON u.doc_id = c.doc_id
         |WHERE c.doc_id IS NULL ORDER BY u.doc_id""".stripMargin,
    // x45: the curated survivors split by the x30 hash thresholds, then
    // packed by the x31 exclusive-prefix-sum bins within (split, shard)
    "x45_curate_pack" ->
      s"""WITH $curateOracleCtes,
         |cur AS (
         |  SELECT u.doc_id, u.n_words AS tokens
         |  FROM u LEFT JOIN contam c ON u.doc_id = c.doc_id
         |  WHERE c.doc_id IS NULL),
         |sp AS (
         |  SELECT doc_id, tokens,
         |    CASE
         |      WHEN ${hex15.format("CAST(doc_id AS VARCHAR)")} % 10000 < 8000 THEN 'train'
         |      WHEN ${hex15.format("CAST(doc_id AS VARCHAR)")} % 10000 < 9000 THEN 'val'
         |      WHEN ${hex15.format("CAST(doc_id AS VARCHAR)")} % 10000 < 10000 THEN 'test'
         |      ELSE 'rest' END AS split,
         |    ${hex15.format("CAST(doc_id AS VARCHAR)")} % 4 AS shard
         |  FROM cur)
         |SELECT doc_id, split, tokens, shard,
         |  CAST(COALESCE(SUM(tokens) OVER (PARTITION BY split, shard
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0) AS BIGINT) // 2000 AS bin
         |FROM sp ORDER BY doc_id""".stripMargin,
    // x44: the whole k-means derivation re-done relationally — seeds =
    // 8 lowest ids, 2 Lloyd steps with means rounded to 6 dp (kills
    // accumulation-order noise), sqdist expanded as v·v − 2 v·c + c·c so
    // both engines run the same three sequential dot products
    "x44_ann_kmeans" ->
      s"""WITH $annEmbCte,
         |${kmeansTrainCtes()},
         |scored AS (
         |  SELECT p.query_id, af.vid AS neighbor_id,
         |    list_dot_product(p.qv, af.v)
         |      / (sqrt(list_dot_product(p.qv, p.qv))
         |         * sqrt(list_dot_product(af.v, af.v))) AS cos
         |  FROM probes p JOIN af USING (cid) WHERE af.vid != p.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, rank, round(cos, 4) AS cos_sim
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // x46: the full PQ derivation — per-subspace k-means (the x44 recipe
    // with `sub` as one more grouping column), corpus codes, and the ADC
    // distance sums, all re-done relationally; adist rounds BEFORE ranking
    // on both engines so sum-order noise below 5e-5 cannot flip a rank
    "x46_ann_pq" ->
      s"""WITH $annEmbCte,
         |$pqCtes,
         |adc AS (
         |  SELECT sqt.query_id, saf.vec_id AS neighbor_id,
         |    round(sum(sqt.qd), 4) AS adist
         |  FROM saf JOIN sqt ON saf.sub = sqt.sub AND saf.cid = sqt.cid
         |    AND saf.vec_id != sqt.query_id
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT query_id, neighbor_id, adist,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist, neighbor_id) AS rank
         |  FROM adc)
         |SELECT query_id, neighbor_id, adist, rank
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // x47: IVF-PQ — the coarse chain restricts candidates to each query's
    // probed cells, the PQ chain orders them by ADC; both derivations are
    // the already-gated x44/x46 CTEs, composed verbatim
    "x47_ann_ivfpq" ->
      s"""WITH $annEmbCte,
         |${kmeansTrainCtes()},
         |$pqCtes,
         |cand AS (
         |  SELECT p.query_id, af.vid AS neighbor_id
         |  FROM af JOIN probes p USING (cid) WHERE af.vid != p.query_id),
         |adc AS (
         |  SELECT c.query_id, c.neighbor_id, round(sum(sqt.qd), 4) AS adist
         |  FROM cand c
         |  JOIN saf ON saf.vec_id = c.neighbor_id
         |  JOIN sqt ON sqt.query_id = c.query_id AND sqt.sub = saf.sub
         |    AND sqt.cid = saf.cid
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT query_id, neighbor_id, adist,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist, neighbor_id) AS rank
         |  FROM adc)
         |SELECT query_id, neighbor_id, adist, rank
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // x48: the gated x44 k-means derivation (af = final assignment), then
    // within-cell pairwise cosine — a vector with any lower-id cell-mate at
    // cos >= 0.15 is dropped; survivors keep their cell id
    "x48_semantic_dedup" ->
      s"""WITH $annEmbCte,
         |${kmeansTrainCtes()},
         |drops AS (
         |  SELECT DISTINCT b.vid
         |  FROM af a JOIN af b ON a.cid = b.cid AND a.vid < b.vid
         |  WHERE list_dot_product(a.v, b.v)
         |      / (sqrt(list_dot_product(a.v, a.v))
         |         * sqrt(list_dot_product(b.v, b.v))) >= 0.15)
         |SELECT af.vid AS vec_id, af.cid AS cell
         |FROM af LEFT JOIN drops d ON af.vid = d.vid
         |WHERE d.vid IS NULL ORDER BY vec_id""".stripMargin,
    // x49: the oracle is the NAIVE single-window global running sum the
    // Spark side deliberately avoids — integral token counts make the
    // two-phase bucketed prefix sum exactly equal
    "x49_token_budget" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
        |    length(replace(text, ' ', '')) AS n_nonspace,
        |    CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
        |      ['the','and','of','to','in','is','it','that'])) AS BIGINT) AS en_hits
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_words,
        |    round(CAST(n_nonspace AS DOUBLE) / n_words, 4) AS avg_word_len,
        |    round(CAST(en_hits AS DOUBLE) / n_words, 4) AS stop_ratio
        |  FROM f),
        |q AS (
        |  SELECT doc_id, n_words,
        |    round(least(CAST(n_words AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * 0.5
        |      + least(stop_ratio * 10.0, CAST(1.0 AS DOUBLE)) * 0.3
        |      + CASE WHEN avg_word_len BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END, 4)
        |      AS quality_score
        |  FROM r),
        |c AS (
        |  SELECT doc_id, quality_score, n_words,
        |    CAST(sum(n_words) OVER (ORDER BY quality_score DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM q)
        |SELECT doc_id, quality_score, n_words, cum_tokens
        |FROM c WHERE cum_tokens <= 20000 ORDER BY doc_id""".stripMargin,
    // x50: x38's 13-gram scaffolding, LEFT-joined instead of semi-joined so
    // the per-doc gram total and hit count grade the overlap as a fraction
    "x50_contam_score" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 11, 1)),
        |    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4],
        |      t[i+5], t[i+6], t[i+7], t[i+8], t[i+9], t[i+10], t[i+11],
        |      t[i+12])))) AS gram
        |  FROM toks),
        |evg AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 37 = 0),
        |corpus AS (SELECT doc_id, gram FROM sh WHERE doc_id < 400)
        |SELECT c.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(e.gram) AS BIGINT) AS n_hits,
        |  round(CAST(count(e.gram) AS DOUBLE) / count(*), 4) AS contam_frac
        |FROM corpus c LEFT JOIN evg e ON c.gram = e.gram
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    // x51: the weight list is EMITTED from TextAnalysis.clfWeights — the
    // same longs the Spark expression folds — and the 60-bit md5 bucket is
    // the shared portable hash; integer sums are order-free, so the only
    // float op is the final rounded division
    "x51_clf_score" -> {
      val wl = graft.ext.TextAnalysis.clfWeights.mkString("[", ",", "]")
      s"""WITH tok AS (
         |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
         |  FROM documents),
         |agg AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_feat,
         |    CAST(list_sum(list_transform(tk, t ->
         |      ($wl)[CAST(${hex15.format("t")} % 64 AS INT) + 1])) AS BIGINT)
         |      AS w_sum
         |  FROM tok)
         |SELECT doc_id, n_feat, w_sum,
         |  CAST(w_sum AS DOUBLE) / (n_feat * 1000.0) AS clf_score
         |FROM agg ORDER BY doc_id""".stripMargin
    },
    // x52: non-distinct 5-gram instances -> per-(doc, gram) counts -> gram
    // doc-frequency; a gram seen in >= 2 docs marks its instances duplicate
    "x52_dup_ngram" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 3),
        |    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))) AS gram
        |  FROM tk WHERE len(t) >= 5),
        |pdg AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
        |gd AS (SELECT gram, count(*) AS nd FROM pdg GROUP BY gram)
        |SELECT pdg.doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_grams,
        |  round(CAST(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS DOUBLE)
        |    / sum(c), 4) AS dup_frac
        |FROM pdg JOIN gd USING (gram)
        |GROUP BY pdg.doc_id ORDER BY pdg.doc_id""".stripMargin,
    // x53: full BM25 re-derivation. Float-op order mirrors the Spark
    // expression token for token (k1=1.25, b=0.75 are binary-exact; k1+1
    // is the exact literal 2.25); the per-doc sum is the SAME ascending-
    // term fold ((0+s_dup)+s_vector)+s_window via coalesce — a leading
    // +0.0 is an IEEE no-op, so term-subset docs agree too
    "x53_bm25" -> bm25TopKOracleSql,
    // x54: both rankings re-derived (BM25 = x53's CTE chain at top-20; the
    // cosine ranking = x06's scoring for query 0), then the RRF sum in the
    // SAME fixed lex-then-vec order; null-side contributions are 0.0
    "x54_hybrid_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(len(tk)) AS BIGINT) AS sumdl FROM toks),
        |tr AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks),
        |tf AS (
        |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM tr WHERE term IN ('dup', 'vector', 'window')
        |  GROUP BY doc_id, dl, term),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT t.doc_id, t.term,
        |    ln((CAST(s.n AS DOUBLE) - d.df + 0.5) / (d.df + 0.5) + 1.0)
        |      * (t.tf * 2.25)
        |      / (t.tf + 1.25 * (1.0 - 0.75 + 0.75 * t.dl
        |          / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE)))) AS sc
        |  FROM tf t JOIN dfreq d USING (term) CROSS JOIN stats s),
        |agg AS (
        |  SELECT doc_id,
        |    max(CASE WHEN term = 'dup' THEN sc END) AS s1,
        |    max(CASE WHEN term = 'vector' THEN sc END) AS s2,
        |    max(CASE WHEN term = 'window' THEN sc END) AS s3
        |  FROM scored GROUP BY doc_id),
        |lexr AS (
        |  SELECT doc_id, row_number() OVER (
        |    ORDER BY coalesce(s1, 0.0) + coalesce(s2, 0.0) + coalesce(s3, 0.0)
        |      DESC, doc_id) AS ra
        |  FROM agg),
        |e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |q AS (SELECT vec_id, v FROM e WHERE vec_id = 0),
        |vs AS (
        |  SELECT e.vec_id AS doc_id,
        |    list_dot_product(q.v, e.v)
        |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) AS cos
        |  FROM q, e WHERE e.vec_id != q.vec_id),
        |vecr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rb
        |  FROM vs),
        |fused AS (
        |  SELECT doc_id,
        |    coalesce(1.0 / (60.0 + l.ra), 0.0)
        |      + coalesce(1.0 / (60.0 + v.rb), 0.0) AS rrf
        |  FROM (SELECT * FROM lexr WHERE ra <= 20) l
        |  FULL OUTER JOIN (SELECT * FROM vecr WHERE rb <= 20) v USING (doc_id)),
        |rk AS (
        |  SELECT doc_id, rrf,
        |    row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn FROM fused)
        |SELECT doc_id, round(rrf, 6) AS rrf, CAST(rn AS BIGINT) AS rank
        |FROM rk WHERE rn <= 10 ORDER BY rank""".stripMargin,
    // x55: the unigram model re-derived; the per-doc float sum folds the
    // SAME ascending-term order as the Spark aggregate-over-sort_array
    // (list(... ORDER BY term) + list_reduce left fold; the prepended 0.0
    // mirrors the Spark fold's zero and is an IEEE no-op)
    "x55_unigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
        |  FROM documents),
        |tr AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, unnest(tk) AS term
        |  FROM toks),
        |tc AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tr GROUP BY term),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM tc),
        |tf AS (
        |  SELECT doc_id, n_tokens, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM tr GROUP BY doc_id, n_tokens, term),
        |contrib AS (
        |  SELECT f.doc_id, f.n_tokens, f.term,
        |    f.tf * (-ln(c.cnt / CAST(s.t AS DOUBLE))) AS nll
        |  FROM tf f JOIN tc c USING (term) CROSS JOIN tot s),
        |agg AS (
        |  SELECT doc_id, n_tokens,
        |    list_reduce(list_prepend(0.0, list(nll ORDER BY term)),
        |      (a, b) -> a + b) AS s
        |  FROM contrib GROUP BY doc_id, n_tokens)
        |SELECT doc_id, n_tokens, round(s / n_tokens, 4) AS avg_nll
        |FROM agg ORDER BY doc_id""".stripMargin,
    // x57: the morton interleave re-derived bit by bit with integer
    // arithmetic — column j's bit i lands at output position 2i + j
    "x57_zorder" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  CAST(list_sum(list_transform(range(0, 16), i ->
        |    ((((l_partkey & 65535) >> i) & 1) << (2 * i))
        |      + ((((l_suppkey & 65535) >> i) & 1) << (2 * i + 1))))
        |    AS BIGINT) AS zcode
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, zcode""".stripMargin,
    // x58: the compaction contract re-stated as the naive window the
    // operator replaces — (ts, event_id) is unique per user, so both
    // derivations pick the identical row
    "x58_latest_by_key" ->
      """WITH r AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    row_number() OVER (
        |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, ts, event_id, event_type, round(value, 4) AS value
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // x59: the oracle computes the exact counts and asserts the sketch
    // bound as literal TRUE — a deterministic HLL++ estimate outside
    // 3·rsd of exact fails the hash
    "x59_sketch_profile" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT text) AS BIGINT) AS exact_distinct,
        |  TRUE AS within_bound
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // x60: same bound-assertion pattern for the quantile sketch
    "x60_median_bound" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_rows, TRUE AS within_bound
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // x61: the z-range cover + residual must equal the plain box predicate
    "x61_zorder_read" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_partkey, l_suppkey
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 900 AND l_suppkey BETWEEN 10 AND 60
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,
    // x62: earliest-completion funnel re-derived step by step; epoch_us
    // pins both engines to the same microsecond timeline
    "x62_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, CAST(min(epoch_us(ts)) AS BIGINT) AS t1
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, s1.t1, CAST(min(epoch_us(e.ts)) AS BIGINT) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
        |  GROUP BY e.user_id, s1.t1),
        |s3 AS (
        |  SELECT e.user_id, s2.t1, s2.t2, CAST(min(epoch_us(e.ts)) AS BIGINT) AS t3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
        |  GROUP BY e.user_id, s2.t1, s2.t2)
        |SELECT user_id, t1, t2, t3 FROM s3 ORDER BY user_id""".stripMargin,
    // x63: cohort day = first event day per user; DuckDB date_diff('day')
    // on DATEs == Spark datediff
    "x63_retention" ->
      """WITH c AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort FROM events
        |  GROUP BY user_id)
        |SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort_day,
        |  CAST(date_diff('day', c.cohort, CAST(e.ts AS DATE)) AS BIGINT)
        |    AS day_offset,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM events e JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,
    // x64: u, the E-S key and the ranking re-derived with the shared
    // portable hash; float-op order mirrors the Spark expression
    "x64_weighted_sample" -> {
      val h = hex15.format("'ws:' || CAST(doc_id AS VARCHAR)")
      s"""WITH u AS (
         |  SELECT lang, doc_id, n_chars,
         |    (($h % 1048576) + 0.5) / 1048576.0 AS uu
         |  FROM documents),
         |s AS (SELECT lang, doc_id, (-ln(uu)) / n_chars AS es FROM u),
         |r AS (
         |  SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang ORDER BY es, doc_id) AS rk
         |  FROM s)
         |SELECT lang, doc_id, CAST(rk AS BIGINT) AS sample_rank
         |FROM r WHERE rk <= 20 ORDER BY lang, sample_rank""".stripMargin
    },
    // x65: quotas (T = min count/target, floor(T·target)) and the
    // smallest-hash-first membership re-derived end-to-end
    "x65_rebalance_mix" -> {
      val h = hex15.format("'mix:' || CAST(doc_id AS VARCHAR)")
      s"""WITH c AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents
         |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY source),
         |t AS (
         |  SELECT min(CASE source WHEN 'src0' THEN n / 0.5
         |    WHEN 'src1' THEN n / 0.3 ELSE n / 0.2 END) AS tt FROM c),
         |q AS (
         |  SELECT c.source, CAST(floor(t.tt * CASE c.source
         |    WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3 ELSE 0.2 END)
         |    AS BIGINT) AS quota
         |  FROM c CROSS JOIN t),
         |r AS (
         |  SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY source ORDER BY $h, doc_id) AS rk
         |  FROM documents WHERE source IN ('src0', 'src1', 'src2'))
         |SELECT r.source AS source, r.doc_id AS doc_id
         |FROM r JOIN q ON r.source = q.source
         |WHERE r.rk <= q.quota ORDER BY r.source, r.doc_id""".stripMargin
    },
    // x66: every window re-sliced; window counts via integer // so both
    // engines chunk identically
    "x66_chunk_windows" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
        |  FROM documents),
        |w AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM toks
        |  WHERE len(tk) > 0),
        |g AS (SELECT doc_id, tk, n,
        |  unnest(range(0, (n + 49) // 50)) AS wid FROM w)
        |SELECT doc_id, CAST(wid AS BIGINT) AS window_id,
        |  CAST(wid * 50 AS BIGINT) AS start_token,
        |  CAST(least(100, n - wid * 50) AS BIGINT) AS win_tokens,
        |  array_to_string(tk[CAST(wid * 50 + 1 AS INT) : CAST(wid * 50 + 100 AS INT)], ' ')
        |    AS window_text
        |FROM g ORDER BY doc_id, window_id""".stripMargin,
    // x67: trailing stats re-derived as exact integer window sums; the
    // three float ops and the var > 0 guard mirror the Spark expression
    "x67_rate_anomaly" ->
      """WITH h AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1),
        |s AS (
        |  SELECT hour, n_events,
        |    count(*) OVER w AS wn,
        |    CAST(sum(n_events) OVER w AS BIGINT) AS ws,
        |    CAST(sum(n_events * n_events) OVER w AS BIGINT) AS wq
        |  FROM h WINDOW w AS (
        |    ORDER BY hour ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |v AS (
        |  SELECT hour, n_events,
        |    CAST(ws AS DOUBLE) / wn AS m,
        |    CAST(wq AS DOUBLE) / wn - (CAST(ws AS DOUBLE) / wn)
        |      * (CAST(ws AS DOUBLE) / wn) AS var
        |  FROM s WHERE wn = 24),
        |z AS (
        |  SELECT hour, n_events, (n_events - m) / sqrt(var) AS zz
        |  FROM v WHERE var > 0)
        |SELECT hour, n_events, round(zz, 4) AS z FROM z
        |WHERE abs(zz) >= 2.0 ORDER BY hour""".stripMargin,
    // x68: the x66 window derivation composed with the x31 packing shape
    // (hash shard of the synthetic window id, exclusive integer prefix sum)
    "x68_window_pack" -> {
      val h = hex15.format("CAST(wid2 AS VARCHAR)")
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
         |  FROM documents),
         |w AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM toks
         |  WHERE len(tk) > 0),
         |g AS (SELECT doc_id, n,
         |  unnest(range(0, (n + 49) // 50)) AS wid FROM w),
         |wins AS (
         |  SELECT doc_id, CAST(wid AS BIGINT) AS window_id,
         |    doc_id * 1000 + wid AS wid2,
         |    CAST(least(100, n - wid * 50) AS BIGINT) AS win_tokens
         |  FROM g),
         |sh AS (SELECT doc_id, window_id, wid2, win_tokens,
         |  $h % 8 AS shard FROM wins)
         |SELECT doc_id, window_id, win_tokens, CAST(shard AS BIGINT) AS shard,
         |  CAST(COALESCE(SUM(win_tokens) OVER (PARTITION BY shard
         |    ORDER BY wid2 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0) AS BIGINT) // 2000 AS bin
         |FROM sh ORDER BY doc_id, window_id""".stripMargin
    },
    // x69: the same regex chain; both dialects agree on these patterns
    "x69_normalize" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
        |  FROM documents)
        |SELECT doc_id, norm_text,
        |  CAST(len(list_filter(string_split(norm_text, ' '), t -> t <> ''))
        |    AS BIGINT) AS n_tokens
        |FROM n ORDER BY doc_id""".stripMargin,
    // x70: integer aggregates + one rounded division per fraction; the
    // contamination side reuses the x38 13-gram shape with the same eval
    "x70_source_report" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 11, 1)),
        |    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4],
        |      t[i+5], t[i+6], t[i+7], t[i+8], t[i+9], t[i+10], t[i+11],
        |      t[i+12])))) AS gram
        |  FROM toks),
        |evg AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 37 = 0),
        |cd AS (SELECT DISTINCT sh.doc_id FROM sh JOIN evg USING (gram)),
        |contam AS (
        |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_contam
        |  FROM cd JOIN documents d USING (doc_id) GROUP BY d.source),
        |base AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT
        |      CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT))
        |      AS BIGINT) AS n_distinct,
        |    CAST(sum(length(text) - length(replace(text, ' ', '')) + 1)
        |      AS BIGINT) AS words
        |  FROM documents GROUP BY source)
        |SELECT b.source, b.n_docs, b.n_distinct,
        |  round(CAST(b.n_docs - b.n_distinct AS DOUBLE) / b.n_docs, 4)
        |    AS dup_frac,
        |  CAST(coalesce(c.n_contam, 0) AS BIGINT) AS n_contaminated,
        |  round(CAST(coalesce(c.n_contam, 0) AS DOUBLE) / b.n_docs, 4)
        |    AS contam_frac,
        |  round(CAST(b.words AS DOUBLE) / b.n_docs, 2) AS avg_words
        |FROM base b LEFT JOIN contam c ON b.source = c.source
        |ORDER BY b.source""".stripMargin,
    // x71: copy groups by the 2-token opening (equivalently, by its
    // injective-within-corpus hash), rank by count desc then exemplar asc
    "x71_top_duplicates" ->
      """WITH p AS (
        |  SELECT doc_id, lang,
        |    array_to_string((string_split(text, ' '))[1:2], ' ') AS prefix
        |  FROM documents),
        |g AS (
        |  SELECT lang, CAST(min(doc_id) AS BIGINT) AS exemplar_id,
        |    CAST(count(*) AS BIGINT) AS n_copies
        |  FROM p GROUP BY lang, prefix HAVING count(*) >= 2),
        |r AS (
        |  SELECT lang, exemplar_id, n_copies,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_copies DESC, exemplar_id) AS rk
        |  FROM g)
        |SELECT lang, exemplar_id, n_copies, CAST(rk AS BIGINT) AS rank
        |FROM r WHERE rk <= 3 ORDER BY lang, rank""".stripMargin,

    // x72: the same typed promotion via DuckDB's JSON extraction; all
    // reported stats are integer aggregates of the promoted field
    "x72_props_promote" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_distinct_k,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // x73: multiset adjacent-pair counts; deterministic tie-break on the
    // pair string makes the top-k unambiguous cross-engine
    "x73_bpe_pairs" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |p AS (
        |  SELECT t[u] || ' ' || t[u+1] AS pair
        |  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS u
        |        FROM toks))
        |SELECT pair, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 30""".stripMargin,

    // x74: identical IEEE op chain — float→double widening, per-dim
    // min/max, (max-min)/255, clamp(floor((x-min)/scale + 0.5)) — so the
    // codes are bit-reproducible cross-engine; constant dims encode 0
    "x74_quantize_int8" ->
      """WITH x AS (
        |  SELECT vec_id, u AS pos, CAST(embedding[u] AS DOUBLE) AS x
        |  FROM (SELECT vec_id, embedding,
        |          unnest(generate_series(1, len(embedding))) AS u
        |        FROM embeddings)),
        |r AS (SELECT pos, min(x) AS vmin, max(x) AS vmax FROM x GROUP BY pos),
        |c AS (
        |  SELECT vec_id,
        |    CASE WHEN (vmax - vmin) / 255.0 = 0 THEN 0
        |         ELSE LEAST(255, GREATEST(0, CAST(floor(
        |           (x - vmin) / ((vmax - vmin) / 255.0) + 0.5) AS INT))) END
        |      AS code
        |  FROM x JOIN r USING (pos))
        |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
        |  CAST(sum(code) AS BIGINT) AS code_sum,
        |  CAST(min(code) AS BIGINT) AS code_min,
        |  CAST(max(code) AS BIGINT) AS code_max
        |FROM c GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // x75: both engines key on the SAME 60-bit gram hash, so the count is
    // gate-consistent even in the astronomically-unlikely collision case
    "x75_source_overlap" ->
      """WITH toks AS (SELECT source, string_split(text, ' ') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source AS s,
        |    CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS h
        |  FROM (
        |    SELECT source, unnest(list_distinct(list_transform(
        |      range(1, greatest(len(t) - 11, 1)),
        |      i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4],
        |        t[i+5], t[i+6], t[i+7], t[i+8], t[i+9], t[i+10], t[i+11],
        |        t[i+12])))) AS gram
        |    FROM toks))
        |SELECT a.s AS source_a, b.s AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM sh a JOIN sh b ON a.h = b.h AND a.s < b.s
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // x76: same user-partitioned lead window; ordering pinned to
    // (epoch-µs, event_id) so same-timestamp ties agree cross-engine
    "x76_transitions" ->
      """WITH o AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS to_type
        |  FROM events)
        |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
        |FROM o WHERE to_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // x77: full-outer USING join coalesces the id in both engines; both
    // sides compare the SAME 60-bit content hash
    "x77_snapshot_diff" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS hb
        |  FROM documents WHERE doc_id % 7 <> 0),
        |a AS (
        |  SELECT doc_id, CAST(concat('0x', substr(md5(
        |      CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END),
        |    1, 15)) AS BIGINT) AS ha
        |  FROM documents WHERE doc_id % 3 <> 0)
        |SELECT doc_id,
        |  CASE WHEN hb IS NULL THEN 'added'
        |       WHEN ha IS NULL THEN 'removed'
        |       WHEN ha = hb THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM b FULL OUTER JOIN a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // x78: the x17 pair relation (same staged reconstruction) wrapped in
    // endpoint-degree + histogram aggregates
    "x78_degree_histogram" -> {
      val pairSql = lshOracleSql(
        docWhere = "",
        select = "1 AS one",
        where = """CAST(len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)
                  |  / len(list_distinct(list_concat(sa.shl, sb.shl))) >= 0.5""".stripMargin)
      s"""WITH pairs AS (
         |$pairSql
         |),
         |deg AS (
         |  SELECT n, count(*) AS degree FROM (
         |    SELECT id_a AS n FROM pairs
         |    UNION ALL SELECT id_b AS n FROM pairs)
         |  GROUP BY n)
         |SELECT CAST(degree AS BIGINT) AS degree,
         |  CAST(count(*) AS BIGINT) AS n_nodes
         |FROM deg GROUP BY degree ORDER BY degree""".stripMargin
    },

    // x79: directional containment |A∩B|/|A| on 3-gram shingle sets;
    // both directions, same bounded subset discipline as x04/x16
    "x79_containment" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 600),
        |tok AS (
        |  SELECT doc_id, string_split(text, ' ') w FROM d
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) shl
        |  FROM tok)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.shl, b.shl)) AS DOUBLE)
        |    / len(a.shl), 4) AS containment
        |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |WHERE CAST(len(list_intersect(a.shl, b.shl)) AS DOUBLE)
        |  / len(a.shl) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    // x80: the x19 component relation (same recursive reconstruction)
    // wrapped in per-rep size + histogram aggregates
    "x80_cluster_sizes" -> componentsOracleSql(
      """SELECT CAST(sz AS BIGINT) AS size,
        |  CAST(count(*) AS BIGINT) AS n_clusters
        |FROM (
        |  SELECT rep, count(*) AS sz FROM (
        |    SELECT coalesce(rp.rep, d.doc_id) AS rep
        |    FROM documents d LEFT JOIN rp USING (doc_id)) t
        |  GROUP BY rep) s
        |GROUP BY sz ORDER BY size""".stripMargin),

    // x81: rank ties pinned by (n DESC, key); share and ratio are one
    // pinned division each over integer aggregates
    "x81_skew_audit" ->
      """WITH c AS (
        |  SELECT l_partkey AS key, count(*) AS n FROM lineitem GROUP BY 1),
        |s AS (SELECT sum(n) AS total, count(*) AS n_keys FROM c),
        |r AS (SELECT key, n,
        |    row_number() OVER (ORDER BY n DESC, key) AS rk FROM c)
        |SELECT CAST(key AS BIGINT) AS key, CAST(n AS BIGINT) AS n,
        |  CAST(rk AS BIGINT) AS rank,
        |  round(CAST(n AS DOUBLE) / total, 6) AS share,
        |  round(CAST(n AS DOUBLE) * n_keys / total, 4) AS ratio
        |FROM r, s WHERE rk <= 10 ORDER BY rank, key""".stripMargin,

    // x82: lower median spelled out as the smallest value whose cumulative
    // count reaches ceil(n/2) — integer arithmetic, engine-agnostic
    "x82_exact_median" ->
      """WITH h AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS v, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |cum AS (
        |  SELECT source, v, c,
        |    sum(c) OVER (PARTITION BY source ORDER BY v) AS cc,
        |    sum(c) OVER (PARTITION BY source) AS n
        |  FROM h)
        |SELECT source, CAST(n AS BIGINT) AS n_rows,
        |  CAST(min(v) AS BIGINT) AS median
        |FROM cum WHERE cc >= (n + 1) // 2
        |GROUP BY source, n ORDER BY source""".stripMargin,

    // x83: quantile boundaries at binary-exact fractions, so DuckDB's
    // decimal multiply and Spark's double multiply agree exactly
    "x83_quartiles" ->
      """WITH h AS (
        |  SELECT lang, CAST(n_chars AS BIGINT) AS v, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, v, c,
        |    sum(c) OVER (PARTITION BY lang ORDER BY v) AS cc,
        |    sum(c) OVER (PARTITION BY lang) AS n
        |  FROM h)
        |SELECT lang, CAST(n AS BIGINT) AS n_rows,
        |  CAST(min(CASE WHEN cc >= ceil(0.25 * n) THEN v END) AS BIGINT) AS p25,
        |  CAST(min(CASE WHEN cc >= ceil(0.5 * n) THEN v END) AS BIGINT) AS p50,
        |  CAST(min(CASE WHEN cc >= ceil(0.75 * n) THEN v END) AS BIGINT) AS p75,
        |  CAST(max(v) AS BIGINT) AS vmax
        |FROM cum GROUP BY lang, n ORDER BY lang""".stripMargin,

    // x84: distinct (day, user) exploded to its 7 member windows; both
    // engines truncate days in the pinned UTC session zone
    "x84_rolling_active" ->
      """WITH du AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS u FROM events),
        |mx AS (SELECT max(d) AS md FROM du),
        |w AS (
        |  SELECT d + CAST(k AS INT) AS wd, u
        |  FROM du, generate_series(0, 6) t(k))
        |SELECT strftime(wd, '%Y-%m-%d') AS day,
        |  CAST(count(DISTINCT u) AS BIGINT) AS n_active
        |FROM w, mx WHERE wd <= md
        |GROUP BY 1 ORDER BY day""".stripMargin,

    // x85: the x76 lead window feeding the x83 histogram-quartile chain;
    // gaps truncated to whole seconds with integer division both sides
    "x85_gap_cadence" ->
      """WITH o AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS nus
        |  FROM events),
        |g AS (
        |  SELECT event_type, (nus - us) // 1000000 AS v
        |  FROM o WHERE nus IS NOT NULL),
        |h AS (SELECT event_type, v, count(*) AS c FROM g GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, v, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cc,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM h)
        |SELECT event_type, CAST(n AS BIGINT) AS n_rows,
        |  CAST(min(CASE WHEN cc >= ceil(0.25 * n) THEN v END) AS BIGINT) AS p25,
        |  CAST(min(CASE WHEN cc >= ceil(0.5 * n) THEN v END) AS BIGINT) AS p50,
        |  CAST(min(CASE WHEN cc >= ceil(0.75 * n) THEN v END) AS BIGINT) AS p75,
        |  CAST(max(v) AS BIGINT) AS vmax
        |FROM cum GROUP BY event_type, n ORDER BY event_type""".stripMargin,

    // x86: the x19 component relation, split by the REP's hash bucket —
    // same md5 bucketing as the x30 oracle, keyed on rep instead of doc
    "x86_leakage_free_split" -> componentsOracleSql(
      """SELECT doc_id, rep,
        |  CASE
        |    WHEN CAST(concat('0x', substr(md5(CAST(rep AS VARCHAR)), 1, 15))
        |         AS BIGINT) % 10000 < 8000 THEN 'train'
        |    WHEN CAST(concat('0x', substr(md5(CAST(rep AS VARCHAR)), 1, 15))
        |         AS BIGINT) % 10000 < 9000 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM (
        |  SELECT d.doc_id, CAST(coalesce(rp.rep, d.doc_id) AS BIGINT) AS rep
        |  FROM documents d LEFT JOIN rp USING (doc_id)) t
        |ORDER BY doc_id""".stripMargin),

    // x87: the component relation joined to the inline quality derivation;
    // argmax spelled as row_number over (quality DESC, doc_id)
    "x87_keep_best" -> componentsOracleSql(
      """SELECT rep, keep_id, quality_score, n_members FROM (
        |  SELECT rep, doc_id AS keep_id, quality_score,
        |    row_number() OVER (PARTITION BY rep
        |      ORDER BY quality_score DESC, doc_id) AS rk,
        |    CAST(count(*) OVER (PARTITION BY rep) AS BIGINT) AS n_members
        |  FROM (
        |    SELECT CAST(coalesce(rp.rep, d.doc_id) AS BIGINT) AS rep,
        |      d.doc_id, q.quality_score
        |    FROM documents d LEFT JOIN rp USING (doc_id)
        |    JOIN (
        |      SELECT doc_id,
        |        round(least(CAST(n_words AS DOUBLE) / CAST(100.0 AS DOUBLE),
        |            CAST(1.0 AS DOUBLE)) * 0.5
        |          + least(round(CAST(en_hits AS DOUBLE) / n_words, 4) * 10.0,
        |            CAST(1.0 AS DOUBLE)) * 0.3
        |          + CASE WHEN round(CAST(n_nonspace AS DOUBLE) / n_words, 4)
        |                 BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END, 4)
        |          AS quality_score
        |      FROM (
        |        SELECT doc_id,
        |          CAST(length(text) - length(replace(text, ' ', '')) + 1
        |               AS BIGINT) AS n_words,
        |          length(replace(text, ' ', '')) AS n_nonspace,
        |          CAST(len(list_intersect(
        |            list_distinct(string_split(text, ' ')),
        |            ['the','and','of','to','in','is','it','that']))
        |            AS BIGINT) AS en_hits
        |        FROM documents) f) q USING (doc_id)) t) s
        |WHERE rk = 1 ORDER BY rep""".stripMargin),

    // x88: the oracle recomputes the EXACT side of the audit (the brute
    // top-10 per probe query: its size and its 10th-best cosine) and
    // asserts the pinned recall floor, TRUE per query — the x59/x60
    // bound-gate pattern applied to retrieval quality
    "x88_ann_recall" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |q AS (SELECT vec_id, v FROM e WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |    list_dot_product(q.v, e.v)
        |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) AS cos
        |  FROM q, e WHERE e.vec_id != q.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth,
        |  floor(min(cos) * 10000 + 0.5) / 10000 AS kth_cos, TRUE AS mean_recall_ok
        |FROM ranked WHERE rank <= 10 GROUP BY query_id ORDER BY query_id""".stripMargin,

    // x90: per-dimension means via generate_series × 1-based list index,
    // then the same two-level reduce (E||v||^2 − ||c||^2 identity)
    "x90_embedding_profile" ->
      """WITH e AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |d AS (
        |  SELECT label, g.i AS pos, v[CAST(g.i AS INT)] AS x
        |  FROM e, generate_series(1, 64) AS g(i)),
        |p AS (
        |  SELECT label, pos, count(*) AS n, avg(x) AS mean_x,
        |    avg(x * x) AS mean_x2
        |  FROM d GROUP BY label, pos)
        |SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
        |  floor(sum(mean_x2) * 10000 + 0.5) / 10000 AS mean_sq_norm,
        |  floor(sqrt(sum(mean_x * mean_x)) * 10000 + 0.5) / 10000
        |    AS centroid_norm,
        |  floor((sum(mean_x2) - sum(mean_x * mean_x)) * 10000 + 0.5) / 10000
        |    AS dispersion
        |FROM p GROUP BY label ORDER BY label""".stripMargin,

    // x91: eval-side 13-gram attribution; argmax spelled as row_number
    // over (n DESC, source DESC) to mirror Spark's max(struct) tie order
    "x91_contam_attribution" ->
      """WITH toks AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, source, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 11, 1)),
        |    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4],
        |      t[i+5], t[i+6], t[i+7], t[i+8], t[i+9], t[i+10], t[i+11],
        |      t[i+12])))) AS gram
        |  FROM toks),
        |ev AS (SELECT doc_id AS eval_id, gram FROM sh WHERE doc_id % 37 = 0),
        |corpus AS (
        |  SELECT doc_id AS cdoc_id, source, gram FROM sh WHERE doc_id % 37 != 0),
        |hits AS (
        |  SELECT ev.eval_id, c.cdoc_id, c.source
        |  FROM corpus c JOIN ev USING (gram)),
        |hits_g AS (
        |  SELECT ev.eval_id, c.gram FROM corpus c JOIN ev USING (gram)),
        |per_eval AS (
        |  SELECT h.eval_id,
        |    CAST(count(DISTINCT h.cdoc_id) AS BIGINT) AS n_contaminating_docs
        |  FROM hits h GROUP BY h.eval_id),
        |per_gram AS (
        |  SELECT eval_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_hit_grams
        |  FROM hits_g GROUP BY eval_id),
        |per_src AS (
        |  SELECT eval_id, source, count(DISTINCT cdoc_id) AS n
        |  FROM hits GROUP BY eval_id, source),
        |top AS (
        |  SELECT eval_id, source AS top_source, CAST(n AS BIGINT) AS top_source_docs
        |  FROM (
        |    SELECT eval_id, source, n, row_number() OVER (
        |      PARTITION BY eval_id ORDER BY n DESC, source DESC) AS rk
        |    FROM per_src) WHERE rk = 1)
        |SELECT eval_id, n_hit_grams, n_contaminating_docs, top_source,
        |  top_source_docs
        |FROM per_eval JOIN per_gram USING (eval_id) JOIN top USING (eval_id)
        |ORDER BY eval_id""".stripMargin,

    // x92: x17's pair relation wrapped as a CTE, endpoints joined to their
    // sources, order-normalized with least/greatest
    "x92_source_dup_matrix" ->
      s"""WITH pairs AS (
         |$lshJaccardOracleSql
         |)
         |SELECT least(da.source, db.source) AS source_a,
         |  greatest(da.source, db.source) AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  floor(CAST(sum(CAST(floor(jaccard * 10000 + 0.5) AS BIGINT))
         |      AS DOUBLE) / (count(*) * 10000) * 10000 + 0.5) / 10000
         |    AS avg_jaccard
         |FROM pairs p
         |JOIN documents da ON p.id_a = da.doc_id
         |JOIN documents db ON p.id_b = db.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // x93: four unrolled train iterations (see bpeOracleSql)
    "x93_bpe_train" -> bpeOracleSql(4),

    // x94: top-50 vocab by (count DESC, token ASC), left-join membership,
    // per-source mass coverage
    "x94_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT source AS grp, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS n FROM toks
        |    GROUP BY tok ORDER BY n DESC, tok LIMIT 50)),
        |j AS (
        |  SELECT t.grp, CASE WHEN v.tok IS NULL THEN 0 ELSE 1 END AS inv
        |  FROM toks t LEFT JOIN vocab v USING (tok))
        |SELECT grp AS source, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(inv) AS BIGINT) AS n_in_vocab,
        |  floor((1.0 - CAST(sum(inv) AS DOUBLE) / count(*)) * 10000 + 0.5)
        |    / 10000 AS oov_rate
        |FROM j GROUP BY grp ORDER BY source""".stripMargin,

    // x95: x31's bin relation + the same two stacked aggregations
    "x95_pack_efficiency" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1
        |         AS BIGINT) AS tok,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |         AS BIGINT) % 8 AS shard
        |  FROM documents),
        |binned AS (
        |  SELECT lang, shard, tok,
        |    CAST(COALESCE(SUM(tok) OVER (PARTITION BY lang, shard
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) // 2000 AS bin
        |  FROM d),
        |per_bin AS (
        |  SELECT lang, shard, bin, sum(tok) AS used
        |  FROM binned GROUP BY lang, shard, bin)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_bins,
        |  CAST(sum(used) AS BIGINT) AS used_tokens,
        |  floor(CAST(sum(used) AS DOUBLE) / (count(*) * 2000) * 10000 + 0.5)
        |    / 10000 AS mean_fill,
        |  floor(min(used) / 2000.0 * 10000 + 0.5) / 10000 AS min_fill,
        |  floor(max(used) / 2000.0 * 10000 + 0.5) / 10000 AS max_fill
        |FROM per_bin GROUP BY lang ORDER BY lang""".stripMargin,

    // x96: (source, md5) copy counts, then integer rollup + one division
    "x96_effective_tokens" ->
      """WITH g AS (
        |  SELECT source AS grp, md5(text) AS fp,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(max(len(string_split(text, ' '))) AS BIGINT) AS tok
        |  FROM documents GROUP BY 1, 2)
        |SELECT grp AS source, CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_unique,
        |  CAST(sum(n * tok) AS BIGINT) AS tokens_total,
        |  CAST(sum(tok) AS BIGINT) AS tokens_effective,
        |  floor((1.0 - CAST(sum(tok) AS DOUBLE) / sum(n * tok)) * 10000 + 0.5)
        |    / 10000 AS dup_waste
        |FROM g GROUP BY grp ORDER BY source""".stripMargin,

    // x98: positional postings per phrase term reduced to candidate
    // starts (pos - offset), intersected on (doc, start)
    "x98_phrase_search" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |p AS (
        |  SELECT doc_id, s.pos, s.term FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
        |      i -> {'pos': i - 1, 'term': w[CAST(i AS INT)]})) AS s
        |    FROM toks) u),
        |s0 AS (SELECT doc_id, pos AS start FROM p WHERE term = 'key'),
        |s1 AS (SELECT doc_id, pos - 1 AS start FROM p WHERE term = 'agg')
        |SELECT s0.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences,
        |  CAST(min(s0.start) AS BIGINT) AS first_pos
        |FROM s0 JOIN s1 USING (doc_id, start)
        |GROUP BY s0.doc_id ORDER BY s0.doc_id""".stripMargin,

    // x99: x17's pair relation as edges; wedges from integer degree
    // arithmetic, triangles via the two vertex-keyed joins
    "x99_dup_transitivity" ->
      s"""WITH pairs AS (
         |$lshJaccardOracleSql
         |),
         |edges AS (
         |  SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
         |  FROM pairs WHERE id_a != id_b),
         |deg AS (
         |  SELECT v, count(*) AS d FROM (
         |    SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
         |  GROUP BY v),
         |w AS (SELECT CAST(coalesce(sum(d * (d - 1) // 2), 0) AS BIGINT) AS n_wedges FROM deg),
         |tri AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |  FROM edges ab
         |  JOIN (SELECT a AS b, b AS c FROM edges) bc USING (b)
         |  JOIN (SELECT a, b AS c FROM edges) ac USING (a, c)),
         |e AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
         |SELECT n_edges, n_wedges, n_triangles,
         |  CASE WHEN n_wedges > 0
         |    THEN floor(3.0 * n_triangles / n_wedges * 10000 + 0.5) / 10000
         |    ELSE 0.0 END AS transitivity
         |FROM e, w, tri""".stripMargin,

    // x100: the x08 lang-scoring CTE + confusion-matrix aggregate
    "x100_lang_confusion" ->
      """WITH t AS (
        |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) tok
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_intersect(tok, ['der','die','das','und','ist','nicht','mit','ein'])) AS BIGINT) AS s_de,
        |    CAST(len(list_intersect(tok, ['the','and','of','to','in','is','it','that'])) AS BIGINT) AS s_en,
        |    CAST(len(list_intersect(tok, ['el','los','que','y','un','por','con','para'])) AS BIGINT) AS s_es,
        |    CAST(len(list_intersect(tok, ['le','les','et','est','une','dans','pour','sur'])) AS BIGINT) AS s_fr,
        |    CAST(len(list_intersect(tok, ['的','是','不','了','在','人','我','他'])) AS BIGINT) AS s_zh
        |  FROM t),
        |p AS (
        |  SELECT lang AS declared,
        |    CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
        |         WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
        |         WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        |         WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        |         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        |         ELSE 'zh' END AS predicted
        |  FROM s)
        |SELECT declared, predicted, CAST(count(*) AS BIGINT) AS n_docs,
        |  declared = predicted AS agree
        |FROM p GROUP BY declared, predicted
        |ORDER BY declared, predicted""".stripMargin,

    // x97: gram -> min(doc_id) first-appearance relation joined back,
    // per-doc novel share with the portable floor rounding
    "x97_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS gram
        |  FROM toks),
        |first AS (SELECT gram, min(doc_id) AS first_id FROM sh GROUP BY gram)
        |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN f.first_id = s.doc_id THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_novel,
        |  floor(CAST(sum(CASE WHEN f.first_id = s.doc_id THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS novelty
        |FROM sh s JOIN first f USING (gram)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    // x101: x93's unrolled train chain over the 25 % portable-hash sample
    // (identical predicate to Sampling.uniform's 60-bit md5 bucket)
    "x101_bpe_train_sampled" -> bpeOracleSql(4, docWhere =
      """
        |    AND CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |        AS BIGINT) % 10000 < 2500""".stripMargin),

    // x102: the oracle rebuilds the SAME clustered fixture (center 4.0 on
    // every 8th dim by vec_id % 8, portable-hash jitter — identical IEEE
    // doubles on both engines), recomputes the exact brute top-10 side,
    // and asserts the 0.8 mean-recall floor TRUE (x88's bound-gate shape)
    "x102_ann_recall_clustered" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(range(1, 65), j ->
        |    CASE WHEN vec_id % 8 = (j - 1) % 8 THEN 4.0 ELSE 0.0 END
        |    + ((CAST(concat('0x', substr(md5(concat(CAST(vec_id AS VARCHAR),
        |          ':', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT) % 1000)
        |        / 1000.0 - 0.5) * 0.5) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id, v FROM e WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |    list_dot_product(q.v, e.v)
        |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) AS cos
        |  FROM q, e WHERE e.vec_id != q.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth,
        |  floor(min(cos) * 10000 + 0.5) / 10000 AS kth_cos, TRUE AS mean_recall_ok
        |FROM ranked WHERE rank <= 10 GROUP BY query_id ORDER BY query_id""".stripMargin,

    // x103: positional 10-grams via zipped unnests (DuckDB zips parallel
    // unnests), duplicated-gram hits merged into maximal spans with the
    // same gaps-and-islands windows the Spark plan runs per doc. lag's
    // NULL first row compares NULL > 10 -> NULL -> CASE falls to 0, the
    // same start-of-doc behavior as Spark's otherwise(0)
    "x103_dup_spans" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(range(0, len(t) - 9)) AS start,
        |    unnest(list_transform(range(0, len(t) - 9),
        |      i -> array_to_string(t[i+1:i+10], ' '))) AS gram
        |  FROM tk WHERE len(t) >= 10),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |h AS (SELECT doc_id, start FROM g JOIN dup USING (gram)),
        |m AS (
        |  SELECT doc_id, start,
        |    CASE WHEN start - lag(start)
        |        OVER (PARTITION BY doc_id ORDER BY start) > 10
        |      THEN 1 ELSE 0 END AS brk
        |  FROM h),
        |i AS (
        |  SELECT doc_id, start,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY start) AS island
        |  FROM m)
        |SELECT doc_id,
        |  CAST(min(start) AS BIGINT) AS span_start,
        |  CAST(max(start) + 9 AS BIGINT) AS span_end,
        |  CAST(max(start) + 9 - min(start) + 1 AS BIGINT) AS span_tokens,
        |  CAST(count(*) AS BIGINT) AS n_grams
        |FROM i GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    // x104: alpha = 0.5 exponentiation via sqrt (IEEE correctly rounded
    // on both engines), quantized RELATIVE to the max group (overflow-
    // safe at any token scale) to integer units BEFORE the cross-group
    // sums so both shares are exact-integer ratios; round4 = the
    // portable floor rounding
    "x104_temperature_mix" ->
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |q AS (SELECT *, CAST(floor(sqrt(CAST(tokens AS DOUBLE)
        |      / (SELECT CAST(max(tokens) AS DOUBLE) FROM c)) * 1e12)
        |    AS BIGINT) AS paq FROM c),
        |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS tott,
        |    CAST(sum(paq) AS BIGINT) AS totp FROM q)
        |SELECT source, n_docs, tokens,
        |  floor(CAST(tokens AS DOUBLE) / tott * 10000 + 0.5) / 10000
        |    AS share_raw,
        |  floor(CAST(paq AS DOUBLE) / totp * 10000 + 0.5) / 10000
        |    AS share_temp,
        |  floor((CAST(paq AS DOUBLE) / totp) / (CAST(tokens AS DOUBLE) / tott)
        |      * 10000 + 0.5) / 10000 AS up_weight
        |FROM q, tot ORDER BY source""".stripMargin,

    // x105: x06's exact cosine chain with the hard-negative band filter
    // [0.15, 0.35) applied before ranking — float op order identical to
    // the Spark expression, so the unrounded band predicate agrees
    "x105_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |    list_dot_product(q.v, e.v)
        |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) AS cos
        |  FROM q, e WHERE e.vec_id != q.vec_id),
        |banded AS (SELECT * FROM scored WHERE cos >= 0.15 AND cos < 0.35),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM banded)
        |SELECT query_id, neighbor_id, rank, round(cos, 4) AS cos_sim
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // x106: x44's retrieval chain with the k-means TRAINED ON THE FIRST
    // BATCH only (tr = vec_id < 250) — the persisted-state contract:
    // frozen first-batch centroids, every vector assigned to them (the
    // chain's af/probes stages already run over all of e)
    "x106_ann_from_state" ->
      s"""WITH $annEmbCte,
         |tr AS (SELECT * FROM e WHERE vec_id < 250),
         |${kmeansTrainCtes("tr")},
         |scored AS (
         |  SELECT p.query_id, af.vid AS neighbor_id,
         |    list_dot_product(p.qv, af.v)
         |      / (sqrt(list_dot_product(p.qv, p.qv))
         |         * sqrt(list_dot_product(af.v, af.v))) AS cos
         |  FROM probes p JOIN af USING (cid) WHERE af.vid != p.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, rank, round(cos, 4) AS cos_sim
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // x107: first-batch k-means (tr = vec_id < 250), state = assignments
    // of vec_id < 400 (the af stage filtered), probe batch = vec_id in
    // [400, 500) probing 2 cells; pairs are cell-restricted and unique
    // because cells partition the state
    "x107_vector_dup_from_state" ->
      s"""WITH $annEmbCte,
         |tr AS (SELECT * FROM e WHERE vec_id < 250),
         |${kmeansTrainCtes("tr",
            probeWhere = "e.vec_id >= 400 AND e.vec_id < 500", nProbe = 2)},
         |st AS (SELECT vid, v, cid FROM af WHERE vid < 400),
         |scored AS (
         |  SELECT p.query_id AS new_id, s.vid AS old_id,
         |    list_dot_product(p.qv, s.v)
         |      / (sqrt(list_dot_product(p.qv, p.qv))
         |         * sqrt(list_dot_product(s.v, s.v))) AS cos
         |  FROM probes p JOIN st s USING (cid) WHERE s.vid != p.query_id)
         |SELECT new_id, old_id, round(cos, 4) AS cos_sim
         |FROM scored WHERE cos >= 0.3 ORDER BY new_id, old_id""".stripMargin,

    // x108: x103's gram/island chain but only NON-FIRST occurrences of a
    // duplicated gram flag (rn > 1 over (doc, start) order = the Spark
    // min-struct exemption), then token-level anti-join against the
    // merged spans and ordered re-assembly; count(kept.tok) is 0 for a
    // fully-excised doc (string_agg NULL -> ''), matching concat_ws("")
    "x108_substring_dedup" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(range(0, len(t) - 9)) AS start,
        |    unnest(list_transform(range(0, len(t) - 9),
        |      i -> array_to_string(t[i+1:i+10], ' '))) AS gram
        |  FROM tk WHERE len(t) >= 10),
        |r AS (
        |  SELECT doc_id, start,
        |    count(*) OVER (PARTITION BY gram) AS c,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, start) AS rn
        |  FROM g),
        |h AS (SELECT doc_id, start FROM r WHERE c >= 2 AND rn > 1),
        |m AS (
        |  SELECT doc_id, start,
        |    CASE WHEN start - lag(start)
        |        OVER (PARTITION BY doc_id ORDER BY start) > 10
        |      THEN 1 ELSE 0 END AS brk
        |  FROM h),
        |i AS (
        |  SELECT doc_id, start,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY start) AS island
        |  FROM m),
        |sp AS (
        |  SELECT doc_id, min(start) AS s0, max(start) + 9 AS s1
        |  FROM i GROUP BY doc_id, island),
        |tok AS (
        |  SELECT doc_id, unnest(range(0, len(t))) AS pos, unnest(t) AS tok
        |  FROM tk),
        |kept AS (
        |  SELECT tok.doc_id, pos, tok
        |  FROM tok LEFT JOIN sp
        |    ON tok.doc_id = sp.doc_id AND pos BETWEEN sp.s0 AND sp.s1
        |  WHERE sp.doc_id IS NULL)
        |SELECT tk.doc_id, CAST(len(tk.t) AS BIGINT) AS n_tokens,
        |  CAST(len(tk.t) - count(kept.tok) AS BIGINT) AS n_removed,
        |  coalesce(string_agg(kept.tok, ' ' ORDER BY kept.pos), '')
        |    AS text_clean
        |FROM tk LEFT JOIN kept USING (doc_id)
        |GROUP BY tk.doc_id, len(tk.t)
        |ORDER BY tk.doc_id""".stripMargin,

    // x110: the state-backed BM25 computes x53's exact relation (postings
    // from parquet instead of re-tokenization) — same oracle
    "x110_bm25_from_state" -> bm25TopKOracleSql,

    // x113: the banded pair relation at 0.3 (same stage-by-stage band
    // reconstruction as x17's oracle, unrounded jaccard), then the same
    // per-threshold comparisons; zero-pair thresholds survive via the
    // LEFT JOINs
    "x113_threshold_sweep" -> {
      val pr = lshOracleSql(
        docWhere = "",
        select = """CAST(len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)
                   |  / len(list_distinct(list_concat(sa.shl, sb.shl))) AS jaccard""".stripMargin,
        where = """CAST(len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)
                  |  / len(list_distinct(list_concat(sa.shl, sb.shl))) >= 0.3""".stripMargin)
      s"""WITH pr AS ($pr),
         |t AS (SELECT CAST(x AS DOUBLE) AS threshold FROM (VALUES (0.3),
         |  (0.4), (0.5), (0.6), (0.7), (0.8), (0.9)) v(x)),
         |pc AS (
         |  SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM t JOIN pr ON pr.jaccard >= t.threshold GROUP BY threshold),
         |dc AS (
         |  SELECT threshold, CAST(count(DISTINCT id) AS BIGINT) AS n_docs
         |  FROM t JOIN (
         |    SELECT id_a AS id, jaccard FROM pr
         |    UNION ALL SELECT id_b, jaccard FROM pr) e
         |    ON e.jaccard >= t.threshold GROUP BY threshold)
         |SELECT t.threshold, coalesce(pc.n_pairs, 0) AS n_pairs,
         |  coalesce(dc.n_docs, 0) AS n_docs
         |FROM t LEFT JOIN pc USING (threshold) LEFT JOIN dc USING (threshold)
         |ORDER BY t.threshold""".stripMargin
    },

    // x112: componentsOracleSql exposes the pair relation `p` AND the
    // doc→rep map `rp`; both split CASEs reuse the x30/x86 md5 buckets,
    // and the audit is the same two joins + least/greatest cell grouping
    "x112_split_leakage" -> componentsOracleSql(
      s""", naive AS (
         |  SELECT doc_id,
         |    CASE WHEN ${hex15.format("CAST(doc_id AS VARCHAR)")} % 10000 < 8000 THEN 'train'
         |         WHEN ${hex15.format("CAST(doc_id AS VARCHAR)")} % 10000 < 9000 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |safe AS (
         |  SELECT t.doc_id,
         |    CASE WHEN ${hex15.format("CAST(rep AS VARCHAR)")} % 10000 < 8000 THEN 'train'
         |         WHEN ${hex15.format("CAST(rep AS VARCHAR)")} % 10000 < 9000 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT d.doc_id, CAST(coalesce(rp.rep, d.doc_id) AS BIGINT) AS rep
         |        FROM documents d LEFT JOIN rp USING (doc_id)) t),
         |au AS (
         |  SELECT 'naive_hash' AS method, least(a.split, b.split) AS split_a,
         |    greatest(a.split, b.split) AS split_b,
         |    CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM p JOIN naive a ON p.id_a = a.doc_id
         |         JOIN naive b ON p.id_b = b.doc_id
         |  GROUP BY 2, 3
         |  UNION ALL
         |  SELECT 'cluster_rep', least(a.split, b.split),
         |    greatest(a.split, b.split), CAST(count(*) AS BIGINT)
         |  FROM p JOIN safe a ON p.id_a = a.doc_id
         |         JOIN safe b ON p.id_b = b.doc_id
         |  GROUP BY 2, 3)
         |SELECT method, split_a, split_b, n_pairs,
         |  split_a <> split_b AS leaks
         |FROM au ORDER BY method, split_a, split_b""".stripMargin),

    // x111: per-source budgets from the x104 share chain (floor(share ·
    // 5000) — the rounded share makes the budget engine-identical), fill
    // = the NAIVE per-source running window over the portable hash (the
    // Spark side's two-phase prefix sum totals the same integers)
    "x111_temperature_sample" ->
      """WITH c AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |q AS (SELECT source, CAST(floor(sqrt(CAST(tokens AS DOUBLE)
        |      / (SELECT CAST(max(tokens) AS DOUBLE) FROM c)) * 1e12)
        |    AS BIGINT) AS paq FROM c),
        |tot AS (SELECT CAST(sum(paq) AS BIGINT) AS totp FROM q),
        |b AS (SELECT source,
        |  CAST(floor(floor(CAST(paq AS DOUBLE) / totp * 10000 + 0.5)
        |    / 10000 * 5000) AS BIGINT) AS budget
        |  FROM q, tot),
        |d AS (SELECT source, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
        |  CAST(concat('0x', substr(md5(concat('tsamp:',
        |    CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |cum AS (
        |  SELECT source, doc_id, tokens,
        |    sum(tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM d)
        |SELECT cum.source, doc_id, tokens,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM cum JOIN b USING (source)
        |WHERE cum_tokens - tokens < budget
        |ORDER BY source, cum_tokens""".stripMargin,

    // x109: counts and token sums exact; the distinct-content estimate is
    // pinned only through its bound (the engine computes the boolean
    // honestly against the exact join side; at this cardinality the HLL
    // is in sparse mode and exact, so TRUE has wide margin)
    "x109_stats_from_state" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
        |  TRUE AS est_within_bound
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // x114: the drifted fixture (x102's clusters + a 30 % drifted
    // population near 6.0·dim0), first-batch k-means re-derived from
    // scratch (tr = batch 1), ALL vectors assigned to the frozen c2
    // centroids (the af stage), then the exact integer-ratio occupancy
    // report. The recall half is pinned as a literal-TRUE gate (the x102
    // discipline: the engine must honestly compute mean recall ≥ 0.8
    // over the state to match); the occupancy booleans are exact.
    "x114_ivf_state_audit" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(range(1, 65), j ->
         |    CASE WHEN vec_id % 10 >= 7 AND vec_id >= 20
         |      THEN CASE WHEN j = 1 THEN 6.0 ELSE 0.0 END
         |      ELSE CASE WHEN vec_id % 8 = (j - 1) % 8 THEN 4.0 ELSE 0.0 END
         |    END
         |    + ((CAST(concat('0x', substr(md5(concat(CAST(vec_id AS VARCHAR),
         |          ':', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT) % 1000)
         |        / 1000.0 - 0.5) * 0.5) AS v
         |  FROM embeddings),
         |tr AS (SELECT * FROM e WHERE vec_id < 8 OR vec_id % 10 < 4),
         |${kmeansTrainCtes("tr")},
         |occ AS (
         |  SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs
         |  FROM af GROUP BY cid),
         |tot AS (
         |  SELECT CAST(sum(n_vecs) AS BIGINT) AS t,
         |    CAST(count(*) AS BIGINT) AS c FROM occ),
         |rt AS (
         |  SELECT bool_or(CAST(n_vecs AS DOUBLE) * c > 2.0 * t) AS r
         |  FROM occ, tot)
         |SELECT cid, n_vecs,
         |  floor(CAST(n_vecs AS DOUBLE) / t * 10000 + 0.5) / 10000 AS share,
         |  floor(CAST(n_vecs AS DOUBLE) * c / t * 10000 + 0.5) / 10000
         |    AS heavy_to_mean,
         |  CAST(n_vecs AS DOUBLE) * c > 2.0 * t AS cell_overloaded,
         |  TRUE AS mean_recall_ok,
         |  rt.r AS retrain_recommended
         |FROM occ, tot, rt ORDER BY cid""".stripMargin,

    // x115: the x110 BM25 chain over the SURVIVING corpus — the delete
    // contract: tombstoned postings stop scoring, and N/avgdl shrink to
    // exactly the from-scratch values
    "x115_postings_delete" ->
      bm25TopKOracleSqlWhere(" WHERE doc_id % 7 <> 3"),

    // x116: three unrolled detect→protect→excise iterations (iterations
    // past the fixpoint are identities, so unrolling past convergence is
    // harmless). Token LISTS travel between iterations — never the
    // reassembled string, whose re-split would turn a fully-excised
    // doc's '' into one phantom token and skew the removal accounting
    "x116_substring_fixpoint" ->
      s"""WITH it0 AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |orig AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |${fixpointIterCtes(1)},
         |${fixpointIterCtes(2)},
         |${fixpointIterCtes(3)}
         |SELECT o.doc_id, o.n_tokens,
         |  CAST(o.n_tokens - len(it3.t) AS BIGINT) AS n_removed,
         |  coalesce(array_to_string(it3.t, ' '), '') AS text_clean
         |FROM orig o JOIN it3 USING (doc_id)
         |ORDER BY o.doc_id""".stripMargin,

    // x117: the x93 training chain (doc_id carried) encodes every doc,
    // then x49's quality scoring + the naive global budget window over
    // the ENCODED counts
    "x117_bpe_budget" ->
      s"""WITH ${bpeEncodedCorpusCtes(4)},
         |enc AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS bpe_tokens FROM it4),
         |f AS (
         |  SELECT doc_id,
         |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
         |    length(replace(text, ' ', '')) AS n_nonspace,
         |    CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
         |      ['the','and','of','to','in','is','it','that'])) AS BIGINT) AS en_hits
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_words,
         |    round(CAST(n_nonspace AS DOUBLE) / n_words, 4) AS avg_word_len,
         |    round(CAST(en_hits AS DOUBLE) / n_words, 4) AS stop_ratio
         |  FROM f),
         |q AS (
         |  SELECT doc_id,
         |    round(least(CAST(n_words AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * 0.5
         |      + least(stop_ratio * 10.0, CAST(1.0 AS DOUBLE)) * 0.3
         |      + CASE WHEN avg_word_len BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END, 4)
         |      AS quality_score
         |  FROM r),
         |c AS (
         |  SELECT q.doc_id, q.quality_score, e.bpe_tokens,
         |    CAST(sum(e.bpe_tokens) OVER (ORDER BY q.quality_score DESC, q.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM q JOIN enc e USING (doc_id))
         |SELECT doc_id, quality_score, bpe_tokens, cum_tokens
         |FROM c WHERE cum_tokens <= 20000 ORDER BY doc_id""".stripMargin,

    // x118: the averaged-perceptron training replayed EXACTLY — x49's
    // quality chain labels the training quarter, a recursive CTE applies
    // the same hash-ordered integer updates (mistake ⇒ w += label·f;
    // sw accumulates w after every step over 2 epochs), and every doc
    // scores with the averaged sums. All arithmetic is integer, so the
    // logits hash-match bit-for-bit.
    "x118_trained_scorer" ->
      """WITH RECURSIVE f0 AS (
        |  SELECT doc_id,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
        |    length(replace(text, ' ', '')) AS n_nonspace,
        |    CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
        |      ['the','and','of','to','in','is','it','that'])) AS BIGINT) AS en_hits
        |  FROM documents),
        |r0 AS (
        |  SELECT doc_id, n_words,
        |    round(CAST(n_nonspace AS DOUBLE) / n_words, 4) AS avg_word_len,
        |    round(CAST(en_hits AS DOUBLE) / n_words, 4) AS stop_ratio
        |  FROM f0),
        |q0 AS (
        |  SELECT doc_id,
        |    round(least(CAST(n_words AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * 0.5
        |      + least(stop_ratio * 10.0, CAST(1.0 AS DOUBLE)) * 0.3
        |      + CASE WHEN avg_word_len BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END, 4)
        |      AS quality_score
        |  FROM r0),
        |lab AS (
        |  SELECT d.doc_id, d.text,
        |    CASE WHEN q0.quality_score >= 0.5 THEN 1 ELSE -1 END AS label
        |  FROM documents d JOIN q0 USING (doc_id)),
        |feat AS (
        |  SELECT doc_id, label,
        |    CAST(concat('0x', substr(md5(concat('pcpt:',
        |      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h,
        |    list_transform(range(64), b ->
        |      CAST(len(list_filter(list_distinct(string_split(text, ' ')),
        |        t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % 64
        |          = b)) AS BIGINT)) AS f
        |  FROM lab WHERE doc_id % 4 = 0),
        |ord AS (
        |  SELECT row_number() OVER (ORDER BY ep, h, doc_id) AS rn,
        |    CAST(label AS BIGINT) AS label, f
        |  FROM feat CROSS JOIN (SELECT unnest([1, 2]) AS ep)),
        |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ord),
        |steps AS (
        |  SELECT CAST(0 AS BIGINT) AS i,
        |    list_transform(range(64), x -> CAST(0 AS BIGINT)) AS w,
        |    list_transform(range(64), x -> CAST(0 AS BIGINT)) AS sw
        |  UNION ALL
        |  SELECT s.i + 1,
        |    list_transform(range(64), b -> s.w[CAST(b + 1 AS INT)]
        |      + (CASE WHEN (list_sum(list_transform(range(64), c ->
        |            s.w[CAST(c + 1 AS INT)] * o.f[CAST(c + 1 AS INT)])) > 0)
        |          = (o.label = 1) THEN 0 ELSE 1 END)
        |        * o.label * o.f[CAST(b + 1 AS INT)]),
        |    list_transform(range(64), b -> s.sw[CAST(b + 1 AS INT)]
        |      + s.w[CAST(b + 1 AS INT)]
        |      + (CASE WHEN (list_sum(list_transform(range(64), c ->
        |            s.w[CAST(c + 1 AS INT)] * o.f[CAST(c + 1 AS INT)])) > 0)
        |          = (o.label = 1) THEN 0 ELSE 1 END)
        |        * o.label * o.f[CAST(b + 1 AS INT)])
        |  FROM steps s JOIN ord o ON o.rn = s.i + 1),
        |fin AS (SELECT sw FROM steps, cnt WHERE steps.i = cnt.n),
        |scored AS (
        |  SELECT l.doc_id, CAST(l.label AS BIGINT) AS label,
        |    CAST(coalesce(list_sum(list_transform(
        |      list_distinct(string_split(l.text, ' ')),
        |      t -> fin.sw[CAST(CAST(concat('0x', substr(md5(t), 1, 15))
        |        AS BIGINT) % 64 + 1 AS INT)])), 0) AS BIGINT) AS clf_logit
        |  FROM lab l, fin)
        |SELECT doc_id, label, clf_logit, clf_logit > 0 AS clf_pred,
        |  (clf_logit > 0) = (label = 1) AS correct
        |FROM scored ORDER BY doc_id""".stripMargin,

    // x119: x106's retrieval chain with the deleted vids excluded from
    // the SCORING side only (the centroids trained before the delete —
    // frozen-geometry contract). Shared with x123's ann section (the
    // capstone adds compaction, which must not change answers).
    "x119_ivf_delete" -> ivfDeleteOracleSql,

    // x120: exact counts over the SURVIVORS, distinct estimate bounded
    // against the APPENDED corpus's distinct (what a union-only sketch
    // measures — the documented upper-bound semantics after deletes)
    "x120_stats_delete" ->
      """SELECT source,
        |  CAST(count(*) FILTER (WHERE doc_id % 7 <> 3) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(len(string_split(text, ' ')))
        |    FILTER (WHERE doc_id % 7 <> 3), 0) AS BIGINT) AS tokens,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_appended,
        |  TRUE AS est_within_bound
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // x121: the x117 budget chain under the FROZEN-tokenizer shape —
    // pair counting restricted to the training batch (doc_id < 250),
    // every document re-encoded under those merges, x49's quality chain,
    // the naive global budget window over the encoded counts
    "x121_budget_from_state" ->
      s"""WITH ${bpeEncodedCorpusCtes(4, " WHERE doc_id < 250")},
         |enc AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS bpe_tokens FROM it4),
         |f AS (
         |  SELECT doc_id,
         |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
         |    length(replace(text, ' ', '')) AS n_nonspace,
         |    CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
         |      ['the','and','of','to','in','is','it','that'])) AS BIGINT) AS en_hits
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_words,
         |    round(CAST(n_nonspace AS DOUBLE) / n_words, 4) AS avg_word_len,
         |    round(CAST(en_hits AS DOUBLE) / n_words, 4) AS stop_ratio
         |  FROM f),
         |q AS (
         |  SELECT doc_id,
         |    round(least(CAST(n_words AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * 0.5
         |      + least(stop_ratio * 10.0, CAST(1.0 AS DOUBLE)) * 0.3
         |      + CASE WHEN avg_word_len BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END, 4)
         |      AS quality_score
         |  FROM r),
         |c AS (
         |  SELECT q.doc_id, q.quality_score, e.bpe_tokens,
         |    CAST(sum(e.bpe_tokens) OVER (ORDER BY q.quality_score DESC, q.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM q JOIN enc e USING (doc_id))
         |SELECT doc_id, quality_score, bpe_tokens, cum_tokens
         |FROM c WHERE cum_tokens <= 20000 ORDER BY doc_id""".stripMargin,

    // x122: the drifted fixture reclustered — k-means now trained on ALL
    // vectors (the recluster contract), retrieval = the x106 probed
    // chain over the re-fitted cells, worst occupancy skew from the same
    // exact integer ratios; the before-flag is pinned TRUE
    // (x114 value-pins the before-state occupancy itself)
    "x122_ivf_recluster" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(range(1, 65), j ->
         |    CASE WHEN vec_id % 10 >= 7 AND vec_id >= 20
         |      THEN CASE WHEN j = 1 THEN 6.0 ELSE 0.0 END
         |      ELSE CASE WHEN vec_id % 8 = (j - 1) % 8 THEN 4.0 ELSE 0.0 END
         |    END
         |    + ((CAST(concat('0x', substr(md5(concat(CAST(vec_id AS VARCHAR),
         |          ':', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT) % 1000)
         |        / 1000.0 - 0.5) * 0.5) AS v
         |  FROM embeddings),
         |${kmeansTrainCtes("e")},
         |occ AS (
         |  SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs
         |  FROM af GROUP BY cid),
         |tot AS (
         |  SELECT CAST(sum(n_vecs) AS BIGINT) AS t,
         |    CAST(count(*) AS BIGINT) AS c FROM occ),
         |heavy AS (
         |  SELECT max(floor(CAST(n_vecs AS DOUBLE) * c / t * 10000 + 0.5)
         |    / 10000) AS max_heavy_after
         |  FROM occ, tot),
         |scored AS (
         |  SELECT p.query_id, af.vid AS neighbor_id,
         |    list_dot_product(p.qv, af.v)
         |      / (sqrt(list_dot_product(p.qv, p.qv))
         |         * sqrt(list_dot_product(af.v, af.v))) AS cos
         |  FROM probes p JOIN af USING (cid)
         |  WHERE af.vid != p.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
         |  round(cos, 4) AS cos_sim,
         |  TRUE AS drift_flagged_before, h.max_heavy_after
         |FROM ranked, heavy h WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // x123: each pillar's from-scratch survivor derivation, quantized and
    // unioned — bm25 = the x115 chain, ann = the x119 chain (both as
    // nested-WITH subqueries, names isolated), stats = exact survivor
    // counts; compaction must not change any of it
    "x123_state_lifecycle" ->
      s"""SELECT pillar, k1, k2, v FROM (
         |  SELECT 'bm25_score' AS pillar, CAST(doc_id AS VARCHAR) AS k1,
         |    CAST(rank AS VARCHAR) AS k2,
         |    CAST(floor(score * 10000 + 0.5) AS BIGINT) AS v
         |  FROM (${bm25TopKOracleSqlWhere(" WHERE doc_id % 7 <> 3")})
         |  UNION ALL
         |  SELECT 'ann_rank', CAST(query_id AS VARCHAR),
         |    CAST(rank AS VARCHAR), CAST(neighbor_id AS BIGINT)
         |  FROM ($ivfDeleteOracleSql)
         |  UNION ALL
         |  SELECT 'ann_cos', CAST(query_id AS VARCHAR),
         |    CAST(rank AS VARCHAR),
         |    CAST(floor(cos_sim * 10000 + 0.5) AS BIGINT)
         |  FROM ($ivfDeleteOracleSql)
         |  UNION ALL
         |  SELECT 'stats_docs', source, '',
         |    CAST(count(*) FILTER (WHERE doc_id % 7 <> 3) AS BIGINT)
         |  FROM documents GROUP BY source
         |  UNION ALL
         |  SELECT 'stats_tokens', source, '',
         |    CAST(coalesce(sum(len(string_split(text, ' ')))
         |      FILTER (WHERE doc_id % 7 <> 3), 0) AS BIGINT)
         |  FROM documents GROUP BY source)
         |ORDER BY pillar, k1, k2""".stripMargin,

    // x124: x111's share/budget/fill chain with tokens = the frozen-
    // tokenizer encoded counts (training restricted to batch 1, every
    // doc re-encoded - the x121 CTEs), naive per-source running window
    "x124_sample_from_state" ->
      s"""WITH ${bpeEncodedCorpusCtes(4, " WHERE doc_id < 250")},
         |enc AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS tokens FROM it4),
         |doc AS (
         |  SELECT d.source, enc.doc_id, enc.tokens
         |  FROM documents d JOIN enc USING (doc_id)),
         |c AS (SELECT source, CAST(sum(tokens) AS BIGINT) AS tokens
         |      FROM doc GROUP BY source),
         |q AS (SELECT source, CAST(floor(sqrt(CAST(tokens AS DOUBLE)
         |      / (SELECT CAST(max(tokens) AS DOUBLE) FROM c)) * 1e12)
         |    AS BIGINT) AS paq FROM c),
         |tot AS (SELECT CAST(sum(paq) AS BIGINT) AS totp FROM q),
         |b AS (SELECT source,
         |  CAST(floor(floor(CAST(paq AS DOUBLE) / totp * 10000 + 0.5)
         |    / 10000 * 5000) AS BIGINT) AS budget
         |  FROM q, tot),
         |d2 AS (SELECT source, doc_id, tokens,
         |  CAST(concat('0x', substr(md5(concat('tsamp:',
         |    CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
         |  FROM doc),
         |cum AS (
         |  SELECT source, doc_id, tokens,
         |    sum(tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
         |  FROM d2)
         |SELECT cum.source, doc_id, tokens,
         |  CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM cum JOIN b USING (source)
         |WHERE cum_tokens - tokens < budget
         |ORDER BY source, cum_tokens""".stripMargin,

    // x125: as-of correctness = each snapshot equals a from-scratch
    // BM25 index over exactly the documents live at that version — the
    // x53/x110 chain restricted to the snapshot's corpus slice
    "x125_bm25_asof" ->
      s"""SELECT snapshot, doc_id, score, rank FROM (
         |  SELECT 't1_batch1' AS snapshot, doc_id, score, rank FROM (
         |${bm25TopKOracleSqlWhere(" WHERE doc_id < 250")})
         |  UNION ALL
         |  SELECT 't2_batch2' AS snapshot, doc_id, score, rank FROM (
         |${bm25TopKOracleSqlWhere("")})
         |  UNION ALL
         |  SELECT 't3_deleted' AS snapshot, doc_id, score, rank FROM (
         |${bm25TopKOracleSqlWhere(" WHERE doc_id % 7 <> 3")})
         |) ORDER BY snapshot, rank""".stripMargin,

    // x126: x54's lexical chain (top-20) fused with the PROBED IVF
    // retrieval (k-means trained on all vectors, query vec 0's two
    // nearest cells) instead of exact cosine — the from-state hybrid;
    // fused sum in the engine's fixed lex-then-vec addition order
    "x126_hybrid_from_state" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
         |  FROM documents),
         |stats AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(len(tk)) AS BIGINT) AS sumdl FROM toks),
         |tr AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks),
         |tf AS (
         |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM tr WHERE term IN ('dup', 'vector', 'window')
         |  GROUP BY doc_id, dl, term),
         |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |scored AS (
         |  SELECT t.doc_id, t.term,
         |    ln((CAST(s.n AS DOUBLE) - d.df + 0.5) / (d.df + 0.5) + 1.0)
         |      * (t.tf * 2.25)
         |      / (t.tf + 1.25 * (1.0 - 0.75 + 0.75 * t.dl
         |          / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE)))) AS sc
         |  FROM tf t JOIN dfreq d USING (term) CROSS JOIN stats s),
         |agg AS (
         |  SELECT doc_id,
         |    max(CASE WHEN term = 'dup' THEN sc END) AS s1,
         |    max(CASE WHEN term = 'vector' THEN sc END) AS s2,
         |    max(CASE WHEN term = 'window' THEN sc END) AS s3
         |  FROM scored GROUP BY doc_id),
         |lexr AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY coalesce(s1, 0.0) + coalesce(s2, 0.0) + coalesce(s3, 0.0)
         |      DESC, doc_id) AS ra
         |  FROM agg),
         |$annEmbCte,
         |${kmeansTrainCtes("e", probeWhere = "e.vec_id = 0")},
         |vs AS (
         |  SELECT p.query_id, af.vid AS doc_id,
         |    list_dot_product(p.qv, af.v)
         |      / (sqrt(list_dot_product(p.qv, p.qv))
         |         * sqrt(list_dot_product(af.v, af.v))) AS cos
         |  FROM probes p JOIN af USING (cid)
         |  WHERE af.vid != p.query_id),
         |vecr AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rb
         |  FROM vs),
         |fused AS (
         |  SELECT doc_id,
         |    coalesce(1.0 / (60.0 + l.ra), 0.0)
         |      + coalesce(1.0 / (60.0 + v.rb), 0.0) AS rrf
         |  FROM (SELECT * FROM lexr WHERE ra <= 20) l
         |  FULL OUTER JOIN (SELECT * FROM vecr WHERE rb <= 20) v USING (doc_id)),
         |rk AS (
         |  SELECT doc_id, rrf,
         |    row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn FROM fused)
         |SELECT doc_id, round(rrf, 6) AS rrf, CAST(rn AS BIGINT) AS rank
         |FROM rk WHERE rn <= 10 ORDER BY rank""".stripMargin,

    // x127: recovery must land the FULL new fit — retrieval equals the
    // from-scratch k-means chain over the whole corpus (what an
    // uncrashed recluster produces); the crash/block/roll-forward
    // booleans are engine-observed and pinned TRUE
    "x127_swap_recovery" ->
      s"""WITH $annEmbCte,
         |${kmeansTrainCtes("e")},
         |vscored AS (
         |  SELECT p.query_id, af.vid AS neighbor_id,
         |    list_dot_product(p.qv, af.v)
         |      / (sqrt(list_dot_product(p.qv, p.qv))
         |         * sqrt(list_dot_product(af.v, af.v))) AS cos
         |  FROM probes p JOIN af USING (cid)
         |  WHERE af.vid != p.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM vscored)
         |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
         |  round(cos, 4) AS cos_sim,
         |  TRUE AS crash_injected, TRUE AS reads_blocked,
         |  TRUE AS rolled_forward
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // x128: the planted divergence in set algebra — slice B (mod-11)
    // reached postings only, so the audit must report exactly the
    // B-survivors (B minus the everywhere-applied slice A) with
    // postings false and the other pillars true, and nothing else
    "x128_state_consistency" ->
      """SELECT doc_id, TRUE AS in_lsh, FALSE AS in_postings,
        |  TRUE AS in_tokenizer
        |FROM documents
        |WHERE doc_id % 7 <> 3 AND doc_id % 11 = 5
        |ORDER BY doc_id""".stripMargin,

    // x129: each snapshot = the frozen-centroid probed chain (train on
    // batch 1, assign all) with the scoring side cut to that version's
    // corpus — batch 1 / both batches / survivors (the x119 cut)
    "x129_ivf_asof" ->
      s"""SELECT snapshot, query_id, neighbor_id, rank, cos_sim FROM (
         |  SELECT 't1_batch1' AS snapshot, query_id, neighbor_id, rank, cos_sim
         |  FROM (${ivfSnapshotOracleSql(" AND af.vid < 250")})
         |  UNION ALL
         |  SELECT 't2_batch2' AS snapshot, query_id, neighbor_id, rank, cos_sim
         |  FROM (${ivfSnapshotOracleSql("")})
         |  UNION ALL
         |  SELECT 't3_deleted' AS snapshot, query_id, neighbor_id, rank, cos_sim
         |  FROM (${ivfSnapshotOracleSql(" AND af.vid % 5 <> 2")})
         |) ORDER BY snapshot, query_id, rank""".stripMargin,

    // x130: per-version exact counts from the corpus slices (t1 = batch
    // 1's docs; t2 = all appended; t3 = survivors — the delete applies
    // only to counts, never to the appended-content distinct), bound
    // booleans pinned TRUE
    "x130_stats_asof" ->
      """SELECT snapshot, source, n_docs, tokens, n_unique_appended,
        |  est_within_bound FROM (
        |  SELECT 't1_batch1' AS snapshot, source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT)
        |      AS tokens,
        |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_appended,
        |    TRUE AS est_within_bound
        |  FROM documents WHERE doc_id < 250 GROUP BY source
        |  UNION ALL
        |  SELECT 't2_batch2', source, CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT),
        |    CAST(count(DISTINCT md5(text)) AS BIGINT), TRUE
        |  FROM documents GROUP BY source
        |  UNION ALL
        |  SELECT 't3_deleted', source,
        |    CAST(count(*) FILTER (WHERE doc_id % 7 <> 3) AS BIGINT),
        |    CAST(coalesce(sum(len(string_split(text, ' ')))
        |      FILTER (WHERE doc_id % 7 <> 3), 0) AS BIGINT),
        |    CAST(count(DISTINCT md5(text)) AS BIGINT), TRUE
        |  FROM documents GROUP BY source
        |) ORDER BY snapshot, source""".stripMargin,

    // x131: the frozen-tokenizer encode (train on batch 1, encode all —
    // the x121 CTEs) run once, then the naive budget window over each
    // version's live documents
    "x131_budget_asof" ->
      s"""WITH ${bpeEncodedCorpusCtes(4, " WHERE doc_id < 250")},
         |enc AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS bpe_tokens FROM it4),
         |f AS (
         |  SELECT doc_id,
         |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
         |    length(replace(text, ' ', '')) AS n_nonspace,
         |    CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
         |      ['the','and','of','to','in','is','it','that'])) AS BIGINT) AS en_hits
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_words,
         |    round(CAST(n_nonspace AS DOUBLE) / n_words, 4) AS avg_word_len,
         |    round(CAST(en_hits AS DOUBLE) / n_words, 4) AS stop_ratio
         |  FROM f),
         |q AS (
         |  SELECT doc_id,
         |    round(least(CAST(n_words AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * 0.5
         |      + least(stop_ratio * 10.0, CAST(1.0 AS DOUBLE)) * 0.3
         |      + CASE WHEN avg_word_len BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END, 4)
         |      AS quality_score
         |  FROM r),
         |c1 AS (
         |  SELECT q.doc_id, q.quality_score, e.bpe_tokens,
         |    CAST(sum(e.bpe_tokens) OVER (ORDER BY q.quality_score DESC, q.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM q JOIN enc e USING (doc_id) WHERE q.doc_id < 250),
         |c2 AS (
         |  SELECT q.doc_id, q.quality_score, e.bpe_tokens,
         |    CAST(sum(e.bpe_tokens) OVER (ORDER BY q.quality_score DESC, q.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM q JOIN enc e USING (doc_id)),
         |c3 AS (
         |  SELECT q.doc_id, q.quality_score, e.bpe_tokens,
         |    CAST(sum(e.bpe_tokens) OVER (ORDER BY q.quality_score DESC, q.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM q JOIN enc e USING (doc_id) WHERE q.doc_id % 7 <> 3)
         |SELECT snapshot, doc_id, quality_score, bpe_tokens, cum_tokens FROM (
         |  SELECT 't1_batch1' AS snapshot, * FROM c1 WHERE cum_tokens <= 20000
         |  UNION ALL
         |  SELECT 't2_batch2' AS snapshot, * FROM c2 WHERE cum_tokens <= 20000
         |  UNION ALL
         |  SELECT 't3_deleted' AS snapshot, * FROM c3 WHERE cum_tokens <= 20000
         |) ORDER BY snapshot, doc_id""".stripMargin,

    // x132: each snapshot = the x40/x89 direct doc-pair derivation with
    // that version's corpus cut as the pair filter (corpus < 200 /
    // < 400 / < 400 minus the mod-3 delete; batch is always >= 400)
    "x132_lsh_asof" ->
      s"""SELECT snapshot, new_id, old_id, jaccard FROM (
         |  SELECT 't1_batch1' AS snapshot, new_id, old_id, jaccard
         |  FROM (${lshIncrPairsOracleSql("id_a < 200 AND id_b >= 400")})
         |  UNION ALL
         |  SELECT 't2_batch2' AS snapshot, new_id, old_id, jaccard
         |  FROM (${lshIncrPairsOracleSql("id_a < 400 AND id_b >= 400")})
         |  UNION ALL
         |  SELECT 't3_deleted' AS snapshot, new_id, old_id, jaccard
         |  FROM (${lshIncrPairsOracleSql(
                "id_a < 400 AND id_a % 3 <> 1 AND id_b >= 400")})
         |) ORDER BY snapshot, new_id, old_id""".stripMargin,

    // x133: the partial phase in set algebra — the crash left slice B
    // (mod-9, minus the everywhere-applied slice A) deleted from LSH
    // only, so the audit reports exactly those ids as
    // (¬lsh, postings, tokenizer); the repaired phase contributes ZERO
    // rows (the replayed same-tag delete completed), so the total row
    // count pins the repair itself
    "x133_delete_everywhere" ->
      """SELECT phase, doc_id, in_lsh, in_postings, in_tokenizer,
        |  crash_injected FROM (
        |  SELECT 'partial' AS phase, doc_id, FALSE AS in_lsh,
        |    TRUE AS in_postings, TRUE AS in_tokenizer,
        |    TRUE AS crash_injected
        |  FROM documents
        |  WHERE doc_id < 300 AND doc_id % 9 = 4 AND doc_id % 7 <> 3
        |) ORDER BY phase, doc_id""".stripMargin,

    // x134: retention from both sides — the two SURVIVING snapshots
    // equal from-scratch BM25 over their corpus slices (floor version =
    // batches 1-2 minus the collapsed delete; current = everything
    // minus the delete), and the three sub-floor refusals are
    // engine-observed, pinned TRUE
    "x134_history_truncate" ->
      s"""SELECT snapshot, doc_id, score, rank,
         |  TRUE AS refused_sub_floor_asof, TRUE AS refused_old_append,
         |  TRUE AS refused_old_delete FROM (
         |  SELECT 't_floor' AS snapshot, doc_id, score, rank FROM (
         |${bm25TopKOracleSqlWhere(
              " WHERE doc_id < 300 AND doc_id % 7 <> 3")})
         |  UNION ALL
         |  SELECT 't_current' AS snapshot, doc_id, score, rank FROM (
         |${bm25TopKOracleSqlWhere(" WHERE doc_id % 7 <> 3")})
         |) ORDER BY snapshot, rank""".stripMargin,

    // x135: the two deltas in set algebra — step 1 adds exactly the
    // batch-2 ids, step 2 removes exactly the tombstoned mod-7 slice
    "x135_snapshot_diff" ->
      """SELECT step, doc_id, change FROM (
        |  SELECT 's1_append_b2' AS step, doc_id, 'added' AS change
        |  FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT 's2_delete' AS step, doc_id, 'removed' AS change
        |  FROM documents WHERE doc_id % 7 = 3
        |) ORDER BY step, doc_id""".stripMargin,

    // x136: the five greedy MMR picks unrolled in SQL — see mmrOracleSql
    "x136_mmr_from_state" -> mmrOracleSql,

    // x137: 24 unrolled water-fill rounds in exact HUGEINT ppm units —
    // see cappedMixOracleSql
    "x137_capped_mix" -> cappedMixOracleSql,

    // x138: each snapshot = x98's positional chain over that version's
    // corpus slice (batch 1 / survivors of the delete)
    "x138_phrase_from_state" ->
      s"""SELECT snapshot, doc_id, n_occurrences, first_pos FROM (
         |  SELECT 't1_batch1' AS snapshot, * FROM (
         |${phraseOracleSqlWhere(" WHERE doc_id < 250")})
         |  UNION ALL
         |  SELECT 't2_current' AS snapshot, * FROM (
         |${phraseOracleSqlWhere(" WHERE doc_id % 7 <> 3")})
         |) ORDER BY snapshot, doc_id""".stripMargin,

    // x139: retention on the LSH pillar — the two surviving incremental
    // near-dup snapshots equal the direct doc-pair derivation over
    // their corpus cuts (floor = batches 1-2 minus the collapsed
    // delete; current = all three batches minus it; the arriving batch
    // is always >= 450), refusals pinned TRUE
    "x139_lsh_truncate" ->
      s"""SELECT snapshot, new_id, old_id, jaccard,
         |  TRUE AS refused_sub_floor_asof, TRUE AS refused_old_append,
         |  TRUE AS refused_old_delete FROM (
         |  SELECT 't_floor' AS snapshot, new_id, old_id, jaccard
         |  FROM (${lshIncrPairsOracleSql(
              "id_a < 300 AND id_a % 3 <> 1 AND id_b >= 450")})
         |  UNION ALL
         |  SELECT 't_current' AS snapshot, new_id, old_id, jaccard
         |  FROM (${lshIncrPairsOracleSql(
              "id_a < 450 AND id_a % 3 <> 1 AND id_b >= 450")})
         |) ORDER BY snapshot, new_id, old_id""".stripMargin,

    // x140: retention on the IVF pillar — the two surviving probe
    // snapshots equal the frozen-centroid chain (train on batch 1 =
    // vid < 250, assign all) with the scoring side cut to that
    // version's live corpus, refusals pinned TRUE
    "x140_ivf_truncate" ->
      s"""SELECT snapshot, query_id, neighbor_id, rank, cos_sim,
         |  TRUE AS refused_sub_floor_asof, TRUE AS refused_old_append,
         |  TRUE AS refused_old_delete FROM (
         |  SELECT 't_floor' AS snapshot, query_id, neighbor_id, rank, cos_sim
         |  FROM (${ivfSnapshotOracleSql(
              " AND af.vid < 375 AND af.vid % 5 <> 2")})
         |  UNION ALL
         |  SELECT 't_current' AS snapshot, query_id, neighbor_id, rank, cos_sim
         |  FROM (${ivfSnapshotOracleSql(" AND af.vid % 5 <> 2")})
         |) ORDER BY snapshot, query_id, rank""".stripMargin,

    // x141: retention on the stats pillar — per-version exact counts
    // from the corpus slices (the batch-attributed delete keeps the
    // floor cut exact: only corrections with src_batch <= 2 apply at
    // t_floor, which after the GC's greatest(src_batch, floor)
    // re-attribution is precisely the removed docs with doc_id < 300),
    // bound + refusal booleans pinned TRUE
    "x141_stats_truncate" ->
      """SELECT snapshot, source, n_docs, tokens, n_unique_appended,
        |  est_within_bound, TRUE AS refused_sub_floor_asof,
        |  TRUE AS refused_old_append, TRUE AS refused_old_delete FROM (
        |  SELECT 't_floor' AS snapshot, source,
        |    CAST(count(*) FILTER (WHERE doc_id % 7 <> 3) AS BIGINT)
        |      AS n_docs,
        |    CAST(coalesce(sum(len(string_split(text, ' ')))
        |      FILTER (WHERE doc_id % 7 <> 3), 0) AS BIGINT) AS tokens,
        |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_appended,
        |    TRUE AS est_within_bound
        |  FROM documents WHERE doc_id < 300 GROUP BY source
        |  UNION ALL
        |  SELECT 't_current', source,
        |    CAST(count(*) FILTER (WHERE doc_id % 7 <> 3) AS BIGINT),
        |    CAST(coalesce(sum(len(string_split(text, ' ')))
        |      FILTER (WHERE doc_id % 7 <> 3), 0) AS BIGINT),
        |    CAST(count(DISTINCT md5(text)) AS BIGINT), TRUE
        |  FROM documents GROUP BY source
        |) ORDER BY snapshot, source""".stripMargin,

    // x142: retention on the tokenizer pillar — the frozen-tokenizer
    // encode (train on batch 1 = doc_id < 150, encode all) run once,
    // then the naive budget window (quality = char length, ties by
    // doc_id) over each surviving version's live documents, refusals
    // pinned TRUE
    "x142_tokenizer_truncate" ->
      s"""WITH ${bpeEncodedCorpusCtes(4, " WHERE doc_id < 150")},
         |enc AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS bpe_tokens FROM it4),
         |q AS (
         |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS q
         |  FROM documents),
         |cf AS (
         |  SELECT q.doc_id, e.bpe_tokens,
         |    CAST(sum(e.bpe_tokens) OVER (ORDER BY q.q DESC, q.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM q JOIN enc e USING (doc_id)
         |  WHERE q.doc_id < 300 AND q.doc_id % 7 <> 3),
         |cc AS (
         |  SELECT q.doc_id, e.bpe_tokens,
         |    CAST(sum(e.bpe_tokens) OVER (ORDER BY q.q DESC, q.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM q JOIN enc e USING (doc_id) WHERE q.doc_id % 7 <> 3)
         |SELECT snapshot, doc_id, bpe_tokens, cum_tokens,
         |  TRUE AS refused_sub_floor_asof, TRUE AS refused_old_append,
         |  TRUE AS refused_old_delete FROM (
         |  SELECT 't_floor' AS snapshot, * FROM cf WHERE cum_tokens <= 20000
         |  UNION ALL
         |  SELECT 't_current' AS snapshot, * FROM cc WHERE cum_tokens <= 20000
         |) ORDER BY snapshot, doc_id""".stripMargin,

    // x143: the crashed ingest's partial phase in set algebra — batch 2
    // reached the LSH pillar only, so the audit rows are exactly the
    // batch-2 docs as (lsh, ¬postings, ¬tokenizer); the repaired phase
    // contributes ZERO rows (the replayed same-tag ingest completed),
    // so the total row count pins the repair itself
    "x143_ingest_everywhere" ->
      """SELECT phase, doc_id, in_lsh, in_postings, in_tokenizer,
        |  crash_injected, stats_complete FROM (
        |  SELECT 'partial' AS phase, doc_id, TRUE AS in_lsh,
        |    FALSE AS in_postings, FALSE AS in_tokenizer,
        |    TRUE AS crash_injected, TRUE AS stats_complete
        |  FROM documents
        |  WHERE doc_id >= 150 AND doc_id < 300
        |) ORDER BY phase, doc_id""".stripMargin,

    // x144: the branched version from scratch — both the clone's plain
    // read and the source's as-of read must equal BM25 over (batches
    // 1-2) minus delete 1, with the overwrite refusal and source
    // isolation engine-observed and pinned TRUE
    "x144_state_branch" ->
      s"""SELECT snapshot, doc_id, score, rank,
         |  TRUE AS refused_overwrite, TRUE AS source_intact FROM (
         |  SELECT 't_clone' AS snapshot, doc_id, score, rank FROM (
         |${bm25TopKOracleSqlWhere(
              " WHERE doc_id < 300 AND doc_id % 7 <> 3")})
         |  UNION ALL
         |  SELECT 't_src_asof' AS snapshot, doc_id, score, rank FROM (
         |${bm25TopKOracleSqlWhere(
              " WHERE doc_id < 300 AND doc_id % 7 <> 3")})
         |) ORDER BY snapshot, rank""".stripMargin,

    // x145: both batches landed (the live-lease delete/truncate attempts
    // were refused, the stale-lease append took over and applied), so
    // the stats fold is the full corpus; refusal + release booleans
    // engine-observed, pinned TRUE
    "x145_writer_lease" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
        |  TRUE AS refused_live_append, TRUE AS refused_live_delete,
        |  TRUE AS refused_live_truncate, TRUE AS stale_lease_released
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // x146: x122's full-retrain chain (the manifest-mode recluster must
    // land the identical new fit), with the crash-window booleans —
    // old fit served with one table staged, no roll-forward, orphan
    // vacuumed — engine-observed and pinned TRUE
    "x146_manifest_commit" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(range(1, 65), j ->
         |    CASE WHEN vec_id % 10 >= 7 AND vec_id >= 20
         |      THEN CASE WHEN j = 1 THEN 6.0 ELSE 0.0 END
         |      ELSE CASE WHEN vec_id % 8 = (j - 1) % 8 THEN 4.0 ELSE 0.0 END
         |    END
         |    + ((CAST(concat('0x', substr(md5(concat(CAST(vec_id AS VARCHAR),
         |          ':', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT) % 1000)
         |        / 1000.0 - 0.5) * 0.5) AS v
         |  FROM embeddings),
         |${kmeansTrainCtes("e")},
         |scored AS (
         |  SELECT p.query_id, af.vid AS neighbor_id,
         |    list_dot_product(p.qv, af.v)
         |      / (sqrt(list_dot_product(p.qv, p.qv))
         |         * sqrt(list_dot_product(af.v, af.v))) AS cos
         |  FROM probes p JOIN af USING (cid)
         |  WHERE af.vid != p.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
         |  round(cos, 4) AS cos_sim,
         |  TRUE AS old_fit_served_after_crash,
         |  TRUE AS no_rollforward_needed,
         |  TRUE AS staged_orphan_reclaimed
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // x147: the current audit surfaces exactly the slice-B survivors
    // (the x128 relation); both historical cuts — pre-partial-delete
    // (2,1) and batch-1-only (1,0) — audit consistent, pinned TRUE
    "x147_consistency_asof" ->
      """SELECT doc_id, TRUE AS in_lsh, FALSE AS in_postings,
        |  TRUE AS in_tokenizer,
        |  TRUE AS asof_2_1_consistent, TRUE AS asof_1_0_consistent
        |FROM documents
        |WHERE doc_id % 7 <> 3 AND doc_id % 11 = 5
        |ORDER BY doc_id""".stripMargin,

    // x148: the health report's version counts and advice are exact
    // literals (4 tagged batches > maxVersions=3 -> 'truncate'; one
    // collapsed base -> 'ok'); the file-count decrease across
    // truncate+compact is engine-observed, pinned TRUE
    "x148_state_health" ->
      """SELECT phase, "table", CAST(batch_versions AS BIGINT)
        |    AS batch_versions,
        |  CAST(delete_versions AS BIGINT) AS delete_versions, advice,
        |  TRUE AS files_decreased
        |FROM (VALUES
        |  ('t1_grown', 'docs', 4, 0, 'truncate'),
        |  ('t1_grown', 'postings', 4, 0, 'truncate'),
        |  ('t1_grown', 'totals', 4, 0, 'truncate'),
        |  ('t2_collapsed', 'docs', 1, 0, 'ok'),
        |  ('t2_collapsed', 'postings', 1, 0, 'ok'),
        |  ('t2_collapsed', 'totals', 1, 0, 'ok'))
        |  AS v(phase, "table", batch_versions, delete_versions, advice)
        |ORDER BY phase, "table"""".stripMargin,

    // x149: both the caught-up branch and the source head must equal
    // BM25 over the FULL survivor corpus (batches 1-3 minus deletes
    // 1-2); the diverged-branch refusal, the exact returned head, and
    // no-op stability are engine-observed and pinned TRUE
    "x149_fast_forward" ->
      s"""SELECT snapshot, doc_id, score, rank,
         |  TRUE AS refused_diverged, TRUE AS caught_up_to_head,
         |  TRUE AS noop_stable FROM (
         |  SELECT 't_branch' AS snapshot, doc_id, score, rank FROM (
         |${bm25TopKOracleSqlWhere(
              " WHERE NOT (doc_id % 7 = 3 AND doc_id < 300)" +
              " AND doc_id % 11 <> 5")})
         |  UNION ALL
         |  SELECT 't_source' AS snapshot, doc_id, score, rank FROM (
         |${bm25TopKOracleSqlWhere(
              " WHERE NOT (doc_id % 7 = 3 AND doc_id < 300)" +
              " AND doc_id % 11 <> 5")})
         |) ORDER BY snapshot, rank""".stripMargin,

    // x150: the full chain re-derived — k-means on batch 1 (all
    // vectors, deleted included: they shaped the frozen centroids),
    // probes + neighbors restricted to LIVE vectors, exact cosine,
    // top-3 per vector
    "x150_knn_graph" ->
      s"""WITH $annEmbCte,
         |${kmeansTrainCtes(probeWhere = "e.vec_id % 9 <> 4")},
         |scored AS (
         |  SELECT p.query_id, af.vid AS neighbor_id,
         |    list_dot_product(p.qv, af.v)
         |      / (sqrt(list_dot_product(p.qv, p.qv))
         |         * sqrt(list_dot_product(af.v, af.v))) AS cos
         |  FROM probes p JOIN af USING (cid)
         |  WHERE af.vid != p.query_id AND af.vid % 9 <> 4),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id AS vec_id, neighbor_id, rank,
         |  round(cos, 4) AS cos_sim
         |FROM ranked WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin,

    // x151: x150's ranked relation, thresholded, self-joined on the
    // reversed edge — each endpoint in the other's top-3
    "x151_mutual_nn" ->
      s"""WITH $annEmbCte,
         |${kmeansTrainCtes(probeWhere = "e.vec_id % 9 <> 4")},
         |scored AS (
         |  SELECT p.query_id, af.vid AS neighbor_id,
         |    list_dot_product(p.qv, af.v)
         |      / (sqrt(list_dot_product(p.qv, p.qv))
         |         * sqrt(list_dot_product(af.v, af.v))) AS cos
         |  FROM probes p JOIN af USING (cid)
         |  WHERE af.vid != p.query_id AND af.vid % 9 <> 4),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored),
         |g AS (
         |  SELECT query_id AS a, neighbor_id AS b, cos
         |  FROM ranked WHERE rank <= 3 AND cos >= 0.2)
         |SELECT g1.a AS id_a, g1.b AS id_b, round(g1.cos, 4) AS cos_sim
         |FROM g g1 JOIN g g2 ON g1.a = g2.b AND g1.b = g2.a
         |WHERE g1.a < g1.b ORDER BY id_a, id_b""".stripMargin,

    // x152: retention preserves content — the current report folds the
    // full corpus and as-of(4) folds batches 1-4 (doc_id < 400); the
    // derived floor, idempotent second call, sub-floor refusal and
    // version count are engine-observed, pinned TRUE
    "x152_retention_policy" ->
      """SELECT snapshot, source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(tokens AS BIGINT) AS tokens,
        |  TRUE AS applied_floor_3, TRUE AS second_retain_noop,
        |  TRUE AS refused_sub_floor, TRUE AS kept_3_versions FROM (
        |  SELECT 't_current' AS snapshot, source,
        |    count(*) AS n_docs,
        |    sum(len(string_split(text, ' '))) AS tokens
        |  FROM documents GROUP BY source
        |  UNION ALL
        |  SELECT 't_asof4' AS snapshot, source,
        |    count(*) AS n_docs,
        |    sum(len(string_split(text, ' '))) AS tokens
        |  FROM documents WHERE doc_id < 400 GROUP BY source
        |) ORDER BY snapshot, source""".stripMargin,

    // x153: x151's mutual-pair relation closed by a recursive CTE
    // (transitive reachability, min reachable id = rep — the x19
    // components recipe), live singletons coalesce to themselves,
    // cluster sizes counted over the final labels
    "x153_semantic_clusters" ->
      s"""WITH RECURSIVE $annEmbCte,
         |${kmeansTrainCtes(probeWhere = "e.vec_id % 9 <> 4")},
         |scored AS (
         |  SELECT p.query_id, af.vid AS neighbor_id,
         |    list_dot_product(p.qv, af.v)
         |      / (sqrt(list_dot_product(p.qv, p.qv))
         |         * sqrt(list_dot_product(af.v, af.v))) AS cos
         |  FROM probes p JOIN af USING (cid)
         |  WHERE af.vid != p.query_id AND af.vid % 9 <> 4),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored),
         |g AS (
         |  SELECT query_id AS a, neighbor_id AS b, cos
         |  FROM ranked WHERE rank <= 3 AND cos >= 0.2),
         |mp AS (
         |  SELECT g1.a, g1.b FROM g g1 JOIN g g2
         |  ON g1.a = g2.b AND g1.b = g2.a WHERE g1.a < g1.b),
         |edges AS (SELECT a, b FROM mp UNION SELECT b, a FROM mp),
         |reach AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
         |  WHERE e.b <> r.a),
         |rp AS (SELECT a AS vid, least(a, min(b)) AS rep
         |  FROM reach GROUP BY a),
         |labeled AS (
         |  SELECT e.vec_id, coalesce(rp.rep, e.vec_id) AS rep
         |  FROM e LEFT JOIN rp ON e.vec_id = rp.vid
         |  WHERE e.vec_id % 9 <> 4)
         |SELECT vec_id, rep,
         |  CAST(count(*) OVER (PARTITION BY rep) AS BIGINT) AS cluster_size
         |FROM labeled ORDER BY vec_id""".stripMargin,

    // x154: frozen-tokenizer encode (train on batch 1 = doc_id < 150),
    // delete-respecting budget window (quality = char length, ties by
    // doc_id), md5 hash shards, integral-divide bin packing — the x121 +
    // x45 oracle chains composed end-to-end
    "x154_export_shards" ->
      s"""WITH ${bpeEncodedCorpusCtes(4, " WHERE doc_id < 150")},
         |enc AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS bpe_tokens FROM it4),
         |q AS (
         |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS q
         |  FROM documents),
         |c AS (
         |  SELECT q.doc_id, e.bpe_tokens,
         |    CAST(sum(e.bpe_tokens) OVER (ORDER BY q.q DESC, q.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM q JOIN enc e USING (doc_id) WHERE q.doc_id % 7 <> 3),
         |sel AS (SELECT doc_id, bpe_tokens FROM c WHERE cum_tokens <= 20000),
         |sh AS (
         |  SELECT doc_id, bpe_tokens,
         |    ${hex15.format("CAST(doc_id AS VARCHAR)")} % 4 AS shard
         |  FROM sel)
         |SELECT doc_id, bpe_tokens, shard,
         |  CAST(COALESCE(SUM(bpe_tokens) OVER (PARTITION BY shard
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0) AS BIGINT) // 2000 AS bin
         |FROM sh ORDER BY doc_id""".stripMargin,

    // x155: the deterministic hash-prefix sample (40 lowest md5Long ids,
    // ties by id), then the gated x44 k-means chain TRAINED ON THE SAMPLE
    // (src = samp; af/probes still run over all of e — the appendIvfState
    // contract), exact cosine top-5 in the probed cells, and per-query
    // hits against brute-force top-5; the mean-recall floor is
    // engine-observed and pinned TRUE (the x88 posture)
    "x155_ivf_sampled_train" ->
      s"""WITH $annEmbCte,
         |samp AS (
         |  SELECT vec_id, v FROM e
         |  ORDER BY ${hex15.format("CAST(vec_id AS VARCHAR)")}, vec_id
         |  LIMIT 40),
         |${kmeansTrainCtes(src = "samp", probeWhere = "e.vec_id < 10")},
         |scored AS (
         |  SELECT p.query_id, af.vid AS neighbor_id,
         |    list_dot_product(p.qv, af.v)
         |      / (sqrt(list_dot_product(p.qv, p.qv))
         |         * sqrt(list_dot_product(af.v, af.v))) AS cos
         |  FROM probes p JOIN af USING (cid) WHERE af.vid != p.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored),
         |ivf AS (
         |  SELECT query_id, neighbor_id, cos, rank
         |  FROM ranked WHERE rank <= 5),
         |bscored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.v, c.v)
         |      / (sqrt(list_dot_product(q.v, q.v))
         |         * sqrt(list_dot_product(c.v, c.v))) AS cos
         |  FROM e q, e c WHERE q.vec_id < 10 AND c.vec_id != q.vec_id),
         |truth AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) AS rk
         |    FROM bscored) WHERE rk <= 5),
         |hits AS (
         |  SELECT i.query_id, CAST(count(*) AS BIGINT) AS hits_at_5
         |  FROM ivf i JOIN truth t ON i.query_id = t.query_id
         |    AND i.neighbor_id = t.neighbor_id
         |  GROUP BY i.query_id)
         |SELECT i.query_id, i.neighbor_id, i.rank,
         |  round(i.cos, 4) AS cos_sim,
         |  COALESCE(h.hits_at_5, 0) AS hits_at_5, TRUE AS mean_recall_ok
         |FROM ivf i LEFT JOIN hits h USING (query_id)
         |ORDER BY query_id, rank""".stripMargin,

    // x156: x150's oracle chain with the k-means TRAINED ON BATCH 1 ONLY
    // (the appendIvfState contract the delta inherits: geometry froze on
    // the first batch), probes over every live vector, top-3; the
    // delta-vs-full-rebuild parity is engine-observed, pinned TRUE
    "x156_knn_graph_delta" ->
      s"""WITH $annEmbCte,
         |b1 AS (SELECT vec_id, v FROM e WHERE vec_id < 375),
         |${kmeansTrainCtes(src = "b1", probeWhere = "TRUE")},
         |scored AS (
         |  SELECT p.query_id, af.vid AS neighbor_id,
         |    list_dot_product(p.qv, af.v)
         |      / (sqrt(list_dot_product(p.qv, p.qv))
         |         * sqrt(list_dot_product(af.v, af.v))) AS cos
         |  FROM probes p JOIN af USING (cid) WHERE af.vid != p.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id AS vec_id, neighbor_id, rank,
         |  round(cos, 4) AS cos_sim, TRUE AS matches_full_rebuild
         |FROM ranked WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin,

    // x166: x156's oracle chain (k-means trained on batch 1, probes over
    // the live corpus) with the deleted ids (vec_id ≡ 4 mod 9) removed
    // from BOTH the query set and the candidate set — the post-delete
    // rebuild the retraction must reproduce; parity engine-observed,
    // pinned TRUE
    "x166_knn_graph_delete" ->
      s"""WITH $annEmbCte,
         |b1 AS (SELECT vec_id, v FROM e WHERE vec_id < 375),
         |${kmeansTrainCtes(src = "b1", probeWhere = "e.vec_id % 9 <> 4")},
         |scored AS (
         |  SELECT p.query_id, af.vid AS neighbor_id,
         |    list_dot_product(p.qv, af.v)
         |      / (sqrt(list_dot_product(p.qv, p.qv))
         |         * sqrt(list_dot_product(af.v, af.v))) AS cos
         |  FROM probes p JOIN af USING (cid)
         |  WHERE af.vid != p.query_id AND af.vid % 9 <> 4),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id AS vec_id, neighbor_id, rank,
         |  round(cos, 4) AS cos_sim, TRUE AS matches_full_rebuild
         |FROM ranked WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin,

    // x157: x154's oracle chain (frozen-tokenizer encode, delete-respecting
    // budget window, md5 shards, integral-divide bins) joined to the
    // payload md5 — the SQL the WRITTEN FILES must hash-match
    "x157_export_write" ->
      s"""WITH ${bpeEncodedCorpusCtes(4, " WHERE doc_id < 150")},
         |enc AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS bpe_tokens FROM it4),
         |q AS (
         |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS q
         |  FROM documents),
         |c AS (
         |  SELECT q.doc_id, e.bpe_tokens,
         |    CAST(sum(e.bpe_tokens) OVER (ORDER BY q.q DESC, q.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM q JOIN enc e USING (doc_id) WHERE q.doc_id % 7 <> 3),
         |sel AS (SELECT doc_id, bpe_tokens FROM c WHERE cum_tokens <= 20000),
         |sh AS (
         |  SELECT doc_id, bpe_tokens,
         |    ${hex15.format("CAST(doc_id AS VARCHAR)")} % 4 AS shard
         |  FROM sel)
         |SELECT sh.doc_id, sh.bpe_tokens, sh.shard,
         |  CAST(COALESCE(SUM(sh.bpe_tokens) OVER (PARTITION BY sh.shard
         |    ORDER BY sh.doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0) AS BIGINT) // 2000 AS bin,
         |  md5(d.text) AS text_md5
         |FROM sh JOIN documents d USING (doc_id) ORDER BY doc_id""".stripMargin,

    // x158: the block values, the 64 dHash comparison bits, and the full
    // Hamming-thresholded pair relation re-derived arithmetically — the
    // oracle never decodes an image; the engine side must round-trip the
    // REAL PNG/BMP encode + ImageIO decode + pooling to agree
    "x158_image_neardup" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        |base AS (
        |  SELECT doc_id, bxs.bx, bys.by,
        |    ((doc_id % 40) * 37 + bxs.bx * 29 + bys.by * 17
        |      + (bxs.bx * bys.by * ((doc_id % 40) + 3)) % 13) % 199 AS v
        |  FROM ids,
        |    (SELECT unnest(range(0, 9)) AS bx) bxs,
        |    (SELECT unnest(range(0, 8)) AS by) bys),
        |fx AS (
        |  SELECT doc_id, bx, by,
        |    CASE WHEN doc_id % 12 = 11 AND bx = 2 AND by = 3
        |      THEN (v + 100) % 199 ELSE v END AS v
        |  FROM base),
        |bits AS (
        |  SELECT a.doc_id, a.by * 8 + a.bx AS bit,
        |    CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bitv
        |  FROM fx a JOIN fx b
        |    ON a.doc_id = b.doc_id AND a.by = b.by AND b.bx = a.bx + 1
        |  WHERE a.bx < 8),
        |ham AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(sum(CASE WHEN a.bitv != b.bitv THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hamming
        |  FROM bits a JOIN bits b ON a.bit = b.bit AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // x159: the (window width, sample rate) geometry, the 65 window
    // amplitudes, and all eight metadata/feature fields re-derived
    // arithmetically — the oracle never parses audio; the engine side
    // must round-trip the REAL packWav encode + RIFF chunk walk + full
    // PCM16 scan to agree
    "x159_audio_stats" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
        |geo AS (
        |  SELECT doc_id,
        |    CASE (doc_id // 40) % 3
        |      WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 24 END AS w,
        |    CASE (doc_id // 40) % 3
        |      WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 11025 END AS rate
        |  FROM ids),
        |base AS (
        |  SELECT doc_id, ws.i,
        |    ((doc_id % 40) * 31 + ws.i * 53
        |      + (ws.i * ws.i * ((doc_id % 40) + 7)) % 29) % 199 AS a
        |  FROM ids, (SELECT unnest(range(0, 65)) AS i) ws),
        |amps AS (
        |  SELECT doc_id, i,
        |    CASE WHEN doc_id % 12 = 11 AND i = 5
        |      THEN (a + 97) % 199 ELSE a END AS a
        |  FROM base)
        |SELECT g.doc_id, 1 AS channels, g.rate AS sample_rate, 16 AS bits,
        |  CAST(65 * g.w AS BIGINT) AS n_frames,
        |  CAST((65 * g.w * 1000) // g.rate AS BIGINT) AS duration_ms,
        |  CAST(100 * g.w * sum(a.a) AS BIGINT) AS sum_abs,
        |  CAST(100 * max(a.a) AS INTEGER) AS peak_abs
        |FROM geo g JOIN amps a USING (doc_id)
        |GROUP BY g.doc_id, g.w, g.rate
        |ORDER BY g.doc_id""".stripMargin,

    // x160: the 64 envelope comparisons (window energies share the same
    // frame count, so cross-multiplication reduces to amp-vs-amp) and
    // the Hamming-thresholded pair relation re-derived arithmetically —
    // x158's structure, audio modality
    "x160_audio_neardup" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        |base AS (
        |  SELECT doc_id, ws.i,
        |    ((doc_id % 40) * 31 + ws.i * 53
        |      + (ws.i * ws.i * ((doc_id % 40) + 7)) % 29) % 199 AS a
        |  FROM ids, (SELECT unnest(range(0, 65)) AS i) ws),
        |amps AS (
        |  SELECT doc_id, i,
        |    CASE WHEN doc_id % 12 = 11 AND i = 5
        |      THEN (a + 97) % 199 ELSE a END AS a
        |  FROM base),
        |bits AS (
        |  SELECT a.doc_id, a.i AS bit,
        |    CASE WHEN a.a > b.a THEN 1 ELSE 0 END AS bitv
        |  FROM amps a JOIN amps b
        |    ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |  WHERE a.i < 64),
        |ham AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(sum(CASE WHEN a.bitv != b.bitv THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hamming
        |  FROM bits a JOIN bits b ON a.bit = b.bit AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // x161: sampled frame positions ⌊pos·n/5⌋ = 13·w·pos land in window
    // 13·pos (never the edited window 5), value = amp·100 — both
    // re-derived arithmetically
    "x161_audio_frames" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 60),
        |geo AS (
        |  SELECT doc_id,
        |    CASE (doc_id // 40) % 3
        |      WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 24 END AS w
        |  FROM ids)
        |SELECT g.doc_id, ps.pos,
        |  CAST(13 * g.w * ps.pos AS BIGINT) AS frame_idx,
        |  CAST(100 * (((g.doc_id % 40) * 31 + (13 * ps.pos) * 53
        |    + ((13 * ps.pos) * (13 * ps.pos) * ((g.doc_id % 40) + 7)) % 29)
        |    % 199) AS INTEGER) AS sample
        |FROM geo g, (SELECT unnest(range(0, 5)) AS pos) ps
        |ORDER BY g.doc_id, ps.pos""".stripMargin,

    // x162: per-frame block values and dHash comparison bits re-derived
    // arithmetically (x158's structure per frame), each frame's 64 bits
    // packed as a bit-string, distinct per video, equi-joined and
    // group-counted — the same shared-frame relation the engine builds
    // from real PNG decodes
    "x162_video_neardup" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 90),
        |seeds AS (
        |  SELECT doc_id, fs.f,
        |    CASE WHEN doc_id % 12 = 11 AND fs.f = 3
        |      THEN 200 + (doc_id % 30)
        |      ELSE (doc_id % 30) * 6 + fs.f END AS seed
        |  FROM ids, (SELECT unnest(range(0, 6)) AS f) fs),
        |px AS (
        |  SELECT doc_id, f, bxs.bx, bys.by,
        |    (seed * 37 + bxs.bx * 29 + bys.by * 17
        |      + (bxs.bx * bys.by * (seed + 3)) % 13) % 199 AS v
        |  FROM seeds,
        |    (SELECT unnest(range(0, 9)) AS bx) bxs,
        |    (SELECT unnest(range(0, 8)) AS by) bys),
        |bits AS (
        |  SELECT a.doc_id, a.f, a.by * 8 + a.bx AS bit,
        |    CASE WHEN a.v > b.v THEN '1' ELSE '0' END AS bitv
        |  FROM px a JOIN px b
        |    ON a.doc_id = b.doc_id AND a.f = b.f AND a.by = b.by
        |    AND b.bx = a.bx + 1
        |  WHERE a.bx < 8),
        |hv AS (
        |  SELECT doc_id, f, string_agg(bitv, '' ORDER BY bit) AS h
        |  FROM bits GROUP BY doc_id, f),
        |dh AS (SELECT DISTINCT doc_id, h FROM hv),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS BIGINT) AS shared_frames
        |  FROM dh a JOIN dh b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, shared_frames FROM pairs
        |WHERE shared_frames >= 5 ORDER BY id_a, id_b""".stripMargin,

    // x167: every MP4 header field re-derived from the fixture
    // arithmetic — brand/codec by id mod 3, version-0 mvhd duration_ms
    // as integral (duration·1000)/timescale, track count, junk rows
    // refused as bin with zeroed fields
    "x167_mp4_meta" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 120)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 4 THEN 'bin' ELSE 'mp4' END AS media_type,
        |  CASE WHEN doc_id % 5 = 4 THEN '' ELSE
        |    CASE doc_id % 3 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42'
        |      ELSE 'M4V ' END END AS brand,
        |  CAST(CASE WHEN doc_id % 5 = 4 THEN 0
        |    ELSE 1 + doc_id % 3 END AS INTEGER) AS n_tracks,
        |  CAST(CASE WHEN doc_id % 5 = 4 THEN 0
        |    ELSE ((1000 + (doc_id % 23) * 777) * 1000)
        |      // (600 + (doc_id % 5) * 400) END AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN doc_id % 5 = 4 THEN 0
        |    ELSE 160 + (doc_id % 7) * 80 END AS INTEGER) AS width,
        |  CAST(CASE WHEN doc_id % 5 = 4 THEN 0
        |    ELSE 120 + (doc_id % 4) * 60 END AS INTEGER) AS height,
        |  CASE WHEN doc_id % 5 = 4 THEN '' ELSE
        |    CASE doc_id % 3 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hvc1'
        |      ELSE 'vp09' END END AS codec
        |FROM ids ORDER BY doc_id""".stripMargin,

    // x168: reps are doc_id % 48 (min member id IS the residue), their
    // envelopes re-derived as in x160, the REP-level pair relation
    // thresholded at Hamming 3, group sizes counted over the planted
    // byte-identical members; the collapsed-vs-raw member parity is
    // engine-observed, pinned TRUE
    "x168_media_collapse" ->
      """WITH reps AS (
        |  SELECT DISTINCT doc_id % 48 AS rid FROM documents
        |  WHERE doc_id < 120),
        |base AS (
        |  SELECT rid, ws.i,
        |    ((rid % 40) * 31 + ws.i * 53
        |      + (ws.i * ws.i * ((rid % 40) + 7)) % 29) % 199 AS a
        |  FROM reps, (SELECT unnest(range(0, 65)) AS i) ws),
        |amps AS (
        |  SELECT rid, i,
        |    CASE WHEN rid % 12 = 11 AND i = 5
        |      THEN (a + 97) % 199 ELSE a END AS a
        |  FROM base),
        |bits AS (
        |  SELECT a.rid, a.i AS bit,
        |    CASE WHEN a.a > b.a THEN 1 ELSE 0 END AS bitv
        |  FROM amps a JOIN amps b
        |    ON a.rid = b.rid AND b.i = a.i + 1
        |  WHERE a.i < 64),
        |ham AS (
        |  SELECT a.rid AS id_a, b.rid AS id_b,
        |    CAST(sum(CASE WHEN a.bitv != b.bitv THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hamming
        |  FROM bits a JOIN bits b ON a.bit = b.bit AND a.rid < b.rid
        |  GROUP BY 1, 2),
        |sizes AS (
        |  SELECT doc_id % 48 AS rid, CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE doc_id < 120 GROUP BY 1)
        |SELECT h.id_a, h.id_b, h.hamming, sa.n AS n_a, sb.n AS n_b,
        |  TRUE AS collapsed_matches_raw
        |FROM ham h
        |JOIN sizes sa ON sa.rid = h.id_a
        |JOIN sizes sb ON sb.rid = h.id_b
        |WHERE h.hamming <= 3 ORDER BY h.id_a, h.id_b""".stripMargin,

    // x169: x162's per-frame hash derivation over 8 frames (two
    // corpus-wide lead-in seeds at positions 0/1), then the document
    // frequency of each hash, the df <= 10 stopword cap, and the
    // thresholded shingle join — all arithmetic
    "x169_video_hotframe" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 90),
        |seeds AS (
        |  SELECT doc_id, fs.f,
        |    CASE WHEN fs.f = 0 THEN 300
        |      WHEN fs.f = 1 THEN 301
        |      WHEN doc_id % 12 = 11 AND fs.f = 5
        |        THEN 200 + (doc_id % 30)
        |      ELSE (doc_id % 30) * 6 + (fs.f - 2) END AS seed
        |  FROM ids, (SELECT unnest(range(0, 8)) AS f) fs),
        |px AS (
        |  SELECT doc_id, f, bxs.bx, bys.by,
        |    (seed * 37 + bxs.bx * 29 + bys.by * 17
        |      + (bxs.bx * bys.by * (seed + 3)) % 13) % 199 AS v
        |  FROM seeds,
        |    (SELECT unnest(range(0, 9)) AS bx) bxs,
        |    (SELECT unnest(range(0, 8)) AS by) bys),
        |bits AS (
        |  SELECT a.doc_id, a.f, a.by * 8 + a.bx AS bit,
        |    CASE WHEN a.v > b.v THEN '1' ELSE '0' END AS bitv
        |  FROM px a JOIN px b
        |    ON a.doc_id = b.doc_id AND a.f = b.f AND a.by = b.by
        |    AND b.bx = a.bx + 1
        |  WHERE a.bx < 8),
        |hv AS (
        |  SELECT doc_id, f, string_agg(bitv, '' ORDER BY bit) AS h
        |  FROM bits GROUP BY doc_id, f),
        |dh AS (SELECT DISTINCT doc_id, h FROM hv),
        |df AS (SELECT h, count(*) AS n FROM dh GROUP BY h),
        |kept AS (
        |  SELECT dh.doc_id, dh.h FROM dh JOIN df USING (h)
        |  WHERE df.n <= 10),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS BIGINT) AS shared_frames
        |  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, shared_frames FROM pairs
        |WHERE shared_frames >= 5 ORDER BY id_a, id_b""".stripMargin,

    // x170: x150's kNN-graph chain (trained k-means, probed cells,
    // top-3 edges over live vectors), then five unrolled PageRank
    // rounds — uniform teleport, dangling mass redistributed by tp
    "x170_pagerank" ->
      s"""WITH $annEmbCte,
         |${kmeansTrainCtes(probeWhere = "e.vec_id % 9 <> 4")},
         |scored AS (
         |  SELECT p.query_id, af.vid AS neighbor_id,
         |    list_dot_product(p.qv, af.v)
         |      / (sqrt(list_dot_product(p.qv, p.qv))
         |         * sqrt(list_dot_product(af.v, af.v))) AS cos
         |  FROM probes p JOIN af USING (cid)
         |  WHERE af.vid != p.query_id AND af.vid % 9 <> 4),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored),
         |g AS (SELECT query_id AS src, neighbor_id AS dst
         |  FROM ranked WHERE rank <= 3),
         |nodes AS (SELECT vec_id AS vid FROM e WHERE vec_id % 9 <> 4),
         |n AS (SELECT count(*) AS cnt FROM nodes),
         |tp AS (SELECT vid, 1.0 / cnt AS tp FROM nodes, n),
         |${pageRankCtes(5, 0.85)}
         |SELECT vid AS vec_id, round(pr, 7) AS pr FROM pr5
         |ORDER BY vec_id""".stripMargin,

    // x171: the same graph and rounds with teleport ∝ seed weight
    // (vec_id < 50, weight vec_id % 5 + 1) — weight on deleted seeds
    // dropped BEFORE the normalizing sum, exactly the engine contract
    "x171_seeded_pagerank" ->
      s"""WITH $annEmbCte,
         |${kmeansTrainCtes(probeWhere = "e.vec_id % 9 <> 4")},
         |scored AS (
         |  SELECT p.query_id, af.vid AS neighbor_id,
         |    list_dot_product(p.qv, af.v)
         |      / (sqrt(list_dot_product(p.qv, p.qv))
         |         * sqrt(list_dot_product(af.v, af.v))) AS cos
         |  FROM probes p JOIN af USING (cid)
         |  WHERE af.vid != p.query_id AND af.vid % 9 <> 4),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored),
         |g AS (SELECT query_id AS src, neighbor_id AS dst
         |  FROM ranked WHERE rank <= 3),
         |nodes AS (SELECT vec_id AS vid FROM e WHERE vec_id % 9 <> 4),
         |seeds AS (
         |  SELECT vid, CAST(vid % 5 + 1 AS DOUBLE) AS w
         |  FROM nodes WHERE vid < 50),
         |tot AS (SELECT sum(w) AS t FROM seeds),
         |tp AS (
         |  SELECT n.vid, COALESCE(s.w, 0) / tot.t AS tp
         |  FROM nodes n LEFT JOIN seeds s USING (vid), tot),
         |${pageRankCtes(5, 0.85)}
         |SELECT vid AS vec_id, round(pr, 7) AS pr FROM pr5
         |ORDER BY vec_id""".stripMargin,

    // x172: every MP3 header field re-derived from the fixture
    // arithmetic — the Layer III bitrate/sample-rate tables as VALUES
    // relations keyed by the id-derived version and indexes, CBR frame
    // bytes (spf/8 · kbps · 1000 // sr, padding 0), duration
    // frames · spf · 1000 // sr; ids ≡ 4 (mod 5) are junk → bin
    "x172_mp3_meta" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        |params AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN '1' WHEN 1 THEN '2'
        |      ELSE '2.5' END AS ver,
        |    1 + doc_id % 14 AS bri,
        |    (doc_id % 5) % 3 AS sri,
        |    CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END AS ch,
        |    8 + doc_id % 21 AS frames
        |  FROM ids),
        |brt AS (
        |  SELECT * FROM (VALUES
        |    ('1', 1, 32), ('1', 2, 40), ('1', 3, 48), ('1', 4, 56),
        |    ('1', 5, 64), ('1', 6, 80), ('1', 7, 96), ('1', 8, 112),
        |    ('1', 9, 128), ('1', 10, 160), ('1', 11, 192), ('1', 12, 224),
        |    ('1', 13, 256), ('1', 14, 320),
        |    ('2', 1, 8), ('2', 2, 16), ('2', 3, 24), ('2', 4, 32),
        |    ('2', 5, 40), ('2', 6, 48), ('2', 7, 56), ('2', 8, 64),
        |    ('2', 9, 80), ('2', 10, 96), ('2', 11, 112), ('2', 12, 128),
        |    ('2', 13, 144), ('2', 14, 160),
        |    ('2.5', 1, 8), ('2.5', 2, 16), ('2.5', 3, 24), ('2.5', 4, 32),
        |    ('2.5', 5, 40), ('2.5', 6, 48), ('2.5', 7, 56), ('2.5', 8, 64),
        |    ('2.5', 9, 80), ('2.5', 10, 96), ('2.5', 11, 112),
        |    ('2.5', 12, 128), ('2.5', 13, 144), ('2.5', 14, 160)
        |  ) t(ver, bri, kbps)),
        |srt AS (
        |  SELECT * FROM (VALUES
        |    ('1', 0, 44100), ('1', 1, 48000), ('1', 2, 32000),
        |    ('2', 0, 22050), ('2', 1, 24000), ('2', 2, 16000),
        |    ('2.5', 0, 11025), ('2.5', 1, 12000), ('2.5', 2, 8000)
        |  ) t(ver, sri, sr)),
        |meta AS (
        |  SELECT p.doc_id, p.ver, brt.kbps, srt.sr, p.ch, p.frames,
        |    CASE WHEN p.ver = '1' THEN 1152 ELSE 576 END AS spf
        |  FROM params p
        |  JOIN brt ON brt.ver = p.ver AND brt.bri = p.bri
        |  JOIN srt ON srt.ver = p.ver AND srt.sri = p.sri)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 4 THEN 'bin' ELSE 'mp3' END AS media_type,
        |  CASE WHEN doc_id % 5 = 4 THEN '' ELSE ver END AS version,
        |  CAST(CASE WHEN doc_id % 5 = 4 THEN 0 ELSE kbps END
        |    AS INTEGER) AS bitrate_kbps,
        |  CAST(CASE WHEN doc_id % 5 = 4 THEN 0 ELSE sr END
        |    AS INTEGER) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 5 = 4 THEN 0 ELSE ch END
        |    AS INTEGER) AS channels,
        |  CAST(CASE WHEN doc_id % 5 = 4 THEN 0 ELSE frames END
        |    AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN doc_id % 5 = 4 THEN 0
        |    ELSE frames * spf * 1000 // sr END AS BIGINT) AS duration_ms
        |FROM meta ORDER BY doc_id""".stripMargin,

    // x173: the x150 trained chain with eval queries = vec_id < 15
    // re-keyed +5000; per-corpus-vector argmax over the probed scored
    // relation, thresholded at 0.95, tombstoned (≡ 4 mod 9) vids excluded
    "x173_semantic_decontam" ->
      s"""WITH $annEmbCte,
         |${kmeansTrainCtes(probeWhere = "e.vec_id < 15")},
         |scored AS (
         |  SELECT af.vid, p.query_id + 5000 AS eval_id,
         |    list_dot_product(p.qv, af.v)
         |      / (sqrt(list_dot_product(p.qv, p.qv))
         |         * sqrt(list_dot_product(af.v, af.v))) AS cos
         |  FROM probes p JOIN af USING (cid)
         |  WHERE af.vid % 9 <> 4),
         |flagged AS (
         |  SELECT vid, eval_id, cos,
         |    row_number() OVER (PARTITION BY vid
         |      ORDER BY cos DESC, eval_id) AS rk
         |  FROM scored WHERE cos >= 0.95)
         |SELECT vid AS vec_id, eval_id, round(cos, 4) AS max_cos
         |FROM flagged WHERE rk = 1 ORDER BY vec_id""".stripMargin,

    // x174: all three decontamination rails re-derived — the x43 chain
    // (13-gram `contam` over survivors `u`), the 10-gram Bloom rail's
    // exact relation (the Bloom is a prefilter; its semi-join output IS
    // the exact gram relation), and the semantic rail's full
    // k-means/probe/cosine chain (eval probes = every 37th vector) —
    // unioned into one drop set anti-joined from the survivors
    "x174_curate_full" ->
      s"""WITH $curateOracleCtes,
         |evg10 AS (
         |  SELECT DISTINCT unnest(list_distinct(list_transform(
         |    range(1, greatest(len(t) - 8, 1)),
         |    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4],
         |      t[i+5], t[i+6], t[i+7], t[i+8], t[i+9])))) AS gram
         |  FROM evt),
         |ug10 AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(t) - 8, 1)),
         |    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4],
         |      t[i+5], t[i+6], t[i+7], t[i+8], t[i+9])))) AS gram
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM u)),
         |contamb AS (
         |  SELECT DISTINCT ug10.doc_id FROM ug10 JOIN evg10 USING (gram)),
         |$annEmbCte,
         |${kmeansTrainCtes(probeWhere = "e.vec_id % 37 = 0")},
         |semscored AS (
         |  SELECT af.vid,
         |    list_dot_product(p.qv, af.v)
         |      / (sqrt(list_dot_product(p.qv, p.qv))
         |         * sqrt(list_dot_product(af.v, af.v))) AS cos
         |  FROM probes p JOIN af USING (cid)),
         |contams AS (
         |  SELECT DISTINCT vid AS doc_id FROM semscored WHERE cos >= 0.95),
         |drops AS (
         |  SELECT doc_id FROM contam UNION SELECT doc_id FROM contamb
         |  UNION SELECT doc_id FROM contams)
         |SELECT u.doc_id, u.lang_pred, u.quality_score,
         |  u.n_words AS tokens
         |FROM u LEFT JOIN drops d ON u.doc_id = d.doc_id
         |WHERE d.doc_id IS NULL ORDER BY u.doc_id""".stripMargin,

    // x175 + x176: the x166 post-lifecycle graph relation (centroids
    // trained on batch 1, all live vectors assigned, deleted ids ≡ 4
    // mod 9 out of both sides) as `g`, uniform teleport over live nodes,
    // five unrolled power-iteration rounds — the maintained-state scores
    // must equal the rebuild-derived chain (x175), and stay equal across
    // layout compactions (x176)
    "x175_pagerank_graph_state" -> graphLifecyclePageRankOracle,

    // x176: byte-layout compaction is a semantic no-op, so the oracle is
    // x175's chain VERBATIM — the gate is that the Spark side, with a
    // compaction after each maintenance verb, still hash-matches it
    "x176_graph_compact" -> graphLifecyclePageRankOracle,

    // x163: x160's envelope-bit derivation, restricted to (new ∈ batch,
    // old ∈ corpus) cross pairs with tombstoned (id ≡ 7 mod 10) corpus
    // ids subtracted — the relation the state read must reproduce from
    // its bucket-pruned partitions
    "x163_fp_state_pairs" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        |base AS (
        |  SELECT doc_id, ws.i,
        |    ((doc_id % 40) * 31 + ws.i * 53
        |      + (ws.i * ws.i * ((doc_id % 40) + 7)) % 29) % 199 AS a
        |  FROM ids, (SELECT unnest(range(0, 65)) AS i) ws),
        |amps AS (
        |  SELECT doc_id, i,
        |    CASE WHEN doc_id % 12 = 11 AND i = 5
        |      THEN (a + 97) % 199 ELSE a END AS a
        |  FROM base),
        |bits AS (
        |  SELECT a.doc_id, a.i AS bit,
        |    CASE WHEN a.a > b.a THEN 1 ELSE 0 END AS bitv
        |  FROM amps a JOIN amps b
        |    ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |  WHERE a.i < 64),
        |ham AS (
        |  SELECT n.doc_id AS new_id, o.doc_id AS old_id,
        |    CAST(sum(CASE WHEN n.bitv != o.bitv THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hamming
        |  FROM bits n JOIN bits o ON n.bit = o.bit
        |    AND n.doc_id >= 60 AND o.doc_id < 60 AND o.doc_id % 10 != 7
        |  GROUP BY 1, 2)
        |SELECT new_id, old_id, hamming FROM ham WHERE hamming <= 3
        |ORDER BY new_id, old_id""".stripMargin,

    // x164: x160's pair relation closed by a recursive CTE (transitive
    // reachability, min reachable id = rep — x153's recipe), singletons
    // coalesce to themselves, cluster sizes over the final labels
    "x164_fp_clusters" ->
      """WITH RECURSIVE
        |ids AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        |base AS (
        |  SELECT doc_id, ws.i,
        |    ((doc_id % 40) * 31 + ws.i * 53
        |      + (ws.i * ws.i * ((doc_id % 40) + 7)) % 29) % 199 AS a
        |  FROM ids, (SELECT unnest(range(0, 65)) AS i) ws),
        |amps AS (
        |  SELECT doc_id, i,
        |    CASE WHEN doc_id % 12 = 11 AND i = 5
        |      THEN (a + 97) % 199 ELSE a END AS a
        |  FROM base),
        |bits AS (
        |  SELECT a.doc_id, a.i AS bit,
        |    CASE WHEN a.a > b.a THEN 1 ELSE 0 END AS bitv
        |  FROM amps a JOIN amps b
        |    ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |  WHERE a.i < 64),
        |ham AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bits a JOIN bits b ON a.bit = b.bit AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |  HAVING sum(CASE WHEN a.bitv != b.bitv THEN 1 ELSE 0 END) <= 3),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM ham
        |  UNION SELECT id_b, id_a FROM ham),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |  WHERE e.b <> r.a),
        |rp AS (SELECT a AS id, least(a, min(b)) AS rep
        |  FROM reach GROUP BY a),
        |labeled AS (
        |  SELECT i.doc_id, coalesce(rp.rep, i.doc_id) AS rep
        |  FROM ids i LEFT JOIN rp ON i.doc_id = rp.id)
        |SELECT doc_id, rep,
        |  CAST(count(*) OVER (PARTITION BY rep) AS BIGINT) AS cluster_size
        |FROM labeled ORDER BY doc_id""".stripMargin,

    // x165: every field of the unified dispatch re-derived from the
    // fixture arithmetic — image dims by (id//40)%3 and encoder (png/bmp)
    // by (id//40)%2 (x158's construction), wav geometry by (id//40)%3
    // (x159's), video = 6 frames at (id//30)%3 dims (x162's), junk = bin
    "x165_media_meta" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 120)
        |SELECT doc_id,
        |  CASE doc_id % 4
        |    WHEN 0 THEN (CASE WHEN (doc_id // 40) % 2 = 0
        |      THEN 'png' ELSE 'bmp' END)
        |    WHEN 1 THEN 'wav' WHEN 2 THEN 'video' ELSE 'bin'
        |    END AS media_type,
        |  CASE WHEN doc_id % 4 = 0 THEN
        |      (CASE (doc_id // 40) % 3 WHEN 0 THEN 18 WHEN 1 THEN 36
        |       ELSE 27 END)
        |    WHEN doc_id % 4 = 2 THEN
        |      (CASE (doc_id // 30) % 3 WHEN 0 THEN 18 WHEN 1 THEN 36
        |       ELSE 27 END)
        |    ELSE 0 END AS width,
        |  CASE WHEN doc_id % 4 = 0 THEN
        |      (CASE (doc_id // 40) % 3 WHEN 0 THEN 16 WHEN 1 THEN 32
        |       ELSE 24 END)
        |    WHEN doc_id % 4 = 2 THEN
        |      (CASE (doc_id // 30) % 3 WHEN 0 THEN 16 WHEN 1 THEN 32
        |       ELSE 24 END)
        |    ELSE 0 END AS height,
        |  CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS channels,
        |  CASE WHEN doc_id % 4 = 1 THEN
        |      (CASE (doc_id // 40) % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |       ELSE 11025 END)
        |    ELSE 0 END AS sample_rate,
        |  CAST(CASE doc_id % 4
        |    WHEN 0 THEN 1
        |    WHEN 1 THEN 65 * (CASE (doc_id // 40) % 3 WHEN 0 THEN 16
        |      WHEN 1 THEN 32 ELSE 24 END)
        |    WHEN 2 THEN 6 ELSE 0 END AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN doc_id % 4 = 1 THEN
        |      (65 * (CASE (doc_id // 40) % 3 WHEN 0 THEN 16 WHEN 1 THEN 32
        |        ELSE 24 END) * 1000)
        |      // (CASE (doc_id // 40) % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |        ELSE 11025 END)
        |    ELSE 0 END AS BIGINT) AS duration_ms
        |FROM ids ORDER BY doc_id""".stripMargin
  )
}
