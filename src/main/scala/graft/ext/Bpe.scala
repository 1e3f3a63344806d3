package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE merge training — the tokenizer-construction loop run
  * AGAINST the corpus instead of a single-machine sample (Sennrich et al.
  * 2016, arXiv:1508.07909). x73 counts merge CANDIDATES once; this trains
  * an actual merge list: repeatedly (1) count adjacent symbol pairs over
  * the whole corpus, (2) pick the most frequent pair (ties pinned:
  * count desc, then left/right symbol ascending — deterministic across
  * engines and retries), (3) re-encode every document by greedily merging
  * that pair left-to-right, then repeat on the merged symbols. Merged
  * symbols are joined with [[mergeJoin]] (U+0002), so later iterations
  * count pairs OVER merged symbols — the hierarchical vocabulary BPE exists for.
  *
  * Scale shape per iteration: the pair count is a map-side zip_with over
  * shifted slices + a hash aggregate with partial combine (x73's shape —
  * the shuffle carries the pair VOCABULARY, not the corpus), the argmax
  * is orderBy+limit(1) (TakeOrderedAndProject: one row per partition to
  * the driver), and the re-encode is a pure map (one aggregate() fold per
  * document, O(len) state transitions; the fold's array-append costs
  * O(len²) copies per doc in the worst case — bounded by document length,
  * never corpus size). Iteration state is materialized each round so
  * round k's lineage doesn't replay rounds 1..k−1's folds. The driver
  * holds `numMerges` rows of state — nothing corpus-sized.
  *
  * Production vocabularies (tens of thousands of merges) amortize
  * differently: real trainers keep incremental pair-count deltas instead
  * of recounting (each merge only changes counts adjacent to its
  * occurrences), and at 100 TB one trains on a sampled subset — both are
  * optimizations OVER this baseline, which recounts exactly and is the
  * reference semantics an incremental trainer must reproduce. */
object Bpe {

  /** Adjacent symbol pairs of a token-array column as (a, b) structs —
    * zip_with over shifted slices (map-side, codegen'd), no posexplode
    * index arithmetic. */
  private def adjacentPairs(toks: Column): Column =
    zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => struct(a.as("a"), b.as("b")))

  /** Joiner inside merged symbols: U+0002, a control character that
    * cannot appear in whitespace-tokenized text — a printable joiner
    * (e.g. '+') would make a literal corpus token like "a+b" collide
    * with the merged symbol of the pair (a, b), conflating pair counts
    * on code/math corpora. Distinct from the U+0001 the ORACLE uses to
    * key (left, right) pairs, so merged symbols never confuse the
    * oracle's pair-key split, and still above U+0001 so the oracle's
    * single-key ORDER BY keeps matching the (n, left, right) order. */
  val mergeJoin = "\u0002"

  /** Greedy left-to-right application of ONE merge (a, b) → a⟨U+0002⟩b:
    * fold the token array, replacing the accumulator tail when it ends
    * with `a` and the incoming symbol is `b`. A replaced tail cannot
    * re-merge (the fold moves on), giving the standard non-overlapping
    * left-to-right semantics: a a a b → a a (a·b). */
  private def applyMerge(toks: Column, a: String, b: String): Column =
    applyMerges(toks, Seq((a, b)))

  /** Apply a whole merge LIST (training order) in one JVM pass — the
    * hot path of [[encode]] / [[encodedSize]] / the [[trainMerges]]
    * re-encode step. This was a chain of Catalyst `aggregate` folds
    * whose lambda rebuilt the accumulator ARRAY per element
    * (`concat(slice(acc, …), array(x))` allocates and copies the whole
    * prefix for every token) — O(len²) work and garbage per merge per
    * document, the same HOF inline blowup [[graft.ext.Dedup.shingles]]
    * documents. A plain per-row loop is O(len · merges) with one output
    * buffer: measured 14.4 s → ~3 s on the x117 encode+budget pass at
    * sf0.1. The UDF costs one codegen boundary, which the quadratic
    * expression chain loses many times over; semantics are bit-identical
    * (same greedy left-to-right non-overlapping fold per merge, merges
    * applied in training order; null tokens → null, matching
    * `aggregate`'s null propagation). */
  private def applyMerges(
      toks: Column, merges: Seq[(String, String)]): Column = {
    val ms = merges.toArray
    val f = udf { (in: Seq[String]) =>
      if (in == null) null
      else {
        var cur: Array[String] = in.toArray
        var m = 0
        while (m < ms.length) {
          val (a, b) = ms(m)
          val merged = a + mergeJoin + b
          val out = new Array[String](cur.length)
          var n = 0
          var i = 0
          while (i < cur.length) {
            if (n > 0 && out(n - 1) == a && cur(i) == b)
              out(n - 1) = merged
            else { out(n) = cur(i); n += 1 }
            i += 1
          }
          cur = java.util.Arrays.copyOf(out, n)
          m += 1
        }
        cur.toSeq
      }
    }
    f(toks)
  }

  /** Train `numMerges` BPE merges over `textCol`'s whitespace tokens.
    * Returns (step, left, right, n) — the merge table in training order,
    * n the pair's corpus count at selection time. Stops early once no
    * pair occurs at least twice — a frequency-1 merge compresses nothing
    * and no BPE trainer emits one. */
  def trainMerges(
      docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    require(numMerges >= 1 && numMerges <= 64,
      "numMerges must be in [1, 64] — this loop (and trainMergesSampled, " +
        "which wraps it) runs one Spark job chain per merge; production " +
        "vocabulary sizes (32k+) belong to trainMergesLocal, whose " +
        "in-memory incremental loop has no per-merge job cost")
    var state = Dedup.materialize(
      docs.select(Dedup.tokens(col(textCol)).as("toks"))
        .filter(size(col("toks")) >= 2))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var exhausted = false
    for (step <- 1 to numMerges if !exhausted) {
      val top = state
        .select(explode(adjacentPairs(col("toks"))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < 2) exhausted = true
      else {
        val (a, b, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((step, a, b, n))
        state = Dedup.materialize(
          state.select(applyMerge(col("toks"), a, b).as("toks")))
      }
    }
    import spark.implicits._
    merges.result().toDF("step", "left", "right", "n")
      .select(col("step").cast("long").as("step"), col("left"),
        col("right"), col("n"))
  }

  /** [[trainMerges]] on a deterministic hash-sample of the corpus — the
    * production-scale training path: at 100 TB no BPE trainer touches
    * every document (the pair statistics of a few hundred thousand docs
    * pin the same merge list), so the corpus is thinned FIRST with the
    * engine's portable hash sample ([[Sampling.uniform]] — pure function
    * of the id, reproducible on any engine and under retries) and the
    * merge loop runs on the sample: per-merge cost is O(sample),
    * independent of corpus size. The full corpus is then encoded ONCE
    * with [[encode]] (map-side, no shuffle) — merge training never pays
    * a corpus-wide pass at all.
    *
    * Same output contract as [[trainMerges]]; the x101 gate pins the
    * sampled trainer's merge list against a DuckDB oracle over the same
    * hash-sample. */
  def trainMergesSampled(
      docs: DataFrame, textCol: String, idCol: String, numMerges: Int,
      sampleRate: Double, buckets: Int = 10000): DataFrame = {
    require(sampleRate > 0.0 && sampleRate <= 1.0,
      s"sampleRate must be in (0, 1], got $sampleRate")
    trainMerges(
      Sampling.uniform(docs.select(col(idCol), col(textCol)), idCol,
        sampleRate, buckets),
      textCol, numMerges)
  }

  /** In-memory trainer over a bounded sample — the path for PRODUCTION
    * vocabulary sizes. [[trainMerges]] (and [[trainMergesSampled]]) run
    * one Spark job chain per merge; at 32k merges the driver-side job
    * scheduling alone dominates, however small the sample. Real trainers
    * run the loop in memory: this collects at most `maxDocs` documents
    * (deterministic hash-order prefix — a pure function of the ids, NOT
    * arrival order) and trains with INCREMENTAL pair-count maintenance —
    * each merge re-encodes only the documents that contain the chosen
    * pair (tracked by a pair→docs index) and adjusts counts by the local
    * diff, so per-merge cost is proportional to the affected text, not
    * the sample. Semantics are bit-identical to [[trainMerges]] (same
    * greedy left-to-right fold, same (count desc, left, right) tie
    * order, same stop-below-2 rule) — pinned by ExtSpec parity on the
    * same input.
    *
    * The driver holds `maxDocs` token arrays — cap it to the driver's
    * memory (the default 100k docs of ~1k tokens is well under a GB). */
  def trainMergesLocal(
      docs: DataFrame, textCol: String, idCol: String, numMerges: Int,
      maxDocs: Int = 100000): DataFrame = {
    val spark = docs.sparkSession
    require(numMerges >= 1, "numMerges must be >= 1")
    require(maxDocs >= 1 && maxDocs <= 2000000,
      "maxDocs bounds the driver-side sample; keep it under 2M docs")
    // deterministic bounded sample: order by the portable hash of the id
    // (ties by id) and take the prefix — reproducible regardless of
    // partitioning, and unbiased unlike a partition-order limit
    // hash-cutoff PRE-FILTER before the sort: orderBy(...).limit over the
    // whole corpus plans a full range-partitioned sort that shuffles
    // every token array just to discard all but the prefix. The prefix
    // is "the maxDocs lowest 60-bit hashes", so keeping only hashes
    // under a conservative cutoff (4× the needed fraction) shrinks the
    // sort input by orders of magnitude while provably CONTAINING the
    // true prefix; if the corpus is small (or the margin ever
    // under-captures), fall back to the exact full sort — the selected
    // prefix is identical either way.
    val base = docs
      .select(col(idCol).cast("string").as("gid"),
        Dedup.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
      .withColumn("graft_h", graft.ext.PortableHash.md5Long(col("gid")))
    val n = base.count()
    val pool =
      if (n <= maxDocs.toLong * 4) base
      else {
        val cutoff = ((1L << 60).toDouble *
          math.min(1.0, 4.0 * maxDocs / n)).toLong
        val filtered = base.filter(col("graft_h") < cutoff)
        if (filtered.count() >= math.min(maxDocs.toLong, n)) filtered
        else base // extreme hash skew: exact path (never observed)
      }
    val sample: Array[Array[String]] = pool
      .orderBy(col("graft_h"), col("gid"))
      .limit(maxDocs)
      .select(col("toks"))
      .collect()
      .map(_.getSeq[String](0).toArray)
    localBpe(spark, sample, numMerges)
  }

  /** Unsigned byte-wise UTF-8 comparison — the ordering Spark's string
    * sort (UTF8String) and DuckDB both use. Scala's String.compareTo
    * orders by UTF-16 code units, which disagrees for supplementary
    * characters; the tie-break must match [[trainMerges]] exactly. */
  private def utf8Cmp(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** The incremental in-memory merge loop behind [[trainMergesLocal]].
    *
    * Data structures: a pair→count map, a pair→docs index (`where`, a
    * superset — stale docs are harmless, re-encode is a no-op on them),
    * and a lazy-deletion max-heap for the argmax. Invariant: every pair
    * in `counts` has a heap entry with stored n ≥ its current count —
    * increments push the exact new value; decrements leave the old
    * (higher) entry, which pops first, fails the staleness check, and
    * re-pushes the corrected value. The first VALID pop is therefore the
    * true (n desc, left, right) argmax. Per-merge cost ∝ the text of the
    * docs containing the merged pair, never the sample. */
  private def localBpe(
      spark: org.apache.spark.sql.SparkSession,
      docsIn: Array[Array[String]], numMerges: Int): DataFrame = {
    import scala.collection.mutable
    val docs = docsIn.clone()
    val counts = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.BitSet]
    // max-heap: larger n first; ties by UTF-8-ascending (left, right)
    val heapOrd = new Ordering[(Long, String, String)] {
      def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
        val byN = java.lang.Long.compare(x._1, y._1)
        if (byN != 0) byN
        else {
          val byA = utf8Cmp(y._2, x._2) // smaller string = higher priority
          if (byA != 0) byA else utf8Cmp(y._3, x._3)
        }
      }
    }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](heapOrd)
    def addDoc(i: Int, sign: Long, push: Boolean): Unit = {
      val t = docs(i)
      var j = 0
      while (j < t.length - 1) {
        val p = (t(j), t(j + 1))
        val n = counts.getOrElse(p, 0L) + sign
        if (n == 0L) counts.remove(p) else counts.update(p, n)
        if (sign > 0) {
          where.getOrElseUpdate(p, mutable.BitSet.empty) += i
          if (push) heap.enqueue((n, p._1, p._2))
        }
        j += 1
      }
    }
    var i = 0
    while (i < docs.length) { addDoc(i, 1L, push = false); i += 1 }
    counts.foreach { case ((a, b), n) => heap.enqueue((n, a, b)) }
    // same greedy left-to-right fold as [[applyMerge]]
    def reencode(t: Array[String], a: String, b: String): Array[String] = {
      val out = mutable.ArrayBuffer.empty[String]
      var j = 0
      while (j < t.length) {
        if (out.nonEmpty && out.last == a && t(j) == b) {
          out(out.length - 1) = a + mergeJoin + b
        } else out += t(j)
        j += 1
      }
      out.toArray
    }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= numMerges && !exhausted) {
      // pop to the first non-stale entry, re-pushing corrected values
      var top: Option[(Long, String, String)] = None
      while (top.isEmpty && heap.nonEmpty) {
        val (n, a, b) = heap.dequeue()
        counts.get((a, b)) match {
          case Some(cur) if cur == n => top = Some((n, a, b))
          case Some(cur) if cur >= 2 => heap.enqueue((cur, a, b))
          case _ => () // gone or below the merge floor — drop
        }
      }
      top match {
        case Some((n, a, b)) if n >= 2 =>
          merges += ((step, a, b, n))
          // re-encode ONLY the docs containing (a, b); counts by local diff
          where.getOrElse((a, b), mutable.BitSet.empty).toArray.foreach { d =>
            addDoc(d, -1L, push = false)
            docs(d) = reencode(docs(d), a, b)
            addDoc(d, 1L, push = true)
          }
          where.remove((a, b))
          step += 1
        case _ => exhausted = true
      }
    }
    import spark.implicits._
    merges.result().toDF("step", "left", "right", "n")
      .select(col("step").cast("long").as("step"), col("left"),
        col("right"), col("n"))
  }

  /** Re-encode `textCol` with an already-trained merge list, in training
    * order — the APPLY side of [[trainMerges]] for encoding new corpora
    * with a fixed tokenizer. Merges are applied as chained folds (one per
    * merge, all map-side, no shuffle at all). Returns the input plus a
    * `symbols` column. */
  def encode(
      docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    docs.withColumn("symbols",
      if (merges.isEmpty) Dedup.tokens(col(textCol))
      else applyMerges(Dedup.tokens(col(textCol)), merges))

  /** TOKENIZER-denominated token count: the number of symbols `text`
    * encodes to under a trained merge list — the unit training budgets
    * are actually written in (a 100 B-token budget means TOKENIZER
    * tokens, not whitespace words). With an empty merge list this is the
    * whitespace count, so budget operators take it as an optional
    * upgrade: [[graft.ext.Sampling.temperatureMix]]/`temperatureSample`
    * accept a `merges` list, and [[graft.ext.Sampling.tokenBudget]] /
    * `Packing.packBins` take any precomputed count column — pass
    * `size(encode(...).symbols)`. Map-side fold per merge, no shuffle. */
  def encodedSize(text: Column, merges: Seq[(String, String)]): Column =
    if (merges.isEmpty) size(Dedup.tokens(text))
    else size(applyMerges(Dedup.tokens(text), merges))

  // ---------------------------------------------------------------------
  // PERSISTED TOKENIZER STATE — the fifth state pillar (LSH text, IVF
  // vectors, stats sketches, term-bucketed postings, and now the trained
  // tokenizer): budget/mix/packing queries are denominated in TOKENIZER
  // tokens, and without persisted state every such query retrains the
  // merge list and re-encodes the whole corpus per call (the x117 shape —
  // deliberate as a gate, wrong as a production posture). Here training
  // happens ONCE (first batch — the same freeze-the-geometry posture as
  // the IVF centroids: a tokenizer that drifts per batch would make
  // token counts incomparable across the corpus), each appended batch
  // encodes incrementally (one map-side fold per merge, O(batch), no
  // shuffle), and budget/mix queries read the narrow per-doc
  // (id, bpe_tokens) sidecar — never the corpus text.
  //
  // Same IO discipline as the other pillars: tagged `batch_id=N`
  // overwrite appends for at-least-once replay, `_meta` parameter
  // validation, PATH_NOT_FOUND-only absence reads ([[StateIO]]),
  // `__compact_bak` fail-fast, tombstone deletes, offline compaction.
  // ---------------------------------------------------------------------

  /** Append a batch to a tokenizer state dir. First contact TRAINS
    * [[trainMerges]] on that batch and freezes the merge list to
    * `dir/merges` (training on a representative first batch and freezing
    * is what keeps every document's count in the SAME unit — retrain =
    * rebuild the dir, exactly the IVF-centroid contract); every append
    * encodes its documents with the frozen merges (map-side fold chain,
    * O(batch)) and lands (id, bpe_tokens) rows in `dir/doc_tokens`.
    *
    * `_meta` persists numMerges on first contact and is validated on
    * every later append — counts encoded under a different merge budget
    * would silently mix units. The merge list is bounded by the
    * [[trainMerges]] cap (≤ 64): the encode fold is one chained
    * higher-order expression per merge, the regime this pillar serves
    * (production 32k-vocab tokenizers encode outside SQL expressions —
    * [[trainMergesLocal]]'s documented trade-off).
    *
    * Replay/crash: tagged appends overwrite their own `batch_id=N`
    * partition (re-running a batch replaces rather than duplicates —
    * and retraining on a replayed FIRST batch rewrites the identical
    * deterministic merges); untagged appends anti-join already-present
    * ids, but are not crash-safe between writes (the shared untagged
    * caveat). Ids must be unique across batches; a deleted id must
    * never be re-appended. */
  def appendTokenizerState(
      batch: DataFrame, dir: String, idCol: String, textCol: String,
      numMerges: Int = 4, batchTag: Option[Long] = None): Unit =
      StateIO.withWriterLock(batch.sparkSession, dir) {
    val spark = batch.sparkSession
    StatePillar.Tokenizer.checkWritable(spark, dir)
    StateIO.checkTagAboveFloor(spark, dir, batchTag, "append")
    val merges = readTokenizerMeta(spark, dir) match {
      case Some(stored) =>
        require(stored == numMerges.toLong,
          s"tokenizer state at $dir was trained with numMerges=$stored " +
            s"but this append asked for $numMerges; counts encoded under " +
            "different merge budgets are different units — use the stored " +
            "parameter or rebuild the state")
        readMerges(spark, dir)
      case None =>
        // nothing trained yet: an empty first batch is a no-op (training
        // on it would freeze an empty merge list over nothing — the
        // empty-first-micro-batch hazard the IVF append also guards)
        if (batch.select(col(idCol)).head(1).isEmpty) return
        trainMerges(batch, textCol, numMerges)
          .coalesce(1).write.mode("overwrite").parquet(StateIO.tablePath(spark, dir, "merges"))
        writeTokenizerMeta(spark, dir, numMerges)
        readMerges(spark, dir)
    }
    val rows = batch.select(col(idCol).as("id"),
      encodedSize(col(textCol), merges).cast("long").as("bpe_tokens"))
    val out = batchTag match {
      case Some(_) => rows
      case None => StateIO.readTableIfExists(spark, dir, "doc_tokens") match {
        case Some(existing) => Dedup.materialize(
          rows.join(existing.select(col("id")), Seq("id"), "left_anti"))
        case None => rows
      }
    }
    batchTag match {
      case Some(t) =>
        out.write.mode("overwrite").parquet(s"${StateIO.tablePath(spark, dir, "doc_tokens")}/batch_id=$t")
      case None => out.write.mode("append").parquet(StateIO.tablePath(spark, dir, "doc_tokens"))
    }
  }

  /** The frozen merge list of a state dir, in training order — ≤ 64
    * (left, right) rows, driver-sized by the [[trainMerges]] cap. */
  def readMerges(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, String)] =
    spark.read.parquet(StateIO.tablePath(spark, dir, "merges")).orderBy(col("step"))
      .select(col("left"), col("right"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  /** Live (id, bpe_tokens) rows of a tokenizer state: the doc_tokens
    * sidecar minus tombstoned ids, minus an excluded replay tag (the
    * shared self-match rule: a replayed tagged batch must not see its
    * own prior attempt as corpus). */
  def readDocTokens(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      excludeTag: Option[Long] = None,
      asOf: Option[(Long, Long)] = None): DataFrame = {
    // fail fast during a crashed truncate's apply window — a
    // half-swapped doc_tokens/tombstones pair is a mixed fit
    StateIO.checkNoSwapInProgress(spark, dir)
    val raw = spark.read.parquet(StateIO.tablePath(spark, dir, "doc_tokens"))
    val cut = asOf match {
      case Some((bt, _)) =>
        StateIO.asOfCut(raw, "batch_id", bt, dir, "doc_tokens")
      case None => raw
    }
    val untagged = excludeTag
      .filter(_ => cut.columns.contains("batch_id"))
      .map(tag => cut.filter(col("batch_id") =!= tag)).getOrElse(cut)
    StatePillar.Tokenizer.live(spark, dir, untagged, asOf.map(_._2))
      .select(col("id"), col("bpe_tokens"))
  }

  /** DELETE documents from a tokenizer state — O(|ids|) tombstone
    * writes; every read ([[readDocTokens]]) anti-joins them. Unlike the
    * postings pillar there is NO aggregate to correct (the sidecar is
    * per-doc), so tombstones alone close the path; compaction may drop
    * the tombstoned sidecar rows physically (nothing re-derives from
    * them). Tagged deletes overwrite their own `delete_id=N` partition
    * (at-least-once safe); untagged deletes anti-join prior tombstones
    * so a blind re-run is a no-op. A deleted id must never re-append. */
  def deleteFromTokenizerState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      ids: DataFrame, idCol: String,
      deleteTag: Option[Long] = None): Unit =
    StatePillar.Tokenizer.delete(spark, dir, ids, col(idCol), deleteTag)

  /** [[graft.ext.Sampling.tokenBudget]] answered from persisted encoded
    * counts: the budget prefix sum runs over the narrow (id, bpe_tokens)
    * sidecar joined to a caller-supplied (idCol, qualityCol) frame — the
    * corpus text is never touched and the tokenizer never retrains (the
    * amortization this pillar exists for; x117 is the same selection
    * paying training + a corpus re-encode per call). Output-identical to
    * the recompute path over the same corpus and merges (spec-pinned).
    * Quality rows without a live state row (deleted / never appended)
    * drop out — budgets select from the indexed corpus. */
  def tokenBudgetFromState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      quality: DataFrame, idCol: String, qualityCol: String,
      budget: Long, granularity: Int = 100): DataFrame =
    budgetFromStateCore(spark, dir, quality, idCol, qualityCol, budget,
      granularity, asOf = None)

  /** SNAPSHOT (time-travel) budget selection — [[tokenBudgetFromState]]
    * as the tokenizer state stood after append batch `asOfBatch` and
    * delete batch `asOfDelete`
    * ([[graft.ext.Index.bm25TopKFromStateAsOf]]'s contract on the
    * tokenizer pillar): the (id, bpe_tokens) sidecar cut to
    * `batch_id <= asOfBatch`, tombstones to `delete_id <= asOfDelete`,
    * both partition-pruned. Valid because the merges FROZE on the first
    * batch — every version's counts are in the same unit, so a past
    * budget replays exactly ("which documents made the cut before
    * yesterday's delete?"). Tagged states only (fails fast otherwise). */
  def tokenBudgetFromStateAsOf(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      quality: DataFrame, idCol: String, qualityCol: String,
      budget: Long, asOfBatch: Long, asOfDelete: Long = 0L,
      granularity: Int = 100): DataFrame =
    budgetFromStateCore(spark, dir, quality, idCol, qualityCol, budget,
      granularity, asOf = Some((asOfBatch, asOfDelete)))

  private def budgetFromStateCore(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      quality: DataFrame, idCol: String, qualityCol: String,
      budget: Long, granularity: Int,
      asOf: Option[(Long, Long)]): DataFrame = {
    val toks = readDocTokens(spark, dir, asOf = asOf)
    val q = quality.select(col(idCol).as("id"), col(qualityCol))
    Sampling.tokenBudget(toks.join(q, Seq("id")), "id", "bpe_tokens",
        qualityCol, budget, granularity)
      .select(col("id").as(idCol), col(qualityCol), col("bpe_tokens"),
        col("cum_tokens"))
  }

  /** TRAINING-DATA EXPORT from persisted state — the capstone a user
    * actually runs to cut a training set: quality-ordered token-budget
    * selection from the tokenizer sidecar ([[tokenBudgetFromState]] —
    * no retrain, no corpus re-encode), then deterministic hash shards
    * and greedy ~`binBudget`-token bins ([[graft.ext.Packing.packBins]]
    * — the portable-hash shard and integral-divide bin the x31/x45
    * oracles replay). Returns one row per selected document:
    * (idCol, bpe_tokens, shard, bin) — the materialization plan a
    * shard-writer consumes; [[graft.ext.Packing.binEfficiency]] over it
    * is the utilization report. Every stage is an already-gated
    * operator, composed; the corpus text is never touched. */
  def exportShardsFromState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      quality: DataFrame, idCol: String, qualityCol: String,
      budget: Long, binBudget: Long, numShards: Int): DataFrame =
    Packing.packBins(
      tokenBudgetFromState(spark, dir, quality, idCol, qualityCol, budget)
        .select(col(idCol), col("bpe_tokens")),
      idCol, "bpe_tokens", Seq.empty, idCol, binBudget, numShards)

  private val ExportPendingMarker = "_export_pending"
  private val ExportMetaFile = "_export_meta"

  /** MATERIALIZE [[exportShardsFromState]] — the step that ends with
    * bytes on disk: the selection/shard/bin plan lands as
    * `shard=N`-partitioned parquet under `outDir`, one row per selected
    * document, optionally joined to a caller-supplied `payload` frame
    * (the document text / token arrays a trainer actually reads; the
    * plan itself never touches corpus text). Consumers stream one
    * `shard=` partition per worker and read bins in `bin` order.
    *
    * Replay posture (the pillar discipline applied to the export): the
    * write is a wholesale deterministic overwrite — a blind re-run with
    * the same state and parameters lands byte-identical content rather
    * than duplicating — and the crash window is gated, not silent: an
    * `_export_pending` marker publishes first and clears only after the
    * data AND the `_export_meta` parameter record land, so
    * [[readExportedShards]] fails fast on a half-written export with
    * the re-run remedy. Returns the number of rows written.
    *
    * @param payload optional (idCol, ...) frame joined onto the plan —
    *        every payload column is carried into the shards */
  def writeShardsFromState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      quality: DataFrame, idCol: String, qualityCol: String,
      budget: Long, binBudget: Long, numShards: Int, outDir: String,
      payload: Option[DataFrame] = None): Long = {
    val plan = exportShardsFromState(spark, dir, quality, idCol, qualityCol,
      budget, binBudget, numShards)
    val rows = payload match {
      case Some(p) => plan.join(p, Seq(idCol), "left")
      case None => plan
    }
    val out = Dedup.materialize(
      rows.select((col(idCol) +: col("bpe_tokens") +: col("bin") +:
        rows.columns.filterNot(Set(idCol, "bpe_tokens", "bin", "shard"))
          .map(col).toSeq :+ col("shard")): _*))
    StateIO.publishSmallFile(spark, outDir, ExportPendingMarker,
      s"budget=$budget\n")
    out.write.mode("overwrite").partitionBy("shard")
      .parquet(s"$outDir/shards")
    StateIO.publishSmallFile(spark, outDir, ExportMetaFile,
      s"budget=$budget\nbin_budget=$binBudget\nnum_shards=$numShards\n" +
        s"quality_col=$qualityCol\n")
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(outDir, ExportPendingMarker),
      false)
    out.count()
  }

  /** Read a [[writeShardsFromState]] export back — fails fast on a
    * half-written export (marker present or the parameter record
    * missing), naming the re-run remedy. */
  def readExportedShards(
      spark: org.apache.spark.sql.SparkSession, outDir: String): DataFrame = {
    require(!StateIO.pathExists(spark, s"$outDir/$ExportPendingMarker"),
      s"export at $outDir is HALF-WRITTEN ($ExportPendingMarker present) " +
        "— re-run writeShardsFromState (deterministic overwrite) before " +
        "consuming it")
    require(StateIO.readSmallFile(spark, outDir, ExportMetaFile).nonEmpty,
      s"$outDir carries no $ExportMetaFile — not a completed shard " +
        "export (writeShardsFromState)")
    spark.read.parquet(s"$outDir/shards")
  }

  /** [[graft.ext.Sampling.temperatureMix]] answered from persisted
    * encoded counts: per-group token totals aggregate the sidecar joined
    * to a caller-supplied (idCol, grpCol) frame — same share math
    * ([[Sampling.temperatureMixFromCounts]]), zero tokenization. */
  def temperatureMixFromState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      groups: DataFrame, idCol: String, grpCol: String,
      alpha: Double = 0.5): DataFrame = {
    val toks = readDocTokens(spark, dir)
    val counts = Dedup.materialize(
      groups.select(col(idCol).as("id"), col(grpCol).as("grp"))
        .join(toks, Seq("id"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_docs"), sum(col("bpe_tokens")).as("tokens")))
    Sampling.temperatureMixFromCounts(counts, grpCol, alpha)
  }

  /** [[graft.ext.Sampling.temperatureSample]] answered from persisted
    * encoded counts — the full mix-assembly step (flattened shares →
    * per-source token budgets → deterministic hash-order fill) with the
    * corpus text never touched: the (id, bpe_tokens) sidecar joins the
    * caller's (idCol, grpCol) frame ONCE (materialized — shares and fill
    * both read the narrow joined frame), shares come from
    * [[Sampling.temperatureMixFromCounts]], and the fill is the same
    * two-phase prefix sum ([[Sampling.temperatureFill]]). x111 pays two
    * corpus tokenize passes for this; here both passes are a sidecar
    * read. Returns (grpCol, idCol, tokens, cum_tokens). */
  def temperatureSampleFromState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      groups: DataFrame, idCol: String, grpCol: String,
      totalTokens: Long, alpha: Double = 0.5): DataFrame = {
    require(totalTokens > 0, s"totalTokens must be positive: $totalTokens")
    val joined = Dedup.materialize(
      groups.select(col(idCol).as("id"), col(grpCol).as("grp"))
        .join(readDocTokens(spark, dir), Seq("id"))
        .select(col("grp"), col("id"), col("bpe_tokens").as("tokens")))
    val counts = Dedup.materialize(joined.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("tokens")))
    val shares = Sampling.temperatureMixFromCounts(counts, "grp", alpha)
      .select(col("grp").cast("string"), col("share_temp")).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    Sampling.temperatureFill(joined, "id", "grp", shares, totalTokens)
      .select(col("grp").as(grpCol), col("id").as(idCol),
        col("tokens"), col("cum_tokens"))
  }

  /** Small-file maintenance for a tokenizer state dir — the shared
    * backup-swap compaction; tombstoned sidecar rows drop physically
    * (no correction derives from them — see [[deleteFromTokenizerState]]);
    * the tombstones table itself is kept (id-reuse contract). Offline. */
  def compactTokenizerState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      targetBytes: Long = 128L << 20): Unit =
    StatePillar.Tokenizer.compact(spark, dir,
      Seq("merges" -> false, "doc_tokens" -> false), targetBytes,
      dropFrom = Seq("doc_tokens"))

  /** numMerges stored in `dir/_meta`, or None if the state is untrained.
    * Only PATH_NOT_FOUND means untrained — the [[StateIO]] discipline
    * (a transient failure must crash the append, not retrain a second
    * merge list over a half-built state). */
  private def readTokenizerMeta(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[Long] = {
    try {
      val row = spark.read.schema("num_merges LONG").json(s"$dir/_meta").head()
      require(!row.isNullAt(0),
        s"tokenizer state meta at $dir/_meta is corrupt — rebuild the dir")
      Some(row.getLong(0))
    } catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" => None
      case _: java.util.NoSuchElementException => None
    }
  }

  private def writeTokenizerMeta(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      numMerges: Int): Unit = {
    import spark.implicits._
    Seq(numMerges.toLong).toDF("num_merges")
      .coalesce(1).write.mode("overwrite").json(s"$dir/_meta")
  }
}
