package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Inverted index construction + conjunctive term search — the retrieval
  * backbone of a corpus-scale text pipeline (filtering, search-based
  * curation, contamination forensics all sit on top of term→docs lookup).
  *
  * The reference has no retrieval layer; this extends the SURVEY north-star
  * set (text analysis over the `documents` table) with the classic
  * IR primitive, built Spark-first:
  *
  *   - the (doc, term) posting relation is `explode(array_distinct(split))`
  *     → `groupBy(term)` — high-cardinality shuffle key, map-side partial
  *     aggregation, no driver participation;
  *   - posting lists are sorted per term (`sort_array(collect_list)`), so
  *     downstream intersection can merge, and the output is deterministic;
  *   - at 100 TB the hazard is the HOT term: a stopword's posting list is
  *     a billion doc ids in ONE aggregation buffer. [[shardedIndex]] is the
  *     scale path — postings split into bounded (term, shard) rows keyed by
  *     `doc_id % shards`, so no single task ever materializes a hot term's
  *     full list; a reader unions shards lazily (they stay sorted within a
  *     shard, shard ids order the merge). The unsharded [[invertedIndex]]
  *     is for bounded vocabularies / df-capped slices where one row per
  *     term is the convenient shape.
  *
  * Search ([[searchAll]]) is conjunctive (AND of all query terms): filter
  * the posting relation to the query terms (at scale: the persisted index
  * bucketed by term turns this into a partition-pruned lookup, not a scan),
  * then `groupBy(doc)` counting distinct matched terms == nTerms. This is
  * the standard small-intersection plan: work is proportional to the
  * posting lists of the QUERY terms only, never the corpus.
  */
object Index {

  private def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        explode(Dedup.distinctTokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")

  /** term → (df, comma-joined sorted posting list). Postings serialize as
    * a string (numeric sort first, then stringify) so the artifact is
    * engine-portable and hash-stable. `minDf`/`maxDf` bound the emitted
    * vocabulary (df caps are also how real indexes drop stopwords). */
  def invertedIndex(
      docs: DataFrame, idCol: String, textCol: String,
      minDf: Long = 1L, maxDf: Long = Long.MaxValue): DataFrame =
    postings(docs, idCol, textCol)
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        array_join(
          transform(sort_array(collect_list(col(idCol))), _.cast("string")),
          ",").as("postings"))
      .filter(col("df").between(minDf, maxDf))

  /** Scale path: posting lists sharded by `id % shards` into bounded rows.
    * A hot term occupies `shards` aggregation buffers instead of one; the
    * per-shard df column sums to the term's true df. */
  def shardedIndex(
      docs: DataFrame, idCol: String, textCol: String, shards: Int): DataFrame =
    postings(docs, idCol, textCol)
      .withColumn("shard", pmod(col(idCol), lit(shards)).cast("int"))
      .groupBy(col("term"), col("shard"))
      .agg(count(lit(1)).as("df"),
        array_join(
          transform(sort_array(collect_list(col(idCol))), _.cast("string")),
          ",").as("postings"))

  /** EXACT phrase search through the positional posting relation — the
    * retrieval capability term-level indexes can't express ("key agg" as
    * adjacent words, not co-occurrence anywhere in the doc). Each phrase
    * term's postings are reduced to candidate START positions
    * (pos − term-offset) and the terms intersect on (doc, start): a
    * surviving start is a position where every phrase word appears at its
    * exact offset. Returns (idCol, n_occurrences, first_pos) per matching
    * doc (first_pos 0-based).
    *
    * Scale shape: each join input is ONE term's postings — filtered
    * BEFORE any shuffle, so work is proportional to the query terms'
    * posting lists, never the corpus (the searchAll discipline, with
    * positions). The chain of (doc, start) equi-joins reuses one
    * partitioning; n−1 co-partitioned joins for an n-word phrase. A
    * corpus-wide positional INDEX is deliberately not materialized here —
    * at 100 TB you persist [[invertedIndex]]-style posting tables and
    * point this relation at them; the derivation is identical. */
  def phraseSearch(
      docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val postings = docs.select(col(idCol).as("graft_id"),
      posexplode(Dedup.tokens(col(textCol))).as(Seq("graft_pos", "graft_term")))
    val starts = phrase.zipWithIndex.map { case (t, i) =>
      postings.filter(col("graft_term") === t)
        .select(col("graft_id"), (col("graft_pos") - i).as("graft_start"))
    }
    starts.reduce(_.join(_, Seq("graft_id", "graft_start")))
      .groupBy(col("graft_id"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("graft_start")).cast("long").as("first_pos"))
      .select(col("graft_id").as(idCol), col("n_occurrences"), col("first_pos"))
  }

  /** Docs containing ALL `terms` (conjunctive search), with the matched
    * term count as evidence. Output: (idCol, n_matched) — callers join back
    * to the corpus for payload columns. */
  def searchAll(
      docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "searchAll needs at least one term")
    postings(docs, idCol, textCol)
      .filter(col("term").isin(terms: _*))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matched")) // pairs are distinct per doc
      .filter(col("n_matched") === terms.length)
  }

  /** Okapi BM25 per-(doc, matched-term) scores — the ranked-retrieval
    * complement to the boolean [[searchAll]] (Robertson & Spärck Jones /
    * Robertson et al., TREC-3; the reference has no retrieval layer at all).
    *
    *   score(d,t) = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *   idf(t)     = ln((N − df + 0.5) / (df + 0.5) + 1)    (the Lucene form,
    *                always ≥ 0)
    *
    * Shape at scale:
    *   - the token explode is filtered to the QUERY terms before any
    *     shuffle, so the tf aggregation's input is the query terms' posting
    *     lists, never the corpus token stream;
    *   - `dl` (doc token length) rides map-side as `size(filter(tokens))` —
    *     no separate per-doc aggregation or join;
    *   - df is an aggregate of the tiny (doc, term) tf frame and comes back
    *     as a `broadcast` (≤ |query| rows);
    *   - N and Σdl are ONE driver-side scalar aggregate over the corpus
    *     (the q03/A1 literal-stamp pattern — no cross join, no window).
    *
    * Cross-engine determinism (the x29 discipline): every float op is
    * written in the exact order the DuckDB oracle computes it; `k1`/`b`
    * default to binary-exact 1.25/0.75 so `k1+1` carries no rounding;
    * avgdl is one IEEE division of two exact longs.
    */
  def bm25(
      docs: DataFrame, idCol: String, textCol: String, terms: Seq[String],
      k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val toks = docs.select(col(idCol),
      filter(Dedup.tokens(col(textCol)), _ =!= "").as("graft_toks"))
    val stats = toks.agg(
      count(lit(1)).as("n"), sum(size(col("graft_toks"))).as("sumdl")).head()
    val n = stats.getLong(0)
    if (n == 0L) // empty corpus: empty result, not a null-sum NPE / 0-div
      return docs.sparkSession.emptyDataFrame
        .withColumn(idCol, lit(null).cast(docs.schema(idCol).dataType))
        .withColumn("term", lit(null).cast("string"))
        .withColumn("score", lit(null).cast("double"))
    val avgdl = stats.getLong(1).toDouble / n

    val tf = toks
      .select(col(idCol), size(col("graft_toks")).as("dl"),
        explode(col("graft_toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    bm25ScoreTf(tf, idCol, n, avgdl, k1, b)
  }

  /** Per-term BM25 scoring over a prepared tf relation (id, dl, term, tf)
    * plus the corpus constants — ONE expression tree shared by the batch
    * path ([[bm25]]) and the persisted-state path ([[bm25TopKFromState]]),
    * so both produce bit-identical doubles. */
  private def bm25ScoreTf(
      tf: DataFrame, idCol: String, n: Long, avgdl: Double,
      k1: Double, b: Double): DataFrame = {
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = log((lit(n.toDouble) - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val norm = col("tf") + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("dl") / lit(avgdl))
    tf.join(broadcast(df), "term")
      .select(col(idCol), col("term"),
        (idf * (col("tf") * lit(k1 + 1.0)) / norm).as("score"))
  }

  /** Global top-`k` BM25 ranking: per-doc total = ascending-term left fold
    * of [[bm25]]'s per-term scores (`aggregate` over `sort_array` — the
    * fold ORDER is pinned, so the double sum is engine-reproducible; a
    * leading +0.0 is an IEEE no-op, so docs matching a term subset fold
    * identically everywhere), then rank by (score desc, id asc).
    *
    * The ranked frame is docs-matching-≥1-term — posting-list-sized, not
    * corpus-sized — and is cut to the provable top-k candidates by the
    * LOSSLESS [[Ordinals.approxTopKPrune]] sketch filter before the final
    * sort, so no single task ever sorts a hot term's full posting list.
    * Returns (idCol, score, rank 1..k). */
  def bm25TopK(
      docs: DataFrame, idCol: String, textCol: String, terms: Seq[String],
      k: Int, k1: Double = 1.25, b: Double = 0.75): DataFrame =
    bm25FoldRank(bm25(docs, idCol, textCol, terms, k1, b), idCol, k)

  /** The pinned-order per-doc fold + lossless top-k cut of a per-term
    * score relation — shared tail of [[bm25TopK]] and
    * [[bm25TopKFromState]]. */
  private def bm25FoldRank(
      perTerm: DataFrame, idCol: String, k: Int): DataFrame = {
    val perDoc = perTerm
      .groupBy(col(idCol))
      .agg(aggregate(
        sort_array(collect_list(struct(col("term"), col("score")))),
        lit(0.0), (acc, x) => acc + x.getField("score")).as("score"))
    if (k <= 10000) {
      // small-k fast path (every declared caller asks k ≈ 10): a global
      // orderBy+limit plans as TakeOrderedAndProject — each task keeps a
      // k-row priority queue and one k-row merge finishes, no full sort,
      // no corpus-wide range exchange. This replaces the sketch-prune +
      // two-phase ordinal pass (an `.rdd` round trip costing 3 jobs and
      // an external-row conversion per query — measured ~1 s per bm25
      // read at sf0.1). Ties break identically: (score desc, id asc) is
      // the same total order the ordinal ranked by.
      val order = Seq(col("score").desc, col(idCol).asc)
      perDoc.orderBy(order: _*).limit(k)
        .withColumn("rank",
          row_number().over(Window.orderBy(order: _*)).cast("long") - 1L)
        .filter(col("rank") < k)
        .select(col(idCol), col("score"), (col("rank") + 1L).as("rank"))
    } else {
      // huge-k path (top-k of a meaningful corpus fraction): a k-row
      // heap per task stops paying for itself — keep the lossless
      // sketch prune + skew-free two-phase ordinal
      val pruned = Ordinals.approxTopKPrune(
        perDoc.withColumn("graft_neg", -col("score"))
          .withColumn("graft_one", lit(0)),
        "graft_one", "graft_neg", k)
      Ordinals.perKeyOrdinal(pruned, "graft_one", Seq("graft_neg", idCol))
        .filter(col("ordinal") < k)
        .select(col(idCol), col("score"), (col("ordinal") + 1L).as("rank"))
    }
  }

  /** Scala twin of [[PortableHash.md5Long]] for DRIVER-side term-bucket
    * computation (query-time partition pruning needs the bucket of each
    * query term before any plan exists). */
  private[ext] def termBucket(term: String, buckets: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
    val hex = d.map("%02x".format(_)).mkString.take(15)
    (java.lang.Long.parseLong(hex, 16) % buckets).toInt
  }

  /** PERSISTED search-index state — the fourth state pillar: the posting
    * relation (id, dl, term, tf) maintained incrementally so BM25 / term
    * lookup never re-tokenizes the corpus. Postings land PARTITIONED BY a
    * 60-bit-md5 term bucket (default 64), which is what makes query-time
    * cost right at scale: a query's terms map to a handful of buckets and
    * the read is PARTITION-PRUNED to those directories — a term lookup
    * touches ~|terms|/64 of the index files, never scans it. A `totals`
    * table accumulates per-batch (n_docs, sum_dl) so the BM25 corpus
    * constants need no corpus pass either (exact integer sums — they
    * cannot drift the way per-batch averages would).
    *
    * Failure/replay posture: TAGGED appends are the production mode —
    * both tables land in the batch's own `batch_id=N` partitions with
    * overwrite, so an at-least-once orchestrator re-running a batch
    * overwrites rather than double-counts, and a partial failure is
    * recovered by re-running the same tagged batch. UNTAGGED appends are
    * for one-shot builds and are NOT retry- or crash-safe: the totals
    * table is an aggregate (there is no per-row identity to anti-join
    * on), so a blind re-run double-counts n/sum_dl and duplicates tf
    * rows — on any failure, wipe the dir and rebuild. Ids must be unique
    * across batches (cross-batch df is then exactly the per-term row
    * count). Maintenance: [[compactPostingsState]] (NOT the generic
    * table compaction, which would flatten the bucket layout and turn
    * the pruned lookup into a full-index scan). */
  def appendPostingsState(
      batch: DataFrame, dir: String, idCol: String, textCol: String,
      buckets: Int = 64, batchTag: Option[Long] = None,
      positions: Boolean = false): Unit =
      StateIO.withWriterLock(batch.sparkSession, dir) {
    val spark = batch.sparkSession
    StatePillar.Postings.checkWritable(spark, dir)
    StateIO.checkTagAboveFloor(spark, dir, batchTag, "append")
    // optional POSITIONAL sidecar — what [[phraseSearchFromState]] reads:
    // (id, pos, term) per token occurrence, term-bucketed like the
    // postings so a phrase query's read prunes to its terms' buckets.
    // ~token-mass rows (the honest cost of a positional index — opt-in).
    // Positions are assigned BEFORE dropping empty terms, so offsets
    // match [[phraseSearch]]'s tokenization exactly.
    val writePositions: Option[() => Unit] =
      if (!positions) None
      else Some { () =>
        val posRows = batch
          .select(col(idCol).as("id"),
            posexplode(Dedup.tokens(col(textCol))).as(Seq("pos", "term")))
          .filter(col("term") =!= "")
          .withColumn("bucket",
            pmod(PortableHash.md5Long(col("term")), lit(buckets.toLong))
              .cast("int"))
        // clustered by the partition column before the partitioned write
        // (the graph tables' posture): without it every one of the
        // shuffle-partition write tasks splits its rows across all
        // `buckets` dirs — up to tasks × buckets sliver files per batch,
        // paid again by every pruned read's file opens (guide §6
        // small-file tax). One exchange of narrow rows buys whole files
        // per bucket dir.
        batchTag match {
          case Some(t) => posRows.repartition(col("bucket"))
            .write.mode("overwrite").partitionBy("bucket")
            .parquet(s"${StateIO.tablePath(spark, dir, "positions")}/batch_id=$t")
          case None => posRows.repartition(col("bucket"))
            .write.mode("append").partitionBy("bucket")
            .parquet(StateIO.tablePath(spark, dir, "positions"))
        }
      }
    val toks = batch.select(col(idCol).as("id"),
      filter(Dedup.tokens(col(textCol)), _ =!= "").as("graft_toks"))
    // narrow per-doc sidecar (id, dl) — 16 bytes/doc: what makes DELETES
    // exact and cheap ([[deleteFromPostingsState]] derives its totals
    // correction here instead of scanning every postings bucket), and the
    // only record of zero-token docs (they have no postings rows but DO
    // count in n_docs)
    val docRows = toks.select(col("id"),
      size(col("graft_toks")).cast("long").as("dl"))
    val tf = toks
      .select(col("id"), size(col("graft_toks")).as("dl"),
        explode(col("graft_toks")).as("term"))
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket",
        pmod(PortableHash.md5Long(col("term")), lit(buckets.toLong))
          .cast("int"))
    // the per-table writes are INDEPENDENT jobs on disjoint paths (tf,
    // docs and the positional sidecar each re-derive their rows from the
    // batch input; totals reads only the just-written docs sidecar), so
    // they overlap on a bounded pool (guide §2.6: the 64-dir tf write's
    // file-creation tail back-fills with the sidecar's tokenization
    // tasks). Crash posture unchanged — a tagged batch is at-least-once
    // and EVERY partial subset of its partitions is repaired by
    // re-running the same tag (partition overwrite), exactly as when the
    // possible subsets were order-prefixed; untagged appends keep their
    // documented not-crash-safe caveat either way.
    batchTag match {
      case Some(t) =>
        val writeTf: () => Unit = () =>
          tf.repartition(col("bucket")).write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(s"${StateIO.tablePath(spark, dir, "postings")}/batch_id=$t")
        val writeDocsTotals: () => Unit = () => {
          val docsPart = s"${StateIO.tablePath(spark, dir, "docs")}/batch_id=$t"
          docRows.write.mode("overwrite").parquet(docsPart)
          // derive the 1-row totals from the JUST-WRITTEN 16-byte/doc
          // sidecar instead of a third full tokenization pass over the
          // batch (totals and docRows and tf each re-derived `toks` —
          // three corpus-text scans per append; the sidecar read-back is
          // two slim columns and yields identical integers by
          // construction: n_docs = count(docs), sum_dl = Σ dl)
          spark.read.parquet(docsPart)
            .agg(count(lit(1)).as("n_docs"),
              coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
            .write.mode("overwrite")
            .parquet(s"${StateIO.tablePath(spark, dir, "totals")}/batch_id=$t")
        }
        StateIO.runOverlapped(
          writePositions.toSeq ++ Seq(writeTf, writeDocsTotals))
      case None =>
        val totals = toks.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(size(col("graft_toks"))), lit(0L)).as("sum_dl"))
        val writeTf: () => Unit = () =>
          tf.repartition(col("bucket")).write.mode("append")
            .partitionBy("bucket")
            .parquet(StateIO.tablePath(spark, dir, "postings"))
        val writeDocs: () => Unit = () =>
          docRows.write.mode("append").parquet(StateIO.tablePath(spark, dir, "docs"))
        val writeTotals: () => Unit = () =>
          totals.write.mode("append").parquet(StateIO.tablePath(spark, dir, "totals"))
        StateIO.runOverlapped(
          writePositions.toSeq ++ Seq(writeTf, writeDocs, writeTotals))
    }
  }

  /** DELETE documents from an [[appendPostingsState]] dir — the tombstone
    * path the append-only pillar was missing: the engine's own curation
    * (substring excision, decontamination) REMOVES documents, and without
    * deletes their stale postings keep scoring queries until a full state
    * rebuild. Writes are O(|ids|) + one narrow `docs` sidecar join — no
    * postings bucket is read or rewritten here:
    *
    *  - `tombstones` gains the deleted ids; every read
    *    ([[bm25TopKFromState]]) anti-joins them (tombstones are few until
    *    compaction — the anti-join is a broadcast against posting rows).
    *  - `tomb_totals` gains NEGATIVE (n_docs, sum_dl) rows derived from
    *    the `docs` sidecar — one per APPEND batch the deleted docs came
    *    from (`src_batch`, from the sidecar's partition column), so the
    *    BM25 corpus constants stay exact integer sums over
    *    |batches| + |deletes × batches-covered| rows AND a snapshot read
    *    ([[bm25TopKFromStateAsOf]]) can subtract only the corrections
    *    for docs inside its batch cut.
    *
    * [[compactPostingsState]] later applies tombstones PHYSICALLY
    * (rewrites postings/docs without the deleted rows) but keeps the
    * tombstones + tomb_totals tables: the totals partitions still count
    * the deleted docs, so the correction must survive compaction, and a
    * tombstone row whose postings are already gone is a no-op anti-join.
    *
    * Replay/retry: TAGGED deletes (`deleteTag`) land both tables in their
    * own `delete_id=N` partitions with overwrite — an at-least-once
    * orchestrator re-running a delete overwrites rather than
    * double-subtracts (the tagged reads exclude the delete's own
    * partition when deriving the correction, the same self-match rule as
    * the LSH replay). UNTAGGED deletes anti-join already-tombstoned ids
    * (a blind full re-run is a no-op) but are NOT crash-safe between the
    * two writes — the [[appendPostingsState]] untagged caveat applies.
    *
    * Contract: a deleted id must NEVER be re-appended later (tombstones
    * filter it forever); ids are unique across the state's lifetime. */
  def deleteFromPostingsState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      ids: DataFrame, idCol: String,
      deleteTag: Option[Long] = None): Unit =
      StateIO.withWriterLock(spark, dir) {
    StatePillar.Postings.checkWritable(spark, dir)
    StateIO.checkTagAboveFloor(spark, dir, deleteTag, "delete")
    val del = ids.select(col(idCol).as("id")).distinct()
    val docRows = StateIO.readTableIfExists(spark, dir, "docs").getOrElse(
      throw new IllegalStateException(
        s"postings state at $dir has no docs sidecar — deletes need the " +
          "per-doc (id, dl) table; rebuild the state with the current " +
          "appendPostingsState"))
    // coverage guard: a state whose EARLY batches predate the sidecar
    // passes the existence check above, but deletes of old-batch docs
    // would tombstone their postings while producing a ZERO totals
    // correction — N/avgdl silently overcount forever. The invariant
    // count(docs) == Σ totals.n_docs holds for every state the current
    // append wrote (appends add to both equally; deletes touch neither;
    // compaction keeps tombstoned sidecar rows precisely so corrections
    // stay derivable) — a shortfall means pre-sidecar batches: rebuild.
    // one action for both guard aggregates (they fed two separate jobs;
    // a cross join of two 1-row aggregates runs both scans in one job)
    val guard = docRows.agg(count(lit(1)).as("graft_dc"))
      .crossJoin(
        spark.read.parquet(StateIO.tablePath(spark, dir, "totals"))
          .agg(coalesce(sum(col("n_docs")), lit(0L)).as("graft_nd")))
      .head()
    val (docCount, totN) = (guard.getLong(0), guard.getLong(1))
    require(docCount == totN,
      s"postings state at $dir has a docs sidecar covering $docCount docs " +
        s"but totals count $totN — some batches predate the " +
        "sidecar, so their deletes would skip the totals correction and " +
        "silently inflate BM25 N/avgdl; rebuild the state with the " +
        "current appendPostingsState")
    // exclude this delete's own partition on replay (tagged), or all
    // existing tombstones (untagged blind retry) — otherwise a replayed
    // delete sees its prior attempt and writes a zero correction
    val priorTombs = StateIO.readTableIfExists(spark, dir, "tombstones")
      .map { tb =>
        deleteTag.filter(_ => tb.columns.contains("delete_id"))
          .map(tag => tb.filter(col("delete_id") =!= tag)).getOrElse(tb)
          .select(col("id"))
      }
    val fresh = Dedup.materialize(priorTombs match {
      case Some(tb) => del.join(tb, Seq("id"), "left_anti")
      case None => del
    })
    val found = docRows.join(fresh, Seq("id"), "left_semi")
    // BATCH-ATTRIBUTED corrections (tagged states): one negative row per
    // APPEND batch the deleted docs came from, keyed `src_batch` from the
    // sidecar's partition column. The current read sums them all (same
    // exact integers as one row); the as-of read cuts `src_batch <=
    // asOfBatch`, so a snapshot whose batch bound predates part of a
    // delete's coverage subtracts ONLY the corrections for docs inside
    // the cut — without this, a delete spanning later batches deflates
    // every earlier snapshot's N/avgdl (the x134 t_floor bug). Untagged
    // states have no batch identity (and no as-of reads), so they keep
    // the single aggregate row.
    val correction =
      if (docRows.columns.contains("batch_id"))
        found.groupBy(col("batch_id").cast("long").as("src_batch"))
          .agg((-count(lit(1))).as("n_docs"),
            (-coalesce(sum(col("dl")), lit(0L))).as("sum_dl"))
      else found.agg(
        (-count(lit(1))).as("n_docs"),
        (-coalesce(sum(col("dl")), lit(0L))).as("sum_dl"))
    deleteTag match {
      case Some(t) =>
        fresh.write.mode("overwrite")
          .parquet(s"${StateIO.tablePath(spark, dir, "tombstones")}/delete_id=$t")
        correction.write.mode("overwrite")
          .parquet(s"${StateIO.tablePath(spark, dir, "tomb_totals")}/delete_id=$t")
      case None =>
        fresh.write.mode("append").parquet(StateIO.tablePath(spark, dir, "tombstones"))
        correction.write.mode("append").parquet(StateIO.tablePath(spark, dir, "tomb_totals"))
    }
  }

  /** Small-file maintenance for an [[appendPostingsState]] dir —
    * rewrites both tables preserving the (batch_id, bucket) partition
    * layout (the bucket level is what keeps query reads pruned), rows
    * preserved exactly. Offline, backup-swap discipline
    * ([[graft.ext.Dedup.compactLshState]]). */
  def compactPostingsState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      targetBytes: Long = 128L << 20): Unit = {
    // apply tombstones PHYSICALLY during the rewrite
    // ([[StatePillar.compact]]): postings rows of deleted ids drop out.
    // The tomb_totals table is KEPT (compacted, not cleared) like the
    // tombstones: the batch totals partitions still count the deleted
    // docs — clearing the correction would silently re-inflate the BM25
    // corpus constants. The `docs` sidecar keeps its tombstoned
    // (id, dl) rows (it is 16 bytes/doc — narrow by design): a TAGGED
    // delete replayed after compaction re-derives its totals correction
    // from the sidecar, and dropping the rows would make the replay find
    // nothing and OVERWRITE the real negative correction with (0, 0) —
    // silently re-inflating N/avgdl while batch totals still count the
    // deleted docs. Sidecar rows of deleted ids are inert everywhere
    // else (only the delete path reads the sidecar).
    val posTable =
      if (StateIO.pathExists(spark, s"$dir/positions")) Seq("positions")
      else Nil
    StatePillar.Postings.compact(spark, dir,
      Seq("postings" -> false, "docs" -> false, "totals" -> false,
        "tomb_totals" -> false) ++ posTable.map(_ -> false),
      targetBytes, dropFrom = "postings" +: posTable,
      extraPartitionCols = Seq("bucket"))
  }

  /** HISTORY-RETENTION GC for an [[appendPostingsState]] dir — the
    * postings pillar's [[StatePillar.truncate]], the operator that
    * BOUNDS what time-travel keeps: the tagged partitions the as-of
    * reads cut ([[bm25TopKFromStateAsOf]]) are a full version
    * history, which at production cadence means thousands of tiny
    * `batch_id=N` / `delete_id=N` partitions per year — unbounded
    * metadata AND an unbounded promise that every historical version
    * stays answerable. Truncation collapses every version with
    * tag ≤ `floor` into ONE base version tagged `floor`:
    *
    *  - postings with `batch_id <= floor` lose the rows tombstoned by
    *    deletes `<= floor` (applied physically — those versions can no
    *    longer be separated, so the logical/physical distinction below
    *    the floor is meaningless) and land re-tagged `batch_id=floor`;
    *    later batches are byte-preserved. The `bucket` level survives,
    *    so query reads stay partition-pruned.
    *  - totals `<= floor` fold into one exact base row (still counting
    *    the deleted docs — the collapsed corrections keep carrying the
    *    subtraction, exactly as they did per-version), docs keeps ALL
    *    sidecar rows (tombstoned included — delete replays above the
    *    floor still re-derive their corrections), and
    *    tombstones/tomb_totals collapse their `delete_id <= floor`
    *    partitions to `delete_id=floor`. Nothing is dropped from the
    *    accounting, so `count(docs) == Σ totals.n_docs` (the delete
    *    path's coverage invariant) survives, and every as-of read at
    *    bounds ≥ floor returns bit-identical answers (the x134 gate).
    *
    * Contract changes, all refused loudly via the `_history_floor`
    * marker: as-of reads with either bound below the floor
    * (that version is gone), tagged appends/deletes at or below it
    * (their partition identity collapsed — a replay would corrupt the
    * base), and untagged writes entirely (no version identity to place
    * against a floored history).
    *
    * Crash posture: the floor marker is published FIRST (atomic
    * rename); a crash before the table swap leaves conservative
    * refusals of still-intact versions, never a wrong answer — re-run
    * to finish. The five tables then move under ONE
    * [[graft.ext.StateIO.swapInTables]] commit point: full old layout
    * or full new layout, with [[graft.ext.StateIO.recoverSwap]] rolling
    * a post-commit crash forward.
    *
    * Scale shape: one distributed rewrite of the sub-floor partitions
    * (the data a year of appends accumulated — the same cost profile as
    * compaction, run at the same cadence); later partitions rewrite as
    * straight copies. Nothing collects to the driver. */
  private[ext] def collapsePostingsHistory(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      floor: Long): Unit =
      StateIO.withWriterLock(spark, dir) {
    val post = spark.read.parquet(StateIO.tablePath(spark, dir, "postings"))
    require(post.columns.contains("batch_id"),
      s"history truncation needs a TAGGED state: $dir/postings has no " +
        "batch_id partition column")
    // max over the batch_id PARTITION column — dir listing, zero jobs
    val maxBatch = StateIO.partitionTagMax(spark, dir, "postings",
      "batch_id").getOrElse(throw new IllegalStateException(
        s"$dir/postings carries a batch_id column but no batch_id= " +
          "partition directories"))
    require(floor >= 1L && floor <= maxBatch,
      s"floor $floor out of range for $dir: tagged batches reach $maxBatch")
    val docs = spark.read.parquet(StateIO.tablePath(spark, dir, "docs"))
    val totals = spark.read.parquet(StateIO.tablePath(spark, dir, "totals"))
    val tombs = StateIO.readTableIfExists(spark, dir, "tombstones")
    val tombTotals = StateIO.readTableIfExists(spark, dir, "tomb_totals")
    (Seq(docs -> "docs", totals -> "totals").map { case (d, n) =>
      (d, n, "batch_id")
    } ++ (tombs.map((_, "tombstones", "delete_id")) ++
      tombTotals.map((_, "tomb_totals", "delete_id")))).foreach {
      case (d, name, tagCol) =>
        require(d.columns.contains(tagCol),
          s"history truncation needs a TAGGED state: $dir/$name has no " +
            s"$tagCol partition column")
    }
    // sub-floor tombstone ids — applied physically to the sub-floor
    // postings below (ONLY those: a tombstone above the floor stays
    // logical so as-of reads between the floor and its tag still see
    // the rows it later removed)
    val oldTombIds = tombs.map(_.filter(col("delete_id") <= floor)
      .select(col("id")))
    def collapse(df: DataFrame, tagCol: String): DataFrame =
      df.filter(col(tagCol) <= floor)
        .withColumn(tagCol, lit(floor))
        .unionByName(df.filter(col(tagCol) > floor)
          .withColumn(tagCol, col(tagCol).cast("long")))
    val oldPost = post.filter(col("batch_id") <= floor)
    val basePost = (oldTombIds match {
      case Some(ids) => oldPost.join(ids, Seq("id"), "left_anti")
      case None => oldPost
    }).withColumn("batch_id", lit(floor))
    val newPost = basePost.unionByName(post.filter(col("batch_id") > floor)
      .withColumn("batch_id", col("batch_id").cast("long")))
    val baseTotals = totals.filter(col("batch_id") <= floor)
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("sum_dl")), lit(0L)).as("sum_dl"))
      .withColumn("batch_id", lit(floor))
    val newTotals = baseTotals
      .unionByName(totals.filter(col("batch_id") > floor)
        .withColumn("batch_id", col("batch_id").cast("long")))
    // the floor FIRST: a crash between here and the swap refuses
    // conservatively instead of answering from a half-collapsed cut
    StateIO.writeHistoryFloor(spark, dir, floor)
    // the positional sidecar (if present) collapses exactly like the
    // postings: sub-floor tombstones applied physically, bucket level
    // preserved
    val positions = StateIO.readTableIfExists(spark, dir, "positions").map { p =>
      require(p.columns.contains("batch_id"),
        s"history truncation needs a TAGGED state: $dir/positions has " +
          "no batch_id partition column")
      val oldPos = p.filter(col("batch_id") <= floor)
      val basePos = (oldTombIds match {
        case Some(ids) => oldPos.join(ids, Seq("id"), "left_anti")
        case None => oldPos
      }).withColumn("batch_id", lit(floor))
      basePos.unionByName(p.filter(col("batch_id") > floor)
        .withColumn("batch_id", col("batch_id").cast("long")))
    }
    val swaps = Seq(
      ("postings", newPost, Seq("batch_id", "bucket")),
      ("docs", collapse(docs, "batch_id"), Seq("batch_id")),
      ("totals", newTotals, Seq("batch_id"))) ++
      tombs.map(tb =>
        ("tombstones", collapse(tb, "delete_id"), Seq("delete_id"))) ++
      tombTotals.map { tt =>
        // batch-attributed corrections follow their source batches: rows
        // whose src_batch collapsed into the base retag to the floor
        // (src_batch > floor survives untouched — e.g. a sub-floor
        // delete that covered docs from a later batch). Every legal
        // as-of read has batch bound >= floor, so `src_batch <= bound`
        // keeps selecting exactly the same rows it did pre-truncation.
        val retagged =
          if (tt.columns.contains("src_batch"))
            tt.withColumn("src_batch",
              greatest(col("src_batch").cast("long"), lit(floor)))
          else tt
        ("tomb_totals", collapse(retagged, "delete_id"), Seq("delete_id"))
      } ++
      positions.map(p => ("positions", p, Seq("batch_id", "bucket")))
    StateIO.swapInTables(spark, dir, swaps)
  }

  /** [[bm25TopK]] answered from [[appendPostingsState]] parquet —
    * output-identical to the batch path over the same corpus (ExtSpec
    * pins it; x110 pins the values on x53's oracle): the tf rows come
    * from a partition-pruned read of the query terms' buckets, the
    * corpus constants from the totals table, and the scoring/fold/rank
    * tail is the SAME code. Query cost ∝ the query terms' posting lists
    * plus a |batches|-row totals read — the corpus text is never
    * touched. */
  def bm25TopKFromState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      terms: Seq[String], k: Int, buckets: Int = 64,
      idCol: String = "id", k1: Double = 1.25, b: Double = 0.75): DataFrame =
    bm25FromStateCore(spark, dir, terms, k, buckets, idCol, k1, b,
      asOf = None)

  /** SNAPSHOT (time-travel) read of a postings state — answer
    * [[bm25TopKFromState]] as the state stood after append batch
    * `asOfBatch` and delete batch `asOfDelete`: the tagged `batch_id=N`
    * / `delete_id=N` partitions every append and delete already lands
    * in for replay idempotency double as a FULL version history, so any
    * past state is a pure filter — `batch_id <= asOfBatch` on
    * postings/totals, `delete_id <= asOfDelete` on
    * tombstones/tomb_totals. Both predicates sit on partition columns,
    * so the snapshot read PRUNES at the scan exactly like the current
    * read ("what did the index answer before yesterday's delete?" costs
    * the same buckets, not a rebuild).
    *
    * `asOfDelete` applies every delete whose tag is ≤ it; with the
    * positive tags the pillars use throughout, pass 0 for a pre-delete
    * snapshot. Tagged states only: untagged appends/deletes have no
    * replay identity to snapshot by, and the read fails fast naming the
    * missing tag column rather than silently treating untagged rows as
    * any particular version. Snapshots never change once written —
    * compaction is the one exception (it applies tombstones physically
    * ACROSS history, so pre-compaction delete snapshots coarsen; the
    * x125 gate runs pre-compaction). */
  def bm25TopKFromStateAsOf(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      terms: Seq[String], k: Int, asOfBatch: Long, asOfDelete: Long = 0L,
      buckets: Int = 64, idCol: String = "id",
      k1: Double = 1.25, b: Double = 0.75): DataFrame =
    bm25FromStateCore(spark, dir, terms, k, buckets, idCol, k1, b,
      asOf = Some((asOfBatch, asOfDelete)))

  private def asOfCut(
      df: DataFrame, tagCol: String, bound: Long,
      dir: String, table: String): DataFrame =
    StateIO.asOfCut(df, tagCol, bound, dir, table)

  private def bm25FromStateCore(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      terms: Seq[String], k: Int, buckets: Int,
      idCol: String, k1: Double, b: Double,
      asOf: Option[(Long, Long)]): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    // same fail-fast as the phrase/IVF/audit read paths: during a
    // crashed swap's apply window the dir can pair new tables with old
    // ones (or a live table can be momentarily absent) — refuse with
    // the recovery step instead of an opaque path error or a stale fit
    StateIO.checkNoSwapInProgress(spark, dir)
    asOf.foreach { case (bt, dt) =>
      val floor = StateIO.readHistoryFloor(spark, dir)
      require(bt >= floor && dt >= floor,
        s"as-of ($bt, $dt) is below $dir's history floor $floor — " +
          "versions at or below the floor were collapsed by history " +
          "truncation (state truncate postings) and can no longer be " +
          "separated; only bounds >= the floor are answerable")
    }
    // corpus constants = append totals + (negative) delete corrections —
    // exact integer sums over |batches| + |deletes| rows
    val totalsRaw = spark.read.parquet(StateIO.tablePath(spark, dir, "totals"))
    val appendTotals = asOf match {
      case Some((bt, _)) => asOfCut(totalsRaw, "batch_id", bt, dir, "totals")
      case None => totalsRaw
    }
    val allTotals = StateIO.readTableIfExists(spark, dir, "tomb_totals") match {
      case Some(ttRaw) =>
        val tt = asOf match {
          case Some((bt, dt)) =>
            val cut = asOfCut(ttRaw, "delete_id", dt, dir, "tomb_totals")
            // batch-attributed corrections: a delete can cover docs from
            // batches ABOVE this snapshot's batch bound — those docs are
            // not in the cut corpus, so their corrections must not
            // subtract from it (set semantics: live = appended<=bt minus
            // deleted∩appended<=bt)
            if (cut.columns.contains("src_batch"))
              cut.filter(col("src_batch") <= bt)
            else cut
          case None => ttRaw
        }
        appendTotals.select(col("n_docs"), col("sum_dl"))
          .unionByName(tt.select(col("n_docs"), col("sum_dl")))
      case None => appendTotals
    }
    val tstats = allTotals.agg(sum(col("n_docs")), sum(col("sum_dl"))).head()
    require(!tstats.isNullAt(0) && tstats.getLong(0) > 0L,
      s"postings state at $dir holds no documents — append a batch first")
    val n = tstats.getLong(0)
    val avgdl = tstats.getLong(1).toDouble / n
    val tf = postingsRead(spark, dir, terms, buckets, asOf)
      .select(col("id").as(idCol), col("dl"), col("term"), col("tf"))
    bm25FoldRank(bm25ScoreTf(tf, idCol, n, avgdl, k1, b), idCol, k)
  }

  /** The partition-pruned postings read (exposed for the plan pin: the
    * final ranked frame's lineage truncates at the ordinal
    * materialization, so the scan must be asserted on THIS stage).
    * `asOf` adds the snapshot cut — batch_id/delete_id are partition
    * levels, so the cut prunes rather than filters. */
  private[ext] def postingsRead(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      terms: Seq[String], buckets: Int,
      asOf: Option[(Long, Long)] = None): DataFrame = {
    val wanted = terms.map(termBucket(_, buckets)).distinct
    val prunedRaw = spark.read.parquet(StateIO.tablePath(spark, dir, "postings"))
      .filter(col("bucket").isInCollection(wanted))
      .filter(col("term").isin(terms: _*))
    val pruned = asOf match {
      case Some((bt, _)) => asOfCut(prunedRaw, "batch_id", bt, dir, "postings")
      case None => prunedRaw
    }
    // tombstones: deleted docs' postings stop scoring immediately (the
    // anti-join is small — tombstones are few until compaction applies
    // them physically, after which this is a no-op)
    StatePillar.Postings.live(spark, dir, pruned, asOf.map(_._2))
  }

  /** [[phraseSearch]] answered from the persisted POSITIONAL sidecar
    * (`appendPostingsState(..., positions = true)`) — the promise in
    * [[phraseSearch]]'s scale note kept: at scale you persist the
    * posting tables and point the derivation at them, and this is that
    * read. The phrase terms map to a handful of term buckets, the scan
    * PRUNES to those directories, tombstoned docs drop out, and the
    * (doc, start) intersection tail is the SAME derivation as the batch
    * path — output-identical over the same corpus (spec-pinned; the
    * x138 gate pins values on x98's oracle). Query cost ∝ the phrase
    * terms' occurrence lists, never the corpus. Fails fast when the
    * state was appended without positions. */
  def phraseSearchFromState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      phrase: Seq[String], buckets: Int = 64,
      idCol: String = "id"): DataFrame =
    phraseFromStateCore(spark, dir, phrase, buckets, idCol, asOf = None)

  /** SNAPSHOT (time-travel) phrase search — [[phraseSearchFromState]]
    * as the state stood after (append `asOfBatch`, delete
    * `asOfDelete`); the tagged positional partitions cut exactly like
    * the postings ([[bm25TopKFromStateAsOf]]'s contract). */
  def phraseSearchFromStateAsOf(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      phrase: Seq[String], asOfBatch: Long, asOfDelete: Long = 0L,
      buckets: Int = 64, idCol: String = "id"): DataFrame =
    phraseFromStateCore(spark, dir, phrase, buckets, idCol,
      asOf = Some((asOfBatch, asOfDelete)))

  private def phraseFromStateCore(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      phrase: Seq[String], buckets: Int, idCol: String,
      asOf: Option[(Long, Long)]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    StateIO.checkNoSwapInProgress(spark, dir)
    asOf.foreach { case (bt, dt) =>
      val floor = StateIO.readHistoryFloor(spark, dir)
      require(bt >= floor && dt >= floor,
        s"as-of ($bt, $dt) is below $dir's history floor $floor — " +
          "versions at or below the floor were collapsed by history " +
          "truncation (state truncate postings) and can no longer be " +
          "separated")
    }
    val pos = StateIO.readTableIfExists(spark, dir, "positions").getOrElse(
      throw new IllegalStateException(
        s"postings state at $dir has no positions table — it was " +
          "appended without positions=true; rebuild with positional " +
          "appends to serve phrase queries"))
    val wanted = phrase.map(termBucket(_, buckets)).distinct
    val prunedRaw = pos
      .filter(col("bucket").isInCollection(wanted))
      .filter(col("term").isin(phrase.distinct: _*))
    val pruned = asOf match {
      case Some((bt, _)) =>
        StateIO.asOfCut(prunedRaw, "batch_id", bt, dir, "positions")
      case None => prunedRaw
    }
    val base = StatePillar.Postings.live(spark, dir, pruned, asOf.map(_._2))
    val starts = phrase.zipWithIndex.map { case (t, i) =>
      base.filter(col("term") === t)
        .select(col("id"), (col("pos") - i).as("graft_start"))
    }
    starts.reduce(_.join(_, Seq("id", "graft_start")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("graft_start")).cast("long").as("first_pos"))
      .select(col("id").as(idCol), col("n_occurrences"), col("first_pos"))
  }

  /** HYBRID retrieval answered ENTIRELY from persisted state — the
    * production RAG query path once a corpus is maintained in the state
    * pillars: the lexical leg is [[bm25TopKFromState]] (term-bucket-
    * pruned postings — corpus text never touched), the vector leg is
    * [[Similarity.ivfTopKFromState]] (probed IVF cells — embeddings
    * never scanned), and [[rrfFuse]] combines the two top-`perLegK`
    * rank lists. Query cost = the query terms' posting buckets + the
    * probed cells + a ≤ 2·perLegK-row fusion, independent of corpus
    * size; both legs respect their pillar's tombstones, so a deleted
    * document drops out of hybrid answers immediately.
    *
    * One query vector per call ([[rrfFuse]] fuses GLOBAL rank lists —
    * x54's contract); doc ids and vector ids must share the id space
    * for the fusion join to mean anything. */
  def hybridTopKFromState(
      spark: org.apache.spark.sql.SparkSession,
      postingsDir: String, ivfDir: String,
      terms: Seq[String], queryVec: DataFrame, k: Int,
      perLegK: Int = 20, nProbe: Int = 2, idCol: String = "id",
      vecIdCol: String = "vec_id", vecCol: String = "embedding",
      kc: Double = 60.0): DataFrame = {
    require(queryVec.select(col(vecIdCol)).head(2).length == 1,
      "hybridTopKFromState fuses GLOBAL rank lists (the rrfFuse " +
        "contract) — pass exactly one query vector per call")
    val lex = bm25TopKFromState(spark, postingsDir, terms, perLegK,
      idCol = idCol)
    val vec = Similarity.ivfTopKFromState(spark, ivfDir, queryVec,
        topK = perLegK, nProbe = nProbe, idCol = vecIdCol, vecCol = vecCol)
      .select(col("neighbor_id").as(idCol), col("rank"))
    rrfFuse(lex, vec, idCol, k, kc)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09) of two
    * ranked retrieval lists — the standard hybrid-search combiner for a
    * lexical ([[bm25TopK]]) and a vector (ANN top-k) ranking:
    *
    *   rrf(d) = Σ_lists 1/(kc + rank_list(d)),  absent list ⇒ 0
    *
    * Rank positions, not scores, enter the sum, so the two systems need no
    * score calibration — the whole reason RRF is the default fusion in
    * production hybrid search.
    *
    * Both inputs are top-N lists — BOUNDED BY CONSTRUCTION — so the full
    * outer join and the final ranking window run over ≤ 2N rows no matter
    * the corpus size; a global row_number here is not a scale hazard
    * (unlike a corpus-sized window). Floats: each contribution is one IEEE
    * division of exact integers, summed in fixed lex-then-vec order
    * (IEEE + is commutative, so equal rank-pairs tie exactly and fall to
    * the id asc tie-break).
    *
    * @param lex,vec (idCol, rank) frames, rank 1-based
    * @return top-`k` fused: (idCol, rrf, rank 1..k)
    */
  def rrfFuse(
      lex: DataFrame, vec: DataFrame, idCol: String, k: Int,
      kc: Double = 60.0): DataFrame = {
    val a = lex.select(col(idCol), col("rank").as("graft_ra"))
    val b = vec.select(col(idCol), col("rank").as("graft_rb"))
    val fused = a.join(b, Seq(idCol), "full_outer")
      .select(col(idCol),
        (coalesce(lit(1.0) / (lit(kc) + col("graft_ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kc) + col("graft_rb")), lit(0.0))).as("rrf"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rrf").desc, col(idCol))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }
}
