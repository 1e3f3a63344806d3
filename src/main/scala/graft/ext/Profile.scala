package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sketch-based data profiling — the cardinality/shape statistics a 100 TB
  * table actually affords.
  *
  * Exact `COUNT(DISTINCT x)` shuffles every distinct value; at corpus scale
  * that is a second copy of the column through the wire per profiled group.
  * The HyperLogLog++ sketch (`approx_count_distinct`) is map-side mergeable
  * — each task folds its partition into a fixed few-KB register set, the
  * shuffle carries one sketch per (task, group), and the relative error is
  * bounded by the configured `rsd` (Heule et al., HLL++, EDBT 2013; the
  * same estimator Spark uses for ANALYZE/stats). Profiling 100 TB becomes
  * one scan at near-count() cost, and the answer is deterministic for a
  * given dataset (hash-based registers, no sampling).
  *
  * The x59 gate composes this with the EXACT distinct on the small test
  * corpus and hash-checks the claim "sketch within its error bound" —
  * the bound, not the estimate, is the contract.
  */
object Profile {

  /** Per-`groupCol` profile: row count, HLL++ approximate distinct of
    * `valueCol` (relative standard deviation `rsd`), and min/max/avg of
    * `lenCol` when provided — all map-side mergeable aggregates; the
    * exchange carries one pre-combined row per (task, group). */
  def sketchDistinct(
      df: DataFrame, groupCol: String, valueCol: String,
      rsd: Double = 0.05): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        approx_count_distinct(col(valueCol), rsd).as("approx_distinct"))

  /** Per-`groupCol` approximate median of `valueCol` via the
    * approx_percentile sketch (Greenwald–Khanna style; rank guaranteed
    * within n/`accuracy` of the target): (group, n_rows, approx_median).
    * Like the distinct sketch, the aggregation is map-side mergeable —
    * the quantile summary, not the values, goes through the exchange. */
  def approxMedian(
      df: DataFrame, groupCol: String, valueCol: String,
      accuracy: Int = 10000): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        percentile_approx(col(valueCol), lit(0.5), lit(accuracy))
          .as("approx_median"))

  /** Per-source corpus health report — the dashboard a corpus operator
    * actually watches: volume, exact-dup rate, benchmark-contamination
    * rate, and mean length per source, in one pass + one semi-join.
    *
    * Determinism discipline: every reported fraction derives from INTEGER
    * aggregates (counts, distinct counts, long word sums) with exactly one
    * rounded division each — no order-sensitive double accumulation
    * anywhere, so the report value-checks across engines.
    *
    * Distinctness counts the portable 60-bit CONTENT HASH, not the text:
    * the distinct exchange carries 8 bytes per doc instead of the document
    * bodies (measured 22 s → map-side-bound at 10×), both engines hash
    * identically (gate-consistent even in the 2⁻⁶⁰ collision case), and at
    * billions of docs per source the honest next step is
    * [[sketchDistinct]], not a wider exact hash.
    *
    * @return (groupCol, n_docs, n_distinct, dup_frac, n_contaminated,
    *         contam_frac, avg_words) */
  def sourceReport(
      docs: DataFrame, evalDocs: DataFrame, idCol: String, textCol: String,
      groupCol: String, contamN: Int = 13): DataFrame = {
    val words = (length(col(textCol)) -
      length(translate(col(textCol), " ", "")) + 1).cast("long")
    val base = docs.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      count_distinct(PortableHash.md5Long(col(textCol))).as("n_distinct"),
      sum(words).as("graft_words"))
    val contaminated = Dedup.contaminatedDocs(docs, evalDocs, idCol, textCol,
        n = contamN)
      .join(docs.select(col(idCol), col(groupCol)), idCol)
      .groupBy(col(groupCol)).agg(count(lit(1)).as("graft_contam"))
    base.join(contaminated, Seq(groupCol), "left_outer")
      .select(col(groupCol), col("n_docs"), col("n_distinct"),
        round((col("n_docs") - col("n_distinct")).cast("double") /
          col("n_docs"), 4).as("dup_frac"),
        coalesce(col("graft_contam"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("graft_contam"), lit(0L)).cast("double") /
          col("n_docs"), 4).as("contam_frac"),
        round(col("graft_words").cast("double") / col("n_docs"), 2)
          .as("avg_words"))
  }

  /** Per-group duplicate heavy hitters — "which texts are my worst
    * duplicate offenders, per source": exact-copy groups of ≥ 2, top-`k`
    * per group by copy count (exemplar = lowest id). The forensics view a
    * curation pipeline opens when a source's dup_frac ([[sourceReport]])
    * spikes.
    *
    * Shape: ONE aggregation keyed on (group, 60-bit content hash) — the
    * exchange carries 8-byte hashes, never text bodies — then the
    * skew-free top-k (lossless sketch pre-prune + two-phase ordinal; no
    * low-cardinality window). Returns (groupCol, exemplar_id, n_copies,
    * rank 1..k). */
  def topDuplicates(
      docs: DataFrame, idCol: String, textCol: String, groupCol: String,
      k: Int): DataFrame = {
    val groups = docs
      .select(col(groupCol), col(idCol),
        PortableHash.md5Long(col(textCol)).as("graft_h"))
      .groupBy(col(groupCol), col("graft_h"))
      .agg(min(col(idCol)).as("exemplar_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") >= 2)
      .withColumn("graft_neg", -col("n_copies").cast("double"))
    val pruned = Ordinals.approxTopKPrune(groups, groupCol, "graft_neg", k)
    Ordinals.perKeyOrdinal(pruned, groupCol, Seq("graft_neg", "exemplar_id"))
      .filter(col("ordinal") < k)
      .select(col(groupCol), col("exemplar_id"), col("n_copies"),
        (col("ordinal") + 1L).as("rank"))
  }

  /** Cross-source overlap matrix — for every pair of sources, how many
    * distinct word `n`-grams appear in BOTH: the mirror-detection view
    * that tells a corpus operator "source B is mostly a re-crawl of
    * source A, collapse them before weighting". n = 13 by default, the
    * same gram width the decontamination chain uses, so "overlap" means
    * verbatim shared passages rather than shared vocabulary.
    *
    * Shape: ONE corpus pass — explode to (source, 60-bit gram hash),
    * aggregate `collect_set(source)` per hash (map-side partial
    * collection, 8-byte hashes + tiny source sets through the exchange,
    * never gram text), then expand each multi-source set to its ordered
    * source pairs MAP-SIDE and count. No self-join: the naive
    * distinct+self-join shape scans and shingles the corpus twice (its
    * two branches get no ReusedExchange) and was measured 2.4× slower at
    * 10× data. Per-gram fan-out is |sources(gram)|², bounded by the
    * SOURCE count (tens), not corpus size; the output is at most
    * sources² rows. Returns (source_a, source_b, n_shared) with
    * source_a < source_b. */
  def sourceOverlap(
      docs: DataFrame, textCol: String, groupCol: String,
      n: Int = 13): DataFrame = {
    val grams = docs
      .select(col(groupCol).as("graft_s"),
        explode(Dedup.shingles(col(textCol), n)).as("graft_g"))
      .select(col("graft_s"), PortableHash.md5Long(col("graft_g")).as("graft_h"))
    val sets = grams.groupBy(col("graft_h"))
      .agg(array_sort(collect_set(col("graft_s"))).as("graft_ss"))
      .filter(size(col("graft_ss")) >= 2)
    val ss = col("graft_ss")
    val pairs = sets.select(explode(flatten(transform(ss, (a, i) =>
      transform(slice(ss, i + 2, size(ss)),
        b => struct(a.as("source_a"), b.as("source_b")))))).as("graft_p"))
    pairs
      .groupBy(col("graft_p.source_a").as("source_a"),
        col("graft_p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** EXACT per-group median for an INTEGRAL-domain column, without a
    * global sort: the complement to [[approxMedian]] when the value space
    * is small (token counts, lengths, scores in 0..k) even though the row
    * count is astronomical. groupBy (group, value) collapses 100 TB of
    * rows to one count per distinct value map-side; the ordered windows
    * then run over that tiny value histogram — thousands of rows per
    * group, never the data. Median is the LOWER median (smallest v whose
    * cumulative count reaches ⌈n/2⌉) — pure integer arithmetic, so any
    * engine agrees exactly. Returns (group, n_rows, median). */
  def exactIntegralMedian(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = df
      .groupBy(col(groupCol), col(valueCol).cast("long").as("graft_v"))
      .agg(count(lit(1)).as("graft_c"))
    val cum = Window.partitionBy(col(groupCol)).orderBy(col("graft_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.partitionBy(col(groupCol))
    hist
      .withColumn("graft_cum", sum(col("graft_c")).over(cum))
      .withColumn("n_rows", sum(col("graft_c")).over(tot))
      // `div`, not `/`: Column./ is DOUBLE division (cum ≥ 2.5 would drop
      // the true lower-median row for even n); div truncates like the
      // oracle's integer `//`
      .filter(col("graft_cum") >= expr("(n_rows + 1) div 2"))
      .groupBy(col(groupCol), col("n_rows"))
      .agg(min(col("graft_v")).as("median"))
      .select(col(groupCol), col("n_rows"), col("median"))
  }

  /** EXACT per-group quartile report for an integral-domain column —
    * (n_rows, p25, p50, p75, vmax) from the same one-pass value histogram
    * as [[exactIntegralMedian]]: the length-distribution dashboard
    * (median doc length, IQR, ceiling) with EXACT answers at any row
    * count. Each quantile is the smallest value whose cumulative count
    * reaches ⌈q·n⌉; q ∈ {1/4, 1/2, 3/4} are BINARY-EXACT fractions, so
    * q·n is the same number under double (Spark) and decimal (DuckDB)
    * arithmetic and the ceil boundary cannot diverge between engines. */
  def exactIntegralQuartiles(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = df
      .groupBy(col(groupCol), col(valueCol).cast("long").as("graft_v"))
      .agg(count(lit(1)).as("graft_c"))
    val cum = Window.partitionBy(col(groupCol)).orderBy(col("graft_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.partitionBy(col(groupCol))
    def q(frac: Double): org.apache.spark.sql.Column =
      min(when(col("graft_cum") >=
        ceil(lit(frac) * col("n_rows")), col("graft_v")))
    hist
      .withColumn("graft_cum", sum(col("graft_c")).over(cum))
      .withColumn("n_rows", sum(col("graft_c")).over(tot))
      .groupBy(col(groupCol), col("n_rows"))
      .agg(q(0.25).as("p25"), q(0.5).as("p50"), q(0.75).as("p75"),
        max(col("graft_v")).as("vmax"))
      .select(col(groupCol), col("n_rows"), col("p25"), col("p50"),
        col("p75"), col("vmax"))
  }

  /** The x60 gate shape: join [[approxMedian]] back and verify the rank
    * guarantee AGAINST THE DATA — `within_bound` holds iff some rank of
    * the returned value lies within n/accuracy (+1 for the floor/ceil
    * ambiguity) of n/2. Returns (group, n_rows, within_bound). */
  def medianBoundCheck(
      df: DataFrame, groupCol: String, valueCol: String,
      accuracy: Int = 10000): DataFrame = {
    val m = approxMedian(df, groupCol, valueCol, accuracy)
    val slack = col("n_rows").cast("double") / accuracy + lit(1.0)
    df.join(broadcast(m), groupCol)
      .groupBy(col(groupCol), col("n_rows"))
      .agg(
        sum(when(col(valueCol) < col("approx_median"), 1L).otherwise(0L))
          .as("graft_lt"),
        sum(when(col(valueCol) <= col("approx_median"), 1L).otherwise(0L))
          .as("graft_le"))
      .select(col(groupCol), col("n_rows"),
        ((col("graft_lt") <= col("n_rows") / 2.0 + slack) &&
          (col("graft_le") >= col("n_rows") / 2.0 - slack)).as("within_bound"))
  }

  /** PERSISTED corpus-accounting state — the third state pillar next to
    * the LSH text state and the IVF vector state: per-source composition
    * statistics (doc count, token mass, distinct-content cardinality)
    * maintained incrementally so the growing corpus is NEVER rescanned.
    * Counts are exact integer sums; the distinct-content estimate is a
    * Datasketches HLL sketch (`hll_sketch_agg` over the content md5),
    * which is the part a naive design gets wrong: per-batch exact
    * distinct counts cannot be ADDED across batches (the same document
    * re-appearing in ten batches would count ten times), while HLL
    * registers union commutatively (register-wise max) — any batch
    * order, any partitioning, same estimate. Each append writes one
    * pre-aggregated row per source in the batch (a few KB of sketch per
    * row); [[statsReport]] folds the whole history with `hll_union_agg`.
    *
    * Same replay discipline as the other states: tagged appends land in
    * `batch_id=N` partitions with overwrite (at-least-once orchestrators
    * re-run safely); untagged appends are for one-shot builds. */
  def appendStatsState(
      batch: DataFrame, dir: String, textCol: String, grpCol: String,
      batchTag: Option[Long] = None): Unit =
      StateIO.withWriterLock(batch.sparkSession, dir) {
    val spark = batch.sparkSession
    StatePillar.Stats.checkWritable(spark, dir)
    StateIO.checkTagAboveFloor(spark, dir, batchTag, "append")
    val rows = batch
      .select(col(grpCol).as("grp"), md5(col(textCol)).as("graft_fp"),
        size(Dedup.tokens(col(textCol))).cast("long").as("graft_tok"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("graft_tok")).as("tokens"),
        hll_sketch_agg(col("graft_fp")).as("fp_sketch"))
    batchTag match {
      case Some(t) =>
        rows.write.mode("overwrite").parquet(s"${StateIO.tablePath(spark, dir, "stats")}/batch_id=$t")
      case None => rows.write.mode("append").parquet(StateIO.tablePath(spark, dir, "stats"))
    }
  }

  /** Fold an [[appendStatsState]] dir into the per-source composition
    * report: (grp, n_docs, tokens, distinct_est). Cost ∝ sources ×
    * batches — independent of corpus size. The estimate carries the
    * standard HLL error (~1.6 % RSE at the default lgK = 12, and EXACT
    * below the sparse-mode threshold); gate it against a bound, not a
    * value (the x59/x109 discipline). */
  def statsReport(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    statsReportCore(spark, dir, asOf = None)

  /** SNAPSHOT (time-travel) fold of a stats state — the composition
    * report as the state stood after append batch `asOfBatch` and
    * delete batch `asOfDelete` ([[graft.ext.Index.bm25TopKFromStateAsOf]]'s
    * contract on the accounting pillar): stats rows cut to
    * `batch_id <= asOfBatch`, correction rows to
    * `delete_id <= asOfDelete` — both partition-pruned, and valid
    * because every row is a pure per-(source, batch) increment (counts
    * sum; HLL sketches union), so any prefix of the history folds
    * exactly as it did then. `distinct_est` at a snapshot estimates the
    * content APPENDED up to that batch (the delete caveat applies at
    * every version). Tagged states only (fails fast otherwise);
    * compaction preserves rows and tags, so snapshots survive it.
    *
    * MIXED-CUT caveat: a delete written WITHOUT `srcBatchCol`
    * ([[deleteFromStatsState]]) is one pre-aggregated row per source with
    * no per-doc identity, so a counterfactual cut whose batch bound
    * predates part of that delete's coverage subtracts the whole
    * correction and under-counts. Real historical versions (batch bound =
    * the max batch at delete time) are always exact; pass `srcBatchCol`
    * at delete time to make every mixed cut exact too. */
  def statsReportAsOf(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      asOfBatch: Long, asOfDelete: Long = 0L): DataFrame =
    statsReportCore(spark, dir, asOf = Some((asOfBatch, asOfDelete)))

  private def statsReportCore(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      asOf: Option[(Long, Long)]): DataFrame = {
    // fail fast during a crashed truncate's apply window (same contract
    // as every other pillar read): half-swapped stats/deltas tables
    // would otherwise serve a mixed fit or an opaque path error
    StateIO.checkNoSwapInProgress(spark, dir)
    val appendedRaw = spark.read.parquet(StateIO.tablePath(spark, dir, "stats"))
    val appended = asOf match {
      case Some((bt, _)) =>
        StateIO.asOfCut(appendedRaw, "batch_id", bt, dir, "stats")
      case None => appendedRaw
    }
    // delete corrections ([[deleteFromStatsState]]): negative count rows
    // in their own table (they carry no sketch — HLL registers are
    // union-only, so distinct_est stays an UPPER bound after deletes)
    val counts = StateIO.readTableIfExists(spark, dir, "stats_deltas") match {
      case Some(dRaw) =>
        val d = asOf match {
          case Some((bt, dt)) =>
            val cut = StateIO.asOfCut(dRaw, "delete_id", dt, dir,
              "stats_deltas")
            // batch-attributed corrections (deletes written with
            // `srcBatchCol`): subtract only the rows whose source batch
            // is inside this snapshot's batch cut. Unattributed rows
            // apply wholly — the documented mixed-cut caveat.
            if (cut.columns.contains("src_batch"))
              cut.filter(col("src_batch").isNull || col("src_batch") <= bt)
            else cut
          case None => dRaw
        }
        appended.select(col("grp"), col("n_docs"), col("tokens"))
          .unionByName(d.select(col("grp"), col("n_docs"), col("tokens")))
      case None => appended.select(col("grp"), col("n_docs"), col("tokens"))
    }
    val est = appended.groupBy(col("grp"))
      .agg(round(hll_sketch_estimate(hll_union_agg(col("fp_sketch"))))
        .cast("long").as("distinct_est"))
    counts.groupBy(col("grp"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("tokens")).as("tokens"))
      .join(est, Seq("grp"), "left")
  }

  /** DELETE documents' contribution from an [[appendStatsState]] dir —
    * the tombstone path for the accounting pillar, with the honest HLL
    * caveat stated rather than papered over: doc and token counts
    * correct EXACTLY (the deleting pipeline holds the removed docs —
    * excision and decontamination output them — so this writes NEGATIVE
    * pre-aggregated rows to `stats_deltas`, one per source — or per
    * (source, `srcBatchCol`) when the caller tracks which append batch
    * each removed doc came from, which makes mixed as-of cuts exact
    * ([[statsReportAsOf]]) — the same few-bytes-per-batch cost as an
    * append), but `distinct_est` CANNOT
    * decrease: HLL registers only union (register-wise max is not
    * invertible), so after deletes the estimate is an UPPER bound on
    * surviving distinct content — exact again only on a full state
    * rebuild. That is the standard production trade (a sketch that
    * supports deletion needs a different structure, e.g. a counting
    * sketch, at many times the space); gate estimates against the
    * appended-corpus distinct, counts against the survivors.
    *
    * Tagged deletes land in `stats_deltas/delete_id=N` with overwrite
    * (at-least-once replay safe); untagged deletes append and are NOT
    * blind-retry safe (no per-row identity — same caveat as untagged
    * appends). */
  def deleteFromStatsState(
      removed: DataFrame, dir: String, textCol: String, grpCol: String,
      deleteTag: Option[Long] = None,
      srcBatchCol: Option[String] = None): Unit =
      StateIO.withWriterLock(removed.sparkSession, dir) {
    val spark = removed.sparkSession
    StatePillar.Stats.checkWritable(spark, dir)
    StateIO.checkTagAboveFloor(spark, dir, deleteTag,
      "delete")
    // `srcBatchCol` (the append batch each removed doc was loaded in, if
    // the deleting pipeline tracks it) batch-ATTRIBUTES the corrections:
    // [[statsReportAsOf]] then subtracts only the rows whose src_batch
    // falls inside its batch cut, so a delete spanning later batches
    // stops deflating earlier snapshots (the postings pillar derives the
    // same attribution from its docs sidecar; stats rows are
    // pre-aggregated, so here it must come from the caller).
    val projected = removed.select((col(grpCol).as("grp") +:
      srcBatchCol.map(c => col(c).cast("long").as("src_batch")).toSeq :+
      size(Dedup.tokens(col(textCol))).cast("long").as("graft_tok")): _*)
    val rows = projected
      .groupBy(("grp" +: srcBatchCol.map(_ => "src_batch").toSeq)
        .map(col): _*)
      .agg((-count(lit(1))).as("n_docs"),
        (-coalesce(sum(col("graft_tok")), lit(0L))).as("tokens"))
    deleteTag match {
      case Some(t) =>
        rows.write.mode("overwrite").parquet(s"${StateIO.tablePath(spark, dir, "stats_deltas")}/delete_id=$t")
      case None => rows.write.mode("append").parquet(StateIO.tablePath(spark, dir, "stats_deltas"))
    }
  }

  /** Small-file maintenance for an [[appendStatsState]] dir — rows (one
    * per source per batch, sketches included) are preserved exactly;
    * only the file layout compacts. Offline, backup-swap discipline
    * (see [[graft.ext.Dedup.compactLshState]]). */
  def compactStatsState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      targetBytes: Long = 128L << 20): Unit =
    StatePillar.Stats.compact(spark, dir,
      Seq("stats" -> false, "stats_deltas" -> false), targetBytes)
}
