package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CROSS-PILLAR corpus-state audit.
  *
  * A production corpus is maintained in SEVERAL state pillars at once —
  * the same document lands in the LSH text state (near-dup gate), the
  * postings state (retrieval), and the tokenizer state (budget/mix
  * accounting) — and curation deletes must land in ALL of them. Nothing
  * couples those writes: an orchestrator that crashes between
  * per-pillar deletes, skips a pillar on retry, or simply never wires a
  * new pillar into the delete path leaves the states DISAGREEING about
  * which documents exist. Every pillar then keeps answering it own
  * queries correctly *for its own corpus*, so the divergence is
  * invisible until budgets are computed over documents retrieval
  * already dropped (or vice versa) — the exact class of silent
  * pipeline failure an audit exists to catch.
  *
  * [[crossPillarConsistency]] compares the pillars' LIVE id sets and
  * returns one row per document SOME pillar disagrees on — empty result
  * = consistent states. Each pillar's live set is its own read-side
  * definition (sidecar/members minus tombstones — the same derivation
  * its queries use), so the audit sees exactly what the queries see.
  *
  * Scale shape: live-id frames are narrow (one long column) and the
  * comparison is a full-outer hash join chain on id — shuffles
  * |corpus|-row single-column relations only, no texts, vectors, or
  * postings move. Output is bounded by the divergence, not the corpus.
  */
object StateAudit {

  /** The shared live-id derivation: the pillar's id-bearing table
    * (members / docs / doc_tokens) minus tombstones, optionally under
    * an as-of cut — which makes the audit itself time-travel ("which
    * documents did the pillars agree on LAST week?" and
    * [[snapshotDiff]]'s version deltas are the same partition-pruned
    * cut the pillar reads use). As-of bounds below a truncated
    * history's floor refuse ([[StatePillar.truncate]]). */
  private def liveIds(
      spark: SparkSession, pillar: StatePillar, dir: String, table: String,
      asOf: Option[(Long, Long)]): DataFrame = {
    StateIO.checkNoSwapInProgress(spark, dir)
    val rows = spark.read.parquet(StateIO.tablePath(spark, dir, table))
    val base = asOf match {
      case Some((b, d)) =>
        val floor = StateIO.readHistoryFloor(spark, dir)
        require(b >= floor && d >= floor,
          s"as-of ($b, $d) is below $dir's history floor $floor — " +
            "that version was collapsed by truncation")
        StateIO.asOfCut(rows, "batch_id", b, dir, table)
      case None => rows
    }
    pillar.live(spark, dir, base.select(col("id")), asOf.map(_._2))
  }

  /** Live doc ids of an LSH text state ([[Dedup.appendLshState]]):
    * every accepted member id minus tombstones — membership, not rep
    * survival (a doc whose GROUP lost its rep to deletes is still
    * live itself). */
  def lshLiveIds(spark: SparkSession, dir: String): DataFrame =
    liveIds(spark, StatePillar.Lsh, dir, "members", None)

  /** [[lshLiveIds]] as the state stood after (append `asOfBatch`,
    * delete `asOfDelete`) — the tagged-partition cut of x132's
    * contract, ids only. */
  def lshLiveIdsAsOf(spark: SparkSession, dir: String,
      asOfBatch: Long, asOfDelete: Long = 0L): DataFrame =
    liveIds(spark, StatePillar.Lsh, dir, "members",
      Some((asOfBatch, asOfDelete)))

  /** Live doc ids of a postings state ([[Index.appendPostingsState]]):
    * the (id, dl) docs sidecar minus tombstones. The sidecar keeps
    * tombstoned rows through compaction (delete-replay corrections
    * re-derive from them), so the anti-join — the read-side liveness
    * rule — is applied here exactly as the delete path applies it. */
  def postingsLiveIds(spark: SparkSession, dir: String): DataFrame =
    liveIds(spark, StatePillar.Postings, dir, "docs", None)

  /** [[postingsLiveIds]] as of (append `asOfBatch`, delete
    * `asOfDelete`) — x125's snapshot contract, ids only. */
  def postingsLiveIdsAsOf(spark: SparkSession, dir: String,
      asOfBatch: Long, asOfDelete: Long = 0L): DataFrame =
    liveIds(spark, StatePillar.Postings, dir, "docs",
      Some((asOfBatch, asOfDelete)))

  /** Live doc ids of a tokenizer state ([[Bpe.appendTokenizerState]]):
    * the (id, bpe_tokens) sidecar minus tombstones —
    * [[Bpe.readDocTokens]]'s liveness rule, ids only. */
  def tokenizerLiveIds(spark: SparkSession, dir: String): DataFrame =
    liveIds(spark, StatePillar.Tokenizer, dir, "doc_tokens", None)

  /** [[tokenizerLiveIds]] as of (append `asOfBatch`, delete
    * `asOfDelete`) — x131's snapshot contract, ids only. */
  def tokenizerLiveIdsAsOf(spark: SparkSession, dir: String,
      asOfBatch: Long, asOfDelete: Long = 0L): DataFrame =
    liveIds(spark, StatePillar.Tokenizer, dir, "doc_tokens",
      Some((asOfBatch, asOfDelete)))

  /** Live ids of a fingerprint state ([[Dedup.appendFpState]]): the
    * (id, sig) corpus record minus tombstones — the pair reads'
    * liveness rule, ids only. */
  def fpLiveIds(spark: SparkSession, dir: String): DataFrame =
    liveIds(spark, StatePillar.Fp, dir, "sigs", None)

  /** [[fpLiveIds]] as of (append `asOfBatch`, delete `asOfDelete`). */
  def fpLiveIdsAsOf(spark: SparkSession, dir: String,
      asOfBatch: Long, asOfDelete: Long = 0L): DataFrame =
    liveIds(spark, StatePillar.Fp, dir, "sigs",
      Some((asOfBatch, asOfDelete)))

  /** What CHANGED between two versions of a state — the diff view over
    * the same tagged history the as-of reads cut: one row per document
    * that is live in exactly one of the two versions, `change` =
    * 'added' (live in `v2` only) or 'removed' (live in `v1` only).
    * Feed it two [[postingsLiveIdsAsOf]]-style frames (any pillar, or
    * any two versions of the same pillar — including v2 = the current
    * read, "what did last night's pipeline do?"). Narrow by
    * construction: two single-column id sets full-outer-joined, output
    * bounded by the delta, not the corpus. */
  def snapshotDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("id")).distinct().withColumn("in_v1", lit(true))
    val b = v2.select(col("id")).distinct().withColumn("in_v2", lit(true))
    a.join(b, Seq("id"), "full_outer")
      .filter(coalesce(col("in_v1"), lit(false)) =!=
        coalesce(col("in_v2"), lit(false)))
      .select(col("id"),
        when(coalesce(col("in_v2"), lit(false)), lit("added"))
          .otherwise(lit("removed")).as("change"))
      .orderBy("id")
  }

  /** Compare ≥ 2 pillars' live id sets: one row per id where the
    * pillars DISAGREE — (id, in_<pillar1>, in_<pillar2>, ...) with a
    * boolean per pillar — ordered by id; an empty frame means the
    * states agree document-for-document. Pillar names become column
    * suffixes, so keep them identifier-shaped. Ids present in NO pillar
    * cannot appear (the join is over the union of the live sets);
    * "delete slice X was applied to pillars A and C but never B"
    * surfaces as the X∖(earlier deletes) rows flagged
    * (false, true, false)-shaped — the partial-pipeline-failure
    * signature. */
  def crossPillarConsistency(
      pillars: Seq[(String, DataFrame)]): DataFrame = {
    require(pillars.size >= 2,
      s"cross-pillar consistency needs at least two pillars, got " +
        s"${pillars.size}")
    require(pillars.map(_._1).distinct.size == pillars.size,
      "pillar names must be unique (they become output columns)")
    val flagged = pillars.map { case (name, ids) =>
      name -> ids.select(col("id")).distinct()
        .withColumn(s"in_$name", lit(true))
    }
    val joined = flagged.map(_._2).reduce(
      (a, b) => a.join(b, Seq("id"), "full_outer"))
    val flags = pillars.map { case (name, _) =>
      coalesce(col(s"in_$name"), lit(false)).as(s"in_$name")
    }
    val agree = pillars.map(p => coalesce(col(s"in_${p._1}"), lit(false)))
      .reduce((a, b) => a && b) // join domain = the union ⇒ all-true = agreement
    joined.filter(!agree)
      .select((col("id") +: flags): _*)
      .orderBy("id")
  }

  /** Per-table STORAGE health of a state dir — the "when do I GC or
    * compact?" signal the tagged-history design makes necessary:
    * every tagged append/delete lands one `batch_id=N`/`delete_id=N`
    * partition dir per table and keeps it until truncation, so file
    * and version counts grow without bound at production cadence and
    * someone has to notice BEFORE the small-file tax or the listing
    * cost bites. One row per existing table:
    * (table, files, bytes, leaf_dirs, batch_versions, delete_versions,
    * advice) where `advice` is
    *   - 'truncate'  — tagged versions exceed `maxVersions`
    *     ([[graft.ext.StateIO.truncateHistory]] is the remedy; run the
    *     pillar's [[StatePillar.truncate]]),
    *   - 'compact'   — data files average more than
    *     `maxFilesPerLeafDir` per leaf partition dir (the per-append
    *     small-file accumulation; the pillar's `compact*State` is the
    *     remedy),
    *   - 'ok'        — neither.
    * Versions take precedence (truncation collapses files too).
    *
    * Driver-side FS listing only — metadata-sized, no Spark job, no
    * data read; resolves through the manifest ([[StateIO.tablePath]])
    * and skips `_`/`.` bookkeeping files. Missing tables are omitted
    * (a pillar never deleted from has no tombstones). */
  def healthReport(
      spark: SparkSession, dir: String, tables: Seq[String],
      maxVersions: Int = 64, maxFilesPerLeafDir: Int = 4): DataFrame = {
    require(tables.nonEmpty, "healthReport needs at least one table name")
    StateIO.checkNoSwapInProgress(spark, dir)
    val hconf = spark.sessionState.newHadoopConf()
    val rows = tables.sorted.flatMap { table =>
      val p = new org.apache.hadoop.fs.Path(
        StateIO.tablePath(spark, dir, table))
      val fs = p.getFileSystem(hconf)
      if (!fs.exists(p)) None
      else {
        val top = fs.listStatus(p).toSeq
        def versions(prefix: String): Long = top.count(st =>
          st.isDirectory && st.getPath.getName.startsWith(prefix)).toLong
        val batchVersions = versions("batch_id=")
        val deleteVersions = versions("delete_id=")
        var files = 0L
        var bytes = 0L
        val leafDirs = scala.collection.mutable.Set.empty[String]
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val f = it.next()
          val name = f.getPath.getName
          if (!name.startsWith("_") && !name.startsWith(".")) {
            files += 1
            bytes += f.getLen
            leafDirs += f.getPath.getParent.toString
          }
        }
        val advice =
          if (batchVersions + deleteVersions > maxVersions) "truncate"
          else if (files > maxFilesPerLeafDir.toLong *
              math.max(1L, leafDirs.size.toLong)) "compact"
          else "ok"
        Some((table, files, bytes, leafDirs.size.toLong, batchVersions,
          deleteVersions, advice))
      }
    }
    import spark.implicits._
    rows.toDF("table", "files", "bytes", "leaf_dirs", "batch_versions",
      "delete_versions", "advice")
  }

  /** One delete, EVERY pillar — the orchestrated write whose absence
    * [[crossPillarConsistency]] exists to detect: curation removes a
    * document slice and the removal must land in the LSH text state,
    * the postings state, and the tokenizer state together (plus the
    * stats accounting and, when the docs carry vectors, the IVF state —
    * both optional here because their inputs differ in kind: stats
    * needs the removed TEXTS to recompute its negative aggregate, IVF
    * deletes by vector id).
    *
    * Atomicity posture: there is no cross-directory commit point on a
    * filesystem, so this does NOT pretend to be atomic — it is
    * IDEMPOTENT instead, which is the property an at-least-once
    * orchestrator actually needs: every per-pillar delete is TAGGED
    * (`delete_id=deleteTag` partition overwrite, each pillar's
    * documented replay rule), so a crash between pillars leaves a
    * partial delete that (a) [[crossPillarConsistency]] surfaces as
    * divergence rows naming the missed pillars, and (b) re-running the
    * SAME call with the SAME tag completes — finished pillars overwrite
    * their partition with identical content, missed pillars apply. The
    * pillar order is fixed (lsh, postings, tokenizer, stats, ivf) so a
    * given crash point is reproducible.
    *
    * `crashAfterPillars` is the fault-injection hook for the gates ONLY
    * (negative = off): ≥ 0 throws [[StateIO.InjectedCrash]] after that
    * many pillar deletes — 1 reproduces exactly the x128 fixture's
    * planted failure (the slice reached the first pillar and no other).
    *
    * Scale shape: pure composition — each pillar's delete keeps its own
    * O(|ids|) tombstone cost; nothing corpus-sized is added here. */
  def deleteEverywhere(
      spark: SparkSession,
      removed: DataFrame, idCol: String, textCol: String, grpCol: String,
      lshDir: String, postingsDir: String, tokenizerDir: String,
      deleteTag: Long,
      statsDir: Option[String] = None,
      ivf: Option[(String, DataFrame, String)] = None,
      crashAfterPillars: Int = -1): Unit = {
    val ids = removed.select(col(idCol))
    val steps: Seq[() => Unit] = Seq(
      () => Dedup.deleteFromLshState(spark, lshDir, ids, idCol,
        deleteTag = Some(deleteTag)),
      () => Index.deleteFromPostingsState(spark, postingsDir, ids, idCol,
        deleteTag = Some(deleteTag)),
      () => Bpe.deleteFromTokenizerState(spark, tokenizerDir, ids, idCol,
        deleteTag = Some(deleteTag))) ++
      statsDir.map(sd => () => Profile.deleteFromStatsState(
        removed, sd, textCol, grpCol, Some(deleteTag))).toSeq ++
      ivf.map { case (dir, vids, vidCol) =>
        () => Similarity.deleteFromIvfState(spark, dir, vids, vidCol,
          deleteTag = Some(deleteTag))
      }.toSeq
    if (crashAfterPillars >= 0)
      // fault injection keeps the documented fixed pillar order so a
      // given crash point stays reproducible
      steps.zipWithIndex.foreach { case (f, i) =>
        if (i == crashAfterPillars) throw new StateIO.InjectedCrash(i)
        f()
      }
    else
      // production path: each pillar's delete reads and writes only its
      // own state dir (disjoint paths, each holding its own writer
      // lease), so the deletes OVERLAP (guide §2.6) — the idempotent
      // replay contract above never depended on order, only the
      // injection hook does
      StateIO.runOverlapped(steps)
  }

  /** One batch, EVERY pillar — [[deleteEverywhere]]'s append twin, and
    * the other half of the coordination story
    * [[crossPillarConsistency]] audits: a corpus batch arrives and must
    * land in the LSH text state, the postings state, and the tokenizer
    * state together (plus the stats accounting and, when the batch
    * carries vectors, the IVF state — optional for the same
    * input-kind reasons as the delete path). An orchestrator that
    * wires five separate appends re-creates exactly the partial-write
    * divergence the audit exists to catch; this is the one call that
    * doesn't.
    *
    * Same atomicity posture as the delete: no cross-directory commit
    * point exists, so the contract is IDEMPOTENCE under at-least-once
    * replay — every per-pillar append is TAGGED (`batch_id=batchTag`
    * partition overwrite, each pillar's documented replay rule), so a
    * crash between pillars leaves a partial ingest that (a) the audit
    * surfaces as divergence rows naming the pillars the batch missed,
    * and (b) re-running the SAME call with the SAME tag completes —
    * finished pillars overwrite their partitions with identical
    * content (the LSH/IVF probe paths already exclude the batch's own
    * tag; merges/centroids frozen on batch 1 stay frozen), missed
    * pillars apply. Fixed pillar order (lsh, postings, tokenizer,
    * stats, ivf) keeps any crash point reproducible; the x143 gate
    * injects one and replays it closed.
    *
    * Scale shape: pure composition — each pillar's append keeps its own
    * O(batch) cost; nothing corpus-sized is added here. */
  def ingestEverywhere(
      spark: SparkSession,
      batch: DataFrame, idCol: String, textCol: String, grpCol: String,
      lshDir: String, postingsDir: String, tokenizerDir: String,
      batchTag: Long,
      statsDir: Option[String] = None,
      ivf: Option[(String, DataFrame, Int, Int)] = None,
      numMerges: Int = 4,
      crashAfterPillars: Int = -1): Unit = {
    val steps: Seq[() => Unit] = Seq(
      () => Dedup.appendLshState(batch, idCol, textCol, lshDir,
        batchTag = Some(batchTag)),
      () => Index.appendPostingsState(batch, postingsDir, idCol, textCol,
        batchTag = Some(batchTag)),
      () => Bpe.appendTokenizerState(batch, tokenizerDir, idCol, textCol,
        numMerges = numMerges, batchTag = Some(batchTag))) ++
      statsDir.map(sd => () => Profile.appendStatsState(
        batch, sd, textCol, grpCol, Some(batchTag))).toSeq ++
      ivf.map { case (dir, vecs, k, iters) =>
        () => Similarity.appendIvfState(vecs, dir, k = k, iters = iters,
          batchTag = Some(batchTag))
      }.toSeq
    if (crashAfterPillars >= 0)
      // fault injection keeps the documented fixed pillar order so a
      // given crash point stays reproducible
      steps.zipWithIndex.foreach { case (f, i) =>
        if (i == crashAfterPillars) throw new StateIO.InjectedCrash(i)
        f()
      }
    else
      // production path: each pillar's append reads the shared batch
      // frame but writes only its own state dir (disjoint paths, own
      // writer lease each), so the appends OVERLAP (guide §2.6) — the
      // idempotent replay contract never depended on order, only the
      // injection hook does
      StateIO.runOverlapped(steps)
  }
}
