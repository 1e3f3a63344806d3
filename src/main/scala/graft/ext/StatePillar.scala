package graft.ext

import org.apache.spark.sql.SparkSession

/** One persisted state pillar, declared once: its tagged tables, the
  * version-free artifacts a branch raw-copies, and the table whose
  * `batch_id` tags bound a keep-last-N policy. Every lifecycle verb —
  * recover, truncate, retain, clone, fast-forward — is written once
  * below, over this descriptor, on the shared [[StateIO]] cores; what
  * really differs per pillar (append, delete, compact, the reads) stays
  * with the pillar's own object.
  *
  * The registry ([[StatePillar.all]], [[StatePillar.get]]) is keyed by
  * the operator CLI's pillar names (`state <verb> <pillar> ...`). */
final class StatePillar private (
    val name: String,
    private[graft] val tables: Seq[StateIO.TruncTable],
    rawCopies: Seq[String],
    retentionTable: String,
    truncateOverride: Option[(SparkSession, String, Long) => Unit] = None) {

  /** The raw copies that are tables (frozen centroids / merges): a
    * truncation never rewrites them, but their crashed-compaction backup
    * still means the dir is mid-recovery, so it refuses on one. */
  private val frozenTables = rawCopies.filterNot(_ == "_meta")

  /** Every table the pillar persists: what the health report covers and
    * what a truncation checks for crashed-compaction remnants. */
  val healthTables: Seq[String] = tables.map(_.name) ++ frozenTables

  /** Complete a crashed multi-table swap (a truncation, recluster or
    * compaction that crashed after its `_swap_commit` marker published;
    * until the marker clears, every append/delete/compact/truncate entry
    * fails fast). Returns true iff a crashed swap was found and rolled
    * forward to the full new fit; false = nothing to do (safe to call
    * blindly from an orchestrator's recovery path). */
  def recover(spark: SparkSession, dir: String): Boolean =
    StateIO.recoverSwap(spark, dir)

  /** HISTORY-RETENTION GC: collapse every version tagged `<= floor` into
    * one base version ([[StateIO.truncateHistory]] — a pure tag collapse;
    * tombstones keep subtracting at read time, so every still-legal as-of
    * read returns bit-identical results). */
  def truncate(spark: SparkSession, dir: String, floor: Long): Unit =
    truncateOverride match {
      case Some(f) => f(spark, dir, floor)
      case None => StateIO.truncateHistory(spark, dir, floor, tables,
        extraRemnantChecks = frozenTables)
    }

  /** KEEP-LAST-N retention ([[StateIO.retentionFloor]] → [[truncate]]):
    * collapse history so only the newest `keepLastBatches` versions stay
    * individually addressable. Returns the floor applied, or None when
    * the policy is already satisfied (idempotent — safe on a schedule). */
  def retain(
      spark: SparkSession, dir: String,
      keepLastBatches: Int): Option[Long] = {
    val f = StateIO.retentionFloor(spark, dir, keepLastBatches,
      Seq(retentionTable))
    f.foreach(truncate(spark, dir, _))
    f
  }

  /** BRANCH the state at a version ([[StateIO.cloneStateAsOf]]): the
    * clone is an independent state whose PLAIN reads answer exactly like
    * the source's as-of reads at (asOfBatch, asOfDelete), and whose later
    * writes leave the source untouched. */
  def clone(
      spark: SparkSession, srcDir: String, dstDir: String,
      asOfBatch: Long, asOfDelete: Long = 0L): Unit =
    StateIO.cloneStateAsOf(spark, srcDir, dstDir, asOfBatch, asOfDelete,
      tables, rawCopies)

  /** Catch a [[clone]] branch up to its source's current head
    * ([[StateIO.fastForwardState]]): only the missing `batch_id`
    * partitions copy, the delete tables rewrite wholesale, and the raw
    * copies must still be byte-identical to the branch's. Returns the new
    * (batch, delete) head. */
  def fastForward(
      spark: SparkSession, srcDir: String, dstDir: String): (Long, Long) =
    StateIO.fastForwardState(spark, srcDir, dstDir, tables, rawCopies)
}

object StatePillar {
  import StateIO.TruncTable

  private def tombstones = TruncTable("tombstones", "delete_id",
    required = false)

  /** The text pillar ([[Dedup.appendLshState]]). Truncation re-tags
    * sub-floor reps/bands/members rows (a batch-1 group's signature rows
    * simply move partitions), so [[Dedup.incrementalLshPairsFromState]]'s
    * as-of cut returns bit-identical membership (the x139 gate). Physical
    * tombstone application stays [[Dedup.compactLshState]]'s job:
    * group-level tables need the surviving-member semi-join to decide
    * what a delete kills, and truncation deliberately does not re-derive
    * group liveness. `_meta` (signature parameters) raw-copies so a
    * branch's band joins stay compatible with fresh signatures; changed
    * parameters refuse a fast-forward (re-clone). */
  val Lsh = new StatePillar("lsh", Seq(
    TruncTable("reps", "batch_id"),
    TruncTable("bands", "batch_id"),
    TruncTable("members", "batch_id"),
    tombstones), rawCopies = Seq("_meta"), retentionTable = "reps")

  /** The fingerprint pillar ([[Dedup.appendFpState]]). `bands` keeps its
    * `bkt` partition level below the batch tags everywhere (flattening it
    * would silently turn the pruned probe reads into full scans); `_meta`
    * (bucket count) raw-copies so a branch's probe reads stay
    * bucket-compatible. */
  val Fp = new StatePillar("fp", Seq(
    TruncTable("sigs", "batch_id"),
    TruncTable("bands", "batch_id", extraPartitionCols = Seq("bkt")),
    tombstones), rawCopies = Seq("_meta"), retentionTable = "sigs")

  /** The postings pillar ([[Index.appendPostingsState]]) — the one pillar
    * with its own truncation ([[Index.collapsePostingsHistory]]): it folds
    * sub-floor tombstones into the sub-floor postings PHYSICALLY and
    * re-sums the corpus totals. A clone (the x144 gate) lands every tagged
    * table with only its in-bound partitions, bucket pruning level
    * preserved, and `tomb_totals` keeps only corrections attributed inside
    * the batch cut, so the BM25 corpus constants stay the exact integers
    * the as-of fold computes. A fast-forward (x149) copies the missing
    * postings/docs/totals/positions partitions individually — O(new
    * batches), never O(branch) — and refuses diverged branches, a source
    * truncated past the branch point, and mid-crash states by name. */
  val Postings = new StatePillar("postings", Seq(
    TruncTable("postings", "batch_id", Seq("bucket")),
    TruncTable("docs", "batch_id"),
    TruncTable("totals", "batch_id"),
    TruncTable("positions", "batch_id", Seq("bucket"), required = false),
    tombstones,
    TruncTable("tomb_totals", "delete_id", required = false)),
    rawCopies = Nil, retentionTable = "docs",
    truncateOverride = Some((s, d, f) => Index.collapsePostingsHistory(s, d, f)))

  /** The tokenizer pillar ([[Bpe.appendTokenizerState]]). The merges
    * FROZE on batch 1, so every version's `bpe_tokens` are the same unit:
    * truncation re-tags sidecar partitions and never re-encodes, and every
    * still-legal as-of budget/mix/sample read returns bit-identical
    * selections (the x142 gate). Frozen `merges` and `_meta` raw-copy into
    * a branch, so counts stay one unit across branch and source; a
    * retrained source refuses a fast-forward (re-clone). */
  val Tokenizer = new StatePillar("tokenizer", Seq(
    TruncTable("doc_tokens", "batch_id"),
    tombstones), rawCopies = Seq("merges", "_meta"),
    retentionTable = "doc_tokens")

  /** The accounting pillar ([[Profile.appendStatsState]]). Truncation
    * re-tags per-(source, batch) stat rows without folding them into one
    * row per source: [[Profile.statsReport]] already sums counts and
    * unions sketches across however many rows a version holds, so the
    * collapsed rows report bit-identically and a fold would force a sketch
    * rewrite for nothing. Deltas re-attribute `src_batch = greatest(
    * src_batch, floor)`, so the `src_batch <= bound` correction cut of
    * every legal as-of read selects the same rows (the x141 gate). A clone
    * leaves batch-attributed corrections outside its batch cut behind
    * (unattributed rows travel wholly, the documented caveat). */
  val Stats = new StatePillar("stats", Seq(
    TruncTable("stats", "batch_id"),
    TruncTable("stats_deltas", "delete_id", required = false)),
    rawCopies = Nil, retentionTable = "stats")

  /** The vector pillar ([[Similarity.appendIvfState]]). Every vector was
    * assigned ONCE against the frozen batch-1 centroids, so truncation
    * re-tags cell partitions and never re-assigns: every still-legal
    * as-of probe returns bit-identical neighbors (the x140 gate).
    * Physical tombstone application remains [[Similarity.compactIvfState]]'s
    * job, and [[Similarity.reclusterIvfState]] composes with it. Frozen
    * `centroids` and `_meta` raw-copy into a branch byte-identical (the
    * recluster trial run a production index cannot afford in place); a
    * source that reclustered since the branch refuses a fast-forward
    * (re-clone). `recover` also rolls a crashed recluster forward. */
  val Ivf = new StatePillar("ivf", Seq(
    TruncTable("cells", "batch_id"),
    tombstones), rawCopies = Seq("centroids", "_meta"),
    retentionTable = "cells")

  /** Every pillar. */
  val all: Seq[StatePillar] = Seq(Lsh, Postings, Tokenizer, Stats, Ivf, Fp)

  /** The pillar the CLI calls `name`, if any. */
  def get(name: String): Option[StatePillar] = all.find(_.name == name)

  /** The registry's pillar names, sorted. */
  def names: Seq[String] = all.map(_.name).sorted
}
