package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One persisted state pillar, declared once: its tagged tables, the
  * version-free artifacts a branch raw-copies, the table whose
  * `batch_id` tags bound a keep-last-N policy, and the key column of its
  * `tombstones` table. Written once below, over this descriptor:
  *
  *  - the lifecycle verbs — recover, truncate, retain, clone,
  *    fast-forward — on the shared [[StateIO]] cores;
  *  - the write guard ([[checkWritable]]) every append, delete, compact,
  *    recluster and truncate entry runs first;
  *  - the tombstone protocol: the delete ([[delete]]), the live-row
  *    filter every read applies ([[live]], [[tombstones]]) and the
  *    compaction drop ([[compact]]).
  *
  * What really differs per pillar stays with the pillar's own object:
  * the appends, the reads' own joins, the `_meta` parameter checks, the
  * compaction table lists (and LSH's dead-group drop), postings' and
  * stats' delete corrections, and the graph's delete head and delete
  * delta over the ivf tombstones.
  *
  * The registry ([[StatePillar.all]], [[StatePillar.get]]) is keyed by
  * the operator CLI's pillar names (`state <verb> <pillar> ...`). */
final class StatePillar private (
    val name: String,
    private[graft] val tables: Seq[StateIO.TruncTable],
    rawCopies: Seq[String],
    retentionTable: String,
    tombstoneKey: Option[String] = Some("id"),
    truncateOverride: Option[(SparkSession, String, Long) => Unit] = None) {
  import StatePillar.Tombstones

  require(tombstoneKey.isDefined == tables.exists(_.name == Tombstones),
    s"pillar $name: a tombstone key needs a $Tombstones table and vice versa")

  /** The raw copies that are tables (frozen centroids / merges): a
    * truncation never rewrites them, but their crashed-compaction backup
    * still means the dir is mid-recovery, so it refuses on one. */
  private val frozenTables = rawCopies.filterNot(_ == "_meta")

  /** Every table the pillar persists: what the health report covers and
    * what the write guard checks for crashed-compaction remnants. */
  val healthTables: Seq[String] = tables.map(_.name) ++ frozenTables

  /** The write guard: refuse a crashed compaction's `<table>__compact_bak`
    * for any of [[healthTables]], and a dir mid-swap (`_swap_commit`) or
    * mid-catch-up (`_ff_pending`). Every append, delete, compact,
    * recluster and truncate entry of the pillar runs it first, so a table
    * added to the descriptor is guarded with no other edit. */
  private[graft] def checkWritable(spark: SparkSession, dir: String): Unit =
    StateIO.checkNoCompactRemnants(spark, dir, healthTables)

  /** The tombstoned keys, lazily, as one column named by the tombstone
    * key — cut to delete tags `<= asOfDelete` when given (refusing bounds
    * below the history floor) — or None when nothing was ever deleted. */
  private[graft] def tombstones(
      spark: SparkSession, dir: String,
      asOfDelete: Option[Long] = None): Option[DataFrame] =
    tombstoneKey.flatMap { key =>
      StateIO.readTableIfExists(spark, dir, Tombstones).map { raw =>
        asOfDelete.fold(raw)(
          StateIO.asOfCut(raw, "delete_id", _, dir, Tombstones))
          .select(col(key))
      }
    }

  /** `rows` minus the keys in `tombs` (a left-anti join on the tombstone
    * key); `rows` itself when there are none. */
  private[graft] def minus(tombs: Option[DataFrame])(
      rows: DataFrame): DataFrame =
    (tombstoneKey zip tombs).fold(rows) { case (key, tb) =>
      rows.join(tb, Seq(key), "left_anti")
    }

  /** The live-row filter every read shares: `rows` minus the current
    * tombstones, or those as of delete `asOfDelete`. Stays lazy — a
    * small anti-join until compaction applies the tombstones. */
  private[graft] def live(
      spark: SparkSession, dir: String, rows: DataFrame,
      asOfDelete: Option[Long] = None): DataFrame =
    minus(tombstones(spark, dir, asOfDelete))(rows)

  /** The tombstone write behind `deleteFrom*State`: O(|ids|), no state
    * table is read or rewritten; every read subtracts through [[live]]
    * and [[compact]] applies the tombstones physically. Tagged deletes
    * overwrite their own `delete_id=N` partition (at-least-once safe);
    * untagged deletes anti-join the keys already tombstoned, so a blind
    * re-run is a no-op. A deleted key must never be re-appended. */
  private[graft] def delete(
      spark: SparkSession, dir: String, ids: DataFrame, idCol: Column,
      deleteTag: Option[Long]): Unit =
      StateIO.withWriterLock(spark, dir) {
    checkWritable(spark, dir)
    StateIO.checkTagAboveFloor(spark, dir, deleteTag, "delete")
    val del = ids.select(idCol.as(tombstoneKey.get)).distinct()
    val path = StateIO.tablePath(spark, dir, Tombstones)
    deleteTag match {
      case Some(t) =>
        del.write.mode("overwrite").parquet(s"$path/delete_id=$t")
      case None =>
        // materialized: the append below lands in the table it read
        val fresh = tombstones(spark, dir)
          .fold(del)(tb => Dedup.materialize(minus(Some(tb))(del)))
        fresh.write.mode("append").parquet(path)
    }
  }

  /** The compaction behind `compact*State`: guard, snapshot the
    * tombstones once, and rewrite `tables` plus the tombstones table with
    * the shared engine ([[Dedup.compactStateTables]]), dropping tombstoned
    * keys from `dropFrom`; `more` derives further rewrites from the
    * snapshot. The snapshot is MATERIALIZED, not a lazy file read: the
    * tombstones table is itself swapped mid-sequence, and a table
    * compacted after that swap would chase the old listing into
    * FILE_NOT_EXIST. The tombstones are kept (compacted): re-applying one
    * to rows already gone is a no-op, so reads stay correct through a
    * crash anywhere here, and the never-reuse-a-key contract still needs
    * them. Run it offline. */
  private[graft] def compact(
      spark: SparkSession, dir: String, tables: Seq[(String, Boolean)],
      targetBytes: Long, dropFrom: Seq[String] = Nil,
      extraPartitionCols: Seq[String] = Nil,
      more: Option[DataFrame] => Map[String, DataFrame => DataFrame] =
        _ => Map.empty): Unit =
      StateIO.withWriterLock(spark, dir) {
    checkWritable(spark, dir)
    val snapshot = tombstones(spark, dir).map(Dedup.materialize)
    Dedup.compactStateTables(spark, dir,
      tables ++ tombstoneKey.map(_ => Tombstones -> true), targetBytes,
      extraPartitionCols,
      dropFrom.map(_ -> minus(snapshot) _).toMap ++ more(snapshot))
  }

  /** Complete a crashed multi-table swap (a truncation, recluster or
    * compaction that crashed after its `_swap_commit` marker published;
    * until the marker clears, every append/delete/compact/truncate entry
    * fails fast through [[checkWritable]]). Returns true iff a crashed
    * swap was found and rolled forward to the full new fit; false =
    * nothing to do (safe to call blindly from an orchestrator's recovery
    * path). */
  def recover(spark: SparkSession, dir: String): Boolean =
    StateIO.recoverSwap(spark, dir)

  /** HISTORY-RETENTION GC: collapse every version tagged `<= floor` into
    * one base version ([[StateIO.truncateHistory]] — a pure tag collapse;
    * tombstones keep subtracting at read time, so every still-legal as-of
    * read returns bit-identical results). */
  def truncate(spark: SparkSession, dir: String, floor: Long): Unit =
      StateIO.withWriterLock(spark, dir) {
    checkWritable(spark, dir)
    truncateOverride match {
      case Some(f) => f(spark, dir, floor)
      case None => StateIO.truncateHistory(spark, dir, floor, tables)
    }
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

  /** The table every tombstone pillar's deletes land in. */
  private val Tombstones = "tombstones"

  private def tombstoneTable = TruncTable(Tombstones, "delete_id",
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
    tombstoneTable), rawCopies = Seq("_meta"), retentionTable = "reps")

  /** The fingerprint pillar ([[Dedup.appendFpState]]). `bands` keeps its
    * `bkt` partition level below the batch tags everywhere (flattening it
    * would silently turn the pruned probe reads into full scans); `_meta`
    * (bucket count) raw-copies so a branch's probe reads stay
    * bucket-compatible. */
  val Fp = new StatePillar("fp", Seq(
    TruncTable("sigs", "batch_id"),
    TruncTable("bands", "batch_id", extraPartitionCols = Seq("bkt")),
    tombstoneTable), rawCopies = Seq("_meta"), retentionTable = "sigs")

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
    tombstoneTable,
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
    tombstoneTable), rawCopies = Seq("merges", "_meta"),
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
    rawCopies = Nil, retentionTable = "stats", tombstoneKey = None)

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
    tombstoneTable), rawCopies = Seq("centroids", "_meta"),
    retentionTable = "cells", tombstoneKey = Some("vid"))

  /** Every pillar. */
  val all: Seq[StatePillar] = Seq(Lsh, Postings, Tokenizer, Stats, Ivf, Fp)

  /** The pillar the CLI calls `name`, if any. */
  def get(name: String): Option[StatePillar] = all.find(_.name == name)

  /** The registry's pillar names, sorted. */
  def names: Seq[String] = all.map(_.name).sorted
}
