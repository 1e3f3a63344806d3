package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twin of exact dedup ([[graft.ext.Dedup.exact]]): emit only the
  * FIRST arrival of each content fingerprint; duplicates arriving later are
  * dropped.
  *
  * State design for scale: `dropDuplicatesWithinWatermark` keeps one state
  * entry per distinct fingerprint seen within the watermark horizon and
  * evicts entries once the watermark passes them — so state is
  * O(distinct docs per horizon), not O(stream length). A duplicate that
  * arrives later than the horizon after its original would re-emit; pick
  * the horizon to cover the pipeline's reorder window (for training-data
  * ingestion that is the batch-landing skew, typically minutes).
  *
  * The fingerprint is md5 of the content — the same portable fingerprint
  * the batch operator groups on, so a replayed stream emits exactly the
  * batch `exact` representatives (pinned by StreamingSpec).
  */
object DedupStream {

  /** @param docs     streaming DataFrame with an event-time column
    * @param tsCol    event-time column (timestamp type)
    * @param textCol  content column to fingerprint
    * @param horizon  watermark delay, e.g. "10 minutes" */
  def firstArrivals(
      docs: DataFrame,
      tsCol: String,
      textCol: String,
      horizon: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fp", md5(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming NEAR-dup suppression keyed by SimHash: a document whose
    * 32-bit simhash equals an earlier arrival's within the horizon is
    * dropped. Token-reorder/whitespace variants collide on the signature
    * (that is SimHash's point), so this catches a class of near-dups exact
    * fingerprinting misses, at the same O(distinct signatures per horizon)
    * state — the streaming twin of grouping by
    * [[graft.ext.Dedup.simhashColumn]]. Hamming-close-but-unequal
    * signatures still pass; full near-dup clustering stays a batch job
    * (lshPairs + components). */
  def simhashFirstArrivals(
      docs: DataFrame,
      tsCol: String,
      textCol: String,
      horizon: String = "10 minutes"): DataFrame =
    docs
      .withColumn("simhash", graft.ext.Dedup.simhashColumn(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("simhash")

  /** Streaming NEAR-dup ingest: each micro-batch is collapsed for exact
    * duplicates, checked against the accepted corpus with
    * [[graft.ext.Dedup.incrementalLshPairs]] (asymmetric band join — the
    * corpus is never self-joined, each batch pays O(batch) pair work plus
    * one map-side banding pass over the corpus), and the surviving docs
    * are appended to the corpus; rejected pairs land in an audit table.
    *
    * Exactly-once across restarts WITHOUT a transactional sink: every
    * batch writes to its own `batch_id=N` partition directory with
    * overwrite mode, so a replayed micro-batch (foreachBatch is
    * at-least-once) overwrites its own previous output instead of
    * duplicating it — the standard idempotent-partition pattern for
    * object-store sinks. Readers see the corpus as one partitioned
    * parquet table.
    *
    * State at scale lives in the corpus table itself, not executor
    * memory: a restart re-reads corpus parquet, so the dedup horizon is
    * unbounded (unlike the watermark-bounded [[firstArrivals]]).
    *
    * @return the started query; stop() it for a clean shutdown */
  def nearDupIngest(
      batches: DataFrame,
      corpusDir: String,
      pairsDir: String,
      idCol: String,
      textCol: String,
      checkpointDir: String,
      threshold: Double = 0.5,
      shingleSize: Int = 3): org.apache.spark.sql.streaming.StreamingQuery =
    batches.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val withinCollapsed = graft.ext.Dedup.exact(
          batch.select(col(idCol), col(textCol)), idCol, textCol)
        // FS-agnostic first-batch probe (no corpus parquet yet). Only
        // PATH_NOT_FOUND means "no corpus yet" — any other read failure
        // (FS flake, corrupt footer) must CRASH the batch so at-least-once
        // replay retries it; flipping into first-batch mode would accept
        // the whole batch with ZERO cross-batch dedup, permanently
        // polluting the corpus (same rule as the state-backed twin below).
        // REPLAY SAFETY: drop the batch's OWN batch_id partition from the
        // corpus read — a replayed batch (at-least-once foreachBatch, e.g.
        // a crash between the corpus write and the checkpoint commit)
        // would otherwise match every doc against its prior-attempt self
        // (same id, jaccard 1.0), reject them all, and overwrite the
        // partition EMPTY — permanent loss. Same excludeTag rule as the
        // state-backed twin.
        val corpus = graft.ext.StateIO.readIfExists(spark, corpusDir)
          .map { c0 =>
            (if (c0.columns.contains("batch_id"))
               c0.filter(col("batch_id") =!= batchId)
             else c0).select(col(idCol), col(textCol))
          }
        val accepted = corpus match {
          case None => withinCollapsed // first batch: no pairs
          case Some(c) =>
            // docs below the shingle size never enter the LSH pair path
            // (it filters both sides), so their cross-batch EXACT dups are
            // caught here by content fingerprint and audited at 1.0 — the
            // same jaccard an in-band exact dup reports
            val shortDups = withinCollapsed
              .filter(size(graft.ext.Dedup.tokens(col(textCol))) < shingleSize)
              .withColumn("graft_fp", md5(col(textCol)))
              .join(c.select(md5(col(textCol)).as("graft_fp"),
                col(idCol).as("old_id")), "graft_fp")
              .select(col(idCol).as("new_id"), col("old_id"),
                lit(1.0).as("jaccard"))
            graft.ext.Dedup.incrementalLshPairs(
                c, withinCollapsed, idCol, textCol, threshold = threshold,
                shingleSize = shingleSize)
              .unionByName(shortDups)
              .write.mode("overwrite")
              .parquet(s"$pairsDir/batch_id=$batchId")
            // read the audit pairs back rather than recomputing the chain
            withinCollapsed.join(
              spark.read.parquet(s"$pairsDir/batch_id=$batchId")
                .select(col("new_id").as(idCol)).distinct(),
              Seq(idCol), "left_anti")
        }
        accepted.write.mode("overwrite")
          .parquet(s"$corpusDir/batch_id=$batchId")
        ()
      }
      .start()

  /** [[nearDupIngest]] answered from PERSISTED LSH state instead of the
    * corpus text column — the steady-state shape: [[nearDupIngest]]
    * re-signs the whole corpus every micro-batch (an O(corpus) CPU pass
    * that at 100 TB dwarfs each batch), while this variant keeps the
    * corpus as [[graft.ext.Dedup.appendLshState]] parquet (reps, members,
    * banded signatures — each document signed ONCE ever) and answers each
    * batch with [[graft.ext.Dedup.incrementalLshPairsFromState]]: per-batch
    * cost is O(batch) signature compute plus a narrow columnar scan of
    * precomputed bands. The state dir IS the corpus (reps carry the
    * accepted texts; members the accepted ids).
    *
    * Replay safety composes from the two state primitives: pair reads
    * exclude the batch's own `batch_id=N` partition (a replayed batch
    * must not match ITSELF and self-reject — `excludeTag`), and the
    * tagged append overwrites its own partitions. A replayed batch
    * therefore recomputes the same accepted set and overwrites it in
    * place — exactly-once output from at-least-once execution, no
    * transactional sink. */
  def nearDupIngestFromState(
      batches: DataFrame,
      stateDir: String,
      pairsDir: String,
      idCol: String,
      textCol: String,
      checkpointDir: String,
      threshold: Double = 0.5,
      shingleSize: Int = 3): org.apache.spark.sql.streaming.StreamingQuery =
    batches.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val withinCollapsed = graft.ext.Dedup.exact(
          batch.select(col(idCol), col(textCol)), idCol, textCol)
        // replay-safe state reads: drop the batch's own partition, same
        // rule as the pair operator's excludeTag. Only PATH-NOT-FOUND
        // means "no state yet" — any other failure (FS flake, a
        // compaction's rename window) must CRASH the batch rather than
        // silently flip it into first-batch mode, which would accept
        // every cross-batch duplicate into the state permanently.
        def readState(table: String): Option[DataFrame] =
          try {
            val t = spark.read.parquet(
              graft.ext.StateIO.tablePath(spark, stateDir, table))
            Some(if (t.columns.contains("batch_id"))
              t.filter(col("batch_id") =!= batchId) else t)
          } catch {
            case e: org.apache.spark.sql.AnalysisException
                if e.getCondition == "PATH_NOT_FOUND" => None
          }
        val stateExists =
          readState("reps").exists(_.head(1).nonEmpty)
        val accepted =
          if (!stateExists) withinCollapsed // first batch: nothing to match
          else {
            // the state retains short docs in reps/members (the state IS
            // the corpus) but the LSH pair path filters them on both
            // sides — so their cross-batch EXACT dups are caught here by
            // fingerprint against the reps and audited at 1.0 against
            // every accepted member of the matching group
            def stateTable(name: String): DataFrame =
              readState(name).getOrElse(throw new IllegalStateException(
                s"LSH state at $stateDir has reps but no $name table — " +
                  "likely a compaction crash window; restore the " +
                  s"${name}__compact_bak backup before resuming ingest"))
            // tombstones: a deleted doc must not reject new arrivals
            // (same filter rule as incrementalLshPairsFromState, which
            // handles the main path — this covers the short-doc
            // fingerprint path)
            val tombs = graft.ext.StatePillar.Lsh.tombstones(spark, stateDir)
            val members =
              graft.ext.StatePillar.Lsh.minus(tombs)(stateTable("members"))
            val repsAll = stateTable("reps")
            val reps = tombs match {
              case Some(_) => repsAll.join(
                members.select(col("rid")).distinct(), Seq("rid"), "left_semi")
              case None => repsAll
            }
            val shortDups = withinCollapsed
              .filter(size(graft.ext.Dedup.tokens(col(textCol))) < shingleSize)
              .withColumn("fp", md5(col(textCol)))
              .join(reps.select(col("fp"), col("rid")), "fp")
              .join(members.select(col("rid"), col("id").as("old_id")), "rid")
              .select(col(idCol).as("new_id"), col("old_id"),
                lit(1.0).as("jaccard"))
            graft.ext.Dedup.incrementalLshPairsFromState(
                stateDir, withinCollapsed, idCol, textCol,
                threshold = threshold, shingleSize = shingleSize,
                excludeTag = Some(batchId))
              .unionByName(shortDups)
              .write.mode("overwrite")
              .parquet(s"$pairsDir/batch_id=$batchId")
            withinCollapsed.join(
              spark.read.parquet(s"$pairsDir/batch_id=$batchId")
                .select(col("new_id").as(idCol)).distinct(),
              Seq(idCol), "left_anti")
          }
        graft.ext.Dedup.appendLshState(accepted, idCol, textCol, stateDir,
          shingleSize = shingleSize, batchTag = Some(batchId))
        ()
      }
      .start()
}
