package graft.ext

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Four families, in increasing semantic looseness:
  *   - exact: hash-groupBy on content (or a fingerprint of it);
  *   - MinHash + LSH: near-dup candidate generation in O(n·perms) + a
  *     band-bucket self-join — THE scale path for ~100 TB corpora, where any
  *     O(n²) pairwise comparison is impossible;
  *   - SimHash: 32-bit locality-sensitive signature, Hamming-close ⇒ similar;
  *   - n-gram Jaccard: exact pairwise similarity — only for verifying LSH
  *     candidates or for small bounded subsets.
  *
  * Signature computation is pure column expressions (array functions over the
  * token array — map-side, codegen'd, zero shuffle). Only the LSH bucket join
  * and the final group-bys shuffle, and those shuffle keys are
  * high-cardinality hashes, so they partition evenly. Identical boilerplate
  * docs (the classic LSH skew case) are collapsed to one representative
  * INSIDE the LSH path ([[collapseExact]]): signatures, banding and
  * verification run over distinct texts only, and verified rep pairs expand
  * back to member pairs algebraically (identical texts ⇒ identical scores).
  */
object Dedup {

  /** Session conf key: when set (non-empty), every materialization point in
    * the dedup chain uses RELIABLE `checkpoint` into this directory instead
    * of `localCheckpoint`. `localCheckpoint` stores blocks on executors —
    * losing one executor loses blocks AND truncated lineage, killing the
    * job; on a real cluster with churn, point this at durable shared
    * storage (HDFS/object store) and a 100 TB dedup run survives executor
    * loss at the cost of one write+read per materialization. Local mode
    * (and the default) keeps the zero-copy executor-memory path. */
  val checkpointDirKey = "graft.checkpointDir"

  /** Eager materialization + lineage truncation for a frame feeding
    * multiple downstream join branches (Spark does not ReusedExchange
    * across actions). Reliable `checkpoint` when [[checkpointDirKey]] is
    * configured, `localCheckpoint` otherwise — identical results either
    * way, only durability differs. */
  private[graft] def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(checkpointDirKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        // setCheckpointDir appends a unique subdir per call — set once per
        // context and reuse (a conf change after that needs a new session)
        if (spark.sparkContext.getCheckpointDir.isEmpty)
          spark.sparkContext.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }
  }

  /** ONE-JOB multiset equality of two same-schema frames — replaces the
    * two-way `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty` parity
    * idiom (two separate actions, each a full aggregate over both
    * inputs) with a single signed-count aggregate: tag a's rows +1 and
    * b's −1, group by every column, and the multisets are equal iff no
    * group's sum is non-zero. Same row-equality semantics as exceptAll
    * (grouping equality: NaN==NaN, -0.0==0.0), half the passes, and the
    * single-consumption shape lets callers drop the checkpoint a frame
    * only needed because exceptAll read it twice. */
  private[graft] def multisetEqual(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq
    a.withColumn("graft_ms_sign", lit(1L))
      .unionByName(b.select(cols.map(col): _*)
        .withColumn("graft_ms_sign", lit(-1L)))
      .groupBy(cols.map(col): _*)
      .agg(sum(col("graft_ms_sign")).as("graft_ms_d"))
      .filter(col("graft_ms_d") =!= 0L)
      .head(1).isEmpty
  }

  /** Widen a narrow input before CPU-heavy per-row work: a single small
    * parquet file scans as 1-2 partitions, serializing the downstream
    * map/explode on a couple of cores. Gated on the LEAF FILE COUNT
    * (`inputFiles`, answered from the already-listed FileIndex) instead
    * of `.rdd.getNumPartitions`, which forces a full physical-plan/RDD
    * conversion that is then thrown away. No-op at scale (file count ≥
    * cluster parallelism — no extra shuffle there); callers' downstream
    * aggregates must be order-independent, since the round-robin
    * repartition perturbs row order. */
  private[graft] def widen(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.inputFiles.length < par) df.repartition(par) else df
  }

  def tokens(text: Column): Column = split(text, " ")

  def distinctTokens(text: Column): Column = array_distinct(tokens(text))

  /** Word n-gram shingles, distinct. Yields an empty array for docs with
    * fewer than `n` tokens.
    *
    * Built with zip_with over shifted slices, NOT element_at inside a
    * transform lambda: a lambda body re-evaluates captured expressions per
    * ELEMENT, so element_at(split(text), i+k) costs n full re-splits per
    * gram — O(n·len²) per document (the known HOF inline blowup; at n=13
    * it made curation's decontamination stage the corpus bottleneck:
    * 12.1 s → 1.5 s at sf0.1). zip_with evaluates its operand arrays once
    * per ROW; concat propagates the null padding of the short side, so the
    * tail yields nulls — filtered before dedup. */
  def shingles(text: Column, n: Int = 3): Column =
    array_distinct(positionalGrams(text, n))

  /** Word n-grams in POSITION ORDER (no dedup): element i is the gram
    * starting at token i, so `posexplode` over this array yields
    * (0-based start, gram) pairs — the layout span-level operators need
    * ([[duplicateSpans]]). Same zip_with construction as [[shingles]]
    * (one token walk per row, no per-element re-split); the filter drops
    * only the TAIL nulls from the short-side padding, so positions stay
    * aligned with token offsets. */
  private[graft] def positionalGrams(text: Column, n: Int): Column = {
    val w = tokens(text)
    val grams = (1 until n).foldLeft(w) { (acc, k) =>
      zip_with(acc, slice(w, lit(k + 1), greatest(size(w) - k, lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    when(size(w) >= n, filter(grams, _.isNotNull))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact dedup groups: one row per distinct content hash with the
    * representative (min id) and the duplicate count.
    * Scale: single hash-partitioned groupBy; partial aggregation map-side. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup: keep only the representative row per distinct content. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** All MinHash signature values as ONE array<long> column, computed in a
    * single native pass ([[graft.functions.MinHashSig]] — codegen'd, one
    * split + one shingle walk per row). NULL for docs with fewer than
    * `shingleSize` tokens. */
  def minhashSignature(text: Column, numPerms: Int, shingleSize: Int = 3): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.MinHashSig(
      GraftColumnBridge.expression(text), numPerms, shingleSize))
  }

  /** MinHash signature columns mh0..mh{p-1} — element_at views over
    * [[minhashSignature]]. Map-side, no explode, no shuffle. */
  def minhashColumns(text: Column, numPerms: Int, shingleSize: Int = 3): Seq[Column] = {
    val sig = minhashSignature(text, numPerms, shingleSize)
    (0 until numPerms).map(i => element_at(sig, i + 1).as(s"mh$i"))
  }

  /** Byte-identical texts collapsed to their min-id representative — the
    * mandatory FIRST step of the LSH path at scale. Exact duplicates are
    * the dominant duplicate class in real web corpora and always collide in
    * every band, so without collapsing, a group of k identical docs costs
    * k²/2 candidate pairs per band in the self-join AND k²/2 verify
    * evaluations; collapsed, the group costs ONE banded row and zero
    * verifications. Returns (members: (id, rid), reps: (rid, text)) —
    * distinct reps ⇒ distinct texts, so no two candidate reps are ever
    * byte-equal. */
  private def collapseExact(
      docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): (DataFrame, DataFrame) = {
    // widen narrow inputs before the CPU-heavy hashing map: a single small
    // parquet file scans as ONE partition, which would serialize all
    // hashing on one core. No-op when the input is already at least as wide
    // as the cluster (the 100 TB case — no extra shuffle there).
    val spark = docs.sparkSession
    val wide = widen(docs)

    val kept = wide
      .filter(size(tokens(col(textCol))) >= shingleSize)
      .select(col(idCol).as("id"), col(textCol).as("text"),
        md5(col(textCol)).as("fp"))
    // min(text) over byte-identical members IS the text; partial aggregation
    // keeps one copy per fp per map task, so texts shuffle once
    val reps = kept.groupBy(col("fp"))
      .agg(min(col("id")).as("rid"), min(col("text")).as("text"))
    val members = kept.select(col("fp"), col("id"))
      .join(reps.select(col("fp"), col("rid")), "fp")
      .select(col("id"), col("rid"))
    // Both frames feed 3+ join branches downstream (banding, two pair
    // join-backs, intra-group expansion) and Spark does NOT ReusedExchange
    // them (measured on x17: 24 parquet re-scans, 0 reuse) — without
    // materialization every branch re-reads the corpus and re-runs the md5
    // groupBy. Eager materialization stores each ONCE (memory-and-disk,
    // spillable) and truncates lineage; at 100 TB these are the distinct
    // texts + an (id, rid) long pair — far smaller than the corpus a
    // re-scan would touch. Set graft.checkpointDir for a cluster-durable
    // copy that survives executor loss (see [[materialize]]).
    (materialize(members), materialize(reps.select(col("rid"), col("text"))))
  }

  /** Band-bucket candidate pairs among exact-dup REPRESENTATIVES:
    * (rid_a, rid_b, text_a, text_b), rid_a < rid_b, distinct. Only
    * (rid, band, bucket) enters the self-join — texts would otherwise ride
    * the shuffle ×numBands and ×2 per pair through the distinct; they are
    * joined back once, after pair dedup. */
  /** Per-band bucket keys over a `sig` column: one md5 per band of
    * `rowsPerBand` signature values. References `sig` ONCE so the
    * signature is computed once per row. */
  private def bandBuckets(numPerms: Int, rowsPerBand: Int): Column = {
    require(numPerms % rowsPerBand == 0, "numPerms must be divisible by rowsPerBand")
    val numBands = numPerms / rowsPerBand
    transform(
      sequence(lit(0), lit(numBands - 1)),
      b => md5(concat_ws(",", transform(
        slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
        _.cast("string")))))
  }

  private def repCandidates(
      reps: DataFrame,
      numPerms: Int,
      rowsPerBand: Int,
      shingleSize: Int): DataFrame = {
    // one row per (rep, band) with the band's bucket key
    val banded = reps
      .select(col("rid"),
        minhashSignature(col("text"), numPerms, shingleSize).as("sig"))
      .select(col("rid"),
        posexplode(bandBuckets(numPerms, rowsPerBand)).as(Seq("band", "bucket")))

    val a = banded.as("a")
    val b = banded.as("b")
    val pairIds = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.rid") < col("b.rid"))
      .select(col("a.rid").as("rid_a"), col("b.rid").as("rid_b"))
      .distinct()
    pairIds
      .join(reps.select(col("rid").as("rid_a"), col("text").as("text_a")), "rid_a")
      .join(reps.select(col("rid").as("rid_b"), col("text").as("text_b")), "rid_b")
      .select("rid_a", "rid_b", "text_a", "text_b")
  }

  /** Expand verified representative pairs back to MEMBER pairs. Sound
    * because similarity is a function of the texts alone: every member
    * carries its rep's exact bytes, so a verified (rep_a, rep_b, value)
    * holds verbatim for all |A|·|B| member combinations, and every
    * intra-group pair holds with the perfect score (identical texts).
    * The |A|·|B| fan-out is inherent to the pairs CONTRACT, not the
    * algorithm — downstream [[components]] consumers pay it once here
    * instead of k² times in banding + verification. */
  private def expandVerified(
      repPairs: DataFrame, // (rid_a, rid_b, <valueCol>)
      members: DataFrame,  // (id, rid)
      valueCol: String,
      perfect: Column): DataFrame = {
    val cross = repPairs
      .join(members.select(col("rid").as("rid_a"), col("id").as("ida")), "rid_a")
      .join(members.select(col("rid").as("rid_b"), col("id").as("idb")), "rid_b")
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"), col(valueCol))
    val intra = members.select(col("rid"), col("id").as("ida"))
      .join(members.select(col("rid"), col("id").as("idb")), "rid")
      .filter(col("ida") < col("idb"))
      .select(col("ida").as("id_a"), col("idb").as("id_b"),
        perfect.as(valueCol))
    cross.unionByName(intra)
  }

  /** MinHash + LSH band-bucket candidate pairs — the blocking step of
    * [[lshPairs]] / [[editDistanceLshPairs]], expanded to member level.
    * Output: (id_a, id_b, text_a, text_b), a < b, distinct.
    *
    * Cost at scale: O(n · perms) map-side signature work over DISTINCT
    * texts, then ONE shuffle on the (band, bucket) equi-join key — never
    * O(n²), and never k²-per-band for exact-duplicate groups (collapsed
    * first, see [[collapseExact]]). Prefer the verified wrappers: they
    * verify BEFORE expanding, so dup groups never re-verify. */
  def lshCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numPerms: Int = 16,
      rowsPerBand: Int = 4,
      shingleSize: Int = 3): DataFrame = {
    val (members, reps) = collapseExact(docs, idCol, textCol, shingleSize)
    val swap = col("ida") > col("idb") // texts must travel with their ids
    val cross = repCandidates(reps, numPerms, rowsPerBand, shingleSize)
      .join(members.select(col("rid").as("rid_a"), col("id").as("ida")), "rid_a")
      .join(members.select(col("rid").as("rid_b"), col("id").as("idb")), "rid_b")
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"),
        when(swap, col("text_b")).otherwise(col("text_a")).as("text_a"),
        when(swap, col("text_a")).otherwise(col("text_b")).as("text_b"))
    val intra = members.select(col("rid"), col("id").as("ida"))
      .join(members.select(col("rid"), col("id").as("idb")), "rid")
      .filter(col("ida") < col("idb"))
      .join(reps, "rid")
      .select(col("ida").as("id_a"), col("idb").as("id_b"),
        col("text").as("text_a"), col("text").as("text_b"))
    cross.unionByName(intra)
  }

  /** MinHash + LSH near-dup pairs: [[lshCandidates]] verified with exact
    * shingle-Jaccard ≥ `threshold` — the SAME similarity the signatures
    * approximate (token Jaccard would pass order-scrambled docs the minhash
    * never collides on). Jaccard runs only on candidates, via the native
    * single-pass [[graft.functions.ShingleJaccard]]. */
  def lshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numPerms: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      shingleSize: Int = 3): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val jac = GraftColumnBridge.column(graft.functions.ShingleJaccard(
      GraftColumnBridge.expression(col("text_a")),
      GraftColumnBridge.expression(col("text_b")), shingleSize))
    // verify at REP level (distinct texts only — a dup group of k never
    // pays k² shingle walks), then expand: intra-group pairs are exactly
    // 1.0 (identical texts), cross-group pairs inherit the rep value
    val (members, reps) = collapseExact(docs, idCol, textCol, shingleSize)
    // materialize the verified pairs BEFORE expanding: `verified` is only a
    // Project+Filter over joins, so Catalyst otherwise collapses it into
    // the member-level expansion and the verify expression re-runs per
    // MEMBER pair (measured on x18: 24.8k member rows x3 evals instead of
    // ~250 rep rows — 13 s of a 14 s query). The frame is tiny (pairs that
    // passed the threshold), so the checkpoint is effectively free and
    // also stops orderBy's range-sampling pass from re-verifying.
    val verified = repCandidates(reps, numPerms, rowsPerBand, shingleSize)
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= threshold)
      .select("rid_a", "rid_b", "jaccard")
      .pipe(materialize)
    expandVerified(verified, members, "jaccard", lit(1.0))
      .select("id_a", "id_b", "jaccard")
  }

  /** INCREMENTAL MinHash+LSH near-dup pairs: a NEW batch of documents
    * checked against an EXISTING (already-deduplicated) corpus — the way a
    * production pipeline actually ingests data, where re-deduplicating
    * 100 TB for each day's arrival is impossible. Returns every
    * (new_id, old_id, jaccard) with shingle-Jaccard ≥ `threshold`; pairs
    * WITHIN the corpus or WITHIN the batch are never generated, banded
    * into the join, or verified — the corpus side contributes only
    * O(|corpus| · bands) map-side rows to an asymmetric equi-join, never
    * the quadratic corpus×corpus candidate set [[lshPairs]]'s self-join
    * would form. Batch-internal dedup is a separate (cheap) [[lshPairs]]
    * call over the batch alone.
    *
    * Shape: exact-collapse over the tagged union (a batch doc byte-equal
    * to a corpus doc lands in the SAME rep group and surfaces through the
    * intra-group path with jaccard = 1.0 exactly), band reps once, then
    * join {reps containing a batch member} against {reps containing a
    * corpus member} on (band, bucket) — verification runs only on those
    * cross rep pairs. Ids must be unique across corpus ∪ batch (same
    * contract as one [[lshPairs]] frame). At steady state the corpus's
    * banded-signature frame is deterministic and worth persisting between
    * ingests; this operator recomputes it from the corpus column, which
    * keeps the API self-contained.
    *
    * LIMITATION (both incremental variants): documents below
    * `shingleSize` tokens are dropped before the exact-fp collapse, so a
    * byte-identical SHORT duplicate of a corpus doc emits no pair here —
    * the streaming ingests close this with an explicit fingerprint
    * check against the corpus/reps
    * ([[graft.streaming.DedupStream.nearDupIngest]] and the state
    * variant); batch callers that care about sub-shingle docs should
    * anti-join the batch's `md5(text)` against the corpus the same way.
    * Folding that check into this operator (filter only the BANDING
    * stage, not the collapse) is the cleaner long-term shape.
    *
    * The reference has no incremental anything (it reprocesses each upload
    * whole, etl_pipeline.py:239-261); north-star scope. */
  def incrementalLshPairs(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      numPerms: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      shingleSize: Int = 3): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val jac = GraftColumnBridge.column(graft.functions.ShingleJaccard(
      GraftColumnBridge.expression(col("text_a")),
      GraftColumnBridge.expression(col("text_b")), shingleSize))

    val tagged = corpus
      .select(col(idCol).as("id"), col(textCol).as("text"), lit(0).as("side"))
      .unionByName(batch
        .select(col(idCol).as("id"), col(textCol).as("text"), lit(1).as("side")))
    val spark = tagged.sparkSession
    val wide = widen(tagged)

    // side-aware exact collapse (collapseExact, plus per-rep side flags):
    // has_new/has_old say whether any member of the rep group came from the
    // batch/corpus — the asymmetric band join keys off them
    val kept = wide
      .filter(size(tokens(col("text"))) >= shingleSize)
      .select(col("id"), col("text"), col("side"), md5(col("text")).as("fp"))
    val repsAll = kept.groupBy(col("fp"))
      .agg(min(col("id")).as("rid"), min(col("text")).as("text"),
        (max(col("side")) === 1).as("has_new"),
        (min(col("side")) === 0).as("has_old"))
    val members = kept.select(col("fp"), col("id"), col("side"))
      .join(repsAll.select(col("fp"), col("rid")), "fp")
      .select(col("id"), col("rid"), col("side"))
      .pipe(materialize)
    val reps = materialize(
      repsAll.select(col("rid"), col("text"), col("has_new"), col("has_old")))

    // band once, join asymmetrically: only {has_new} × {has_old} meet, so
    // corpus×corpus (and batch×batch) bucket pairs never exist
    val banded = reps
      .select(col("rid"), col("has_new"), col("has_old"),
        minhashSignature(col("text"), numPerms, shingleSize).as("sig"))
      .select(col("rid"), col("has_new"), col("has_old"),
        posexplode(bandBuckets(numPerms, rowsPerBand)).as(Seq("band", "bucket")))
    val pairIds = banded.filter(col("has_new")).as("a")
      .join(banded.filter(col("has_old")).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.rid") =!= col("b.rid"))
      .select(least(col("a.rid"), col("b.rid")).as("rid_a"),
        greatest(col("a.rid"), col("b.rid")).as("rid_b"))
      .distinct()
    val verified = pairIds
      .join(reps.select(col("rid").as("rid_a"), col("text").as("text_a")), "rid_a")
      .join(reps.select(col("rid").as("rid_b"), col("text").as("text_b")), "rid_b")
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= threshold)
      .select("rid_a", "rid_b", "jaccard")
      .pipe(materialize) // same collapse-prevention as in [[lshPairs]]

    // expand to (new_id, old_id): the batch member may live in EITHER rep
    // of a verified pair, so expand both orientations; a rep group holding
    // both sides (exact cross-boundary dups) contributes its new×old
    // member pairs at exactly 1.0. Each (new, old) pair maps to exactly
    // one (rep(new), rep(old)) combination, so no duplicates arise.
    val mNew = members.filter(col("side") === 1).select(col("rid"), col("id"))
    val mOld = members.filter(col("side") === 0).select(col("rid"), col("id"))
    def orient(ra: String, rb: String): DataFrame = verified
      .join(mNew.select(col("rid").as(ra), col("id").as("new_id")), ra)
      .join(mOld.select(col("rid").as(rb), col("id").as("old_id")), rb)
      .select("new_id", "old_id", "jaccard")
    val intra = mNew.select(col("rid"), col("id").as("new_id"))
      .join(mOld.select(col("rid"), col("id").as("old_id")), "rid")
      .select(col("new_id"), col("old_id"), lit(1.0).as("jaccard"))
    orient("rid_a", "rid_b").unionByName(orient("rid_b", "rid_a"))
      .unionByName(intra)
  }

  /** PERSISTED corpus LSH state — the steady-state companion to
    * [[incrementalLshPairs]]. That operator recomputes the corpus's
    * minhash signatures on every ingest: an O(corpus) shingle-walk ×
    * numPerms CPU pass per batch, which at 100 TB dwarfs the batch
    * itself. This pair of functions moves the corpus side to parquet,
    * computed ONCE per document ever:
    *
    *   - `dir/reps`:    (fp, rid, text)     — distinct texts + min-id rep
    *   - `dir/members`: (id, rid)           — every doc's rep assignment
    *   - `dir/bands`:   (rid, band, bucket) — banded minhash signatures
    *
    * [[appendLshState]] creates or extends the state (a doc byte-equal to
    * an existing corpus doc joins the existing rep group — the anti-join
    * on fp is a column-pruned scan of one string column, the only
    * corpus-sized touch, and it reads two narrow columns, never texts).
    * [[incrementalLshPairsFromState]] then answers each ingest from the
    * state: per-batch signature COMPUTE is O(batch); the corpus
    * contributes a narrow columnar scan of precomputed
    * (rid, band, bucket) rows into the asymmetric band join.
    *
    * Replay safety (streaming foreachBatch is at-least-once): pass
    * `batchTag` and each append lands in its own `batch_id=N` partition
    * with overwrite — a replayed batch overwrites its previous append
    * instead of duplicating it, the same idempotent-partition pattern
    * [[graft.streaming.DedupStream.nearDupIngest]] uses for the corpus
    * itself. Do not mix tagged and untagged appends in one state dir
    * (partition discovery needs a uniform layout).
    *
    * Failure posture: the three table writes are separate jobs, not one
    * atomic commit. They run bands → reps → members, ordered so a crash
    * mid-append can only leave DANGLING state, never lying state: bands
    * whose rid is absent from reps produce blocking candidates that the
    * verification join (inner on reps) discards — wasted work, never a
    * wrong or silently-dropped pair. A failed UNTAGGED append should be
    * re-run with the same batch, and the re-run is fully idempotent:
    * reps whose fp landed are skipped (fp anti-join), member rows whose
    * (id, rid) landed are skipped (anti-join against the members table —
    * so a retry after the members job committed, e.g. a driver crash
    * after commit or an orchestrator blind retry, appends nothing twice),
    * and re-created band rows are absorbed by the candidate `distinct()`.
    * The members anti-join scans the members table once per UNTAGGED
    * append — steady-state ingest should use tagged mode, which needs no
    * re-run discipline at all (the replayed batch overwrites its own
    * partition whole) and pays no such scan. Untagged appends that are
    * abandoned (never re-run) leave the batch's docs out of the corpus
    * state — not failure-safe.
    *
    * The signature parameters (numPerms, rowsPerBand, shingleSize) are
    * persisted to `dir/_meta` on first append and VALIDATED on every
    * later append and read — signatures computed under different
    * parameters silently produce empty or incomplete band joins, so a
    * mismatch fails fast instead. (Underscore-prefixed, so parquet
    * discovery of the data tables never sees it.)
    *
    * Ids must be unique across the whole corpus ∪ every batch (same
    * contract as [[incrementalLshPairs]]). */
  def appendLshState(
      docs: DataFrame, idCol: String, textCol: String, dir: String,
      numPerms: Int = 16, rowsPerBand: Int = 4, shingleSize: Int = 3,
      batchTag: Option[Long] = None): Unit =
    StateIO.withWriterLock(docs.sparkSession, dir) {
      appendLshStateLocked(docs, idCol, textCol, dir, numPerms,
        rowsPerBand, shingleSize, batchTag)
    }

  private def appendLshStateLocked(
      docs: DataFrame, idCol: String, textCol: String, dir: String,
      numPerms: Int, rowsPerBand: Int, shingleSize: Int,
      batchTag: Option[Long]): Unit = {
    val spark = docs.sparkSession
    // before the first-contact _meta write: a marked dir stays untouched
    StatePillar.Lsh.checkWritable(spark, dir)
    checkLshMeta(spark, dir, numPerms, rowsPerBand, shingleSize,
      writeIfAbsent = true)
    // consistency guard: bands/members without reps is a compaction-crash
    // remnant, NOT a fresh dir — treating it as empty would rebuild reps
    // from this batch alone and every later pair read would silently
    // miss the old corpus. Fail with the recovery step instead.
    locally {
      def p(name: String) = new org.apache.hadoop.fs.Path(dir, name)
      val fs = p("reps").getFileSystem(spark.sessionState.newHadoopConf())
      require(fs.exists(p("reps")) ||
          (!fs.exists(p("members")) && !fs.exists(p("bands"))),
        s"LSH state at $dir has bands/members but no reps table — " +
          "likely a compaction or restore accident; repair the dir " +
          "before appending (a fresh-corpus rebuild here would silently " +
          "orphan the existing membership)")
    }
    StateIO.checkTagAboveFloor(spark, dir, batchTag, "append")
    val wide = widen(docs)
    // NO short-doc filter here: the state IS the corpus (reps carry every
    // accepted text, members every accepted id), so docs below the
    // shingle size are retained in reps/members — they simply get no
    // bands (un-shingleable ⇒ un-bandable), which matches the pair
    // operators' contract of never pairing them
    val kept = materialize(wide
      .select(col(idCol).as("id"), col(textCol).as("text"),
        md5(col(textCol)).as("fp")))
    // on replay, the batch's own previous append must not make its fps
    // look pre-existing (that would empty the reps/bands overwrite and
    // lose the group's signatures)
    // PATH_NOT_FOUND-only: a transient failure reading the reps table must
    // crash the append, not masquerade as a fresh dir (which would re-sign
    // every batch fp as "new" and duplicate reps/bands for existing groups)
    val existing = StateIO.readTableIfExists(spark, dir, "reps")
      .map { r =>
        batchTag.filter(_ => r.columns.contains("batch_id"))
          .map(t => r.filter(col("batch_id") =!= t)).getOrElse(r)
          .select(col("fp"), col("rid"))
      }
    val groups = kept.groupBy(col("fp"))
      .agg(min(col("id")).as("rid"), min(col("text")).as("text"))
    val newGroupsLazy = existing match {
      case Some(e) => groups.join(e.select("fp"), Seq("fp"), "left_anti")
      case None => groups
    }
    // a null signature (short doc) must NOT band: slice(null) feeds
    // concat_ws as an empty string and every short doc would collide
    // on md5("") in every band
    def bandRows(g: DataFrame): DataFrame = g
      .select(col("rid"),
        minhashSignature(col("text"), numPerms, shingleSize).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("rid"),
        posexplode(bandBuckets(numPerms, rowsPerBand)).as(Seq("band", "bucket")))
    batchTag match {
      case Some(t) =>
        // TAGGED append: write reps FIRST and read the batch's own
        // partition back — the read-back replaces the old newGroups
        // checkpoint (one fewer full write+read of the group set per
        // append; the write-then-read posture the postings totals use),
        // and the complete rid map is then simply the reps TABLE: old
        // partitions ∪ the just-written batch partition = exactly
        // existing ∪ newGroups, since `existing` excluded this tag and
        // the overwrite replaced it. The reps write's own scan prunes
        // the batch_id=$t partition out (partition-level filter), so it
        // never reads the files it replaces. Crash order is strictly
        // SAFER than the old bands→reps→members sequence: the
        // consistency guard above rejects bands/members without reps —
        // a state the old first-append crash window could leave.
        val repsPath = StateIO.tablePath(spark, dir, "reps")
        val repsPart = s"$repsPath/batch_id=$t"
        val newReps = newGroupsLazy.select(col("fp"), col("rid"), col("text"))
        val repsSchema = newReps.schema
        newReps.write.mode("overwrite").parquet(repsPart)
        // explicit schema: an all-known batch writes an EMPTY partition
        // (zero new groups) that schema inference cannot read back
        val newGroupsBack = spark.read.schema(repsSchema).parquet(repsPart)
        val ridOfAll = spark.read.schema(repsSchema).parquet(repsPath)
          .select(col("fp"), col("rid"))
        val memberRows = kept.select(col("fp"), col("id"))
          .join(ridOfAll, "fp").select(col("id"), col("rid"))
        // bands and members are INDEPENDENT writes on disjoint tables
        // (bands reads the batch's reps partition, members the full reps
        // table + the kept checkpoint), so they overlap on a bounded
        // pool (guide §2.6). Partition overwrite keeps every write
        // idempotent on replay.
        StateIO.runOverlapped(Seq(
          () => bandRows(newGroupsBack).write.mode("overwrite")
            .parquet(s"${StateIO.tablePath(spark, dir, "bands")}/batch_id=$t"),
          () => memberRows.write.mode("overwrite")
            .parquet(s"${StateIO.tablePath(spark, dir, "members")}/batch_id=$t")))
      case None =>
        // UNTAGGED append: reps lands with mode=append, so there is no
        // partition to read back — keep the checkpointed group set
        val newGroups = materialize(newGroupsLazy)
        val ridOf = existing match {
          case Some(e) => e.unionByName(newGroups.select(col("fp"), col("rid")))
          case None => newGroups.select(col("fp"), col("rid"))
        }
        val memberRowsAll = kept.select(col("fp"), col("id"))
          .join(ridOf, "fp").select(col("id"), col("rid"))
        // untagged appends need the fence: the anti-join reads the very
        // members table the last write appends to — pinned (eager
        // checkpoint) BEFORE any write so the append can't leak into its
        // own scan. O(batch) rows.
        // same PATH_NOT_FOUND-only rule: a swallowed members-read failure
        // would skip the retry anti-join and duplicate member rows
        val memberRows =
          materialize(StateIO.readTableIfExists(spark, dir, "members") match {
            case Some(m) => memberRowsAll.join(
              m.select(col("id"), col("rid")), Seq("id", "rid"), "left_anti")
            case None => memberRowsAll
          })
        def write(df: DataFrame, table: String): Unit =
          df.write.mode("append").parquet(StateIO.tablePath(spark, dir, table))
        write(bandRows(newGroups), "bands")
        write(newGroups.select(col("fp"), col("rid"), col("text")), "reps")
        write(memberRows, "members")
    }
  }

  /** Validate (and on first contact optionally persist) an LSH state
    * dir's signature parameters. A state whose bands were computed under
    * different (numPerms, rowsPerBand, shingleSize) doesn't ERROR against
    * a differently-parameterized query — the band join simply finds
    * nothing (or too little) and near-dups are silently missed. So the
    * parameters travel with the state and a mismatch throws. Absent meta
    * (a pre-parameter state dir) validates vacuously. */
  private def checkLshMeta(
      spark: SparkSession, dir: String, numPerms: Int, rowsPerBand: Int,
      shingleSize: Int, writeIfAbsent: Boolean): Unit = {
    val path = s"$dir/_meta"
    // only PATH-NOT-FOUND means "no meta yet"; any other failure (FS
    // error, permissions) must propagate — swallowing it would let a
    // mismatched-parameter call through, the exact silent pair miss this
    // file exists to prevent
    val row =
      try Some(
        spark.read.schema("num_perms LONG, rows_per_band LONG, shingle_size LONG")
          .json(path).head())
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" => None
        case _: java.util.NoSuchElementException => None // empty dir
      }
    row match {
      case Some(m) =>
        require(!m.anyNull,
          s"LSH state meta at $path is corrupt (missing fields) — " +
            "rebuild the state or restore the _meta file")
        val stored = (m.getLong(0).toInt, m.getLong(1).toInt, m.getLong(2).toInt)
        require(stored == ((numPerms, rowsPerBand, shingleSize)),
          s"LSH state at $dir was built with (numPerms, rowsPerBand, " +
            s"shingleSize) = $stored but was called with " +
            s"(${numPerms}, ${rowsPerBand}, ${shingleSize}); mismatched " +
            "signature parameters silently miss near-dup pairs. Use the " +
            "stored parameters or rebuild the state.")
      case None if writeIfAbsent =>
        import spark.implicits._
        Seq((numPerms.toLong, rowsPerBand.toLong, shingleSize.toLong))
          .toDF("num_perms", "rows_per_band", "shingle_size")
          .coalesce(1).write.mode("overwrite").json(path)
      case None => ()
    }
  }

  /** Compact an [[appendLshState]] state dir in place — the maintenance
    * job for steady-state ingest: every append lands one small parquet
    * file-set per table, so thousands of batches produce the classic
    * small-file problem (listing cost, tiny row groups, per-file open
    * overhead on every read). This rewrites each table (`bands`, `reps`,
    * `members`) into ~`targetBytes`-sized files, preserving the
    * `batch_id=N` partition layout of tagged states (so replay-overwrite
    * semantics survive compaction) and the `_meta` parameter file
    * untouched. Bands and members are `distinct()`-ed during the rewrite
    * — absorbing any historical duplicate rows from pre-idempotency
    * untagged re-runs; the pair output is provably unchanged (bands feed
    * a candidate `distinct()`, members are unique per (id, rid) in a
    * healthy state — ExtSpec pins pair parity before/after).
    *
    * Swap discipline (parquet dirs can't be replaced atomically on HDFS
    * -likes): write to `<table>__compact_tmp`, rename the live table to
    * `<table>__compact_bak`, rename tmp into place, drop the backup. A
    * crash between the two renames leaves the backup intact — recover by
    * renaming it back. Like any compaction, run it OFFLINE: concurrent
    * appends or reads during the swap see a missing table. */
  def compactLshState(
      spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20): Unit =
    // apply tombstones ([[deleteFromLshState]]) physically during the
    // rewrite: deleted member rows drop, and reps/bands of groups with NO
    // surviving member drop with them. The surviving-rid set is
    // materialized from the LIVE tables BEFORE any swap so every table's
    // rewrite sees the same consistent snapshot.
    StatePillar.Lsh.compact(spark, dir,
      Seq("bands" -> true, "reps" -> false, "members" -> true), targetBytes,
      dropFrom = Seq("members"), more = _.map { tb =>
        val survivingRids = materialize(StatePillar.Lsh.minus(Some(tb))(
          spark.read.parquet(StateIO.tablePath(spark, dir, "members")))
          .select(col("rid")).distinct())
        val dropDeadRids: DataFrame => DataFrame =
          _.join(survivingRids, Seq("rid"), "left_semi")
        Map("reps" -> dropDeadRids, "bands" -> dropDeadRids)
      }.getOrElse(Map.empty))

  /** DELETE documents from an [[appendLshState]] dir — the tombstone path
    * for the text-LSH pillar: the engine's own curation (substring
    * excision, decontamination, collapse) REMOVES documents, and without
    * deletes their stale signatures keep matching (and rejecting) new
    * arrivals until a full state rebuild. O(|ids|) write, no state table
    * is read or rewritten here:
    *
    *  - `tombstones` gains the deleted ids; every read
    *    ([[incrementalLshPairsFromState]], the streaming ingest) drops
    *    deleted members and — via a surviving-member semi-join — the
    *    reps of fully-deleted groups, so a new byte-identical document
    *    signs fresh instead of matching a ghost.
    *  - [[compactLshState]] later applies tombstones physically.
    *
    * Replay/retry: tagged deletes land in their own `delete_id=N`
    * partition with overwrite (at-least-once safe); untagged deletes
    * anti-join already-tombstoned ids so a blind re-run is a no-op.
    *
    * Contract: a deleted id must NEVER be re-appended later — the
    * tombstone filters it forever (ids are unique across the state's
    * lifetime, the same contract the pair operators already carry). */
  def deleteFromLshState(
      spark: SparkSession, dir: String, ids: DataFrame, idCol: String,
      deleteTag: Option[Long] = None): Unit =
    StatePillar.Lsh.delete(spark, dir, ids, col(idCol), deleteTag)

  /** Shared state-dir compaction engine ([[StatePillar.compact]],
    * [[Similarity.compactGraphState]]): rewrite each `(table, dedup?)`
    * into ~targetBytes files with the backup-swap rename discipline
    * documented on [[compactLshState]]. `dedup = true` distinct()s rows
    * during the rewrite (for tables where historical duplicates are
    * absorbable); row CONTENT is otherwise preserved exactly — only the
    * file layout changes — unless the table has an entry in `transforms`
    * (the tombstone-application hook: the delete paths rewrite
    * postings/docs/members WITHOUT the deleted rows here). Both the
    * `batch_id` (appends) and `delete_id` (tombstone batches) partition
    * layouts are preserved so replay-overwrite semantics survive
    * compaction. `extraPartitionCols` names partition levels BELOW those
    * that the rewrite must preserve (e.g. the postings state's term
    * bucket — flattening it would silently turn partition-pruned lookups
    * into full-index scans). The caller runs the write guard first
    * ([[StatePillar.checkWritable]]): a leftover `__compact_bak` means an
    * earlier compaction crashed between its two renames, and rewriting
    * over it would silently corrupt the table. */
  private[ext] def compactStateTables(
      spark: SparkSession, dir: String, tables: Seq[(String, Boolean)],
      targetBytes: Long,
      extraPartitionCols: Seq[String] = Nil,
      transforms: Map[String, DataFrame => DataFrame] = Map.empty): Unit =
      StateIO.withWriterLock(spark, dir) {
    compactStateTablesUnlocked(spark, dir, tables, targetBytes,
      extraPartitionCols, transforms)
  }

  /** [[compactStateTables]] without the lock acquisition — for callers
    * that already hold the dir's writer lock on ANOTHER thread (the
    * lock's reentrancy is thread-local, so a holder overlapping
    * independent per-table rewrites from a pool — guide §2.6 — must
    * route them here; [[Similarity.compactGraphState]] does). */
  private[ext] def compactStateTablesUnlocked(
      spark: SparkSession, dir: String, tables: Seq[(String, Boolean)],
      targetBytes: Long,
      extraPartitionCols: Seq[String] = Nil,
      transforms: Map[String, DataFrame => DataFrame] = Map.empty): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    def rewriteOne(table: String, dedup: Boolean): Unit = {
      // resolve through the dir's manifest: a previously-versioned
      // table's live content is in its __vNNNN dir, not the plain path
      val path = new org.apache.hadoop.fs.Path(
        StateIO.tablePath(spark, dir, table))
      val fs = path.getFileSystem(hconf)
      if (fs.exists(path)) {
        val nFiles = math.max(1, math.ceil(
          fs.getContentSummary(path).getLength.toDouble / targetBytes).toInt)
        // ALREADY-COMPACT SKIP (pure-layout tables only — dedup or a
        // transform CHANGES rows and must always rewrite): the rewrite
        // below produces exactly ONE file per leaf partition dir
        // (repartition by the partition columns clusters each dir's rows
        // into one task), or `nFiles` flat files for unpartitioned
        // tables. When the table ALREADY has that layout the rewrite is
        // a byte-for-byte no-op costing a full decode+encode of the
        // table — corpus-sized at scale. Decided from the directory
        // listing plus ONE driver-side parquet footer, BEFORE any
        // spark.read: creating the DataFrame relation costs a file-
        // listing job per table, which a skipped table never needs. The
        // deltas' own writes cluster per partition (repartition(col)),
        // so steady state reaches this layout and compaction cadence
        // only pays for genuinely fragmented tables.
        if (!dedup && !transforms.contains(table) &&
            alreadyCompactListed(fs, path, hconf, extraPartitionCols,
              nFiles, targetBytes)) return
        val df = spark.read.parquet(path.toString)
        val deduped = if (dedup) df.distinct() else df
        val clean = transforms.get(table).map(_(deduped)).getOrElse(deduped)
        // tagged: hash-cluster by batch so each partition dir gets ONE
        // file (parquet is splittable — a big backfill batch still reads
        // in parallel); untagged: plain round-robin to nFiles (but always
        // cluster by the extra partition levels so each preserved
        // partition dir gets whole files, not nFiles slivers)
        val partCols =
          Seq("batch_id", "delete_id").filter(clean.columns.contains) ++
            extraPartitionCols.filter(clean.columns.contains)
        val sized =
          if (partCols.nonEmpty)
            clean.repartition(nFiles, partCols.map(col): _*)
          else clean.repartition(nFiles)
        if (StateIO.manifestMode(spark, dir)) {
          // object-store-safe substrate: each table's layout rewrite is
          // an independent versioned swap (per-table atomicity is the
          // same guarantee the rename branch below gives)
          StateIO.swapInTable(spark, dir, table, sized, partCols)
        } else {
          val tmp = new org.apache.hadoop.fs.Path(dir, s"${table}__compact_tmp")
          val bak = new org.apache.hadoop.fs.Path(dir, s"${table}__compact_bak")
          fs.delete(tmp, true); fs.delete(bak, true)
          val w = sized.write.mode("overwrite")
          (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
            .parquet(tmp.toString)
          require(fs.rename(path, bak), s"compact: cannot move $path aside")
          if (!fs.rename(tmp, path)) {
            fs.rename(bak, path) // restore the live table before failing
            throw new IllegalStateException(s"compact: cannot swap in $tmp")
          }
          fs.delete(bak, true)
        }
      }
    }
    // each table's rewrite reads and writes only its own paths, and in
    // rename mode each swap is per-table atomic — so the rewrites
    // OVERLAP on a bounded pool (guide §2.6: one table's write tail
    // back-fills with the next table's scan). Manifest mode stays
    // sequential: versioned swaps publish through the dir's ONE
    // `_versions` pointer, a read-modify-write that must not race.
    if (StateIO.manifestMode(spark, dir))
      tables.foreach { case (table, dedup) => rewriteOne(table, dedup) }
    else
      StateIO.runOverlapped(tables.map { case (table, dedup) =>
        () => rewriteOne(table, dedup)
      })
  }

  /** True iff the table at `path` already has the exact layout the
    * compaction rewrite would produce — decided WITHOUT creating a
    * DataFrame (creating one costs a file-listing job per table, which
    * a skipped table never needs):
    *
    *  - the partition LEVELS are read off the directory names top-down
    *    and must equal, in order, the candidate list (`batch_id`,
    *    `delete_id`, then `extraPartitionCols`) restricted to columns
    *    the table actually carries;
    *  - whether a candidate hides as a DATA column (which the rewrite
    *    would hoist to a partition level — a layout change the listing
    *    alone cannot see) is checked against ONE leaf file's parquet
    *    footer — a driver-side metadata read, no job;
    *  - every leaf partition dir holds at most one data file
    *    (partitioned), or at most `nFiles` flat files each ≤
    *    2·targetBytes (unpartitioned — the rewrite would split huge
    *    files).
    *
    * Underscore/dot entries (markers, _SUCCESS) are ignored. Any
    * unexpected shape — files beside partition dirs, foreign or mixed
    * level names, no data file to probe, an unreadable footer — returns
    * false: rewriting is always the safe answer. */
  private def alreadyCompactListed(
      fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path,
      hconf: org.apache.hadoop.conf.Configuration,
      extraPartitionCols: Seq[String], nFiles: Int,
      targetBytes: Long): Boolean = {
    def visible(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).filterNot { s =>
        val n = s.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
    // partition level names off the directory tree (first non-empty
    // branch per level; every sibling must share the level name)
    def levels(p: org.apache.hadoop.fs.Path): Option[List[String]] = {
      val st = visible(p)
      if (st.isEmpty || st.forall(_.isFile)) Some(Nil)
      else if (!st.forall(s => s.isDirectory &&
          s.getPath.getName.contains('='))) None // mixed shape
      else {
        val names = st.map(_.getPath.getName.takeWhile(_ != '=')).distinct
        if (names.length != 1) None
        else levels(st.head.getPath).map(names.head :: _)
      }
    }
    // one leaf data file, for the footer probe
    def firstFile(p: org.apache.hadoop.fs.Path)
        : Option[org.apache.hadoop.fs.Path] = {
      val st = visible(p)
      st.find(_.isFile).map(_.getPath)
        .orElse(st.filter(_.isDirectory).iterator
          .flatMap(s => firstFile(s.getPath)).nextOption())
    }
    def leavesOk(p: org.apache.hadoop.fs.Path, depth: Int,
        partCols: List[String]): Boolean = {
      val st = visible(p)
      if (depth == partCols.length)
        st.forall(_.isFile) && st.length <= 1
      else
        st.forall(s => s.isDirectory &&
          s.getPath.getName.startsWith(partCols(depth) + "=")) &&
          st.forall(s => leavesOk(s.getPath, depth + 1, partCols))
    }
    val layout = levels(path)
    if (layout.isEmpty) return false
    val leaf = firstFile(path)
    if (leaf.isEmpty) return false // nothing to probe — let the read decide
    val dataCols = scala.util.Try {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(leaf.get,
          hconf))
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getFileMetaData.getSchema.getFields.asScala
          .map(_.getName).toSet
      } finally r.close()
    }
    if (dataCols.isFailure) return false
    val l = layout.get
    // the partition columns the rewrite WOULD produce: candidates
    // restricted to columns the table carries (partition level or data)
    val wouldProduce =
      (Seq("batch_id", "delete_id") ++ extraPartitionCols)
        .filter(c => l.contains(c) || dataCols.get.contains(c)).toList
    if (l != wouldProduce) return false
    if (l.nonEmpty) leavesOk(path, 0, l)
    else {
      // flat tables: the rewrite targets nFiles ≈ totalBytes/targetBytes,
      // so "few small files" qualifies but "few HUGE files" (which the
      // rewrite would split) does not
      val st = visible(path)
      st.forall(_.isFile) && st.length <= nFiles &&
        st.forall(_.getLen <= 2L * targetBytes)
    }
  }

  /** [[incrementalLshPairs]] answered from a persisted corpus state
    * ([[appendLshState]]) instead of the corpus text column — identical
    * output (pinned by ExtSpec), but the corpus's signatures are never
    * recomputed: the batch is collapsed/signed fresh (O(batch) compute),
    * batch fps already present in the corpus ride their existing rep's
    * persisted bands, and the band join streams the state's narrow
    * (rid, band, bucket) rows against the batch's. Verification joins
    * corpus texts back only for the candidate reps that survived
    * blocking. */
  /** `asOf = Some((B, D))` answers the pair query against the corpus as
    * the state stood after append batch B and delete batch D
    * ([[graft.ext.Index.bm25TopKFromStateAsOf]]'s contract on the LSH
    * pillar): bands/reps/members cut to `batch_id <= B`, tombstones to
    * `delete_id <= D` — partition-pruned, and exactly the tables an
    * append-prefix state holds (a batch-2 doc byte-equal to a batch-1
    * group added only a members row in its own partition, so the cut
    * restores the batch-1 membership precisely). Tagged states only;
    * fails fast otherwise. */
  def incrementalLshPairsFromState(
      stateDir: String, batch: DataFrame, idCol: String, textCol: String,
      numPerms: Int = 16, rowsPerBand: Int = 4, threshold: Double = 0.5,
      shingleSize: Int = 3, excludeTag: Option[Long] = None,
      asOf: Option[(Long, Long)] = None): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val jac = GraftColumnBridge.column(graft.functions.ShingleJaccard(
      GraftColumnBridge.expression(col("text_a")),
      GraftColumnBridge.expression(col("text_b")), shingleSize))
    val spark = batch.sparkSession
    // fail fast during a crashed truncate's apply window (the contract
    // every state read shares): bands/reps/members move under one swap
    // commit, and reading a half-applied mix pairs new reps with old
    // bands — run StatePillar.Lsh.recover first
    StateIO.checkNoSwapInProgress(spark, stateDir)
    // the batch's fresh signatures must be computed under the SAME
    // parameters as the state's persisted bands, or the band join finds
    // nothing — fail fast on mismatch instead (see checkLshMeta)
    checkLshMeta(spark, stateDir, numPerms, rowsPerBand, shingleSize,
      writeIfAbsent = false)
    // excludeTag: under at-least-once replay a batch may already have
    // APPENDED itself (tag = batchId) before the query is re-answered; if
    // its own rows count as "the corpus", every replayed doc matches
    // itself and gets rejected — so reads drop that tag's partition (the
    // same rule appendLshState applies to its fp anti-join)
    def readState(table: String): DataFrame = {
      val raw = spark.read.parquet(StateIO.tablePath(spark, stateDir, table))
      val t = asOf match {
        case Some((bt, _)) =>
          StateIO.asOfCut(raw, "batch_id", bt, stateDir, table)
        case None => raw
      }
      excludeTag.filter(_ => t.columns.contains("batch_id"))
        .map(tag => t.filter(col("batch_id") =!= tag)).getOrElse(t)
    }
    // tombstones ([[deleteFromLshState]]): deleted members stop pairing
    // immediately, and a group whose members are ALL deleted stops
    // band-matching (its rep is dropped via the surviving-member
    // semi-join) — a new byte-identical doc then signs fresh instead of
    // matching a ghost. Small anti-join until compaction applies them.
    val tombs = StatePillar.Lsh.tombstones(spark, stateDir, asOf.map(_._2))
    val corpusMembers = StatePillar.Lsh.minus(tombs)(
      readState("members").select(col("id"), col("rid")))
    val corpusRepsAll = readState("reps")
      .select(col("fp"), col("rid"), col("text"))
    val corpusReps = tombs match {
      case Some(_) => corpusRepsAll.join(
        corpusMembers.select(col("rid")).distinct(), Seq("rid"), "left_semi")
      case None => corpusRepsAll
    }
    val corpusBands = readState("bands")
      .select(col("rid"), col("band"), col("bucket"))

    val wide = widen(batch)
    val kept = materialize(wide
      .filter(size(tokens(col(textCol))) >= shingleSize)
      .select(col(idCol).as("id"), col(textCol).as("text"),
        md5(col(textCol)).as("fp")))
    val groups = kept.groupBy(col("fp"))
      .agg(min(col("id")).as("brid"), min(col("text")).as("text"))
    // batch fps byte-equal to a corpus doc: reuse the corpus rep (and its
    // persisted bands); genuinely new fps get signed fresh. ONE left-join
    // checkpoint carries both sides (rid null = new, non-null = known) —
    // the old inner + left_anti pair cost a second checkpoint job that
    // recomputed the same groups-vs-reps join; the split is identical
    // because reps are unique by fp (the append's anti-join invariant,
    // preserved under any as-of prefix cut)
    val matched = materialize(
      groups.join(corpusReps.select(col("fp"), col("rid")), Seq("fp"),
        "left"))
    val known = matched.filter(col("rid").isNotNull)
    val newGroups = matched.filter(col("rid").isNull).drop("rid")

    val newBands = newGroups
      .select(col("brid").as("arid"),
        minhashSignature(col("text"), numPerms, shingleSize).as("sig"))
      .select(col("arid"),
        posexplode(bandBuckets(numPerms, rowsPerBand)).as(Seq("band", "bucket")))
    val knownBands = corpusBands
      .join(known.select(col("rid")), "rid")
      .select(col("rid").as("arid"), col("band"), col("bucket"))
    // directed (batch-rep, corpus-rep) candidates — corpus×corpus bucket
    // pairs never form, same asymmetry as incrementalLshPairs
    val pairRids = newBands.unionByName(knownBands)
      .join(corpusBands
        .select(col("rid").as("crid"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("arid") =!= col("crid"))
      .select(col("arid"), col("crid"))
      .distinct()
    val aTexts = newGroups.select(col("brid").as("arid"), col("text"))
      .unionByName(known.select(col("rid").as("arid"), col("text")))
    // NO checkpoint: unlike [[incrementalLshPairs]] (which expands a
    // verified pair through BOTH member orientations), `cross` below
    // consumes this frame exactly once, and the jaccard sits under a
    // filter (an attribute boundary — the member expansion joins carry
    // the computed value, they don't re-evaluate the shingle UDF), so
    // materializing it only added a full write+read per snapshot
    val verified = pairRids
      .join(aTexts.select(col("arid"), col("text").as("text_a")), "arid")
      .join(corpusReps.select(col("rid").as("crid"), col("text").as("text_b")),
        "crid")
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= threshold)
      .select(col("arid"), col("crid"), col("jaccard"))

    val batchRepOf = newGroups.select(col("fp"), col("brid").as("arid"))
      .unionByName(known.select(col("fp"), col("rid").as("arid")))
    val mNew = kept.select(col("fp"), col("id"))
      .join(batchRepOf, "fp").select(col("arid"), col("id"))
    val cross = verified
      .join(mNew.select(col("arid"), col("id").as("new_id")), "arid")
      .join(corpusMembers.select(col("rid").as("crid"), col("id").as("old_id")),
        "crid")
      .select(col("new_id"), col("old_id"), col("jaccard"))
    val intra = kept.select(col("fp"), col("id").as("new_id"))
      .join(known.select(col("fp"), col("rid")), "fp")
      .join(corpusMembers.select(col("rid"), col("id").as("old_id")), "rid")
      .select(col("new_id"), col("old_id"), lit(1.0).as("jaccard"))
    cross.unionByName(intra)
  }

  /** LSH-blocked edit-distance near-dup pairs: band-bucket candidates
    * verified with levenshtein ≤ `maxDist`. This is the scale path for
    * typo-level dedup — the distance runs ONLY on candidates among DISTINCT
    * texts, never as a cartesian over the corpus:
    *   - exact-dup groups are collapsed first ([[collapseExact]]) and
    *     expanded after verification with dist = 0 — a group of k
    *     identical docs never pays a single DP evaluation;
    *   - rep pairs use THRESHOLDED levenshtein — the banded diagonal DP is
    *     O(len·maxDist) rather than O(len²), returns -1 as soon as the
    *     distance provably exceeds `maxDist` (length gap included), and -1
    *     never passes the ≤ maxDist filter. */
  def editDistanceLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int,
      numPerms: Int = 16,
      rowsPerBand: Int = 4,
      shingleSize: Int = 3): DataFrame = {
    val (members, reps) = collapseExact(docs, idCol, textCol, shingleSize)
    // materialized for the same reason as in [[lshPairs]] — without it the
    // banded-DP levenshtein runs per MEMBER pair after project collapse
    val verified = repCandidates(reps, numPerms, rowsPerBand, shingleSize)
      .withColumn("dist",
        levenshtein(col("text_a"), col("text_b"), maxDist).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select("rid_a", "rid_b", "dist")
      .pipe(materialize)
    expandVerified(verified, members, "dist", lit(0L))
      .select("id_a", "id_b", "dist")
  }

  /** Edge-count threshold below which [[components]] solves the graph
    * driver-side (union-find) instead of iterating distributed rounds.
    * The near-dup pair graph is typically MUCH smaller than the corpus
    * (it only contains docs that collided in a band AND passed verify);
    * below this bound the whole edge set is a few MB — one collect + an
    * in-memory union-find replaces 2–4 distributed iterations of joins,
    * checkpoints and convergence counts, each a multi-job round trip.
    * Above it, the log-diameter iterative path runs unchanged. */
  val smallGraphEdges = 1000000L

  /** Connected components of a near-dup pair graph via min-label
    * propagation: every vertex converges to the minimum id reachable from
    * it, which becomes the cluster representative. This is the step that
    * turns [[lshPairs]] output into an actual deduplicated corpus.
    *
    * Adaptive: if the (distinct) edge set is under [[smallGraphEdges]],
    * the graph is solved with a driver-side union-find — the collect is
    * BOUNDED by the threshold (≈16 MB of long pairs at the default), the
    * result is identical, and the toy-to-moderate case costs one job
    * instead of per-iteration join+checkpoint+count rounds. A 100 TB
    * corpus whose dup graph exceeds the bound takes the iterative path.
    *
    * Scale (iterative path): each iteration is a neighbor-min step (one
    * aggregate + join on the vertex id) followed by a pointer-jumping step
    * (label := label of label), so convergence is O(log diameter) — 20
    * iterations covers any realistic graph, and the loop THROWS if it ever
    * exits unconverged rather than silently returning wrong
    * representatives. Each round [[materialize]]s its labels: lineage
    * stays O(1) instead of growing per iteration, and the blocks are
    * reclaimed automatically once the frame is unreferenced (no
    * session-lifetime cache leak). On a real cluster with executor churn,
    * set [[checkpointDirKey]] to durable storage — every materialization
    * in the chain then survives executor loss. Returns
    * (id, rep) for every vertex in `pairs`
    * (callers left-join docs and coalesce to self for singletons).
    */
  def components(pairs: DataFrame, maxIter: Int = 20,
      smallGraphThreshold: Long = smallGraphEdges): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .pipe(materialize)

    if (edges.count() <= smallGraphThreshold) {
      // bounded collect (threshold-guarded): classic union-find with path
      // halving. Ids are collected GENERICALLY (long, int, string — any
      // orderable Spark type) and compared through their JVM Comparable,
      // the same ordering `least` uses in the iterative path, so non-Long
      // id schemas no longer ClassCastException here; the output keeps the
      // input id type. Vertices come from the UNFILTERED symmetric edge
      // set — a `src < dst` pre-filter would drop self-pair-only vertices
      // (id_a == id_b), which the iterative path keeps with themselves as
      // label; processing each edge in both directions is a no-op for
      // union-find beyond the first.
      val all = edges.collect().map(r => (r.get(0), r.get(1)))
      def lt(a: Any, b: Any): Boolean =
        a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) {
          val p = parent.getOrElse(r, r)
          parent(r) = parent.getOrElse(p, p) // path halving
          r = parent.getOrElse(r, r)
        }
        r
      }
      all.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // min id wins so the representative is the min label
          if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
      val vertices = all.iterator.map(_._1).toSeq.distinct
      val idType = edges.schema("src").dataType
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("label", idType)))
      val rows = vertices.map(v => org.apache.spark.sql.Row(v, find(v)))
      import scala.jdk.CollectionConverters._
      return spark.createDataFrame(rows.asJava, schema)
    }

    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .pipe(materialize)
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dl")), "dst")
        .groupBy(col("src").as("id")).agg(min("dl").as("nl"))
      val stepped = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      // pointer jumping: follow one more hop through the label table so the
      // min propagates 2^iter hops, not iter hops (log-diameter convergence)
      val next = stepped
        .join(labels.select(col("id").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
        .pipe(materialize)
      val changed = next
        .join(labels.select(col("id"), col("label").as("prev")), "id")
        .filter(col("label") < col("prev")).count()
      labels = next
      done = changed == 0
      iter += 1
    }
    if (!done) throw new IllegalStateException(
      s"components() did not converge in $maxIter iterations — " +
        "component diameter exceeds 2^iterations; raise maxIter")
    labels
  }

  /** Connected components straight from the collapsed LSH chain —
    * [[components]] over REP-level verified pairs plus an id→rid
    * membership STAR, never the member-level pair expansion: a dup group
    * of k contributes k−1 star edges instead of the k²/2 clique edges
    * that [[lshPairs]]' member contract implies, with IDENTICAL
    * connectivity (star joins every member to its rep; rep pairs join the
    * groups), hence identical labels. This is the right input shape for
    * clustering at 100 TB — the edge set stays O(docs + dup pairs), not
    * O(Σ group²). Returns (id, label) for every doc in a ≥2 group or a
    * verified near-dup pair; callers left-join and coalesce to self. */
  def lshComponents(
      docs: DataFrame, idCol: String, textCol: String,
      numPerms: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, shingleSize: Int = 3): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val jac = GraftColumnBridge.column(graft.functions.ShingleJaccard(
      GraftColumnBridge.expression(col("text_a")),
      GraftColumnBridge.expression(col("text_b")), shingleSize))
    val (members, reps) = collapseExact(docs, idCol, textCol, shingleSize)
    val repPairs = repCandidates(reps, numPerms, rowsPerBand, shingleSize)
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= threshold)
      .select(col("rid_a").as("id_a"), col("rid_b").as("id_b"))
      .pipe(materialize) // rep-level verify evaluated once (see lshPairs)
    val star = members.filter(col("id") =!= col("rid"))
      .select(col("id").as("id_a"), col("rid").as("id_b"))
    components(repPairs.unionByName(star))
  }

  /** The final dedup materialization: keep only the rows of `docs` whose id
    * IS its cluster representative under [[lshComponents]] — the actual
    * cleaned corpus a pipeline emits. Docs absent from the pair graph are
    * their own representative and survive.
    *
    * Scale: the anti-join key set (non-representative ids) is exactly the
    * removed duplicates — far smaller than the corpus for realistic dup
    * rates, so AQE turns this into a broadcast anti-join; the corpus
    * itself never shuffles. */
  def keepRepresentatives(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val nonReps = lshComponents(docs, idCol, textCol)
      .filter(col("label") =!= col("id"))
      .select(col("id").as(idCol))
    docs.join(nonReps, Seq(idCol), "left_anti")
  }

  /** 32-bit SimHash over distinct tokens with the portable hash: bit b of
    * the signature is set iff Σ_t (±1 by bit b of hash(t)) > 0. Native
    * single-pass expression ([[graft.functions.SimHashSig]]) — map-side,
    * codegen'd, corpus-scale. */
  def simhashColumn(text: Column, bits: Int = 32): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.SimHashSig(
      GraftColumnBridge.expression(text), bits)).as("simhash")
  }

  /** Hamming-banded SimHash near-dup pairs — the SCALE path for SimHash
    * dedup (x03 computes signatures; this finds the pairs). The 32-bit
    * signature splits into four 8-bit bands: by pigeonhole, any pair
    * within Hamming distance 3 agrees on at least one whole band, so
    * candidates come from an equi-join on (band, byte) — never an O(n²)
    * signature comparison — and are verified with an exact
    * `bit_count(xor)`. Same skew hardening as the MinHash chain:
    * byte-identical texts collapse first ([[collapseExact]]), banding and
    * verification run over distinct texts, verified rep pairs expand
    * algebraically (identical texts ⇒ Hamming 0).
    *
    * Output: (id_a, id_b, hamming), a < b, distinct. The signature rides
    * the band join as one long — there is no text shuffle anywhere. */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-band pigeonhole only guarantees recall for Hamming <= 3")
    val (members, reps) = collapseExact(docs, idCol, textCol, 1)
    val sigs = reps.select(col("rid"), simhashColumn(col("text")).as("sig"))
    val banded = sigs.select(col("rid"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 8).bitwiseAND(lit(0xFFL))): _*))
        .as(Seq("band", "byte")))
    val a = banded.as("a")
    val b = banded.as("b")
    // verify BEFORE the pair distinct: bit_count is a one-instruction
    // check, and most band-colliding pairs fail the Hamming bound — the
    // distinct then shuffles only true pairs instead of every collision
    val verified = a.join(b,
        col("a.band") === col("b.band") && col("a.byte") === col("b.byte") &&
          col("a.rid") < col("b.rid"))
      .select(col("a.rid").as("rid_a"), col("b.rid").as("rid_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .pipe(materialize) // rep-level verify evaluated once (see lshPairs)
    expandVerified(verified, members, "hamming", lit(0L))
      .select("id_a", "id_b", "hamming")
  }

  /** REP-level SimHash near-dup pairs with duplicate-group sizes — the
    * form a 100 TB pipeline actually materializes. [[simhashPairs]]'
    * member-level contract implies n_a·n_b rows per verified rep pair
    * (plus k²/2 intra rows per exact-dup group): measured at 50× planted
    * duplication that is ~10⁹ output rows, 790 s of a 1040 s bench run —
    * ALL of it redundant, since every member pair is recoverable from
    * (rep pair, memberships). This variant emits one row per verified
    * DISTINCT-TEXT pair with both group sizes; downstream clustering
    * takes rep pairs + membership stars ([[lshComponents]] shape).
    *
    * Output: (id_a, id_b, hamming, n_a, n_b) — ids are group
    * representatives (min id over byte-identical texts), a < b. */
  def simhashRepPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-band pigeonhole only guarantees recall for Hamming <= 3")
    val (members, reps) = collapseExact(docs, idCol, textCol, 1)
    val sigs = reps.select(col("rid"), simhashColumn(col("text")).as("sig"))
    val banded = sigs.select(col("rid"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 8).bitwiseAND(lit(0xFFL))): _*))
        .as(Seq("band", "byte")))
    val a = banded.as("a")
    val b = banded.as("b")
    val verified = a.join(b,
        col("a.band") === col("b.band") && col("a.byte") === col("b.byte") &&
          col("a.rid") < col("b.rid"))
      .select(col("a.rid").as("id_a"), col("b.rid").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    val sizes = members.groupBy(col("rid")).agg(count(lit(1)).as("n"))
    verified
      .join(sizes.select(col("rid").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("rid").as("id_b"), col("n").as("n_b")), "id_b")
      .select("id_a", "id_b", "hamming", "n_a", "n_b")
  }

  /** Hamming-banded near-dup pairs over a PRECOMPUTED 64-bit signature
    * column — the [[simhashPairs]] band machinery generalized so any
    * 64-bit fingerprint (a perceptual image dHash, an external SimHash)
    * rides the same scale path: the signature splits into four 16-bit
    * bands, and by pigeonhole any pair within Hamming distance 3 agrees
    * on at least one whole band — candidates come from an equi-join on
    * (band, word), never an O(n²) signature comparison, and verify with
    * one `bit_count(xor)` before the pair distinct. Arithmetic
    * shift-right sign-extends the top band; the 0xFFFF mask strips it.
    *
    * Output: (id_a, id_b, hamming), a < b, distinct, complete for
    * `maxHamming` ≤ 3. Input ids must be unique (collapse exact
    * duplicates first if the fingerprint source has them). */
  def hammingPairs64(
      sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-band pigeonhole only guarantees recall for Hamming <= 3")
    val s = sigs.select(col(idCol).as("gid"), col(sigCol).cast("long").as("sig"))
    val banded = s.select(col("gid"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "word")))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.word") === col("b.word") &&
          col("a.gid") < col("b.gid"))
      .select(col("a.gid").as("id_a"), col("b.gid").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Byte-identical PAYLOAD collapse — the binary twin of the text
    * path's exact-collapse, and the mandatory first step of every media
    * near-dup chain at scale: web corpora are full of byte-identical
    * media (logos, spacer GIFs, silence clips), and k copies of one file
    * put k identical fingerprints in the same band bucket — O(k²)
    * verified pairs, the exact blow-up the text side's collapse exists
    * to prevent — while ALSO paying the decode k times. Collapsed, the
    * group decodes once, bands once, and pair relations stay REP-level
    * (linear in k) with membership recoverable algebraically
    * ([[expandRepPairs]] / [[intraRepPairs]]).
    *
    * Returns (members: (id, rid), reps: (rid, payload)) — distinct reps
    * ⇒ distinct payload bytes, so the downstream fingerprint input meets
    * [[hammingPairs64]]'s uniqueness precondition by construction. Both
    * frames are materialized (they feed the band join plus two
    * expansion join-backs; reps hold one payload per DISTINCT byte
    * string — far smaller than the corpus a re-scan would decode). */
  def collapsePayloadsExact(
      docs: DataFrame, idCol: String,
      payloadCol: String): (DataFrame, DataFrame) = {
    // widen narrow inputs before the md5 map (and the decode that
    // follows on reps): a single small parquet file scans as ONE
    // partition, serializing the CPU-heavy work on one core; no-op at
    // cluster width
    val spark = docs.sparkSession
    val wide = widen(docs)
    val kept = wide.select(col(idCol).cast("long").as("id"),
      col(payloadCol).as("payload"), md5(col(payloadCol)).as("fp"))
    // first(payload) is deterministic here: every payload under one fp
    // is byte-identical
    val reps = kept.groupBy(col("fp"))
      .agg(min(col("id")).as("rid"), first(col("payload")).as("payload"))
    val members = kept.select(col("fp"), col("id"))
      .join(reps.select(col("fp"), col("rid")), "fp")
      .select(col("id"), col("rid"))
    (materialize(members), materialize(reps.select(col("rid"), col("payload"))))
  }

  /** Expand a REP-level pair relation (over [[collapsePayloadsExact]]
    * representatives) back to member level: every (rep_a, rep_b) pair
    * becomes all cross-group member pairs, extra columns (hamming,
    * shared_frames, …) riding through unchanged — byte-identical members
    * fingerprint identically, so the rep pair's value IS the member
    * pair's value. Ordering re-normalizes to id_a < id_b (member ids
    * interleave across groups). Output size = the true member pair
    * relation — call this only when member-level pairs are genuinely
    * needed; at 100 TB, consume rep pairs + `members` instead. Pairs
    * WITHIN a group (Hamming 0 by construction) are [[intraRepPairs]]'s
    * job — their value columns are modality-defined, not inherited. */
  def expandRepPairs(repPairs: DataFrame, members: DataFrame): DataFrame = {
    val extra = repPairs.columns.filterNot(Set("id_a", "id_b")).toSeq
    val ma = members.select(col("rid").as("id_a"), col("id").as("ma"))
    val mb = members.select(col("rid").as("id_b"), col("id").as("mb"))
    repPairs.join(ma, "id_a").join(mb, "id_b")
      .select(Seq(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b")) ++ extra.map(col): _*)
  }

  /** Member pairs WITHIN each byte-identical group (id_a < id_b), value
    * columns supplied per group via `repValues (rid, …)` — Hamming 0 for
    * fingerprints, the group's full distinct-frame count for shingle
    * joins. Complements [[expandRepPairs]] for the full member relation. */
  def intraRepPairs(members: DataFrame, repValues: DataFrame): DataFrame = {
    val a = members.select(col("rid"), col("id").as("ida"))
    val b = members.select(col("rid"), col("id").as("idb"))
    a.join(b, "rid").filter(col("ida") < col("idb"))
      .join(repValues, "rid")
      .select(Seq(col("ida").as("id_a"), col("idb").as("id_b")) ++
        repValues.columns.filterNot(_ == "rid").map(col).toSeq: _*)
  }

  /** Fingerprint near-dup CLUSTERS: [[hammingPairs64]]'s pair relation
    * closed into connected components (min-id representative — the
    * [[components]] engine with its threshold-guarded driver union-find
    * and the iterative min-label path past the bound), singletons
    * labeled themselves — one (id, rep, cluster_size) row per input
    * fingerprint. The modality-agnostic collapse stage: group a corpus
    * of image dHashes / audio prints by "same content", then keep one
    * exemplar per rep downstream (the x87 argmax pattern). Sizes come
    * from a groupBy + join, never a corpus-wide window. */
  def fingerprintClusters(
      sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3): DataFrame = {
    val s = sigs.select(col(idCol).cast("long").as("id"),
      col(sigCol).cast("long").as("sig"))
    val comp = components(hammingPairs64(s, "id", "sig", maxHamming))
    val labeled = s.select(col("id"))
      .join(comp.withColumnRenamed("label", "rep"), Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
    val sizes = labeled.groupBy(col("rep"))
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, Seq("rep"))
      .select(col("id"), col("rep"), col("cluster_size"))
  }

  // ========== FINGERPRINT (Hamming) STATE — any modality ==========

  /** The 4 (band, word) columns of a 64-bit fingerprint — the
    * [[hammingPairs64]] pigeonhole bands, shared by the state paths. */
  private def bandWords(sig: org.apache.spark.sql.Column) =
    posexplode(array((0 until 4).map(b =>
      shiftright(sig, b * 16).bitwiseAND(lit(0xFFFFL))): _*))
      .as(Seq("band", "word"))

  /** The stored bucket count of a fingerprint state dir (None = no meta
    * yet). PATH_NOT_FOUND-only, like every state meta read: any other
    * failure must crash rather than masquerade as a fresh dir. */
  private def readFpBuckets(
      spark: SparkSession, dir: String): Option[Int] =
    try Some(spark.read.schema("buckets LONG").json(s"$dir/_meta")
        .head()).map { m =>
      require(!m.anyNull, s"fingerprint state meta at $dir/_meta is " +
        "corrupt (missing fields) — rebuild the state or restore _meta")
      m.getLong(0).toInt
    }
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" => None
      case _: java.util.NoSuchElementException => None // empty dir
    }

  private def checkFpMeta(spark: SparkSession, dir: String, buckets: Int,
      writeIfAbsent: Boolean): Unit =
    readFpBuckets(spark, dir) match {
      case Some(stored) =>
        require(stored == buckets,
          s"fingerprint state at $dir was built with buckets = $stored " +
            s"but was called with $buckets; a mismatched bucket mapping " +
            "silently misses pairs (probes prune to the wrong " +
            "partitions). Use the stored value or rebuild the state.")
      case None if writeIfAbsent =>
        import spark.implicits._
        Seq(buckets.toLong).toDF("buckets")
          .coalesce(1).write.mode("overwrite").json(s"$dir/_meta")
      case None => ()
    }

  /** PERSISTED FINGERPRINT state — the steady-state near-dup substrate
    * for any 64-bit perceptual signature: image dHash
    * ([[graft.ext.Multimodal.perceptualHashBatch]]), audio
    * energy-gradient prints ([[graft.ext.Multimodal.audioFingerprintBatch]]),
    * video frame hashes, [[simhash64]] — the modality-agnostic twin of
    * [[appendLshState]] (texts) and
    * [[graft.ext.Similarity.appendIvfState]] (vectors), closing the same
    * gap: [[hammingPairs64]] re-bands the whole corpus every call, while
    * a maintained state bands each fingerprint ONCE ever.
    *
    * Layout under `dir`:
    *   - `sigs` — (id, sig), the corpus record;
    *   - `bands` — (band, word, id, sig) × 4 per fingerprint,
    *     partitioned by `bkt = word mod buckets` so an incremental read
    *     prunes to the probed buckets (the postings-pillar posture:
    *     query cost rides the QUERY's fingerprints, not the corpus);
    *   - `tombstones` — deleted ids ([[deleteFromFpState]]).
    *
    * Replay/crash posture (the shared pillar discipline): tagged appends
    * land in their own `batch_id=N` partitions with overwrite; untagged
    * appends anti-join each table on its own ids so a blind re-run
    * completes a partial append without duplicating (bands first, sigs
    * second — a crash between leaves only re-completable gaps, and band
    * rows carry the sig, so a pair read never returns a half-appended
    * lie). The bucket count persists to `dir/_meta` on first append and
    * is validated everywhere after. Ids must be unique across the
    * state's lifetime. */
  def appendFpState(
      sigs: DataFrame, dir: String, idCol: String, sigCol: String,
      batchTag: Option[Long] = None, buckets: Int = 256): Unit =
      StateIO.withWriterLock(sigs.sparkSession, dir) {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val spark = sigs.sparkSession
    StatePillar.Fp.checkWritable(spark, dir)
    StateIO.checkTagAboveFloor(spark, dir, batchTag, "append")
    checkFpMeta(spark, dir, buckets, writeIfAbsent = true)
    val rows = materialize(sigs.select(col(idCol).cast("long").as("id"),
      col(sigCol).cast("long").as("sig")))
    val bandRows = rows.select(col("id"), col("sig"), bandWords(col("sig")))
      .withColumn("bkt", pmod(col("word"), lit(buckets.toLong)))
    // cluster by bucket BEFORE the partitioned write (the compaction
    // posture): unclustered, every one of P tasks writes a file into
    // every bucket dir it holds rows for — P·buckets tiny files per
    // append (measured 144 s for a 5k-row append at 4096 buckets);
    // clustered, each bucket dir gets whole files and the append is
    // file-creation-bounded by `buckets`, not P·buckets
    val bandsOut = bandRows.repartition(col("bkt"))
    batchTag match {
      case Some(t) =>
        bandsOut.write.mode("overwrite").partitionBy("bkt")
          .parquet(s"${StateIO.tablePath(spark, dir, "bands")}/batch_id=$t")
        rows.write.mode("overwrite")
          .parquet(s"${StateIO.tablePath(spark, dir, "sigs")}/batch_id=$t")
      case None =>
        // blind-retry idempotency: each table skips ids it already holds
        // (PATH_NOT_FOUND-only reads — a transient failure must crash,
        // not double-append)
        def alreadyIn(table: String): DataFrame => DataFrame = df =>
          StateIO.readTableIfExists(spark, dir, table) match {
            case Some(t) => df.join(t.select(col("id")).distinct(),
              Seq("id"), "left_anti")
            case None => df
          }
        alreadyIn("bands")(bandRows).repartition(col("bkt"))
          .write.mode("append").partitionBy("bkt")
          .parquet(StateIO.tablePath(spark, dir, "bands"))
        alreadyIn("sigs")(rows).write.mode("append")
          .parquet(StateIO.tablePath(spark, dir, "sigs"))
    }
  }

  /** [[hammingPairs64]] answered incrementally from an [[appendFpState]]
    * dir: the batch's fingerprints band fresh (O(batch) compute) and
    * join ONLY the state partitions their words hash to — a
    * partition-pruned read (spec-pinned), so per-batch cost rides the
    * batch's bucket fan-out, never the corpus. Output: (new_id, old_id,
    * hamming ≤ maxHamming), complete for Hamming ≤ 3 (the 4-band
    * pigeonhole), old side live (tombstones subtracted).
    *
    * `excludeTag` drops the batch's own `batch_id=N` partition under
    * at-least-once replay (the shared read rule). `asOf = Some((B, D))`
    * answers against the state after (append B, delete D) — the tagged
    * partitions double as version history; tagged states only. */
  def incrementalHammingPairsFromState(
      spark: SparkSession, dir: String, batch: DataFrame, idCol: String,
      sigCol: String, maxHamming: Int = 3, excludeTag: Option[Long] = None,
      asOf: Option[(Long, Long)] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-band pigeonhole only guarantees recall for Hamming <= 3")
    StateIO.checkNoSwapInProgress(spark, dir)
    val buckets = readFpBuckets(spark, dir).getOrElse(throw
      new IllegalArgumentException(s"$dir carries no _meta — not a " +
        "fingerprint state dir (build one with appendFpState)"))
    val b = materialize(batch.select(col(idCol).cast("long").as("new_id"),
      col(sigCol).cast("long").as("nsig")))
    val bBands = materialize(
      b.select(col("new_id"), col("nsig"), bandWords(col("nsig"))))
    // bounded collect: ≤ buckets values — the probe set that prunes the
    // state read
    val probed = bBands
      .select(pmod(col("word"), lit(buckets.toLong)).cast("int").as("bkt"))
      .distinct().collect().map(_.getInt(0)).toSeq
    def cutAndExclude(raw: DataFrame, tagCol: String,
        bound: Option[Long]): DataFrame = {
      val t = bound match {
        case Some(bd) => StateIO.asOfCut(raw, tagCol, bd, dir, "bands")
        case None => raw
      }
      excludeTag.filter(_ => t.columns.contains("batch_id") &&
          tagCol == "batch_id")
        .map(tag => t.filter(col("batch_id") =!= tag)).getOrElse(t)
    }
    val stateBands = cutAndExclude(
      spark.read.parquet(StateIO.tablePath(spark, dir, "bands")),
      "batch_id", asOf.map(_._1))
      .filter(col("bkt").isin(probed: _*)) // partition-pruned
      .select(col("id"), col("sig"), col("band"), col("word"))
    StatePillar.Fp.live(spark, dir, stateBands, asOf.map(_._2))
      .join(bBands, Seq("band", "word"))
      .filter(col("id") =!= col("new_id"))
      .select(col("new_id"), col("id").as("old_id"),
        bit_count(col("sig").bitwiseXOR(col("nsig"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** DELETE fingerprints from an [[appendFpState]] dir — the tombstone
    * path shared by every pillar: O(|ids|) write, reads subtract. A
    * deleted id must never be re-appended (the lifetime-unique-ids
    * contract). Tagged deletes land in `delete_id=N` with overwrite;
    * untagged deletes anti-join existing tombstones so a blind re-run
    * is a no-op. */
  def deleteFromFpState(
      spark: SparkSession, dir: String, ids: DataFrame, idCol: String,
      deleteTag: Option[Long] = None): Unit =
    StatePillar.Fp.delete(spark, dir, ids, col(idCol).cast("long"),
      deleteTag)

  /** Compact an [[appendFpState]] dir in place — the shared compaction
    * engine over the fingerprint pillar's tables, with tombstones
    * applied PHYSICALLY during the rewrite (sigs/bands drop deleted ids;
    * the tombstones table is kept, compacted — re-applying to
    * already-gone rows is a no-op, and the never-reuse-a-deleted-id
    * contract keeps needing it). Run OFFLINE like every compaction. */
  def compactFpState(
      spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20): Unit =
    StatePillar.Fp.compact(spark, dir, Seq("sigs" -> true, "bands" -> true),
      targetBytes, dropFrom = Seq("sigs", "bands"),
      extraPartitionCols = Seq("bkt"))

  /** Eval-set decontamination: flag every corpus document sharing at least
    * one word `n`-gram with the eval set — the standard benchmark-leakage
    * guard of an LLM training pipeline (13-gram overlap in GPT-3's
    * methodology; `n` is the knob).
    *
    * Two physical paths, same contract:
    *   - BROADCAST (small eval set): the eval side's distinct shingles
    *     broadcast; the corpus side is explode → broadcast LEFT SEMI join
    *     → per-doc count. The corpus never shuffles anything.
    *   - SHUFFLE (eval set beyond broadcast — dozens of suites at 13-grams
    *     outgrow it): both sides project each gram to its portable 60-bit
    *     md5 hash and shuffle semi-join on that LONG — 8 bytes per gram
    *     through the wire instead of ~8·n chars of text, distributed on a
    *     high-cardinality key. A hash collision could over-flag a doc with
    *     probability ≈ 2⁻⁶⁰ per gram pair — negligible, and deterministic
    *     (both engines hash identically).
    *
    * `broadcastEval`: Some(true)/Some(false) force a path; None (default)
    * auto-picks by counting the eval side's distinct grams (one job over
    * the SMALL side only) against `broadcastMaxGrams`.
    *
    * Returns (idCol, hits) for CONTAMINATED docs only, hits = number of
    * distinct offending n-grams in the doc. */
  def contaminatedDocs(
      docs: DataFrame, evalDocs: DataFrame, idCol: String, textCol: String,
      n: Int = 3,
      broadcastEval: Option[Boolean] = None,
      broadcastMaxGrams: Long = 4000000L): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val evalGrams = evalDocs
      .select(explode(shingles(col(textCol), n)).as("gram"))
      .distinct()
    val corpusGrams = docs
      .select(col(idCol), explode(shingles(col(textCol), n)).as("gram"))
    val useBroadcast =
      broadcastEval.getOrElse(evalGrams.count() <= broadcastMaxGrams)
    val matched =
      if (useBroadcast)
        corpusGrams.join(broadcast(evalGrams), Seq("gram"), "left_semi")
      else {
        // shuffle_hash over sort-merge: the eval side is the smaller one
        // and a hash build avoids sorting the exploded corpus grams
        val evalHashed = evalGrams
          .select(PortableHash.md5Long(col("gram")).as("graft_gh")).distinct()
        corpusGrams
          .select(col(idCol), PortableHash.md5Long(col("gram")).as("graft_gh"))
          .join(evalHashed.hint("shuffle_hash"), Seq("graft_gh"), "left_semi")
      }
    matched.groupBy(col(idCol)).agg(count(lit(1)).as("hits"))
  }

  /** Decontamination with a BLOOM-FILTER pre-filter — the third physical
    * path of [[contaminatedDocs]], for the regime where even the shuffle
    * path hurts: the corpus emits ~|tokens| 13-gram hashes per doc into
    * the semi-join's exchange, yet almost all of them are clean.
    *
    *   1. the eval grams' 60-bit hashes aggregate into one
    *     `stat.bloomFilter` sketch (a job over the SMALL side only), sized
    *     for `fpp` at the eval set's true distinct-gram count;
    *   2. the sketch broadcasts (a few MB for millions of grams) and cuts
    *     the corpus gram stream MAP-SIDE: clean grams — the overwhelming
    *     majority — never reach the exchange, so the shuffle carries
    *     `true hits + fpp·|corpus grams|` rows instead of all of them;
    *   3. the surviving suspects run the EXACT hash semi-join (the x38
    *     path), which removes the Bloom false positives.
    *
    * The sketch can only over-keep (no false negatives), and step 3 is
    * exact, so the result is IDENTICAL to both exact paths for any `fpp` —
    * ExtSpec pins all three paths equal, and the x56 gate runs this path
    * against the x38 oracle SQL. The filter itself is a `mightContainLong`
    * UDF — one branchy hash probe per gram; it breaks whole-stage codegen
    * for its projection but removes ~99% of exchange input, the same trade
    * Spark's own runtime row-group Bloom pruning makes. */
  def contaminatedDocsBloom(
      docs: DataFrame, evalDocs: DataFrame, idCol: String, textCol: String,
      n: Int = 13, fpp: Double = 0.01): DataFrame = {
    val evalHashed = materialize(evalDocs
      .select(explode(shingles(col(textCol), n)).as("gram"))
      .select(PortableHash.md5Long(col("gram")).as("graft_gh"))
      .distinct())
    val nEval = math.max(evalHashed.count(), 1L)
    val bloom = evalHashed.stat.bloomFilter("graft_gh", nEval, fpp)
    val bloomB = docs.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((h: Long) => bloomB.value.mightContainLong(h))
    docs
      .select(col(idCol), explode(shingles(col(textCol), n)).as("gram"))
      .select(col(idCol), PortableHash.md5Long(col("gram")).as("graft_gh"))
      .filter(mightContain(col("graft_gh")))
      .join(evalHashed.hint("shuffle_hash"), Seq("graft_gh"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("hits"))
  }

  /** Graded contamination SCORE — [[contaminatedDocs]]'s boolean flag,
    * refined to the fraction of each document's distinct word `n`-grams
    * that appear in the eval set, so a pipeline can set a tolerance
    * (e.g. drop > 10% overlap, keep incidental single-gram hits) instead
    * of the all-or-nothing 1-gram knockout.
    *
    * Same physical shape as the broadcast decontamination path: eval
    * grams deduped and broadcast; the corpus side is explode → broadcast
    * LEFT join (hit = eval-gram matched) → one per-doc count/sum
    * aggregation — the corpus shuffles only its (doc, 2 longs) partial
    * aggregates. Docs with fewer than `n` tokens have no grams and are
    * absent from the output (nothing to grade).
    *
    * Returns (idCol, n_grams, n_hits, contam_frac) with
    * contam_frac = round(n_hits / n_grams, 4). */
  def contaminationScore(
      docs: DataFrame, evalDocs: DataFrame, idCol: String, textCol: String,
      n: Int = 13): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val evalGrams = evalDocs
      .select(explode(shingles(col(textCol), n)).as("gram"))
      .distinct()
      .withColumn("graft_hit", lit(1L))
    docs
      .select(col(idCol), explode(shingles(col(textCol), n)).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("graft_hit")), lit(0L)).as("n_hits"))
      .withColumn("contam_frac",
        round(col("n_hits").cast("double") / col("n_grams"), 4))
  }

  /** Per-EVAL-doc contamination attribution — the transpose of
    * [[contaminationScore]]: that one scores each CORPUS doc by how much
    * eval material it carries (the removal signal); this one reports, for
    * each eval item, how burned it is and WHO burned it — the distinct
    * count of corpus docs sharing an `n`-gram, the distinct shared grams,
    * and the heaviest contaminating source (argmax by distinct docs, ties
    * to the lexicographically greatest source — the max(struct) order).
    * An eval item absent from the output is clean; the benchmark owner
    * reads this, not the corpus curator.
    *
    * Plan: eval grams (small by construction — an eval suite, not a
    * corpus) broadcast against the corpus's gram explode, so the corpus
    * is never shuffled to find hits; only HIT rows (eval_id, gram,
    * doc_id, source) reach the two downstream aggregates. The hit frame
    * feeds both (per-eval totals, per-source argmax), so it is
    * materialized once rather than re-running the corpus explode. */
  /** The REP-LEVEL (gram, cfp, efp) hit relation behind
    * [[contaminationAttribution]] — split out so its plan shape (eval rep
    * grams BROADCAST against the corpus rep explode) is assertable before
    * the checkpoint that [[contaminationAttribution]] adds hides it
    * (PlanSpec). */
  private[graft] def contaminationRepHits(
      corpusRepTexts: DataFrame, evalRepTexts: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val cGrams = corpusRepTexts
      .select(col("cfp"), explode(shingles(col("ctext"), n)).as("gram"))
    val eGrams = evalRepTexts
      .select(col("efp"), explode(shingles(col("etext"), n)).as("gram"))
    cGrams.join(broadcast(eGrams), "gram")
  }

  /** Computed at REP level: byte-equal copies share identical gram sets,
    * so the gram join runs once per DISTINCT text on each side and copy
    * counts expand algebraically afterwards. The naive per-copy join's
    * hit relation is Σ_gram n_eval(gram)·n_corpus(gram) — on a corpus
    * with k-fold duplicate groups (exactly what dedup corpora look like)
    * that grows k² and measured 3.2 s → 139 s from 1× to 50× replicas;
    * the rep-level relation is distinct²-bounded and stays flat. Output
    * is identical: "distinct contaminating docs" sums rep copy counts
    * (every copy of a rep shares ≥1 gram iff the rep does), and
    * byte-equal eval docs receive identical rows via the final member
    * join-back. */
  def contaminationAttribution(
      docs: DataFrame, evalDocs: DataFrame, idCol: String, textCol: String,
      srcCol: String, n: Int = 13): DataFrame = {
    // (cfp, source, copies) — a distinct text may ship from many sources
    val corpusReps = materialize(docs
      .select(md5(col(textCol)).as("cfp"), col(textCol).as("ctext"),
        col(srcCol).as("graft_src"))
      .groupBy(col("cfp"), col("graft_src"))
      .agg(count(lit(1)).as("n_copies"), min(col("ctext")).as("ctext")))
    val corpusRepTexts = corpusReps.groupBy(col("cfp"))
      .agg(min(col("ctext")).as("ctext"))
    val evalMembers = materialize(evalDocs
      .select(col(idCol).as("eval_id"), md5(col(textCol)).as("efp"),
        col(textCol).as("etext")))
    val evalRepTexts = evalMembers.groupBy(col("efp"))
      .agg(min(col("etext")).as("etext"))
    val hitsRep = materialize(
      contaminationRepHits(corpusRepTexts, evalRepTexts, n))

    val perGram = hitsRep.groupBy(col("efp"))
      .agg(count_distinct(col("gram")).as("n_hit_grams"))
    val repPairs = hitsRep.select(col("efp"), col("cfp")).distinct()
    val perSrcCounts = repPairs
      .join(corpusReps.select(col("cfp"), col("graft_src"), col("n_copies")),
        "cfp")
      .groupBy(col("efp"), col("graft_src"))
      .agg(sum(col("n_copies")).as("graft_n"))
    val perEval = perSrcCounts.groupBy(col("efp"))
      .agg(sum(col("graft_n")).as("n_contaminating_docs"))
    val topSource = perSrcCounts.groupBy(col("efp"))
      .agg(max(struct(col("graft_n"), col("graft_src"))).as("t"))
      .select(col("efp"), col("t.graft_src").as("top_source"),
        col("t.graft_n").as("top_source_docs"))
    evalMembers.select(col("eval_id"), col("efp"))
      .join(perGram, "efp").join(perEval, "efp").join(topSource, "efp")
      .select(col("eval_id"), col("n_hit_grams"),
        col("n_contaminating_docs"), col("top_source"),
        col("top_source_docs"))
  }

  /** Upper bound on input rows the exact O(n²) pair operators accept
    * before refusing. 20k rows ⇒ ≤2×10⁸ candidate pairs — the edge of
    * single-stage feasibility; anything larger belongs to the banded /
    * bucketed scale twins. Override per call when a verification pass
    * genuinely needs more (and knows what it is paying). */
  val maxExactPairRows = 20000L

  /** The shared refusal for the exact-twin operators ([[jaccardPairs]],
    * [[Similarity.cosinePairs]]): an unbounded input would silently start
    * an n² self-join that at corpus scale never finishes — fail fast and
    * name the scale path instead. Costs one count() of an input that was
    * about to be self-joined anyway. */
  private[ext] def requireExactBounded(
      df: DataFrame, op: String, twin: String, maxRows: Long): Unit = {
    val n = df.count()
    require(n <= maxRows,
      s"$op is the EXACT O(n²) twin — $n input rows exceed the $maxRows-row " +
        s"bound (≈${n * n / 2} candidate pairs). Use the scale path ($twin) " +
        "for full corpora, or raise maxRows deliberately for a bounded " +
        "verification subset.")
  }

  /** Exact pairwise token-Jaccard over a bounded subset — the verification /
    * small-data path (the scale path is `lshPairs`). O(n²) in the subset
    * size; inputs beyond `maxRows` are refused. */
  def jaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxRows: Long = maxExactPairRows): DataFrame = {
    requireExactBounded(docs, "jaccardPairs",
      "Dedup.lshPairs banded MinHash + exact verify", maxRows)
    val t = docs.select(col(idCol).as("id"), distinctTokens(col(textCol)).as("tok"))
    val a = t.as("a")
    val b = t.as("b")
    a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (size(array_intersect(col("a.tok"), col("b.tok"))).cast("double") /
          size(array_union(col("a.tok"), col("b.tok")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** DIRECTIONAL shingle containment pairs — |A∩B| / |A| over `n`-gram
    * shingle sets: "is document A (mostly) quoted inside document B".
    * Asymmetric where Jaccard is symmetric — a short doc fully contained
    * in a long one scores containment 1.0 but tiny Jaccard, which is
    * exactly the quote/boilerplate-inclusion case Jaccard misses. Emits
    * BOTH directions (id_a ≠ id_b) that clear `threshold`.
    *
    * EXACT output, sub-quadratic plan — prefix filtering (the PPJoin
    * family, Xiao et al., WWW'08), specialized to the asymmetric
    * containment predicate:
    *
    *   |A∩B|/|A| ≥ t  requires  |A∩B| ≥ ⌈t·|A|⌉, so if B misses ALL of
    *   the p = ⌊(1−t)·|A|⌋+1 smallest elements of A (under any global
    *   total order), then |A∩B| ≤ |A|−p < t·|A| — pigeonhole. Hence every
    *   qualifying pair shares at least one of A's p-element PREFIX.
    *
    * Blocking is therefore an EQUI-join: the A side explodes only its
    * prefix (⌊(1−t)·|A|⌋+1 hashes ≈ 20% of shingles at t=0.8), the B side
    * explodes all its shingle hashes (containment is one-directional — B
    * can match A's prefix anywhere in B, so B cannot be prefix-pruned).
    * Both sides are linear in corpus shingle mass; candidates are bounded
    * by ACTUAL shared-shingle pairs, never n². xxhash64 supplies the
    * total order (hash collisions only ADD candidates — the exact verify
    * removes them; they can never drop a qualifying pair, because a
    * shared shingle's hash always matches itself). The length filter
    * |B| ≥ t·|A| rides the blocking join. Survivors are verified with one
    * exact set intersection per DISTINCT candidate pair.
    *
    * At 100×: explode ~linear, equi-join hash-partitioned on shingle
    * hashes (high-cardinality; AQE handles residual hot-gram skew),
    * verify proportional to true-ish pairs. The old all-pairs `id≠id`
    * self-join this replaces died at exactly that scale-up. */
  def containmentPairs(
      docs: DataFrame, idCol: String, textCol: String, threshold: Double,
      n: Int = 3): DataFrame = {
    val t = materialize(
      docs.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
        .filter(size(col("sh")) > 0)
        .withColumn("sz", size(col("sh"))))
    val hashed = t.withColumn(
      "hs", array_sort(transform(col("sh"), h => xxhash64(h))))
    val prefLen = (floor(lit(1.0 - threshold) * col("sz")) + 1).cast("int")
    val aSide = hashed
      .select(col("id").as("id_a"), col("sz").as("sz_a"),
        explode(slice(col("hs"), lit(1), prefLen)).as("h"))
    val bSide = hashed
      .select(col("id").as("id_b"), col("sz").as("sz_b"),
        explode(col("hs")).as("h"))
    // |A∩B| ≤ |B|, so containment ≥ t additionally REQUIRES |B| ≥ t·|A| —
    // a free integer cut applied while the candidate set is still narrow.
    val candidates = aSide.join(bSide, "h")
      .filter(col("id_a") =!= col("id_b") &&
        col("sz_b").cast("double") >= col("sz_a") * lit(threshold))
      .select(col("id_a"), col("id_b")).distinct()
    candidates
      .join(t.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("sz").as("sz_a")), Seq("id_a"))
      .join(t.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          col("sz_a")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** 4-dp rounding spelled as floor(x·10⁴ + 0.5): rounds the DOUBLE
    * itself, so engines agree on values like 0.25525 whose shortest
    * decimal reads as a midpoint while the binary value sits below it —
    * Spark's round() goes through the shortest-decimal BigDecimal
    * (→ …53) where C-family round() sees the binary double (→ …52).
    * Non-negative inputs only (floor ≠ round for negatives). */
  private[ext] def round4(c: Column): Column =
    floor(c * 10000 + 0.5) / 10000

  /** Per-document n-gram NOVELTY — the share of a doc's distinct n-grams
    * whose FIRST appearance (by ascending doc id — ingestion order) is
    * this document: "how much genuinely new content does this doc add to
    * everything before it". Boilerplate and near-copies score → 0 even
    * when no single earlier doc is similar enough for pair-dedup to
    * catch — the mass is spread across MANY predecessors; novelty is the
    * curation signal for that long tail, and doubles as a
    * curriculum/data-valuation ordering.
    *
    * Plan: one gram explode feeds a (gram → min id) aggregate; the join
    * back to the exploded grams is gram-partitioned on both sides (the
    * aggregate output is already hash-partitioned on gram), then one
    * per-doc count pair. Work is proportional to corpus gram mass — the
    * same inverted-layout cost every gram operator here pays — with no
    * pairwise comparison anywhere. */
  def noveltyScore(
      docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    def grams = docs.select(col(idCol).as("id"),
      explode(shingles(col(textCol), n)).as("gram"))
    val first = grams.groupBy(col("gram")).agg(min(col("id")).as("graft_first"))
    grams.join(first, "gram")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("graft_first") === col("id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("id").as(idCol), col("n_grams"), col("n_novel"),
        round4(col("n_novel").cast("double") / col("n_grams")).as("novelty"))
  }

  /** Dedup-aware data accounting: per group, how many tokens the corpus
    * claims vs how many SURVIVE exact deduplication — the "how much
    * training data do we actually have" report. tokens_total counts every
    * copy; tokens_effective counts each distinct text once (within its
    * group — a text shared by two sources counts once per source, since
    * cross-source exemplar attribution is a policy choice this report
    * doesn't make); dup_waste is the fraction of claimed mass that is
    * duplicate copies. Two stacked integer aggregations on
    * (group, content-hash) — the texts themselves never shuffle, only
    * 16-byte fingerprints and counts. */
  def effectiveTokens(
      docs: DataFrame, textCol: String, grpCol: String): DataFrame =
    docs
      .select(col(grpCol).as("grp"), md5(col(textCol)).as("fp"),
        size(tokens(col(textCol))).cast("long").as("graft_tok"))
      .groupBy(col("grp"), col("fp"))
      .agg(count(lit(1)).as("graft_n"), max(col("graft_tok")).as("graft_tok"))
      .groupBy(col("grp"))
      .agg(sum(col("graft_n")).as("n_docs"),
        count(lit(1)).as("n_unique"),
        sum(col("graft_n") * col("graft_tok")).as("tokens_total"),
        sum(col("graft_tok")).as("tokens_effective"))
      .select(col("grp").as(grpCol), col("n_docs"), col("n_unique"),
        col("tokens_total"), col("tokens_effective"),
        // round4, not round(): the ratio of exact integers is the same
        // double on every engine, but round() midpoint semantics differ
        round4(lit(1.0) - col("tokens_effective").cast("double") /
          col("tokens_total")).as("dup_waste"))

  /** SUBSTRING-level duplication: maximal token spans made of `minLen`-gram
    * windows whose gram text occurs MORE THAN ONCE anywhere in the corpus
    * (including repeats inside one document) — the span-granular
    * complement of document-level dedup, after Lee et al., "Deduplicating
    * Training Data Makes Language Models Better" (ACL 2022): boilerplate
    * headers, license blocks, and quoted passages duplicate long
    * substrings across documents that are nowhere near whole-document
    * duplicates, and training repeatedly on those spans is what the paper
    * measures as harmful. The exact method there is a corpus-wide suffix
    * array; the distributable equivalent used here is fixed-length gram
    * fingerprinting: a token span is flagged iff it is covered by
    * length-`minLen` windows that each appear ≥ 2 times, which marks
    * exactly the spans of pairwise-repeated content of length ≥ minLen
    * (a suffix array additionally distinguishes WHERE the other copy is —
    * not needed to excise the span).
    *
    * Output: one row per maximal flagged span — (doc_id, span_start,
    * span_end inclusive 0-based token offsets, span_tokens, n_grams =
    * number of duplicated windows merged into the span). Downstream
    * removal is a per-doc slice on these offsets ([[removeSpans]]);
    * summing span_tokens against total tokens gives the corpus
    * dup-substring mass. With `keepFirst` the corpus-FIRST occurrence
    * (lexicographic (id, start)) of each duplicated gram is exempt from
    * FLAGGING — the paper's retain-one intent; the default flags every
    * occurrence (the audit view). CAVEAT: the exemption is per-GRAM, and
    * spans merge per-doc, so when two DISTINCT duplicated regions
    * overlap, a span anchored on one region's non-first grams can still
    * cover (and excise) tokens of the other region's exempt first
    * occurrence — content covered only by exempt grams always survives,
    * but a gram's first occurrence inside a larger excised neighborhood
    * does not. When the stronger guarantee is needed, use
    * [[removeSpansToFixpoint]] — it protects first occurrences during
    * each excision pass and iterates to a fixpoint (x116).
    *
    * Plan at scale: one positional-gram explode (map-side, one token walk
    * per row via [[positionalGrams]]); the occurrence count groups by the
    * gram's 16-byte md5 so the shuffle carries fingerprints + integer
    * positions, never gram text; hit positions merge into maximal spans
    * with a window PARTITIONED BY doc (keyed, never global — two hits
    * merge iff their starts differ by ≤ minLen, i.e. the windows overlap
    * or touch). Work ∝ corpus gram mass, the same inverted-layout cost
    * every gram operator here pays; no pairwise comparison anywhere. */
  def duplicateSpans(
      docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 10, keepFirst: Boolean = false): DataFrame = {
    val hitsAll = dupGramHits(docs, idCol, textCol, minLen)
    // keepFirst: the FIRST corpus occurrence of each duplicated gram is
    // not a hit — its span survives excision, later copies are flagged
    // (the retain-one-copy policy; default flags every occurrence, the
    // audit view)
    val hits = (if (keepFirst) hitsAll.filter(!col("graft_is_first"))
      else hitsAll).select("id", "start")
    spanIslands(hits, minLen)
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        col("span_tokens"), col("n_grams"))
  }

  /** Every occurrence of every corpus-duplicated `minLen`-gram, with the
    * corpus-first flag: (id, start, graft_is_first). One gram explode +
    * one fingerprint-keyed aggregate that carries both the occurrence
    * count and the lexicographic-first instance (struct min) — the
    * shared detection stage of [[duplicateSpans]] and
    * [[removeSpansToFixpoint]]. */
  private def dupGramHits(
      docs: DataFrame, idCol: String, textCol: String,
      minLen: Int): DataFrame = {
    // widen narrow inputs before the CPU-heavy gram explode + md5 map
    // (the [[collapseExact]] posture): a single small parquet file scans
    // as 1-2 partitions, which would serialize the per-token DP on a
    // couple of cores. No-op at scale (inputs already at least as wide
    // as the cluster), and the downstream gfp aggregate / id window are
    // order-independent, so rows out are identical.
    val spark = docs.sparkSession
    val wide = widen(docs)
    val grams = wide.select(col(idCol).as("id"),
        posexplode(positionalGrams(col(textCol), minLen))
          .as(Seq("start", "gram")))
      .select(col("id"), col("start"), md5(col("gram")).as("gfp"))
    val dup = grams.groupBy(col("gfp"))
      .agg(count(lit(1)).as("graft_c"),
        min(struct(col("id"), col("start"))).as("graft_first"))
      .filter(col("graft_c") >= 2)
      .select("gfp", "graft_first")
    grams.join(dup, "gfp")
      .select(col("id"), col("start"),
        (col("id") === col("graft_first.id") &&
          col("start") === col("graft_first.start")).as("graft_is_first"))
  }

  /** Merge per-doc gram-hit starts into maximal token spans (the
    * gaps-and-islands window over a doc-keyed partition): two windows
    * merge iff their starts differ by ≤ minLen, i.e. they overlap or
    * touch — the merged span is the EXACT union of the hit windows,
    * never a bridge over uncovered tokens. Returns (id, span_start,
    * span_end inclusive, span_tokens, n_grams). */
  private def spanIslands(hits: DataFrame, minLen: Int): DataFrame = {
    val byDoc = Window.partitionBy("id").orderBy("start")
    hits
      .withColumn("graft_brk",
        when(col("start") - lag(col("start"), 1).over(byDoc) > minLen, 1)
          .otherwise(0))
      .withColumn("graft_island", sum(col("graft_brk")).over(byDoc))
      .groupBy(col("id"), col("graft_island"))
      .agg(min(col("start")).cast("long").as("span_start"),
        (max(col("start")) + (minLen - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_grams"))
  }

  /** Excise [[duplicateSpans]] spans from the corpus: per document, drop
    * every token whose 0-based offset falls inside one of the doc's
    * spans and re-assemble the remainder. Composed with
    * `duplicateSpans(keepFirst = true)` this is substring-level dedup in
    * the spirit of Lee et al.'s ExactSubstr deduplication: first corpus
    * occurrences are exempt from flagging, later copies of repeated
    * regions are cut — subject to the per-gram exemption caveat
    * documented on [[duplicateSpans]] (overlapping distinct duplicated
    * regions can excise tokens of an exempt first occurrence;
    * [[removeSpansToFixpoint]] is the protected, iterated variant that
    * closes it).
    *
    * Returns every input document: (idCol, n_tokens, n_removed,
    * text_clean) — text_clean = "" when a doc was entirely duplicated
    * substrings.
    *
    * Plan: the spans aggregate to one small array per affected doc
    * (span count per doc is bounded by doc length / minLen), ONE hash
    * equi-join attaches them to the corpus (left — clean docs pass
    * through untouched), and the excision itself is a map-side
    * higher-order filter over the token array (per-token work ∝ the
    * doc's span count; the captured span array is an attribute, not a
    * re-evaluated expression). Texts shuffle never; spans (integer
    * pairs) shuffle once. */
  def removeSpans(
      docs: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    val sp = spans.groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("graft_spans"))
    docs.join(sp, Seq(idCol), "left")
      .select(col(idCol), tokens(col(textCol)).as("graft_t"),
        coalesce(col("graft_spans"),
          array().cast("array<struct<span_start:long,span_end:long>>"))
          .as("graft_spans"))
      .select(col(idCol),
        size(col("graft_t")).cast("long").as("n_tokens"),
        filter(col("graft_t"), (_, i) =>
          !exists(col("graft_spans"), s =>
            i.cast("long") >= s.getField("span_start") &&
              i.cast("long") <= s.getField("span_end"))).as("graft_kept"))
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - size(col("graft_kept"))).cast("long")
          .as("n_removed"),
        concat_ws(" ", col("graft_kept")).as("text_clean"))
  }

  /** Substring excision to a FIXPOINT with per-iteration first-occurrence
    * PROTECTION — the stronger guarantee [[duplicateSpans]]' keepFirst
    * caveat names: single-pass keepFirst exempts the first occurrence of
    * each duplicated gram from FLAGGING, but a span anchored on another
    * region's non-first grams can still cover (and excise) an exempt
    * first occurrence when distinct duplicated regions overlap — content
    * can lose its last copy. Here, each iteration removes a token only
    * if it is covered by a flagged (non-first) gram window AND NOT
    * covered by any first-occurrence window of a currently-duplicated
    * gram — so within an iteration, every duplicated gram's first
    * occurrence survives INTACT (all its tokens protected), hence every
    * duplicated gram keeps ≥ 1 occurrence. Excision creates new token
    * adjacencies (hence possibly new duplicated grams), so the
    * detect→protect→excise pass iterates until an iteration removes
    * ZERO tokens — which includes the honest stable state where a
    * remaining duplicate copy sits entirely inside another gram's
    * protected first occurrence and is deliberately not cut.
    *
    * (The per-iteration guarantee composes across iterations for
    * separately-planted overlapping regions — ExtSpec pins it on such a
    * fixture; a multi-iteration cascade where a NEWLY-formed duplicate's
    * excision fragments an original gram's last copy is the residual
    * theoretical gap exact one-copy retention needs suffix arrays for.)
    *
    * Each iteration costs one [[duplicateSpans]]-shaped pass over the
    * CURRENT corpus (gram explode, fingerprint-only shuffle, doc-keyed
    * windows, one keyed excision join) and the corpus shrinks
    * monotonically; real corpora converge in 2–3 iterations. Throws
    * after `maxIter` iterations that each still removed tokens — the
    * convergence check (raise maxIter or fall back to the single-pass
    * [[removeSpans]] audit posture).
    *
    * Returns every input document: (idCol, n_tokens original, n_removed
    * total across iterations, text_clean). */
  def removeSpansToFixpoint(
      docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 10, maxIter: Int = 10): DataFrame = {
    require(maxIter >= 1, "need at least one iteration")
    var cur = materialize(docs.select(col(idCol).as("id"),
      tokens(col(textCol)).as("graft_t")))
    val orig = cur.select(col("id"),
      size(col("graft_t")).cast("long").as("n_tokens"))
    var it = 0
    var removedThisIter = 1L
    while (removedThisIter > 0L && it < maxIter) {
      val text = cur.select(col("id"),
        concat_ws(" ", col("graft_t")).as("text"))
      val hits = dupGramHits(text, "id", "text", minLen)
      val flagged = spanIslands(
        hits.filter(!col("graft_is_first")).select("id", "start"), minLen)
      val prot = spanIslands(
        hits.filter(col("graft_is_first")).select("id", "start"), minLen)
      def spanArr(spans: DataFrame, name: String) = spans.groupBy(col("id"))
        .agg(collect_list(struct(col("span_start"), col("span_end")))
          .as(name))
      val next = materialize(cur
        .join(spanArr(flagged, "graft_cut"), Seq("id"), "left")
        .join(spanArr(prot, "graft_keep"), Seq("id"), "left")
        .select(col("id"),
          size(col("graft_t")).as("graft_n_before"),
          filter(col("graft_t"), (_, i) => {
            def in(arr: Column) = exists(coalesce(arr,
              array().cast(
                "array<struct<span_start:long,span_end:long>>")), s =>
              i.cast("long") >= s.getField("span_start") &&
                i.cast("long") <= s.getField("span_end"))
            !(in(col("graft_cut")) && !in(col("graft_keep")))
          }).as("graft_t"))
        .select(col("id"), col("graft_t"),
          (col("graft_n_before") - size(col("graft_t")))
            .cast("long").as("graft_cut_n")))
      removedThisIter = next.agg(coalesce(sum(col("graft_cut_n")), lit(0L)))
        .head().getLong(0)
      cur = next.select(col("id"), col("graft_t"))
      it += 1
    }
    if (removedThisIter > 0L)
      throw new IllegalStateException(
        s"removeSpansToFixpoint did not converge in $maxIter iterations " +
          s"(last pass still removed $removedThisIter tokens) — raise " +
          "maxIter or use the single-pass removeSpans audit")
    orig.join(cur, Seq("id"))
      .select(col("id").as(idCol), col("n_tokens"),
        (col("n_tokens") - size(col("graft_t"))).cast("long")
          .as("n_removed"),
        concat_ws(" ", col("graft_t")).as("text_clean"))
  }

  /** Dedup-threshold SWEEP: how many near-dup pairs (and how many
    * distinct documents) the banded LSH index surfaces at each candidate
    * similarity threshold — the knob-tuning report run BEFORE committing
    * a corpus to one threshold, where the real question is "how much
    * does the removal rate move if I tighten from 0.7 to 0.8". One
    * banded pass at the LOOSEST threshold; each tighter threshold is a
    * filter over the same (bounded, near-dup-sized) pair relation — the
    * corpus is never re-signed per threshold. Counts are pairs the
    * banded index SURFACES at this (numPerms, rowsPerBand) geometry —
    * the operational dedup rate, which at low thresholds is a recall
    * floor of the exact pairwise count (banding recall falls with
    * similarity; that is the measured quantity, not a defect).
    * Returns (threshold, n_pairs ≥ t, n_docs touched by a pair ≥ t). */
  def thresholdSweep(
      docs: DataFrame, idCol: String, textCol: String,
      thresholds: Seq[Double] = (3 to 9).map(_ / 10.0)): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = materialize(
      lshPairs(docs, idCol, textCol, threshold = thresholds.min))
    val t = thresholds.toDF("threshold")
    val pc = pairs.crossJoin(broadcast(t))
      .filter(col("jaccard") >= col("threshold"))
      .groupBy(col("threshold")).agg(count(lit(1)).as("n_pairs"))
    val ends = pairs.select(col("id_a").as("graft_id"), col("jaccard"))
      .unionByName(pairs.select(col("id_b").as("graft_id"), col("jaccard")))
    val dc = ends.crossJoin(broadcast(t))
      .filter(col("jaccard") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count_distinct(col("graft_id")).as("n_docs"))
    t.join(pc, Seq("threshold"), "left").join(dc, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** Cross-group flow matrix of a pair relation: aggregate near-dup (or
    * any) pairs by their endpoints' group attribute — (group_a, group_b,
    * n_pairs, avg of `valCol`), group pair order-normalized with
    * least/greatest so (A,B) and (B,A) land in one cell. THE provenance
    * question on a multi-source corpus: which sources copy from each
    * other (off-diagonal mass = mirrors / shared upstream), which
    * self-duplicate (diagonal mass = crawl artifacts).
    *
    * The pair relation is the DEDUP OUTPUT — orders of magnitude smaller
    * than the corpus — so the two id→group lookup joins hash-join on ids
    * and the matrix aggregate's output is bounded by |groups|²; the
    * corpus text is never touched. */
  def pairGroupMatrix(
      pairs: DataFrame, aCol: String, bCol: String, valCol: String,
      docs: DataFrame, idCol: String, grpCol: String): DataFrame = {
    val lookup = docs.select(col(idCol), col(grpCol))
    pairs
      .join(lookup.select(col(idCol).as(aCol), col(grpCol).as("graft_ga")), aCol)
      .join(lookup.select(col(idCol).as(bCol), col(grpCol).as("graft_gb")), bCol)
      .groupBy(least(col("graft_ga"), col("graft_gb")).as("group_a"),
        greatest(col("graft_ga"), col("graft_gb")).as("group_b"))
      // avg_sim is the mean of the 4-dp-QUANTIZED similarities: quantize
      // each value to an integer (floor(v·10⁴+0.5)), sum as longs — exact
      // in any summation order, unlike avg(double) whose last-ulp result
      // depends on the engine's accumulation order — then one division
      .agg(count(lit(1)).as("n_pairs"),
        sum(floor(col(valCol) * 10000 + 0.5).cast("long")).as("graft_q"))
      .select(col("group_a"), col("group_b"), col("n_pairs"),
        round4(col("graft_q").cast("double") / (col("n_pairs") * 10000))
          .as("avg_sim"))
  }

  /** Transitivity audit of a near-dup pair graph: edges, wedges
    * (2-paths), triangles, and the global clustering coefficient
    * 3·triangles/wedges — ONE row. A trustworthy similarity relation is
    * highly transitive (A≈B ≈C ⇒ A≈C at a slightly lower threshold);
    * transitivity far below ~0.5 means the pair threshold is admitting
    * accidental collisions, and near 1.0 with a fat wedge count means
    * clean clusters — the one-glance "should I trust the collapse"
    * check run before [[components]] commits to cluster reps.
    *
    * Wedges are Σ d(d−1)/2 over vertex degrees (integer arithmetic,
    * exact); triangles enumerate through two vertex-keyed equi-joins over
    * the (min,max)-oriented edge list — candidate count is Σ d², fine for
    * the SPARSE graphs dedup produces (the pair relation is orders of
    * magnitude smaller than the corpus; a graph dense enough to hurt
    * here has a dup-rate problem the audit exists to expose). */
  def transitivityAudit(
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val edges = materialize(pairs
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val deg = edges.select(col("a").as("v"))
      .unionAll(edges.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("graft_d"))
    // coalesce: sum over the zero-row degree relation (empty graph) is
    // NULL, which a typed non-nullable Long read would NPE on — the empty
    // graph's wedge count is 0, fully typed
    val wedges = deg.agg(coalesce(sum(
      expr("graft_d * (graft_d - 1) div 2")), lit(0L)).as("n_wedges"))
    val tri = edges.as("ab")
      .join(edges.select(col("a").as("b"), col("b").as("c")).as("bc"), "b")
      .join(edges.select(col("a"), col("b").as("c")).as("ac"), Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(wedges).crossJoin(tri)
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          round4(lit(3.0) * col("n_triangles") / col("n_wedges")))
          .otherwise(lit(0.0)).as("transitivity"))
  }

  /** Degree histogram of a pair graph — (degree, n_nodes) over the
    * near-dup pair output: the one-glance forensics view that separates
    * "many isolated dup pairs" (degree 1 dominates) from "one giant
    * template cluster" (a fat high-degree tail) before any collapse runs.
    * Both aggregations partial-combine map-side; the second one's input
    * is |nodes| rows and the output is bounded by the max degree. */
  /** Cluster-size histogram over a component assignment — (size,
    * n_clusters) from a (member → representative) relation: the companion
    * view to [[degreeHistogram]] AFTER collapse ("how much does dedup
    * save, and is it one mega-cluster or many small ones"). Two
    * map-combined aggregates; output bounded by the largest cluster. */
  def clusterSizeHistogram(
      assignments: DataFrame, repCol: String): DataFrame =
    assignments.groupBy(col(repCol)).agg(count(lit(1)).as("graft_sz"))
      .groupBy(col("graft_sz").as("size"))
      .agg(count(lit(1)).as("n_clusters"))

  def degreeHistogram(
      pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs.select(col(aCol).as("graft_n"))
      .unionAll(pairs.select(col(bCol).as("graft_n")))
      .groupBy(col("graft_n")).agg(count(lit(1)).as("graft_deg"))
      .groupBy(col("graft_deg").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
}