package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.GraftColumnBridge

import graft.functions.DotProduct

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *   - `bruteForceTopK` — exact cosine top-k: broadcast the (small) query
  *     set, score every corpus vector map-side, shuffle only for the
  *     per-query top-k. O(|corpus| · |queries| · dim) work but perfectly
  *     data-parallel; the right baseline and the correctness oracle.
  *   - `ivfTopK` — multi-table random-hyperplane LSH (sign-random-projection)
  *     approximate search: each of `numTables` hash tables buckets every
  *     vector by the sign pattern of `dims` fixed ±1 hyperplane projections
  *     ([[hyperplaneSigns]] — seeded, literal, shared with the x07 oracle),
  *     and scoring happens only within matching (table, bucket) cells.
  *     Multiple independent tables are the standard LSH recall lever: a true
  *     neighbor only needs to collide in ONE table. At 100 TB the bucket
  *     assignment is a map-side expression and the join is hash-partitioned
  *     on (table, bucket) — the crossproduct never materializes; the corpus
  *     posting list is ×`numTables`, the classic LSH space-for-recall trade.
  *
  * Scoring uses the native [[graft.functions.DotProduct]] expression (tight
  * codegen loop, no higher-order-function interpretation), and norms are
  * computed ONCE per vector before the join rather than per pair — the
  * cosine value is bit-identical either way (`sqrt(dot(v,v))` is the same
  * number wherever it's evaluated), so the DuckDB oracle still matches
  * exactly. All accumulation in double, left-to-right.
  */
object Similarity {

  /** Native codegen'd Σ aᵢ·bᵢ in double (accepts float or double arrays). */
  def dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProduct(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Pairwise cosine from pre-joined vector+norm columns. */
  private def cosFrom(av: Column, an: Column, bv: Column, bn: Column): Column =
    dot(av, bv) / (an * bn)

  /** Fixed ±1 hyperplane coefficients for the LSH tables: `maxTables` ×
    * `maxDims` planes × 64 vector dimensions, generated ONCE from a seeded
    * 64-bit LCG (MMIX constants) so they are deterministic, data-independent
    * literals — the x07 oracle SQL embeds the very same numbers (generated
    * from this array), so Spark and DuckDB bucket identically. Dense ±1
    * signs are standard sign-random-projection: for cosine similarity the
    * collision probability per bit is 1 − θ/π, direction-uniform. */
  val maxTables = 3
  val maxDims = 8

  /** Default vector dimensionality (the testdata embeddings' width; the
    * x07 oracle's literal planes are the `planeDim`-wide instance).
    * [[graft.functions.DotProduct]] iterates min(length) of its operands,
    * so a shorter/longer embedding would silently bucket on a truncated
    * projection — [[ivfTopK]] guards every vector with [[dimChecked]]
    * instead, failing loudly on a dimension mismatch. */
  val planeDim = 64

  /** Per-row guard: pass `v` through unchanged iff it has exactly `dim`
    * elements, else raise. Map-side `when`, negligible cost. */
  private def dimChecked(v: Column, dim: Int): Column =
    when(size(v) === lit(dim), v).otherwise(raise_error(concat(
      lit(s"hyperplane LSH requires $dim-dim embeddings; got dim="),
      size(v).cast("string"))))

  /** ±1 hyperplane coefficients for an arbitrary vector width, from the
    * same seeded LCG stream as the original [[planeDim]]-wide literals —
    * for `dim == planeDim` the seed is the historical 12345, so the x07
    * oracle's embedded numbers are reproduced bit-for-bit; other widths
    * fold the width into the seed for an independent deterministic
    * stream. Memoized: plane generation is driver-side literal building. */
  private val signsCache =
    scala.collection.concurrent.TrieMap.empty[Int, Array[Array[Array[Double]]]]
  private[graft] def signsFor(dim: Int): Array[Array[Array[Double]]] =
    signsCache.getOrElseUpdate(dim, {
      var state = if (dim == planeDim) 12345L else 12345L ^ (dim.toLong * 0x9E3779B97F4A7C15L)
      def next(): Long = {
        state = state * 6364136223846793005L + 1442695040888963407L
        state
      }
      Array.fill(maxTables, maxDims, dim)(if (((next() >>> 40) & 1L) == 1L) 1.0 else -1.0)
    })

  /** The [[planeDim]]-wide planes (x07 oracle SQL embeds these numbers). */
  private[graft] def hyperplaneSigns: Array[Array[Array[Double]]] = signsFor(planeDim)

  /** Bucket code of `v` in hash table `table`: bit i = sign of the dot
    * product with literal hyperplane i. Map-side, codegen'd (native
    * [[graft.functions.DotProduct]] per plane). 2^dims buckets. */
  def hyperplaneBucket(v: Column, table: Int, dims: Int = maxDims,
      dim: Int = planeDim): Column =
    (0 until dims).map { i =>
      val plane = array(signsFor(dim)(table)(i).map(lit): _*)
      when(dot(v, plane) > lit(0.0), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Exact top-k neighbors for each query vector.
    * `queries` must be small enough to broadcast (it is, by construction —
    * a query batch). Returns (query_id, neighbor_id, cos, rank). */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosFrom(col("qv"), col("qn"), col("cv"), col("cn")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** HARD-NEGATIVE mining for contrastive / reranker training: per query,
    * the top-k most similar corpus vectors INSIDE a cosine band
    * [floor, dupCeil) — the "hard but not false" negatives. The ceiling
    * excises near-duplicates of the query (which would be false
    * negatives: training against a positive labeled negative is the
    * classic contrastive-learning poison — cf. RocketQA/ANCE denoised
    * hard-negative selection); the floor drops easy random negatives that
    * contribute no gradient. Compose with a near-dup pair relation
    * ([[graft.ext.Dedup.lshPairs]] on the texts) when duplicate structure
    * is known rather than thresholdable.
    *
    * Same plan as [[bruteForceTopK]]: queries broadcast, corpus scored
    * map-side in one scan, per-query top-k via a window PARTITIONED BY
    * query (keyed, never global). The band filter runs BEFORE the window,
    * so rank work is band-bounded. For corpus-scale query sets, run the
    * same band through [[ivfPqTopK]]'s candidate restriction instead of
    * the exhaustive scan — this exact variant is the audit / small-batch
    * path. */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame, k: Int,
      floor: Double = 0.15, dupCeil: Double = 0.35,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(floor < dupCeil, s"empty band: floor=$floor >= dupCeil=$dupCeil")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosFrom(col("qv"), col("qn"), col("cv"), col("cn")))
      .filter(col("cos") >= floor && col("cos") < dupCeil)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Multi-table hyperplane-LSH top-k with multi-probe: each query searches
    * its own bucket in every table, plus every bucket within Hamming
    * distance `probeRadius` — a true neighbor is found if it collides in
    * ANY table. Probe codes are EXPLODED on the (small, broadcast) query
    * side so the join stays a hash equi-join on (table, bucket) — the
    * corpus is never re-partitioned or nested-loop scanned; its posting
    * list is `numTables` rows per vector, built map-side.
    *
    * `probeRadius` and `numTables` are the recall/cost knobs. Measured on
    * the synthetic sf0.001 embeddings (500 × 64-dim, near-random — a hard
    * case) with dims=8: 1 table at radius 1 is recall@3 ≈ 0.13 at ~4%
    * scanned; 3 tables at radius 1 ≈ 0.34 at ~11% scanned — better than a
    * coarser single table at the same scan fraction (6 bits ≈ 0.26 at
    * ~11%). Clustered real-world embeddings separate far better; random
    * data is the information-theoretic worst case.
    *
    * Embeddings must be exactly `dim`-dimensional (default [[planeDim]],
    * the testdata width) — the hyperplanes are generated at that width, so
    * any other size would project on a truncated prefix; [[dimChecked]]
    * raises per-row instead. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int, dims: Int = maxDims,
      probeRadius: Int = 1, numTables: Int = maxTables,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = planeDim): DataFrame = {
    require(probeRadius >= 0 && probeRadius <= 2, "probeRadius must be 0, 1 or 2")
    require(dims >= 1 && dims <= maxDims, s"dims must be in [1, $maxDims]")
    require(numTables >= 1 && numTables <= maxTables,
      s"numTables must be in [1, $maxTables]")
    require(dim >= 1, "dim must be positive")

    def tableBuckets(v: Column): Column =
      array((0 until numTables).map(l => hyperplaneBucket(v, l, dims, dim)): _*)

    val c = corpus.select(col(idCol).as("neighbor_id"),
        dimChecked(col(vecCol), dim).as("cv"))
      .withColumn("cn", norm(col("cv")))
      .select(col("neighbor_id"), col("cv"), col("cn"),
        posexplode(tableBuckets(col("cv"))).as(Seq("tbl", "bucket")))

    val r1 =
      if (probeRadius >= 1)
        (0 until dims).map(i => col("bucket").bitwiseXOR(lit(1L << i)))
      else Nil
    val r2 =
      if (probeRadius >= 2)
        for { i <- 0 until dims; j <- (i + 1) until dims }
          yield col("bucket").bitwiseXOR(lit((1L << i) | (1L << j)))
      else Nil
    val probeCodes = array((col("bucket") +: (r1 ++ r2)): _*)
    val q = queries.select(col(idCol).as("query_id"),
        dimChecked(col(vecCol), dim).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .select(col("query_id"), col("qv"), col("qn"),
        posexplode(tableBuckets(col("qv"))).as(Seq("tbl", "bucket")))
      .select(col("query_id"), col("qv"), col("qn"), col("tbl"),
        explode(probeCodes).as("bucket"))

    // a pair can collide in several tables (that is the recall mechanism) —
    // dedup candidates before ranking; cos is identical across duplicates
    val scored = c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosFrom(col("qv"), col("qn"), col("cv"), col("cn")))
      .select("query_id", "neighbor_id", "cos")
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Embedding-cosine near-duplicate PAIRS at scale: bucket every vector
    * with the same multi-table hyperplane LSH as [[ivfTopK]], generate
    * candidate pairs only within (table, bucket) cells via a self
    * equi-join, dedup collisions across tables, verify with the exact
    * cosine. Approximate by nature (a pair whose vectors collide in no
    * table is missed — more tables/fewer bits raise recall); every
    * EMITTED pair carries its true cosine. The x33 oracle reconstructs
    * the identical bucketing from the same literal planes, so the
    * approximation itself is value-checked, not just the verify.
    *
    * Scale: bucketing is map-side; the join is hash-partitioned on
    * (table, bucket); vectors ride the posting list ×`numTables` exactly
    * like the ivfTopK corpus side. No O(n²) anywhere. */
  def lshCosinePairs(
      vectors: DataFrame, threshold: Double, dims: Int = maxDims,
      numTables: Int = maxTables,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = planeDim): DataFrame = {
    require(dims >= 1 && dims <= maxDims, s"dims must be in [1, $maxDims]")
    require(numTables >= 1 && numTables <= maxTables,
      s"numTables must be in [1, $maxTables]")
    val banded = vectors.select(col(idCol).as("id"),
        dimChecked(col(vecCol), dim).as("v"))
      .withColumn("n", norm(col("v")))
      .select(col("id"), col("v"), col("n"),
        posexplode(array((0 until numTables).map(t =>
          hyperplaneBucket(col("v"), t, dims, dim)): _*))
          .as(Seq("tbl", "bucket")))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.v").as("va"), col("a.n").as("na"),
        col("b.v").as("vb"), col("b.n").as("nb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cos", cosFrom(col("va"), col("na"), col("vb"), col("nb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Squared L2 distance expanded as v·v − 2 v·c + c·c — three native
    * [[DotProduct]] evaluations, each a sequential left-to-right double
    * accumulation, so an external SQL engine (`list_dot_product`) computes
    * the bit-identical number from the same operands. */
  private def sqDist(v: Column, c: Column): Column =
    dot(v, v) - lit(2.0) * dot(v, c) + dot(c, c)

  /** Deterministic k-means training for an IVF index: seeds = the `k`
    * lowest-id vectors, `iters` Lloyd steps. Returns (cid, c) centroid
    * rows.
    *
    * Everything is ONE lazy plan — no driver-side iteration state:
    *   - assignment is a broadcast of the k-row centroid frame against the
    *     corpus, argmin via a per-vector window (partitioned by vector id —
    *     as fine-grained as the data, never a single-partition window);
    *   - the update is posexplode → groupBy(cid, pos) → avg — map-side
    *     partial aggregation over (k·dim) cells, then per-centroid array
    *     re-assembly.
    *
    * Cross-engine determinism (the x44 oracle re-derives the centroids
    * from scratch): per-dimension means are rounded to 6 decimals each
    * iteration, so accumulation-order noise (~1e-15) cannot propagate into
    * the next iteration's distance comparisons; argmin ties break by cid.
    * A centroid whose cell empties drops out on BOTH engines (GROUP BY
    * emits no row) — the standard small-k hazard, deterministic here. */
  def kmeansCentroids(
      corpus: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col(idCol).as("vid"), col(vecCol).as("v"))
    val seed = vecs.orderBy(col("vid")).limit(k)
      .select(col("vid").cast("int").as("cid"),
        transform(col("v"), _.cast("double")).as("c"))
    // DRIVER-BOUNDED Lloyd loop: each step's output is k centroid rows
    // (k · dim doubles — the same bounded-collect budget the cell-id
    // sets use), so collect them and feed the next assignment a LITERAL
    // local relation. Lazily folding the steps instead (the old shape)
    // builds one deeply nested plan whose every level hides a broadcast
    // subquery job and whose analysis/codegen cost grows with iters —
    // all to recompute rows the driver could hold in a few KB. The
    // collected doubles are re-broadcast bit-identically, so the
    // assignment math is unchanged.
    def localize(df: DataFrame): DataFrame =
      df.select(col("cid").cast("int"), col("c").cast("array<double>"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .toSeq.toDF("cid", "c")
    (1 to iters).foldLeft(localize(seed)) { (cents, _) =>
      localize(assignToCentroids(vecs, cents)
        .select(col("cid"), posexplode(col("v").cast("array<double>"))
          .as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos")).agg(round(avg(col("x")), 6).as("m"))
        .groupBy(col("cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          _.getField("m")).as("c")))
    }
  }

  /** [[kmeansCentroids]] trained on a deterministic BOUNDED sample — the
    * production-scale training path: full-batch k-means is n·k distance
    * work per Lloyd step, and with the cell count scaled ~√n (the
    * SemDeDup auto-scaling posture) that makes a state BUILD n^1.5 —
    * the one data-superlinear stage this module had (SCALE.md measured
    * it 4.7 → 91.9 s at 1×→50×). Centroid QUALITY does not need the
    * full corpus: k-means means stabilize on a bounded sample (the
    * [[graft.ext.Bpe.trainMergesSampled]] posture applied to k-means),
    * so training runs on the `maxTrain` lowest-portable-hash vectors —
    * a pure function of the ids ([[graft.ext.PortableHash.md5Long]],
    * ties by id), reproducible on any engine and under retries — and
    * the one-time corpus ASSIGNMENT stays the linear broadcast-argmin
    * map. Per-step training cost: maxTrain·k, corpus-size-independent.
    *
    * Same output contract as [[kmeansCentroids]]; when the corpus holds
    * at most `maxTrain` rows the sample IS the corpus and the two
    * trainers are identical (spec-pinned). */
  def kmeansCentroidsSampled(
      corpus: DataFrame, k: Int, iters: Int, maxTrain: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(maxTrain >= k,
      s"maxTrain ($maxTrain) must be >= k ($k): k-means cannot seed $k " +
        "centroids from fewer training vectors")
    kmeansCentroids(trainingSample(corpus, maxTrain, idCol), k, iters,
      idCol, vecCol)
  }

  /** The `maxTrain` lowest-(portable-hash, id) rows — the
    * [[graft.ext.Bpe.trainMergesLocal]] prefix discipline: a hash-cutoff
    * PRE-FILTER (4× the needed fraction, provably containing the true
    * prefix) bounds the top-K sort input to ~4·maxTrain rows so the
    * corpus's vectors are never range-shuffled wholesale; if the margin
    * ever under-captures, fall back to the exact full sort — the
    * selected prefix is identical either way. The two `count()` passes
    * are narrow-column scans (no vector bytes move). */
  private def trainingSample(
      df: DataFrame, maxTrain: Int, idCol: String): DataFrame = {
    val base = df.withColumn("graft_h",
      graft.ext.PortableHash.md5Long(col(idCol).cast("string")))
    val n = base.count()
    if (n <= maxTrain) return df
    val pool =
      if (n <= maxTrain.toLong * 4) base
      else {
        val cutoff = ((1L << 60).toDouble *
          math.min(1.0, 4.0 * maxTrain / n)).toLong
        val pre = base.filter(col("graft_h") < cutoff)
        if (pre.count() >= maxTrain) pre else base
      }
    pool.orderBy(col("graft_h"), col(idCol)).limit(maxTrain).drop("graft_h")
  }

  /** Nearest-centroid assignment: (vid, v, cid). Broadcast k rows, argmin
    * by (sqDist, cid) as `min(struct(dist, cid, v))` — struct ordering IS
    * the lexicographic (dist, cid) argmin with the deterministic tie-break
    * ((dist, cid) is unique per group, so `v` never participates in the
    * comparison), and unlike a row_number window it partial-aggregates
    * map-side: the shuffle carries one pre-combined row per vector, not
    * the ×k candidate expansion. */
  private def assignToCentroids(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("graft_dist", sqDist(col("v"), col("c")))
      .groupBy(col("vid"))
      .agg(min(struct(col("graft_dist"), col("cid"), col("v"))).as("m"))
      .select(col("vid"), col("m.v").as("v"), col("m.cid").as("cid"))

  /** k-means IVF approximate top-k: train [[kmeansCentroids]], assign the
    * corpus once, probe each query's `nProbe` nearest cells, exact cosine
    * within the probed cells only. The CLUSTERED-data counterpart of the
    * hyperplane [[ivfTopK]]: hyperplanes are data-independent (no training
    * pass), k-means cells adapt to the corpus — the standard FAISS-style
    * IVF layout, and the shape real embedding corpora want.
    *
    * Scale: training touches (corpus × k) map-side with a per-vector
    * window; the probe join is hash-partitioned on cid with the query side
    * broadcast (queries × nProbe rows); scored work is the probed cells
    * only — at scale ~nProbe/k of the corpus per query, never O(n²).
    * Returns (query_id, neighbor_id, cos, rank ≤ `topK`). */
  /** Each query's `nProbe` nearest centroid cells: (query_id, qv, qn, cid).
    * The query side is small by construction — a per-query rank window over
    * queries×k rows is as fine-grained as the data. */
  private def probeCells(
      queries: DataFrame, cents: DataFrame, nProbe: Int,
      idCol: String, vecCol: String): DataFrame = {
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("graft_dist"), col("cid"))
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .crossJoin(broadcast(cents))
      .withColumn("graft_dist", sqDist(col("qv"), col("c")))
      .withColumn("graft_rn", row_number().over(pw))
      .filter(col("graft_rn") <= nProbe)
      .select(col("query_id"), col("qv"), col("qn"), col("cid"))
  }

  def kmeansIvfTopK(
      corpus: DataFrame, queries: DataFrame, topK: Int, k: Int = 8,
      iters: Int = 2, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = kmeansCentroids(corpus, k, iters, idCol, vecCol)
    val vecs = corpus.select(col(idCol).as("vid"), col(vecCol).as("v"))
    val assigned = assignToCentroids(vecs, cents)
      .withColumn("cn", norm(col("v")))
    val probes = probeCells(queries, cents, nProbe, idCol, vecCol)

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("vid") =!= col("query_id"))
      .withColumn("cos", cosFrom(col("qv"), col("qn"), col("v"), col("cn")))
      .select(col("query_id"), col("vid").as("neighbor_id"), col("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** PERSISTED IVF index state: the ANN counterpart of
    * [[graft.ext.Dedup.appendLshState]], closing the same steady-state
    * gap — [[kmeansIvfTopK]] re-trains centroids and re-assigns the whole
    * corpus on every call (an O(corpus) pass that at 100 TB dwarfs any
    * query batch), while a maintained index assigns each vector ONCE ever.
    *
    * First append TRAINS the [[kmeansCentroids]] on that batch and
    * persists them to `dir/centroids` (k-means centroids drift slowly;
    * training on the first representative batch and freezing is the
    * standard FAISS production posture — retrain = rebuild the dir).
    * Every append assigns its vectors to the FROZEN centroids (broadcast
    * k rows, one map-side argmin pass — per-batch cost O(batch)) and
    * appends (cid, vid, v, cn) rows to `dir/cells`. Queries
    * ([[ivfTopKFromState]]) then probe `nProbe` cells as a narrow
    * columnar scan of precomputed assignments.
    *
    * Replay/crash posture mirrors the LSH state: pass `batchTag` and the
    * append lands in its own `batch_id=N` partition with overwrite (an
    * at-least-once orchestrator re-running a batch overwrites rather than
    * duplicates); untagged appends are for one-shot builds. The index
    * parameters (k, iters, dim) persist to `dir/_meta` on first append
    * and are VALIDATED on every later append — a batch assigned under
    * different geometry would silently corrupt every subsequent probe.
    * Ids must be unique across all appended batches.
    *
    * `trainSample > 0` trains the first-batch centroids on a bounded
    * deterministic hash-sample ([[kmeansCentroidsSampled]]) instead of
    * the full batch — the production posture once the first batch is
    * large (full-batch training is n·k per Lloyd step; at √n cells
    * that makes the BUILD n^1.5, the one superlinear stage this module
    * had). Assignment is unaffected (always the linear broadcast-argmin
    * over the whole batch); the choice freezes with the centroids and
    * is recorded in `_meta`. */
  def appendIvfState(
      vecs: DataFrame, dir: String, k: Int = 8, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      batchTag: Option[Long] = None, trainSample: Int = 0): Unit =
      StateIO.withWriterLock(vecs.sparkSession, dir) {
    require(trainSample == 0 || trainSample >= k,
      s"trainSample ($trainSample) must be 0 (train on the full first " +
        s"batch) or >= k ($k)")
    val spark = vecs.sparkSession
    // an EMPTY first batch must not train: empty centroids would freeze a
    // zero-cell geometry and every later append would silently index
    // nothing (streaming sources routinely deliver empty first
    // micro-batches). Peek one row; an empty batch with no trained
    // centroids is a no-op, an empty batch against trained centroids
    // appends nothing (harmless either way).
    val batchRow = vecs.select(col(vecCol)).head(1)
    // only PATH_NOT_FOUND means "no centroids yet" — a transient FS error
    // or corrupt footer here must CRASH the append, not silently retrain
    // k-means on this batch and overwrite dir/centroids (which would
    // invalidate every existing cell assignment: all later probes would
    // read the wrong cells). Compaction remnants likewise fail fast: a
    // cells table without live non-empty centroids is a crash window, not
    // a fresh dir.
    StatePillar.Ivf.checkWritable(spark, dir)
    StateIO.checkTagAboveFloor(spark, dir, batchTag, "append")
    val centsOpt = StateIO.readTableIfExists(spark, dir, "centroids")
      .filter(_.head(1).nonEmpty)
    require(centsOpt.nonEmpty || !StateIO.pathExists(spark, s"$dir/cells"),
      s"IVF state at $dir has a cells table but no (non-empty) centroids " +
        "table — likely a compaction or restore accident; repair the dir " +
        "before appending (retraining here would orphan every existing " +
        "cell assignment)")
    val cents = centsOpt match {
      case Some(c) =>
        checkIvfMeta(spark, dir, k, iters, dimOf(batchRow), trainSample,
          writeIfAbsent = false)
        c
      case None =>
        if (batchRow.isEmpty) return // nothing to train on, nothing to add
        checkIvfMeta(spark, dir, k, iters, dimOf(batchRow), trainSample,
          writeIfAbsent = true)
        val trained =
          if (trainSample > 0)
            kmeansCentroidsSampled(vecs, k, iters, trainSample, idCol, vecCol)
          else kmeansCentroids(vecs, k, iters, idCol, vecCol)
        trained
          .write.mode("overwrite").parquet(StateIO.tablePath(spark, dir, "centroids"))
        // the trainer's output IS a driver-local relation (the Lloyd
        // loop collects k rows per step) — assign against it directly:
        // the parquet round-trip read-back cost a footer read plus a
        // broadcast-build job per first append and returns bit-identical
        // doubles (later appends still read the frozen table fresh)
        trained
    }
    val rows = vecs.select(col(idCol).as("vid"),
      transform(col(vecCol), _.cast("double")).as("v"))
    val assignedAll = assignToCentroids(rows, cents)
      .select(col("cid"), col("vid"), col("v"))
      .withColumn("cn", norm(col("v")))
    // untagged re-run idempotency (same discipline as the LSH members
    // table): a blind retry after a partial or complete append skips vids
    // already in the state instead of duplicating them. Tagged appends
    // need no scan — the partition overwrite is idempotent by itself.
    val out = batchTag match {
      case Some(_) => assignedAll
      case None =>
        // same PATH_NOT_FOUND-only rule: a swallowed read failure here
        // would skip the anti-join and land duplicate vids in the state
        StateIO.readTableIfExists(spark, dir, "cells") match {
          case Some(existing) =>
            graft.ext.Dedup.materialize(
              assignedAll.join(existing.select(col("vid")),
                Seq("vid"), "left_anti"))
          case None => assignedAll
        }
    }
    batchTag match {
      case Some(t) =>
        out.write.mode("overwrite").parquet(s"${StateIO.tablePath(spark, dir, "cells")}/batch_id=$t")
      case None => out.write.mode("append").parquet(StateIO.tablePath(spark, dir, "cells"))
    }
  }

  /** [[kmeansIvfTopK]]'s probe phase answered from [[appendIvfState]]
    * parquet — per-query cost is the probed cells only, with zero
    * training or corpus-assignment work at query time. Output-identical
    * to [[kmeansIvfTopK]] when the state was built in one append of the
    * same corpus (spec-pinned); with incremental appends, identical to
    * assigning every batch against the first batch's centroids. */
  /** The LIVE cell rows of an IVF state dir: the cells table minus any
    * tombstoned vids ([[deleteFromIvfState]]) and minus an excluded
    * replay tag — the one read every query/audit path shares. */
  private def readCellsLive(
      spark: SparkSession, dir: String,
      excludeTag: Option[Long] = None,
      asOf: Option[(Long, Long)] = None): DataFrame = {
    // a committed-but-unapplied recluster swap can pair NEW centroids
    // with OLD-geometry cells — no query may read across that window
    StateIO.checkNoSwapInProgress(spark, dir)
    val raw = spark.read.parquet(StateIO.tablePath(spark, dir, "cells"))
    val cut = asOf match {
      case Some((bt, _)) => StateIO.asOfCut(raw, "batch_id", bt, dir, "cells")
      case None => raw
    }
    val untagged = excludeTag
      .filter(_ => cut.columns.contains("batch_id"))
      .map(tag => cut.filter(col("batch_id") =!= tag)).getOrElse(cut)
    StatePillar.Ivf.live(spark, dir, untagged, asOf.map(_._2))
  }

  def ivfTopKFromState(
      spark: SparkSession, dir: String, queries: DataFrame, topK: Int,
      nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfFromStateCore(spark, dir, queries, topK, nProbe, idCol, vecCol,
      asOf = None)

  /** SNAPSHOT (time-travel) retrieval from an IVF state — answer
    * [[ivfTopKFromState]] as the state stood after append batch
    * `asOfBatch` and delete batch `asOfDelete`
    * ([[graft.ext.Index.bm25TopKFromStateAsOf]]'s contract on the
    * vector pillar): cells cut to `batch_id <= asOfBatch`, tombstones
    * to `delete_id <= asOfDelete`, both partition-pruned. Valid because
    * the geometry is FROZEN — every batch assigned to the first batch's
    * centroids — so any prefix of the append history probes exactly as
    * it did then. The two content-changing rewrites coarsen history:
    * after [[reclusterIvfState]] old snapshots replay against the NEW
    * centroids, and after [[compactIvfState]] pre-delete snapshots lose
    * the physically-removed rows — snapshot before, or rebuild for
    * forensic reads across those events. Tagged states only (fails fast
    * otherwise). */
  def ivfTopKFromStateAsOf(
      spark: SparkSession, dir: String, queries: DataFrame, topK: Int,
      asOfBatch: Long, asOfDelete: Long = 0L, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfFromStateCore(spark, dir, queries, topK, nProbe, idCol, vecCol,
      asOf = Some((asOfBatch, asOfDelete)))

  private def ivfFromStateCore(
      spark: SparkSession, dir: String, queries: DataFrame, topK: Int,
      nProbe: Int, idCol: String, vecCol: String,
      asOf: Option[(Long, Long)]): DataFrame = {
    checkQueryDim(spark, dir, queries, vecCol)
    val cents = spark.read.parquet(StateIO.tablePath(spark, dir, "centroids"))
    val cells = readCellsLive(spark, dir, asOf = asOf)
      .select("cid", "vid", "v", "cn")
    val probes = probeCells(queries, cents, nProbe, idCol, vecCol)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cells.join(broadcast(probes), Seq("cid"))
      .filter(col("vid") =!= col("query_id"))
      .withColumn("cos", cosFrom(col("qv"), col("qn"), col("v"), col("cn")))
      .select(col("query_id"), col("vid").as("neighbor_id"), col("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** K-NEAREST-NEIGHBOR GRAPH from the persisted IVF state: one row
    * (vec_id, neighbor_id, cos, rank ≤ k) per LIVE vector — the
    * whole-corpus batch analogue of [[ivfTopKFromState]]'s per-query
    * probes, and the standard substrate for semantic-dedup clustering
    * (SemDeDup-style), embedding diversity analysis, and
    * mutual-neighbor mining ([[mutualNnPairsFromState]]). Tombstoned
    * vectors neither query nor answer.
    *
    * Scale shape, stage by stage: (1) each live vector's `nProbe`
    * nearest cells come from ONE map pass against the broadcast
    * centroid table — the top-nProbe is a sorted-struct slice inside a
    * partial aggregate, so the exchange carries one pre-combined
    * (k-struct array) row per vector, never the ×k candidate expansion
    * and never a corpus-wide rank window; (2) the candidate join is a
    * plain hash join on `cid` — NOT a broadcast (the probe side is
    * corpus-sized, unlike a query batch); (3) the per-vector top-k
    * window sees ~`nProbe × cell occupancy` candidates per vector.
    * Total candidate mass is n · nProbe · avg-occupancy — with cell
    * count scaled ~√n (the SemDeDup auto-scaling posture) that is the
    * standard n^1.5 IVF graph-build envelope, never the n² all-pairs
    * a brute-force kNN graph costs. */
  def knnGraphFromState(
      spark: SparkSession, dir: String, k: Int, nProbe: Int = 2): DataFrame =
    knnGraphCore(spark, dir, k, nProbe, asOf = None)

  /** [[knnGraphFromState]] as the state stood after (append `asOfBatch`,
    * delete `asOfDelete`) — the x125-x132 free-time-travel pattern: the
    * graph derives entirely from the tagged cells/tombstones cut, and
    * the geometry is frozen, so any prefix of the history probes
    * exactly as it did then. */
  def knnGraphFromStateAsOf(
      spark: SparkSession, dir: String, k: Int,
      asOfBatch: Long, asOfDelete: Long = 0L, nProbe: Int = 2): DataFrame =
    knnGraphCore(spark, dir, k, nProbe, asOf = Some((asOfBatch, asOfDelete)))

  private def knnGraphCore(
      spark: SparkSession, dir: String, k: Int, nProbe: Int,
      asOf: Option[(Long, Long)]): DataFrame = {
    require(k >= 1, s"knn graph k must be >= 1, got $k")
    require(nProbe >= 1, s"knn graph nProbe must be >= 1, got $nProbe")
    val cents = spark.read.parquet(StateIO.tablePath(spark, dir, "centroids"))
    val cells = readCellsLive(spark, dir, asOf = asOf)
      .select("cid", "vid", "v", "cn")
    // per-vector probe list: map-side top-nProbe against the broadcast
    // centroids (sorted-struct slice — partial-aggregates, no window)
    val probes = cells
      .select(col("vid").as("query_id"), col("v").as("qv"),
        col("cn").as("qn"))
      .crossJoin(broadcast(cents))
      .withColumn("graft_dist", sqDist(col("qv"), col("c")))
      .groupBy(col("query_id"))
      .agg(
        first(col("qv")).as("qv"), first(col("qn")).as("qn"),
        slice(array_sort(collect_list(struct(col("graft_dist"),
          col("cid")))), 1, nProbe).as("graft_near"))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(col("graft_near.cid")).as("cid"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cells.join(probes, Seq("cid")) // hash join on cid — probe side is corpus-sized
      .filter(col("vid") =!= col("query_id"))
      .withColumn("cos", cosFrom(col("qv"), col("qn"), col("v"), col("cn")))
      .select(col("query_id").as("vec_id"), col("vid").as("neighbor_id"),
        col("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** MUTUAL nearest-neighbor pairs over [[knnGraphFromState]]: (a, b)
    * with a < b where each is in the OTHER's top-k and cos ≥ `minCos` —
    * the high-precision candidate relation semantic dedup and
    * hard-negative filtering build on (a one-directional kNN edge is
    * routinely a hub artifact; mutuality is the standard cheap filter).
    * Cost on top of the graph: one self-join of the n·k edge relation
    * on its (vec_id, neighbor_id) key — edge-bounded, never corpus². */
  def mutualNnPairsFromState(
      spark: SparkSession, dir: String, k: Int, minCos: Double,
      nProbe: Int = 2): DataFrame =
    mutualNnCore(spark, dir, k, minCos, nProbe, asOf = None)

  /** [[mutualNnPairsFromState]] at a historical (append, delete) cut —
    * rides [[knnGraphFromStateAsOf]]. */
  def mutualNnPairsFromStateAsOf(
      spark: SparkSession, dir: String, k: Int, minCos: Double,
      asOfBatch: Long, asOfDelete: Long = 0L, nProbe: Int = 2): DataFrame =
    mutualNnCore(spark, dir, k, minCos, nProbe,
      asOf = Some((asOfBatch, asOfDelete)))

  private def mutualNnCore(
      spark: SparkSession, dir: String, k: Int, minCos: Double,
      nProbe: Int, asOf: Option[(Long, Long)]): DataFrame = {
    val g = Dedup.materialize( // one graph build feeds both join sides
      knnGraphCore(spark, dir, k, nProbe, asOf)
        .filter(col("cos") >= minCos)
        .select(col("vec_id"), col("neighbor_id"), col("cos")))
    g.as("a")
      .join(g.as("b"),
        col("a.vec_id") === col("b.neighbor_id") &&
          col("a.neighbor_id") === col("b.vec_id"))
      .filter(col("a.vec_id") < col("a.neighbor_id"))
      // dot(a,b) sums the same index order both ways — cos is bitwise
      // symmetric, either side's copy is THE value
      .select(col("a.vec_id").as("id_a"), col("a.neighbor_id").as("id_b"),
        col("a.cos").as("cos"))
  }

  /** SEMANTIC CLUSTERS from the persisted IVF state — the graph-based
    * semantic-dedup capstone: [[mutualNnPairsFromState]]'s
    * high-precision pair relation closed into connected components
    * ([[graft.ext.Dedup.components]] — min-label propagation, adaptive
    * driver union-find under the edge bound), every LIVE vector labeled
    * (vec_id, rep, cluster_size), singletons their own rep. `rep` is
    * the minimum member id — the deterministic exemplar a dedup pass
    * keeps; dropping `vec_id != rep` rows IS the semantic dedup. The
    * SemDeDup-style [[semanticDedup]] clusters within IVF cells only;
    * this composes the mutual-kNN graph instead, so near-duplicates
    * that straddle a cell boundary (probed, mutual, above threshold)
    * still merge. Cost over the graph: the component closure on the
    * MUTUAL pair relation — far sparser than the kNN graph itself —
    * plus one count per rep. */
  def semanticClustersFromState(
      spark: SparkSession, dir: String, k: Int, minCos: Double,
      nProbe: Int = 2): DataFrame =
    semanticClustersCore(spark, dir, k, minCos, nProbe, asOf = None)

  /** [[semanticClustersFromState]] at a historical (append, delete)
    * cut — rides [[knnGraphFromStateAsOf]]'s graph and that version's
    * live set. */
  def semanticClustersFromStateAsOf(
      spark: SparkSession, dir: String, k: Int, minCos: Double,
      asOfBatch: Long, asOfDelete: Long = 0L, nProbe: Int = 2): DataFrame =
    semanticClustersCore(spark, dir, k, minCos, nProbe,
      asOf = Some((asOfBatch, asOfDelete)))

  private def semanticClustersCore(
      spark: SparkSession, dir: String, k: Int, minCos: Double,
      nProbe: Int, asOf: Option[(Long, Long)]): DataFrame = {
    val pairs = mutualNnCore(spark, dir, k, minCos, nProbe, asOf)
      .select(col("id_a"), col("id_b"))
    val comp = Dedup.components(pairs) // (id, label = min member id)
    val live = readCellsLive(spark, dir, asOf = asOf).select(col("vid"))
    val labeled = live.join(comp, live("vid") === comp("id"), "left")
      .select(col("vid").as("vec_id"),
        coalesce(col("label"), col("vid")).as("rep"))
    labeled
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("rep"))))
  }

  /** SEMANTIC DECONTAMINATION from the persisted IVF state — the
    * embedding-level third rail beside the n-gram (x37/x38) and bloom
    * (x56) methods: an n-gram scan cannot see a PARAPHRASED eval item
    * leaking into the training corpus, but its embedding still lands
    * next to the eval item's. One row per contaminated LIVE corpus
    * vector: (idCol, eval_id of the closest contaminating eval item,
    * max_cos ≥ `minCos`) — the drop-list a curation pass anti-joins,
    * with the attribution a leakage audit wants. Eval ids live in their
    * own namespace (no self-exclusion by id equality — an eval item
    * that IS a corpus vector should flag it; that is the leak).
    *
    * Scale shape: the eval set is small by construction (a benchmark
    * suite), so its probe targets BROADCAST; the corpus-side read is
    * the probed cells' residents only (never a corpus scan at probe
    * time — the ivfTopKFromState posture), and the per-vector argmax is
    * a window over candidate mass bounded by |eval| · nProbe ·
    * occupancy, never corpus². */
  def semanticContaminated(
      spark: SparkSession, dir: String, evalSet: DataFrame,
      minCos: Double, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      evalIdCol: String = "eval_id"): DataFrame = {
    require(minCos > 0.0 && minCos <= 1.0,
      s"minCos must be in (0, 1], got $minCos")
    checkQueryDim(spark, dir, evalSet, vecCol)
    val cents = spark.read.parquet(StateIO.tablePath(spark, dir, "centroids"))
    val cells = readCellsLive(spark, dir, asOf = None)
      .select("cid", "vid", "v", "cn")
    val probes = probeCells(
      evalSet.select(col(evalIdCol).as(idCol), col(vecCol)),
      cents, nProbe, idCol, vecCol)
    val w = Window.partitionBy(col("vid"))
      .orderBy(col("cos").desc, col("query_id"))
    cells.join(broadcast(probes), Seq("cid"))
      .withColumn("cos", cosFrom(col("qv"), col("qn"), col("v"), col("cn")))
      .filter(col("cos") >= minCos)
      .withColumn("graft_rk", row_number().over(w))
      .filter(col("graft_rk") === 1)
      .select(col("vid").as(idCol), col("query_id").as(evalIdCol),
        col("cos").as("max_cos"))
  }

  // ---------- graph centrality / quality propagation (PageRank) ----------

  /** PAGERANK-STYLE QUALITY PROPAGATION over a directed edge relation —
    * the curation primitive behind link-graph quality weighting
    * (CommonCrawl-style domain ranking) and seed-bootstrapped corpus
    * scoring: with a `teleport` distribution concentrated on a trusted
    * seed set (personalized PageRank), every node inherits quality from
    * how reachable it is from the seeds through the similarity / link
    * graph. Reference scope check: the reference engine has no graph
    * operators at all; this extends its curation surface the same way
    * the dedup/ANN pillars do.
    *
    * Fixed `iters` power-iteration rounds — deterministic by
    * construction (an oracle re-derives every round arithmetically;
    * convergence-threshold stopping would make the output depend on
    * float comparison order across engines):
    *
    *   pr_0(v)   = tp(v)
    *   pr_i+1(v) = (1−d)·tp(v) + d·(Σ_{u→v} pr_i(u)/outdeg(u) + D_i·tp(v))
    *
    * with `tp` the normalized teleport vector (uniform 1/N when none is
    * given) and D_i the dangling mass — score sitting on nodes with no
    * out-edges, redistributed by tp (the standard remedy) so total mass
    * stays 1 every round. Edges into or out of nodes OUTSIDE `nodes`
    * are dropped first (tombstoned vectors neither donate nor receive).
    *
    * Scale shape, per round: one join of the score vector (n rows)
    * against the out-weighted edge list on the source key — the edge
    * list is out-weighted and repartitioned by `src` ONCE before the
    * loop, so every round's join reuses that layout — one
    * map-side-combined sum by destination, and a 1-row scalar broadcast
    * for the dangling mass (nothing corpus-wide ever sits on the
    * driver). Each round's score frame is materialized
    * (checkpoint/localCheckpoint) so lineage stays FLAT across rounds —
    * the standard iterative-algorithm posture on Spark; without it the
    * plan re-derives round 1 inside round i. Total cost
    * iters · O(|E| + |V|), never quadratic. */
  def pageRank(
      edges: DataFrame, nodes: DataFrame, iters: Int,
      damping: Double = 0.85,
      teleport: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, s"pageRank iters must be >= 1, got $iters")
    require(damping >= 0.0 && damping <= 1.0,
      s"pageRank damping must be in [0, 1], got $damping")
    val vids = Dedup.materialize(nodes.select(col("vid")).distinct())
    val nN = vids.count()
    require(nN > 0, "pageRank needs a non-empty node set")
    val tp = teleport match {
      case Some(t) =>
        // normalize over the node set; weight landing on unknown nodes
        // is dropped BEFORE the sum so the distribution still adds to 1
        // over live nodes. The normalizer must be checked: an all-
        // unknown/deleted (or all-zero) seed set would otherwise divide
        // 0.0/0.0 = NaN and silently produce all-NaN scores
        val w = vids.join(
            t.select(col("vid"), col("tp").cast("double").as("graft_w")),
            Seq("vid"), "left")
          .select(col("vid"), coalesce(col("graft_w"), lit(0.0)).as("graft_w"))
        val r = w.agg(sum(col("graft_w")), min(col("graft_w"))).head()
        val (tot, mn) = (r.getDouble(0), r.getDouble(1))
        require(mn >= 0.0,
          s"pageRank teleport weights must be >= 0 (found $mn)")
        require(tot > 0.0,
          "pageRank teleport puts zero mass on live nodes — every seeded " +
            "vid is unknown/deleted or carries weight 0; seed at least " +
            "one live node with positive weight")
        Dedup.materialize(
          w.select(col("vid"), (col("graft_w") / lit(tot)).as("tp")))
      case None =>
        // NO second checkpoint: vids is already materialized, and the
        // uniform weight is a literal projection over it — every round's
        // join re-reads the vids checkpoint plus one codegen'd column,
        // which is cheaper than a second full write+read of n rows
        vids.withColumn("tp", lit(1.0 / nN))
    }
    val e = edges.select(col("src"), col("dst"))
      .join(vids.select(col("vid").as("src")), Seq("src"))
      .join(vids.select(col("vid").as("dst")), Seq("dst"))
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("graft_od"))
    val wEdges = Dedup.materialize(
      e.join(outdeg, Seq("src"))
        .select(col("src"), col("dst"), (lit(1.0) / col("graft_od")).as("w"))
        .repartition(col("src")))
    val sources = Dedup.materialize(
      wEdges.select(col("src").as("vid")).distinct())
    var scores = tp.select(col("vid"), col("tp").as("pr"))
    for (_ <- 1 to iters) {
      val contrib = scores.join(wEdges, scores("vid") === wEdges("src"))
        .groupBy(col("dst"))
        .agg(sum(col("pr") * col("w")).as("graft_in"))
      val dangling = scores.join(sources, Seq("vid"), "left_anti")
        .agg(coalesce(sum(col("pr")), lit(0.0)).as("graft_dm"))
      scores = Dedup.materialize(
        tp.join(contrib, tp("vid") === contrib("dst"), "left")
          .crossJoin(broadcast(dangling))
          .select(tp("vid"),
            (lit(1.0 - damping) * col("tp") + lit(damping) *
              (coalesce(col("graft_in"), lit(0.0)) +
                col("graft_dm") * col("tp"))).as("pr")))
    }
    scores
  }

  /** [[pageRank]] over the kNN graph derived from a persisted IVF
    * state: nodes = the LIVE vectors (isolated vectors still hold
    * teleport mass), edges = [[knnGraphFromState]]'s top-k relation —
    * semantic centrality: a vector many others count among their
    * nearest neighbors (a dense-region exemplar, or with a seeded
    * `teleport` a vector semantically close to the trusted set) scores
    * high; hub-artifact one-directional edges donate only 1/outdeg.
    * Cost: the n^1.5-enveloped graph build plus iters · O(n·k). */
  def pageRankFromState(
      spark: SparkSession, dir: String, k: Int, iters: Int,
      damping: Double = 0.85, nProbe: Int = 2,
      teleport: Option[DataFrame] = None): DataFrame = {
    val edges = knnGraphCore(spark, dir, k, nProbe, asOf = None)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    val nodes = readCellsLive(spark, dir, asOf = None).select(col("vid"))
    pageRank(edges, nodes, iters, damping, teleport)
      .select(col("vid").as("vec_id"), col("pr"))
  }

  /** [[pageRank]] over the PERSISTED kNN-graph state
    * ([[buildKnnGraphState]] + deltas) — the steady-state posture: the
    * maintained edge relation is read AS-IS, so refreshing scores after
    * an ingest batch costs that batch's delta plus iters · O(|E|) —
    * never the n^1.5 graph rebuild [[pageRankFromState]] pays per call.
    * Nodes come from the slim `homes` index (live vids — build and both
    * deltas maintain it), so isolated live vectors still hold teleport
    * mass. */
  def pageRankFromGraphState(
      spark: SparkSession, graphDir: String, iters: Int,
      damping: Double = 0.85,
      teleport: Option[DataFrame] = None): DataFrame = {
    val edges = readKnnGraphState(spark, graphDir)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    val nodes = spark.read.parquet(s"$graphDir/homes").select(col("vid"))
    pageRank(edges, nodes, iters, damping, teleport)
      .select(col("vid").as("vec_id"), col("pr"))
  }

  // ------------- persisted kNN-graph state (incremental twin) -------------

  private val GraphMetaFile = "_graph_meta"
  private val GraphPendingMarker = "_graph_pending"
  private val GraphUptoFile = "_graph_upto"
  /** The graph state's tables, in [[compactGraphState]]'s rewrite order
    * — also the remnant-check list every graph mutation runs at entry. */
  private val GraphTables = Seq("probes", "edges", "homes")

  /** Bucket count for the graph state's slim `homes` index (vid →
    * home_cid, partitioned by `vb = vid mod this`): the delete path
    * prunes its "where do the deleted vectors live" lookup to the
    * deleted ids' buckets instead of scanning a corpus table. 64 keeps
    * directory listings trivial on any FS while bounding a pruned read
    * to 1/64 of two long columns per touched bucket. */
  private val GraphHomeBuckets = 64

  /** Run independent Spark actions concurrently on a bounded pool and
    * propagate the first failure (guide §2.6 overlap — actions are only
    * sequential because driver code calls them sequentially; jobs whose
    * reads and writes touch DISJOINT paths can back-fill each other's
    * straggler tails). Callers are responsible for the disjointness. */
  private def runOverlapped(tasks: Seq[() => Unit]): Unit =
    StateIO.runOverlapped(tasks)

  /** Rewrite exactly the `touched` partitions of a partitioned state
    * table with `df`'s rows (dynamic partition overwrite), DELETING the
    * directories of touched partitions that end up empty — dynamic
    * overwrite only replaces partitions PRESENT in the written frame,
    * so "this partition's rows all died" would otherwise leave the old
    * files answering reads. Caller holds the writer lock and the
    * pending marker. */
  private def overwriteTouchedPartitions(
      spark: SparkSession, path: String, out: DataFrame,
      partCols: Seq[String], touched: Seq[Seq[Any]]): Unit = {
    // `out` must be MATERIALIZED by the caller (its plan reads the very
    // partitions this write replaces) — done there so the three tables'
    // checkpoint jobs and then their rewrites can overlap (guide §2.6)
    out.repartition(partCols.map(col): _*).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*).parquet(path)
    // compare as partition-directory strings so Int/Long renderings of
    // the same value never miscompare
    def dirOf(vals: Seq[Any]): String =
      partCols.zip(vals).map { case (c, v) => s"$c=$v" }.mkString("/")
    val written = out.select(partCols.map(col): _*).distinct()
      .collect().map(r => dirOf(r.toSeq)).toSet
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    touched.map(dirOf).filterNot(written).foreach { dir =>
      fs.delete(new org.apache.hadoop.fs.Path(path, dir), true)
    }
  }

  /** Per-vector probe targets against the broadcast centroids: one row
    * (vid, v, vn, home_cid, probe_cid) per probed cell — the same
    * map-side sorted-struct slice [[knnGraphFromState]] uses (one
    * pre-combined row per vector through the exchange, no corpus-wide
    * rank window). Probe #1 IS the home cell: assignment and probing
    * share the (dist, cid) order, so `home_cid == probe_cid` marks each
    * vector's own-cell row — the property the graph state's
    * residents-of-a-cell reads rely on. */
  private def probeTargets(
      cells: DataFrame, cents: DataFrame, nProbe: Int): DataFrame =
    cells
      .select(col("vid"), col("v"), col("cn").as("vn"),
        col("cid").as("home_cid"))
      .crossJoin(broadcast(cents))
      .withColumn("graft_dist", sqDist(col("v"), col("c")))
      .groupBy(col("vid"))
      .agg(first(col("v")).as("v"), first(col("vn")).as("vn"),
        first(col("home_cid")).as("home_cid"),
        slice(array_sort(collect_list(struct(col("graft_dist"),
          col("cid")))), 1, nProbe).as("graft_near"))
      .select(col("vid"), col("v"), col("vn"), col("home_cid"),
        explode(col("graft_near.cid")).as("probe_cid"))

  /** The delete head a graph state freezes against: max tombstone
    * delete_id (0 when the pillar was never deleted from). Untagged
    * tombstones refuse — without version identity the graph cannot
    * tell whether deletes drifted under it. */
  private def ivfDeleteHead(spark: SparkSession, ivfDir: String): Long =
    StateIO.readTableIfExists(spark, ivfDir, "tombstones") match {
      case None => 0L
      case Some(tb) =>
        require(tb.columns.contains("delete_id"),
          s"IVF state at $ivfDir carries UNTAGGED tombstones — the graph " +
            "state cannot track delete drift without version identity; " +
            "rebuild the pillar with tagged deletes")
        // max over the delete_id PARTITION column — answered from the
        // dir listing, zero jobs (StateIO.partitionTagMax)
        StateIO.partitionTagMax(spark, ivfDir, "tombstones", "delete_id")
          .getOrElse(0L)
    }

  /** (k, nProbe, frozen delete head, total IVF cell count). `n_cells`
    * is persisted at build time so the deltas' maxDirtyFraction gates
    * cost ZERO actions (round 17 paid a `cents.count()` job per call —
    * the x156 +25% sf0.1 residual); absent on pre-round-18 graph
    * states, where callers fall back to counting. The count is stable
    * between rebuilds: IVF appends assign into the frozen centroid
    * set, and a recluster invalidates the graph wholesale anyway. */
  private def readGraphMeta(spark: SparkSession,
      graphDir: String): Option[(Int, Int, Long, Option[Long])] =
    StateIO.readSmallFile(spark, graphDir, GraphMetaFile).map { body =>
      val kv = body.split("\n").map(_.trim).filter(_.contains('='))
        .map { l => val i = l.indexOf('='); (l.take(i), l.drop(i + 1)) }
        .toMap
      try ((kv("k").toInt, kv("n_probe").toInt, kv("delete_head").toLong,
        kv.get("n_cells").map(_.toLong)))
      catch {
        case e @ (_: NoSuchElementException | _: NumberFormatException) =>
          throw new IllegalStateException(
            s"corrupt $GraphMetaFile in $graphDir (${e.getMessage}) — " +
              "rebuild the graph state (buildKnnGraphState)", e)
      }
    }

  private def checkNoGraphPending(
      spark: SparkSession, graphDir: String): Unit =
    require(
      !StateIO.pathExists(spark, s"$graphDir/$GraphPendingMarker"),
      s"graph state at $graphDir has an unfinished update " +
        s"($GraphPendingMarker) — re-run the crashed knnGraphDeltaFromState " +
        "(idempotent) or rebuild (buildKnnGraphState) before reading")

  /** MATERIALIZE [[knnGraphFromState]] as maintained state — the
    * steady-state incremental twin the x40/x89/x107 pattern gives every
    * other pillar: the whole-corpus graph build is the deliberate
    * n^1.5 pass, so pipelines that consume the graph after every ingest
    * batch (semantic dedup, mutual-NN mining) keep it CURRENT with
    * [[knnGraphDeltaFromState]] at per-batch cost instead of rebuilding.
    *
    * Layout under `graphDir`:
    *   - `edges`, partitioned by `home_cid` (the owner's assigned cell):
    *     (vec_id, neighbor_id, cos, rank ≤ k) — [[readKnnGraphState]]
    *     returns exactly [[knnGraphFromState]]'s relation;
    *   - `probes`, partitioned by `probe_cid`: one (vid, v, vn,
    *     home_cid) row per probed cell per vector — the reverse index
    *     "who probes cell c", which is what makes the delta's
    *     affected-owner set a PARTITION-PRUNED read instead of a corpus
    *     scan (each vector's bytes appear nProbe times: the standard
    *     index space-for-time trade, like postings);
    *   - `_graph_meta` (k, nProbe, frozen delete head), `_graph_upto`
    *     (max applied IVF batch tag), and the `_graph_pending` marker
    *     that gates reads while an update is mid-flight.
    *
    *   - `homes`, partitioned by `batch_id`/`vb = vid mod 64`: the slim
    *     (vid, home_cid) index the DELETE path prunes its where-do-they-
    *     live lookup to ([[knnGraphDeleteDeltaFromState]]).
    *
    * Tagged IVF states only (the delta applies per batch tag). DELETES
    * increment too: a tombstone landing after the build means the graph
    * holds edges into (and top-k lists truncated by) a vector that no
    * longer exists — [[knnGraphDeltaFromState]] refuses on delete-head
    * drift and [[knnGraphDeleteDeltaFromState]] retracts those edges at
    * neighborhood cost (this build remains the full re-freeze).
    * Historical graphs need no state at all
    * ([[knnGraphFromStateAsOf]]). */
  def buildKnnGraphState(
      spark: SparkSession, ivfDir: String, graphDir: String, k: Int,
      nProbe: Int = 2): Unit =
    buildKnnGraphUpTo(spark, ivfDir, graphDir, k, nProbe, upToBatch = None)

  /** [[buildKnnGraphState]] bounded to cells with `batch_id <=
    * upToBatch` (current tombstones still fully applied) — what the
    * delta's cost-gate delegation needs: a rebuild that lands the graph
    * at exactly the requested watermark, so later already-appended IVF
    * batches are not silently skipped past (the in-order contract). */
  private[ext] def buildKnnGraphUpTo(
      spark: SparkSession, ivfDir: String, graphDir: String, k: Int,
      nProbe: Int,
      upToBatch: Option[Long]): Unit =
      StateIO.withWriterLock(spark, graphDir) {
    require(k >= 1, s"knn graph k must be >= 1, got $k")
    require(nProbe >= 1, s"knn graph nProbe must be >= 1, got $nProbe")
    val allCells = spark.read.parquet(
      StateIO.tablePath(spark, ivfDir, "cells"))
    require(allCells.columns.contains("batch_id"),
      s"graph state needs a TAGGED IVF state: $ivfDir/cells has no " +
        "batch_id partition column (the delta applies per batch tag) — " +
        "rebuild the pillar with tagged appends")
    val rawCells = upToBatch match {
      case Some(bt) => allCells.filter(col("batch_id") <= bt) // pruned
      case None => allCells
    }
    // head batch from the partition listing — zero jobs where this was
    // a scan-shaped max over the batch_id partition column
    val cellTags = StateIO.partitionTagValues(spark, ivfDir, "cells",
        "batch_id").getOrElse(Nil)
      .filter(tag => upToBatch.forall(tag <= _))
    require(cellTags.nonEmpty,
      s"IVF state at $ivfDir has no cells — nothing to graph")
    val upto = upToBatch.getOrElse(cellTags.max)
    val delHead = ivfDeleteHead(spark, ivfDir)
    val cents = spark.read.parquet(
      StateIO.tablePath(spark, ivfDir, "centroids"))
    val cells = readCellsLive(spark, ivfDir,
        asOf = upToBatch.map(bt => (bt, delHead)))
      .select("cid", "vid", "v", "cn")
    // gate reads for the whole (re)build window — a reader must never see
    // new edges beside old probes
    StateIO.publishSmallFile(spark, graphDir, GraphPendingMarker,
      s"building=$upto\n")
    val probes = graft.ext.Dedup.materialize(
      probeTargets(cells, cents, nProbe))
    // the three table writes below are INDEPENDENT jobs on disjoint
    // paths: edges joins the probes CHECKPOINT (never the just-written
    // probes table) against the IVF cells, and homes reads only the IVF
    // dir — so they overlap on a small pool (guide §2.6: the edge
    // build's straggler tail back-fills with the probes/homes writes'
    // tasks instead of idling the executors). Crash posture unchanged —
    // the pending marker gates reads over the whole window and the
    // rebuild is its own recovery whichever subset landed.
    // clustered by the partition column (the compaction posture): each
    // probe_cid dir gets whole files, not one sliver per writing task
    val writeProbes: () => Unit = () =>
      probes.repartition(col("probe_cid"))
        .write.mode("overwrite").partitionBy("probe_cid")
        .parquet(s"$graphDir/probes")
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val edges = cells
      .select(col("cid").as("probe_cid"), col("vid").as("nid"),
        col("v").as("nv"), col("cn").as("nn"))
      .join(probes, Seq("probe_cid")) // hash join — probe side corpus-sized
      .filter(col("nid") =!= col("vid"))
      .withColumn("cos", cosFrom(col("v"), col("vn"), col("nv"), col("nn")))
      .select(col("vid").as("vec_id"), col("home_cid"),
        col("nid").as("neighbor_id"), col("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    val writeEdges: () => Unit = () =>
      edges.repartition(col("home_cid"))
        .write.mode("overwrite").partitionBy("home_cid")
        .parquet(s"$graphDir/edges")
    // the slim homes index (vid -> home_cid), bucketed by vid so the
    // DELETE path ([[knnGraphDeleteDeltaFromState]]) finds deleted
    // vectors' cells with a bucket-pruned read instead of a corpus
    // scan; sub-partitioned by batch_id so the batch delta's append is
    // idempotent by partition replace
    val homes = StatePillar.Ivf.live(spark, ivfDir,
      rawCells.select(col("vid"), col("cid").as("home_cid"), col("batch_id")))
    val writeHomes: () => Unit = () =>
      homes.withColumn("vb",
          pmod(col("vid"), lit(GraphHomeBuckets)).cast("int"))
        .repartition(col("vb"))
        .write.mode("overwrite").partitionBy("batch_id", "vb")
        .parquet(s"$graphDir/homes")
    // the meta's cell count rides the same pool — a tiny aggregate that
    // would otherwise serialize after the writes
    var nCells = -1L
    runOverlapped(Seq(writeProbes, writeEdges, writeHomes,
      () => nCells = cents.count()))
    StateIO.publishSmallFile(spark, graphDir, GraphMetaFile,
      s"k=$k\nn_probe=$nProbe\ndelete_head=$delHead\n" +
        s"n_cells=$nCells\n")
    StateIO.publishSmallFile(spark, graphDir, GraphUptoFile, s"$upto\n")
    val fs = new org.apache.hadoop.fs.Path(graphDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a full rebuild re-derives every table from the IVF state, so any
    // compaction-crash remnants are moot — clear them here (the build is
    // the documented escape hatch; it must not itself refuse on them)
    GraphTables.foreach { t =>
      fs.delete(new org.apache.hadoop.fs.Path(graphDir,
        s"${t}__compact_tmp"), true)
      fs.delete(new org.apache.hadoop.fs.Path(graphDir,
        s"${t}__compact_bak"), true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(graphDir, GraphPendingMarker),
      false)
  }

  /** Catch the persisted graph up to IVF append batch `newBatchTag` —
    * per-batch cost ∝ batch · occupancy, never the corpus:
    *
    *  1. the batch's vectors (one pruned `batch_id=` partition) probe
    *     their `nProbe` cells and rank against those cells' residents —
    *     read from the `probes` table's own-cell rows, PRUNED to the
    *     probed cells (never a cells-table scan, which is partitioned
    *     by batch, not cell);
    *  2. existing owners whose top-k can change are EXACTLY those with
    *     a probe row in a cell the batch landed in — a pruned read of
    *     those `probe_cid=` partitions; each merges its CURRENT top-k
    *     with its new candidates (top-k of S∪T = top-k of (top-k of
    *     S)∪T, so the stored k rows suffice) and re-ranks;
    *  3. only the touched `home_cid=` edge partitions rewrite (dynamic
    *     partition overwrite); the batch's probe rows append.
    *
    * Idempotent under blind re-runs and crash-resume: every derived set
    * is a pure function of the IVF state and the batch tag (new-vector
    * membership comes from `cells/batch_id=t`, never from what the
    * crashed run half-wrote; merged edge unions dedupe on identical
    * recomputed cos), and the `_graph_pending` marker gates reads until
    * a re-run completes — publish-first, clear-last. `_graph_upto`
    * advances only after the writes land, so a crash leaves a re-run
    * with the same tag legal; applying a tag at the watermark re-runs,
    * below it refuses, and skipping an unapplied intermediate tag
    * refuses by name. Delete-head drift refuses (rebuild —
    * [[buildKnnGraphState]]). Parity with the full rebuild is the x156
    * gate. */
  def knnGraphDeltaFromState(
      spark: SparkSession, ivfDir: String, graphDir: String,
      newBatchTag: Long,
      maxDirtyFraction: Double = 0.5): Unit =
      StateIO.withWriterLock(spark, graphDir) {
    require(maxDirtyFraction > 0.0 && maxDirtyFraction <= 1.0,
      s"maxDirtyFraction must be in (0, 1], got $maxDirtyFraction")
    StateIO.checkNoCompactRemnants(spark, graphDir, GraphTables)
    val (k, nProbe, delHead0, nCells0) =
      readGraphMeta(spark, graphDir).getOrElse(
        throw new IllegalArgumentException(
          s"$graphDir carries no $GraphMetaFile — build the graph state " +
            "first (buildKnnGraphState)"))
    val delHead = ivfDeleteHead(spark, ivfDir)
    require(delHead == delHead0,
      s"IVF tombstones advanced ($delHead0 -> $delHead) since the graph " +
        s"state at $graphDir last froze its delete head — apply the " +
        "delete delta first (knnGraphDeleteDeltaFromState) so retracted " +
        "edges cannot survive under the new batch")
    val upto = StateIO.readSmallFile(spark, graphDir, GraphUptoFile)
      .map(_.trim.toLong).getOrElse(
        throw new IllegalStateException(
          s"$graphDir has $GraphMetaFile but no $GraphUptoFile — a " +
            "half-built graph state; rebuild (buildKnnGraphState)"))
    require(newBatchTag >= upto,
      s"batch $newBatchTag is already applied to the graph state at " +
        s"$graphDir (watermark $upto) — deltas apply forward only")
    val rawCells = spark.read.parquet(
      StateIO.tablePath(spark, ivfDir, "cells"))
    if (newBatchTag > upto) {
      val skipped = rawCells
        .filter(col("batch_id") > upto && col("batch_id") < newBatchTag)
        .select(col("batch_id").cast("long")).distinct()
        .collect().map(_.getLong(0)).sorted
      require(skipped.isEmpty,
        s"IVF batches ${skipped.mkString(",")} land between the graph " +
          s"watermark $upto and $newBatchTag — apply them in order (the " +
          "graph would silently miss their vectors otherwise)")
    }
    val tombs = StatePillar.Ivf.tombstones(spark, ivfDir)
    val newRows = graft.ext.Dedup.materialize(StatePillar.Ivf.minus(tombs)(
      rawCells.filter(col("batch_id") === newBatchTag)
        .select(col("cid"), col("vid"), col("v"), col("cn"))))
    if (newRows.head(1).isEmpty) {
      // an empty batch moves only the watermark
      StateIO.publishSmallFile(spark, graphDir, GraphUptoFile,
        s"$newBatchTag\n")
      return
    }
    val cents = spark.read.parquet(
      StateIO.tablePath(spark, ivfDir, "centroids"))
    val newProbes = graft.ext.Dedup.materialize(
      probeTargets(newRows, cents, nProbe))
    val newVids = newRows.select(col("vid"))
    // bounded collects: distinct cell ids (≤ the cell count by design).
    // ONE job for both sets: every newRows vid appears in newProbes
    // (probeTargets groups by vid) carrying its home_cid = the row's
    // cid, so the batch's landed cells and probed cells both project
    // out of the same materialized frame
    val cellPairs = newProbes
      .select(col("home_cid").cast("int"), col("probe_cid").cast("int"))
      .distinct().collect()
    val newCells = cellPairs.map(_.getInt(0)).distinct.toSeq
    val probedCells = cellPairs.map(_.getInt(1)).distinct.toSeq
    // COST GATE: when one batch dirties most cells, the delta
    // legitimately approaches a full rebuild PLUS delta overhead
    // (measured 1.3-2.5x the rebuild at high dirty fractions) — the
    // "cheap" path must not cost more than the expensive one. Above the
    // threshold, delegate to a rebuild bounded AT THIS TAG (same output
    // — parity is the x156 gate; the in-order watermark contract holds
    // because later already-appended batches stay excluded); the lock
    // is thread-reentrant.
    // dirtied derives from the already-collected cell-id sets and the
    // total from the persisted meta — the gate costs zero extra actions
    // (pre-round-18 states without n_cells pay the one count once; the
    // next rebuild persists it)
    val dirtied = (newCells ++ probedCells).distinct.size
    val totalCells = nCells0.getOrElse(cents.count())
    if (dirtied > maxDirtyFraction * totalCells) {
      buildKnnGraphUpTo(spark, ivfDir, graphDir, k, nProbe,
        upToBatch = Some(newBatchTag))
      return
    }
    val probesPath = s"$graphDir/probes"
    // all sets below anti-join the batch's vids so a crash-resume that
    // already appended the batch's probe rows derives the SAME sets —
    // and the tombstones, so probe rows orphaned by a crashed delete
    // delta (see knnGraphDeleteDeltaFromState) stay inert
    val dropTombs = StatePillar.Ivf.minus(tombs.map(_.distinct())) _
    val probesAtProbed = dropTombs(spark.read.parquet(probesPath)
      .filter(col("probe_cid").isin(probedCells: _*))) // partition-pruned
      .join(newVids, Seq("vid"), "left_anti")
    // 1. the batch's own edges: candidates = the probed cells' residents
    //    (own-cell probe rows) plus the batch's rows in those cells
    val residents = probesAtProbed
      .filter(col("home_cid") === col("probe_cid"))
      .select(col("probe_cid"), col("vid").as("nid"), col("v").as("nv"),
        col("vn").as("nn"))
      .unionByName(newRows
        .filter(col("cid").isin(probedCells: _*))
        .select(col("cid").as("probe_cid"), col("vid").as("nid"),
          col("v").as("nv"), col("cn").as("nn")))
    val newVecEdges = residents.join(newProbes, Seq("probe_cid"))
      .filter(col("nid") =!= col("vid"))
      .withColumn("cos", cosFrom(col("v"), col("vn"), col("nv"), col("nn")))
      .select(col("vid"), col("home_cid"), col("nid"), col("cos"))
    // 2. affected existing owners: anyone probing a cell the batch
    //    landed in — a pruned read of those probe_cid= partitions
    val affected = dropTombs(spark.read.parquet(probesPath)
      .filter(col("probe_cid").isin(newCells: _*))) // partition-pruned
      .join(newVids, Seq("vid"), "left_anti")
    val affCandidates = graft.ext.Dedup.materialize(affected.join(
        newRows.select(col("cid").as("probe_cid"), col("vid").as("nid"),
          col("v").as("nv"), col("cn").as("nn")),
        Seq("probe_cid"))
      .withColumn("cos", cosFrom(col("v"), col("vn"), col("nv"), col("nn")))
      .select(col("vid"), col("home_cid"), col("nid"), col("cos")))
    val edgesPath = s"$graphDir/edges"
    // PRE-FILTER to the owners whose top-k actually CHANGES: an owner is
    // re-ranked (and its home partition rewritten) only if some new
    // candidate BEATS its stored worst edge under the (cos desc, nid asc)
    // rank order — i.e. (cos, -nid) > (worst.cos, -worst.nid) — or it
    // holds fewer than k edges. For a spread batch over a large corpus
    // most candidates LOSE, so the rewrite set collapses from "every
    // touched cell" to "cells with a changed owner". The comparison
    // reads only narrow (vec_id, cos, neighbor_id) columns — no vectors.
    // Derived from CURRENT stored edges, so a crash-resume re-derives a
    // subset (already-merged partitions stop qualifying) and re-runs
    // stay idempotent: a candidate already sitting in the stored top-k
    // ties (never beats) its own entry.
    // pruned to the candidate owners' home partitions: an owner's whole
    // edge list lives in its own home_cid= partition, so the worst-edge
    // aggregate needs only those directories — unpruned this was the one
    // full edges-table scan in the delta path (corpus-sized at scale,
    // where everything else reads O(batch·occupancy) partitions). The
    // extra collect is bounded by the cell count like every other
    // cell-id set here.
    val candHomes = affCandidates.select(col("home_cid").cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val worst = spark.read.parquet(edgesPath)
      .filter(col("home_cid").isin(candHomes: _*)) // partition-pruned
      .groupBy(col("vec_id").as("vid"))
      .agg(count(lit(1)).as("graft_n"),
        min(struct(col("cos").as("c"),
          (-col("neighbor_id")).as("n"))).as("graft_worst"))
    val affectedOwners = graft.ext.Dedup.materialize(affCandidates
      .join(worst, Seq("vid"), "left")
      .filter(col("graft_n").isNull || col("graft_n") < k ||
        struct(col("cos").as("c"), (-col("nid")).as("n")) >
          col("graft_worst"))
      .select(col("vid"), col("home_cid")).distinct())
    // 3. rewrite only the touched home_cid= partitions
    val homeCells = (affectedOwners.select(col("home_cid").cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq ++ newCells).distinct
    val oldParts = spark.read.parquet(edgesPath)
      .filter(col("home_cid").isin(homeCells: _*)) // partition-pruned
    val rewrittenVids = affectedOwners.select(col("vid"))
      .unionByName(newVids).distinct()
    val keep = oldParts.join(rewrittenVids,
        oldParts("vec_id") === rewrittenVids("vid"), "left_anti")
      .select(col("vec_id"), col("home_cid"), col("neighbor_id"),
        col("cos"), col("rank"))
    val w = Window.partitionBy(col("vid"))
      .orderBy(col("cos").desc, col("nid"))
    // only the CHANGED owners' candidate rows merge — a loser's rows are
    // already represented by `keep` (its partition, if rewritten at all,
    // keeps its stored top-k verbatim)
    val affMerged = oldParts.join(affectedOwners.select(col("vid")),
        oldParts("vec_id") === col("vid"), "left_semi")
      .select(col("vec_id").as("vid"), col("home_cid"),
        col("neighbor_id").as("nid"), col("cos"))
      .unionByName(affCandidates.join(affectedOwners.select(col("vid")),
        Seq("vid"), "left_semi"))
      .distinct() // re-runs recompute bitwise-identical cos rows
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    val newRanked = newVecEdges
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    val updated = keep.unionByName(
      affMerged.unionByName(newRanked)
        .select(col("vid").as("vec_id"), col("home_cid"),
          col("nid").as("neighbor_id"), col("cos"), col("rank")))
    // ---- commit window: reads gate until the re-run completes ----
    StateIO.publishSmallFile(spark, graphDir, GraphPendingMarker,
      s"applying=$newBatchTag\n")
    // the three table writes are INDEPENDENT jobs on disjoint paths —
    // each reads only its OWN table (edges' keep/affMerged read
    // edgesPath, probes' replay anti-join reads probesPath, homes reads
    // only checkpointed batch rows), so they overlap on a small pool
    // (guide §2.6): one job's straggler tail back-fills with the next
    // job's tasks instead of idling the executors. Crash posture is
    // unchanged — the pending marker gates reads over the whole window
    // and a re-run re-derives every set idempotently whichever subset
    // of the three landed.
    val writeEdges: () => Unit = () =>
      updated.repartition(col("home_cid")).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("home_cid").parquet(edgesPath)
    // append the batch's probe rows (anti-joined so a blind re-run
    // cannot duplicate them)
    val writeProbes: () => Unit = () => {
      val alreadyProbed = spark.read.parquet(probesPath)
        .filter(col("probe_cid").isin(probedCells: _*))
        .join(newVids, Seq("vid"), "left_semi").select(col("vid")).distinct()
      newProbes.join(alreadyProbed, Seq("vid"), "left_anti")
        .repartition(col("probe_cid"))
        .write.mode("append").partitionBy("probe_cid").parquet(probesPath)
    }
    // the batch's homes rows — idempotent by partition replace (dynamic
    // overwrite touches only this batch's vb dirs)
    val writeHomes: () => Unit = () =>
      newRows.select(col("vid"), col("cid").as("home_cid"))
        .withColumn("batch_id", lit(newBatchTag))
        .withColumn("vb",
          pmod(col("vid"), lit(GraphHomeBuckets)).cast("int"))
        .repartition(col("vb"))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "vb").parquet(s"$graphDir/homes")
    runOverlapped(Seq(writeEdges, writeProbes, writeHomes))
    StateIO.publishSmallFile(spark, graphDir, GraphUptoFile,
      s"$newBatchTag\n")
    val fs = new org.apache.hadoop.fs.Path(graphDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(graphDir, GraphPendingMarker),
      false)
  }

  /** Catch the persisted graph up to the IVF state's CURRENT delete
    * head — EDGE RETRACTION, the graph pillar's missing delete-side
    * increment: a steady-state corpus deletes continuously (takedowns,
    * dedup-driven removal), and before this every tombstone advance
    * forced the full n^1.5 rebuild. Cost rides the deleted vectors'
    * EDGE NEIGHBORHOODS, never the corpus:
    *
    *  1. WHERE the deleted vectors live comes from the slim `homes`
    *     index, pruned to the deleted ids' `vb` buckets — two long
    *     columns per touched bucket, not a corpus table scan;
    *  2. the only owners whose top-k can reference a deleted vector are
    *     those with a probe row in a cell the deleted vectors LIVE in
    *     (an edge into d exists only if the owner probed d's home cell)
    *     — a pruned read of those `probe_cid=` partitions; which of
    *     them actually hold such an edge comes from an edges read
    *     pruned to THOSE candidates' home partitions;
    *  3. affected owners re-rank from scratch against their probed
    *     cells' LIVE residents (a truncated top-k cannot be repaired
    *     in place — the k+1-th candidate was never stored), deleted
    *     vectors' own rows drop, and only the touched `home_cid=` /
    *     `probe_cid=` / `vb=` partitions rewrite — partitions left
    *     EMPTY by the retraction have their directories removed
    *     (dynamic overwrite alone would leave the old files).
    *
    * Crash/idempotence posture: the `_graph_pending` marker gates reads
    * publish-first/clear-last; every derived set is a function of the
    * IVF tombstones above the FROZEN head (meta republishes only after
    * all rewrites land), so a blind re-run re-derives a subset and
    * completes. A crash mid-probes-cleanup can orphan probe rows of a
    * deleted vector in cells whose partition was not yet rewritten;
    * those are INERT — every consumer (batch delta candidates, resident
    * sets, this function's own candidate reads) anti-joins the
    * tombstones — and vanish at the next rebuild. No-op (head already
    * current) returns after clearing a leftover delete marker.
    * Parity with the post-delete full rebuild is the x166 gate.
    *
    * `maxDirtyFraction` is the cost gate ([[knnGraphDeltaFromState]]'s
    * posture, delete side): when the deleted vectors live in more than
    * that fraction of all cells, the retraction delegates to a rebuild
    * bounded at the graph's current batch watermark — same output,
    * never more than one rebuild's cost. */
  def knnGraphDeleteDeltaFromState(
      spark: SparkSession, ivfDir: String, graphDir: String,
      maxDirtyFraction: Double = 0.5): Unit =
      StateIO.withWriterLock(spark, graphDir) {
    require(maxDirtyFraction > 0.0 && maxDirtyFraction <= 1.0,
      s"maxDirtyFraction must be in (0, 1], got $maxDirtyFraction")
    StateIO.checkNoCompactRemnants(spark, graphDir, GraphTables)
    val (k, nProbe, delHead0, nCells0) =
      readGraphMeta(spark, graphDir).getOrElse(
        throw new IllegalArgumentException(
          s"$graphDir carries no $GraphMetaFile — build the graph state " +
            "first (buildKnnGraphState)"))
    val delHead = ivfDeleteHead(spark, ivfDir)
    require(delHead >= delHead0,
      s"IVF delete head moved BACKWARD ($delHead0 -> $delHead) under the " +
        s"graph state at $graphDir — the pillar's history was truncated " +
        "or swapped out from under it; rebuild (buildKnnGraphState)")
    val fs = new org.apache.hadoop.fs.Path(graphDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val pend = new org.apache.hadoop.fs.Path(graphDir, GraphPendingMarker)
    if (delHead == delHead0) {
      // nothing to apply; a re-run whose predecessor crashed between the
      // meta republish and the marker clear completes the clear here.
      // Two completed-but-uncleared shapes are safe to clear under the
      // held lock: our own "deleting=" marker, and a "building=" marker
      // whose target watermark the _graph_upto file already carries —
      // the cost-gate's delegated rebuild republishes meta (hence the
      // no-op branch) and upto BEFORE its marker clear, so a matching
      // upto proves every table write landed. A MISMATCHED "building="
      // (crashed mid-build) and any "applying=" stay: the batch delta's
      // re-run owns their completion.
      StateIO.readSmallFile(spark, graphDir, GraphPendingMarker)
        .foreach { m =>
          val done = m.startsWith("deleting=") ||
            (m.startsWith("building=") &&
              StateIO.readSmallFile(spark, graphDir, GraphUptoFile)
                .map(_.trim)
                .contains(m.stripPrefix("building=").trim))
          if (done) fs.delete(pend, false)
        }
      return
    }
    val tombs = StateIO.readTableIfExists(spark, ivfDir, "tombstones")
      .getOrElse(throw new IllegalStateException(
        s"delete head $delHead with no tombstones table at $ivfDir"))
    val allTombVids = tombs.select(col("vid")).distinct()
    val newDeleted = graft.ext.Dedup.materialize(
      tombs.filter(col("delete_id") > delHead0)
        .select(col("vid")).distinct())
    val homesPath = s"$graphDir/homes"
    val probesPath = s"$graphDir/probes"
    val edgesPath = s"$graphDir/edges"
    def republishMeta(): Unit =
      StateIO.publishSmallFile(spark, graphDir, GraphMetaFile,
        s"k=$k\nn_probe=$nProbe\ndelete_head=$delHead\n" +
          nCells0.map(n => s"n_cells=$n\n").getOrElse(""))
    // 1. the deleted vectors' home cells — bucket-pruned homes read
    val delBuckets = newDeleted
      .select(pmod(col("vid"), lit(GraphHomeBuckets)).cast("int").as("vb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val homesAll = spark.read.parquet(homesPath)
    // one bounded collect straight off the pruned read — no checkpoint:
    // the relation is consumed exactly once, so materializing it first
    // only added a job. The SAME join also answers step 7's touched
    // (batch_id, vb) partition list, so both sets project out of one
    // job instead of two scans of the pruned homes read.
    val homesDel = homesAll
      .filter(col("vb").isin(delBuckets: _*)) // partition-pruned
      .join(newDeleted, Seq("vid"), "left_semi")
      .select(col("home_cid").cast("int"), col("batch_id"), col("vb"))
      .distinct().collect()
    val dCells = homesDel.map(_.getInt(0)).distinct.toSeq
    val touchedHomes = homesDel.map(r => Seq(r.get(1), r.get(2)))
      .distinct.toSeq
    if (dCells.isEmpty) {
      // none of the newly deleted ids are in the graph (deleted before
      // ever being graphed) — only the frozen head advances
      republishMeta()
      return
    }
    val cents = spark.read.parquet(
      StateIO.tablePath(spark, ivfDir, "centroids"))
    // COST GATE — the batch delta's maxDirtyFraction posture, delete
    // side: when the deleted vectors live in most cells, the
    // retraction's many pruned reads and per-partition rewrites
    // legitimately approach (and past this point exceed) one rebuild
    // pass — measured ≈ rebuild cost with ~1/3 of cells dirtied
    // (SCALE.md round-17 envelope). Delegate to a rebuild bounded AT
    // THE GRAPH'S CURRENT BATCH WATERMARK so IVF batches not yet
    // applied stay unapplied (the in-order contract); current
    // tombstones apply fully — same output, parity pinned by x166's
    // retraction-vs-rebuild equality. The lock is thread-reentrant.
    if (dCells.size > maxDirtyFraction * nCells0.getOrElse(cents.count())) {
      // the rebuild must be bounded at the graph's CURRENT watermark —
      // a missing _graph_upto (half-built state) must refuse exactly
      // like the batch delta does, not silently rebuild over ALL IVF
      // batches and fast-forward past unapplied appends
      val upto = StateIO.readSmallFile(spark, graphDir, GraphUptoFile)
        .map(_.trim.toLong).getOrElse(throw new IllegalStateException(
          s"$graphDir has $GraphMetaFile but no $GraphUptoFile — a " +
            "half-built graph state; rebuild (buildKnnGraphState)"))
      buildKnnGraphUpTo(spark, ivfDir, graphDir, k, nProbe,
        upToBatch = Some(upto))
      return
    }
    val probesAll = spark.read.parquet(probesPath)
    // 2. the deleted vectors' full probe-cell sets (for probes cleanup):
    //    vectors come from their own-cell probe rows in the D
    //    partitions; probing recomputes deterministically against the
    //    frozen centroids
    val deletedRows = probesAll
      .filter(col("probe_cid").isin(dCells: _*)) // partition-pruned
      .filter(col("home_cid") === col("probe_cid"))
      .join(newDeleted, Seq("vid"), "left_semi")
      .select(col("vid"), col("v"), col("vn").as("cn"),
        col("home_cid").as("cid"))
    // collected once, pre-overwrite — no checkpoint needed (the probes
    // rewrite at step 6 filters by this collected list, not the plan)
    val pDel = probeTargets(deletedRows, cents, nProbe)
      .select(col("probe_cid").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSeq
    // 3. affected owners: candidates are the probers of D (anti-joined
    //    against ALL tombstones so crash-orphaned probe rows stay
    //    inert); which of them hold an edge into a deleted vector comes
    //    from an edges read pruned to the candidates' homes
    val candOwners = graft.ext.Dedup.materialize(probesAll
      .filter(col("probe_cid").isin(dCells: _*)) // partition-pruned
      .join(allTombVids, Seq("vid"), "left_anti")
      .select(col("vid"), col("v"), col("vn"), col("home_cid"))
      .distinct())
    val hCand = candOwners.select(col("home_cid").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val edgesAll = spark.read.parquet(edgesPath)
    val affVids = graft.ext.Dedup.materialize(edgesAll
      .filter(col("home_cid").isin(hCand: _*)) // partition-pruned
      .join(newDeleted.select(col("vid").as("neighbor_id")),
        Seq("neighbor_id"), "left_semi")
      .select(col("vec_id").as("vid")).distinct())
    // 4. re-rank the affected owners from scratch: their probe cells
    //    recompute against the frozen centroids, residents are those
    //    cells' LIVE own-cell probe rows
    val ownerRows = candOwners.join(affVids, Seq("vid"), "left_semi")
    val ownerProbes = graft.ext.Dedup.materialize(probeTargets(
      ownerRows.select(col("vid"), col("v"), col("vn").as("cn"),
        col("home_cid").as("cid")), cents, nProbe))
    // ONE job for both bounded sets: every ownerRows vid appears in
    // ownerProbes (probeTargets groups by vid) carrying its home_cid,
    // so the owners' probed cells AND their home cells (step 5's
    // re-ranked homes) project out of the same materialized frame
    val ownCells = ownerProbes
      .select(col("probe_cid").cast("int"), col("home_cid").cast("int"))
      .distinct().collect()
    val pOwn = ownCells.map(_.getInt(0)).distinct.toSeq
    val residents = probesAll
      .filter(col("probe_cid").isin(pOwn: _*)) // partition-pruned
      .filter(col("home_cid") === col("probe_cid"))
      .join(allTombVids, Seq("vid"), "left_anti")
      .select(col("probe_cid"), col("vid").as("nid"), col("v").as("nv"),
        col("vn").as("nn"))
    val w = Window.partitionBy(col("vid"))
      .orderBy(col("cos").desc, col("nid"))
    val reRanked = residents.join(ownerProbes, Seq("probe_cid"))
      .filter(col("nid") =!= col("vid"))
      .withColumn("cos", cosFrom(col("v"), col("vn"), col("nv"), col("nn")))
      .select(col("vid"), col("home_cid"), col("nid"), col("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vid").as("vec_id"), col("home_cid"),
        col("nid").as("neighbor_id"), col("cos"), col("rank"))
    // 5. touched edge partitions: the deleted vectors' homes (their own
    //    lists die) plus the affected owners' homes (lists re-rank) —
    //    already collected with pOwn above
    val hAff = ownCells.map(_.getInt(1)).distinct.toSeq
    val touchedEdge = (dCells ++ hAff).distinct
    val gone = newDeleted.unionByName(affVids.select(col("vid")))
    val keep = edgesAll
      .filter(col("home_cid").isin(touchedEdge: _*)) // partition-pruned
      .join(gone.select(col("vid").as("vec_id")), Seq("vec_id"),
        "left_anti")
    // ---- commit window: reads gate until the retraction completes ----
    StateIO.publishSmallFile(spark, graphDir, GraphPendingMarker,
      s"deleting=$delHead\n")
    // steps 5-7 rewrite THREE disjoint tables (edges / probes / homes).
    // Each rewrite's input plan reads the very partitions its write
    // replaces, so all three inputs checkpoint FIRST (overlapped — they
    // read only pre-write state), then the three partition rewrites
    // overlap too (guide §2.6). Crash posture unchanged: the pending
    // marker gates reads over the whole window and a re-run re-derives
    // a subset whichever writes landed.
    val outEdges = Seq(
      (edgesPath, keep.unionByName(reRanked),
        Seq("home_cid"), touchedEdge.map(Seq[Any](_))),
      // 6. probes: drop the deleted vectors' rows from their probed cells
      (probesPath,
        probesAll.filter(col("probe_cid").isin(pDel: _*))
          .join(newDeleted, Seq("vid"), "left_anti"),
        Seq("probe_cid"), pDel.map(Seq[Any](_))),
      // 7. homes: drop the deleted rows from their buckets
      (homesPath,
        homesAll.filter(col("vb").isin(delBuckets: _*))
          .join(newDeleted, Seq("vid"), "left_anti"),
        Seq("batch_id", "vb"), touchedHomes))
    val prepared = new Array[DataFrame](outEdges.size)
    runOverlapped(outEdges.zipWithIndex.map { case ((_, df, _, _), i) =>
      () => prepared(i) = graft.ext.Dedup.materialize(df)
    })
    runOverlapped(outEdges.zipWithIndex.map {
      case ((path, _, partCols, touched), i) => () =>
        overwriteTouchedPartitions(spark, path, prepared(i), partCols,
          touched)
    })
    republishMeta()
    fs.delete(pend, false)
  }

  /** The maintained graph relation: (vec_id, neighbor_id, cos, rank) —
    * [[knnGraphFromState]]'s exact output, answered from the edges
    * table (pure columnar read, zero probe/rank work). Fails fast on a
    * mid-flight update ([[knnGraphDeltaFromState]]'s marker). */
  def readKnnGraphState(
      spark: SparkSession, graphDir: String): DataFrame = {
    checkNoGraphPending(spark, graphDir)
    require(readGraphMeta(spark, graphDir).nonEmpty,
      s"$graphDir carries no $GraphMetaFile — not a graph state dir " +
        "(build one with buildKnnGraphState)")
    spark.read.parquet(s"$graphDir/edges")
      .select(col("vec_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** LAYOUT COMPACTION for a persisted kNN-graph state — zero semantic
    * change, pure file-layout maintenance, the graph twin of
    * [[compactIvfState]]. Why the graph dir fragments: every
    * [[knnGraphDeltaFromState]] APPENDS the batch's probe rows into the
    * touched `probe_cid=` partitions (one file set per delta per
    * partition), so after B steady-state ingest batches a probe
    * partition holds up to B small files and the delta's own
    * partition-pruned reads pay B× the open/seek cost — the classic
    * small-files death at 100 TB. `edges` and `homes` partitions are
    * rewritten whole by the deltas, but their file sizes track the
    * original write's parallelism, so they re-cluster to `targetBytes`
    * here too.
    *
    * What this deliberately does NOT do: collapse the `homes` table's
    * `batch_id` levels. A blind re-run of the watermark batch delta
    * (the documented crash-recovery path) dynamic-overwrites that
    * batch's `(batch_id, vb)` partitions assuming they hold EXACTLY
    * that batch's rows — any collapse would make the re-run drop or
    * duplicate earlier batches' rows. History collapse is the job of
    * `StatePillar.Ivf.truncate` followed by a rebuild; this verb only
    * rewrites file layout inside the partition shape the deltas rely on.
    *
    * Crash posture rides [[Dedup.compactStateTables]]' swap protocol:
    * each table rewrites to a `__compact_tmp` sibling and swaps in with
    * two renames around a `__compact_bak`; a crash mid-swap leaves the
    * bak for the fail-fast remnant check every graph mutation runs at
    * entry ([[StateIO.checkNoCompactRemnants]]), and a reader landing
    * between table swaps sees old and new layouts of the SAME relation
    * (no pending marker needed — nothing semantic changes). Refuses on
    * a `_graph_pending` marker: a crashed delta owns its own completion
    * and compacting its half-written tables would freeze the wrong
    * layout. */
  def compactGraphState(
      spark: SparkSession, graphDir: String,
      targetBytes: Long = 128L << 20): Unit =
      StateIO.withWriterLock(spark, graphDir) {
    require(readGraphMeta(spark, graphDir).nonEmpty,
      s"$graphDir carries no $GraphMetaFile — not a graph state dir " +
        "(build one with buildKnnGraphState)")
    checkNoGraphPending(spark, graphDir)
    StateIO.checkNoCompactRemnants(spark, graphDir, GraphTables)
    // one call per table: each carries the OTHER tables' partition
    // columns as data columns (probes holds home_cid beside probe_cid),
    // so a shared extraPartitionCols list would silently re-partition
    // them by both and double the directory count instead of halving it.
    // The three rewrites are INDEPENDENT (separate tables, each with its
    // own atomic swap; a reader between swaps sees old and new layouts
    // of the same relation — this verb is semantic-no-op by contract),
    // so they overlap on a small pool (guide §2.6: the tail of one
    // table's rewrite back-fills with the next one's tasks). The writer
    // lock is held by THIS thread — reentrancy is thread-local — so the
    // workers run the unlocked core.
    val tableSpecs = Seq(
      ("probes", Seq("probe_cid")),
      ("edges", Seq("home_cid")),
      ("homes", Seq("vb"))) // batch_id joins via the shared list
    if (StateIO.manifestMode(spark, graphDir)) {
      // versioned swaps publish through ONE manifest file — a
      // read-modify-write that must not race across threads
      tableSpecs.foreach { case (table, extra) =>
        graft.ext.Dedup.compactStateTablesUnlocked(spark, graphDir,
          Seq(table -> false), targetBytes, extraPartitionCols = extra)
      }
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      try {
        val futs = tableSpecs.map { case (table, extra) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit =
              graft.ext.Dedup.compactStateTablesUnlocked(spark, graphDir,
                Seq(table -> false), targetBytes, extraPartitionCols = extra)
          })
        }
        futs.foreach { f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        }
      } finally pool.shutdownNow()
    }
  }

  /** MAXIMAL MARGINAL RELEVANCE diversified top-k from the persisted
    * IVF state (Carbonell & Goldstein, SIGIR'98): retrieval that
    * penalizes redundancy — each pick maximizes
    * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)`, so a result list
    * that would otherwise fill with near-duplicates of the best hit
    * (exactly what a deduplicating corpus pipeline's query traffic
    * looks like) spreads over the distinct neighborhoods instead.
    * λ = 1 is plain relevance ranking; lower λ trades relevance for
    * diversity.
    *
    * Scale shape, in two stages: the candidate pool is the PROBED
    * state read ([[ivfTopKFromState]] — per-query cost is `nProbe`
    * cells of a persisted assignment, corpus never scanned), and the
    * greedy re-rank runs on the DRIVER over that pool — inherently
    * sequential in `k` (each pick changes every remaining candidate's
    * penalty) and quadratic in `candK`, which is fine precisely because
    * the pool is query-bounded (queries × candK rows, never
    * corpus-sized); the `maxCandidates` require names the remedy.
    * Cosines here replay the engine's exact arithmetic (Σ in double,
    * `dot/(na·nb)`), so the re-rank is bit-reproducible against the
    * distributed scoring (and the x137 oracle's unrolled replay).
    * Ties break to the smaller neighbor id. */
  def mmrTopKFromState(
      spark: SparkSession, dir: String, queries: DataFrame, k: Int,
      lambda: Double, candK: Int = 50, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxCandidates: Int = 4096): DataFrame = {
    require(k >= 1, s"mmr k must be >= 1, got $k")
    require(candK >= k, s"candidate pool candK=$candK must cover k=$k")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"mmr lambda must be in [0, 1], got $lambda")
    val cand = ivfFromStateCore(spark, dir, queries, candK, nProbe,
        idCol, vecCol, asOf = None)
      .select(col("query_id"), col("neighbor_id"))
    val cells = readCellsLive(spark, dir)
      .select(col("vid"), col("v"))
    val qv = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("qv"))
    val pool = cand
      .join(cells, cand("neighbor_id") === cells("vid"))
      .join(qv, "query_id")
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("v"), col("qv"))
      .collect()
    require(pool.length <= maxCandidates,
      s"MMR re-ranks a bounded candidate pool: ${pool.length} " +
        s"(queries × candK) rows exceed maxCandidates=$maxCandidates — " +
        "probe fewer queries per call or lower candK")
    def toD(x: Any): Array[Double] = x match {
      case s: scala.collection.Seq[_] =>
        s.map(_.asInstanceOf[Number].doubleValue()).toArray
    }
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val oneMinus = 1.0 - lambda
    val out = pool.groupBy(_.getLong(0)).toSeq.sortBy(_._1).flatMap {
      case (qid, rs) =>
        val q = toD(rs.head.get(3))
        val qn = math.sqrt(dotD(q, q))
        // id-ascending candidate order + strict > in the argmax scan =
        // ties break to the smaller neighbor id
        val cands = rs.map(r => (r.getLong(1), toD(r.get(2))))
          .sortBy(_._1).toArray
        val norms = cands.map(c => math.sqrt(dotD(c._2, c._2)))
        val rel = cands.indices
          .map(i => dotD(q, cands(i)._2) / (qn * norms(i))).toArray
        val n = cands.length
        val picked = Array.fill(n)(false)
        // TRUE max over the selected set (Carbonell & Goldstein eq. 1) —
        // similarities can be negative, and clamping the penalty at zero
        // would stop rewarding candidates that point AWAY from every
        // pick. -Inf marks "nothing selected yet": the first pick scores
        // pure λ·rel with no penalty term at all.
        val maxSim = Array.fill(n)(Double.NegativeInfinity)
        (1 to math.min(k, n)).map { rank =>
          var best = -1
          var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < n) {
            if (!picked(i)) {
              val pen =
                if (maxSim(i) == Double.NegativeInfinity) 0.0
                else oneMinus * maxSim(i)
              val sc = lambda * rel(i) - pen
              if (sc > bestScore) { best = i; bestScore = sc }
            }
            i += 1
          }
          // every remaining score can be NaN (a NaN-valued query or
          // stored vector poisons its cosines, and NaN > -Inf is
          // false, so the argmax never selects) — name the cause
          // instead of indexing picked(-1). Zero-norm vectors are
          // already refused loudly upstream: the distributed cosine
          // divides under ANSI, so 0/0 throws before a pool forms.
          require(best >= 0,
            s"MMR for query $qid found no finite-scoring candidate at " +
              s"rank $rank — a NaN-valued (or zero-norm) query or " +
              "stored vector makes every remaining cosine NaN; clean " +
              "the embeddings before indexing or querying")
          picked(best) = true
          var j = 0
          while (j < n) {
            if (!picked(j)) {
              val s = dotD(cands(j)._2, cands(best)._2) /
                (norms(j) * norms(best))
              if (s > maxSim(j)) maxSim(j) = s
            }
            j += 1
          }
          (qid, cands(best)._1, bestScore, rank.toLong)
        }
    }
    import spark.implicits._
    out.toDF("query_id", "neighbor_id", "mmr", "rank")
  }

  /** Incremental EMBEDDING near-dup pairs against the persisted IVF
    * state — the vector-space counterpart of
    * [[graft.ext.Dedup.incrementalLshPairsFromState]], and the
    * steady-state shape of SemDeDup ([[semanticDedup]]): an arriving
    * batch is checked against the full accepted corpus without ever
    * scoring it exhaustively. Each batch vector probes its `nProbe`
    * nearest cells and scores ONLY the state vectors in those cells
    * (cells partition the state, so pairs are unique by construction);
    * a pair (new_id, old_id, cos ≥ threshold) means the new vector
    * near-duplicates an accepted one — reject or collapse it. Per-batch
    * cost: one broadcast-argmin probe pass + the probed cells' rows —
    * ~nProbe/k of the corpus per batch vector, never O(corpus × batch).
    *
    * Same recall posture as IVF retrieval: a true near-dup in an
    * un-probed cell is missed (the cell boundary hazard every IVF accept
    * gate has); raise nProbe for a tighter gate. Ids must be unique
    * across state ∪ batch. */
  def nearDupPairsFromState(
      spark: SparkSession, dir: String, batch: DataFrame, threshold: Double,
      nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeTag: Option[Long] = None): DataFrame = {
    checkQueryDim(spark, dir, queries = batch, vecCol = vecCol)
    val cents = spark.read.parquet(StateIO.tablePath(spark, dir, "centroids"))
    // excludeTag: a replayed tagged batch must not match ITSELF in the
    // state and self-reject — same replay rule as the LSH pair reads.
    // Tombstoned vids ([[deleteFromIvfState]]) must not reject new
    // arrivals either — a deleted near-duplicate is GONE from the corpus.
    val cells = readCellsLive(spark, dir, excludeTag)
      .select("cid", "vid", "v", "cn")
    val probes = probeCells(batch, cents, nProbe, idCol, vecCol)
    cells.join(broadcast(probes), Seq("cid"))
      .filter(col("vid") =!= col("query_id"))
      .withColumn("cos", cosFrom(col("qv"), col("qn"), col("v"), col("cn")))
      .filter(col("cos") >= threshold)
      .select(col("query_id").as("new_id"), col("vid").as("old_id"),
        col("cos"))
  }

  /** Compact an [[appendIvfState]] dir in place — the same steady-state
    * small-file maintenance as [[graft.ext.Dedup.compactLshState]]
    * (every append lands one small file-set under `cells`): rewrites
    * `cells` (and the k-row `centroids`) into ~targetBytes files,
    * preserving tagged `batch_id=N` partition layout and `_meta`. No
    * dedup pass — cell rows are unique by construction (untagged appends
    * anti-join, tagged appends overwrite). Run OFFLINE (see the swap
    * discipline notes on the LSH twin). */
  def compactIvfState(
      spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20): Unit =
    // applies tombstones physically ([[StatePillar.compact]])
    StatePillar.Ivf.compact(spark, dir,
      Seq("centroids" -> false, "cells" -> false), targetBytes,
      dropFrom = Seq("cells"))

  /** DELETE vectors from an [[appendIvfState]] dir — the tombstone path
    * for the vector pillar: the engine's own semantic dedup and
    * decontamination REMOVE documents, and without deletes their stale
    * cell rows keep answering probes (and rejecting new near-duplicate
    * arrivals against ghosts) until a full rebuild. O(|ids|) write;
    * reads ([[ivfTopKFromState]], [[nearDupPairsFromState]],
    * [[ivfStateAudit]]) anti-join the tombstones; [[compactIvfState]]
    * applies them physically. The frozen centroids are untouched —
    * deletes remove vectors from the INDEX, not from the geometry's
    * training history (run [[ivfStateAudit]] if deletions skew the
    * occupancy enough to recommend a rebuild).
    *
    * Tagged deletes land in their own `delete_id=N` partition with
    * overwrite (at-least-once replay safe); untagged deletes anti-join
    * already-tombstoned ids so a blind re-run is a no-op. A deleted id
    * must never be re-appended (tombstones filter it forever). */
  def deleteFromIvfState(
      spark: SparkSession, dir: String, ids: DataFrame, idCol: String,
      deleteTag: Option[Long] = None): Unit =
    StatePillar.Ivf.delete(spark, dir, ids, col(idCol), deleteTag)

  /** RECLUSTER an [[appendIvfState]] dir in place — the operator that
    * ACTS on [[ivfStateAudit]]'s `retrain_recommended` verdict (until
    * now the documented remedy was a manual full rebuild): retrain the
    * deterministic [[kmeansCentroids]] on the LIVE persisted corpus
    * (tombstoned vectors excluded — a deleted population must not shape
    * the new geometry), reassign every live vector once, and swap the
    * centroids + cells tables in with the shared backup-swap rename
    * discipline. The stored `_meta` (k, iters, dim) is the retrain
    * geometry — recluster changes the FIT, never the parameters — so
    * every later [[appendIvfState]] validates against the same meta and
    * assigns to the NEW centroids it reads fresh from the dir.
    *
    * After reclustering, [[ivfTopKFromState]] answers exactly like a
    * from-scratch [[kmeansIvfTopK]] over the live corpus (spec-pinned +
    * the x122 gate): same seeds-by-lowest-id, same Lloyd steps, same
    * 6-dp rounding. Tombstones are KEPT (the never-reuse-a-deleted-id
    * contract outlives the rows; the new cells contain live vectors
    * only, so the read-side anti-join becomes a no-op). Tagged
    * `batch_id=N` levels are preserved on the rewritten cells, so a
    * replayed old append still overwrites its own partition — and
    * assigns against the current (new) centroids, which is the
    * append contract.
    *
    * Cost: one k-means train (iters broadcast-assign passes over the
    * live cells — O(live · k) map-side) + one reassignment + a full
    * cells rewrite — deliberately an OFFLINE maintenance pass, the same
    * posture as compaction (run it when the audit says so, not per
    * batch).
    *
    * Crash safety: centroids and cells move under ONE commit point
    * ([[StateIO.swapInTables]] — both new tables are fully staged, then
    * a `_swap_commit` marker is published by one atomic rename, then
    * the renames apply). A crash at ANY point leaves either the full
    * old fit (pre-marker — staged tmps are garbage) or a marker that
    * every read/append/compact entry fails fast on until
    * [[StatePillar.recover]] rolls the swap forward to the full new fit.
    * There is no window where new centroids pair with old-geometry
    * cells: the first live rename happens only after the marker (and
    * with it the complete staged fit) is durable. */
  def reclusterIvfState(spark: SparkSession, dir: String): Unit =
    reclusterIvfState(spark, dir, crashAfterApplied = -1)

  /** [[reclusterIvfState]] with [[StateIO.swapInTables]]' fault-injection
    * hook exposed — the x127 crash-recovery gate and the StateIO specs
    * inject a deterministic crash between the commit marker and the
    * table renames (`crashAfterApplied` = 0 or 1), then prove
    * [[StatePillar.recover]] restores the full new fit. Production callers
    * use the public overload (hook off). */
  private[graft] def reclusterIvfState(
      spark: SparkSession, dir: String, crashAfterApplied: Int): Unit =
      StateIO.withWriterLock(spark, dir) {
    StatePillar.Ivf.checkWritable(spark, dir)
    val meta =
      try spark.read.schema("k LONG, iters LONG, dim LONG, train_sample LONG")
        .json(s"$dir/_meta").head()
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" =>
          throw new IllegalStateException(
            s"IVF state at $dir has no _meta — nothing to recluster " +
              "(build the state with appendIvfState first)")
      }
    require(!meta.isNullAt(0) && !meta.isNullAt(1) && !meta.isNullAt(2),
      s"IVF state meta at $dir/_meta is corrupt — rebuild the state dir")
    val (k, iters) = (meta.getLong(0).toInt, meta.getLong(1).toInt)
    val trainSample = if (meta.isNullAt(3)) 0 else meta.getLong(3).toInt
    // materialize the live rows BEFORE swapping: everything below derives
    // from the very files the swap replaces
    val live = graft.ext.Dedup.materialize(readCellsLive(spark, dir))
    require(live.select(col("vid")).head(1).nonEmpty,
      s"IVF state at $dir has no live vectors — nothing to recluster")
    val hasBatch = live.columns.contains("batch_id")
    // the retrain honors the state's training posture: a sample-trained
    // state re-trains on a bounded sample of the LIVE rows (otherwise a
    // recluster would re-pay the n^1.5 full-corpus training this state
    // was built to avoid); full-batch states retrain on everything live
    val newCents = graft.ext.Dedup.materialize(
      if (trainSample > 0)
        kmeansCentroidsSampled(live, k, iters, trainSample,
          idCol = "vid", vecCol = "v")
      else kmeansCentroids(live, k, iters, idCol = "vid", vecCol = "v"))
    val reassigned = assignToCentroids(
      live.select(col("vid"), col("v")), newCents)
      .select(col("cid"), col("vid"), col("v"))
      .withColumn("cn", norm(col("v")))
    val newCells =
      if (hasBatch)
        reassigned.join(live.select(col("vid"), col("batch_id")), Seq("vid"))
          .select(col("cid"), col("vid"), col("v"), col("cn"), col("batch_id"))
      else reassigned
    StateIO.swapInTables(spark, dir, Seq(
      ("centroids", newCents, Nil),
      ("cells", graft.ext.Dedup.materialize(newCells),
        if (hasBatch) Seq("batch_id") else Nil)),
      crashAfterApplied)
  }

  /** IVF-state DRIFT audit — the measurement the frozen-centroid posture
    * ([[appendIvfState]] trains on the first batch and never retrains)
    * is missing on its own: as appended batches drift away from the
    * first batch's distribution, cells go stale and imbalanced, and
    * [[ivfTopKFromState]] recall decays SILENTLY (an IVF index never
    * errors — it just probes the wrong cells). Run this after appends,
    * on a schedule, or before trusting the index for an accept gate.
    *
    * Two measurements in one report, both over the PERSISTED state (no
    * recompute of the index under audit):
    *
    *  - **recall-from-state**: exact brute-force top-`topK` truth over
    *    the state's own vectors for a small probe batch, compared with
    *    the state's probed answer ([[recallAtK]]) — `mean_recall_ok`
    *    gates the mean at `recallFloor` (the x88/x102 audit shape,
    *    pointed at the maintained index instead of a fresh build).
    *  - **cell-occupancy skew**: per nonempty cell, its vector count,
    *    corpus share, and ratio to the mean nonempty cell
    *    (`heavy_to_mean` — the x81 skew-audit shape over the state's
    *    cell column). A drifted ingest piles new vectors into few cells;
    *    `cell_overloaded` flags cells above `occupancyCeil`× the mean.
    *
    * `retrain_recommended` = recall floor broken OR any cell overloaded —
    * the documented retrain trigger: rebuild the state dir (retrain =
    * rebuild is the [[appendIvfState]] contract). Shares and ratios are
    * ratios of exact integers under the portable rounding, so the report
    * value-hashes identically on any engine re-deriving the assignment.
    *
    * Cost: occupancy is one |cells|-row aggregate over a narrow column;
    * the truth pass is O(|probes| · |state|) by design (the audit's
    * point — run it on a few dozen probes, the x102 rationale). */
  def ivfStateAudit(
      spark: SparkSession, dir: String, queries: DataFrame,
      topK: Int = 10, nProbe: Int = 2,
      recallFloor: Double = 0.8, occupancyCeil: Double = 4.0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // fail fast on degenerate inputs (the state-reader posture): an empty
    // probe set makes avg(recall) NULL, so mean_recall_ok and
    // retrain_recommended come back null instead of a verdict — an
    // orchestrator gating on `retrain_recommended == true` would read
    // null as "fine" forever; an empty live cells table likewise nulls
    // every share/heavy_to_mean via a null total.
    require(queries.select(col(vecCol)).head(1).nonEmpty,
      "ivfStateAudit needs a non-empty probe batch — recall over zero " +
        "queries is undefined (the audit would report null verdicts)")
    val cells = readCellsLive(spark, dir)
    require(cells.select(col("vid")).head(1).nonEmpty,
      s"IVF state at $dir has no live vectors (never appended, or fully " +
        "deleted) — there is nothing to audit")
    val occ = graft.ext.Dedup.materialize(
      cells.groupBy(col("cid")).agg(count(lit(1)).as("n_vecs")))
    val totals = occ.agg(sum(col("n_vecs")).as("graft_tot"),
      count(lit(1)).as("graft_cells"))
    val corpus = cells.select(col("vid").as(idCol), col("v").as(vecCol))
    val truth = graft.ext.Dedup.materialize(
      bruteForceTopK(corpus, queries, topK, idCol, vecCol))
    val ann = ivfTopKFromState(spark, dir, queries, topK, nProbe,
      idCol, vecCol)
    val rec = recallAtK(ann.select("query_id", "neighbor_id"),
      truth.select("query_id", "neighbor_id"))
    val gate = rec.agg(
      (avg(col("recall")) >= lit(recallFloor)).as("mean_recall_ok"))
    // overload compares exact integers scaled once by the ceil — no
    // accumulated float error can flip the boolean between engines
    val overloaded = col("n_vecs").cast("double") * col("graft_cells") >
      lit(occupancyCeil) * col("graft_tot").cast("double")
    val perCell = occ.crossJoin(broadcast(totals)).crossJoin(broadcast(gate))
      .withColumn("share", graft.ext.Dedup.round4(
        col("n_vecs").cast("double") / col("graft_tot")))
      .withColumn("heavy_to_mean", graft.ext.Dedup.round4(
        col("n_vecs").cast("double") * col("graft_cells") / col("graft_tot")))
      .withColumn("cell_overloaded", overloaded)
    val anyOver = perCell.agg(
      (sum(when(col("cell_overloaded"), 1L).otherwise(0L)) > 0L)
        .as("graft_any_over"))
    perCell.crossJoin(broadcast(anyOver))
      .select(col("cid"), col("n_vecs"), col("share"), col("heavy_to_mean"),
        col("cell_overloaded"), col("mean_recall_ok"),
        (col("graft_any_over") || !col("mean_recall_ok"))
          .as("retrain_recommended"))
  }

  /** Embedding width of a one-row driver peek; -1 when the batch is
    * empty (callers then skip the dim validation — there is nothing
    * whose width could mismatch). */
  private def dimOf(rows: Array[org.apache.spark.sql.Row]): Int =
    if (rows.isEmpty) -1 else rows.head.getSeq[Any](0).length

  /** Query-side width guard: probe vectors of a different width than the
    * indexed embeddings would truncate silently in the dot products
    * (wrong cells probed, garbage cosines) — fail fast instead. States
    * without a dim in `_meta` validate vacuously. */
  private def checkQueryDim(
      spark: SparkSession, dir: String, queries: DataFrame,
      vecCol: String): Unit = {
    val d = dimOf(queries.select(col(vecCol)).head(1))
    if (d >= 0) {
      val meta =
        try Some(spark.read.schema("dim LONG").json(s"$dir/_meta").head())
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition == "PATH_NOT_FOUND" => None
          case _: java.util.NoSuchElementException => None
        }
      meta.filter(!_.isNullAt(0)).foreach { m =>
        require(m.getLong(0).toInt == d,
          s"IVF state at $dir indexes ${m.getLong(0)}-dim embeddings but " +
            s"the query batch is ${d}-dim; mixed widths truncate the dot " +
            "products silently. Re-embed the queries or rebuild the state.")
      }
    }
  }

  /** Validate (or persist on first contact) an IVF state dir's index
    * parameters — same fail-fast discipline as the LSH `_meta`:
    * assignments computed under different (k, iters) probe wrong cells
    * SILENTLY, and a batch of a DIFFERENT embedding width corrupts the
    * index even more silently (the dot products truncate to the shorter
    * operand — wrong cells, garbage cosines, no error anywhere), so
    * both mismatches throw. `dim = -1` skips the width check (empty
    * batch — nothing to measure). */
  private def checkIvfMeta(
      spark: SparkSession, dir: String, k: Int, iters: Int, dim: Int,
      trainSample: Int, writeIfAbsent: Boolean): Unit = {
    val path = s"$dir/_meta"
    val row =
      try Some(spark.read
        .schema("k LONG, iters LONG, dim LONG, train_sample LONG")
        .json(path).head())
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" => None
        case _: java.util.NoSuchElementException => None
      }
    row match {
      case Some(m) =>
        require(!m.isNullAt(0) && !m.isNullAt(1) && !m.isNullAt(2),
          s"IVF state meta at $path is corrupt — rebuild the state dir")
        val stored = (m.getLong(0).toInt, m.getLong(1).toInt)
        require(stored == ((k, iters)),
          s"IVF state at $dir was built with (k, iters) = $stored but was " +
            s"called with (${k}, ${iters}); mismatched index geometry " +
            "probes the wrong cells silently. Use the stored parameters " +
            "or rebuild the state.")
        require(dim < 0 || m.getLong(2).toInt == dim,
          s"IVF state at $dir indexes ${m.getLong(2)}-dim embeddings but " +
            s"this batch is ${dim}-dim; mixed widths truncate the dot " +
            "products silently. Re-embed or rebuild the state.")
        // training config is first-append-only (the centroids froze),
        // but a mismatched call is operator confusion worth refusing —
        // the same posture as k/iters. Metas written before the field
        // existed read as null and validate as 0 (full-batch training).
        val storedTs = if (m.isNullAt(3)) 0 else m.getLong(3).toInt
        require(storedTs == trainSample,
          s"IVF state at $dir trained its centroids with trainSample = " +
            s"$storedTs but was called with $trainSample; use the stored " +
            "value (training froze on the first batch)")
      case None if writeIfAbsent =>
        import spark.implicits._
        Seq((k.toLong, iters.toLong, dim.toLong, trainSample.toLong))
          .toDF("k", "iters", "dim", "train_sample")
          .coalesce(1).write.mode("overwrite").json(path)
      case None => ()
    }
  }

  /** Product-quantization (PQ) training: the vector space is cut into `m`
    * contiguous subspaces of `subDim` dimensions and an independent
    * deterministic k-means (same discipline as [[kmeansCentroids]]: seeds =
    * the `k` lowest-id vectors' slices, means rounded to 6 dp per
    * iteration, ties by cid) runs per subspace. Returns (sub, cid, c).
    *
    * This is the FAISS-PQ memory layout: a corpus vector compresses to `m`
    * small codes (here `m` rows of one int — a production sink would pack
    * them into bytes: m·log₂k bits per vector instead of 4·dim bytes, a
    * 32× compression at the default geometry). All subspaces train in ONE
    * plan — the subspace id is just another grouping column, so the
    * per-subspace k-means runs as one shuffle over (vid, sub) rows, not m
    * sequential jobs. */
  def pqCentroids(
      corpus: DataFrame, m: Int = 8, subDim: Int = 8, k: Int = 16,
      iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val subVecs = pqSubVectors(corpus, m, subDim, idCol, vecCol)
    val seed = pqSubVectors(
        corpus.orderBy(col(idCol)).limit(k), m, subDim, idCol, vecCol)
      .select(col("sub"), col("vid").cast("int").as("cid"),
        col("v").cast("array<double>").as("c"))
    (1 to iters).foldLeft(seed) { (cents, _) =>
      pqAssign(subVecs, cents)
        .select(col("sub"), col("cid"),
          posexplode(col("v").cast("array<double>")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(round(avg(col("x")), 6).as("mu"))
        .groupBy(col("sub"), col("cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("mu")))),
          _.getField("mu")).as("c"))
    }
  }

  /** (vid, sub, v): each vector exploded into its `m` subspace slices —
    * map-side, one row per (vector, subspace). */
  private def pqSubVectors(
      vecs: DataFrame, m: Int, subDim: Int,
      idCol: String, vecCol: String): DataFrame =
    vecs.select(col(idCol).as("vid"),
        explode(array((0 until m).map(s => struct(lit(s).as("sub"),
          slice(col(vecCol), s * subDim + 1, subDim).as("v"))): _*)).as("e"))
      .select(col("vid"), col("e.sub").as("sub"), col("e.v").as("v"))

  /** Nearest-centroid assignment per (vector, subspace): (vid, sub, v, cid).
    * Broadcast m·k centroid rows; argmin via the same map-side-combined
    * `min(struct(dist, cid, v))` as [[assignToCentroids]] — the shuffle
    * carries one row per (vector, subspace), not the ×k expansion. */
  private def pqAssign(subVecs: DataFrame, cents: DataFrame): DataFrame =
    subVecs.join(broadcast(cents), Seq("sub"))
      .withColumn("graft_dist", sqDist(col("v"), col("c")))
      .groupBy(col("vid"), col("sub"))
      .agg(min(struct(col("graft_dist"), col("cid"), col("v"))).as("m"))
      .select(col("vid"), col("sub"), col("m.v").as("v"), col("m.cid").as("cid"))

  /** PQ approximate top-k by asymmetric distance (ADC): the corpus is
    * represented ONLY by its codes (m small ints per vector); each query
    * computes an m×k distance table to the trained centroids (tiny,
    * broadcast), and a candidate's approximate distance is the sum of m
    * table lookups — never a full-vector scan of the corpus at query time.
    *
    * Scale shape: encode = one broadcast-assign pass (m rows/vector);
    * scoring joins codes⋈table on (sub, cid) — hash equi-join, partial-agg
    * sum per (query, candidate) — and only the per-query top-k shuffles.
    * Returns (query_id, neighbor_id, adist, rank ≤ `topK`), ranked by
    * ascending approximate distance (ties by neighbor id). */
  /** Corpus codes (neighbor_id, sub, cid) + each query's m×k ADC distance
    * table (query_id, sub, cid, qd) for the given trained PQ centroids. */
  private def pqCodesAndTable(
      corpus: DataFrame, queries: DataFrame, cents: DataFrame,
      m: Int, subDim: Int,
      idCol: String, vecCol: String): (DataFrame, DataFrame) = {
    val codes = pqAssign(pqSubVectors(corpus, m, subDim, idCol, vecCol), cents)
      .select(col("vid").as("neighbor_id"), col("sub"), col("cid"))
    val qTable = pqSubVectors(queries, m, subDim, idCol, vecCol)
      .select(col("vid").as("query_id"), col("sub"), col("v"))
      .join(broadcast(cents), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cid"),
        sqDist(col("v"), col("c")).as("qd"))
    (codes, qTable)
  }

  /** ADC ranking of explicit (query, candidate) rows: join each
    * candidate's m codes (shuffle-hash — the codes side needs no sort and
    * builds per-partition hash tables), look up the broadcast query table,
    * sum, round BEFORE ranking (both engines do), rank ascending with id
    * ties. */
  private def adcRank(
      candidates: DataFrame, codes: DataFrame, qTable: DataFrame,
      topK: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    candidates
      .join(codes.hint("shuffle_hash"), Seq("neighbor_id"))
      .join(broadcast(qTable), Seq("query_id", "sub", "cid"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(round(sum(col("qd")), 4).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("adist"), col("rank"))
  }

  def pqTopK(
      corpus: DataFrame, queries: DataFrame, topK: Int, m: Int = 8,
      subDim: Int = 8, k: Int = 16, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = pqCentroids(corpus, m, subDim, k, iters, idCol, vecCol)
    val (codes, qTable) = pqCodesAndTable(
      corpus, queries, cents, m, subDim, idCol, vecCol)
    // full ADC scores every candidate: no candidate frame needed — the
    // codes⋈table equi-join on (sub, cid) enumerates them implicitly
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    codes.join(broadcast(qTable), Seq("sub", "cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(round(sum(col("qd")), 4).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("adist"), col("rank"))
  }

  /** IVF-PQ: the coarse k-means quantizer ([[kmeansCentroids]]) restricts
    * candidates to each query's `nProbe` nearest cells, and PQ codes
    * ([[pqCentroids]]) score them by asymmetric distance — the standard
    * billion-scale layout (an inverted file of cells whose entries are
    * compressed codes). vs [[pqTopK]]: scoring work drops from the whole
    * corpus to ~nProbe/k of it per query; vs [[kmeansIvfTopK]]: the probed
    * cells are scored from codes, never raw vectors — at scale the raw
    * embeddings are read ONCE at train/encode time and the query path
    * touches only (cell id, m codes) per corpus vector.
    *
    * This variant quantizes raw vectors (not residuals): candidate
    * RESTRICTION comes from the coarse cells, candidate ORDER from the
    * same ADC sums as x46 — so the oracle composes the two derivations
    * unchanged. Returns (query_id, neighbor_id, adist, rank ≤ `topK`). */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame, topK: Int,
      coarseK: Int = 8, nProbe: Int = 2, m: Int = 8, subDim: Int = 8,
      pqK: Int = 16, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val coarse = kmeansCentroids(corpus, coarseK, iters, idCol, vecCol)
    val vecs = corpus.select(col(idCol).as("vid"), col(vecCol).as("v"))
    val cellOf = assignToCentroids(vecs, coarse)
      .select(col("vid").as("neighbor_id"), col("cid").as("cell"))
    val probes = probeCells(queries, coarse, nProbe, idCol, vecCol)
      .select(col("query_id"), col("cid").as("cell"))

    val pqCents = pqCentroids(corpus, m, subDim, pqK, iters, idCol, vecCol)
    val (codes, qTable) = pqCodesAndTable(
      corpus, queries, pqCents, m, subDim, idCol, vecCol)

    val candidates = cellOf.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
    adcRank(candidates, codes, qTable, topK)
  }

  /** Recall@k audit of an ANN result against its exact ground truth: per
    * query, the fraction of the true top-k the approximate index actually
    * returned. Hash-gated determinism (x06/x07/x44/x46/x47) proves an ANN
    * variant reproduces its OWN derivation; it says nothing about
    * retrieval QUALITY — an index that probes the wrong cells is
    * deterministic and useless. This closes that gap the same way the
    * sketch profiles do (x59/x60): compute the exact reference on a
    * bounded slice, assert the approximation clears a pinned bound.
    *
    * Both inputs are (query_id, neighbor_id) frames; `truth` comes from
    * [[bruteForceTopK]] over a SAMPLED query batch — the exact pass is
    * O(|queries|·|corpus|), affordable precisely because the audit runs
    * on a few dozen probes, not the corpus. The join is a left-semi on
    * (query_id, neighbor_id) + two partial-agg counts: per-query work,
    * no corpus shuffle beyond what the two inputs already did. */
  def recallAtK(ann: DataFrame, truth: DataFrame): DataFrame = {
    val hits = truth.join(ann, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    truth.groupBy(col("query_id")).agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"), col("n_truth"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / col("n_truth"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the deterministic coarse
    * k-means ([[kmeansCentroids]]), then drop every vector whose CLUSTER
    * contains a lower-id vector with cosine ≥ `threshold` — semantically
    * redundant documents collapse to their lowest-id exemplar. Returns the
    * survivors as (idCol, cell).
    *
    * The clustering is what bounds the quadratic: pairwise cosine runs only
    * WITHIN a cell, so pair work is Σ|cell|² instead of corpus² — but ONLY
    * if cell size is held constant as the corpus grows. A fixed `k` makes
    * cells O(n) and the within-cell join O(n²/k) — the quadratic sneaks
    * back in. So by default (`k = 0` = auto) the effective cell count is
    * derived from the data: kEff = max(8, ⌈n / cellTarget⌉) from one
    * corpus count (the count is O(scan), reused nowhere else — at 100×
    * the corpus, kEff grows 100× and expected cell size stays
    * ≈`cellTarget`, keeping within-cell pair work LINEAR in n:
    * Σ|cell|² ≈ n·cellTarget. The paper clusters LAION into k≈110k cells
    * for the same reason.) A caller-supplied `k > 0` is honored EXACTLY —
    * never silently overridden — so callers that pin the clustering
    * geometry (a value-pinned oracle, a reproduction of the paper's k)
    * get the k they asked for; the auto default is the scale posture.
    * The pair join is
    * hash-partitioned on cid; the per-cell work is embarrassingly parallel
    * across cells. The assignment frame feeds the a-side, the b-side and
    * the survivor anti-join, so it is materialized once
    * ([[Dedup.materialize]] — reliable checkpoint under
    * `graft.checkpointDir`) rather than re-running the 2-iteration
    * training lineage three times. */
  def semanticDedup(
      corpus: DataFrame, threshold: Double, k: Int = 0, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellTarget: Int = 1024): DataFrame = {
    val kEff =
      if (k > 0) k
      else math.max(8, ((corpus.count() + cellTarget - 1) / cellTarget).toInt)
    val cents = kmeansCentroids(corpus, kEff, iters, idCol, vecCol)
    val vecs = corpus.select(col(idCol).as("vid"), col(vecCol).as("v"))
    val assigned = Dedup.materialize(
      assignToCentroids(vecs, cents).withColumn("n", norm(col("v"))))
    val a = assigned.as("a")
    val b = assigned.as("b")
    val dropped = a.join(b,
        col("a.cid") === col("b.cid") && col("a.vid") < col("b.vid"))
      .filter(cosFrom(col("a.v"), col("a.n"), col("b.v"), col("b.n")) >= threshold)
      .select(col("b.vid").as("vid")).distinct()
    assigned.join(dropped, Seq("vid"), "left_anti")
      .select(col("vid").as(idCol), col("cid").as("cell"))
  }

  /** Per-group embedding profile — the embedding-space health check a
    * training pipeline runs per source/domain/label before mixing: for
    * each group, the member count, mean squared norm, CENTROID norm, and
    * dispersion (mean squared distance to the group centroid). Collapsed
    * embeddings (a broken encoder emitting near-constant vectors, a
    * source whose documents all embed alike) show up as dispersion → 0;
    * un-normalized drift shows up in mean_sq_norm.
    *
    * Dispersion never touches pairwise distances: by the bias-variance
    * identity E‖v − c‖² = E‖v‖² − ‖c‖² (c the group mean), it falls out
    * of two aggregates. The plan is ONE posexplode → (group, pos) partial
    * agg — the shuffle carries groups × dim rows regardless of corpus
    * size — plus a groups-sized reduce; no join, no second corpus scan
    * (the squared-norm mean rides the same per-dimension aggregate as
    * Σ E[x²] over dims). */
  def groupProfile(
      vectors: DataFrame, groupCol: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    vectors
      .select(col(groupCol).as("grp"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .withColumn("x", col("x").cast("double"))
      .groupBy(col("grp"), col("pos"))
      .agg(count(lit(1)).as("n"), avg(col("x")).as("mean_x"),
        avg(col("x") * col("x")).as("mean_x2"))
      .groupBy(col("grp"))
      .agg(max(col("n")).as("n_vecs"),
        Dedup.round4(sum(col("mean_x2"))).as("mean_sq_norm"),
        Dedup.round4(sqrt(sum(col("mean_x") * col("mean_x"))))
          .as("centroid_norm"),
        Dedup.round4(sum(col("mean_x2")) - sum(col("mean_x") * col("mean_x")))
          .as("dispersion"))
      .select(col("grp").as(groupCol), col("n_vecs"), col("mean_sq_norm"),
        col("centroid_norm"), col("dispersion"))

  /** Per-dimension [min, max] of an embedding column: posexplode +
    * groupBy(pos). Partial aggregation collapses every task to `dim` rows
    * before the exchange — the shuffle carries dim × tasks rows no matter
    * the corpus size. */
  def dimRanges(vectors: DataFrame, vecCol: String): DataFrame =
    vectors.select(posexplode(col(vecCol)).as(Seq("pos", "graft_x")))
      .groupBy(col("pos"))
      .agg(min(col("graft_x").cast("double")).as("vmin"),
        max(col("graft_x").cast("double")).as("vmax"))

  /** Scalar int8 quantization of the embedding column — the ANN STORAGE
    * scale lever: a 64-dim float32 vector (256 B) becomes 64 uint8 codes
    * (64 B) plus one shared per-dimension (min, scale) table, the same
    * asymmetric scalar-quantizer layout FAISS's SQ8 index uses. At 100 TB
    * of vectors that is 4× less to store, shuffle, and scan for any
    * code-space distance pass.
    *
    * Shape: [[dimRanges]] is one tiny aggregate; its `dim` rows come back
    * to the driver (bounded by vector WIDTH, never corpus size) and ride
    * into the encode pass as literal arrays, so encoding is a pure
    * map-side expression — no join, no shuffle, stays in codegen.
    *
    * Determinism: code = clamp(floor((x − min)/scale + 0.5), 0, 255) —
    * floor(+0.5) instead of round() because engines disagree on
    * round-half semantics, while this exact op chain is pure IEEE double
    * arithmetic any engine reproduces bit-for-bit. Constant dimensions
    * (max == min) encode as 0. */
  def quantizeInt8(
      vectors: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val dims = dimRanges(vectors, vecCol).orderBy("pos").collect()
    val mins = dims.map(_.getDouble(1)).toSeq
    val scales = dims.map(r => (r.getDouble(2) - r.getDouble(1)) / 255.0).toSeq
    val (minsL, scalesL) = (typedLit(mins), typedLit(scales))
    val codes = transform(col(vecCol), (x, i) => {
      val m = element_at(minsL, i + 1)
      val sc = element_at(scalesL, i + 1)
      when(sc === 0.0, lit(0)).otherwise(
        least(lit(255), greatest(lit(0),
          floor((x.cast("double") - m) / sc + lit(0.5)).cast("int"))))
    })
    vectors.select(col(idCol), codes.as("codes"))
  }

  /** Embedding-cosine near-duplicate pairs over a bounded subset (exact,
    * O(n²); the scale path buckets first — [[lshCosinePairs]]). Inputs
    * beyond `maxRows` are refused rather than silently starting a
    * corpus² self-join ([[Dedup.requireExactBounded]]). */
  def cosinePairs(
      vectors: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxRows: Long = Dedup.maxExactPairRows): DataFrame = {
    Dedup.requireExactBounded(vectors, "cosinePairs",
      "Similarity.lshCosinePairs (hyperplane-bucketed) or semanticDedup",
      maxRows)
    val v = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("n", norm(col("v")))
    val a = v.as("a")
    val b = v.as("b")
    a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosFrom(col("a.v"), col("a.n"), col("b.v"), col("b.n")).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
