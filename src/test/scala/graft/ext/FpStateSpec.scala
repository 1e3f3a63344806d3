package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Persisted fingerprint (Hamming) state: the steady-state near-dup
  * substrate for any 64-bit perceptual signature. Pins incremental-read
  * parity with the whole-corpus banded join, the partition-pruned probe
  * read, tombstone semantics, replay idempotency (tagged and untagged),
  * the as-of cut, the bucket-meta refusal, and the streaming ingest. */
class FpStateSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic fingerprints with planted near-dups: id's group
    * g = id % 20 fixes 64 envelope bits; ids 20 apart share them exactly
    * (Hamming 0), and ids with id % 12 == 11 flip bits 4–5. The same
    * construction family as the x160 audio gate, minus the WAV bytes —
    * this spec pins the STATE machinery, the gates pin the decode. */
  private def fpOf(id: Long): Long = {
    val g = (id % 20).toInt
    def amp(i: Int): Int = {
      val a = (g * 31 + i * 53 + (i * i * (g + 7)) % 29) % 199
      if (id % 12 == 11 && i == 5) (a + 97) % 199 else a
    }
    (0 until 64).foldLeft(0L)((h, i) =>
      if (amp(i) > amp(i + 1)) h | (1L << i) else h)
  }

  private def sigs(ids: Range) =
    ids.map(id => (id.toLong, fpOf(id))).toDF("doc_id", "sig")

  test("incremental pairs from state == whole-corpus banded join; " +
      "probe read is bucket-pruned") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fp_state").toFile.getAbsolutePath
    Dedup.appendFpState(sigs(0 until 40), dir, "doc_id", "sig",
      batchTag = Some(1L), buckets = 16)
    Dedup.appendFpState(sigs(40 until 80), dir, "doc_id", "sig",
      batchTag = Some(2L), buckets = 16)
    val batch = sigs(80 until 120)
    val inc = Dedup.incrementalHammingPairsFromState(spark, dir, batch,
        "doc_id", "sig", maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    // ground truth: the one-shot banded join over corpus ∪ batch,
    // restricted to (new ∈ batch, old ∈ corpus) pairs
    val all = Dedup.hammingPairs64(sigs(0 until 120), "doc_id", "sig", 3)
      .as[(Long, Long, Long)].collect().toSet
    val expected = all.collect {
      case (a, b, h) if a < 80 && b >= 80 => (b, a, h)
      case (a, b, h) if b < 80 && a >= 80 => (a, b, h)
    }
    assert(inc == expected && inc.nonEmpty)
    // the state read must PRUNE to the probed bkt= partitions
    val plan = graft.Plans.capturePlan(
      Dedup.incrementalHammingPairsFromState(spark, dir, batch,
        "doc_id", "sig", maxHamming = 3))
    val scanLine = plan.linesIterator
      .filter(_.contains("PartitionFilters")).mkString("\n")
    assert(scanLine.contains("bkt"),
      s"fingerprint state scan is not bucket-pruned:\n$plan")
    // as-of: against the state as of (append 1, delete 0), batch-2 ids
    // are invisible — every old_id is from batch 1
    val asof = Dedup.incrementalHammingPairsFromState(spark, dir, batch,
        "doc_id", "sig", maxHamming = 3, asOf = Some((1L, 0L)))
      .as[(Long, Long, Long)].collect().toSet
    assert(asof == expected.filter(_._2 < 40) && asof.nonEmpty)
  }

  test("tombstones: deleted ids stop pairing; re-arrival signs fresh " +
      "against the survivors only") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fp_del").toFile.getAbsolutePath
    Dedup.appendFpState(sigs(0 until 40), dir, "doc_id", "sig",
      batchTag = Some(1L))
    Dedup.deleteFromFpState(spark, dir,
      Seq(3L, 23L).toDF("doc_id"), "doc_id", deleteTag = Some(1L))
    // id 43 is the planted exact dup of 3 and 23 (g = 3): both are
    // tombstoned, so nothing pairs and 43 would be accepted
    val pairs = Dedup.incrementalHammingPairsFromState(spark, dir,
        Seq((43L, fpOf(43L))).toDF("doc_id", "sig"), "doc_id", "sig")
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.isEmpty, s"ghost fingerprints must not pair: $pairs")
    // a probe whose group still has live members pairs against ALL of
    // them (ids 4 and 24 share group 4)
    val pairs2 = Dedup.incrementalHammingPairsFromState(spark, dir,
        Seq((44L, fpOf(44L))).toDF("doc_id", "sig"), "doc_id", "sig")
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs2 == Set((44L, 4L, 0L), (44L, 24L, 0L)),
      s"live members must pair: $pairs2")
  }

  test("replay idempotency: tagged overwrite, untagged re-run completes " +
      "without duplicating; excludeTag hides a batch's own append") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fp_replay").toFile.getAbsolutePath
    Dedup.appendFpState(sigs(0 until 40), dir, "doc_id", "sig",
      batchTag = Some(1L))
    // batch 2 already appended itself (at-least-once): the excludeTag
    // read must re-reject exactly the planted dups of batch 1, not
    // self-reject every row
    Dedup.appendFpState(sigs(40 until 60), dir, "doc_id", "sig",
      batchTag = Some(2L))
    val replay = Dedup.incrementalHammingPairsFromState(spark, dir,
        sigs(40 until 60), "doc_id", "sig", excludeTag = Some(2L))
      .select("new_id").as[Long].collect().toSet
    assert(replay == (40L until 60L).toSet,
      s"every batch-2 id has a batch-1 twin 20 below: $replay")
    // tagged overwrite: re-append changes nothing
    Dedup.appendFpState(sigs(40 until 60), dir, "doc_id", "sig",
      batchTag = Some(2L))
    assert(spark.read.parquet(s"$dir/sigs").count() == 60)
    assert(spark.read.parquet(s"$dir/bands").count() == 240)
    // untagged dir: a blind full re-run of the same batch appends nothing
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_fp_untagged").toFile.getAbsolutePath
    Dedup.appendFpState(sigs(0 until 30), dir2, "doc_id", "sig")
    Dedup.appendFpState(sigs(0 until 30), dir2, "doc_id", "sig")
    assert(spark.read.parquet(s"$dir2/sigs").count() == 30)
    assert(spark.read.parquet(s"$dir2/bands").count() == 120)
    // untagged delete replay is a no-op (in the untagged dir — tagged
    // and untagged writes never mix in one state dir)
    Dedup.deleteFromFpState(spark, dir2, Seq(7L).toDF("doc_id"), "doc_id")
    Dedup.deleteFromFpState(spark, dir2, Seq(7L).toDF("doc_id"), "doc_id")
    val tombs = spark.read.parquet(s"$dir2/tombstones")
      .select("id").as[Long].collect().toSeq
    assert(tombs.count(_ == 7L) == 1, s"duplicate tombstones: $tombs")
    // bucket-meta mismatch refuses by name
    val err = intercept[IllegalArgumentException] {
      Dedup.appendFpState(sigs(30 until 40), dir2, "doc_id", "sig",
        buckets = 64)
    }
    assert(err.getMessage.contains("buckets"))
  }

  test("lifecycle: truncate/retain/clone/fast-forward/compact preserve " +
      "the pair relation; floors refuse; bkt pruning survives compaction") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_fp_life").toFile.getAbsolutePath
    val dir = s"$root/fp"; val dst = s"$root/branch"
    Dedup.appendFpState(sigs(0 until 20), dir, "doc_id", "sig",
      batchTag = Some(1L))
    Dedup.appendFpState(sigs(20 until 40), dir, "doc_id", "sig",
      batchTag = Some(2L))
    Dedup.appendFpState(sigs(40 until 60), dir, "doc_id", "sig",
      batchTag = Some(3L))
    Dedup.deleteFromFpState(spark, dir, Seq(5L, 25L).toDF("doc_id"),
      "doc_id", deleteTag = Some(2L))
    val probe = sigs(100 until 120)
    def pairs(d: String, asOf: Option[(Long, Long)] = None) =
      Dedup.incrementalHammingPairsFromState(spark, d, probe,
        "doc_id", "sig", asOf = asOf)
        .as[(Long, Long, Long)].collect().toSet
    val before = pairs(dir)
    val at22 = pairs(dir, asOf = Some((2L, 2L)))
    assert(before.nonEmpty && at22.nonEmpty && at22 != before)
    assert(!before.exists(p => p._2 == 5L || p._2 == 25L),
      "tombstoned ids must not pair")
    // live-id audit view: everything appended minus the tombstones
    assert(StateAudit.fpLiveIds(spark, dir).as[Long].collect().toSet ==
      ((0L until 60L).toSet -- Set(5L, 25L)))
    // truncate to floor 2: plain + still-legal as-of reads identical,
    // sub-floor as-of refuses by name
    StatePillar.Fp.truncate(spark, dir, 2L)
    assert(pairs(dir) == before)
    assert(pairs(dir, asOf = Some((2L, 2L))) == at22)
    val err = intercept[IllegalArgumentException] {
      pairs(dir, asOf = Some((1L, 2L)))
    }
    assert(err.getMessage.contains("floor"))
    // retention already satisfied at keep-last 2 (batches 2,3 remain)
    assert(StatePillar.Fp.retain(spark, dir, 2).isEmpty)
    // clone at (2,2): the branch's PLAIN read answers like the source's
    // as-of; fast-forward then catches it up to the full head
    StatePillar.Fp.clone(spark, dir, dst, asOfBatch = 2L, asOfDelete = 2L)
    assert(pairs(dst) == at22)
    assert(StatePillar.Fp.fastForward(spark, dir, dst) == ((3L, 2L)))
    assert(pairs(dst) == before)
    // compaction applies tombstones physically, keeps the relation and
    // the bucket-pruned probe read
    Dedup.compactFpState(spark, dir)
    assert(pairs(dir) == before)
    assert(!spark.read.parquet(s"$dir/sigs").select("id").as[Long]
      .collect().contains(5L), "compaction must drop tombstoned sigs")
    val plan = graft.Plans.capturePlan(
      Dedup.incrementalHammingPairsFromState(spark, dir, probe,
        "doc_id", "sig"))
    assert(plan.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString.contains("bkt"),
      s"compaction flattened the bkt layout:\n$plan")
    // healthy dir: nothing to recover
    assert(!StatePillar.Fp.recover(spark, dir))
  }

  test("streaming media ingest: near-dups rejected against the corpus, " +
      "survivors append, replay overwrites") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files
      .createTempDirectory("graft_media_ingest").toString
    val stateDir = s"$dir/state"; val pairsDir = s"$dir/pairs"
    implicit val sqlCtx = spark.sqlContext
    // payloads are REAL WAV bytes; the fingerprinter is the audio op —
    // the full modality path, not a stub
    val stream = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.MediaStream.fingerprintDedupIngest(
      stream.toDS().toDF("doc_id", "payload"),
      df => Multimodal.audioFingerprintBatch(df).toDF()
        .withColumnRenamed("afp", "sig"),
      stateDir, pairsDir, "doc_id", "sig", checkpointDir = s"$dir/ckpt")
    def acceptedIds: Set[Long] = spark.read.parquet(s"$stateDir/sigs")
      .select("id").as[Long].collect().toSet
    import graft.queries.Extensions.syntheticWav
    try {
      // batch 0: 1 and 41 are the same recording at another rate (the
      // fingerprint collapses them); 2 is distinct; "junk" refuses decode
      stream.addData(Seq((1L, syntheticWav(1L)), (41L, syntheticWav(41L)),
        (2L, syntheticWav(2L)), (999L, "junk".getBytes)))
      q.processAllAvailable()
      assert(acceptedIds == Set(1L, 2L))
      // batch 1: 81 is the third rendering of group 1 — rejected against
      // the corpus with an audit pair; 5 is fresh
      stream.addData(Seq((81L, syntheticWav(81L)), (5L, syntheticWav(5L))))
      q.processAllAvailable()
      assert(acceptedIds == Set(1L, 2L, 5L))
      val pairs = spark.read.parquet(pairsDir)
        .select("new_id", "old_id").as[(Long, Long)].collect().toSet
      assert(pairs.contains((81L, 1L)), s"missing audit pair: $pairs")
    } finally q.stop()
    // at-least-once replay of batch 1: the excludeTag read re-rejects
    // exactly 81 (not 5 against its own append)
    val replay = Dedup.incrementalHammingPairsFromState(spark, stateDir,
        Multimodal.audioFingerprintBatch(
          Seq((81L, syntheticWav(81L)), (5L, syntheticWav(5L)))
            .toDF("doc_id", "payload")).toDF()
          .filter(col("ok")).withColumnRenamed("afp", "sig"),
        "doc_id", "sig", excludeTag = Some(1L))
      .select("new_id").as[Long].collect().toSet
    assert(replay == Set(81L), s"replay must re-reject exactly 81: $replay")
  }
}
