package graft.ext

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The write guard over every registered pillar
  * ([[StatePillar.checkWritable]]): each append, delete and compaction
  * entry refuses a dir that holds a swap or fast-forward marker, or a
  * crashed compaction's backup of any table the descriptor declares,
  * before it writes anything. Bare dirs and 3-row frames: every refusal
  * happens at the entry, so no state is ever built. */
class StatePillarGuardSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq((1L, "alpha beta gamma delta"),
    (2L, "beta gamma delta epsilon"), (3L, "gamma delta epsilon zeta"))
    .toDF("id", "text")
  private lazy val ids = docs.select(col("id"))

  private def w(verb: String)(write: String => Unit) = verb -> write

  /** Each pillar's write entries, by CLI name: (append, delete, compact
    * and any further writes) over a state dir. */
  private lazy val writes: Map[String, Seq[(String, String => Unit)]] = Map(
    "lsh" -> Seq(
      w("append")(d => Dedup.appendLshState(docs, "id", "text", d)),
      w("delete")(d => Dedup.deleteFromLshState(spark, d, ids, "id")),
      w("compact")(d => Dedup.compactLshState(spark, d))),
    "fp" -> Seq(
      w("append")(d => Dedup.appendFpState(
        docs.select(col("id"), col("id").as("sig")), d, "id", "sig")),
      w("delete")(d => Dedup.deleteFromFpState(spark, d, ids, "id")),
      w("compact")(d => Dedup.compactFpState(spark, d))),
    "postings" -> Seq(
      w("append")(d => Index.appendPostingsState(docs, d, "id", "text")),
      w("delete")(d => Index.deleteFromPostingsState(spark, d, ids, "id")),
      w("compact")(d => Index.compactPostingsState(spark, d))),
    "tokenizer" -> Seq(
      w("append")(d => Bpe.appendTokenizerState(docs, d, "id", "text")),
      w("delete")(d => Bpe.deleteFromTokenizerState(spark, d, ids, "id")),
      w("compact")(d => Bpe.compactTokenizerState(spark, d))),
    "stats" -> Seq(
      w("append")(d => Profile.appendStatsState(docs, d, "text", "id")),
      w("delete")(d => Profile.deleteFromStatsState(docs, d, "text", "id")),
      w("compact")(d => Profile.compactStatsState(spark, d))),
    "ivf" -> Seq(
      w("append")(d => Similarity.appendIvfState(
        docs.select(col("id").as("vec_id"),
          org.apache.spark.sql.functions.array(col("id").cast("double"))
            .as("embedding")), d, k = 2, iters = 1)),
      w("delete")(d => Similarity.deleteFromIvfState(spark, d, ids, "id")),
      w("compact")(d => Similarity.compactIvfState(spark, d)),
      w("recluster")(d => Similarity.reclusterIvfState(spark, d))))

  private def bareDir(tag: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(s"graft_guard_$tag")

  /** Run `write` on `dir` and return its refusal message. */
  private def refusal(what: String, dir: java.nio.file.Path)(
      write: String => Unit): String =
    withClue(s"$what: ")(
      intercept[IllegalArgumentException](write(dir.toString))).getMessage

  test("every registered pillar has its write entries in this table") {
    assert(writes.keySet == StatePillar.names.toSet)
  }

  test("a swap or fast-forward marker refuses every pillar write, " +
      "before anything is written") {
    for {
      pillar <- StatePillar.all
      (marker, hint) <- Seq(
        StateIO.SwapCommitMarker -> "recoverSwap",
        StateIO.FfPendingMarker -> "fastForward")
      (verb, write) <- writes(pillar.name)
    } {
      val dir = bareDir(s"${pillar.name}_$verb")
      java.nio.file.Files.createFile(dir.resolve(marker))
      val msg = refusal(s"${pillar.name} $verb under $marker", dir)(write)
      assert(msg.contains(marker) && msg.contains(hint),
        s"${pillar.name} $verb: $msg")
      // nothing landed: no `_meta` (LSH's first contact writes it) and no
      // table of the pillar
      (pillar.healthTables :+ "_meta").foreach { t =>
        assert(!java.nio.file.Files.exists(dir.resolve(t)),
          s"${pillar.name} $verb under $marker wrote $t")
      }
    }
  }

  test("a crashed compaction's backup of any declared table refuses " +
      "every pillar write") {
    for {
      pillar <- StatePillar.all
      table <- pillar.healthTables
      (verb, write) <- writes(pillar.name)
    } {
      val dir = bareDir(s"${pillar.name}_${table}_$verb")
      java.nio.file.Files.createDirectory(
        dir.resolve(s"${table}__compact_bak"))
      val msg = refusal(s"${pillar.name} $verb with ${table}__compact_bak",
        dir)(write)
      assert(msg.contains(s"${table}__compact_bak") &&
          msg.contains("crashed mid-swap"),
        s"${pillar.name} $verb: $msg")
    }
  }
}
