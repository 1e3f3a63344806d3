package graft.etl

import java.nio.file.Files
import graft.SparkSpec

/** Interactive-menu parity (reference main.py:112-215): the numbered REPL
  * drives the same actions as the subcommands. IO is injected, no TTY. */
class MenuSpec extends SparkSpec {

  private def run(script: String, inDir: String, outDir: String): String = {
    val in = new java.io.BufferedReader(new java.io.StringReader(script))
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.PrintStream(bos, true, "UTF-8")
    Main.menuLoop(spark, inDir, outDir, in, out)
    bos.toString("UTF-8")
  }

  test("menu: process → view outputs → invalid choice → exit") {
    val inDir = Files.createTempDirectory("graft_menu_in")
    val outDir = Files.createTempDirectory("graft_menu_out")
    Files.writeString(inDir.resolve("a.txt"), """{"k": 1, "name": "x"}""")
    val printed = run("1\n4\n9\n5\n", inDir.toString, outDir.toString)
    assert(printed.contains("SIMPLE ETL PIPELINE"))
    assert(printed.contains("Output files:"))
    assert(printed.contains("cleaned_output.csv"))
    assert(printed.contains("Invalid choice"))
    assert(printed.contains("Goodbye!"))
    assert(Files.exists(outDir.resolve("cleaned_output.csv")))
  }

  test("menu: option 3 without filename warns; EOF exits the loop") {
    val printed = run("3\n\n", "no_such_in", "no_such_out")
    assert(printed.contains("No filename provided"))
    assert(printed.contains("Goodbye!")) // readLine EOF → treated as exit
  }

  private def state(args: String*): (String, Map[String, String]) = {
    // mirror Main.main's arg split: --key value pairs vs positionals
    val optPairs = scala.collection.mutable.Map.empty[String, String]
    val positional = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val a = args.toArray
    while (i < a.length) {
      if (a(i).startsWith("--") && i + 1 < a.length) {
        optPairs(a(i).drop(2)) = a(i + 1); i += 2
      } else { positional += a(i); i += 1 }
    }
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.PrintStream(bos, true, "UTF-8")
    Main.stateCmd(spark, positional.toSeq, optPairs.toMap, out)
    (bos.toString("UTF-8"), optPairs.toMap)
  }

  test("state subcommand: recover / truncate / health / audit / clone drive the lifecycle") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft_menu_state").toString
    val (ls, ps, ts) = (s"$root/lsh", s"$root/postings", s"$root/tok")
    val b1 = docs.filter(col("doc_id") < 60)
    val b2 = docs.filter(col("doc_id") >= 60 && col("doc_id") < 120)
    Seq(1L -> b1, 2L -> b2).foreach { case (tag, b) =>
      graft.ext.Dedup.appendLshState(b, "doc_id", "text", ls,
        batchTag = Some(tag))
      graft.ext.Index.appendPostingsState(b, ps, "doc_id", "text",
        batchTag = Some(tag))
      graft.ext.Bpe.appendTokenizerState(b, ts, "doc_id", "text",
        numMerges = 3, batchTag = Some(tag))
    }
    // healthy recover is a loud no-op
    assert(state("recover", "postings", ps)._1.contains("nothing to recover"))
    // consistent audit says so explicitly; a postings-only delete flips it
    assert(state("audit", ls, ps, ts)._1.contains("CONSISTENT"))
    graft.ext.Index.deleteFromPostingsState(spark, ps,
      docs.filter(col("doc_id") === 7).select(col("doc_id")), "doc_id",
      deleteTag = Some(1L))
    val div = state("audit", ls, ps, ts)._1
    assert(div.contains("DIVERGENT") && div.contains("7 true false true"))
    // …and the as-of audit of the pre-delete version stays consistent
    assert(state("audit", ls, ps, ts, "--asof-batch", "2",
      "--asof-delete", "0")._1.contains("CONSISTENT"))
    // health names the version growth; truncate collapses it
    val grown = state("health", "postings", ps, "--max-versions", "1")._1
    assert(grown.contains("advice=truncate"))
    assert(state("truncate", "postings", ps, "--floor", "2")._1
      .contains("collapsed history <= 2"))
    val collapsed = state("health", "postings", ps, "--max-versions", "1")._1
    assert(collapsed.contains("batch_versions=1") &&
      !collapsed.contains("advice=truncate"))
    // clone branches at a version
    assert(state("clone", "tokenizer", ts, s"$ts.branch",
      "--asof-batch", "1")._1.contains("branched"))
    assert(graft.ext.Bpe.readDocTokens(spark, s"$ts.branch").count() ==
      b1.count())
    // fastforward catches the branch up to the source's head
    assert(state("fastforward", "tokenizer", ts, s"$ts.branch")._1
      .contains("caught"))
    assert(graft.ext.Bpe.readDocTokens(spark, s"$ts.branch").count() ==
      b1.count() + b2.count())
    // retain derives the floor from the policy; a second call is a no-op
    assert(state("retain", "lsh", ls, "--keep-last", "1")._1
      .contains("collapsed history <= 1"))
    assert(state("retain", "lsh", ls, "--keep-last", "1")._1
      .contains("already satisfied"))
    // export materializes the training-set plan as shard= parquet and
    // reads back marker-gated; the default quality is the sidecar's own
    // token counts (longest first)
    assert(state("export", "tokenizer", ts, s"$root/export",
      "--budget", "1000000", "--shards", "2")._1.contains("exported"))
    assert(graft.ext.Bpe.readExportedShards(spark, s"$root/export")
      .count() > 0)
    // export on a non-tokenizer pillar is a usage error
    intercept[IllegalArgumentException](
      state("export", "postings", ps, s"$root/export2", "--budget", "10"))
    // bad input is a usage error, not a silent no-op — and a NON-NUMERIC
    // numeric flag gets the same usage() error, not a NumberFormatException
    intercept[IllegalArgumentException](state("truncate", "postings", ps))
    intercept[IllegalArgumentException](state("health", "nosuch", ps))
    intercept[IllegalArgumentException](state("frobnicate"))
    intercept[IllegalArgumentException](
      state("retain", "lsh", ls, "--keep-last", "two"))
    intercept[IllegalArgumentException](
      state("truncate", "postings", ps, "--floor", "2.5"))
    // a delete cut alone names no version: usage error, not a silent
    // current-state audit
    intercept[IllegalArgumentException](
      state("audit", ls, ps, ts, "--asof-delete", "1"))
  }

  test("state subcommand: every verb on every registered pillar") {
    import org.apache.spark.sql.functions._
    import graft.ext.{Bpe, Dedup, Index, Profile, Similarity, StatePillar}
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val root = Files.createTempDirectory("graft_menu_pillars").toString
    def batch(tag: Long) = docs.filter(col("doc_id") >= (tag - 1) * 20 &&
      col("doc_id") < tag * 20)
    val gone = docs.filter(col("doc_id") === 3)
    val goneIds = gone.select(col("doc_id"))
    // two tagged appends and one tagged delete per pillar — enough for
    // every table the pillar can persist to exist on disk
    val build: Map[String, String => Unit] = Map(
      "lsh" -> { dir =>
        Seq(1L, 2L).foreach(t => Dedup.appendLshState(batch(t), "doc_id",
          "text", dir, batchTag = Some(t)))
        Dedup.deleteFromLshState(spark, dir, goneIds, "doc_id", Some(1L))
      },
      "postings" -> { dir =>
        Seq(1L, 2L).foreach(t => Index.appendPostingsState(batch(t), dir,
          "doc_id", "text", batchTag = Some(t), positions = true))
        Index.deleteFromPostingsState(spark, dir, goneIds, "doc_id", Some(1L))
      },
      "tokenizer" -> { dir =>
        Seq(1L, 2L).foreach(t => Bpe.appendTokenizerState(batch(t), dir,
          "doc_id", "text", numMerges = 3, batchTag = Some(t)))
        Bpe.deleteFromTokenizerState(spark, dir, goneIds, "doc_id", Some(1L))
      },
      "stats" -> { dir =>
        Seq(1L, 2L).foreach(t => Profile.appendStatsState(batch(t), dir,
          "text", "source", Some(t)))
        Profile.deleteFromStatsState(gone, dir, "text", "source", Some(1L))
      },
      "ivf" -> { dir =>
        Seq(1L, 2L).foreach(t => Similarity.appendIvfState(
          emb.filter(col("vec_id") >= (t - 1) * 20 && col("vec_id") < t * 20),
          dir, k = 4, iters = 2, batchTag = Some(t)))
        Similarity.deleteFromIvfState(spark, dir,
          emb.filter(col("vec_id") === 3), "vec_id", Some(1L))
      },
      "fp" -> { dir =>
        Seq(1L, 2L).foreach(t => Dedup.appendFpState(
          batch(t).select(col("doc_id"), hash(col("text")).cast("long")
            .as("sig")), dir, "doc_id", "sig", batchTag = Some(t)))
        Dedup.deleteFromFpState(spark, dir, goneIds, "doc_id", Some(1L))
      })
    assert(build.keySet == StatePillar.names.toSet)
    StatePillar.all.foreach { p =>
      val dir = s"$root/${p.name}"
      build(p.name)(dir)
      // the descriptor's table list is exactly what the pillar persists:
      // a table missing from it would be left out of every clone
      val onDisk = new java.io.File(dir).list().toSeq
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
      assert(onDisk.sorted == p.healthTables.sorted, s"pillar ${p.name}")
      def run(args: String*): String = state(args: _*)._1
      assert(run("recover", p.name, dir).contains("nothing to recover"),
        p.name)
      val health = run("health", p.name, dir)
      p.healthTables.foreach(t =>
        assert(health.contains(s"table=$t "), s"${p.name}: $health"))
      assert(run("clone", p.name, dir, s"$dir.b", "--asof-batch", "1")
        .contains("branched"), p.name)
      assert(run("fastforward", p.name, dir, s"$dir.b")
        .contains("(append=2, delete=1)"), p.name)
      assert(run("retain", p.name, dir, "--keep-last", "1")
        .contains("collapsed history <= 1"), p.name)
      assert(run("truncate", p.name, dir, "--floor", "2")
        .contains("collapsed history <= 2"), p.name)
      assert(run("retain", p.name, dir, "--keep-last", "1")
        .contains("already satisfied"), p.name)
    }
  }

  test("state subcommand: the fingerprint pillar drives through the same verbs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft_menu_fp").toString
    val fp = s"$root/fp"
    def sigs(ids: Range) = ids.map(i => (i.toLong, (i % 7).toLong * 1234567L))
      .toDF("doc_id", "sig")
    graft.ext.Dedup.appendFpState(sigs(0 until 30), fp, "doc_id", "sig",
      batchTag = Some(1L))
    graft.ext.Dedup.appendFpState(sigs(30 until 60), fp, "doc_id", "sig",
      batchTag = Some(2L))
    assert(state("recover", "fp", fp)._1.contains("nothing to recover"))
    assert(state("health", "fp", fp)._1.contains("table=sigs"))
    assert(state("clone", "fp", fp, s"$fp.branch", "--asof-batch", "1")._1
      .contains("branched"))
    assert(spark.read.parquet(s"$fp.branch/sigs").count() == 30)
    assert(state("fastforward", "fp", fp, s"$fp.branch")._1
      .contains("caught"))
    assert(spark.read.parquet(s"$fp.branch/sigs").count() == 60)
    assert(state("truncate", "fp", fp, "--floor", "2")._1
      .contains("collapsed history <= 2"))
    assert(state("retain", "fp", fp, "--keep-last", "1")._1
      .contains("already satisfied"))
  }
}
