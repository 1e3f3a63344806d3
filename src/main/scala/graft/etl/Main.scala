package graft.etl

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** CLI entry point mirroring the reference's main.py surface:
  *
  * {{{
  * runMain graft.etl.Main process [--in inputs] [--out outputs]
  * runMain graft.etl.Main db      [--in inputs] [--out outputs]   # + append store
  * runMain graft.etl.Main watch   [--in inputs] [--out outputs]   # streaming
  * runMain graft.etl.Main serve   [--port 5000]                   # HTTP API
  * runMain graft.etl.Main sql "SELECT ..." [--data /root/testdata/sf0.001]
  * runMain graft.etl.Main state recover|truncate|retain|clone|fastforward|health|vacuum|audit|export ...
  * }}}
  *
  * `sql` registers the graft SQL surface — the testdata tables as views plus
  * the native functions `rolling_hash`, `dot_product` and the table function
  * `extract_blocks` (LATERAL VIEW) — and prints the query result.
  *
  * Files are processed with per-file isolation (SURVEY D-3: app.py semantics,
  * not main.py's accidental cross-file accumulation); per-file outputs
  * overwrite, so after a directory batch the outputs reflect the last file —
  * the reference's observable last-writer-wins contract (SURVEY §2.1 S5).
  */
object Main {

  def main(args: Array[String]): Unit = {
    // no subcommand → interactive numbered menu, like the reference
    // (main.py:185-215 falls into the menu loop when argv is empty)
    val cmd = args.headOption.getOrElse("menu")
    // flags may be interleaved with positionals (e.g. sql "<stmt>" --data d):
    // scan for --key value pairs, keep everything else as positionals
    val rest = args.drop(1)
    val optPairs = scala.collection.mutable.Map.empty[String, String]
    val positional = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < rest.length) {
      if (rest(i).startsWith("--") && i + 1 < rest.length) {
        optPairs(rest(i).drop(2)) = rest(i + 1); i += 2
      } else { positional += rest(i); i += 1 }
    }
    val opts = optPairs.toMap
    val inDir = opts.getOrElse("in", "inputs")
    val outDir = opts.getOrElse("out", "outputs")

    val spark = graft.Tables.configure(SparkSession.builder())
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .appName("graft-etl")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    cmd match {
      case "process" => runBatch(spark, inDir, outDir, useStore = false,
        chunked = opts.get("chunked").exists(_.toBoolean))
      case "db" => runBatch(spark, inDir, outDir, useStore = true,
        chunked = opts.get("chunked").exists(_.toBoolean))
      case "watch" =>
        val q = graft.streaming.Watch.start(
          spark, inDir, outDir, s"$outDir/_checkpoint",
          useStore = opts.get("store").exists(_.toBoolean))
        println(s"[watch] watching $inDir (checkpoint at $outDir/_checkpoint); Ctrl+C to stop")
        q.awaitTermination()
      case "serve" =>
        val port = opts.getOrElse("port", "5000").toInt
        graft.server.Api.start(spark, port)
        println(s"[serve] listening on :$port (POST /process, GET /health)")
        Thread.currentThread().join()
      case "sql" =>
        val stmt = positional.headOption.getOrElse {
          System.err.println("usage: sql \"SELECT ...\" [--data <sfDir>]")
          sys.exit(2)
        }
        val dataDir = opts.getOrElse("data", "/root/testdata/sf0.001")
        graft.functions.RollingHash.register(spark)
        graft.functions.DotProduct.register(spark)
        graft.functions.ExtractBlocks.register(spark)
        graft.functions.MinHashSig.register(spark)
        graft.functions.ShingleJaccard.register(spark)
        graft.functions.SimHashSig.register(spark)
        graft.Tables.names.foreach { n =>
          try graft.Tables(spark, dataDir, n).createOrReplaceTempView(n)
          catch { case _: Exception => () }
        }
        spark.sql(stmt.toString).show(100, truncate = false)
      case "outputs" => viewOutputs(outDir, System.out)
      case "state" => stateCmd(spark, positional.toSeq, opts, System.out)
      case "menu" =>
        menuLoop(spark, inDir, outDir,
          new java.io.BufferedReader(new java.io.InputStreamReader(System.in)),
          System.out)
      case other =>
        System.err.println(s"unknown command: $other (use process|db|watch|serve|sql|outputs|state or no arg for the menu)")
        sys.exit(2)
    }
    if (cmd == "process" || cmd == "db" || cmd == "sql" || cmd == "menu" ||
      cmd == "state") spark.stop()
  }

  /** `state <action> ...` — the OPERATOR surface for the persisted-state
    * lifecycle, so recovering a crashed swap or GC-ing a year of tagged
    * history doesn't require a Scala build mid-incident:
    *
    * {{{
    * state recover  <pillar> <dir>                # roll a crashed swap forward
    * state truncate <pillar> <dir> --floor N      # collapse history <= N
    * state retain   <pillar> <dir> --keep-last N   # policy-driven truncate
    * state clone    <pillar> <src> <dst> --asof-batch B [--asof-delete D]
    * state fastforward <pillar> <src> <dst>        # catch a branch up
    * state health   <pillar> <dir> [--max-versions N] [--max-files-per-leaf N]
    * state vacuum   <dir>                         # manifest-mode version GC
    * state export   tokenizer <dir> <out> --budget N [--bin-budget N]
    *                [--shards N] [--quality <parquet> --id-col c --quality-col c]
    * state audit    <lsh> <postings> <tokenizer> [--asof-batch B [--asof-delete D]]
    * }}}
    *
    * `pillar` names a [[graft.ext.StatePillar]] (lsh | postings |
    * tokenizer | stats | ivf | fp). The five lifecycle verbs are one call
    * each onto that descriptor — the same entry points the Scala API
    * exposes, with identical refusal messages and lease/marker
    * discipline — and `health` reports the descriptor's `healthTables`.
    * Results print as tables; `audit` with zero rows prints the
    * consistent verdict explicitly, and `--asof-delete` without
    * `--asof-batch` is a usage error. */
  def stateCmd(
      spark: SparkSession, positional: Seq[String], opts: Map[String, String],
      out: java.io.PrintStream): Unit = {
    import graft.ext.StatePillar
    def usage(): Nothing = {
      out.println("usage: state recover|truncate|retain|clone|fastforward|health|" +
        "vacuum|audit|export ... (see scaladoc; pillar = " +
        s"${StatePillar.names.mkString("|")})")
      throw new IllegalArgumentException("state: bad arguments")
    }
    def pillar(p: String): StatePillar = StatePillar.get(p).getOrElse {
      out.println(s"unknown pillar '$p' " +
        s"(expected ${StatePillar.names.mkString("|")})"); usage() }
    // a non-numeric --floor/--keep-last/... gets the usage() error every
    // other malformed argument gets, not a bare NumberFormatException
    def longOpt(name: String, default: => String): Long =
      try opts.getOrElse(name, default).toLong
      catch { case _: NumberFormatException =>
        out.println(s"--$name must be a number"); usage() }
    def intOpt(name: String, default: => String): Int =
      try opts.getOrElse(name, default).toInt
      catch { case _: NumberFormatException =>
        out.println(s"--$name must be a number"); usage() }
    positional match {
      case Seq("recover", p, dir) =>
        out.println(if (pillar(p).recover(spark, dir))
          s"[state] rolled a crashed swap forward in $dir"
          else s"[state] $dir is healthy — nothing to recover")
      case Seq("truncate", p, dir) =>
        val floor = longOpt("floor", usage())
        pillar(p).truncate(spark, dir, floor)
        out.println(s"[state] collapsed history <= $floor in $dir")
      case Seq("clone", p, src, dst) =>
        val b = longOpt("asof-batch", usage())
        val d = longOpt("asof-delete", "0")
        pillar(p).clone(spark, src, dst, b, d)
        out.println(s"[state] branched $src at (append=$b, delete=$d) into $dst")
      case Seq("health", p, dir) =>
        val report = graft.ext.StateAudit.healthReport(spark, dir,
          pillar(p).healthTables,
          maxVersions = intOpt("max-versions", "64"),
          maxFilesPerLeafDir = intOpt("max-files-per-leaf", "4"))
        report.collect().foreach { r =>
          out.println(s"[state] table=${r.getString(0)} files=${r.getLong(1)} " +
            s"bytes=${r.getLong(2)} leaf_dirs=${r.getLong(3)} " +
            s"batch_versions=${r.getLong(4)} delete_versions=${r.getLong(5)} " +
            s"advice=${r.getString(6)}")
        }
      case Seq("retain", p, dir) =>
        val keep = intOpt("keep-last", usage())
        out.println(pillar(p).retain(spark, dir, keep) match {
          case Some(f) => s"[state] retained last $keep: collapsed " +
            s"history <= $f in $dir"
          case None => s"[state] retention already satisfied in $dir — " +
            "nothing to collapse"
        })
      case Seq("fastforward", p, src, dst) =>
        val (b, d) = pillar(p).fastForward(spark, src, dst)
        out.println(s"[state] caught $dst up to $src's head " +
          s"(append=$b, delete=$d)")
      case Seq("vacuum", dir) =>
        // --grace-ms: the retention window for in-flight readers that
        // resolved a table path before a swap (see vacuumStateVersions)
        val gone = graft.ext.StateIO.vacuumStateVersions(spark, dir,
          longOpt("grace-ms", "0"))
        out.println(if (gone.isEmpty) s"[state] nothing to vacuum in $dir"
          else s"[state] vacuumed ${gone.mkString(", ")} from $dir")
      case Seq("export", p, dir, dst) =>
        // tokenizer-pillar only: the export rides the (id, bpe_tokens)
        // sidecar — other pillars have no token-budget semantics
        if (pillar(p) != StatePillar.Tokenizer) {
          out.println(s"export only applies to the tokenizer pillar, " +
            s"got '$p'"); usage()
        }
        val budget = longOpt("budget", usage())
        val binBudget = longOpt("bin-budget", "2000")
        val shards = intOpt("shards", "16")
        // --quality <parquet> supplies (id-col, quality-col); without it
        // the sidecar's own token counts rank the docs (longest first —
        // a deterministic, always-available default)
        val (qualityDf, idCol, qCol) = opts.get("quality") match {
          case Some(qp) =>
            (spark.read.parquet(qp), opts.getOrElse("id-col", "id"),
              opts.getOrElse("quality-col", "q"))
          case None =>
            import org.apache.spark.sql.functions.col
            (graft.ext.Bpe.readDocTokens(spark, dir)
              .select(col("id"), col("bpe_tokens").cast("double").as("q")),
              "id", "q")
        }
        val n = graft.ext.Bpe.writeShardsFromState(spark, dir, qualityDf,
          idCol, qCol, budget, binBudget, shards, dst)
        out.println(s"[state] exported $n rows into $shards hash shards " +
          s"at $dst (budget=$budget, bin=$binBudget)")
      case Seq("audit", ls, ps, ts) =>
        val divergent = (opts.get("asof-batch"), opts.get("asof-delete")) match {
          case (Some(_), _) =>
            val (b, d) = (longOpt("asof-batch", usage()),
              longOpt("asof-delete", "0"))
            graft.ext.StateAudit.crossPillarConsistency(Seq(
              "lsh" -> graft.ext.StateAudit.lshLiveIdsAsOf(spark, ls, b, d),
              "postings" -> graft.ext.StateAudit.postingsLiveIdsAsOf(spark,
                ps, b, d),
              "tokenizer" -> graft.ext.StateAudit.tokenizerLiveIdsAsOf(spark,
                ts, b, d)))
          case (None, Some(_)) =>
            // a delete cut alone names no version: refuse rather than
            // silently auditing the current state
            out.println("--asof-delete needs --asof-batch"); usage()
          case (None, None) =>
            graft.ext.StateAudit.crossPillarConsistency(Seq(
              "lsh" -> graft.ext.StateAudit.lshLiveIds(spark, ls),
              "postings" -> graft.ext.StateAudit.postingsLiveIds(spark, ps),
              "tokenizer" -> graft.ext.StateAudit.tokenizerLiveIds(spark, ts)))
        }
        val rows = divergent.collect()
        if (rows.isEmpty) out.println("[state] CONSISTENT — the pillars " +
          "agree document-for-document")
        else {
          out.println(s"[state] DIVERGENT — ${rows.length} document(s) " +
            "disagree (id, in_lsh, in_postings, in_tokenizer):")
          rows.foreach(r => out.println(s"[state]   ${r.getLong(0)} " +
            s"${r.getBoolean(1)} ${r.getBoolean(2)} ${r.getBoolean(3)}"))
        }
      case _ => usage()
    }
  }

  /** Interactive numbered menu (reference main.py:112-123, 185-215): the
    * same actions as the subcommands, driven by a REPL. `in`/`out` are
    * injectable so the loop is testable without a TTY; EOF exits. */
  def menuLoop(
      spark: SparkSession, inDir: String, outDir: String,
      in: java.io.BufferedReader, out: java.io.PrintStream): Unit = {
    var done = false
    while (!done) {
      out.println("\n" + "=" * 60)
      out.println("SIMPLE ETL PIPELINE")
      out.println("=" * 60)
      out.println("\nOptions:")
      out.println(s"1. Process existing files in $inDir/ folder")
      out.println(s"2. Watch $inDir/ folder for new files (auto-process)")
      out.println("3. Process a specific file")
      out.println("4. View outputs")
      out.println("5. Exit")
      out.println("-" * 60)
      out.print("\nEnter your choice (1-5): ")
      Option(in.readLine()).map(_.trim).getOrElse("5") match {
        case "1" => runBatch(spark, inDir, outDir, useStore = false)
        case "2" =>
          val q = graft.streaming.Watch.start(
            spark, inDir, outDir, s"$outDir/_checkpoint", useStore = false)
          out.println(s"[watch] watching $inDir; Ctrl+C to stop")
          q.awaitTermination()
        case "3" =>
          out.print("\nEnter filename to process: ")
          val f = Option(in.readLine()).map(_.trim).getOrElse("")
          if (f.isEmpty) out.println("No filename provided")
          else runBatch(spark, f, outDir, useStore = false)
        case "4" => viewOutputs(outDir, out)
        case "5" => out.println("\nGoodbye!"); done = true
        case _ => out.println("Invalid choice. Please try again.")
      }
    }
  }

  /** "View outputs" (reference main.py:126-155): list output files with
    * sizes and echo the latest processing metadata. */
  def viewOutputs(outDir: String, out: java.io.PrintStream): Unit = {
    val dir = Paths.get(outDir)
    if (!Files.exists(dir)) { out.println(s"no $outDir/ folder found"); return }
    import scala.jdk.CollectionConverters._
    val fs = Files.list(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    if (fs.isEmpty) { out.println("no output files found; process a file first"); return }
    out.println("Output files:")
    fs.sortBy(_.toString).foreach { f =>
      out.println(f"   ${f.getFileName} (${Files.size(f) / 1048576.0}%.2f MB)")
    }
    val meta = dir.resolve("processing_metadata.json")
    if (Files.exists(meta)) {
      val m = Json.mapper.readTree(Files.readString(meta))
      out.println(s"Latest processing info:")
      out.println(s"   - File: ${m.get("filename").asText()}")
      out.println(s"   - Items by type: ${m.get("items_by_type")}")
      out.println(s"   - Total items: ${m.get("total_items").asLong()}")
    }
  }

  /** S2 — directory batch: one pipeline run per file, sequential like the
    * reference's loop (main.py:99-102) but each run is internally
    * distributed. */
  private def runBatch(
      spark: SparkSession, inDir: String, outDir: String, useStore: Boolean,
      chunked: Boolean = false): Unit = {
    import scala.jdk.CollectionConverters._
    val in = Paths.get(inDir)
    // --in may name a single file (menu option 3) or a directory (option 1)
    val files =
      if (Files.isRegularFile(in)) Seq(in)
      else Files.list(in).iterator().asScala
        .filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
    if (files.isEmpty) { println(s"[process] no files in $inDir"); return }
    files.foreach { f =>
      val start = java.time.Instant.now().toString
      val result =
        if (chunked) Pipeline.processChunkedFile(spark, f.toString)
        else Pipeline.processFile(spark, f.toString) // auto-chunks oversized files
      if (result.totalItems == 0) {
        println(s"[process] ${f.getFileName}: no records")
      } else {
        Sinks.writeRun(result, outDir, f.getFileName.toString, start, useStore)
        println(s"[process] ${f.getFileName}: ${result.totalItems} records " +
          s"(${result.itemsByType.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(", ")})")
      }
      result.cleanup()
    }
  }
}
