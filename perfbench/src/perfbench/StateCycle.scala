package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ext.{Bpe, Dedup, Index, Profile, Similarity, StateAudit}

/** `state_cycle`: the persisted-state lifecycle on a fresh state directory
  * per iteration. Three tagged batches go through
  * `StateAudit.ingestEverywhere` (lsh, postings, tokenizer, stats, ivf),
  * tagged `deleteEverywhere` calls follow later batches, a BM25 read follows
  * every batch and an as-of read some, then the lsh, postings and ivf states
  * are compacted between two rounds of BM25, IVF and LSH-pair reads.
  * Operations are state calls. The traced run times the same calls, and
  * also repeats each ingest and delete one pillar at a time on a second
  * state directory, outside the timed calls.
  */
object StateCycle {

  private val pillars = Seq("lsh", "postings", "tokenizer", "stats", "ivf")
  // batches 2 and 3, which follow a delete, read the state as of the
  // batch before and compare with the read made then
  private val asOfAfter = Set(2, 3)

  /** A read's answer as sorted rows (the LSH pair read has no row order),
    * with doubles rounded so that a different summation order cannot make
    * equal answers differ. */
  private def answer(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double => f"$d%.9e"
    case f: Float => f"$f%.5e"
    case v => String.valueOf(v)
  }.mkString("|")).sorted

  private def diff(was: Seq[String], now: Seq[String]): String =
    s"only before ${was.diff(now).take(5).mkString("[", ", ", "]")}, only after ${now.diff(was).take(5).mkString("[", ", ", "]")}"

  private final class Dirs(root: Path) {
    val map: Map[String, String] = pillars.map(p => p -> root.resolve(p).toString).toMap
    def apply(p: String): String = map(p)
  }

  def run(r: PerfMain.Run): Unit = {
    val in = Gen.state(r.seed)
    var spark: SparkSession = null
    r.setups(3) { i =>
      if (spark != null) spark.stop()
      spark = r.session()
      // warm-up: one small ingest on a throwaway state
      val s = spark
      import s.implicits._
      val d = new Dirs(r.dir(s"state-setup$i"))
      StateAudit.ingestEverywhere(s, in.batches.head.take(60).toDF(), "doc_id", "text", "source",
        d("lsh"), d("postings"), d("tokenizer"), 1L, Some(d("stats")),
        Some((d("ivf"), in.vectors.head.take(24).toDF(), 8, 2)))
    }
    val s = spark
    import s.implicits._
    val probe = in.probe.toDF()
    val queries = in.queryVecs.toDF()

    val ingest, delete, read, compact = mutable.ArrayBuffer.empty[Double]
    val layers = new Layers(r)
    /** Times one state call; a call that throws is a failed operation. */
    def timed[T](op: String, label: String, into: mutable.ArrayBuffer[Double])(f: => T): Option[T] = {
      val t0 = System.nanoTime()
      try {
        val v = Trace.span(op)(f)
        into += (System.nanoTime() - t0) / 1e9
        r.record(label, Nil)
        Some(v)
      } catch {
        case e: Exception => r.record(label, Seq(e.toString)); None
      }
    }

    val t0 = System.nanoTime()
    var iter = 0
    var lastIter = 0.0
    var disk = 0L
    while (iter == 0 || r.elapsed(t0) + lastIter <= r.seconds) {
      val i0 = System.nanoTime()
      val d = new Dirs(r.dir(s"state-$iter"))
      def reader(name: String, asOf: Option[(Long, Long)] = None): () => DataFrame = name match {
        case "bm25" => () => asOf match {
          case Some((b, del)) => Index.bm25TopKFromStateAsOf(s, d("postings"), in.queryTerms, 10, b, del)
          case None => Index.bm25TopKFromState(s, d("postings"), in.queryTerms, 10)
        }
        case "ivf" => () => Similarity.ivfTopKFromState(s, d("ivf"), queries, 5)
        case "lsh" => () => Dedup.incrementalLshPairsFromState(d("lsh"), probe, "doc_id", "text")
      }
      def runRead(name: String, label: String, asOf: Option[(Long, Long)] = None): Option[Seq[String]] = {
        val span = readSpans(name) + (if (asOf.isDefined) "AsOf" else "")
        val stateBytes = PerfMain.du(Path.of(d(pillarOf(name))))._2
        val got = timed(span, s"$iter/$label/$span", read)(answer(reader(name, asOf)()))
        if (r.traced && got.isDefined)
          layers.readStateBytes.getOrElseUpdate(span, mutable.ArrayBuffer.empty) += stateBytes.toDouble
        got
      }
      def check(label: String, ok: Boolean, problem: String): Unit = r.record(s"$iter/$label", if (ok) Nil else Seq(problem))

      // (bm25 answer, deletes applied) as each batch left the state
      val versions = mutable.Map.empty[Int, (Option[Seq[String]], Long)]
      var deletes = 0L
      // the traced run repeats each ingest and delete one pillar at a time
      // on a copy of the state of its own, so the timed calls stay the same
      lazy val byPillar = new Dirs(r.dir(s"state-$iter-pillars"))
      for (b <- 1 to in.batches.size) {
        val docs = in.batches(b - 1).toDF()
        val vecs = in.vectors(b - 1).toDF()
        timed("ext.StateAudit.ingestEverywhere", s"$iter/ingest$b", ingest) {
          StateAudit.ingestEverywhere(s, docs, "doc_id", "text", "source", d("lsh"), d("postings"),
            d("tokenizer"), b.toLong, Some(d("stats")), Some((d("ivf"), vecs, 8, 2)))
        }
        if (r.traced) layers.byPillar(s"$iter/ingest$b-by-pillar")(layers.ingestByPillar(byPillar, docs, vecs, b))
        Gen.deleteAfter.get(b).foreach { tag =>
          val ids = in.deletes(tag).toSet
          val removed = in.batches.take(b).flatten.filter(x => ids(x.doc_id)).toDF()
          val vids = in.vectors.take(b).flatten.filter(v => ids(v.vec_id)).map(_.vec_id).toDF("vec_id")
          val ok = timed("ext.StateAudit.deleteEverywhere", s"$iter/delete$tag", delete) {
            StateAudit.deleteEverywhere(s, removed, "doc_id", "text", "source", d("lsh"),
              d("postings"), d("tokenizer"), tag, Some(d("stats")), Some((d("ivf"), vids, "vec_id")))
          }
          if (ok.isDefined) deletes = tag
          if (r.traced) layers.byPillar(s"$iter/delete$tag-by-pillar")(layers.deleteByPillar(s, byPillar, removed, vids, tag))
        }
        versions(b) = (runRead("bm25", s"batch$b"), deletes)
        if (asOfAfter(b)) {
          val (then, del) = versions(b - 1)
          val past = runRead("bm25", s"batch$b", Some(((b - 1).toLong, del)))
          check(s"batch$b/asof", past == then, s"as-of read of batch ${b - 1} differs from the read made then: " +
            diff(then.getOrElse(Nil), past.getOrElse(Nil)))
        }
      }
      // compaction must not change what the current state answers (it
      // does coarsen as-of reads across compacted deletes, as documented
      // on Index.bm25TopKFromStateAsOf, so those are not compared here)
      val before = Seq("bm25" -> versions(in.batches.size)._1) ++
        Seq("ivf", "lsh").map(n => n -> runRead(n, "final"))
      Seq("lsh" -> (() => Dedup.compactLshState(s, d("lsh"))),
        "postings" -> (() => Index.compactPostingsState(s, d("postings"))),
        "ivf" -> (() => Similarity.compactIvfState(s, d("ivf")))).foreach { case (p, f) =>
        timed(s"ext.$p.compact", s"$iter/compact-$p", compact)(f())
      }
      before.foreach { case (n, was) =>
        val now = runRead(n, "compacted")
        check(s"compacted/$n", now == was, s"$n read after compaction differs from the read before: " +
          diff(was.getOrElse(Nil), now.getOrElse(Nil)))
      }
      val divergent = StateAudit.crossPillarConsistency(Seq(
        "lsh" -> StateAudit.lshLiveIds(s, d("lsh")),
        "postings" -> StateAudit.postingsLiveIds(s, d("postings")),
        "tokenizer" -> StateAudit.tokenizerLiveIds(s, d("tokenizer")))).count()
      check("audit", divergent == 0, s"$divergent documents diverge across pillars")
      disk = pillars.map(p => PerfMain.du(Path.of(d(p)))._2).sum
      if (r.traced) {
        r.layer("ext.state.files", pillars.map(p => PerfMain.du(Path.of(d(p)))._1).sum.toDouble, "count")
        r.layer("ext.state.bytes", disk.toDouble, "B")
      }
      lastIter = r.elapsed(i0)
      System.err.println(f"[perfbench] iteration $iter: ingest ${ingest.map(x => f"$x%.2f").mkString(" ")}; " +
        f"delete ${delete.map(x => f"$x%.2f").mkString(" ")}; read ${read.map(x => f"$x%.2f").mkString(" ")}; " +
        f"compact ${compact.map(x => f"$x%.2f").mkString(" ")}; $lastIter%.2f s")
      iter += 1
    }
    val ops = ingest.size + delete.size + read.size + compact.size
    r.e2e("ops_per_s", ops / (ingest.sum + delete.sum + read.sum + compact.sum), "1/s")
    if (r.traced) {
      r.layer("state.ingest_s", Stats.median(ingest.toSeq), "s")
      r.layer("state.delete_s", Stats.median(delete.toSeq), "s")
      r.layer("state.read_p50_ms", Stats.median(read.toSeq) * 1000, "ms")
      r.layer("state.compact_s", compact.sum / iter, "s")
      r.layer("state.disk_bytes_per_input_byte", disk.toDouble / in.inputBytes, "ratio")
      layers.report(ingest.toSeq)
    }
    r.heapRetained()
    spark.stop()
  }

  private val readSpans = Map("bm25" -> "ext.Index.bm25TopKFromState",
    "ivf" -> "ext.Similarity.ivfTopKFromState", "lsh" -> "ext.Dedup.incrementalLshPairsFromState")

  private def pillarOf(read: String): String = Map("bm25" -> "postings", "ivf" -> "ivf", "lsh" -> "lsh")(read)

  /** What the traced run measures beside the spans: the five appends and
    * deletes of `ingestEverywhere` and `deleteEverywhere` one by one, and
    * the state bytes before each read. */
  private final class Layers(r: PerfMain.Run) {
    val pillarSums = mutable.ArrayBuffer.empty[Double]
    val readStateBytes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    private val appendGrowth = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]

    /** Runs per-pillar calls as one operation; a call that throws fails it. */
    def byPillar(label: String)(f: => Unit): Unit =
      try { f; r.record(label, Nil) } catch { case e: Exception => r.record(label, Seq(e.toString)) }

    /** `ingestEverywhere`'s five appends with the same arguments, a span
      * each. */
    def ingestByPillar(d: Dirs, docs: DataFrame, vecs: DataFrame, b: Int): Unit = {
      val tag = Some(b.toLong)
      val steps: Seq[(String, () => Unit)] = Seq(
        "lsh" -> (() => Dedup.appendLshState(docs, "doc_id", "text", d("lsh"), batchTag = tag)),
        "postings" -> (() => Index.appendPostingsState(docs, d("postings"), "doc_id", "text", batchTag = tag)),
        "tokenizer" -> (() => Bpe.appendTokenizerState(docs, d("tokenizer"), "doc_id", "text", numMerges = 4, batchTag = tag)),
        "stats" -> (() => Profile.appendStatsState(docs, d("stats"), "text", "source", tag)),
        "ivf" -> (() => Similarity.appendIvfState(vecs, d("ivf"), k = 8, iters = 2, batchTag = tag)))
      pillarSums += steps.map { case (p, f) =>
        val before = PerfMain.du(Path.of(d(p)))
        val t = System.nanoTime()
        Trace.span(s"ext.$p.append")(f())
        val ms = (System.nanoTime() - t) / 1e6
        val after = PerfMain.du(Path.of(d(p)))
        appendGrowth.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += ((after._1 - before._1, after._2 - before._2))
        ms
      }.sum
    }

    /** `deleteEverywhere`'s five deletes with the same arguments, a span
      * each. */
    def deleteByPillar(s: SparkSession, d: Dirs, removed: DataFrame, vids: DataFrame, tag: Long): Unit = {
      val ids = removed.select(col("doc_id"))
      val t = Some(tag)
      Trace.span("ext.lsh.delete")(Dedup.deleteFromLshState(s, d("lsh"), ids, "doc_id", deleteTag = t))
      Trace.span("ext.postings.delete")(Index.deleteFromPostingsState(s, d("postings"), ids, "doc_id", deleteTag = t))
      Trace.span("ext.tokenizer.delete")(Bpe.deleteFromTokenizerState(s, d("tokenizer"), ids, "doc_id", deleteTag = t))
      Trace.span("ext.stats.delete")(Profile.deleteFromStatsState(removed, d("stats"), "text", "source", t))
      Trace.span("ext.ivf.delete")(Similarity.deleteFromIvfState(s, d("ivf"), vids, "vec_id", deleteTag = t))
    }

    def report(ingest: Seq[Double]): Unit = {
      pillars.foreach { p =>
        PerfMain.spanMetrics(r, s"ext.$p.append", "jobs")
        appendGrowth.get(p).foreach { g =>
          r.layer(s"ext.$p.append.output_files", Stats.mean(g.map(_._1.toDouble).toSeq), "count")
          r.layer(s"ext.$p.append.output_bytes", Stats.mean(g.map(_._2.toDouble).toSeq), "B")
        }
        PerfMain.spanMetrics(r, s"ext.$p.delete")
      }
      // the five appends one by one (ms) against the overlapped call (s),
      // on the same batches
      if (pillarSums.nonEmpty && ingest.nonEmpty)
        r.layer("ext.ingestEverywhere.overlap_ratio", Stats.median(pillarSums.toSeq) / (Stats.median(ingest) * 1000), "ratio")
      readStateBytes.foreach { case (name, stateBytes) =>
        PerfMain.spanMetrics(r, name, "jobs", "input_bytes")
        r.layer(s"$name.read_share", Trace.countersOf(name).inputBytes / math.max(1.0, stateBytes.sum), "ratio")
      }
      Seq("lsh", "postings", "ivf").foreach { p =>
        val name = s"ext.$p.compact"
        PerfMain.spanMetrics(r, name, "output_bytes")
        r.perLayer.remove(s"$name.output_bytes").foreach { case (v, u) => r.layer(s"$name.bytes_rewritten", v, u) }
      }
    }
  }
}
