package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.RollingHash

/** Extension-operator behavior tests (the declared x-queries are value-
  * checked against DuckDB by the driver; these cover operator semantics the
  * oracle can't — LSH recall, codegen equivalence, decode plumbing). */
class ExtSpec extends SparkSpec {

  import spark.implicits._

  private def docsFrom(rows: Seq[(Long, String)]) =
    rows.toDF("doc_id", "text")

  test("LSH finds planted near-duplicates and skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val nearDup = base.replace("today", "tomorrow") // 1-token change
    val unrelated = "completely different words about spark window functions and shuffles"
    val docs = docsFrom(Seq(
      (1L, base), (2L, nearDup), (3L, unrelated),
      (4L, "another separate document with its own vocabulary entirely here")))
    val pairs = Dedup.lshPairs(docs, "doc_id", "text",
      numPerms = 16, rowsPerBand = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("LSH finds all high-shingle-Jaccard pairs on real-ish data") {
    val docs = docsFrom(
      graft.Tables(spark, "/root/testdata/sf0.001", "documents")
        .filter(col("doc_id") < 60)
        .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq)
    // exact pairwise SHINGLE jaccard (the metric minhash approximates)
    val sh = docs.select(col("doc_id").as("id"),
      Dedup.shingles(col("text"), 3).as("tok"))
    val a = sh.as("a"); val b = sh.as("b")
    val exact = a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        (size(array_intersect(col("a.tok"), col("b.tok"))).cast("double") /
          size(array_union(col("a.tok"), col("b.tok")))).as("j"))
      .filter(col("j") >= 0.9)
      .select("a.id", "b.id").as[(Long, Long)].collect().toSet
    // aggressive banding (2 rows/band) → collision prob 1-(1-s²)^8 ≈ 1 at s≥0.9
    val lsh = Dedup.lshPairs(docs, "doc_id", "text",
      numPerms = 16, rowsPerBand = 2, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(lsh), s"missing: ${exact.diff(lsh)}")
  }

  test("LSH-blocked edit distance finds planted typo-dups without a cartesian") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val typo = base.replace("quick", "qwick") // 1-char edit, shingles mostly shared
    val unrelated = "completely different words about spark window functions and shuffles"
    val docs = docsFrom(Seq((1L, base), (2L, typo), (3L, unrelated)))
    val pairs = Dedup.editDistanceLshPairs(docs, "doc_id", "text",
      maxDist = 3, numPerms = 16, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1L)))
  }

  test("MinHashSig native pass == higher-order reference expression bit-for-bit") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((100000L, "one two"), (100001L, "")).toDF("doc_id", "text"))
    // the expression MinHashSig replaced, element by element
    val sh = Dedup.shingles(col("text"), 3)
    val ref = (0 until 8).map(i =>
      array_min(transform(sh, s => PortableHash.md5Long(s, s"$i:"))).as(s"mh$i"))
    val expect = docs.select((col("doc_id") +: ref): _*)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val got = docs.select((col("doc_id") +: Dedup.minhashColumns(col("text"), 8)): _*)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got == expect) // incl. short-doc rows: both all-NULL signatures
  }

  test("ShingleJaccard native pass == higher-order reference expression bit-for-bit") {
    // pairs incl. identical, disjoint, empty, and sub-shingle-length texts
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().take(12)
    val pairs = (docs.toSeq ++ Seq((900L, ""), (901L, "one two"), (902L, docs.head._2)))
      .combinations(2)
      .collect { case Seq((ia, ta), (ib, tb)) => (ia, ib, ta, tb) }
      .toSeq.toDF("id_a", "id_b", "text_a", "text_b")
    val ta = Dedup.shingles(col("text_a"), 3)
    val tb = Dedup.shingles(col("text_b"), 3)
    // both-no-shingles pairs are 0/0: under ANSI that throws, so the
    // reference formulation needs an explicit NULL guard — the native
    // expression returns NULL there by contract
    val expect = pairs.select(col("id_a"), col("id_b"),
        when(size(array_union(ta, tb)) === 0, lit(null).cast("double"))
          .otherwise(size(array_intersect(ta, tb)).cast("double") /
            size(array_union(ta, tb))).as("j"))
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val jac = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.ShingleJaccard(
        org.apache.spark.sql.GraftColumnBridge.expression(col("text_a")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("text_b")), 3))
    val got = pairs.select(col("id_a"), col("id_b"), jac.as("j"))
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    assert(got == expect) // incl. NULL for the both-no-shingles pair
  }

  test("SimHashSig native pass == higher-order reference expression bit-for-bit") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((100000L, "one"), (100001L, "")).toDF("doc_id", "text"))
    // the expression SimHashSig replaced
    val hv = transform(Dedup.distinctTokens(col("text")), t => PortableHash.md5Long(t))
    val ref = (0 until 32).map { b =>
      val vote = aggregate(hv, lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val expect = docs.select(col("doc_id"), ref.as("simhash"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val got = docs.select(col("doc_id"), Dedup.simhashColumn(col("text")))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got == expect)
  }

  test("perKeyOrdinal equals window row_number on skewed keys") {
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 1000).map(i => (if (i % 10 == 0) "rare" else "common", i.toLong))
      .toDF("k", "v").repartition(7)
    val w = Window.partitionBy("k").orderBy("v")
    val expect = df.withColumn("ordinal", row_number().over(w).cast("long") - 1)
      .orderBy("k", "v").collect().toSeq
    val got = Ordinals.perKeyOrdinal(df, "k", Seq("v"))
      .orderBy("k", "v").collect().toSeq
    assert(got == expect)
  }

  test("components: chains collapse to the min id, disjoint clusters stay apart") {
    // chain 1-2, 2-3 (diameter 2) + pair 10-11 + untouched vertex 20-21 pair
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val got = Dedup.components(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("components: both paths agree — union-find vs forced iterative") {
    val rnd = new scala.util.Random(11)
    val pairs = Seq.tabulate(300)(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("id_a", "id_b")
    val small = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    val iterative = Dedup.components(pairs, smallGraphThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(small == iterative)
  }

  test("lshComponents (star edges) == components over member-level lshPairs") {
    // star membership edges + rep pairs must yield IDENTICAL labels to the
    // k²-clique member expansion — same connectivity, O(k) fewer edges
    val base = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 60)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    // plant exact-dup groups (size 3) and keep the near-dups the corpus has
    val docs = docsFrom(base ++ base.take(10).flatMap { case (id, text) =>
      Seq((id + 1000, text), (id + 2000, text))
    })
    val viaStars = Dedup.lshComponents(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val viaCliques = Dedup.components(
        Dedup.lshPairs(docs, "doc_id", "text").select("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(viaStars == viaCliques)
  }

  test("reliable-checkpoint mode: identical results, durable files written") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = docsFrom(Seq(
      (1L, base), (2L, base.replace("today", "tomorrow")),
      (3L, "completely different words about spark window functions here"),
      (4L, base))) // exact dup of 1 → exercises collapseExact + intra pairs
    def pairs() = Dedup.lshPairs(docs, "doc_id", "text",
        numPerms = 16, rowsPerBand = 2, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    def comps() = Dedup.components(
        Seq((2L, 3L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b"),
        smallGraphThreshold = 0) // forced iterative → per-round materialize
      .as[(Long, Long)].collect().toMap
    val (localPairs, localComps) = (pairs(), comps())
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    spark.conf.set(Dedup.checkpointDirKey, dir.getAbsolutePath)
    try {
      assert(pairs() == localPairs)
      assert(comps() == localComps)
      // durability evidence: reliable checkpoint wrote RDD part files
      def walk(f: java.io.File): Iterator[java.io.File] =
        Iterator(f) ++ Option(f.listFiles()).iterator.flatten.flatMap(walk)
      assert(walk(dir).exists(f => f.isFile && f.getName.startsWith("part-")),
        s"no checkpoint part files under $dir")
    } finally spark.conf.unset(Dedup.checkpointDirKey)
  }

  test("components: non-Long id types work on the driver union-find path") {
    // int-typed ids (under the small-graph threshold → driver path)
    val intPairs = Seq((2, 3), (1, 2), (10, 11)).toDF("id_a", "id_b")
    val gotInt = Dedup.components(intPairs)
      .as[(Int, Int)].collect().toMap
    assert(gotInt == Map(1 -> 1, 2 -> 1, 3 -> 1, 10 -> 10, 11 -> 10))
    assert(Dedup.components(intPairs).schema("id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // string-typed ids: min label is lexicographic, matching least()
    val strPairs = Seq(("b", "c"), ("a", "b"), ("x", "y")).toDF("id_a", "id_b")
    val gotStr = Dedup.components(strPairs)
      .as[(String, String)].collect().toMap
    assert(gotStr == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"))
    // and both paths agree on string ids
    val iter = Dedup.components(strPairs, smallGraphThreshold = 0)
      .as[(String, String)].collect().toMap
    assert(gotStr == iter)
  }

  test("components: self-pair-only vertices survive on both paths") {
    val pairs = Seq((5L, 5L), (1L, 2L)).toDF("id_a", "id_b")
    val small = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    val iter = Dedup.components(pairs, smallGraphThreshold = 0)
      .as[(Long, Long)].collect().toMap
    // vertex 5 only appears in a self-pair; it must still be emitted,
    // labeled with itself — and identically by both paths
    assert(small == Map(1L -> 1L, 2L -> 1L, 5L -> 5L))
    assert(small == iter)
  }

  test("components: long chain converges within the iteration bound") {
    val n = 12 // diameter 12 chain: 0-1, 1-2, ... 11-12
    val pairs = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    // forced through the ITERATIVE path (threshold 0) to pin log-diameter
    // convergence inside the 20-round bound
    val got = Dedup.components(pairs, smallGraphThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(0L))
    assert(got.size == n + 1)
  }

  test("native expressions == reference formulations on random unicode strings") {
    // deterministic pseudo-random corpus: multibyte chars, runs of spaces
    // (empty tokens), short/empty strings — the edges regex-free rewrites get
    // wrong first
    val rnd = new scala.util.Random(42)
    val chars = "abcdefg αβγ 不是了 ß!0189 _-"
    def randString: String = {
      val n = rnd.nextInt(120)
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        sb.append(chars(rnd.nextInt(chars.length)))
        if (rnd.nextInt(6) == 0) sb.append(' ') // extra spaces → empty tokens
      }
      sb.toString
    }
    val texts = Seq("", " ", "  ", "a", "one two three") ++
      (0 until 200).map(_ => randString)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")

    // MinHash: native vs HOF
    val sh = Dedup.shingles(col("text"), 3)
    val mhRef = (0 until 8).map(i =>
      array_min(transform(sh, s => PortableHash.md5Long(s, s"$i:"))).as(s"mh$i"))
    assert(
      df.select((col("id") +: Dedup.minhashColumns(col("text"), 8)): _*)
        .orderBy("id").collect().map(_.toSeq).toSeq ==
      df.select((col("id") +: mhRef): _*)
        .orderBy("id").collect().map(_.toSeq).toSeq)

    // SimHash: native vs HOF
    val hv = transform(Dedup.distinctTokens(col("text")), t => PortableHash.md5Long(t))
    val shRef = (0 until 32).map { b =>
      val vote = aggregate(hv, lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    assert(
      df.select(col("id"), Dedup.simhashColumn(col("text")))
        .orderBy("id").collect().map(_.toSeq).toSeq ==
      df.select(col("id"), shRef.as("simhash"))
        .orderBy("id").collect().map(_.toSeq).toSeq)

    // ShingleJaccard on consecutive pairs: native vs guarded HOF
    val pairs = texts.sliding(2).zipWithIndex
      .collect { case (Seq(a, b), i) => (i.toLong, a, b) }
      .toSeq.toDF("id", "text_a", "text_b")
    val ta = Dedup.shingles(col("text_a"), 3)
    val tb = Dedup.shingles(col("text_b"), 3)
    val jacRef = when(size(array_union(ta, tb)) === 0, lit(null).cast("double"))
      .otherwise(size(array_intersect(ta, tb)).cast("double") / size(array_union(ta, tb)))
    val jacNative = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.ShingleJaccard(
        org.apache.spark.sql.GraftColumnBridge.expression(col("text_a")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("text_b")), 3))
    assert(
      pairs.select(col("id"), jacNative.as("j")).orderBy("id").collect().map(_.toSeq).toSeq ==
      pairs.select(col("id"), jacRef.as("j")).orderBy("id").collect().map(_.toSeq).toSeq)
  }

  test("native dedup functions are SQL-registrable and callable") {
    graft.functions.MinHashSig.register(spark)
    graft.functions.ShingleJaccard.register(spark)
    graft.functions.SimHashSig.register(spark)
    Seq(("a b c d e", "a b c d x")).toDF("s", "t").createOrReplaceTempView("sqlfn_in")
    val r = spark.sql(
      """SELECT size(minhash_sig(s, 4, 3)) AS n, shingle_jaccard(s, t, 3) AS j,
        |       simhash_sig(s, 32) AS h FROM sqlfn_in""".stripMargin).collect()(0)
    assert(r.getInt(0) == 4)
    assert(r.getDouble(1) > 0.0 && r.getDouble(1) < 1.0)
    assert(r.getLong(2) != 0L)
  }

  test("deterministic sampling: monotone subsets, stable membership, rough rates") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("lang"))
    def ids(rate: Double): Set[Long] =
      Sampling.uniform(docs, "doc_id", rate).select("doc_id").as[Long].collect().toSet
    val s10 = ids(0.10); val s20 = ids(0.20); val s20again = ids(0.20)
    assert(s20 == s20again) // pure function of the id — re-runs agree
    assert(s10.subsetOf(s20)) // scaling the rate only grows the sample
    val n = docs.count().toDouble
    assert(math.abs(s20.size / n - 0.20) < 0.10) // rough rate (small corpus)
  }

  test("exact dedup keeps one representative per duplicated content") {
    val docs = docsFrom(Seq(
      (10L, "same text"), (11L, "same text"), (12L, "other text")))
    val kept = Dedup.exact(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(10L, 12L))
  }

  test("RollingHash: interpreted eval == codegen == reference Scala loop") {
    RollingHash.register(spark)
    val texts = Seq("", "a", "hello world", "Zßé mixed",
      "the quick brown fox") // incl. empty + non-ASCII
    def refHash(s: String): Long = {
      var acc = 0L
      s.foreach(c => acc = (acc * 31 + c) % 1000000007L)
      acc
    }
    val df = texts.toDF("t")
    // wholestage codegen path
    val got = df.select(TextAnalysis.fingerprint(col("t"))).as[Long].collect().toSeq
    assert(got == texts.map(refHash))
    // SQL-registered path (and interpreted eval via filter on non-codegen context)
    df.createOrReplaceTempView("rh_in")
    val sqlGot = spark.sql("SELECT rolling_hash(t) FROM rh_in").as[Long].collect().toSeq
    assert(sqlGot == texts.map(refHash))
  }

  test("multimodal decodeBatch routes payloads through the decoder per partition") {
    val df = Seq((1L, "abc".getBytes("UTF-8")), (2L, Array.empty[Byte]))
      .toDF("doc_id", "payload").repartition(2)
    val out = Multimodal.decodeBatch(df, Multimodal.HeaderDecoder)
      .collect().sortBy(_.doc_id)
    assert(out(0).n_bytes == 3 && out(0).first_byte == 'a'.toInt)
    assert(out(1).n_bytes == 0 && out(1).first_byte == 0)
    assert(out.forall(_.format == "bin"))
  }

  test("HeaderDecoder parses real PNG / JPEG / GIF headers, falls back to bin") {
    import Multimodal.HeaderDecoder.parse
    // 1×1 PNG header: signature + IHDR (width 1, height 1) — real wire bytes
    val png = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, // sig
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 2, 0x58, // width 600 big-endian
      0, 0, 1, 0xc2, // height 450 big-endian
      8, 6, 0, 0, 0, 0x7f, 0x1d, 0x2b, 0x83).map(_.toByte)
    assert(parse(png) == ("png", 600, 450))

    // GIF89a with little-endian logical screen 320×200
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array(0x40, 0x01, 0xc8, 0x00, 0x91, 0x00, 0x00).map(_.toByte)
    assert(parse(gif) == ("gif", 320, 200))

    // JPEG: SOI, APP0 (JFIF), then SOF0 with height 8, width 16 — the walk
    // must skip the APP0 segment by its length, not assume SOF first
    val jpeg = Array(0xff, 0xd8,
      0xff, 0xe0, 0x00, 0x10, 'J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0,
      0xff, 0xc0, 0x00, 0x0b, 8, 0x00, 0x08, 0x00, 0x10, 1, 1, 0x11, 0)
      .map(_.toByte)
    assert(parse(jpeg) == ("jpeg", 16, 8))

    // SOF2 (progressive) is a SOF marker too; DHT (C4) is not
    val prog = Array(0xff, 0xd8,
      0xff, 0xc4, 0x00, 0x04, 0, 0, // DHT segment — must be skipped
      0xff, 0xc2, 0x00, 0x0b, 8, 0x01, 0x00, 0x02, 0x00, 1, 1, 0x11, 0)
      .map(_.toByte)
    assert(parse(prog) == ("jpeg", 512, 256))

    // unrecognized payloads and truncated signatures fall back to bin
    assert(parse("plain text".getBytes("UTF-8"))._1 == "bin")
    assert(parse(Array[Byte]())._1 == "bin")
    assert(parse("GIF8".getBytes("US-ASCII"))._1 == "bin")
    assert(parse(Array(0x89, 0x50).map(_.toByte))._1 == "bin")
  }

  test("x23 synthetic payloads round-trip through the header parser") {
    Seq(0L, 1L, 2L, 300L, 601L, 1202L, 4999L).foreach { id =>
      val (fmt, w, h) = Multimodal.HeaderDecoder.parse(
        graft.queries.Extensions.syntheticImage(id))
      val expectFmt = (id % 3) match {
        case 0 => "png"; case 1 => "jpeg"; case _ => "gif"
      }
      assert((fmt, w, h) == (expectFmt, (id % 1000 + 1).toInt, (id * 7 % 800 + 1).toInt))
    }
  }

  test("IVF hits carry the exact brute-force cosine per pair") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 500)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    val ivf = Similarity.ivfTopK(emb, queries, k = 3)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect()
    // every IVF hit must carry the exact brute-force cosine for that pair
    ivf.foreach { case (q, n, c) =>
      assert(math.abs(brute(q)(n) - c) < 1e-12)
    }
  }

  test("IVF recall@3 vs brute force is quantified and above floor") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 100)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivf = Similarity.ivfTopK(emb, queries, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = brute.map { case (q, truth) =>
      truth.intersect(ivf.getOrElse(q, Set.empty)).size.toDouble / truth.size
    }
    val meanRecall = recalls.sum / recalls.size
    info(f"IVF multi-probe recall@3 over ${recalls.size} queries: $meanRecall%.3f")
    // 3 hash tables × 8 seeded ±1 hyperplanes + Hamming-1 multi-probe over
    // 64 near-random dims: measured ~0.34 at ~11% of the corpus scanned
    // (the old single-table axis-sign bucketing measured ~0.13)
    assert(meanRecall > 0.25)
    // every IVF hit carries the exact brute-force cosine for that pair
    // (checked in the cosine-equality test above); with multi-probe, hits
    // legitimately come from the query's bucket OR any Hamming-1 bucket

    // the probeRadius knob trades scan fraction for recall: radius 2 must
    // strictly beat radius 1 on the same corpus (measured ~0.35 vs ~0.12)
    val ivf2 = Similarity.ivfTopK(emb, queries, k = 3, probeRadius = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls2 = brute.map { case (q, truth) =>
      truth.intersect(ivf2.getOrElse(q, Set.empty)).size.toDouble / truth.size
    }
    val meanRecall2 = recalls2.sum / recalls2.size
    info(f"IVF radius-2 recall@3: $meanRecall2%.3f")
    assert(meanRecall2 > meanRecall)
  }

  test("IVF works at non-default dimensionality and rejects mismatched vectors") {
    // 16-dim embeddings: planes are generated for the observed width from
    // the width-folded seed; results must still carry exact cosines
    val rnd = new scala.util.Random(42)
    val vecs = Seq.tabulate(200)(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val emb = vecs.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 5)
    val ivf = Similarity.ivfTopK(emb, queries, k = 3, dim = 16)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    val byId = vecs.toMap
    ivf.foreach { case (q, n, c) =>
      val (a, b) = (byId(q), byId(n))
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, r) => p.toDouble * r.toDouble }.sum
      val expect = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      assert(math.abs(expect - c) < 1e-6)
    }
    // a 64-dim corpus passed with dim=16 must fail loudly, not mis-bucket
    val emb64 = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val e = intercept[Exception] {
      Similarity.ivfTopK(emb64, emb64.filter(col("vec_id") < 2), k = 3,
        dim = 16).count()
    }
    assert(e.getMessage.contains("16-dim") ||
      e.getCause != null && e.getCause.getMessage.contains("16-dim"))
  }

  test("simhashPairs == exhaustive Hamming pairs (pigeonhole exactness)") {
    val docs = docsFrom(
      graft.Tables(spark, "/root/testdata/sf0.001", "documents")
        .filter(col("doc_id") < 80)
        .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
        ++ Seq((900L, "planted duplicate text body"),
          (901L, "planted duplicate text body"))) // exact dup -> hamming 0
    val banded = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    val sigs = docs.select(col("doc_id"), Dedup.simhashColumn(col("text")))
      .as[(Long, Long)].collect()
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h.toLong)).toSet
    assert(banded == brute) // banding loses nothing at Hamming <= 3
    assert(banded.contains((900L, 901L, 0L)))
  }

  test("lshCosinePairs: subset of exact pairs, exact cosines, dup vectors found") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 300).select("vec_id", "embedding")
    // identical vectors always collide in every table (same bucket) — the
    // recall floor the approximation must never lose
    val dup = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val all = emb.unionByName(dup)
    val lsh = Similarity.lshCosinePairs(all, threshold = 0.15)
      .as[(Long, Long, Double)].collect()
    val exact = Similarity.cosinePairs(all, threshold = 0.15)
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(lsh.nonEmpty)
    lsh.foreach { case (a, b, c) =>
      assert(math.abs(exact((a, b)) - c) < 1e-12, s"pair ($a,$b)")
    }
    assert(lsh.exists { case (a, b, _) => a == 0L && b == 100000L })
  }

  test("TF-IDF: planted corpus scores, df across docs, rank ties on term") {
    val docs = Seq(
      (1L, "apple banana apple"),   // tf(apple)=2, tf(banana)=1
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry")
    ).toDF("doc_id", "text")
    val out = Tfidf.topTerms(docs, "doc_id", "text", 3)
      .as[(Long, String, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._5)).toMap
    val n = 3.0
    // doc 1: apple tf=2 df=1 -> 2*ln(3); banana tf=1 df=2 -> ln(1.5)
    val d1 = out(1L)
    assert(d1.map(t => (t._2, t._3)).toSeq == Seq(("apple", 2L), ("banana", 1L)))
    assert(math.abs(d1(0)._4 - 2 * math.log(n / 1)) < 1e-12)
    assert(math.abs(d1(1)._4 - math.log(n / 2)) < 1e-12)
    // doc 2: banana and cherry both tf=1 df=2 -> equal score, rank by term
    assert(out(2L).map(_._2).toSeq == Seq("banana", "cherry"))
    // doc 3: one term, thrice
    assert(out(3L).map(t => (t._2, t._3)).toSeq == Seq(("cherry", 3L)))
  }

  test("splitAssign: pure-function labels matching hashBucket thresholds") {
    val df = spark.range(1000).select(col("id").as("doc_id"))
    val got = Sampling.splitAssign(df, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .as[(Long, String)].collect().toMap
    assert(got.size == 1000)
    val buckets = df.select(col("doc_id"),
        Sampling.hashBucket(col("doc_id"), 10000).as("b"))
      .as[(Long, Long)].collect().toMap
    got.foreach { case (id, label) =>
      val b = buckets(id)
      val expect = if (b < 8000) "train" else if (b < 9000) "val" else "test"
      assert(label == expect, s"id=$id bucket=$b")
    }
    // roughly the declared proportions
    val frac = got.values.groupBy(identity).view.mapValues(_.size / 1000.0)
    assert(math.abs(frac("train") - 0.8) < 0.05)
    // remainder label appears when fractions leave headroom
    val rest = Sampling.splitAssign(df, "doc_id", Seq("train" -> 0.5))
      .filter(col("split") === "rest").count()
    assert(rest > 400 && rest < 600)
  }

  test("splitAssign: fractions summing to 1 leave NO row on the default label") {
    // 3 × 1/3: per-increment rounding gives bounds 3333/6666/9999 and
    // silently sends bucket 9999 to 'rest'; cumulative rounding pins the
    // last bound to exactly `buckets`
    val df = spark.range(20000).select(col("id").as("doc_id"))
    val labels = Sampling.splitAssign(df, "doc_id",
        Seq("a" -> 1.0 / 3, "b" -> 1.0 / 3, "c" -> 1.0 / 3))
      .groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(!labels.contains("rest"), s"default label leaked: $labels")
    assert(labels.keySet == Set("a", "b", "c"))
    assert(labels.values.sum == 20000L)
  }

  test("packBins: exclusive prefix sum, bins overflow by at most one doc") {
    val docs = Seq(
      // one shard-stream worth of sizes (ids hash wherever; budget checks
      // are per (lang, shard) stream so they hold regardless)
      (1L, "en", 900L), (2L, "en", 900L), (3L, "en", 900L),
      (4L, "en", 2500L), // oversized doc gets its own bin boundary behavior
      (5L, "en", 100L), (6L, "de", 1500L), (7L, "de", 1500L)
    ).toDF("doc_id", "lang", "tok")
    val out = Packing.packBins(docs, "doc_id", "tok", Seq("lang"), "doc_id",
        budget = 2000L, numShards = 1)
      .select("doc_id", "lang", "tok", "bin")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    // numShards=1 -> single stream per lang; exclusive cumsum div 2000:
    // en: cum 0,900,1800,2700,5200 -> bins 0,0,0,1,2
    assert(out.filter(_._2 == "en").map(_._4).toSeq == Seq(0L, 0L, 0L, 1L, 2L))
    // de: cum 0,1500 -> bins 0,0
    assert(out.filter(_._2 == "de").map(_._4).toSeq == Seq(0L, 0L))
    // bin ids are dense from 0 within each stream
    val en = out.filter(_._2 == "en").map(_._4).distinct.sorted
    assert(en.toSeq == (0L to en.max).toSeq)
  }

  test("packBins: bin arithmetic is exact past 2^53 (integer div, not double)") {
    // exclusive prefix sum for doc 2 is 2^53 + 1 — representable as a
    // long but NOT as a double (rounds to 2^53); double division by
    // budget=1 would yield bin 9007199254740992 instead of ...93
    val big = (1L << 53) + 1L
    val docs = Seq((1L, "en", big), (2L, "en", 5L)).toDF("doc_id", "lang", "tok")
    val out = Packing.packBins(docs, "doc_id", "tok", Seq("lang"), "doc_id",
        budget = 1L, numShards = 1)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    assert(out(1L) == 0L)
    assert(out(2L) == big, s"expected $big, got ${out(2L)}")
  }

  test("assembleBins: packed text is in order-col order regardless of partitioning") {
    val docs = Seq(
      (3L, "en", "cc", 900L), (1L, "en", "aa", 900L), (2L, "en", "bb", 900L),
      (4L, "en", "dd", 100L))
      .toDF("doc_id", "lang", "text", "tok")
      .repartition(7) // scramble physical order; assembly must not care
    val out = Packing.assembleBins(docs, "doc_id", "text", "tok",
        Seq("lang"), "doc_id", budget = 2000L, numShards = 1)
      .select("bin", "n_docs", "tok_sum", "packed_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    // exclusive cums 0,900,1800,2700 -> bins 0,0,0,1: doc 3 STARTS while
    // the stream is still under budget (1800 < 2000), overflowing bin 0 by
    // its tail — the documented streaming-packing approximation
    assert(out.toSeq == Seq(
      (0L, 3L, 2700L, "aa bb cc"), (1L, 1L, 100L, "dd")))
  }

  test("redact replaces emails, urls and long digit runs with typed tokens") {
    val got = Seq(
      ("mail a.b-c@x-corp.io here", "mail <EMAIL> here"),
      ("see https://a.io/p?q=1 and http://b.co end",
        "see <URL> and <URL> end"),
      ("id 12345678 ok", "id <NUM> ok"),
      ("short 123456 stays", "short 123456 stays"), // under 7 digits
      // adjacent runs split by ONE separator: a pattern with a trailing
      // ([^0-9]|$) group would consume the space and skip the second run
      ("runs 1234567 7654321 end", "runs <NUM> <NUM> end"),
      ("1111111,2222222,3333333", "<NUM>,<NUM>,<NUM>"),
      ("both x@y.zz https://z.io 99999999 .", "both <EMAIL> <URL> <NUM> ."))
      .toDF("raw", "expect")
      .select(TextAnalysis.redact(col("raw")).as("got"), col("expect"))
      .as[(String, String)].collect()
    got.foreach { case (g, e) => assert(g == e) }
  }

  test("repetition: top-bigram share, null-free, short docs excluded") {
    val docs = Seq(
      (1L, "a b a b a b"),     // bigrams: "a b"x3, "b a"x2 -> 3/5
      (2L, "w x y z"),         // all distinct -> 1/3
      (3L, "solo")             // < 2 tokens -> excluded
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetition(docs, "doc_id", "text", n = 2)
      .select("doc_id", "top_gram_count", "n_grams", "rep_fraction")
      .as[(Long, Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == (1L, 3L, 5L, 0.6))
    assert(got(2L) == (2L, 1L, 3L, 0.3333))
  }

  test("contaminatedDocs flags exactly the docs sharing an n-gram with the eval set") {
    val docs = docsFrom(Seq(
      (1L, "alpha beta gamma delta"),      // shares "alpha beta gamma" -> hit
      (2L, "delta epsilon zeta eta"),      // no 3-gram overlap -> clean
      (3L, "x y alpha beta gamma z"),      // eval gram embedded mid-doc -> hit
      (4L, "beta gamma alpha")))           // same words, different order -> clean
    val evalSet = docsFrom(Seq((100L, "alpha beta gamma theta")))
    val got = Dedup.contaminatedDocs(docs, evalSet, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(1L, 3L))
    assert(got(1L) == 1L) // one distinct offending gram
  }

  test("contaminatedDocs: shuffle fallback == broadcast path, n=3 and n=13") {
    val docs = docsFrom(
      graft.Tables(spark, "/root/testdata/sf0.001", "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq)
    val evalSet = docs.filter(col("doc_id") % 7 === 0)
    for (n <- Seq(3, 13)) {
      val bc = Dedup.contaminatedDocs(docs, evalSet, "doc_id", "text", n,
          broadcastEval = Some(true))
        .as[(Long, Long)].collect().toMap
      val sh = Dedup.contaminatedDocs(docs, evalSet, "doc_id", "text", n,
          broadcastEval = Some(false))
        .as[(Long, Long)].collect().toMap
      assert(bc.nonEmpty) // eval docs inside the corpus flag themselves
      assert(sh == bc, s"path divergence at n=$n")
    }
    // auto mode picks a path without changing the result
    val auto = Dedup.contaminatedDocs(docs, evalSet, "doc_id", "text", 13)
      .as[(Long, Long)].collect().toMap
    val forced = Dedup.contaminatedDocs(docs, evalSet, "doc_id", "text", 13,
        broadcastEval = Some(false)).as[(Long, Long)].collect().toMap
    assert(auto == forced)
    // the Bloom pre-filter path is exact for ANY fpp (over-keep only, then
    // exact verify) — including a sketch so small it fires constantly
    for (fpp <- Seq(0.5, 0.01)) {
      val bloom = Dedup.contaminatedDocsBloom(docs, evalSet, "doc_id", "text",
          n = 13, fpp = fpp).as[(Long, Long)].collect().toMap
      assert(bloom == auto, s"bloom path divergence at fpp=$fpp")
    }
  }

  test("language ID picks the language with most stopword hits") {
    val docs = docsFrom(Seq(
      (1L, "the cat and the dog of it is that"),
      (2L, "der hund und die katze ist nicht mit"),
      (3L, "xyzzy plugh qwerty"))) // no hits → und
    val out = docs
      .select((col("doc_id") +: TextAnalysis.langScores(col("text"))): _*)
      .withColumn("predicted", TextAnalysis.predictedLang)
      .select("doc_id", "predicted").as[(Long, String)].collect().toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "und")
  }

  test("incrementalLshPairs: cross pairs only, exact cross dups at 1.0") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = docsFrom(Seq(
      (1L, base),
      (2L, "some corpus document with entirely unrelated vocabulary inside"),
      (3L, "some corpus document with entirely unrelated vocabulary inside"), // corpus-internal exact dup
      (4L, "another separate corpus text with its own words entirely here")))
    val batch = docsFrom(Seq(
      (10L, base.replace("today", "tomorrow")), // near-dup of corpus 1
      (11L, base),                              // exact dup of corpus 1
      (12L, base),                              // batch-internal exact dup of 11
      (13L, "fresh batch only content sharing nothing with anything else")))
    val got = Dedup.incrementalLshPairs(corpus, batch, "doc_id", "text",
        numPerms = 16, rowsPerBand = 2, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .map { case (n, o, j) => (n, o) -> j }.toMap
    // every new near/exact dup of corpus doc 1 is reported against it...
    assert(got.keySet == Set((10L, 1L), (11L, 1L), (12L, 1L)))
    // ...exact cross dups at exactly 1.0, the near-dup strictly below
    assert(got((11L, 1L)) == 1.0 && got((12L, 1L)) == 1.0)
    assert(got((10L, 1L)) >= 0.5 && got((10L, 1L)) < 1.0)
    // corpus-internal pair (2,3) and batch-internal pair (11,12) absent —
    // checked via the keyset equality above; empty batch → empty result
    assert(Dedup.incrementalLshPairs(corpus, batch.limit(0), "doc_id", "text")
      .count() == 0)
  }

  test("BPE: greedy left-to-right merges, hierarchical symbols, encode parity") {
    val docs = docsFrom(Seq(
      (1L, "a a a b a b"),
      (2L, "a b a b c"),
      (3L, "c c a b")))
    val merges = Bpe.trainMerges(docs, "text", numMerges = 3)
      .as[(Long, String, String, Long)].collect().toList
    // (a,b) occurs 5 times — most frequent; merged symbol a+b then pairs
    // hierarchically in later iterations
    assert(merges.head._2 == "a" && merges.head._3 == "b" &&
      merges.head._4 == 5L, s"first merge wrong: $merges")
    // merge 2 is (a·b, a·b) at n=2; after it no pair repeats, so the
    // n>=2 stop rule ends training at 2 of the 3 requested merges
    assert(merges.map(_._1) == List(1L, 2L))
    assert(merges.forall(_._4 >= 2L), s"frequency-1 merge emitted: $merges")
    // later merges operate on merged symbols, not raw tokens
    assert(merges.tail.exists(m =>
      m._2.contains(Bpe.mergeJoin) || m._3.contains(Bpe.mergeJoin)),
      s"no hierarchical merge: $merges")
    // greedy left-to-right: "a a a b" with (a,b) → [a, a, a+b] (no overlap)
    val enc = Bpe.encode(docsFrom(Seq((1L, "a a a b a b"))), "text",
        Seq(("a", "b")))
      .select("symbols").as[Seq[String]].head()
    assert(enc == Seq("a", "a", s"a${Bpe.mergeJoin}b", s"a${Bpe.mergeJoin}b"),
      s"fold wrong: $enc")
    // encode with the trained list reproduces training's final state
    val trained = merges.map(m => (m._2, m._3))
    val total = Bpe.encode(docs, "text", trained)
      .select(size(col("symbols")).cast("long").as("n")).as[Long].collect().sum
    assert(total < 15L, s"merges did not shrink the corpus: $total")
    // exhaustion: a corpus with no REPEATED pair trains zero merges
    assert(Bpe.trainMerges(docsFrom(Seq((1L, "x y"))), "text", 5).count() == 0L)
  }

  test("BPE: local trainer parity with the distributed trainer (incl. UTF-8 tie order)") {
    // a corpus with hierarchy, ties, and the UTF-16-vs-UTF-8 ordering trap:
    // U+1F600 (UTF-16 surrogates sort LOW, UTF-8 bytes sort HIGH) vs
    // U+FFFD — a tie between pairs led by these two must break the same
    // way in both trainers (Spark compares UTF-8 bytes)
    val docs = docsFrom(Seq(
      (1L, "a a a b a b"),
      (2L, "a b a b c"),
      (3L, "c c a b"),
      (4L, "😀 x 😀 x"),
      (5L, "� x � x"),
      (6L, "longer mixed document with repeated repeated tokens tokens"),
      (7L, "longer mixed document with other content entirely")))
    val dist = Bpe.trainMerges(docs, "text", numMerges = 8)
      .as[(Long, String, String, Long)].collect().toList
    val local = Bpe.trainMergesLocal(docs, "text", "doc_id", numMerges = 8,
        maxDocs = 100)
      .as[(Long, String, String, Long)].collect().toList
    assert(local == dist, s"local $local != distributed $dist")
    assert(dist.nonEmpty)
    // the tie pair led by U+FFFD (smaller in UTF-8) trains before the
    // emoji-led pair — pin the order so a UTF-16 comparator would fail
    val fi = dist.indexWhere(_._2 == "�")
    val ei = dist.indexWhere(_._2 == "😀")
    assert(fi >= 0 && ei >= 0 && fi < ei,
      s"UTF-8 tie order not respected: $dist")
  }

  test("BPE: sampled trainer = full trainer on the hash-sample; bounded local sample") {
    val docs = docsFrom((1L to 40L).map(i =>
      (i, s"tok${i % 5} tok${i % 7} tok${i % 5} tok${i % 3} shared shared")))
    // rate 1.0 keeps everything — identical to the full trainer
    val full = Bpe.trainMerges(docs, "text", 4)
      .as[(Long, String, String, Long)].collect().toList
    val all = Bpe.trainMergesSampled(docs, "text", "doc_id", 4, sampleRate = 1.0)
      .as[(Long, String, String, Long)].collect().toList
    assert(all == full)
    // rate 0.3 trains exactly the full semantics applied to the sample
    val sampled = Bpe.trainMergesSampled(docs, "text", "doc_id", 4, sampleRate = 0.3)
      .as[(Long, String, String, Long)].collect().toList
    val manual = Bpe.trainMerges(
        Sampling.uniform(docs, "doc_id", 0.3), "text", 4)
      .as[(Long, String, String, Long)].collect().toList
    assert(sampled == manual && sampled.nonEmpty)
    // maxDocs bounds the local trainer's sample deterministically: the
    // hash-order prefix is a pure function of the ids, so two calls agree
    val a = Bpe.trainMergesLocal(docs, "text", "doc_id", 4, maxDocs = 10)
      .as[(Long, String, String, Long)].collect().toList
    val b = Bpe.trainMergesLocal(docs, "text", "doc_id", 4, maxDocs = 10)
      .as[(Long, String, String, Long)].collect().toList
    assert(a == b && a.nonEmpty)
  }

  test("transitivityAudit: empty pair graph is fully typed zeros") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val row = Dedup.transitivityAudit(empty, "id_a", "id_b")
      .as[(Long, Long, Long, Double)].head()
    assert(row == ((0L, 0L, 0L, 0.0)), s"empty graph row: $row")
  }

  test("kmeansIvfTopK: near-perfect recall on clustered embeddings (x102 headroom)") {
    // the x102 fixture geometry at 200 vectors: 8 well-separated clusters,
    // jitter small vs center — measures the REAL mean recall so the gate's
    // 0.8 floor is known to carry ~0.2 headroom
    val emb = spark.range(0, 200).select(col("id").as("vec_id"))
      .withColumn("embedding", transform(sequence(lit(1), lit(64)), j =>
        when(pmod(col("vec_id"), lit(8)) === pmod(j - 1, lit(8)), lit(4.0))
          .otherwise(lit(0.0))
          + (pmod(PortableHash.md5Long(
                concat(col("vec_id").cast("string"), lit(":"), j.cast("string"))),
              lit(1000L)).cast("double") / 1000.0 - 0.5) * 0.5))
    val probes = emb.filter(col("vec_id") < 20)
    val truth = Similarity.bruteForceTopK(emb, probes, k = 10)
    val ann = Similarity.kmeansIvfTopK(emb, probes, topK = 10,
      k = 8, iters = 2, nProbe = 2)
    val mean = Similarity.recallAtK(
        ann.select("query_id", "neighbor_id"),
        truth.select("query_id", "neighbor_id"))
      .agg(avg(col("recall"))).as[Double].head()
    assert(mean >= 0.95, s"clustered recall@10 mean $mean below 0.95")
  }

  test("groupProfile: collapsed group has ~zero dispersion, spread group does not") {
    val collapsed = (1L to 10L).map(i => (i, Seq(1.0f, 2.0f, 3.0f), "flat"))
    val spread = Seq(
      (11L, Seq(1.0f, 0.0f, 0.0f), "mixed"),
      (12L, Seq(0.0f, 1.0f, 0.0f), "mixed"),
      (13L, Seq(0.0f, 0.0f, 1.0f), "mixed"))
    val vecs = (collapsed ++ spread).toDF("vec_id", "embedding", "label")
    val out = Similarity.groupProfile(vecs, "label")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val flat = out("flat")
    assert(flat._2 == 10L && flat._5 == 0.0, s"collapsed group: $flat")
    assert(flat._3 == 14.0 && math.abs(flat._4 - math.sqrt(14.0)) < 1e-3)
    val mixed = out("mixed")
    // unit basis vectors: E||v||^2 = 1, centroid = (1/3,1/3,1/3),
    // ||c||^2 = 1/3 -> dispersion = 2/3
    assert(mixed._5 == 0.6667, s"spread group: $mixed")
  }

  test("noveltyScore: duplicate adds nothing; first doc is fully novel") {
    val docs = docsFrom(Seq(
      (1L, "a b c d e"),       // all grams first here
      (2L, "a b c d e"),       // exact copy -> novelty 0
      (3L, "a b c x y z"),     // gram 'a b c' seen; the rest new
      (4L, "p q")))            // too short for 3-grams -> absent
    val out = Dedup.noveltyScore(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, 3L, 1.0)))
    assert(out(2L) == ((2L, 3L, 0L, 0.0)))
    assert(out(3L)._2 == 4L && out(3L)._3 == 3L && out(3L)._4 == 0.75)
    assert(!out.contains(4L))
  }

  test("contaminationAttribution: copies counted per doc, rep-level tie order") {
    val corpus = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13", "sA"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13", "sA"), // copy, same source
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13", "sB"), // copy, other source
      (4L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13", "sB")  // clean
    ).toDF("doc_id", "text", "source")
    val ev = Seq((100L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13", "ev"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.contaminationAttribution(corpus, ev, "doc_id", "text",
        "source").as[(Long, Long, Long, String, Long)].head()
    // 1 shared gram; 3 contaminating DOCS (copies count); top source by
    // distinct docs is sA (2) over sB (1)
    assert(out == ((100L, 1L, 3L, "sA", 2L)), s"got $out")
  }

  test("vocabCoverage: coverage of the top-k mass, OOV for the tail") {
    val docs = Seq(
      (1L, "a a a b", "g1"),   // 'a' dominates
      (2L, "a b c d", "g2"))   // half its mass is tail
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.vocabCoverage(docs, "text", "source", vocabSize = 2)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // vocab = {a (4), b (2)}; g1: 4/4 in vocab; g2: 2/4
    assert(out("g1") == (("g1", 4L, 4L, 0.0)))
    assert(out("g2") == (("g2", 4L, 2L, 0.5)))
  }

  test("phraseSearch: adjacency required, overlaps counted, positions exact") {
    val docs = docsFrom(Seq(
      (1L, "key agg row key agg"),   // two occurrences
      (2L, "key row agg"),           // co-occur but not adjacent
      (3L, "agg key"),               // reversed
      (4L, "a key agg b")))          // one, offset 1
    val out = graft.ext.Index.phraseSearch(docs, "doc_id", "text",
        Seq("key", "agg"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 2L, 0L)))
    assert(out(4L) == ((4L, 1L, 1L)))
    assert(!out.contains(2L) && !out.contains(3L))
    // 3-term phrase chains the intersection once more
    val tri = graft.ext.Index.phraseSearch(
        docsFrom(Seq((1L, "x key agg row y"))), "doc_id", "text",
        Seq("key", "agg", "row"))
      .as[(Long, Long, Long)].head()
    assert(tri == ((1L, 1L, 1L)))
  }

  test("transitivityAudit: triangle closes, open wedge does not") {
    // triangle {1,2,3} + pendant 3-4: edges 4, wedges C(2,2)*... degrees:
    // 1:2, 2:2, 3:3, 4:1 -> wedges 1+1+3+0 = 5; triangles 1; t = 3/5
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val r = Dedup.transitivityAudit(pairs, "id_a", "id_b")
      .as[(Long, Long, Long, Double)].head()
    assert(r == ((4L, 5L, 1L, 0.6)), s"got $r")
  }

  test("binEfficiency: per-group bin stats; overflow bins report fill > 1.0") {
    // one shard, budget 10: docs 6,6,12,3 → cum 0,6,12,24 → bins 0,0,1,2
    // bin0 used 12 (overflow: closed only after filling), bin1 12, bin2 3
    val docs = Seq((1L, "g", 6L), (2L, "g", 6L), (3L, "g", 12L), (4L, "g", 3L))
      .toDF("id", "grp", "tok")
    val binned = Packing.packBins(docs, "id", "tok", Seq("grp"), "id",
      budget = 10L, numShards = 1)
    val r = Packing.binEfficiency(binned, Seq("grp"), "tok", budget = 10L)
      .as[(String, Long, Long, Double, Double, Double)].head()
    assert(r == (("g", 3L, 27L, 0.9, 0.3, 1.2)), s"got $r")
  }

  test("effectiveTokens: duplicate copies counted in total, once in effective") {
    val docs = docsFrom(Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "a b c"), // 3 copies, 3 tokens
      (4L, "x y")))                                 // unique, 2 tokens
      .withColumn("source", lit("s1"))
    val r = Dedup.effectiveTokens(docs, "text", "source")
      .as[(String, Long, Long, Long, Long, Double)].head()
    // total = 3*3 + 2 = 11; effective = 3 + 2 = 5; waste = 1 - 5/11
    assert(r == (("s1", 4L, 2L, 11L, 5L, 0.5455)), s"got $r")
  }

  test("exact-twin pair operators refuse unbounded input, naming the scale path") {
    val big = spark.range(20001).select(col("id"), lit("a b c d").as("text"))
    val e1 = intercept[IllegalArgumentException](
      Dedup.jaccardPairs(big, "id", "text", 0.5).count())
    assert(e1.getMessage.contains("lshPairs"))
    val bigVec = spark.range(20001).select(col("id").as("vec_id"),
      array(lit(1.0f), lit(2.0f)).as("embedding"))
    val e2 = intercept[IllegalArgumentException](
      Similarity.cosinePairs(bigVec, 0.5).count())
    assert(e2.getMessage.contains("lshCosinePairs"))
    // bounded subsets still flow; the bound is overridable deliberately
    assert(Dedup.jaccardPairs(big.limit(3), "id", "text", 0.0).count() == 3)
    intercept[IllegalArgumentException](
      Dedup.jaccardPairs(big.limit(5), "id", "text", 0.0, maxRows = 4L))
  }

  test("incrementalLshPairsFromState: output parity with incrementalLshPairs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val dir = java.nio.file.Files.createTempDirectory("graft-lshstate")
      .toFile.getAbsolutePath
    val corpus1 = docsFrom(Seq(
      (1L, base),
      (2L, "some corpus document with entirely unrelated vocabulary inside")))
    // second append contains an exact dup of corpus doc 1 (a KNOWN fp —
    // must join the existing rep group, not mint a new one)
    val corpus2 = docsFrom(Seq(
      (3L, base),
      (4L, "another separate corpus text with its own words entirely here")))
    Dedup.appendLshState(corpus1, "doc_id", "text", s"$dir/state",
      numPerms = 16, rowsPerBand = 2)
    Dedup.appendLshState(corpus2, "doc_id", "text", s"$dir/state",
      numPerms = 16, rowsPerBand = 2)
    val corpus = corpus1.unionByName(corpus2)
    val batch = docsFrom(Seq(
      (10L, base.replace("today", "tomorrow")), // near-dup of 1 and 3
      (11L, base),                              // exact dup (known fp) → intra path
      (13L, "fresh batch only content sharing nothing with anything else")))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    val expect = asSet(Dedup.incrementalLshPairs(corpus, batch,
      "doc_id", "text", numPerms = 16, rowsPerBand = 2, threshold = 0.5))
    val got = asSet(Dedup.incrementalLshPairsFromState(s"$dir/state", batch,
      "doc_id", "text", numPerms = 16, rowsPerBand = 2, threshold = 0.5))
    assert(got == expect, s"state path diverged: only-state=${got.diff(expect)}" +
      s" only-recompute=${expect.diff(got)}")
    assert(expect.contains((11L, 1L, 1.0)) && expect.contains((11L, 3L, 1.0)))

    // tagged mode: a REPLAYED append overwrites its own partition instead
    // of duplicating it — same parity after corpus2 is appended twice
    Dedup.appendLshState(corpus1, "doc_id", "text", s"$dir/tagged",
      numPerms = 16, rowsPerBand = 2, batchTag = Some(1L))
    Dedup.appendLshState(corpus2, "doc_id", "text", s"$dir/tagged",
      numPerms = 16, rowsPerBand = 2, batchTag = Some(2L))
    Dedup.appendLshState(corpus2, "doc_id", "text", s"$dir/tagged",
      numPerms = 16, rowsPerBand = 2, batchTag = Some(2L)) // at-least-once replay
    val gotTagged = asSet(Dedup.incrementalLshPairsFromState(s"$dir/tagged",
      batch, "doc_id", "text", numPerms = 16, rowsPerBand = 2, threshold = 0.5))
    assert(gotTagged == expect)

    // signature parameters travel with the state: mismatched append/read
    // fails fast instead of silently missing pairs
    intercept[IllegalArgumentException] {
      Dedup.appendLshState(corpus2, "doc_id", "text", s"$dir/state",
        numPerms = 16, rowsPerBand = 4)
    }
    intercept[IllegalArgumentException] {
      Dedup.incrementalLshPairsFromState(s"$dir/state", batch,
        "doc_id", "text", numPerms = 8, rowsPerBand = 2, threshold = 0.5)
    }
  }

  test("appendLshState untagged: blind re-run is fully idempotent (no duplicate members or pairs)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lshretry")
      .toFile.getAbsolutePath
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = docsFrom(Seq(
      (1L, base), (2L, base), // exact dups share one rep, two members
      (3L, "some corpus document with entirely unrelated vocabulary inside")))
    Dedup.appendLshState(corpus, "doc_id", "text", dir,
      numPerms = 16, rowsPerBand = 2)
    val members1 = spark.read.parquet(s"$dir/members")
      .as[(Long, Long)].collect().toSeq.sorted
    // an orchestrator blind retry re-runs the SAME batch untagged — every
    // table must come out row-identical where it matters: members exactly
    // (pair expansion reads them), reps exactly (fp anti-join)
    Dedup.appendLshState(corpus, "doc_id", "text", dir,
      numPerms = 16, rowsPerBand = 2)
    val members2 = spark.read.parquet(s"$dir/members")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(members2 == members1, "re-run duplicated member rows")
    assert(spark.read.parquet(s"$dir/reps").count() == 2)
    // pair OUTPUT carries no duplicated rows either
    val batch = docsFrom(Seq((10L, base)))
    val pairs = Dedup.incrementalLshPairsFromState(dir, batch,
        "doc_id", "text", numPerms = 16, rowsPerBand = 2)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.size == pairs.toSet.size, s"duplicate pair rows: $pairs")
    assert(pairs.toSet == Set((10L, 1L, 1.0), (10L, 2L, 1.0)))
  }

  test("compactLshState: pair parity, fewer files, _meta and tagged layout preserved") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lshcompact")
      .toFile.getAbsolutePath
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    def fileCount(sub: String): Int = {
      val d = new java.io.File(s"$dir/$sub")
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(d)
    }
    // many small UNTAGGED appends → many small file-sets
    (0 until 4).foreach { i =>
      Dedup.appendLshState(docsFrom(Seq(
        (i * 10L, base.replace("today", s"day$i")),
        (i * 10L + 1, s"unrelated content number $i with its own distinct words"))),
        "doc_id", "text", s"$dir/u", numPerms = 16, rowsPerBand = 2)
    }
    val batch = docsFrom(Seq((100L, base.replace("today", "day0"))))
    def pairsOf(state: String) = Dedup.incrementalLshPairsFromState(state,
        batch, "doc_id", "text", numPerms = 16, rowsPerBand = 2)
      .as[(Long, Long, Double)].collect().toSet
    val before = pairsOf(s"$dir/u")
    val filesBefore = fileCount("u")
    Dedup.compactLshState(spark, s"$dir/u")
    assert(fileCount("u") < filesBefore,
      s"compaction did not shrink the file count ($filesBefore)")
    assert(pairsOf(s"$dir/u") == before, "compaction changed pair output")
    // _meta survives: mismatched params still fail fast, matched append works
    intercept[IllegalArgumentException] {
      Dedup.appendLshState(docsFrom(Seq((200L, "x y z w"))), "doc_id",
        "text", s"$dir/u", numPerms = 16, rowsPerBand = 4)
    }
    Dedup.appendLshState(docsFrom(Seq(
      (201L, "yet another wholly distinct document with brand new words"))),
      "doc_id", "text", s"$dir/u", numPerms = 16, rowsPerBand = 2)

    // TAGGED state: compaction must preserve the batch_id layout so a
    // replayed batch still overwrites its own partition
    Dedup.appendLshState(docsFrom(Seq((1L, base),
      (2L, "some corpus document with entirely unrelated vocabulary inside"))),
      "doc_id", "text", s"$dir/t", numPerms = 16, rowsPerBand = 2,
      batchTag = Some(1L))
    val b2 = docsFrom(Seq((3L, base.replace("today", "tomorrow"))))
    Dedup.appendLshState(b2, "doc_id", "text", s"$dir/t",
      numPerms = 16, rowsPerBand = 2, batchTag = Some(2L))
    val tBefore = pairsOf(s"$dir/t")
    Dedup.compactLshState(spark, s"$dir/t")
    assert(pairsOf(s"$dir/t") == tBefore, "tagged compaction changed pairs")
    Dedup.appendLshState(b2, "doc_id", "text", s"$dir/t",
      numPerms = 16, rowsPerBand = 2, batchTag = Some(2L)) // replay
    assert(pairsOf(s"$dir/t") == tBefore, "replay after compaction duplicated")
    assert(spark.read.parquet(s"$dir/t/members").count() == 3)
  }

  test("approxTopKPrune: lossless while active, inert below the size guard") {
    // 4000 rows across 2 keys with colliding scores (score = id % 97) so
    // ties at the kept/dropped boundary are exercised
    val df = (0L until 4000L).map(i => (s"k${i % 2}", i, (i % 97).toDouble))
      .toDF("key", "id", "score")
    // p=0.05, accuracy=1000 → minN = 3/(0.05-0.001) ≈ 62 < 2000 → ACTIVE
    val pruned = Ordinals.approxTopKPrune(df, "key", "score", k = 3,
      p = 0.05, accuracy = 1000)
    assert(pruned.count() < 4000, "prune should drop rows on a large group")
    def top3(in: org.apache.spark.sql.DataFrame) =
      Ordinals.perKeyOrdinal(in, "key", Seq("score", "id"))
        .filter(col("ordinal") < 3)
        .select("key", "id", "score", "ordinal")
        .as[(String, Long, Double, Long)].collect().toSet
    assert(top3(pruned) == top3(df), "pruned top-k must equal exact top-k")
    // groups below the guard pass through byte-identically
    val small = (0L until 50L).map(i => ("k", i, i.toDouble)).toDF("key", "id", "score")
    assert(Ordinals.approxTopKPrune(small, "key", "score", k = 3,
      p = 0.05, accuracy = 1000).count() == 50)
  }

  test("invertedIndex: postings sorted, df counts, sharded variant reassembles") {
    val docs = docsFrom(Seq(
      (10L, "spark shuffle join"), (2L, "join spark"), (7L, "shuffle only here")))
    val idx = Index.invertedIndex(docs, "doc_id", "text")
      .as[(String, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(idx("spark") == (2L, "2,10")) // numeric sort, not "10,2" string sort
    assert(idx("join") == (2L, "2,10"))
    assert(idx("shuffle") == (2L, "7,10"))
    assert(idx("only") == (1L, "7"))
    // df bounds prune the vocabulary
    assert(Index.invertedIndex(docs, "doc_id", "text", minDf = 2)
      .select("term").as[String].collect().toSet == Set("spark", "join", "shuffle"))
    // sharded postings: per-term df sums to the true df; union of shard
    // postings = unsharded postings
    val sharded = Index.shardedIndex(docs, "doc_id", "text", shards = 3)
      .as[(String, Int, Long, String)].collect()
    val byTerm = sharded.groupBy(_._1)
    for ((term, rows) <- byTerm) {
      assert(rows.map(_._3).sum == idx(term)._1, s"df mismatch for $term")
      val ids = rows.flatMap(_._4.split(",")).map(_.toLong).sorted
      assert(ids.mkString(",") == idx(term)._2, s"postings mismatch for $term")
    }
  }

  test("searchAll: conjunctive semantics, repeated terms count once") {
    val docs = docsFrom(Seq(
      (1L, "alpha beta gamma"), (2L, "alpha alpha beta"), (3L, "alpha gamma")))
    val hits = Index.searchAll(docs, "doc_id", "text", Seq("alpha", "beta"))
      .select("doc_id").as[Long].collect().toSet
    assert(hits == Set(1L, 2L)) // doc 2's doubled "alpha" is one match
    assert(Index.searchAll(docs, "doc_id", "text", Seq("alpha")).count() == 3)
    assertThrows[IllegalArgumentException](
      Index.searchAll(docs, "doc_id", "text", Nil))
  }

  test("bm25: scores match the hand formula; topK folds, ranks, tie-breaks") {
    val docs = docsFrom(Seq(
      (1L, "spark spark shuffle join extra"), // tf(spark)=2, dl=5
      (2L, "spark join"),                     // dl=2, both terms once
      (3L, "join join join"),                 // dl=3, no 'spark'
      (4L, "nothing matches here at all"),    // unmatched → absent
      (5L, "spark join")))                    // exact dup of 2 → tied score
    val (k1, b) = (1.25, 0.75)
    val n = 5L; val sumDl = 5L + 2L + 3L + 5L + 2L
    val avgdl = sumDl.toDouble / n
    def idf(df: Long) = math.log((n.toDouble - df + 0.5) / (df + 0.5) + 1.0)
    def s(tf: Long, df: Long, dl: Long) =
      idf(df) * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    val perTerm = Index.bm25(docs, "doc_id", "text", Seq("spark", "join"))
      .as[(Long, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(perTerm.size == 7) // docs 1,2,5 × both terms + doc 3 × join
    assert(perTerm((1L, "spark")) == s(2, 3, 5)) // df(spark)=3, df(join)=4
    assert(perTerm((3L, "join")) == s(3, 4, 3))
    assert(perTerm((2L, "spark")) == s(1, 3, 2))
    val top = Index.bm25TopK(docs, "doc_id", "text", Seq("spark", "join"), k = 3)
      .as[(Long, Double, Long)].collect().sortBy(_._3)
    assert(top.map(_._1).toSeq == Seq(2L, 5L, 1L)) // 2 vs 5 tie → id asc
    assert(top(0)._2 == top(1)._2) // exact duplicate docs tie exactly
    assert(top(0)._2 == ((0.0 + s(1, 3, 2)) + s(1, 4, 2))) // pinned fold order
    assertThrows[IllegalArgumentException](
      Index.bm25(docs, "doc_id", "text", Nil))
  }

  test("rrfFuse: both-list docs outrank single-list; absent side adds zero") {
    import spark.implicits._
    val lex = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("doc_id", "rank")
    val vec = Seq((20L, 1L), (40L, 2L)).toDF("doc_id", "rank")
    val out = Index.rrfFuse(lex, vec, "doc_id", k = 10)
      .as[(Long, Double, Long)].collect().sortBy(_._3)
    // doc 20 in both lists wins; singles follow by their own 1/(60+r)
    assert(out.map(_._1).toSeq == Seq(20L, 10L, 40L, 30L))
    assert(out(0)._2 == 1.0 / 62.0 + 1.0 / 61.0)
    assert(out(1)._2 == 1.0 / 61.0 + 0.0) // absent vec side contributes 0
    assert(out(2)._2 == 1.0 / 62.0)
    // equal rank-pairs tie exactly (IEEE + is commutative) → id asc order
    val l2 = Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "rank")
    val v2 = Seq((1L, 2L), (2L, 1L)).toDF("doc_id", "rank")
    val tied = Index.rrfFuse(l2, v2, "doc_id", k = 2)
      .as[(Long, Double, Long)].collect().sortBy(_._3)
    assert(tied(0)._2 == tied(1)._2 && tied.map(_._1).toSeq == Seq(1L, 2L))
  }

  test("bm25/unigramNll: empty corpus yields empty results, not an NPE") {
    val none = docsFrom(Nil)
    assert(Index.bm25(none, "doc_id", "text", Seq("a")).count() == 0L)
    assert(TextAnalysis.unigramNll(none, "doc_id", "text").count() == 0L)
    assert(TextAnalysis.unigramNll(none, "doc_id", "text").columns.toSeq ==
      Seq("doc_id", "n_tokens", "avg_nll"))
  }

  test("unigramNll: self-trained model, exact pinned-order fold, per-token mean") {
    val docs = docsFrom(Seq((1L, "a a b"), (2L, "b c")))
    val out = TextAnalysis.unigramNll(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // counts: a=2 b=2 c=1, total=5
    def nll(c: Long) = -math.log(c / 5.0)
    assert(out(1L)._1 == 3L)
    assert(out(1L)._2 == ((0.0 + 2L * nll(2)) + 1L * nll(2)) / 3L) // fold a,b
    assert(out(2L)._1 == 2L)
    assert(out(2L)._2 == ((0.0 + 1L * nll(2)) + 1L * nll(1)) / 2L) // fold b,c
    // common-word doc scores lower than rare-word doc of equal length
    val mixed = docsFrom(Seq(
      (1L, "the the the the rare1"), (2L, "the the the the the"),
      (3L, "zq1 zq2 zq3 zq4 zq5")))
    val m = TextAnalysis.unigramNll(mixed, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(m(2L) < m(1L) && m(1L) < m(3L))
  }

  test("mortonCode interleaves bits; cluster keeps 2-D bounding boxes tight") {
    import spark.implicits._
    val pts = Seq((3L, 1L), (0L, 0L), (65537L, 2L)).toDF("x", "y")
    val codes = pts
      .select(col("x"), col("y"),
        Layout.mortonCode(Seq(col("x"), col("y")), bits = 16).as("z"))
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(codes((3L, 1L)) == 7L)   // x bits at even positions, y at odd
    assert(codes((0L, 0L)) == 0L)
    assert(codes((65537L, 2L)) == 9L) // masked x=1 → pos0; y bit1 → pos3
    // 32×32 grid clustered into 4 partitions: every partition's 2-D
    // bounding box must be far smaller than the full square (a 1-D sort
    // leaves the second dimension at full width)
    val grid = (for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val clustered = Layout.cluster(grid, Seq("x", "y"), numPartitions = 4, bits = 5)
    val boxes = Layout.boundingBoxes(clustered, Seq("x", "y"))
      .as[(Int, Long, Long, Long, Long, Long)].collect()
    assert(boxes.map(_._2).sum == 1024L) // no rows lost
    val avgArea = boxes.map(b => (b._4 - b._3 + 1) * (b._6 - b._5 + 1)).sum
      .toDouble / boxes.length
    assert(avgArea < 32 * 32 / 2.0, s"avg bounding-box area $avgArea")
  }

  test("latestByKey: argmax by version cols, payload rides along untouched") {
    import spark.implicits._
    val hist = Seq(
      (1L, 10L, 100L, "old"), (1L, 20L, 101L, "new"),
      (2L, 20L, 102L, "a"), (2L, 20L, 103L, "b"), // ts tie → higher id wins
      (3L, 5L, 104L, "only")).toDF("k", "ver", "id", "payload")
    val out = Compaction.latestByKey(hist, Seq("k"), Seq("ver", "id"))
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 20L, 101L, "new"), (2L, 20L, 103L, "b"), (3L, 5L, 104L, "only")))
    assert(Compaction.latestByKey(hist, Seq("k"), Seq("ver", "id")).columns.toSeq ==
      Seq("k", "ver", "id", "payload"))
    assertThrows[IllegalArgumentException](
      Compaction.latestByKey(hist, Nil, Seq("ver")))
  }

  test("sketchDistinct: HLL estimate within bound of exact on a known corpus") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (s"g${i % 2}", s"v${i % 357}"))
      .toDF("g", "v")
    val out = Profile.sketchDistinct(df, "g", "v")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out("g0")._1 == 500L && out("g1")._1 == 500L)
    // exact distinct per group: g0 holds v_even ∪ {v odd reached via wrap}
    val exact = (0 until 1000).groupBy(i => i % 2)
      .map { case (g, is) => s"g$g" -> is.map(_ % 357).distinct.size.toLong }
    for ((g, (_, approx)) <- out)
      assert(math.abs(approx - exact(g)) <= exact(g) * 0.15,
        s"$g: approx $approx vs exact ${exact(g)}")
  }

  test("approxMedian/medianBoundCheck: sketch value honors its rank bound") {
    import spark.implicits._
    val df = (1 to 101).map(i => ("g", i.toLong)).toDF("g", "v")
    val m = Profile.approxMedian(df, "g", "v")
      .as[(String, Long, Long)].collect().head
    assert(m._2 == 101L)
    assert(m._3 == 51L) // accuracy >> n ⇒ the sketch is exact: true median
    val b = Profile.medianBoundCheck(df, "g", "v")
      .as[(String, Long, Boolean)].collect().head
    assert(b == (("g", 101L, true)))
  }

  test("zRangesForBox covers exactly; boxQuery == plain box filter") {
    import spark.implicits._
    def morton(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 25) {
      val (a, b) = (rnd.nextInt(64).toLong, rnd.nextInt(64).toLong)
      val (c, d) = (rnd.nextInt(64).toLong, rnd.nextInt(64).toLong)
      val (xmin, xmax, ymin, ymax) =
        (a min b, a max b, c min d, c max d)
      val ranges = Layout.zRangesForBox(xmin, xmax, ymin, ymax, bits = 6)
      // sorted, merged, disjoint
      assert(ranges.sliding(2).forall {
        case Seq((_, h1), (l2, _)) => l2 > h1 + 1
        case _ => true
      })
      // complete: every in-box point's code falls in some range
      for (x <- xmin to xmax; y <- ymin to ymax) {
        val z = morton(x, y, 6)
        assert(ranges.exists { case (lo, hi) => z >= lo && z <= hi },
          s"point ($x,$y) z=$z escapes the cover of [$xmin,$xmax]×[$ymin,$ymax]")
      }
    }
    // boxQuery through the ranges == the plain predicate, incl. a capped
    // (coarsened) cover
    val grid = (for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val clustered = Layout.cluster(grid, Seq("x", "y"), numPartitions = 4, bits = 6)
    for (cap <- Seq(64, 2)) {
      val got = Layout.boxQuery(clustered, "x", "y", 5, 40, 17, 23,
          bits = 6, codeCol = "zcode", maxRanges = cap)
        .select("x", "y").as[(Long, Long)].collect().toSet
      val want = (for (x <- 5L to 40L; y <- 17L to 23L) yield (x, y)).toSet
      assert(got == want, s"cap=$cap")
    }
    // out-of-domain boxes would silently drop masked points → must refuse
    assertThrows[IllegalArgumentException](
      Layout.boxQuery(clustered, "x", "y", 5, 70, 0, 10, bits = 6))
  }

  test("funnel: strictly-ordered earliest completion; out-of-order drops") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(us: Long) = new Timestamp(us / 1000)
    val events = Seq(
      // u1 converts: view@1s, click@2s, purchase@3s (plus decoys)
      (1L, ts(1000000L), "view"), (1L, ts(2000000L), "click"),
      (1L, ts(500000L), "click"), // click BEFORE first view — must not count
      (1L, ts(3000000L), "purchase"),
      // u2: purchase before click → no conversion
      (2L, ts(1000000L), "view"), (2L, ts(3000000L), "click"),
      (2L, ts(2000000L), "purchase"),
      // u3: never clicks
      (3L, ts(1000000L), "view"), (3L, ts(2000000L), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val out = Behavior.funnel(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .as[(Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 1000000L, 2000000L, 3000000L)))
    assertThrows[IllegalArgumentException](
      Behavior.funnel(events, "user_id", "ts", "event_type", Seq("view")))
  }

  test("retention: cohort = first day, distinct users per offset") {
    import spark.implicits._
    import java.sql.Timestamp
    def d(day: Int, h: Int = 0) =
      Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    val events = Seq(
      (1L, d(1)), (1L, d(1, 5)), (1L, d(3)),   // cohort 01-01, offsets 0,0,2
      (2L, d(1)), (2L, d(3)),                   // cohort 01-01, offsets 0,2
      (3L, d(2)))                               // cohort 01-02, offset 0
      .toDF("user_id", "ts")
    val out = Behavior.retention(events, "user_id", "ts")
      .as[(String, Long, Long)].collect().toSet
    assert(out == Set(
      ("2024-01-01", 0L, 2L), ("2024-01-01", 2L, 2L), ("2024-01-02", 0L, 1L)))
  }

  test("weightedSample: E-S keys favor heavy rows; deterministic across runs") {
    import spark.implicits._
    // weight 1000 vs 1: heavy rows should dominate a k=5 sample of 10
    val df = ((1L to 5L).map(i => (i, 1000L)) ++ (6L to 10L).map(i => (i, 1L)))
      .toDF("id", "w").withColumn("g", lit("all"))
    val s1 = Sampling.weightedSample(df, "id", "w", "g", k = 5)
      .select("id", "sample_rank").as[(Long, Long)].collect().sortBy(_._2)
    val s2 = Sampling.weightedSample(df, "id", "w", "g", k = 5)
      .select("id", "sample_rank").as[(Long, Long)].collect().sortBy(_._2)
    assert(s1.toSeq == s2.toSeq) // pure function of the data
    assert(s1.length == 5)
    assert(s1.count(_._1 <= 5L) >= 4, // heavy ids win ~always
      s"weighted sample ignored weights: ${s1.toSeq}")
  }

  test("rebalanceMix: exact target proportions at the largest feasible total") {
    import spark.implicits._
    val df = ((1 to 100).map(i => (i.toLong, "a")) ++
      (101 to 130).map(i => (i.toLong, "b")) ++
      (131 to 140).map(i => (i.toLong, "other"))).toDF("id", "g")
    val kept = Sampling.rebalanceMix(df, "id", "g",
        Map("a" -> 0.8, "b" -> 0.2))
      .select("id", "g").as[(Long, String)].collect()
    val byG = kept.groupBy(_._2).view.mapValues(_.length).toMap
    // T = min(100/0.8, 30/0.2) = 125 → quotas floor(100), floor(25)
    assert(byG == Map("a" -> 100, "b" -> 25))
    assert(!kept.exists(_._2 == "other")) // untargeted groups dropped
    // rerun identical
    val again = Sampling.rebalanceMix(df, "id", "g",
        Map("a" -> 0.8, "b" -> 0.2))
      .select("id", "g").as[(Long, String)].collect()
    assert(kept.map(t => t._1 -> t._2).toSet == again.map(t => t._1 -> t._2).toSet)
    assertThrows[IllegalArgumentException](
      Sampling.rebalanceMix(df, "id", "g", Map("absent" -> 1.0)))
    // int-typed group col must refuse (string-keyed targets), not CCE
    assertThrows[IllegalArgumentException](
      Sampling.rebalanceMix(df.withColumn("gi", lit(1)), "id", "gi",
        Map("1" -> 1.0)))
  }

  test("chunkWindows: stride coverage, short tail, empty docs dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 7).map(i => s"t$i").mkString(" ")), // 7 toks, w=4 s=2 → 4 windows
      (2L, "a"), (3L, "")).toDF("doc_id", "text")
    val out = Packing.chunkWindows(docs, "doc_id", "text", window = 4, stride = 2)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(w => (w._2, w._3, w._4, w._5)).toSeq == Seq(
      (0L, 0L, 4L, "t1 t2 t3 t4"), (1L, 2L, 4L, "t3 t4 t5 t6"),
      (2L, 4L, 3L, "t5 t6 t7"), (3L, 6L, 1L, "t7")))
    assert(out.filter(_._1 == 2L).map(w => (w._2, w._4, w._5)).toSeq ==
      Seq((0L, 1L, "a")))
    assert(!out.exists(_._1 == 3L)) // zero tokens → no windows
    assertThrows[IllegalArgumentException](
      Packing.chunkWindows(docs, "doc_id", "text", window = 4, stride = 5))
  }

  test("rateAnomalies: flags the planted spike with the hand z-score") {
    import spark.implicits._
    import java.sql.Timestamp
    // 24 calm hours at 10 events, then one 30-event spike
    val rows = (0 until 24).flatMap(h =>
      (0 until 10).map(i => Timestamp.valueOf(f"2024-02-01 $h%02d:00:${i}%02d"))) ++
      (0 until 30).map(i => Timestamp.valueOf(f"2024-02-02 00:00:${i}%02d"))
    val events = rows.map(Tuple1(_)).toDF("ts")
    val out = Behavior.rateAnomalies(events, "ts", trailing = 24, minZ = 3.0)
      .as[(String, Long, Double)].collect()
    // trailing window is all-10s → variance 0 → var>0 guard drops it…
    assert(out.isEmpty)
    // …so add one wobble hour to give the window spread
    val events2 = (events.as[Timestamp].collect().toSeq :+
      Timestamp.valueOf("2024-02-01 05:30:00")).map(Tuple1(_)).toDF("ts")
    val out2 = Behavior.rateAnomalies(events2, "ts", trailing = 24, minZ = 3.0)
      .as[(String, Long, Double)].collect()
    assert(out2.map(_._1).toSeq == Seq("2024-02-02 00:00"))
    val (s, q, n) = (10 * 23 + 11, 100 * 23 + 121, 24)
    val mean = s.toDouble / n
    val z = (30 - mean) / math.sqrt(q.toDouble / n - mean * mean)
    assert(out2.head._3 == BigDecimal(z)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out2.head._2 == 30L)
  }

  test("normalizeText: lowercase, punct strip, whitespace collapse, trim") {
    import spark.implicits._
    val out = Seq("  Hello,  WORLD!! 42 ", "a—b\tc", "", "!!!")
      .toDF("t").select(TextAnalysis.normalizeText(col("t")))
      .as[String].collect().toSeq
    assert(out == Seq("hello world 42", "a b c", "", ""))
  }

  test("sourceReport: dup/contam fractions from integer aggregates") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", "w1 w2 w3"), (2L, "a", "w1 w2 w3"), // exact dup pair
      (3L, "a", "x1 x2 x3 x4"),
      (4L, "b", "y1 y2 y3")).toDF("doc_id", "source", "text")
    val eval = Seq((9L, "x1 x2 x3")).toDF("doc_id", "text")
    val out = Profile.sourceReport(docs, eval, "doc_id", "text", "source",
        contamN = 3)
      .as[(String, Long, Long, Double, Long, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    val a = out("a")
    assert((a._2, a._3, a._4) == ((3L, 2L, 0.3333))) // 3 docs, 1 dup pair
    assert((a._5, a._6) == ((1L, 0.3333)))           // doc 3 contaminated
    assert(a._7 == 3.33)                             // (3+3+4)/3 words
    val b = out("b")
    assert((b._2, b._3, b._4, b._5, b._6, b._7) ==
      ((1L, 1L, 0.0, 0L, 0.0, 3.0)))
  }

  test("topDuplicates: copy counts, exemplar = min id, singletons dropped") {
    import spark.implicits._
    val docs = Seq(
      (5L, "a", "dup1"), (2L, "a", "dup1"), (9L, "a", "dup1"), // 3 copies
      (3L, "a", "dup2"), (4L, "a", "dup2"),                    // 2 copies
      (6L, "a", "solo"),
      (7L, "b", "only single texts"), (8L, "b", "another"))
      .toDF("doc_id", "source", "text")
    val out = Profile.topDuplicates(docs, "doc_id", "text", "source", k = 3)
      .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._4))
    assert(out.toSeq == Seq(("a", 2L, 3L, 1L), ("a", 3L, 2L, 2L)))
  }

  test("curate: lang+quality filter, dedup keeps min id, eval overlap dropped") {
    // build texts that pass the quality floor: ≥100 words with stopwords
    val good = (("the and of to in is it that " * 13).trim + " unique")
    val fancy = good.replace("unique", "other") // second distinct good doc
    val docs = docsFrom(Seq(
      (5L, good), (9L, good),          // exact dups → keep 5, drop 9
      (6L, fancy),
      (7L, "el los que y un por con para"), // non-en, short → filtered
      (8L, "tiny")))                        // low quality → filtered
    // eval carrying the shared 13-word prefix contaminates BOTH good docs
    // (good and fancy differ only in their last word) → nothing survives
    val eval = docsFrom(Seq((100L, fancy.split(" ").take(13).mkString(" "))))
    val out = Curate.curate(docs, eval, "doc_id", "text",
        lang = "en", minScore = 0.6, contamN = 13)
      .select("doc_id").as[Long].collect().toSet
    assert(out.isEmpty, s"prefix-gram eval must drop every survivor, got $out")
    // disjoint eval → only filtering + dedup act
    val cleanEval = docsFrom(Seq((100L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13")))
    val out2 = Curate.curate(docs, cleanEval, "doc_id", "text",
        lang = "en", minScore = 0.6, contamN = 13)
    assert(out2.select("doc_id").as[Long].collect().toSet == Set(5L, 6L))
    val row = out2.filter(col("doc_id") === 5L).collect().head
    assert(row.getAs[String]("lang_pred") == "en")
    assert(row.getAs[Double]("quality_score") >= 0.6)
    assert(row.getAs[Long]("tokens") == good.split(" ").length.toLong)
  }

  test("kmeansCentroids: deterministic, centroids are rounded per-dim means") {
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(0.1f, 0.0f)),
      (2L, Array(10.0f, 10.0f)), (3L, Array(10.1f, 10.0f)),
      (4L, Array(0.0f, 0.1f)), (5L, Array(10.0f, 10.1f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(vecs, k = 2, iters = 2)
      .as[(Int, Array[Double])].collect().toMap
    // seeds 0 and 1 both sit in the origin cluster; after one assignment
    // the far cluster captures 2,3,5 under whichever seed is nearer
    assert(cents.size <= 2)
    // after iteration 2 the far cell is exactly {v2, v3, v5}
    val far = cents.values.find(_.head > 5.0).get
    assert(far sameElements Array(
      BigDecimal((10.0 + 10.1f.toDouble + 10.0) / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal((10.0 + 10.0 + 10.1f.toDouble) / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    // run-to-run determinism (same plan, same result)
    val again = Similarity.kmeansCentroids(vecs, k = 2, iters = 2)
      .as[(Int, Array[Double])].collect().toMap
    assert(cents.keySet == again.keySet &&
      cents.forall { case (k, v) => v sameElements again(k) })
  }

  test("pqCentroids: per-subspace rounded means on a handcrafted corpus") {
    // 4-dim vectors, m=2 subspaces of 2 dims, k=2 codes, 1 Lloyd step;
    // seeds = vectors 0 and 1
    val vecs = Seq(
      (0L, Array(0f, 0f, 10f, 10f)),
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.4f, 0f, 9f, 10f)),
      (3L, Array(0.6f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.pqCentroids(vecs, m = 2, subDim = 2, k = 2, iters = 1)
      .as[(Int, Int, Array[Double])].collect()
      .map { case (sub, cid, c) => (sub, cid) -> c.toSeq }.toMap
    assert(cents((0, 0)) == Seq(0.2, 0.0)) // mean of subspace-0 slices of {0,2}
    assert(cents((0, 1)) == Seq(0.8, 0.0)) // {1,3}
    assert(cents((1, 0)) == Seq(9.5, 10.0)) // subspace-1 slices of {0,2}
    assert(cents((1, 1)) == Seq(0.5, 0.0)) // {1,3}
  }

  test("pqTopK: deterministic full-coverage ADC ranking, adist >= 0") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    def run() = Similarity.pqTopK(emb, queries, topK = 3)
      .select("query_id", "neighbor_id", "adist", "rank")
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    val a = run()
    assert(a.length == 5 * 3, "every query must fill its top-k (ADC scores all candidates)")
    assert(a.forall(_._3 >= 0.0), "squared distances cannot be negative")
    assert(a.sameElements(run()), "PQ pipeline must be run-to-run deterministic")
  }

  test("ivfPqTopK: cell-restricted candidates score identically to full PQ") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val ivfpq = Similarity.ivfPqTopK(emb, queries, topK = 3)
      .select("query_id", "neighbor_id", "adist")
      .as[(Long, Long, Double)].collect()
    assert(ivfpq.nonEmpty)
    // full-ADC reference: same PQ training, no cell restriction, huge topK
    val full = Similarity.pqTopK(emb, queries, topK = 1000)
      .select("query_id", "neighbor_id", "adist")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // IVF only RESTRICTS candidates; every emitted pair must carry the
    // exact ADC distance the unrestricted scorer assigns it
    ivfpq.foreach { case (q, n, d) =>
      assert(full((q, n)) == d, s"adist mismatch for ($q,$n)") }
  }

  test("kmeansIvfTopK: neighbors carry exact cosines; recall vs brute force") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val ivf = Similarity.kmeansIvfTopK(emb, queries, topK = 3)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect()
    val brute = Similarity.bruteForceTopK(emb, queries, k = 3)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect()
    val bruteCos = brute.map(r => (r._1, r._2) -> r._3).toMap
    // every emitted pair's cosine is the true cosine (verify-exactness)
    val exactAll = emb.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"))
      .filter(col("query_id") < 10)
      .crossJoin(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (Similarity.dot(col("qv"), col("cv")) /
          (sqrt(Similarity.dot(col("qv"), col("qv"))) *
            sqrt(Similarity.dot(col("cv"), col("cv"))))).as("cos"))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    ivf.foreach { case (q, n, c) =>
      assert(math.abs(exactAll((q, n)) - c) < 1e-12) }
    // recall@3: random 64-dim data is the worst case for any ANN; the
    // 2-of-8-cells probe scans ~25% — just assert it beats empty and is
    // quantified (clustered real embeddings separate far better)
    val hit = ivf.count { case (q, n, _) => bruteCos.contains((q, n)) }
    info(s"kmeans-IVF recall@3 on random vectors: $hit/${brute.length}")
    assert(hit >= 1)
  }

  test("semanticDedup drops the higher-id near-identical vector, keeps the rest") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    // plant an exact duplicate of vector 0 under a fresh high id: cos = 1,
    // same k-means cell by construction → must be dropped; the original
    // (lower id) must survive
    val v0 = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Array[Float]].head()
    val planted = emb.select("vec_id", "embedding")
      .unionByName(Seq((99999L, v0)).toDF("vec_id", "embedding"))
    val survivors = Similarity.semanticDedup(planted, threshold = 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert(!survivors.contains(99999L), "planted exact dup must be dropped")
    assert(survivors.contains(0L), "the lower-id original must survive")
    // every vector is either a survivor or has a lower-id cell-mate at
    // cos >= threshold — spot-check totals: nothing silently vanishes
    assert(survivors.size == emb.count(), "only the planted dup drops at 0.999")
  }

  test("tokenBudget: two-phase bucketed prefix sum == naive global window") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val annotated = docs.select(
      (col("doc_id") +: TextAnalysis.qualityColumns(col("text"))): _*)
    val budget = 15000L
    val got = Sampling.tokenBudget(annotated, "doc_id", "n_words",
        "quality_score", budget)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
    // naive oracle: one unpartitioned window (fine at test scale)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Long.MinValue, 0)
    val naive = annotated
      .withColumn("cum", sum(col("n_words")).over(w))
      .filter(col("cum") <= budget)
      .select("doc_id", "cum").as[(Long, Long)].collect().toMap
    assert(got == naive)
    assert(got.nonEmpty && got.values.max <= budget)
  }

  test("contaminationScore grades overlap as a fraction; clean docs score 0") {
    val docs = docsFrom(Seq(
      (1L, "a b c d e f"), // grams at n=3: 4 total
      (2L, "a b c x y z"), // shares "a b c" with eval doc 1's prefix? eval below
      (3L, "p q r s t u"))) // disjoint
    val eval = docsFrom(Seq((9L, "a b c d zz")))
    // eval grams (n=3): "a b c", "b c d", "c d zz"
    val got = Dedup.contaminationScore(docs, eval, "doc_id", "text", n = 3)
      .select("doc_id", "n_grams", "n_hits").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((4L, 2L))) // "a b c", "b c d" hit; "c d e", "d e f" clean
    assert(got(2L) == ((4L, 1L))) // only "a b c"
    assert(got(3L) == ((4L, 0L)))
  }

  test("classifier score: exact integer logit over hashed buckets, map-side") {
    val docs = docsFrom(Seq((1L, "alpha beta alpha"), (2L, "alpha beta gamma")))
    val got = docs.select(
        (col("doc_id") +: TextAnalysis.classifierColumns(col("text"))): _*)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // recompute expected from the published weights + portable hash
    def bucket(t: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(md.take(15), 16) % 64).toInt
    }
    def expect(toks: Seq[String]): (Long, Long, Double) = {
      val d = toks.distinct
      val ws = d.map(t => TextAnalysis.clfWeights(bucket(t))).sum
      (d.size.toLong, ws, ws.toDouble / (d.size * 1000.0))
    }
    assert(got(1L) == expect(Seq("alpha", "beta", "alpha")))
    assert(got(2L) == expect(Seq("alpha", "beta", "gamma")))
    // plan shape: no exchange — the scorer is a pure map-side expression
    val plan = docs.select(TextAnalysis.classifierColumns(col("text")): _*)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"classifier must not shuffle:\n$plan")
  }

  test("dupNgramCoverage: cross-doc grams count, internal-only repeats do not") {
    val docs = docsFrom(Seq(
      (1L, "a b c d e"),     // 3 trigram instances at n=3
      (2L, "a b c q r"),     // shares "a b c" with doc 1
      (3L, "z z z z z")))    // "z z z" ×3 — internal repeat ONLY
    val got = TextAnalysis.dupNgramCoverage(docs, "doc_id", "text", n = 3)
      .select("doc_id", "n_grams", "dup_grams").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((3L, 1L))) // only "a b c" is cross-doc
    assert(got(2L) == ((3L, 1L)))
    assert(got(3L) == ((3L, 0L))) // repetition within one doc is not dup
  }

  test("pairMergeCounts: multiset counts, deterministic ties, top-k plan") {
    val docs = docsFrom(Seq(
      (1L, "a b a b a"),  // "a b" x2, "b a" x2 — repeats inside one doc count
      (2L, "a b c"),      // "a b" x1, "b c" x1
      (3L, "solo")))      // single token → no pairs
    val got = TextAnalysis.pairMergeCounts(docs, "text", k = 3)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a b", 3L), ("b a", 2L), ("b c", 1L)))
    // top-k must be TakeOrderedAndProject, not a global Sort
    val plan = TextAnalysis.pairMergeCounts(docs, "text", k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("quantizeInt8: exact codes, constant dims → 0, encode is map-side") {
    val vecs = Seq(
      (1L, Seq(0.0f, 5.0f, 7.0f)),
      (2L, Seq(10.0f, 5.0f, 3.0f)),
      (3L, Seq(5.0f, 5.0f, 11.0f))).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(vecs)
      .as[(Long, Seq[Int])].collect().toMap
    // dim 0: [0,10] scale 10/255; dim 1 constant → 0; dim 2: [3,11] scale 8/255
    def code(x: Double, lo: Double, hi: Double): Int =
      math.min(255, math.max(0,
        math.floor((x - lo) / ((hi - lo) / 255.0) + 0.5).toInt))
    assert(got(1L) == Seq(code(0, 0, 10), 0, code(7, 3, 11)))
    assert(got(2L) == Seq(255, 0, code(3, 3, 11)))
    assert(got(3L) == Seq(code(5, 0, 10), 0, 255))
    // the encode pass itself must not shuffle: ranges ride in as literals
    val plan = Similarity.quantizeInt8(vecs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"encode must be map-side:\n$plan")
  }

  test("sourceOverlap: counts distinct shared grams once per source pair") {
    val docs = Seq(
      (1L, "a b c d e", "s1"),   // grams at n=3: "a b c","b c d","c d e"
      (2L, "a b c d x", "s2"),   // shares "a b c","b c d" with s1
      (3L, "a b c q r", "s2"),   // shares "a b c" again — must not double-count
      (4L, "z y w v u", "s3"))   // no overlap
      .toDF("doc_id", "text", "source")
    val got = Profile.sourceOverlap(docs, "text", "source", n = 3)
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("s1", "s2", 2L))) // "a b c" + "b c d", counted once
  }

  test("transitions: per-user ordering, tie broken by id, no cross-user pair") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts.getTime + s * 1000)
    val events = Seq(
      (1L, at(0), 10L, "view"),
      (2L, at(1), 10L, "cart"),     // user 10: view→cart
      (3L, at(2), 10L, "purchase"), // user 10: cart→purchase
      (4L, at(0), 20L, "view"),     // user 20 starts fresh — no cross-user pair
      (5L, at(5), 20L, "view"),     // user 20: view→view
      (7L, at(9), 30L, "b"),        // user 30: same ts — id order decides:
      (6L, at(9), 30L, "a"))        //   a(id 6) → b(id 7)
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = Behavior.transitions(events, "user_id", "ts", "event_id", "event_type")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(
      ("view", "cart", 1L), ("cart", "purchase", 1L),
      ("view", "view", 1L), ("a", "b", 1L)))
  }

  test("snapshotDiff: all four statuses classified correctly") {
    val before = Seq((1L, "same"), (2L, "old body"), (3L, "going away"))
      .toDF("doc_id", "text")
    val after = Seq((1L, "same"), (2L, "new body"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val got = Compaction.snapshotDiff(before, after, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("containmentPairs: directional — quote detected one way only") {
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val quote = "alpha beta gamma delta epsilon"   // fully inside `long`
    val other = "one two three four five six seven"
    val docs = docsFrom(Seq((1L, long), (2L, quote), (3L, other)))
    val got = Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((2L, 1L))) // quote ⊂ long; NOT (1,2) — asymmetric
  }

  test("degreeHistogram: counts both endpoints, histograms degrees") {
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L))
      .toDF("id_a", "id_b")
    val got = Dedup.degreeHistogram(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    // node 1 has degree 3; nodes 2,3,4,5,6 have degree 1
    assert(got == Map(3L -> 1L, 1L -> 5L))
  }

  test("keySkewAudit: hot key ranked first with exact share and ratio") {
    // key 7 ×6, key 1 ×2, keys 2..5 ×1 each → total 12, n_keys 6, mean 2
    val rows = Seq.fill(6)(7L) ++ Seq(1L, 1L) ++ Seq(2L, 3L, 4L, 5L)
    val df = rows.map(k => (k, "x")).toDF("k", "v")
    val got = graft.ext.Skew.keySkewAudit(df, "k", k = 3)
      .select("key", "n", "rank", "share", "ratio")
      .as[(Long, Long, Long, Double, Double)].collect().sortBy(_._3)
    assert(got(0) == ((7L, 6L, 1L, 0.5, 3.0)))     // 6/12, 6*6/12
    assert(got(1) == ((1L, 2L, 2L, 0.166667, 1.0)))
    // rank-3 tie between singleton keys breaks on key asc → key 2
    assert(got(2) == ((2L, 1L, 3L, 0.083333, 0.5)))
  }

  test("exactIntegralMedian: lower median on even counts, exact on odd") {
    val df = Seq(
      ("a", 1L), ("a", 2L), ("a", 3L), ("a", 100L), // even: lower median 2
      ("b", 5L), ("b", 7L), ("b", 9L),              // odd: 7
      ("c", 4L))                                    // singleton: 4
      .toDF("g", "v")
    val got = Profile.exactIntegralMedian(df, "g", "v")
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map("a" -> ((4L, 2L)), "b" -> ((3L, 7L)), "c" -> ((1L, 4L))))
  }

  test("exactIntegralQuartiles: boundaries land on exact ranks") {
    // group a: values 1..8 → n=8, ranks: p25 at cum≥2 → 2, p50 at cum≥4
    // → 4, p75 at cum≥6 → 6, max 8
    val df = ((1L to 8L).map(v => ("a", v)) :+ (("b", 42L))).toDF("g", "v")
    val got = Profile.exactIntegralQuartiles(df, "g", "v")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got("a") == ((8L, 2L, 4L, 6L, 8L)))
    assert(got("b") == ((1L, 42L, 42L, 42L, 42L)))
  }

  test("rollingActiveUsers: trailing window counts distinct users once") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")
    val events = Seq(
      (1L, ts(1), 100L), (2L, ts(1), 100L), // user 100 twice on day 1
      (3L, ts(2), 200L),
      (4L, ts(9), 100L))                    // day 9: outside day-2's window
      .toDF("event_id", "ts", "user_id")
    val got = Behavior.rollingActiveUsers(events, "user_id", "ts", windowDays = 7)
      .as[(String, Long)].collect().toMap
    // day 1: {100}; day 2: {100, 200}; ...; day 7: {100,200};
    // day 8: {200} (day-1 aged out); day 9: {100}
    assert(got("2024-01-01") == 1L)
    assert(got("2024-01-02") == 2L)
    assert(got("2024-01-07") == 2L)
    assert(got("2024-01-08") == 1L)
    assert(got("2024-01-09") == 1L)
    assert(got.size == 9)
  }

  test("leakageFreeSplit: near-duplicates always share a split") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val nearDup = base.replace("today", "tomorrow")
    val docs = docsFrom(Seq((1L, base), (2L, nearDup),
      (3L, "completely different words about spark window functions here"),
      (4L, "another separate document with its own vocabulary entirely now")))
    val got = Sampling.leakageFreeSplit(docs, "doc_id", "text",
        Seq("train" -> 0.5, "test" -> 0.5))
      .select("doc_id", "rep", "split")
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.size == 4)
    assert(got(1L)._1 == got(2L)._1, "near-dups must share a rep")
    assert(got(1L)._2 == got(2L)._2, "near-dups must share a split")
  }

  test("keepBest: collapse keeps the higher-quality near-dup, not min id") {
    // doc 1 short (low quality), doc 2 near-dup but much longer (higher
    // quality via the n_words/100 term); unrelated doc 3 is a singleton
    val core = "the quick brown fox jumps over the lazy dog again and again"
    val longTail = (1 to 60).map(i => "extra").mkString(" ")
    val docs = docsFrom(Seq(
      (1L, core + " today"),
      (2L, core + " today " + longTail),
      (3L, "completely different words about spark window functions here")))
    val got = Curate.keepBest(docs, "doc_id", "text")
      .select("rep", "keep_id", "n_members")
      .as[(Long, Long, Long)].collect().toSet
    val cluster = got.find(_._3 == 2L)
    assert(cluster.isDefined, s"no 2-member cluster in $got")
    assert(cluster.get._2 == 2L, s"keep_id should be the longer doc 2: $got")
    assert(got.exists(r => r._3 == 1L && r._2 == 3L)) // singleton keeps itself
  }

  test("JsonCols: bounded inference + promote types fields; malformed → null") {
    val df = Seq(
      (1L, """{"k": 7, "tag": "a"}"""),
      (2L, """{"k": -3, "tag": "b"}"""),
      (3L, """not json at all""")).toDF("id", "props")
    val schema = JsonCols.inferSchema(df, "props", sampleRows = 10)
    assert(schema.fieldNames.toSet == Set("k", "tag"))
    assert(schema("k").dataType == org.apache.spark.sql.types.LongType)
    val out = JsonCols.promote(df, "props", schema)
    assert(out.columns.toSeq == Seq("id", "k", "tag"))
    val rows = out.as[(Long, Option[Long], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows(1L) == ((Some(7L), Some("a"))))
    assert(rows(2L) == ((Some(-3L), Some("b"))))
    assert(rows(3L) == ((None, None))) // PERMISSIVE: malformed → nulls
    // promotion is a pure map: no exchange in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"promote must not shuffle:\n$plan")
    // name collisions are refused, not silently shadowed
    val e = intercept[IllegalArgumentException](
      JsonCols.promote(df.withColumn("k", lit(1)), "props", schema))
    assert(e.getMessage.contains("k"))
  }

  test("duplicateSpans: merges overlapping dup windows, splits distant ones") {
    // Shared 4-token run "p q r s" at doc1 pos 2 and doc2 pos 0, plus a
    // second shared run "x y z w" far enough away in doc1 to be its own
    // span (gap > minLen). minLen = 3 grams.
    val docs = docsFrom(Seq(
      (1L, "a b p q r s c d e f g h x y z w"),
      (2L, "p q r s m n o t u v w2 x y z w")))
    val got = Dedup.duplicateSpans(docs, "doc_id", "text", minLen = 3)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // doc1: "p q r s" spans tokens 2..5 (grams at 2,3); "x y z w" 12..15
    // doc2: "p q r s" at 0..3; "x y z w" at 11..14
    assert(got == Seq(
      (1L, 2L, 5L, 4L, 2L), (1L, 12L, 15L, 4L, 2L),
      (2L, 0L, 3L, 4L, 2L), (2L, 11L, 14L, 4L, 2L)))
    // within-doc repetition alone also flags (corpus count >= 2): both
    // occurrences of "r1 r2 r3" become their own span (gap 4 > minLen 3)
    val self = Dedup.duplicateSpans(
        docsFrom(Seq((7L, "r1 r2 r3 k r1 r2 r3"))), "doc_id", "text",
        minLen = 3)
      .orderBy("span_start")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(self == Seq((7L, 0L, 2L, 3L, 1L), (7L, 4L, 6L, 3L, 1L)))
    // a corpus with no duplicated grams emits nothing
    val none = Dedup.duplicateSpans(
      docsFrom(Seq((1L, "all tokens here unique once"),
        (2L, "and nothing shared across docs"))),
      "doc_id", "text", minLen = 3)
    assert(none.count() == 0)
  }

  test("thresholdSweep: monotone counts from one pass, zero-pair bins kept") {
    // exact duplicates always pair (jaccard = 1.0, band collision
    // guaranteed) — deterministic unlike a mid-similarity pair, whose
    // banded recall is probabilistic by design
    val dup = "the same document body repeated verbatim across two ids"
    val got = Dedup.thresholdSweep(
        docsFrom(Seq((1L, dup), (2L, dup),
          (3L, "an unrelated document with its own vocabulary entirely"))),
        "doc_id", "text", thresholds = Seq(0.3, 0.5, 0.9))
      .orderBy("threshold")
      .as[(Double, Long, Long)].collect().toSeq
    assert(got == Seq((0.3, 1L, 2L), (0.5, 1L, 2L), (0.9, 1L, 2L)))
    // a pair-free corpus keeps every threshold row, zero-filled
    val none = Dedup.thresholdSweep(
        docsFrom(Seq((1L, "alpha beta gamma delta epsilon"),
          (2L, "zeta eta theta iota kappa"))),
        "doc_id", "text", thresholds = Seq(0.3, 0.9))
      .orderBy("threshold")
      .as[(Double, Long, Long)].collect().toSeq
    assert(none == Seq((0.3, 0L, 0L), (0.9, 0L, 0L)))
  }

  test("splitLeakageAudit: rep-keyed split never leaks; cells are order-normalized") {
    // hand-built pair relation + assignments: pair (1,2) straddles
    // train/test under 'naive'; the rep-keyed assignment puts both in
    // train
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val naive = Seq((1L, "train"), (2L, "test"), (3L, "val"), (4L, "val"))
      .toDF("doc_id", "split")
    val audit = Sampling.splitLeakageAudit(pairs, naive, "doc_id")
      .orderBy("split_a", "split_b")
      .as[(String, String, Long, Boolean)].collect().toSeq
    assert(audit == Seq(("test", "train", 1L, true), ("val", "val", 1L, false)))
    // the leakage-free split on a planted near-dup corpus: every pair's
    // endpoints share the rep, so the audit has ZERO leaking cells while
    // the pair relation is non-empty
    import graft.Tables
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val realPairs = Dedup.lshPairs(docs, "doc_id", "text")
    assert(realPairs.count() > 0)
    val safe = Sampling.leakageFreeSplit(docs, "doc_id", "text",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val leaking = Sampling.splitLeakageAudit(realPairs, safe, "doc_id")
      .filter(col("leaks"))
    assert(leaking.count() == 0)
  }

  test("temperatureSample: fills each source's budget, overshoots at most one doc") {
    val docs = (1L to 40L).map { i =>
      val src = if (i <= 30) "big" else "small"
      (i, Seq.fill(10)("t").mkString(" "), src) // 10 tokens each
    }.toDF("doc_id", "text", "source")
    // tokens: big 300, small 100 → sqrt units 17320508/10000000 →
    // shares ≈ 0.6339/0.3661 → budgets floor(·200) = 126/73
    val got = Sampling.temperatureSample(docs, "doc_id", "text", "source",
        totalTokens = 200L)
      .as[(String, Long, Long, Long)].collect()
    val bySrc = got.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    // budget 126 → 13 docs × 10 = 130 (one-doc overshoot); 73 → 80
    assert(bySrc == Map("big" -> 130L, "small" -> 80L), s"$bySrc")
    // deterministic: same call, same rows
    val again = Sampling.temperatureSample(docs, "doc_id", "text", "source",
        totalTokens = 200L)
      .as[(String, Long, Long, Long)].collect()
    assert(got.sortBy(_._2).toSeq == again.sortBy(_._2).toSeq)
    // per-source cum_tokens is the exact prefix sum of the kept order
    got.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._3).scanLeft(0L)(_ + _).tail.toSeq ==
        sorted.map(_._4).toSeq)
    }
  }

  test("duplicateSpans keepFirst + removeSpans: retain-one-copy excision") {
    // doc1 holds the first occurrence of the repeated run "p1..p4";
    // doc2 repeats it and must lose exactly that region; doc3 is a
    // byte-identical copy of doc2 and loses EVERYTHING (all its grams
    // are non-first)
    val d2 = "p1 p2 p3 p4 z1 z2 z3"
    val docs = docsFrom(Seq(
      (1L, "a b p1 p2 p3 p4 c d"),
      (2L, d2),
      (3L, d2)))
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", minLen = 3,
      keepFirst = true)
    val got = Dedup.removeSpans(docs, "doc_id", "text", spans)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 8L, 0L, "a b p1 p2 p3 p4 c d"),   // first copy untouched
      (2L, 7L, 4L, "z1 z2 z3"),              // repeated run excised
      (3L, 7L, 7L, "")))                     // full duplicate -> empty
    // default (audit) mode flags BOTH occurrences; keepFirst exempts one
    val audit = Dedup.duplicateSpans(docs, "doc_id", "text", minLen = 3)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(audit == Seq(1L, 2L, 3L))

    // documented caveat (scaladoc on duplicateSpans): the exemption is
    // per-GRAM — when two distinct duplicated regions overlap, a span
    // anchored on one region's non-first grams may excise tokens of the
    // other's exempt first occurrence. Here 'b c d' first occurs in doc1
    // and 'a b c' first occurs in doc2; doc2's span [1..3] (from its
    // non-first 'b c d') consumes the exempt 'a b c' tokens.
    val overlap = docsFrom(Seq(
      (1L, "b c d"), (2L, "a b c d"), (3L, "a b c d")))
    val cleaned = Dedup.removeSpans(overlap, "doc_id", "text",
        Dedup.duplicateSpans(overlap, "doc_id", "text", minLen = 3,
          keepFirst = true))
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(cleaned == Seq(
      (1L, 3L, 0L, "b c d"),  // exempt-only content always survives
      (2L, 4L, 3L, "a"),      // 'a b c' first occurrence consumed (caveat)
      (3L, 4L, 4L, "")))
  }

  test("temperatureMix: sqrt flattening upweights the small source") {
    // src big: 2 docs x 8 tokens = 16; src small: 1 doc x 4 tokens = 4
    val docs = Seq(
      (1L, "t t t t t t t t", "big"),
      (2L, "t t t t t t t t", "big"),
      (3L, "t t t t", "small")).toDF("doc_id", "text", "source")
    val got = Sampling.temperatureMix(docs, "text", "source", alpha = 0.5)
      .orderBy("source")
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    // relative units: sqrt(16/16)=1e12, sqrt(4/16)=5e11 → temp shares
    // 2/3 and 1/3; raw shares 16/20=0.8 and 4/20=0.2
    assert(got.map(r => (r._1, r._2, r._3)) ==
      Seq(("big", 2L, 16L), ("small", 1L, 4L)))
    val big = got(0); val small = got(1)
    assert(big._4 == 0.8 && small._4 == 0.2)
    assert(big._5 == 0.6667 && small._5 == 0.3333)
    assert(big._6 == 0.8333)   // 2/3 / 0.8
    assert(small._6 == 1.6667) // 1/3 / 0.2 — the small source upsamples
    // alpha=1 keeps natural proportions: up_weight = 1 everywhere
    val id = Sampling.temperatureMix(docs, "text", "source", alpha = 1.0)
      .select("up_weight").as[Double].collect().toSeq
    assert(id == Seq(1.0, 1.0))
  }

  test("hardNegatives: band excludes near-dups and easy negatives") {
    // query 0; corpus engineered so cos(0,1)≈1 (near-dup), cos(0,2)
    // in-band, cos(0,3) below floor, cos(0,4) in-band lower
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.99f, 0.01f, 0.0f)),          // near-dup: cos ≈ 1
      (2L, Seq(0.3f, 1.0f, 0.0f)),            // cos ≈ 0.287 — in band
      (3L, Seq(0.0f, 1.0f, 0.0f)),            // cos = 0 — below floor
      (4L, Seq(0.2f, 1.0f, 0.0f))             // cos ≈ 0.196 — in band
    ).toDF("vec_id", "embedding")
    val got = Similarity.hardNegatives(
        vecs, vecs.filter(col("vec_id") === 0L), k = 5,
        floor = 0.15, dupCeil = 0.35)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSeq
    assert(got == Seq((0L, 2L, 1), (0L, 4L, 2)))
    // widening the ceiling readmits the near-dup at rank 1
    val wide = Similarity.hardNegatives(
        vecs, vecs.filter(col("vec_id") === 0L), k = 5,
        floor = 0.15, dupCeil = 1.1)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(wide == Seq(1L, 2L, 4L))
    val e = intercept[IllegalArgumentException](
      Similarity.hardNegatives(vecs, vecs, k = 1, floor = 0.5, dupCeil = 0.4))
    assert(e.getMessage.contains("band"))
  }

  test("appendIvfState: single-append state answers identically to kmeansIvfTopK") {
    import graft.Tables
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_state").toFile.getAbsolutePath
    Similarity.appendIvfState(emb, dir, k = 8, iters = 2)
    val fromState = Similarity
      .ivfTopKFromState(spark, dir, queries, topK = 5, nProbe = 2)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val direct = Similarity.kmeansIvfTopK(emb, queries, topK = 5,
        k = 8, iters = 2, nProbe = 2)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(fromState == direct && fromState.nonEmpty)
    // geometry mismatch fails fast instead of probing wrong cells
    val e = intercept[IllegalArgumentException](
      Similarity.appendIvfState(emb, dir, k = 4, iters = 2))
    assert(e.getMessage.contains("geometry"))
    // embedding-width mismatch fails fast on append AND on query — a
    // different-width batch would truncate the dot products silently
    val narrow = Seq((9999L, Seq(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val ed = intercept[IllegalArgumentException](
      Similarity.appendIvfState(narrow, dir, k = 8, iters = 2))
    assert(ed.getMessage.contains("dim"))
    val eq = intercept[IllegalArgumentException](
      Similarity.ivfTopKFromState(spark, dir, narrow, topK = 3))
    assert(eq.getMessage.contains("dim"))
  }

  test("kmeansCentroidsSampled: sample >= corpus is the full trainer; " +
      "sampled state answers with a recall floor; config freezes in _meta") {
    import graft.Tables
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    // a bound at/above the corpus size selects everything — the sampled
    // trainer IS kmeansCentroids then (the sample is the corpus)
    val full = Similarity.kmeansCentroids(emb, k = 8, iters = 2)
      .as[(Int, Seq[Double])].collect().toMap
    val cappedAtCorpus = Similarity
      .kmeansCentroidsSampled(emb, k = 8, iters = 2, maxTrain = 1000000)
      .as[(Int, Seq[Double])].collect().toMap
    assert(cappedAtCorpus == full && full.size == 8)
    // a BITING bound trains on the 40 lowest-hash vectors: different
    // centroids, same contract — and the state path carries recall
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_sampled").toFile.getAbsolutePath
    Similarity.appendIvfState(emb, dir, k = 8, iters = 2,
      batchTag = Some(1L), trainSample = 40)
    val probes = emb.filter(col("vec_id") < 20)
    val ann = Similarity.ivfTopKFromState(spark, dir, probes, topK = 10)
    val truth = Similarity.bruteForceTopK(emb, probes, k = 10)
    val meanRecall = Similarity.recallAtK(
        ann.select("query_id", "neighbor_id"),
        truth.select("query_id", "neighbor_id"))
      .agg(avg(col("recall"))).head().getDouble(0)
    assert(meanRecall >= 0.3, s"sampled-trained IVF mean recall $meanRecall")
    // the training config froze with the centroids: a later append (or a
    // fresh build on the same dir) under a different trainSample refuses
    val e1 = intercept[IllegalArgumentException](
      Similarity.appendIvfState(emb, dir, k = 8, iters = 2,
        batchTag = Some(2L), trainSample = 80))
    assert(e1.getMessage.contains("trainSample"), e1.getMessage)
    // trainSample below k cannot seed k centroids — refused by name
    val e2 = intercept[IllegalArgumentException](
      Similarity.appendIvfState(emb, s"$dir.other", k = 8, iters = 2,
        trainSample = 4))
    assert(e2.getMessage.contains("maxTrain") ||
      e2.getMessage.contains("trainSample"), e2.getMessage)
    // recluster honors the stored posture: it retrains on a SAMPLE of the
    // live rows (never the n^1.5 full-corpus pass) and the state still
    // answers probed reads with the frozen-k geometry
    Similarity.reclusterIvfState(spark, dir)
    val after = Similarity.ivfTopKFromState(spark, dir, probes, topK = 10)
    assert(after.count() > 0)
    assert(spark.read.parquet(s"$dir/centroids").count() <= 8)
  }

  test("knnGraphState: deltas reproduce the full rebuild exactly; " +
      "re-runs idempotent; order/drift/pending refusals") {
    import graft.Tables
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val root = java.nio.file.Files.createTempDirectory("graft_knn_state")
      .toFile.getAbsolutePath
    val ivf = s"$root/ivf"; val g = s"$root/graph"
    Similarity.appendIvfState(emb.filter(col("vec_id") < 200), ivf,
      k = 8, iters = 2, batchTag = Some(1L))
    // delta before build refuses with the build remedy
    val e0 = intercept[IllegalArgumentException](
      Similarity.knnGraphDeltaFromState(spark, ivf, g, 1L))
    assert(e0.getMessage.contains("buildKnnGraphState"), e0.getMessage)
    Similarity.buildKnnGraphState(spark, ivf, g, k = 3, nProbe = 2)
    def full() = Similarity.knnGraphFromState(spark, ivf, k = 3, nProbe = 2)
      .as[(Long, Long, Double, Int)].collect().toSet
    def inc() = Similarity.readKnnGraphState(spark, g)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(inc() == full() && inc().nonEmpty)
    Similarity.appendIvfState(
      emb.filter(col("vec_id") >= 200 && col("vec_id") < 350), ivf,
      k = 8, iters = 2, batchTag = Some(2L))
    Similarity.appendIvfState(emb.filter(col("vec_id") >= 350), ivf,
      k = 8, iters = 2, batchTag = Some(3L))
    // skipping an unapplied batch refuses by name
    val e1 = intercept[IllegalArgumentException](
      Similarity.knnGraphDeltaFromState(spark, ivf, g, 3L))
    assert(e1.getMessage.contains("in order"), e1.getMessage)
    // maxDirtyFraction = 1.0 forces the TRUE incremental path (these
    // small-fixture batches dirty most of the 8 cells, so the default
    // cost gate would delegate to the rebuild and mask delta bugs)
    Similarity.knnGraphDeltaFromState(spark, ivf, g, 2L,
      maxDirtyFraction = 1.0)
    // mid-history parity: the graph at watermark 2 IS the as-of(2) graph
    assert(inc() == Similarity
      .knnGraphFromStateAsOf(spark, ivf, k = 3, asOfBatch = 2L, nProbe = 2)
      .as[(Long, Long, Double, Int)].collect().toSet)
    Similarity.knnGraphDeltaFromState(spark, ivf, g, 3L,
      maxDirtyFraction = 1.0)
    assert(inc() == full())
    // a blind re-run of the applied tag is an idempotent no-op; a tag
    // below the watermark refuses
    Similarity.knnGraphDeltaFromState(spark, ivf, g, 3L)
    assert(inc() == full())
    val e2 = intercept[IllegalArgumentException](
      Similarity.knnGraphDeltaFromState(spark, ivf, g, 2L))
    assert(e2.getMessage.contains("already applied"), e2.getMessage)
    // a pending marker (crashed update) gates reads; the re-run clears it
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$g/_graph_pending"), "applying=3\n")
    val e3 = intercept[IllegalArgumentException](
      Similarity.readKnnGraphState(spark, g))
    assert(e3.getMessage.contains("unfinished"), e3.getMessage)
    Similarity.knnGraphDeltaFromState(spark, ivf, g, 3L)
    assert(inc() == full())
    // delete drift refuses the BATCH delta; the DELETE delta retracts
    // the dead vectors' edges at neighborhood cost and re-freezes the
    // head — the graph must equal a post-delete full rebuild
    Similarity.deleteFromIvfState(spark, ivf,
      emb.filter(pmod(col("vec_id"), lit(9)) === 4).select(col("vec_id")),
      "vec_id", deleteTag = Some(1L))
    val e4 = intercept[IllegalArgumentException](
      Similarity.knnGraphDeltaFromState(spark, ivf, g, 3L))
    assert(e4.getMessage.contains("tombstones advanced"), e4.getMessage)
    // force the RETRACTION path (the hash-spread delete dirties most
    // cells, which the default cost gate would delegate to a rebuild) —
    // the no-trace assertions below pin the retraction's own rewrites
    Similarity.knnGraphDeleteDeltaFromState(spark, ivf, g,
      maxDirtyFraction = 1.0)
    assert(inc() == full() && inc().nonEmpty)
    // a blind re-run (head already current) is a no-op, and it clears a
    // leftover delete marker from a crash between meta and marker-clear
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$g/_graph_pending"), "deleting=1\n")
    Similarity.knnGraphDeleteDeltaFromState(spark, ivf, g)
    assert(!new java.io.File(s"$g/_graph_pending").exists())
    assert(inc() == full())
    // no trace of the deleted ids anywhere in the graph state
    val deadProbe = spark.read.parquet(s"$g/probes")
      .filter(pmod(col("vid"), lit(9)) === 4).count()
    val deadHome = spark.read.parquet(s"$g/homes")
      .filter(pmod(col("vid"), lit(9)) === 4).count()
    val deadEdge = spark.read.parquet(s"$g/edges")
      .filter(pmod(col("vec_id"), lit(9)) === 4 ||
        pmod(col("neighbor_id"), lit(9)) === 4).count()
    assert((deadProbe, deadHome, deadEdge) == (0L, 0L, 0L),
      s"stale deleted rows: probes=$deadProbe homes=$deadHome edges=$deadEdge")
    // a SECOND delete wave also increments (head 1 -> 2) — on the
    // DEFAULT cost gate this spread delete dirties most cells and
    // delegates to the watermark-bounded rebuild: same output, and the
    // delegation must respect the frozen batch watermark
    Similarity.deleteFromIvfState(spark, ivf,
      emb.filter(pmod(col("vec_id"), lit(9)) === 5).select(col("vec_id")),
      "vec_id", deleteTag = Some(2L))
    Similarity.knnGraphDeleteDeltaFromState(spark, ivf, g)
    assert(inc() == full() && inc().nonEmpty)
    // the batch delta composes after the retraction: a fresh append
    // applies against the re-frozen head (default cost gate — the
    // spread batch delegates to the bounded rebuild, same output)
    Similarity.appendIvfState(emb.filter(col("vec_id") < 0), ivf,
      k = 8, iters = 2, batchTag = Some(4L))
    Similarity.knnGraphDeltaFromState(spark, ivf, g, 4L)
    assert(inc() == full())
    // deleting ids that were never graphed only advances the head
    Similarity.deleteFromIvfState(spark, ivf,
      emb.limit(0).select(col("vec_id")), "vec_id", deleteTag = Some(3L))
    Similarity.knnGraphDeleteDeltaFromState(spark, ivf, g)
    assert(inc() == full())
  }

  test("compactGraphState: relation identical, probes defragmented, " +
      "deltas compose across the boundary, remnant/pending refusals") {
    import graft.Tables
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val root = java.nio.file.Files.createTempDirectory("graft_knn_compact")
      .toFile.getAbsolutePath
    val ivf = s"$root/ivf"; val g = s"$root/graph"
    // compact before build refuses with the build remedy
    Similarity.appendIvfState(emb.filter(col("vec_id") < 200), ivf,
      k = 8, iters = 2, batchTag = Some(1L))
    val e0 = intercept[IllegalArgumentException](
      Similarity.compactGraphState(spark, g))
    assert(e0.getMessage.contains("buildKnnGraphState"), e0.getMessage)
    Similarity.buildKnnGraphState(spark, ivf, g, k = 3, nProbe = 2)
    // three steady-state ingest batches, each appending probe-row file
    // sets into the touched probe_cid partitions — the fragmentation
    // a compaction exists to undo
    Seq((200, 300), (300, 400), (400, 10000)).zipWithIndex.foreach {
      case ((lo, hi), i) =>
        Similarity.appendIvfState(
          emb.filter(col("vec_id") >= lo && col("vec_id") < hi), ivf,
          k = 8, iters = 2, batchTag = Some(i + 2L))
        Similarity.knnGraphDeltaFromState(spark, ivf, g, i + 2L,
          maxDirtyFraction = 1.0)
    }
    def parquetFiles(p: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(p))
    }
    def edges() = Similarity.readKnnGraphState(spark, g)
      .as[(Long, Long, Double, Int)].collect().toSet
    def pr() = Similarity.pageRankFromGraphState(spark, g, iters = 3)
      .as[(Long, Double)].collect().toSet
    val (edges0, pr0) = (edges(), pr())
    val filesBefore = parquetFiles(s"$g/probes")
    // a pending marker (crashed delta) refuses the compaction — the
    // delta's own re-run owns completion
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$g/_graph_pending"), "applying=4\n")
    val e1 = intercept[IllegalArgumentException](
      Similarity.compactGraphState(spark, g))
    assert(e1.getMessage.contains("unfinished"), e1.getMessage)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$g/_graph_pending"))
    Similarity.compactGraphState(spark, g)
    val filesAfter = parquetFiles(s"$g/probes")
    assert(filesAfter < filesBefore,
      s"probes must defragment: $filesBefore -> $filesAfter files")
    assert(edges() == edges0 && pr() == pr0,
      "compaction must be a semantic no-op")
    // idempotent: a second compaction is harmless
    Similarity.compactGraphState(spark, g)
    assert(edges() == edges0)
    // the deltas compose across the compaction boundary: a delete
    // retraction over compacted probes/homes still equals the rebuild
    Similarity.deleteFromIvfState(spark, ivf,
      emb.filter(pmod(col("vec_id"), lit(9)) === 4).select(col("vec_id")),
      "vec_id", deleteTag = Some(1L))
    Similarity.knnGraphDeleteDeltaFromState(spark, ivf, g,
      maxDirtyFraction = 1.0)
    assert(edges() ==
      Similarity.knnGraphFromState(spark, ivf, k = 3, nProbe = 2)
        .as[(Long, Long, Double, Int)].collect().toSet)
    // a crashed-swap remnant refuses every graph mutation by name...
    val bak = java.nio.file.Paths.get(s"$g/probes__compact_bak")
    java.nio.file.Files.createDirectory(bak)
    val e2 = intercept[IllegalArgumentException](
      Similarity.knnGraphDeleteDeltaFromState(spark, ivf, g))
    assert(e2.getMessage.contains("compaction crashed"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      Similarity.compactGraphState(spark, g))
    assert(e3.getMessage.contains("crashed mid-swap"), e3.getMessage)
    // ...and the full rebuild is the escape hatch: it re-derives every
    // table from the IVF state and clears the remnant
    Similarity.buildKnnGraphState(spark, ivf, g, k = 3, nProbe = 2)
    assert(!java.nio.file.Files.exists(bak))
    assert(edges() ==
      Similarity.knnGraphFromState(spark, ivf, k = 3, nProbe = 2)
        .as[(Long, Long, Double, Int)].collect().toSet)
  }

  test("appendIvfState: empty first batch does not train/brick the state") {
    import graft.Tables
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_empty").toFile.getAbsolutePath
    // empty first batch: no-op — no frozen zero-cell geometry
    Similarity.appendIvfState(emb.filter(col("vec_id") < 0), dir,
      k = 4, iters = 1, batchTag = Some(0L))
    assert(!new java.io.File(s"$dir/centroids").exists())
    // the next non-empty batch trains normally and the state works
    Similarity.appendIvfState(emb.filter(col("vec_id") < 100), dir,
      k = 4, iters = 1, batchTag = Some(1L))
    val got = Similarity.ivfTopKFromState(spark, dir,
      emb.filter(col("vec_id") < 2), topK = 3)
    assert(got.count() > 0)
    // an empty LATER batch against trained centroids is also harmless
    Similarity.appendIvfState(emb.filter(col("vec_id") < 0), dir,
      k = 4, iters = 1, batchTag = Some(2L))
    assert(spark.read.parquet(s"$dir/cells").count() == 100)
  }

  test("appendIvfState: untagged re-run appends nothing twice; tagged overwrites") {
    import graft.Tables
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val b1 = emb.filter(col("vec_id") < 100)
    val b2 = emb.filter(col("vec_id") >= 100 && col("vec_id") < 200)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_retry").toFile.getAbsolutePath
    Similarity.appendIvfState(b1, dir, k = 4, iters = 1)
    Similarity.appendIvfState(b2, dir, k = 4, iters = 1)
    val n = spark.read.parquet(s"$dir/cells").count()
    // blind untagged retry of batch 2 (orchestrator re-run after commit)
    Similarity.appendIvfState(b2, dir, k = 4, iters = 1)
    assert(spark.read.parquet(s"$dir/cells").count() == n)
    assert(n == 200)
    // tagged replay overwrites its own partition whole
    val tdir = java.nio.file.Files
      .createTempDirectory("graft_ivf_tag").toFile.getAbsolutePath
    Similarity.appendIvfState(b1, tdir, k = 4, iters = 1, batchTag = Some(1L))
    Similarity.appendIvfState(b2, tdir, k = 4, iters = 1, batchTag = Some(2L))
    Similarity.appendIvfState(b2, tdir, k = 4, iters = 1, batchTag = Some(2L))
    assert(spark.read.parquet(s"$tdir/cells").count() == 200)
  }

  test("mmrTopKFromState: penalty is the TRUE max over selected, negatives included") {
    // q = [1,0]; candidate 10 is collinear with q (rel 1, first pick),
    // 12 points AWAY (rel and sim-to-10 both ≈ -0.5), 13 is near-
    // orthogonal (≈ +0.1), 11 is close to 10 (≈ +0.8). With λ = 0.3 the
    // true-max rank-2 scores are 12: 0.3·(-.5) - 0.7·(-.5) = +0.2,
    // 13: -0.4·0.1 ≈ -0.04, 11: -0.4·0.8 = -0.32 → pick 12. A penalty
    // clamped at zero would score 12 at 0.3·(-.5) = -0.15 and pick 13
    // instead — the exact deviation this pins out.
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (10L, Array(1.0f, 0.0f)),
      (11L, Array(0.8f, 0.6f)),
      (12L, Array(-0.5f, 0.866f)),
      (13L, Array(0.1f, 0.995f))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mmr_neg").toFile.getAbsolutePath
    Similarity.appendIvfState(emb, dir, k = 1, iters = 1)
    val out = Similarity.mmrTopKFromState(spark, dir,
        emb.filter(col("vec_id") === 1), k = 3, lambda = 0.3,
        candK = 4, nProbe = 1)
      .select("neighbor_id", "mmr", "rank")
      .as[(Long, Double, Long)].collect().toSeq.sortBy(_._3)
    assert(out.map(_._1) == Seq(10L, 12L, 11L),
      s"true-max MMR pick order broken: $out")
    assert(math.abs(out(1)._2 - 0.2) < 1e-3,
      s"rank-2 score must carry the NEGATIVE max-sim penalty: ${out(1)}")
  }

  test("compactIvfState / compactStatsState: results identical, fewer files") {
    import graft.Tables
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_compact").toFile.getAbsolutePath
    (0 until 5).foreach { i =>
      Similarity.appendIvfState(
        emb.filter(col("vec_id") >= i * 40 && col("vec_id") < (i + 1) * 40),
        dir, k = 4, iters = 1, batchTag = Some(i.toLong))
    }
    val q = emb.filter(col("vec_id") < 3)
    def result = Similarity.ivfTopKFromState(spark, dir, q, topK = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    def nFiles(path: String) = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(path))
    }
    val before = result
    Similarity.compactIvfState(spark, dir)
    // tagged layouts keep one file-set per batch_id partition (replay
    // semantics survive); the result is byte-identical
    assert(result == before && before.nonEmpty)
    // replay overwrite still works after compaction (partition layout kept)
    Similarity.appendIvfState(
      emb.filter(col("vec_id") >= 160 && col("vec_id") < 200),
      dir, k = 4, iters = 1, batchTag = Some(4L))
    assert(result == before)

    // untagged appends accumulate files at the table root — THE small-file
    // case compaction exists for: report identical, file count collapses
    val sdir = java.nio.file.Files
      .createTempDirectory("graft_stats_compact").toFile.getAbsolutePath
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    (0 until 4).foreach { i =>
      Profile.appendStatsState(
        docs.filter(col("doc_id") % 4 === i), sdir, "text", "source")
    }
    val rep = Profile.statsReport(spark, sdir).orderBy("grp")
      .as[(String, Long, Long, Long)].collect().toSeq
    val filesBefore = nFiles(s"$sdir/stats")
    assert(filesBefore >= 4, s"expected >=4 append file-sets: $filesBefore")
    Profile.compactStatsState(spark, sdir)
    assert(nFiles(s"$sdir/stats") < filesBefore,
      s"${nFiles(s"$sdir/stats")} vs $filesBefore")
    assert(Profile.statsReport(spark, sdir).orderBy("grp")
      .as[(String, Long, Long, Long)].collect().toSeq == rep)
  }

  test("bm25TopKFromState: parity with batch bm25TopK; reads prune to term buckets") {
    import graft.Tables
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_postings_state").toFile.getAbsolutePath
    Index.appendPostingsState(docs.filter(col("doc_id") < 250),
      dir, "doc_id", "text", batchTag = Some(1L))
    Index.appendPostingsState(docs.filter(col("doc_id") >= 250),
      dir, "doc_id", "text", batchTag = Some(2L))
    val terms = Seq("dup", "vector", "window")
    val fromState = Index
      .bm25TopKFromState(spark, dir, terms, k = 10, idCol = "doc_id")
      .select("doc_id", "score", "rank")
      .as[(Long, Double, Long)].collect().toSet
    val direct = Index.bm25TopK(docs, "doc_id", "text", terms, k = 10)
      .select("doc_id", "score", "rank")
      .as[(Long, Double, Long)].collect().toSet
    assert(fromState == direct && fromState.nonEmpty)
    // the postings read must PRUNE to the query terms' bucket partitions
    // (pinned on the read stage — the ranked frame's lineage truncates at
    // the ordinal materialization and never shows the scan)
    val plan = graft.Plans.capturePlan(
      Index.postingsRead(spark, dir, terms, buckets = 64))
    val scanLine = plan.linesIterator
      .filter(_.contains("PartitionFilters")).mkString("\n")
    assert(scanLine.contains("bucket"),
      s"postings scan is not bucket-pruned:\n$plan")
    // tagged replay overwrite: re-appending batch 2 changes nothing
    Index.appendPostingsState(docs.filter(col("doc_id") >= 250),
      dir, "doc_id", "text", batchTag = Some(2L))
    assert(Index.bm25TopKFromState(spark, dir, terms, k = 10, idCol = "doc_id")
      .select("doc_id", "score", "rank")
      .as[(Long, Double, Long)].collect().toSet == direct)
    // compaction preserves BOTH the answers and the bucket partition
    // layout (the pruned-read property)
    Index.compactPostingsState(spark, dir)
    assert(Index.bm25TopKFromState(spark, dir, terms, k = 10, idCol = "doc_id")
      .select("doc_id", "score", "rank")
      .as[(Long, Double, Long)].collect().toSet == direct)
    val planAfter = graft.Plans.capturePlan(
      Index.postingsRead(spark, dir, terms, buckets = 64))
    assert(planAfter.linesIterator
      .filter(_.contains("PartitionFilters")).mkString.contains("bucket"),
      s"compaction flattened the bucket layout:\n$planAfter")
  }

  test("as-of postings read prunes at the scan: batch_id joins the partition filters") {
    import graft.Tables
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_asof_prune").toFile.getAbsolutePath
    Index.appendPostingsState(docs.filter(col("doc_id") < 250),
      dir, "doc_id", "text", batchTag = Some(1L))
    Index.appendPostingsState(docs.filter(col("doc_id") >= 250),
      dir, "doc_id", "text", batchTag = Some(2L))
    // the snapshot cut must reach the scan as a PARTITION filter next to
    // the bucket pruning — an as-of read that post-filters a full-history
    // scan would make time travel cost the whole index at 100 TB
    val plan = graft.Plans.capturePlan(Index.postingsRead(
      spark, dir, Seq("dup", "vector", "window"), buckets = 64,
      asOf = Some((1L, 0L))))
    val scanLine = plan.linesIterator
      .filter(_.contains("PartitionFilters")).mkString("\n")
    assert(scanLine.contains("bucket") && scanLine.contains("batch_id"),
      s"as-of postings scan is not batch+bucket-pruned:\n$plan")
  }

  test("appendStatsState: cross-batch distinct unions, replay overwrites") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stats_state").toFile.getAbsolutePath
    val b1 = Seq((1L, "alpha beta", "s"), (2L, "gamma delta", "s"),
      (3L, "epsilon", "t")).toDF("doc_id", "text", "source")
    // batch 2 re-ships doc 1's CONTENT under a new id — per-batch exact
    // distinct counts would add to 3 for source s; the sketch union must
    // still say 2
    val b2 = Seq((10L, "alpha beta", "s")).toDF("doc_id", "text", "source")
    Profile.appendStatsState(b1, dir, "text", "source", Some(1L))
    Profile.appendStatsState(b2, dir, "text", "source", Some(2L))
    def report = Profile.statsReport(spark, dir).orderBy("grp")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(report == Seq(("s", 3L, 6L, 2L), ("t", 1L, 1L, 1L)))
    // tagged replay of batch 2 overwrites its partition - nothing doubles
    Profile.appendStatsState(b2, dir, "text", "source", Some(2L))
    assert(report == Seq(("s", 3L, 6L, 2L), ("t", 1L, 1L, 1L)))
  }

  test("nearDupPairsFromState: catches a planted near-dup, pairs stay cell-bounded") {
    import graft.Tables
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val state = emb.filter(col("vec_id") < 400)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_pairs").toFile.getAbsolutePath
    Similarity.appendIvfState(state, dir, k = 8, iters = 2)
    // plant: batch vector 9000 = state vector 7's embedding (cos = 1)
    val planted = emb.filter(col("vec_id") === 7L)
      .withColumn("vec_id", lit(9000L))
    val got = Similarity
      .nearDupPairsFromState(spark, dir, planted, threshold = 0.99)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((9000L, 7L)))
    // every returned pair must come from a probed cell of the state: the
    // pair relation against a high threshold excludes everything else
    val none = Similarity.nearDupPairsFromState(
      spark, dir, emb.filter(col("vec_id") >= 450), threshold = 0.999)
    assert(none.count() == 0)
  }

  test("leakageFreeSplitFromPairs assigns identically to leakageFreeSplit") {
    // the single-signature-pass variant must reproduce the recompute
    // path's assignment exactly (lshPairs' member pairs carry the same
    // connectivity + min-id labels as lshComponents' rep pairs + star)
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val fromDocs = Sampling
      .leakageFreeSplit(docs, "doc_id", "text", splits)
      .select("doc_id", "rep", "split")
      .as[(Long, Long, String)].collect().toSet
    val pairs = Dedup.lshPairs(docs, "doc_id", "text")
    val fromPairs = Sampling
      .leakageFreeSplitFromPairs(docs, pairs, "doc_id", splits)
      .select("doc_id", "rep", "split")
      .as[(Long, Long, String)].collect().toSet
    assert(fromPairs == fromDocs)
    assert(fromDocs.nonEmpty)
  }

  test("state appends fail fast on compaction remnants and orphaned tables") {
    import graft.Tables
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 50)
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 20).select(col("doc_id"), col("text"))
    def tmp(tag: String) = java.nio.file.Files
      .createTempDirectory(s"graft_guard_$tag").toFile.getAbsolutePath
    // IVF: a __compact_bak leftover means a compaction crashed mid-swap
    locally {
      val dir = tmp("ivf_bak")
      Similarity.appendIvfState(emb, dir, k = 4, iters = 1)
      java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(dir, "centroids__compact_bak"))
      val e = intercept[IllegalArgumentException](
        Similarity.appendIvfState(emb, dir, k = 4, iters = 1))
      assert(e.getMessage.contains("compact_bak"))
    }
    // IVF: cells without live centroids must refuse to retrain
    locally {
      val dir = tmp("ivf_orphan")
      Similarity.appendIvfState(emb, dir, k = 4, iters = 1)
      val cpath = java.nio.file.Paths.get(dir, "centroids")
      val moved = java.nio.file.Paths.get(dir, "centroids_gone")
      java.nio.file.Files.move(cpath, moved)
      val e = intercept[IllegalArgumentException](
        Similarity.appendIvfState(emb, dir, k = 4, iters = 1))
      assert(e.getMessage.contains("no (non-empty) centroids"))
    }
    // postings + stats: the same __compact_bak guard
    locally {
      val dir = tmp("postings_bak")
      Index.appendPostingsState(docs, dir, "doc_id", "text")
      java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(dir, "totals__compact_bak"))
      val e = intercept[IllegalArgumentException](
        Index.appendPostingsState(docs, dir, "doc_id", "text"))
      assert(e.getMessage.contains("compact_bak"))
    }
    locally {
      val dir = tmp("stats_bak")
      Profile.appendStatsState(docs, dir, "text", "doc_id")
      java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(dir, "stats__compact_bak"))
      val e = intercept[IllegalArgumentException](
        Profile.appendStatsState(docs, dir, "text", "doc_id"))
      assert(e.getMessage.contains("compact_bak"))
    }
  }

  test("deleteFromLshState: rebuild parity, ghost groups, replay, compaction") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val dir = java.nio.file.Files.createTempDirectory("graft-lshdel")
      .toFile.getAbsolutePath + "/state"
    val corpus = docsFrom(Seq(
      (1L, base),
      (2L, base), // exact dup group {1, 2}
      (3L, "a fully deleted document whose vocabulary is entirely its own"),
      (4L, "another corpus text sharing nothing with the rest of anything")))
    Dedup.appendLshState(corpus, "doc_id", "text", dir,
      numPerms = 16, rowsPerBand = 2, batchTag = Some(1L))
    // delete doc 1 (group {1,2} survives via 2) and doc 3 (group dies)
    Dedup.deleteFromLshState(spark, dir,
      Seq(1L, 3L).toDF("doc_id"), "doc_id", deleteTag = Some(1L))
    val batch = docsFrom(Seq(
      (10L, base.replace("today", "tomorrow")), // near-dup of the {1,2} group
      (11L, corpus.filter(col("doc_id") === 3L) // byte-equal to DELETED doc 3
        .select("text").as[String].head())))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("new_id", "old_id").as[(Long, Long)].collect().toSet
    val got = asSet(Dedup.incrementalLshPairsFromState(dir, batch,
      "doc_id", "text", numPerms = 16, rowsPerBand = 2, threshold = 0.5))
    // parity with a from-scratch state on the SURVIVING corpus
    val dir2 = java.nio.file.Files.createTempDirectory("graft-lshdel2")
      .toFile.getAbsolutePath + "/state"
    Dedup.appendLshState(corpus.filter(col("doc_id") =!= 1L &&
        col("doc_id") =!= 3L), "doc_id", "text", dir2,
      numPerms = 16, rowsPerBand = 2, batchTag = Some(1L))
    val rebuilt = asSet(Dedup.incrementalLshPairsFromState(dir2, batch,
      "doc_id", "text", numPerms = 16, rowsPerBand = 2, threshold = 0.5))
    assert(got == rebuilt,
      s"delete diverged from rebuild: only-del=${got.diff(rebuilt)} " +
        s"only-rebuild=${rebuilt.diff(got)}")
    // the near-dup still matches the surviving member, never the deleted
    // one; the byte-identical arrival of a fully-deleted doc matches NO
    // ghost
    assert(got.contains((10L, 2L)) && !got.exists(_._2 == 1L))
    assert(!got.exists(_._1 == 11L))
    // replayed tagged delete (at-least-once) changes nothing
    Dedup.deleteFromLshState(spark, dir,
      Seq(1L, 3L).toDF("doc_id"), "doc_id", deleteTag = Some(1L))
    assert(asSet(Dedup.incrementalLshPairsFromState(dir, batch,
      "doc_id", "text", numPerms = 16, rowsPerBand = 2, threshold = 0.5))
      == rebuilt)
    // compaction applies tombstones physically: member rows gone, reps of
    // dead groups gone, pair answers unchanged
    Dedup.compactLshState(spark, dir)
    val memberIds = spark.read.parquet(s"$dir/members")
      .select("id").as[Long].collect().toSet
    assert(memberIds == Set(2L, 4L))
    val repRids = spark.read.parquet(s"$dir/reps")
      .select("rid").as[Long].collect().toSet
    assert(!repRids.contains(3L), "dead group's rep survived compaction")
    assert(asSet(Dedup.incrementalLshPairsFromState(dir, batch,
      "doc_id", "text", numPerms = 16, rowsPerBand = 2, threshold = 0.5))
      == rebuilt)
  }

  test("deleteFromPostingsState: compaction applies tombstones, scores hold") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 120).select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-postdel")
      .toFile.getAbsolutePath + "/state"
    Index.appendPostingsState(docs, dir, "doc_id", "text",
      batchTag = Some(1L))
    Index.deleteFromPostingsState(spark, dir,
      docs.filter(pmod(col("doc_id"), lit(5)) === 2).select("doc_id"),
      "doc_id", deleteTag = Some(1L))
    val terms = Seq("dup", "vector", "window")
    def top = Index.bm25TopKFromState(spark, dir, terms, k = 10,
        idCol = "doc_id")
      .select("doc_id", "score", "rank").as[(Long, Double, Long)]
      .collect().toSeq.sortBy(_._3)
    val before = top
    // parity with a from-scratch state on the survivors
    val dir2 = java.nio.file.Files.createTempDirectory("graft-postdel2")
      .toFile.getAbsolutePath + "/state"
    Index.appendPostingsState(docs.filter(pmod(col("doc_id"), lit(5)) =!= 2),
      dir2, "doc_id", "text", batchTag = Some(1L))
    val rebuilt = Index.bm25TopKFromState(spark, dir2, terms, k = 10,
        idCol = "doc_id")
      .select("doc_id", "score", "rank").as[(Long, Double, Long)]
      .collect().toSeq.sortBy(_._3)
    assert(before == rebuilt)
    assert(before.nonEmpty && !before.exists(_._1 % 5 == 2))
    // compaction: deleted postings physically gone, answers unchanged;
    // the docs sidecar KEEPS its tombstoned rows — they are what lets a
    // replayed tagged delete re-derive its totals correction (below)
    Index.compactPostingsState(spark, dir)
    val postIds = spark.read.parquet(s"$dir/postings")
      .select("id").distinct().as[Long].collect().toSet
    assert(!postIds.exists(_ % 5 == 2), "deleted postings survived compaction")
    val docIds = spark.read.parquet(s"$dir/docs")
      .select("id").as[Long].collect().toSet
    assert(docIds.exists(_ % 5 == 2),
      "tombstoned sidecar rows must survive compaction (delete replay " +
        "needs them to recompute the totals correction)")
    assert(top == rebuilt)
    // at-least-once REPLAY of the tagged delete AFTER compaction: the
    // recomputed correction must overwrite delete_id=1 with the same
    // negative totals, not a (0, 0) row — scores and corpus constants
    // must be byte-stable under the replay
    Index.deleteFromPostingsState(spark, dir,
      docs.filter(pmod(col("doc_id"), lit(5)) === 2).select("doc_id"),
      "doc_id", deleteTag = Some(1L))
    assert(top == rebuilt,
      "replaying a tagged delete after compaction corrupted the state")
    val corr = spark.read.parquet(s"$dir/tomb_totals")
      .select("n_docs").as[Long].collect()
    assert(corr.length == 1 && corr.head < 0L,
      s"replayed delete wrote a zero/duplicated correction: ${corr.toSeq}")
  }

  test("deleteFromPostingsState: refuses a state whose sidecar misses batches") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 80).select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-postcov")
      .toFile.getAbsolutePath + "/state"
    Index.appendPostingsState(docs.filter(col("doc_id") < 40), dir,
      "doc_id", "text", batchTag = Some(1L))
    Index.appendPostingsState(docs.filter(col("doc_id") >= 40), dir,
      "doc_id", "text", batchTag = Some(2L))
    // simulate a pre-sidecar batch: its totals exist but its docs rows
    // don't — a delete of its ids would tombstone postings yet write a
    // ZERO totals correction, silently inflating N/avgdl forever
    val p = new org.apache.hadoop.fs.Path(s"$dir/docs/batch_id=2")
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    val e = intercept[IllegalArgumentException](
      Index.deleteFromPostingsState(spark, dir,
        docs.filter(col("doc_id") === 50).select("doc_id"), "doc_id",
        deleteTag = Some(1L)))
    assert(e.getMessage.contains("sidecar"))
  }

  test("ivfStateAudit: refuses empty probe sets and empty live states") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 60)
    val dir = java.nio.file.Files.createTempDirectory("graft-auditguard")
      .toFile.getAbsolutePath + "/state"
    Similarity.appendIvfState(emb, dir, k = 4, iters = 1,
      batchTag = Some(1L))
    // empty probe batch: avg(recall) would be NULL → a null
    // retrain_recommended that a gate reads as "fine" — refuse instead
    val e1 = intercept[IllegalArgumentException](
      Similarity.ivfStateAudit(spark, dir,
        emb.filter(col("vec_id") < 0)).collect())
    assert(e1.getMessage.contains("probe"))
    // fully-deleted state: nothing to audit
    Similarity.deleteFromIvfState(spark, dir, emb.select("vec_id"),
      "vec_id", deleteTag = Some(1L))
    val e2 = intercept[IllegalArgumentException](
      Similarity.ivfStateAudit(spark, dir,
        emb.filter(col("vec_id") < 5)).collect())
    assert(e2.getMessage.contains("live"))
  }

  test("reclusterIvfState: retrains on live corpus, swaps tables, keeps contracts") {
    import org.apache.spark.sql.DataFrame
    // x114's drifted shape in miniature: 4-cluster geometry for most
    // vectors, a drifted population (ids ≡ 8/9 mod 10, outside the seed
    // range) all near one off-center point → one frozen cell overloads
    val base = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id")).filter(col("vec_id") < 200)
    val shifted = pmod(col("vec_id"), lit(10)) >= 7 && col("vec_id") >= 20
    val emb = base.withColumn("embedding",
      transform(sequence(lit(1), lit(8)), j =>
        when(shifted, when(j === 1, lit(6.0)).otherwise(lit(0.0)))
          .otherwise(when(pmod(col("vec_id"), lit(8)) === pmod(j - 1, lit(8)),
            lit(4.0)).otherwise(lit(0.0)))
          + (pmod(graft.ext.PortableHash.md5Long(
              concat(col("vec_id").cast("string"), lit(":"), j.cast("string"))),
            lit(1000L)).cast("double") / 1000.0 - 0.5) * 0.5))
    val b1 = col("vec_id") < 8 || pmod(col("vec_id"), lit(10)) < 4
    val b3 = pmod(col("vec_id"), lit(10)) >= 7
    val dir = java.nio.file.Files.createTempDirectory("graft-recluster")
      .toFile.getAbsolutePath + "/state"
    Similarity.appendIvfState(emb.filter(b1), dir, k = 8, iters = 2,
      batchTag = Some(1L))
    Similarity.appendIvfState(emb.filter(!b1 && !b3), dir, k = 8, iters = 2,
      batchTag = Some(2L))
    Similarity.appendIvfState(emb.filter(!b1 && b3), dir, k = 8, iters = 2,
      batchTag = Some(3L))
    // delete a slice BEFORE reclustering: the new geometry must be
    // trained on the SURVIVORS only
    Similarity.deleteFromIvfState(spark, dir,
      emb.filter(pmod(col("vec_id"), lit(10)) === 5).select("vec_id"),
      "vec_id", deleteTag = Some(1L))
    val probes = emb.filter(col("vec_id") < 10)
    def maxHeavy(df: DataFrame): Double =
      df.agg(max(col("heavy_to_mean"))).head().getDouble(0)
    val auditBefore = Similarity.ivfStateAudit(spark, dir, probes,
      topK = 5, nProbe = 2, occupancyCeil = 2.0).collect()
    val heavyBefore = auditBefore.map(_.getAs[Double]("heavy_to_mean")).max
    assert(auditBefore.head.getAs[Boolean]("retrain_recommended"),
      s"drifted fixture must trip the audit (max heavy = $heavyBefore)")
    Similarity.reclusterIvfState(spark, dir)
    // geometry retrained on survivors: centroids == a from-scratch
    // deterministic train over the live vectors
    val survivors = emb.filter(pmod(col("vec_id"), lit(10)) =!= 5)
    val fromScratch = Similarity.kmeansCentroids(survivors, 8, 2)
      .select(col("cid"), col("c").cast("string"))
      .as[(Int, String)].collect().toSet
    val stored = spark.read.parquet(s"$dir/centroids")
      .select(col("cid"), col("c").cast("string"))
      .as[(Int, String)].collect().toSet
    assert(stored == fromScratch)
    // deleted vids are gone from the rewritten cells; batch_id survives
    val cells = spark.read.parquet(s"$dir/cells")
    assert(cells.columns.contains("batch_id"))
    assert(!cells.select("vid").as[Long].collect().exists(_ % 10 == 5))
    // retrieval parity: from-state == from-scratch kmeansIvfTopK on the
    // survivors (same seeds, steps, rounding — exact equality)
    def rows(df: DataFrame) =
      df.select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 4)).as[(Long, Long, Int, Double)]
        .collect().toSeq.sortBy(r => (r._1, r._3))
    val fromState = rows(Similarity.ivfTopKFromState(spark, dir, probes,
      topK = 3, nProbe = 2))
    val scratch = rows(Similarity.kmeansIvfTopK(survivors, probes,
      topK = 3, k = 8, iters = 2, nProbe = 2))
    assert(fromState == scratch && fromState.nonEmpty)
    // the audit must improve (the drifted mass now owns adapted cells)
    val heavyAfter = maxHeavy(Similarity.ivfStateAudit(spark, dir, probes,
      topK = 5, nProbe = 2, occupancyCeil = 2.0))
    info(s"max heavy_to_mean before=$heavyBefore after=$heavyAfter")
    assert(heavyAfter < heavyBefore)
    // a replayed old tagged append after the recluster overwrites its
    // partition against the NEW centroids — no duplication, reads stable
    val liveCount = Similarity.ivfTopKFromState(spark, dir, probes,
      topK = 3, nProbe = 2).count()
    Similarity.appendIvfState(emb.filter(!b1 && !b3), dir, k = 8, iters = 2,
      batchTag = Some(2L))
    assert(rows(Similarity.ivfTopKFromState(spark, dir, probes,
      topK = 3, nProbe = 2)) == fromState)
    assert(Similarity.ivfTopKFromState(spark, dir, probes,
      topK = 3, nProbe = 2).count() == liveCount)
    // crash remnant: a __compact_bak dir makes recluster/append refuse
    val bak = new org.apache.hadoop.fs.Path(s"$dir/cells__compact_bak")
    bak.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(bak)
    intercept[IllegalArgumentException](
      Similarity.reclusterIvfState(spark, dir))
    intercept[IllegalArgumentException](
      Similarity.appendIvfState(emb.filter(b1), dir, k = 8, iters = 2,
        batchTag = Some(9L)))
  }

  test("recluster crash recovery: restore the __compact_bak and the state works again") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 60)
    val dir = java.nio.file.Files.createTempDirectory("graft-swaprec")
      .toFile.getAbsolutePath + "/state"
    Similarity.appendIvfState(emb, dir, k = 4, iters = 1,
      batchTag = Some(1L))
    val probes = emb.filter(col("vec_id") < 5)
    def answers = Similarity.ivfTopKFromState(spark, dir, probes,
        topK = 3, nProbe = 2)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val before = answers
    // simulate a swap crash BETWEEN the two renames: live centroids moved
    // aside to __compact_bak, replacement never arrived
    val hconf = spark.sessionState.newHadoopConf()
    val livePath = new org.apache.hadoop.fs.Path(s"$dir/centroids")
    val bakPath = new org.apache.hadoop.fs.Path(s"$dir/centroids__compact_bak")
    val fs = livePath.getFileSystem(hconf)
    assert(fs.rename(livePath, bakPath))
    // every mutating entry point refuses the wreckage with the recovery
    // step in the message
    val e = intercept[IllegalArgumentException](
      Similarity.appendIvfState(emb, dir, k = 4, iters = 1,
        batchTag = Some(2L)))
    assert(e.getMessage.contains("restore"))
    intercept[IllegalArgumentException](
      Similarity.reclusterIvfState(spark, dir))
    // the documented recovery: move the backup over the live table —
    // after it, appends work and answers are exactly the pre-crash ones
    assert(fs.rename(bakPath, livePath))
    assert(answers == before)
    Similarity.appendIvfState(emb, dir, k = 4, iters = 1,
      batchTag = Some(1L)) // replay-shaped append goes through again
    assert(answers == before)
  }

  test("tokenizer state: frozen merges, incremental encode, budget/mix parity") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 120).select(col("doc_id"), col("text"))
    val b1 = docs.filter(col("doc_id") < 60)
    val b2 = docs.filter(col("doc_id") >= 60)
    val dir = java.nio.file.Files.createTempDirectory("graft-tokstate")
      .toFile.getAbsolutePath + "/state"
    Bpe.appendTokenizerState(b1, dir, "doc_id", "text", numMerges = 3,
      batchTag = Some(1L))
    Bpe.appendTokenizerState(b2, dir, "doc_id", "text", numMerges = 3,
      batchTag = Some(2L))
    // merges froze on batch 1: the stored list IS trainMerges(b1), and
    // batch 2's persisted counts are encodes under those merges — NOT a
    // retrain on batch 2 or on the union
    val stored = Bpe.readMerges(spark, dir)
    val fromB1 = Bpe.trainMerges(b1, "text", 3).orderBy("step")
      .select("left", "right").as[(String, String)].collect().toSeq
    assert(stored == fromB1)
    val persisted = Bpe.readDocTokens(spark, dir)
      .as[(Long, Long)].collect().toMap
    val recomputed = docs.select(col("doc_id"),
        Bpe.encodedSize(col("text"), stored).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(persisted == recomputed)
    // replaying a tagged append overwrites, never duplicates
    Bpe.appendTokenizerState(b2, dir, "doc_id", "text", numMerges = 3,
      batchTag = Some(2L))
    assert(Bpe.readDocTokens(spark, dir).count() == docs.count())
    // a different merge budget is a different unit — refuse
    val e = intercept[IllegalArgumentException](
      Bpe.appendTokenizerState(b2, dir, "doc_id", "text", numMerges = 5,
        batchTag = Some(3L)))
    assert(e.getMessage.contains("numMerges"))
    // budget-from-state == recompute over the same corpus and merges
    val quality = docs.select((col("doc_id") +:
      TextAnalysis.qualityColumns(col("text"))): _*)
      .select(col("doc_id"), col("quality_score"))
    def budgetRows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "bpe_tokens", "cum_tokens")
        .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val fromState = budgetRows(Bpe.tokenBudgetFromState(spark, dir,
      quality, "doc_id", "quality_score", budget = 5000L))
    val enc = docs.join(quality, "doc_id").select(col("doc_id"),
      col("quality_score"),
      Bpe.encodedSize(col("text"), stored).cast("long").as("bpe_tokens"))
    val recomputedBudget = budgetRows(Sampling.tokenBudget(enc, "doc_id",
      "bpe_tokens", "quality_score", budget = 5000L))
    assert(fromState == recomputedBudget && fromState.nonEmpty)
    // temperature mix from state == the tokenizing path with the same
    // frozen merges
    val groups = docs.select(col("doc_id"),
      (pmod(col("doc_id"), lit(3))).cast("string").as("grp"))
    def mixRows(df: org.apache.spark.sql.DataFrame) =
      df.select("grp", "n_docs", "tokens", "share_temp", "up_weight")
        .as[(String, Long, Long, Double, Double)].collect().toSeq.sorted
    val mixState = mixRows(Bpe.temperatureMixFromState(spark, dir,
      groups, "doc_id", "grp"))
    val mixRecompute = mixRows(Sampling.temperatureMix(
      docs.join(groups, "doc_id"), "text", "grp", merges = stored))
    assert(mixState == mixRecompute && mixState.nonEmpty)
    // deletes: tombstoned ids drop from every read; budget == recompute
    // on the SURVIVORS under the SAME frozen merges (never a retrain)
    Bpe.deleteFromTokenizerState(spark, dir,
      docs.filter(pmod(col("doc_id"), lit(4)) === 1).select("doc_id"),
      "doc_id", deleteTag = Some(1L))
    val surv = docs.filter(pmod(col("doc_id"), lit(4)) =!= 1)
    val afterDel = budgetRows(Bpe.tokenBudgetFromState(spark, dir,
      quality, "doc_id", "quality_score", budget = 5000L))
    val survBudget = budgetRows(Sampling.tokenBudget(
      surv.join(quality, "doc_id").select(col("doc_id"), col("quality_score"),
        Bpe.encodedSize(col("text"), stored).cast("long").as("bpe_tokens")),
      "doc_id", "bpe_tokens", "quality_score", budget = 5000L))
    assert(afterDel == survBudget && afterDel.nonEmpty)
    assert(!afterDel.exists(_._1 % 4 == 1))
    // compaction: tombstoned sidecar rows physically gone, answers and
    // frozen merges unchanged, delete replay afterwards still a no-op
    Bpe.compactTokenizerState(spark, dir)
    val sidecarIds = spark.read.parquet(s"$dir/doc_tokens")
      .select("id").as[Long].collect().toSet
    assert(!sidecarIds.exists(_ % 4 == 1))
    Bpe.deleteFromTokenizerState(spark, dir,
      docs.filter(pmod(col("doc_id"), lit(4)) === 1).select("doc_id"),
      "doc_id", deleteTag = Some(1L))
    assert(budgetRows(Bpe.tokenBudgetFromState(spark, dir, quality,
      "doc_id", "quality_score", budget = 5000L)) == survBudget)
    assert(Bpe.readMerges(spark, dir) == fromB1)
  }

  test("temperatureSampleFromState == recompute with the stored merges; deletes respected") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 120).select(col("doc_id"), col("text"),
        (pmod(col("doc_id"), lit(3))).cast("string").as("grp"))
    val dir = java.nio.file.Files.createTempDirectory("graft-toksample")
      .toFile.getAbsolutePath + "/state"
    Bpe.appendTokenizerState(docs.filter(col("doc_id") < 60), dir,
      "doc_id", "text", numMerges = 3, batchTag = Some(1L))
    Bpe.appendTokenizerState(docs.filter(col("doc_id") >= 60), dir,
      "doc_id", "text", numMerges = 3, batchTag = Some(2L))
    val stored = Bpe.readMerges(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("grp", "doc_id", "tokens", "cum_tokens")
        .as[(String, Long, Long, Long)].collect().toSeq.sorted
    val fromState = rows(Bpe.temperatureSampleFromState(spark, dir,
      docs.select(col("doc_id"), col("grp")), "doc_id", "grp",
      totalTokens = 3000L))
    val recomputed = rows(Sampling.temperatureSample(docs, "doc_id",
      "text", "grp", totalTokens = 3000L, merges = stored))
    assert(fromState == recomputed && fromState.nonEmpty)
    // deleted docs leave the shares AND the fill: parity with a
    // recompute over the survivors under the SAME frozen merges
    Bpe.deleteFromTokenizerState(spark, dir,
      docs.filter(pmod(col("doc_id"), lit(4)) === 1).select("doc_id"),
      "doc_id", deleteTag = Some(1L))
    val surv = docs.filter(pmod(col("doc_id"), lit(4)) =!= 1)
    val afterDel = rows(Bpe.temperatureSampleFromState(spark, dir,
      docs.select(col("doc_id"), col("grp")), "doc_id", "grp",
      totalTokens = 3000L))
    val survSample = rows(Sampling.temperatureSample(surv, "doc_id",
      "text", "grp", totalTokens = 3000L, merges = stored))
    assert(afterDel == survSample && afterDel.nonEmpty)
    assert(!afterDel.exists(_._2 % 4 == 1))
  }

  test("tokenizer state: empty first batch is a no-op, not a frozen-empty train") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 40).select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-tokempty")
      .toFile.getAbsolutePath + "/state"
    Bpe.appendTokenizerState(docs.filter(col("doc_id") < 0), dir,
      "doc_id", "text", numMerges = 3, batchTag = Some(1L))
    // nothing trained, nothing written — the next real batch trains
    assert(!graft.ext.StateIO.pathExists(spark, s"$dir/merges"))
    Bpe.appendTokenizerState(docs, dir, "doc_id", "text", numMerges = 3,
      batchTag = Some(2L))
    assert(Bpe.readMerges(spark, dir).nonEmpty)
    assert(Bpe.readDocTokens(spark, dir).count() == docs.count())
  }

  test("removeSpansToFixpoint: overlapping regions keep one copy of every gram") {
    // X = x1..x8 duplicated (doc 1 first, doc 2 copy); Y = x5..x8 u1..u4
    // duplicated (doc 2 FIRST, doc 3 copy) — in doc 2, Y's first
    // occurrence OVERLAPS X's non-first copy (suffix of X = prefix of Y).
    val x = (1 to 8).map(i => s"x$i").mkString(" ")
    val y = (5 to 8).map(i => s"x$i").mkString(" ") + " " +
      (1 to 4).map(i => s"u$i").mkString(" ")
    val docs = docsFrom(Seq(
      (1L, s"f1 f2 $x f3 f4"),
      (2L, s"$x u1 u2 u3 u4 g1 g2"),
      (3L, s"h1 h2 $y h3 h4")))
    def gramsOf(texts: Seq[String], n: Int): Set[String] = texts.flatMap { t =>
      val w = t.split(" ").toSeq
      if (w.size < n) Nil else w.sliding(n).map(_.mkString(" ")).toSeq
    }.toSet
    def dupGrams(texts: Seq[String], n: Int): Set[String] = {
      val all = texts.flatMap { t =>
        val w = t.split(" ").toSeq
        if (w.size < n) Nil else w.sliding(n).map(_.mkString(" ")).toSeq
      }
      all.groupBy(identity).filter(_._2.size >= 2).keySet
    }
    val origTexts = docs.select("text").as[String].collect().toSeq
    val origDup = dupGrams(origTexts, 5)
    assert(origDup.nonEmpty)
    // the single-pass keepFirst excision VIOLATES one-copy retention on
    // this fixture (the documented caveat this operator exists to close)
    val single = Dedup.removeSpans(docs, "doc_id", "text",
      Dedup.duplicateSpans(docs, "doc_id", "text", minLen = 5,
        keepFirst = true))
    val singleTexts = single.select("text_clean").as[String].collect().toSeq
    assert(origDup.exists(g => !gramsOf(singleTexts, 5).contains(g)),
      "fixture no longer demonstrates the single-pass caveat")
    // fixpoint with protection: every originally-duplicated gram keeps
    // at least one occurrence
    val fixed = Dedup.removeSpansToFixpoint(docs, "doc_id", "text",
      minLen = 5)
    val fixedTexts = fixed.select("text_clean").as[String].collect().toSeq
    val surviving = gramsOf(fixedTexts, 5)
    assert(origDup.forall(surviving.contains),
      s"lost grams: ${origDup.diff(surviving)}")
    // and it still deduplicates: doc 3's copy of Y is gone, doc 2's
    // non-first prefix of X is gone
    val byId = fixed.select("doc_id", "text_clean").as[(Long, String)]
      .collect().toMap
    assert(byId(1L) == s"f1 f2 $x f3 f4") // first occurrences untouched
    assert(byId(2L) == s"$y g1 g2")       // X's copy cut, Y's first kept
    assert(byId(3L) == "h1 h2 h3 h4")     // Y's copy cut
    // every doc comes back, with exact removal accounting
    assert(fixed.count() == 3)
    val acc = fixed.select("doc_id", "n_tokens", "n_removed")
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, r) => id -> ((n, r)) }.toMap
    assert(acc(2L) == ((14L, 4L)) && acc(3L) == ((12L, 8L)))
    // a zero-iteration budget refuses rather than silently under-cutting
    intercept[IllegalStateException](
      Dedup.removeSpansToFixpoint(docs, "doc_id", "text", minLen = 5,
        maxIter = 1))
  }

  test("trainQualityScorer separates a linearly-separable fixture") {
    val good = Seq("alpha", "beta", "gamma", "delta")
    val bad = Seq("zeta", "eta", "theta", "iota")
    val docs = (1L to 40L).map { i =>
      val words = if (i % 2 == 0) good else bad
      // vary the doc so buckets see different counts
      (i, (words ++ words.take((i % 3).toInt + 1)).mkString(" "))
    }
    val labeled = docsFrom(docs).withColumn("label",
      when(col("doc_id") % 2 === 0, 1L).otherwise(-1L))
    val sw = TextAnalysis.trainQualityScorer(
      labeled, "doc_id", "text", "label", epochs = 3)
    assert(sw.length == TextAnalysis.clfBuckets)
    val scored = labeled.select(
      (col("doc_id") +: col("label") +:
        TextAnalysis.scoreWithWeights(col("text"), sw)): _*)
    val wrong = scored
      .filter(col("clf_pred") =!= (col("label") === 1L)).count()
    assert(wrong == 0, s"$wrong of 40 misclassified on a separable fixture")
    // bounded-trainer contract: oversized labeled sets refuse with the
    // production pointer instead of silently collecting the corpus
    val e = intercept[IllegalArgumentException](
      TextAnalysis.trainQualityScorer(labeled, "doc_id", "text", "label",
        maxRows = 10))
    assert(e.getMessage.contains("hash-sample"))
  }

  test("deleteFromIvfState: ghosts stop matching, replay and compaction safe") {
    import graft.Tables
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfdel")
      .toFile.getAbsolutePath + "/state"
    Similarity.appendIvfState(emb.filter(col("vec_id") < 400), dir,
      k = 8, iters = 2, batchTag = Some(1L))
    // plant a batch vector identical to state vector 7, then DELETE 7:
    // the ghost must not reject the arrival
    val planted = emb.filter(col("vec_id") === 7L)
      .withColumn("vec_id", lit(9000L))
    assert(Similarity.nearDupPairsFromState(spark, dir, planted,
      threshold = 0.99).count() == 1)
    Similarity.deleteFromIvfState(spark, dir,
      Seq(7L).toDF("vec_id"), "vec_id", deleteTag = Some(1L))
    assert(Similarity.nearDupPairsFromState(spark, dir, planted,
      threshold = 0.99).count() == 0)
    // retrieval never returns the deleted vector
    def tops = Similarity.ivfTopKFromState(spark, dir,
        emb.filter(col("vec_id") < 5), topK = 10, nProbe = 8)
      .select("neighbor_id").as[Long].collect().toSet
    val t1 = tops
    assert(!t1.contains(7L))
    // replayed tagged delete is a no-op
    Similarity.deleteFromIvfState(spark, dir,
      Seq(7L).toDF("vec_id"), "vec_id", deleteTag = Some(1L))
    assert(tops == t1)
    // compaction removes the cell row physically, answers unchanged
    Similarity.compactIvfState(spark, dir)
    val vids = spark.read.parquet(s"$dir/cells")
      .select("vid").as[Long].collect().toSet
    assert(!vids.contains(7L), "deleted cell row survived compaction")
    assert(tops == t1)
  }

  test("deleteFromStatsState: exact count corrections, replay-safe") {
    import graft.Tables
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val dir = java.nio.file.Files.createTempDirectory("graft-statsdel")
      .toFile.getAbsolutePath + "/state"
    Profile.appendStatsState(docs, dir, "text", "source", Some(1L))
    val removed = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
    Profile.deleteFromStatsState(removed, dir, "text", "source", Some(1L))
    Profile.deleteFromStatsState(removed, dir, "text", "source", Some(1L)) // replay
    val got = Profile.statsReport(spark, dir)
      .select("grp", "n_docs", "tokens").as[(String, Long, Long)]
      .collect().map { case (k, a, b) => k -> ((a, b)) }.toMap
    val want = docs.filter(pmod(col("doc_id"), lit(3)) =!= 1)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(size(Dedup.tokens(col("text"))).cast("long")).as("t"))
      .as[(String, Long, Long)].collect()
      .map { case (k, a, b) => k -> ((a, b)) }.toMap
    assert(got == want)
  }

  test("temperatureMix rejects empty and all-null corpora with clear errors") {
    val empty = docsFrom(Nil).withColumn("source", lit("a"))
    val e1 = intercept[IllegalArgumentException](
      Sampling.temperatureMix(empty, "text", "source").collect())
    assert(e1.getMessage.contains("positive token count"))
    val nulls = docsFrom(Seq((1L, "x"), (2L, "y")))
      .withColumn("text", lit(null).cast("string"))
      .withColumn("source",
        when(col("doc_id") === 1L, "a").otherwise("b"))
    val e2 = intercept[IllegalArgumentException](
      Sampling.temperatureMix(nulls, "text", "source").collect())
    assert(e2.getMessage.contains("positive token count"))
  }

  test("temperatureMix validates alpha BEFORE any corpus pass") {
    // the text column detonates if any job ever evaluates it — an
    // invalid alpha must be rejected by the entry require, not after a
    // full tokenize/aggregate materializes (the round-13 ADVICE window)
    val booby = docsFrom(Seq((1L, "x"), (2L, "y")))
      .withColumn("text",
        when(lit(true), raise_error(lit("corpus pass ran before alpha " +
          "validation"))).otherwise(lit("z")).cast("string"))
      .withColumn("source", lit("a"))
    val e = intercept[IllegalArgumentException](
      Sampling.temperatureMix(booby, "text", "source", alpha = 1.5))
    assert(e.getMessage.contains("alpha"))
  }

  test("recluster swap: one commit point — crash leaves old fit or rolls forward, never a mix") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 120)
    val dir = java.nio.file.Files.createTempDirectory("graft-swapcommit")
      .toFile.getAbsolutePath + "/state"
    Similarity.appendIvfState(emb.filter(col("vec_id") < 60), dir,
      k = 4, iters = 1, batchTag = Some(1L))
    Similarity.appendIvfState(emb.filter(col("vec_id") >= 60), dir,
      k = 4, iters = 1, batchTag = Some(2L))
    val probes = emb.filter(col("vec_id") < 5)
    def answers = Similarity.ivfTopKFromState(spark, dir, probes,
        topK = 3, nProbe = 2)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    // the post-recluster truth: a from-scratch probe chain over the
    // full corpus (recluster trains on ALL live vectors)
    val wantAfter = Similarity.kmeansIvfTopK(emb, probes,
        topK = 3, k = 4, iters = 1, nProbe = 2)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val hconf = spark.sessionState.newHadoopConf()
    val marker = new org.apache.hadoop.fs.Path(dir, "_swap_commit")
    val fs = marker.getFileSystem(hconf)

    // crash EXACTLY in the round-13 ADVICE window: centroids applied,
    // cells not — the marker must gate every entry until roll-forward
    intercept[StateIO.InjectedCrash](
      Similarity.reclusterIvfState(spark, dir, crashAfterApplied = 1))
    assert(fs.exists(marker))
    val eRead = intercept[IllegalArgumentException](
      Similarity.ivfTopKFromState(spark, dir, probes, topK = 3, nProbe = 2)
        .collect())
    assert(eRead.getMessage.contains("recoverSwap") ||
      eRead.getMessage.contains("StatePillar.recover"))
    intercept[IllegalArgumentException](
      Similarity.appendIvfState(emb, dir, k = 4, iters = 1,
        batchTag = Some(3L)))
    intercept[IllegalArgumentException](
      Similarity.reclusterIvfState(spark, dir))
    // roll forward: the FULL new fit, bit-identical to an uncrashed run
    assert(StatePillar.Ivf.recover(spark, dir))
    assert(!fs.exists(marker))
    assert(answers == wantAfter)
    assert(!StatePillar.Ivf.recover(spark, dir)) // healthy dir: no-op

    // crash right AFTER the commit marker (nothing applied yet): the
    // staged fit is durable, recovery still lands the full new fit
    intercept[StateIO.InjectedCrash](
      Similarity.reclusterIvfState(spark, dir, crashAfterApplied = 0))
    assert(StatePillar.Ivf.recover(spark, dir))
    assert(answers == wantAfter)

    // crash after BOTH tables applied but before the marker clears —
    // and, on top of it, a manually constructed crashed-between-renames
    // state for `cells` (staged tmp present, old content at bak, live
    // missing): recovery rolls both forward idempotently
    intercept[StateIO.InjectedCrash](
      Similarity.reclusterIvfState(spark, dir, crashAfterApplied = 2))
    assert(fs.exists(marker))
    val live = new org.apache.hadoop.fs.Path(s"$dir/cells")
    val bak = new org.apache.hadoop.fs.Path(s"$dir/cells__compact_bak")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/cells__compact_tmp")
    assert(fs.rename(live, tmp)) // the staged new content
    fs.mkdirs(bak)               // the old content, moved aside pre-crash
    assert(StatePillar.Ivf.recover(spark, dir))
    assert(fs.exists(live) && !fs.exists(tmp) && !fs.exists(bak) &&
      !fs.exists(marker))
    assert(answers == wantAfter)
  }

  test("bm25 as-of: every snapshot equals a from-scratch index of the then-live corpus") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-asof")
      .toFile.getAbsolutePath + "/state"
    val b1 = docs.filter(col("doc_id") < 80)
    val b2 = docs.filter(col("doc_id") >= 80 && col("doc_id") < 160)
    Index.appendPostingsState(b1, dir, "doc_id", "text", batchTag = Some(1L))
    Index.appendPostingsState(b2, dir, "doc_id", "text", batchTag = Some(2L))
    Index.deleteFromPostingsState(spark, dir,
      docs.filter(pmod(col("doc_id"), lit(5)) === 1).select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    val terms = Seq("dup", "vector", "window")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), round(col("score"), 4), col("rank"))
        .as[(Long, Double, Long)].collect().toSeq.sortBy(_._3)
    // the full-history snapshot IS the current state
    assert(rows(Index.bm25TopKFromStateAsOf(spark, dir, terms, 10,
        asOfBatch = 2L, asOfDelete = 1L, idCol = "doc_id")) ==
      rows(Index.bm25TopKFromState(spark, dir, terms, 10, idCol = "doc_id")))
    // batch-1-only snapshot == a from-scratch index over batch 1's docs
    assert(rows(Index.bm25TopKFromStateAsOf(spark, dir, terms, 10,
        asOfBatch = 1L, asOfDelete = 0L, idCol = "doc_id")) ==
      rows(Index.bm25TopK(b1, "doc_id", "text", terms, 10)))
    // pre-delete snapshot == a from-scratch index over both batches
    assert(rows(Index.bm25TopKFromStateAsOf(spark, dir, terms, 10,
        asOfBatch = 2L, asOfDelete = 0L, idCol = "doc_id")) ==
      rows(Index.bm25TopK(b1.unionByName(b2), "doc_id", "text", terms, 10)))
    // the MIXED cut: the delete covered docs from BOTH batches, but the
    // (batch 1, delete 1) snapshot's corpus is b1 minus the deleted∩b1
    // slice — the batch-2 victims are outside the cut, so their totals
    // corrections must not subtract (src_batch attribution; without it
    // N/avgdl deflate and every score sags — the x134 t_floor bug)
    assert(rows(Index.bm25TopKFromStateAsOf(spark, dir, terms, 10,
        asOfBatch = 1L, asOfDelete = 1L, idCol = "doc_id")) ==
      rows(Index.bm25TopK(b1.filter(pmod(col("doc_id"), lit(5)) =!= 1),
        "doc_id", "text", terms, 10)))
    // untagged states carry no version identity: as-of refuses
    val untagged = java.nio.file.Files.createTempDirectory("graft-asof-u")
      .toFile.getAbsolutePath + "/state"
    Index.appendPostingsState(b1, untagged, "doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Index.bm25TopKFromStateAsOf(spark, untagged, terms, 10,
        asOfBatch = 1L).collect())
    assert(e.getMessage.contains("TAGGED"))
  }

  test("ivf/stats/budget as-of: every snapshot equals a fresh state built from that prefix") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val root = java.nio.file.Files.createTempDirectory("graft-asof3")
      .toFile.getAbsolutePath
    val db1 = docs.filter(col("doc_id") < 80)
    val db2 = docs.filter(col("doc_id") >= 80 && col("doc_id") < 160)
    val delSlice = docs.filter(pmod(col("doc_id"), lit(5)) === 1)
    val eb1 = emb.filter(col("vec_id") < 80)
    val eb2 = emb.filter(col("vec_id") >= 80 && col("vec_id") < 160)

    // IVF — full history state and a batch-1-only twin
    val (vs, vs1) = (s"$root/ivf", s"$root/ivf_b1")
    Similarity.appendIvfState(eb1, vs, k = 4, iters = 1, batchTag = Some(1L))
    Similarity.appendIvfState(eb2, vs, k = 4, iters = 1, batchTag = Some(2L))
    Similarity.deleteFromIvfState(spark, vs,
      emb.filter(pmod(col("vec_id"), lit(5)) === 1).select(col("vec_id")),
      "vec_id", deleteTag = Some(1L))
    Similarity.appendIvfState(eb1, vs1, k = 4, iters = 1, batchTag = Some(1L))
    val probes = emb.filter(col("vec_id") < 5)
    def annRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 4)).as[(Long, Long, Int, Double)]
        .collect().toSeq.sortBy(r => (r._1, r._3))
    assert(annRows(Similarity.ivfTopKFromStateAsOf(spark, vs, probes, 3,
        asOfBatch = 2L, asOfDelete = 1L)) ==
      annRows(Similarity.ivfTopKFromState(spark, vs, probes, 3)))
    assert(annRows(Similarity.ivfTopKFromStateAsOf(spark, vs, probes, 3,
        asOfBatch = 1L, asOfDelete = 0L)) ==
      annRows(Similarity.ivfTopKFromState(spark, vs1, probes, 3)))

    // stats — same contract
    val (ss, ss1) = (s"$root/stats", s"$root/stats_b1")
    Profile.appendStatsState(db1, ss, "text", "source", Some(1L))
    Profile.appendStatsState(db2, ss, "text", "source", Some(2L))
    Profile.deleteFromStatsState(delSlice.filter(col("doc_id") < 160),
      ss, "text", "source", Some(1L))
    Profile.appendStatsState(db1, ss1, "text", "source", Some(1L))
    def statRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("grp"), col("n_docs"), col("tokens"),
        col("distinct_est")).as[(String, Long, Long, Long)]
        .collect().toSeq.sortBy(_._1)
    assert(statRows(Profile.statsReportAsOf(spark, ss, 2L, 1L)) ==
      statRows(Profile.statsReport(spark, ss)))
    assert(statRows(Profile.statsReportAsOf(spark, ss, 1L, 0L)) ==
      statRows(Profile.statsReport(spark, ss1)))
    // MIXED cut with batch-ATTRIBUTED corrections (srcBatchCol): the
    // delete spans both batches, but the (batch 1, delete 1) snapshot
    // must subtract only the batch-1 victims' counts — equal to a fresh
    // state over batch 1's survivors (counts only: distinct_est is HLL,
    // estimates appended content, and cannot follow deletes)
    val ss2 = s"$root/stats_attr"
    Profile.appendStatsState(db1, ss2, "text", "source", Some(1L))
    Profile.appendStatsState(db2, ss2, "text", "source", Some(2L))
    Profile.deleteFromStatsState(
      delSlice.filter(col("doc_id") < 160).withColumn("src_b",
        when(col("doc_id") < 80, 1L).otherwise(2L)),
      ss2, "text", "source", Some(1L), srcBatchCol = Some("src_b"))
    val ss2Twin = s"$root/stats_attr_twin"
    Profile.appendStatsState(db1.filter(pmod(col("doc_id"), lit(5)) =!= 1),
      ss2Twin, "text", "source", Some(1L))
    def cntRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("grp"), col("n_docs"), col("tokens"))
        .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    // a source whose batch-1 docs were ALL deleted reports (grp, 0, 0)
    // in the state path (its group row survives with net-zero counts);
    // the from-scratch twin never saw the group — compare on survivors
    assert(cntRows(Profile.statsReportAsOf(spark, ss2, 1L, 1L))
        .filter(_._2 != 0L) ==
      cntRows(Profile.statsReport(spark, ss2Twin)),
      "attributed mixed cut must count exactly batch 1's survivors")
    // and the full-history snapshot still matches the current report
    assert(statRows(Profile.statsReportAsOf(spark, ss2, 2L, 1L)) ==
      statRows(Profile.statsReport(spark, ss2)))

    // tokenizer — merges froze on batch 1 in BOTH dirs, so the budget
    // snapshot equals the prefix twin exactly
    val (ts, ts1) = (s"$root/tok", s"$root/tok_b1")
    Bpe.appendTokenizerState(db1, ts, "doc_id", "text", numMerges = 3,
      batchTag = Some(1L))
    Bpe.appendTokenizerState(db2, ts, "doc_id", "text", numMerges = 3,
      batchTag = Some(2L))
    Bpe.deleteFromTokenizerState(spark, ts,
      delSlice.select(col("doc_id")), "doc_id", deleteTag = Some(1L))
    Bpe.appendTokenizerState(db1, ts1, "doc_id", "text", numMerges = 3,
      batchTag = Some(1L))
    val quality = docs.select(col("doc_id"),
      (col("doc_id") % 17).cast("double").as("q"))
    def budRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("bpe_tokens"), col("cum_tokens"))
        .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(budRows(Bpe.tokenBudgetFromStateAsOf(spark, ts, quality,
        "doc_id", "q", 4000L, asOfBatch = 2L, asOfDelete = 1L)) ==
      budRows(Bpe.tokenBudgetFromState(spark, ts, quality,
        "doc_id", "q", 4000L)))
    assert(budRows(Bpe.tokenBudgetFromStateAsOf(spark, ts, quality,
        "doc_id", "q", 4000L, asOfBatch = 1L, asOfDelete = 0L)) ==
      budRows(Bpe.tokenBudgetFromState(spark, ts1, quality,
        "doc_id", "q", 4000L)))

    // untagged states carry no version identity: every pillar refuses
    val uv = s"$root/ivf_untagged"
    Similarity.appendIvfState(eb1, uv, k = 4, iters = 1)
    val e = intercept[IllegalArgumentException](
      Similarity.ivfTopKFromStateAsOf(spark, uv, probes, 3,
        asOfBatch = 1L).collect())
    assert(e.getMessage.contains("TAGGED"))
  }

  test("hybridTopKFromState: fuses the two state legs; deletes drop out; one query only") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val root = java.nio.file.Files.createTempDirectory("graft-hybrid")
      .toFile.getAbsolutePath
    val (ps, vs) = (s"$root/postings", s"$root/ivf")
    Index.appendPostingsState(docs, ps, "doc_id", "text", batchTag = Some(1L))
    Similarity.appendIvfState(emb, vs, k = 4, iters = 1, batchTag = Some(1L))
    val q0 = emb.filter(col("vec_id") === 0)
    val terms = Seq("dup", "vector", "window")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), round(col("rrf"), 6), col("rank"))
        .as[(Long, Double, Long)].collect().toSeq.sortBy(_._3)
    val got = rows(Index.hybridTopKFromState(spark, ps, vs, terms, q0,
      k = 10, idCol = "doc_id"))
    // composition parity: exactly rrfFuse over the two from-state legs
    val lex = Index.bm25TopKFromState(spark, ps, terms, 20, idCol = "doc_id")
    val vec = Similarity.ivfTopKFromState(spark, vs, q0, topK = 20, nProbe = 2)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    assert(got == rows(Index.rrfFuse(lex, vec, "doc_id", 10)) && got.nonEmpty)
    // a doc deleted from BOTH pillars leaves hybrid answers immediately
    val top = got.head._1
    val topIds = spark.range(top, top + 1).select(col("id").as("doc_id"))
    Index.deleteFromPostingsState(spark, ps, topIds, "doc_id",
      deleteTag = Some(1L))
    Similarity.deleteFromIvfState(spark, vs, topIds, "doc_id",
      deleteTag = Some(1L))
    val after = rows(Index.hybridTopKFromState(spark, ps, vs, terms, q0,
      k = 10, idCol = "doc_id"))
    assert(!after.exists(_._1 == top) && after.nonEmpty)
    // rrfFuse ranks are global — two query vectors make them meaningless
    val e = intercept[IllegalArgumentException](
      Index.hybridTopKFromState(spark, ps, vs, terms,
        emb.filter(col("vec_id") < 2), k = 10, idCol = "doc_id"))
    assert(e.getMessage.contains("one query"))
  }

  test("crossPillarConsistency: empty on agreement, exact flagged rows on divergence") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 120)
    val root = java.nio.file.Files.createTempDirectory("graft-xpillar")
      .toFile.getAbsolutePath
    val (ls, ps, ts) = (s"$root/lsh", s"$root/postings", s"$root/tok")
    Dedup.appendLshState(docs, "doc_id", "text", ls, batchTag = Some(1L))
    Index.appendPostingsState(docs, ps, "doc_id", "text", batchTag = Some(1L))
    Bpe.appendTokenizerState(docs, ts, "doc_id", "text", numMerges = 3,
      batchTag = Some(1L))
    val sliceA = docs.filter(pmod(col("doc_id"), lit(7)) === 3)
      .select(col("doc_id"))
    Dedup.deleteFromLshState(spark, ls, sliceA, "doc_id", deleteTag = Some(1L))
    Index.deleteFromPostingsState(spark, ps, sliceA, "doc_id",
      deleteTag = Some(1L))
    Bpe.deleteFromTokenizerState(spark, ts, sliceA, "doc_id",
      deleteTag = Some(1L))
    def audit() = StateAudit.crossPillarConsistency(Seq(
      "lsh" -> StateAudit.lshLiveIds(spark, ls),
      "postings" -> StateAudit.postingsLiveIds(spark, ps),
      "tokenizer" -> StateAudit.tokenizerLiveIds(spark, ts)))
    // the same corpus and the same deletes everywhere: consistent
    assert(audit().count() == 0)
    // slice B reaches postings only — the audit must surface exactly
    // the B-survivors flagged (lsh=true, postings=false, tokenizer=true)
    val sliceB = docs.filter(pmod(col("doc_id"), lit(11)) === 5)
      .select(col("doc_id"))
    Index.deleteFromPostingsState(spark, ps, sliceB, "doc_id",
      deleteTag = Some(2L))
    val got = audit()
      .as[(Long, Boolean, Boolean, Boolean)].collect().toSeq
    val want = docs
      .filter(pmod(col("doc_id"), lit(7)) =!= 3 &&
        pmod(col("doc_id"), lit(11)) === 5)
      .select(col("doc_id")).as[Long].collect().toSeq.sorted
      .map(id => (id, true, false, true))
    assert(got == want && got.nonEmpty)
    // guardrails: ≥ 2 pillars, unique names
    intercept[IllegalArgumentException](StateAudit.crossPillarConsistency(
      Seq("lsh" -> StateAudit.lshLiveIds(spark, ls))))
    intercept[IllegalArgumentException](StateAudit.crossPillarConsistency(
      Seq("a" -> StateAudit.lshLiveIds(spark, ls),
        "a" -> StateAudit.postingsLiveIds(spark, ps))))
  }

  test("swapInTables never deletes a pre-existing __compact_bak (fails fast instead)") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 40)
    val dir = java.nio.file.Files.createTempDirectory("graft-swapbak")
      .toFile.getAbsolutePath + "/state"
    Similarity.appendIvfState(emb, dir, k = 4, iters = 1,
      batchTag = Some(1L))
    // a bak left by a crashed compaction is the ONLY recovery copy —
    // the old swapInTable silently destroyed it at entry
    val bak = new org.apache.hadoop.fs.Path(s"$dir/cells__compact_bak")
    val fs = bak.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(bak)
    val sentinel = new org.apache.hadoop.fs.Path(bak, "recovery-copy")
    fs.create(sentinel, true).close()
    intercept[IllegalArgumentException](
      Similarity.reclusterIvfState(spark, dir))
    assert(fs.exists(sentinel),
      "the backup (and its contents) must survive the refused swap")
  }

  test("deleteEverywhere: one tag, five pillars; a crashed delete completes by replay") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .filter(col("doc_id") < 120)
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 60)
    val root = java.nio.file.Files.createTempDirectory("graft-deleverywhere")
      .toFile.getAbsolutePath
    val (ls, ps, ts, ss, vs) =
      (s"$root/lsh", s"$root/postings", s"$root/tok", s"$root/stats",
        s"$root/ivf")
    Dedup.appendLshState(docs, "doc_id", "text", ls, batchTag = Some(1L))
    Index.appendPostingsState(docs, ps, "doc_id", "text", batchTag = Some(1L))
    Bpe.appendTokenizerState(docs, ts, "doc_id", "text", numMerges = 3,
      batchTag = Some(1L))
    Profile.appendStatsState(docs, ss, "text", "source", Some(1L))
    Similarity.appendIvfState(emb, vs, k = 4, iters = 1, batchTag = Some(1L))
    val slice = docs.filter(pmod(col("doc_id"), lit(5)) === 2)
    val vids = emb.filter(pmod(col("vec_id"), lit(5)) === 2)
      .select(col("vec_id"))
    def deleteAll(crashAfter: Int): Unit =
      StateAudit.deleteEverywhere(spark, slice, "doc_id", "text", "source",
        ls, ps, ts, deleteTag = 1L, statsDir = Some(ss),
        ivf = Some((vs, vids, "vec_id")),
        crashAfterPillars = crashAfter)
    // crash after the three doc pillars: stats and ivf never saw the
    // delete — the doc-pillar audit agrees (all three applied) but the
    // stats report still counts the deleted docs
    intercept[StateIO.InjectedCrash](deleteAll(3))
    assert(StateAudit.crossPillarConsistency(Seq(
      "lsh" -> StateAudit.lshLiveIds(spark, ls),
      "postings" -> StateAudit.postingsLiveIds(spark, ps),
      "tokenizer" -> StateAudit.tokenizerLiveIds(spark, ts))).count() == 0)
    val preDocs = Profile.statsReport(spark, ss)
      .agg(sum(col("n_docs"))).head().getLong(0)
    assert(preDocs == 120L, "stats must still count the deleted docs")
    // the REPLAY: same call, same tag — finished pillars overwrite
    // identically, missed pillars apply
    deleteAll(-1)
    val postDocs = Profile.statsReport(spark, ss)
      .agg(sum(col("n_docs"))).head().getLong(0)
    val survivors = 120L - slice.count()
    assert(postDocs == survivors)
    // ivf: deleted vids stopped answering
    val probe = emb.filter(col("vec_id") === 0)
    val ids = Similarity.ivfTopKFromState(spark, vs, probe, topK = 20,
        nProbe = 4).select("neighbor_id").as[Long].collect().toSet
    assert(ids.forall(_ % 5 != 2))
    // and a second full replay is a no-op (idempotent end to end)
    deleteAll(-1)
    assert(Profile.statsReport(spark, ss)
      .agg(sum(col("n_docs"))).head().getLong(0) == survivors)
  }

  test("postings truncate: >=floor snapshots survive, sub-floor refuses") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-gc")
      .toFile.getAbsolutePath + "/state"
    Index.appendPostingsState(docs.filter(col("doc_id") < 60), dir,
      "doc_id", "text", batchTag = Some(1L))
    Index.appendPostingsState(
      docs.filter(col("doc_id") >= 60 && col("doc_id") < 120), dir,
      "doc_id", "text", batchTag = Some(2L))
    Index.appendPostingsState(docs.filter(col("doc_id") >= 120), dir,
      "doc_id", "text", batchTag = Some(3L))
    Index.deleteFromPostingsState(spark, dir,
      docs.filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    val terms = Seq("dup", "vector")
    def snap(b: Long, d: Long) =
      Index.bm25TopKFromStateAsOf(spark, dir, terms, k = 10, asOfBatch = b,
          asOfDelete = d, idCol = "doc_id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSeq
    val preFloor = snap(2L, 2L)
    val preCurrent = snap(3L, 2L)
    StatePillar.Postings.truncate(spark, dir, floor = 2L)
    assert(snap(2L, 2L) == preFloor, "the floor version must survive GC")
    assert(snap(3L, 2L) == preCurrent, "the current version must survive GC")
    assert(Index.bm25TopKFromState(spark, dir, terms, k = 10,
        idCol = "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .toSeq == preCurrent)
    // the collapsed layout really collapsed: one sub-floor partition each
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def tags(table: String, tagCol: String): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$table")).toSeq
        .map(_.getPath.getName).filter(_.startsWith(s"$tagCol="))
    assert(tags("postings", "batch_id").sorted ==
      Seq("batch_id=2", "batch_id=3"))
    assert(tags("tombstones", "delete_id") == Seq("delete_id=2"))
    // refusals: sub-floor as-of (either bound), sub-floor writes,
    // untagged writes, a lower floor, an out-of-range floor
    def refuses(f: => Unit): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("floor"), e.getMessage)
    }
    refuses(snap(1L, 2L))
    refuses(snap(2L, 1L))
    refuses(Index.appendPostingsState(docs.limit(1), dir, "doc_id", "text",
      batchTag = Some(2L)))
    refuses(Index.appendPostingsState(docs.limit(1), dir, "doc_id", "text"))
    refuses(Index.deleteFromPostingsState(spark, dir,
      docs.limit(1).select(col("doc_id")), "doc_id", deleteTag = Some(2L)))
    refuses(StatePillar.Postings.truncate(spark, dir, floor = 1L))
    intercept[IllegalArgumentException](
      StatePillar.Postings.truncate(spark, dir, floor = 9L))
    // life goes on above the floor: append batch 4, delete tag 3, compact
    Index.appendPostingsState(docs.filter(col("doc_id") < 20), dir,
      "doc_id", "text", batchTag = Some(4L))
    Index.deleteFromPostingsState(spark, dir,
      docs.filter(col("doc_id") === 130).select(col("doc_id")), "doc_id",
      deleteTag = Some(3L))
    Index.compactPostingsState(spark, dir)
    assert(Index.bm25TopKFromState(spark, dir, terms, k = 5,
      idCol = "doc_id").count() == 5)
  }

  test("liveIdsAsOf + snapshotDiff: exact deltas per pillar, empty on same version") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
    val root = java.nio.file.Files.createTempDirectory("graft-snapdiff")
      .toFile.getAbsolutePath
    val (ls, ts) = (s"$root/lsh", s"$root/tok")
    val b1 = docs.filter(col("doc_id") < 50)
    val b2 = docs.filter(col("doc_id") >= 50)
    Dedup.appendLshState(b1, "doc_id", "text", ls, batchTag = Some(1L))
    Dedup.appendLshState(b2, "doc_id", "text", ls, batchTag = Some(2L))
    Bpe.appendTokenizerState(b1, ts, "doc_id", "text", numMerges = 3,
      batchTag = Some(1L))
    Bpe.appendTokenizerState(b2, ts, "doc_id", "text", numMerges = 3,
      batchTag = Some(2L))
    val del = docs.filter(pmod(col("doc_id"), lit(9)) === 1)
      .select(col("doc_id"))
    Dedup.deleteFromLshState(spark, ls, del, "doc_id", deleteTag = Some(1L))
    Bpe.deleteFromTokenizerState(spark, ts, del, "doc_id",
      deleteTag = Some(1L))
    for (dir <- Seq(ls, ts)) {
      def ids(b: Long, d: Long) = dir match {
        case `ls` => StateAudit.lshLiveIdsAsOf(spark, dir, b, d)
        case _ => StateAudit.tokenizerLiveIdsAsOf(spark, dir, b, d)
      }
      val diff1 = StateAudit.snapshotDiff(ids(1L, 0L), ids(2L, 0L))
        .as[(Long, String)].collect().toSeq
      assert(diff1 == (50L until 100L).map(i => (i, "added")))
      val diff2 = StateAudit.snapshotDiff(ids(2L, 0L), ids(2L, 1L))
        .as[(Long, String)].collect().toSeq
      assert(diff2 == (0L until 100L).filter(_ % 9 == 1)
        .map(i => (i, "removed")))
      assert(StateAudit.snapshotDiff(ids(2L, 1L), ids(2L, 1L)).count() == 0)
    }
  }

  test("mmrTopKFromState: lambda=1 is relevance order; low lambda rejects a dup pile") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 40)
    // plant a pile of byte-identical copies of vector 1's embedding
    val copies = emb.filter(col("vec_id") === 1)
      .crossJoin(spark.range(1000, 1010).select(col("id")))
      .select(col("id").as("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft-mmr")
      .toFile.getAbsolutePath + "/state"
    Similarity.appendIvfState(
      emb.select(col("vec_id"), col("embedding")).unionByName(copies),
      dir, k = 4, iters = 1, batchTag = Some(1L))
    val q = emb.filter(col("vec_id") === 1)
    // lambda = 1: plain relevance — identical ids in identical order
    val plain = Similarity.ivfTopKFromState(spark, dir, q, topK = 5,
        nProbe = 2).orderBy("rank")
      .select("neighbor_id").as[Long].collect().toSeq
    val atOne = Similarity.mmrTopKFromState(spark, dir, q, k = 5,
        lambda = 1.0, candK = 20, nProbe = 2).orderBy("rank")
      .select("neighbor_id").as[Long].collect().toSeq
    assert(atOne == plain)
    assert(plain.count(_ >= 1000L) == 5,
      "the dup pile should fill plain top-5 (cos = 1 each)")
    // low lambda: after one copy, every other copy scores
    // 0.3·1 − 0.7·1 < any distinct vector — at most one copy survives
    val diverse = Similarity.mmrTopKFromState(spark, dir, q, k = 5,
        lambda = 0.3, candK = 20, nProbe = 2)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(diverse.count(_ >= 1000L) == 1,
      s"MMR must keep exactly one of the planted copies, got $diverse")
    assert(diverse.distinct.size == 5)
    // guards
    intercept[IllegalArgumentException](Similarity.mmrTopKFromState(
      spark, dir, q, k = 5, lambda = 1.5))
    intercept[IllegalArgumentException](Similarity.mmrTopKFromState(
      spark, dir, q, k = 5, lambda = 0.5, candK = 3))
    intercept[IllegalArgumentException](Similarity.mmrTopKFromState(
      spark, dir, q, k = 2, lambda = 0.5, candK = 10, maxCandidates = 3))
  }

  test("phraseSearchFromState: batch parity, tombstones, as-of, compaction, refusal") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 200)
    val dir = java.nio.file.Files.createTempDirectory("graft-phrasestate")
      .toFile.getAbsolutePath + "/state"
    Index.appendPostingsState(docs.filter(col("doc_id") < 100), dir,
      "doc_id", "text", batchTag = Some(1L), positions = true)
    Index.appendPostingsState(docs.filter(col("doc_id") >= 100), dir,
      "doc_id", "text", batchTag = Some(2L), positions = true)
    Index.deleteFromPostingsState(spark, dir,
      docs.filter(pmod(col("doc_id"), lit(9)) === 2).select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    val phrase = Seq("key", "agg")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    val survivors = docs.filter(pmod(col("doc_id"), lit(9)) =!= 2)
    val wantCur = rows(Index.phraseSearch(survivors, "doc_id", "text", phrase))
    assert(wantCur.nonEmpty)
    assert(rows(Index.phraseSearchFromState(spark, dir, phrase,
      idCol = "doc_id")) == wantCur)
    val wantB1 = rows(Index.phraseSearch(docs.filter(col("doc_id") < 100),
      "doc_id", "text", phrase))
    assert(rows(Index.phraseSearchFromStateAsOf(spark, dir, phrase,
      asOfBatch = 1L, asOfDelete = 0L, idCol = "doc_id")) == wantB1)
    // compaction rewrites the positions sidecar too; answers unchanged
    Index.compactPostingsState(spark, dir)
    assert(rows(Index.phraseSearchFromState(spark, dir, phrase,
      idCol = "doc_id")) == wantCur)
    // a positions-less state refuses with the rebuild remedy
    val bare = java.nio.file.Files.createTempDirectory("graft-phrasebare")
      .toFile.getAbsolutePath + "/state"
    Index.appendPostingsState(docs.filter(col("doc_id") < 50), bare,
      "doc_id", "text", batchTag = Some(1L))
    val e = intercept[IllegalStateException](
      Index.phraseSearchFromState(spark, bare, phrase, idCol = "doc_id")
        .head(1))
    assert(e.getMessage.contains("positions"))
  }

  test("cappedTemperatureMix: water-fill fixpoint invariants and degenerate caps") {
    def rep(n: Int) = Seq.fill(n)("t").mkString(" ")
    val docs = Seq(
      (1L, rep(1000), "a"), (2L, rep(100), "b"),
      (3L, rep(10), "c"), (4L, rep(1), "d")).toDF("doc_id", "text", "source")
    val got = Sampling.cappedTemperatureMix(docs, "text", "source",
        maxUpMilli = 1500L)
      .as[(String, Long, Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(got.map(_._1) == Seq("a", "b", "c", "d"))
    val sumFinal = got.map(_._6).sum
    assert(sumFinal <= 1000000L && sumFinal >= 1000000L - got.size,
      s"final shares must sum to 1e6 minus at most |sources| ppm of " +
        s"floor dust, got $sumFinal")
    got.foreach { r =>
      if (r._7) assert(r._6 == r._5, s"capped source ${r._1} must sit at its cap")
      else assert(r._6 <= r._5, s"uncapped source ${r._1} above its cap")
    }
    // sqrt flattening hands the tiny sources >1.5x up-weights — they cap
    assert(got.filter(r => r._1 == "c" || r._1 == "d").forall(_._7))
    assert(!got.head._7, "the dominant source cannot be above 1.5x natural")
    // a sky-high cap never binds: finals equal the uncapped temp shares
    val free = Sampling.cappedTemperatureMix(docs, "text", "source",
        maxUpMilli = 1000000L)
      .as[(String, Long, Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(free.forall(r => !r._7 && r._6 == r._4))
    // guards
    intercept[IllegalArgumentException](Sampling.cappedTemperatureMix(
      docs, "text", "source", maxUpMilli = 0L))
    intercept[IllegalArgumentException](Sampling.cappedTemperatureMix(
      docs, "text", "source", maxUpMilli = 1500L, alpha = 2.0))
    intercept[IllegalArgumentException](Sampling.cappedTemperatureMix(
      docs.filter(col("doc_id") < 0), "text", "source", maxUpMilli = 1500L))
  }

  // shared refusal matcher for the history-floor contract
  private def refusesFloor(f: => Unit): Unit = {
    val e = intercept[IllegalArgumentException](f)
    assert(e.getMessage.contains("floor"), e.getMessage)
  }

  private def partitionTags(dir: String, table: String, tagCol: String)
      : Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$table")).toSeq
      .map(_.getPath.getName).filter(_.startsWith(s"$tagCol=")).sorted
  }

  test("lsh truncate: >=floor pair snapshots survive, sub-floor refuses") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-gc")
      .toFile.getAbsolutePath + "/state"
    Dedup.appendLshState(docs.filter(col("doc_id") < 150), "doc_id", "text",
      dir, batchTag = Some(1L))
    Dedup.appendLshState(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), "doc_id",
      "text", dir, batchTag = Some(2L))
    Dedup.appendLshState(
      docs.filter(col("doc_id") >= 300 && col("doc_id") < 450), "doc_id",
      "text", dir, batchTag = Some(3L))
    Dedup.deleteFromLshState(spark, dir,
      docs.filter(col("doc_id") < 450 && pmod(col("doc_id"), lit(3)) === 1)
        .select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    val batch = docs.filter(col("doc_id") >= 450)
    def snap(b: Long, d: Long) =
      Dedup.incrementalLshPairsFromState(dir, batch, "doc_id", "text",
          asOf = Some((b, d)))
        .select(col("new_id"), col("old_id"), round(col("jaccard"), 4))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sorted
    val preFloor = snap(2L, 2L)
    val preCurrent = snap(3L, 2L)
    assert(preCurrent.nonEmpty, "the fixture must produce near-dup pairs")
    StatePillar.Lsh.truncate(spark, dir, floor = 2L)
    assert(snap(2L, 2L) == preFloor, "the floor version must survive GC")
    assert(snap(3L, 2L) == preCurrent, "the current version must survive GC")
    assert(partitionTags(dir, "reps", "batch_id") ==
      Seq("batch_id=2", "batch_id=3"))
    assert(partitionTags(dir, "bands", "batch_id") ==
      Seq("batch_id=2", "batch_id=3"))
    assert(partitionTags(dir, "members", "batch_id") ==
      Seq("batch_id=2", "batch_id=3"))
    assert(partitionTags(dir, "tombstones", "delete_id") ==
      Seq("delete_id=2"))
    refusesFloor(snap(1L, 2L))
    refusesFloor(snap(2L, 1L))
    refusesFloor(Dedup.appendLshState(docs.limit(1), "doc_id", "text", dir,
      batchTag = Some(2L)))
    refusesFloor(Dedup.appendLshState(docs.limit(1), "doc_id", "text", dir))
    refusesFloor(Dedup.deleteFromLshState(spark, dir,
      docs.limit(1).select(col("doc_id")), "doc_id", deleteTag = Some(2L)))
    refusesFloor(StatePillar.Lsh.truncate(spark, dir, floor = 1L))
    intercept[IllegalArgumentException](
      StatePillar.Lsh.truncate(spark, dir, floor = 9L))
    // life goes on above the floor: append batch 4, delete tag 3, compact
    Dedup.appendLshState(docs.filter(col("doc_id") >= 450), "doc_id",
      "text", dir, batchTag = Some(4L))
    Dedup.deleteFromLshState(spark, dir,
      docs.filter(col("doc_id") === 460).select(col("doc_id")), "doc_id",
      deleteTag = Some(3L))
    Dedup.compactLshState(spark, dir)
    assert(Dedup.incrementalLshPairsFromState(dir,
      docs.filter(col("doc_id") < 10), "doc_id", "text",
      excludeTag = Some(4L)).count() >= 0)
  }

  test("ivf truncate: >=floor probe snapshots survive, sub-floor refuses") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-gc")
      .toFile.getAbsolutePath + "/state"
    Similarity.appendIvfState(emb.filter(col("vec_id") < 150), dir,
      k = 8, iters = 2, batchTag = Some(1L))
    Similarity.appendIvfState(
      emb.filter(col("vec_id") >= 150 && col("vec_id") < 300), dir,
      k = 8, iters = 2, batchTag = Some(2L))
    Similarity.appendIvfState(emb.filter(col("vec_id") >= 300), dir,
      k = 8, iters = 2, batchTag = Some(3L))
    Similarity.deleteFromIvfState(spark, dir,
      emb.filter(pmod(col("vec_id"), lit(5)) === 2).select(col("vec_id")),
      "vec_id", deleteTag = Some(1L))
    val probes = emb.filter(col("vec_id") < 5)
    def snap(b: Long, d: Long) =
      Similarity.ivfTopKFromStateAsOf(spark, dir, probes, topK = 5,
          asOfBatch = b, asOfDelete = d)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cos"), 6))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSeq.sorted
    val preFloor = snap(2L, 2L)
    val preCurrent = snap(3L, 2L)
    assert(preCurrent.nonEmpty)
    StatePillar.Ivf.truncate(spark, dir, floor = 2L)
    assert(snap(2L, 2L) == preFloor, "the floor version must survive GC")
    assert(snap(3L, 2L) == preCurrent, "the current version must survive GC")
    assert(partitionTags(dir, "cells", "batch_id") ==
      Seq("batch_id=2", "batch_id=3"))
    assert(partitionTags(dir, "tombstones", "delete_id") ==
      Seq("delete_id=2"))
    refusesFloor(snap(1L, 2L))
    refusesFloor(snap(2L, 1L))
    refusesFloor(Similarity.appendIvfState(emb.limit(1), dir, k = 8,
      iters = 2, batchTag = Some(2L)))
    refusesFloor(Similarity.appendIvfState(emb.limit(1), dir, k = 8,
      iters = 2))
    refusesFloor(Similarity.deleteFromIvfState(spark, dir,
      emb.limit(1).select(col("vec_id")), "vec_id", deleteTag = Some(2L)))
    refusesFloor(StatePillar.Ivf.truncate(spark, dir, floor = 1L))
    // life goes on: append batch 4, delete tag 3, compact, recluster
    Similarity.appendIvfState(emb.filter(col("vec_id") < 20), dir, k = 8,
      iters = 2, batchTag = Some(4L))
    Similarity.deleteFromIvfState(spark, dir,
      emb.filter(col("vec_id") === 7).select(col("vec_id")), "vec_id",
      deleteTag = Some(3L))
    Similarity.compactIvfState(spark, dir)
    assert(Similarity.ivfTopKFromState(spark, dir, probes, topK = 3)
      .count() > 0)
  }

  test("stats truncate: >=floor report folds survive, sub-floor refuses") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val dir = java.nio.file.Files.createTempDirectory("graft-stats-gc")
      .toFile.getAbsolutePath + "/state"
    Profile.appendStatsState(docs.filter(col("doc_id") < 150), dir,
      "text", "source", Some(1L))
    Profile.appendStatsState(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), dir,
      "text", "source", Some(2L))
    Profile.appendStatsState(docs.filter(col("doc_id") >= 300), dir,
      "text", "source", Some(3L))
    // batch-attributed delete: mixed as-of cuts stay exact under GC
    Profile.deleteFromStatsState(
      docs.filter(pmod(col("doc_id"), lit(7)) === 3)
        .withColumn("src_batch",
          when(col("doc_id") < 150, 1L)
            .when(col("doc_id") < 300, 2L).otherwise(3L)),
      dir, "text", "source", Some(1L), Some("src_batch"))
    def snap(b: Long, d: Long) =
      Profile.statsReportAsOf(spark, dir, b, d)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted
    val preFloor = snap(2L, 2L)
    val preCurrent = snap(3L, 2L)
    assert(preCurrent.nonEmpty)
    StatePillar.Stats.truncate(spark, dir, floor = 2L)
    assert(snap(2L, 2L) == preFloor, "the floor version must survive GC")
    assert(snap(3L, 2L) == preCurrent, "the current version must survive GC")
    assert(partitionTags(dir, "stats", "batch_id") ==
      Seq("batch_id=2", "batch_id=3"))
    assert(partitionTags(dir, "stats_deltas", "delete_id") ==
      Seq("delete_id=2"))
    refusesFloor(snap(1L, 2L))
    refusesFloor(snap(2L, 1L))
    refusesFloor(Profile.appendStatsState(docs.limit(1), dir, "text",
      "source", Some(2L)))
    refusesFloor(Profile.appendStatsState(docs.limit(1), dir, "text",
      "source"))
    refusesFloor(Profile.deleteFromStatsState(docs.limit(1), dir, "text",
      "source", Some(2L)))
    refusesFloor(StatePillar.Stats.truncate(spark, dir, floor = 1L))
    // life goes on: append batch 4, delete tag 3, compact
    Profile.appendStatsState(docs.filter(col("doc_id") < 20), dir, "text",
      "source", Some(4L))
    Profile.deleteFromStatsState(docs.filter(col("doc_id") === 5), dir,
      "text", "source", Some(3L))
    Profile.compactStatsState(spark, dir)
    assert(Profile.statsReport(spark, dir).count() > 0)
  }

  test("tokenizer truncate: >=floor budgets survive, sub-floor refuses") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-tok-gc")
      .toFile.getAbsolutePath + "/state"
    Bpe.appendTokenizerState(docs.filter(col("doc_id") < 150), dir,
      "doc_id", "text", numMerges = 3, batchTag = Some(1L))
    Bpe.appendTokenizerState(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), dir,
      "doc_id", "text", numMerges = 3, batchTag = Some(2L))
    Bpe.appendTokenizerState(docs.filter(col("doc_id") >= 300), dir,
      "doc_id", "text", numMerges = 3, batchTag = Some(3L))
    Bpe.deleteFromTokenizerState(spark, dir,
      docs.filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    val quality = docs.select(col("doc_id"),
      length(col("text")).cast("double").as("q"))
    def snap(b: Long, d: Long) =
      Bpe.tokenBudgetFromStateAsOf(spark, dir, quality, "doc_id", "q",
          budget = 20000L, asOfBatch = b, asOfDelete = d)
        .select(col("doc_id"), col("bpe_tokens"), col("cum_tokens"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
    val preFloor = snap(2L, 2L)
    val preCurrent = snap(3L, 2L)
    assert(preCurrent.nonEmpty)
    StatePillar.Tokenizer.truncate(spark, dir, floor = 2L)
    assert(snap(2L, 2L) == preFloor, "the floor version must survive GC")
    assert(snap(3L, 2L) == preCurrent, "the current version must survive GC")
    assert(partitionTags(dir, "doc_tokens", "batch_id") ==
      Seq("batch_id=2", "batch_id=3"))
    assert(partitionTags(dir, "tombstones", "delete_id") ==
      Seq("delete_id=2"))
    refusesFloor(snap(1L, 2L))
    refusesFloor(snap(2L, 1L))
    refusesFloor(Bpe.appendTokenizerState(docs.limit(1), dir, "doc_id",
      "text", numMerges = 3, batchTag = Some(2L)))
    refusesFloor(Bpe.appendTokenizerState(docs.limit(1), dir, "doc_id",
      "text", numMerges = 3))
    refusesFloor(Bpe.deleteFromTokenizerState(spark, dir,
      docs.limit(1).select(col("doc_id")), "doc_id", deleteTag = Some(2L)))
    refusesFloor(StatePillar.Tokenizer.truncate(spark, dir, floor = 1L))
    // life goes on: append batch 4, delete tag 3, compact
    Bpe.appendTokenizerState(docs.filter(col("doc_id") < 20), dir,
      "doc_id", "text", numMerges = 3, batchTag = Some(4L))
    Bpe.deleteFromTokenizerState(spark, dir,
      docs.filter(col("doc_id") === 5).select(col("doc_id")), "doc_id",
      deleteTag = Some(3L))
    Bpe.compactTokenizerState(spark, dir)
    assert(Bpe.tokenBudgetFromState(spark, dir, quality, "doc_id", "q",
      budget = 20000L).count() > 0)
  }

  test("ingestEverywhere: one tag, five pillars; a crashed ingest completes by replay") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .filter(col("doc_id") < 120)
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 120)
    val root = java.nio.file.Files.createTempDirectory("graft-ingest-all")
      .toFile.getAbsolutePath
    val (ls, ps, ts, ss, vs) = (s"$root/lsh", s"$root/postings",
      s"$root/tok", s"$root/stats", s"$root/ivf")
    def ingest(lo: Int, hi: Int, tag: Long, crashAfter: Int = -1): Unit =
      StateAudit.ingestEverywhere(spark,
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        "doc_id", "text", "source", ls, ps, ts, batchTag = tag,
        statsDir = Some(ss),
        ivf = Some((vs,
          emb.filter(col("vec_id") >= lo && col("vec_id") < hi), 4, 2)),
        numMerges = 3, crashAfterPillars = crashAfter)
    ingest(0, 60, tag = 1L)
    def audit() = StateAudit.crossPillarConsistency(Seq(
      "lsh" -> StateAudit.lshLiveIds(spark, ls),
      "postings" -> StateAudit.postingsLiveIds(spark, ps),
      "tokenizer" -> StateAudit.tokenizerLiveIds(spark, ts)))
    assert(audit().isEmpty, "full ingest must leave the pillars agreeing")
    // crash after 2 pillars: batch 2 reaches lsh + postings only
    intercept[graft.ext.StateIO.InjectedCrash](
      ingest(60, 120, tag = 2L, crashAfter = 2))
    val diverged = audit().collect()
    assert(diverged.nonEmpty)
    assert(diverged.forall(r => r.getAs[Boolean]("in_lsh") &&
      r.getAs[Boolean]("in_postings") && !r.getAs[Boolean]("in_tokenizer")))
    assert(diverged.map(_.getAs[Long]("id")).toSet ==
      (60L until 120L).toSet)
    // the replay — same call, same tag — completes every pillar
    ingest(60, 120, tag = 2L)
    assert(audit().isEmpty, "the replayed ingest must close the divergence")
    assert(Profile.statsReport(spark, ss)
      .agg(sum(col("n_docs"))).head().getLong(0) == 120L)
    assert(Similarity.ivfTopKFromState(spark, vs,
      emb.filter(col("vec_id") < 3), topK = 3).count() > 0)
    // a second full replay is a no-op on every pillar (idempotence)
    ingest(60, 120, tag = 2L)
    assert(audit().isEmpty)
    assert(Profile.statsReport(spark, ss)
      .agg(sum(col("n_docs"))).head().getLong(0) == 120L)
  }

  test("cloneState: plain clone reads == source as-of reads; clone evolves independently") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val root = java.nio.file.Files.createTempDirectory("graft-clone")
      .toFile.getAbsolutePath
    val (ls, ts, ss, vs) =
      (s"$root/lsh", s"$root/tok", s"$root/stats", s"$root/ivf")
    val b1d = docs.filter(col("doc_id") < 60)
    val b2d = docs.filter(col("doc_id") >= 60 && col("doc_id") < 120)
    val b3d = docs.filter(col("doc_id") >= 120)
    Seq((b1d, 1L), (b2d, 2L), (b3d, 3L)).foreach { case (b, tag) =>
      Dedup.appendLshState(b, "doc_id", "text", ls, batchTag = Some(tag))
      Bpe.appendTokenizerState(b, ts, "doc_id", "text", numMerges = 3,
        batchTag = Some(tag))
      Profile.appendStatsState(b, ss, "text", "source", Some(tag))
    }
    Seq((0, 60, 1L), (60, 120, 2L), (120, 1 << 20, 3L)).foreach {
      case (lo, hi, tag) =>
        Similarity.appendIvfState(
          emb.filter(col("vec_id") >= lo && col("vec_id") < hi), vs,
          k = 4, iters = 2, batchTag = Some(tag))
    }
    val delIds = docs.filter(pmod(col("doc_id"), lit(7)) === 3)
      .select(col("doc_id"))
    Dedup.deleteFromLshState(spark, ls, delIds, "doc_id",
      deleteTag = Some(1L))
    Bpe.deleteFromTokenizerState(spark, ts, delIds, "doc_id",
      deleteTag = Some(1L))
    Profile.deleteFromStatsState(
      docs.filter(pmod(col("doc_id"), lit(7)) === 3)
        .withColumn("src_batch",
          when(col("doc_id") < 60, 1L)
            .when(col("doc_id") < 120, 2L).otherwise(3L)),
      ss, "text", "source", Some(1L), Some("src_batch"))
    Similarity.deleteFromIvfState(spark, vs,
      emb.filter(pmod(col("vec_id"), lit(7)) === 3).select(col("vec_id")),
      "vec_id", deleteTag = Some(1L))
    // branch every pillar at (batch 2, delete 1)
    StatePillar.Lsh.clone(spark, ls, s"$ls.b", 2L, 1L)
    StatePillar.Tokenizer.clone(spark, ts, s"$ts.b", 2L, 1L)
    StatePillar.Stats.clone(spark, ss, s"$ss.b", 2L, 1L)
    StatePillar.Ivf.clone(spark, vs, s"$vs.b", 2L, 1L)
    // plain clone reads == source as-of reads, pillar by pillar
    val probe = docs.filter(col("doc_id") >= 400)
    def lshPairs(d: String, asOf: Option[(Long, Long)]) =
      Dedup.incrementalLshPairsFromState(d, probe, "doc_id", "text",
          asOf = asOf)
        .select(col("new_id"), col("old_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(lshPairs(s"$ls.b", None) == lshPairs(ls, Some((2L, 1L))))
    val quality = docs.select(col("doc_id"),
      length(col("text")).cast("double").as("q"))
    def budget(f: => org.apache.spark.sql.DataFrame) =
      f.select(col("doc_id"), col("cum_tokens"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(
      budget(Bpe.tokenBudgetFromState(spark, s"$ts.b", quality, "doc_id",
        "q", budget = 9000L)) ==
      budget(Bpe.tokenBudgetFromStateAsOf(spark, ts, quality, "doc_id",
        "q", budget = 9000L, asOfBatch = 2L, asOfDelete = 1L)))
    def stats(f: => org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    assert(stats(Profile.statsReport(spark, s"$ss.b")) ==
      stats(Profile.statsReportAsOf(spark, ss, 2L, 1L)))
    val probes = emb.filter(col("vec_id") < 3)
    def ann(f: => org.apache.spark.sql.DataFrame) =
      f.select(col("query_id"), col("neighbor_id"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSeq.sorted
    assert(ann(Similarity.ivfTopKFromState(spark, s"$vs.b", probes,
        topK = 3)) ==
      ann(Similarity.ivfTopKFromStateAsOf(spark, vs, probes, topK = 3,
        asOfBatch = 2L, asOfDelete = 1L)))
    // a clone never overwrites
    val e = intercept[IllegalArgumentException](
      StatePillar.Lsh.clone(spark, ls, s"$ls.b", 2L, 1L))
    assert(e.getMessage.contains("never overwrites"))
    // an empty version cannot be branched (batch tags start at 1)
    intercept[IllegalArgumentException](
      StatePillar.Lsh.clone(spark, ls, s"$ls.zero", 0L, 0L))
    // the clone evolves independently: mutate it, source reads unchanged
    val srcBefore = lshPairs(ls, None)
    Dedup.appendLshState(b3d, "doc_id", "text", s"$ls.b",
      batchTag = Some(3L))
    Dedup.deleteFromLshState(spark, s"$ls.b",
      docs.filter(col("doc_id") === 10).select(col("doc_id")), "doc_id",
      deleteTag = Some(2L))
    assert(lshPairs(ls, None) == srcBefore,
      "mutating the branch must not touch the source")
    // a truncated source's history floor carries to the clone (the
    // as-of bounds sit AT the floor — the collapsed base version)
    StatePillar.Tokenizer.truncate(spark, ts, floor = 2L)
    StatePillar.Tokenizer.clone(spark, ts, s"$ts.b2", 2L, 2L)
    assert(StateIO.readHistoryFloor(spark, s"$ts.b2") == 2L)
    intercept[IllegalArgumentException](
      Bpe.appendTokenizerState(b1d, s"$ts.b2", "doc_id", "text",
        numMerges = 3, batchTag = Some(1L)))
  }

  test("recover*State: every pillar rolls a crashed post-commit swap forward") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val dir = java.nio.file.Files.createTempDirectory("graft-recover")
      .toFile.getAbsolutePath + "/stats"
    Profile.appendStatsState(docs.filter(col("doc_id") < 60), dir,
      "text", "source", Some(1L))
    Profile.appendStatsState(
      docs.filter(col("doc_id") >= 60 && col("doc_id") < 120), dir,
      "text", "source", Some(2L))
    val before = Profile.statsReport(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    // the exact state a truncation crash leaves: content staged, the
    // _swap_commit marker published, zero tables applied
    val collapsed = spark.read.parquet(s"$dir/stats")
      .withColumn("batch_id", lit(2L))
    intercept[graft.ext.StateIO.InjectedCrash](
      StateIO.swapInTables(spark, dir,
        Seq(("stats", collapsed, Seq("batch_id"))), crashAfterApplied = 0))
    // until the roll-forward, every write entry fails fast naming it
    val e = intercept[IllegalArgumentException](
      Profile.appendStatsState(docs.limit(1), dir, "text", "source",
        Some(3L)))
    assert(e.getMessage.contains("_swap_commit"))
    assert(StatePillar.Stats.recover(spark, dir),
      "a crashed swap must be found and rolled forward")
    assert(!StatePillar.Stats.recover(spark, dir),
      "a second recovery is a no-op")
    // the full NEW fit landed: one collapsed partition, same content
    assert(partitionTags(dir, "stats", "batch_id") == Seq("batch_id=2"))
    assert(Profile.statsReport(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted == before)
    Profile.appendStatsState(docs.filter(col("doc_id") >= 120), dir,
      "text", "source", Some(3L)) // writes flow again
    // the other pillars' recovery entries are callable and no-op clean
    val clean = java.nio.file.Files.createTempDirectory("graft-recover2")
      .toFile.getAbsolutePath
    assert(!StatePillar.Lsh.recover(spark, s"$clean/lsh"))
    assert(!StatePillar.Postings.recover(spark, s"$clean/postings"))
    assert(!StatePillar.Tokenizer.recover(spark, s"$clean/tok"))
    assert(!StatePillar.Ivf.recover(spark, s"$clean/ivf"))
  }

  test("manifest commits: the object-store protocol never exposes a mixed fit") {
    val embAll = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val emb = embAll.filter(col("vec_id") < 120)
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest")
      .toFile.getAbsolutePath + "/state"
    Similarity.appendIvfState(emb.filter(col("vec_id") < 60), dir,
      k = 4, iters = 1, batchTag = Some(1L))
    Similarity.appendIvfState(emb.filter(col("vec_id") >= 60), dir,
      k = 4, iters = 1, batchTag = Some(2L))
    StateIO.enableManifestCommits(spark, dir)
    val probes = emb.filter(col("vec_id") < 5)
    def answers = Similarity.ivfTopKFromState(spark, dir, probes,
        topK = 3, nProbe = 2)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val wantBefore = answers
    val wantAfter = Similarity.kmeansIvfTopK(emb, probes,
        topK = 3, k = 4, iters = 1, nProbe = 2)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    def liveName(t: String) =
      StateIO.tablePath(spark, dir, t).split("/").last
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    // crash with ONE of two tables staged — the exact window where the
    // rename protocol needs its marker + roll-forward. Here the pointer
    // file still names the OLD dirs for BOTH tables: reads serve the
    // full old fit immediately, nothing is gated, nothing to recover —
    // and no data directory was renamed at any point (the property that
    // survives a non-atomic-rename substrate)
    intercept[StateIO.InjectedCrash](
      Similarity.reclusterIvfState(spark, dir, crashAfterApplied = 1))
    assert(liveName("centroids") == "centroids" && liveName("cells") == "cells")
    assert(!StateIO.recoverSwap(spark, dir),
      "manifest commits have no roll-forward to run")
    assert(answers == wantBefore)
    // the staged-but-never-published dir is unreferenced garbage
    val stale = StateIO.vacuumStateVersions(spark, dir)
    assert(stale == Seq("centroids__v0001"), stale)
    assert(answers == wantBefore)
    // crash right AFTER the pointer publish: the full NEW fit, live
    // immediately — both tables flipped by the one small-file write
    intercept[StateIO.InjectedCrash](
      Similarity.reclusterIvfState(spark, dir, crashAfterApplied = 2))
    assert(liveName("centroids") == "centroids__v0001" &&
      liveName("cells") == "cells__v0001")
    assert(answers == wantAfter)
    // superseded plain dirs are garbage; vacuum drops them, reads hold
    assert(StateIO.vacuumStateVersions(spark, dir).toSet ==
      Set("centroids", "cells"))
    assert(answers == wantAfter)
    // appends resolve INTO the live version dir
    Similarity.appendIvfState(
      embAll.filter(col("vec_id") >= 120 && col("vec_id") < 150), dir,
      k = 4, iters = 1, batchTag = Some(3L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/cells__v0001/batch_id=3")))
    // a second content swap bumps the version; compaction on a manifest
    // dir versions too — the backup-swap rename (and its __compact_bak
    // crash artifact) never happens on this substrate
    Similarity.reclusterIvfState(spark, dir)
    assert(liveName("cells") == "cells__v0002")
    Similarity.compactIvfState(spark, dir)
    assert(liveName("cells") == "cells__v0003")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/cells__compact_bak")))
    StateIO.vacuumStateVersions(spark, dir)
    val post = Similarity.ivfTopKFromState(spark, dir, probes,
      topK = 3, nProbe = 2).count()
    assert(post > 0)
  }

  test("writer lease: a live second writer is refused mid-append; stale leases take over") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lease")
      .toFile.getAbsolutePath + "/stats"
    val docs = docsFrom(Seq((1L, "a b"), (2L, "c d")))
      .withColumn("source", lit("s"))
    // a REAL concurrent writer: another thread acquires the lease and
    // holds it mid-write; every mutating entry point must refuse with
    // the owner + expiry, not interleave
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      StateIO.withWriterLock(spark, dir) {
        started.countDown()
        release.await()
      })
    holder.start()
    assert(started.await(30, java.util.concurrent.TimeUnit.SECONDS))
    val e = intercept[StateIO.ConcurrentWriter](
      Profile.appendStatsState(docs, dir, "text", "source", Some(1L)))
    assert(e.getMessage.contains("another writer holds the lease"))
    assert(e.getMessage.contains("_writer_lock"))
    release.countDown()
    holder.join(30000)
    // lease released on orderly completion: the same append now lands
    Profile.appendStatsState(docs, dir, "text", "source", Some(1L))
    val lock = new org.apache.hadoop.fs.Path(dir, "_writer_lock")
    val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(lock), "orderly completion must release the lease")
    // a STALE lease (crashed writer, expiry passed) is taken over
    val out = fs.create(lock, true)
    try out.write(s"dead-host:pid=1:thread=1:x\n${System
      .currentTimeMillis() - 1000L}\n".getBytes("UTF-8"))
    finally out.close()
    Profile.appendStatsState(docs, dir, "text", "source", Some(2L))
    assert(!fs.exists(lock))
    // an UNEXPIRED foreign lease refuses every mutating entry point
    val out2 = fs.create(lock, true)
    try out2.write(s"live-host:pid=9:thread=9:y\n${System
      .currentTimeMillis() + 3600000L}\n".getBytes("UTF-8"))
    finally out2.close()
    intercept[StateIO.ConcurrentWriter](
      Profile.deleteFromStatsState(docs.limit(1), dir, "text", "source",
        Some(1L)))
    intercept[StateIO.ConcurrentWriter](
      StatePillar.Stats.truncate(spark, dir, floor = 1L))
    intercept[StateIO.ConcurrentWriter](
      Profile.compactStatsState(spark, dir))
    intercept[StateIO.ConcurrentWriter](
      StatePillar.Stats.recover(spark, dir))
    intercept[StateIO.ConcurrentWriter](
      StatePillar.Stats.clone(spark, dir, s"$dir.branch", 1L, 0L))
    fs.delete(lock, false)
    // an exception inside the locked body is an ORDERLY failure: the
    // lease releases (the marker protocols own recovery), so a retry
    // is not blocked for the rest of the lease
    val collapsed = spark.read.parquet(s"$dir/stats")
      .withColumn("batch_id", lit(2L))
    intercept[StateIO.InjectedCrash](
      StateIO.swapInTables(spark, dir,
        Seq(("stats", collapsed, Seq("batch_id"))), crashAfterApplied = 0))
    assert(!fs.exists(lock),
      "a thrown body must release the lease (real crashes rely on expiry)")
    assert(StatePillar.Stats.recover(spark, dir))
  }

  test("lease seam: a store with NON-ATOMIC create (both racing creates " +
      "succeed) still admits exactly one writer through the CAS primitive") {
    val root = java.nio.file.Files.createTempDirectory("graft-leasecas")
      .toFile.getAbsolutePath
    val dir = s"$root/stats"
    val lock = new org.apache.hadoop.fs.Path(dir, "_writer_lock")
    val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    // FIRST, the hazard itself: on this store both writers' PLAIN
    // creates "succeed" (last-writer-wins overwrite) — the substrate
    // offers no exclusivity for HadoopLeaseStore to inherit
    Seq("writer-A", "writer-B").foreach { w =>
      val out = fs.create(lock, true) // both land without error
      try out.write(s"$w\n0\n".getBytes("UTF-8")) finally out.close()
    }
    fs.delete(lock, false)
    // the seam: exclusivity comes from the store's conditional PUT
    // (If-None-Match shape — modeled as putIfAbsent keyed by path); the
    // loser's bytes never land, exactly like the refused PUT
    val claimed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val casStore = new StateIO.LeaseStore {
      override def createExclusive(
          cfs: org.apache.hadoop.fs.FileSystem,
          path: org.apache.hadoop.fs.Path, content: String): Boolean =
        if (!path.toString.contains("graft-leasecas"))
          StateIO.HadoopLeaseStore.createExclusive(cfs, path, content)
        else if (!claimed.add(cfs.makeQualified(path).toString)) false
        else StateIO.HadoopLeaseStore.createExclusive(cfs, path, content)
    }
    StateIO.leaseStore = casStore
    try {
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val inBody = new java.util.concurrent.atomic.AtomicInteger
      val overlap = new java.util.concurrent.atomic.AtomicInteger
      val winners = new java.util.concurrent.atomic.AtomicInteger
      val losers = new java.util.concurrent.atomic.AtomicInteger
      val threads = (1 to 2).map(_ => new Thread(() => {
        barrier.await()
        try {
          StateIO.withWriterLock(spark, dir) {
            overlap.updateAndGet(m => math.max(m, inBody.incrementAndGet()))
            Thread.sleep(300)
            inBody.decrementAndGet()
          }
          winners.incrementAndGet()
        } catch {
          case _: StateIO.ConcurrentWriter => losers.incrementAndGet()
        }
      }))
      threads.foreach(_.start()); threads.foreach(_.join(30000))
      assert(winners.get() == 1 && losers.get() == 1,
        s"winners=${winners.get()} losers=${losers.get()}")
      assert(overlap.get() == 1, "bodies must never overlap")
    } finally StateIO.leaseStore = StateIO.HadoopLeaseStore
  }

  test("lease heartbeat: a slow writer renews through multiple windows " +
      "and is never taken over; a dead writer's lease still expires") {
    val dir = java.nio.file.Files.createTempDirectory("graft-leasehb")
      .toFile.getAbsolutePath + "/state"
    val lock = new org.apache.hadoop.fs.Path(dir, "_writer_lock")
    val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
    // retry torn reads: the renewer's rewrite is create-then-write, so a
    // read can land between (the production readLease treats that as a
    // mid-write lease; here we just try again)
    def expiry(): Long = {
      var attempts = 0
      while (true) {
        attempts += 1
        // the renewal publish is tmp + OVERWRITE-rename; on the local FS
        // that rename is delete-then-rename, so a raw read can land in a
        // gap where the file is briefly ABSENT (not just torn) — retry
        // both shapes (production readers treat the gap as mid-write)
        val lines =
          try {
            val in = fs.open(lock)
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              .split("\n")
            finally in.close()
          } catch {
            case _: java.io.FileNotFoundException => Array.empty[String]
          }
        if (lines.length >= 2 && lines(1).trim.nonEmpty)
          return lines(1).trim.toLong
        assert(attempts < 100, "lock file never became whole")
        Thread.sleep(20)
      }
      0L
    }
    // the writer holds the lock ~3.5 lease windows; without renewal the
    // lease would expire at t0+400 and a second acquirer would take over
    val t0 = System.currentTimeMillis()
    val sawFreshLease = new java.util.concurrent.atomic.AtomicBoolean(false)
    // no "expired mid-run and was taken over" may surface — a throw here
    // fails the test
    StateIO.withWriterLock(spark, dir, leaseMs = 400L) {
      Thread.sleep(1400)
      // well past the ORIGINAL expiry: the lock must still be ours with
      // a renewed (future) expiry, and a second writer (a DIFFERENT
      // thread — same-thread re-entry is legal by design) must be refused
      assert(expiry() > t0 + 400L,
        "heartbeat must have re-published a later expiry")
      val refusal =
        new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val second = new Thread(() =>
        try StateIO.withWriterLock(spark, dir, leaseMs = 400L) { () }
        catch { case t: Throwable => refusal.set(t) })
      second.start(); second.join(30000)
      refusal.get() match {
        case e: StateIO.ConcurrentWriter =>
          sawFreshLease.set(e.expiresAtMs > System.currentTimeMillis() - 1)
        case other => fail(s"expected ConcurrentWriter, got $other")
      }
    }
    assert(sawFreshLease.get(), "the refusal must carry the renewed expiry")
    assert(!fs.exists(lock), "orderly completion still releases")
    // a genuinely DEAD writer (no renewer alive) is taken over once the
    // window passes — renewal must not have weakened crash takeover
    val out = fs.create(lock, true)
    try out.write(s"dead-host:pid=1:thread=1:z\n${System
      .currentTimeMillis() - 1000L}\n".getBytes("UTF-8"))
    finally out.close()
    StateIO.withWriterLock(spark, dir, leaseMs = 400L) { () }
    assert(!fs.exists(lock))
  }

  test("lease release: a transiently half-visible (mid-write) lock is " +
      "retried and released cleanly, not reported as takeover") {
    // the deterministic injection of the round-17 failure: the release
    // read landing on a torn lock file. Renewal publishes atomically
    // now, so the tear is injected by hand (a foreign half-visible
    // create / slow-FS view); the release loop must retry past it and
    // find its own token once the file is whole again
    val dir = java.nio.file.Files.createTempDirectory("graft-leasetorn")
      .toFile.getAbsolutePath + "/state"
    val lock = new org.apache.hadoop.fs.Path(dir, "_writer_lock")
    val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
    StateIO.withWriterLock(spark, dir, leaseMs = 60000L) {
      val in = fs.open(lock)
      val full =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val torn = fs.create(lock, true)
      try torn.write(full.split("\n")(0).getBytes("UTF-8")) // owner, no expiry
      finally torn.close()
      val repair = new Thread(() => {
        Thread.sleep(400)
        val out = fs.create(lock, true)
        try out.write(full.getBytes("UTF-8")) finally out.close()
      })
      repair.setDaemon(true)
      repair.start()
    } // must NOT throw the spurious "taken over by 'mid-write'"
    assert(!fs.exists(lock),
      "release must retry past the mid-write view and delete its lease")
  }

  test("lease renewal: a renewer that stalls past the window and wakes " +
      "after takeover is refused through the CAS seam — the new writer's " +
      "lock survives") {
    val dir = java.nio.file.Files.createTempDirectory("graft-leasestall")
      .toFile.getAbsolutePath + "/state"
    val lock = new org.apache.hadoop.fs.Path(dir, "_writer_lock")
    val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
    def ownerLine(): String = {
      val in = fs.open(lock)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        .split("\n")(0).trim
      finally in.close()
    }
    val stallGate = new java.util.concurrent.CountDownLatch(1)
    val takenOver = new java.util.concurrent.CountDownLatch(1)
    val refused = new java.util.concurrent.atomic.AtomicBoolean(false)
    val clobbered = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the stall is injected at the seam: the first writer's RENEWAL
    // (content defined) blocks — the modeled long GC pause — until the
    // takeover completed; conditional deletes (takeover, release) pass
    // straight through to the real store
    val store = new StateIO.LeaseStore {
      override def createExclusive(
          cfs: org.apache.hadoop.fs.FileSystem,
          path: org.apache.hadoop.fs.Path, content: String): Boolean =
        StateIO.HadoopLeaseStore.createExclusive(cfs, path, content)
      override def replaceIfOwner(
          cfs: org.apache.hadoop.fs.FileSystem,
          path: org.apache.hadoop.fs.Path, expectedOwner: String,
          content: Option[String]): Either[Option[String], Unit] = {
        val mine = path.toString.contains("graft-leasestall")
        if (mine && content.isDefined && takenOver.getCount > 0)
          stallGate.await(30, java.util.concurrent.TimeUnit.SECONDS)
        val r = super.replaceIfOwner(cfs, path, expectedOwner, content)
        if (mine && content.isDefined) {
          if (r.isLeft) refused.set(true)
          else if (takenOver.getCount == 0) clobbered.set(true)
        }
        r
      }
    }
    StateIO.leaseStore = store
    try {
      val w1Err =
        new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val w1Started = new java.util.concurrent.CountDownLatch(1)
      val bodyDone = new java.util.concurrent.CountDownLatch(1)
      val w1 = new Thread(() =>
        try StateIO.withWriterLock(spark, dir, leaseMs = 300L) {
          w1Started.countDown()
          bodyDone.await(30, java.util.concurrent.TimeUnit.SECONDS)
        } catch { case t: Throwable => w1Err.set(t) })
      w1.start()
      assert(w1Started.await(30, java.util.concurrent.TimeUnit.SECONDS))
      val owner1 = ownerLine()
      // the renewer's ~100ms tick blocks on the gate; the lease expires
      // un-renewed at ~300ms
      Thread.sleep(600)
      val w2Holding = new java.util.concurrent.CountDownLatch(1)
      val w2Release = new java.util.concurrent.CountDownLatch(1)
      val w2 = new Thread(() =>
        StateIO.withWriterLock(spark, dir, leaseMs = 60000L) {
          w2Holding.countDown()
          w2Release.await(30, java.util.concurrent.TimeUnit.SECONDS)
        })
      w2.start()
      assert(w2Holding.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the second writer must take over the expired lease")
      val owner2 = ownerLine()
      assert(owner2 != owner1)
      takenOver.countDown()
      stallGate.countDown() // the stalled renewer wakes NOW — post-takeover
      val deadline = System.currentTimeMillis() + 10000L
      while (!refused.get() && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(refused.get(), "the woken renewer's renewal must be refused")
      assert(!clobbered.get())
      assert(ownerLine() == owner2,
        "the new writer's lock must survive the woken renewer")
      // the first writer's orderly release reports the takeover loudly
      // and must not delete the new writer's lock
      bodyDone.countDown()
      w1.join(30000)
      w1Err.get() match {
        case e: IllegalStateException =>
          assert(e.getMessage.contains("taken over"))
        case other => fail(s"expected the takeover report, got $other")
      }
      assert(ownerLine() == owner2,
        "release must be conditional — the survivor's lock stays")
      w2Release.countDown()
      w2.join(30000)
      assert(!fs.exists(lock))
    } finally StateIO.leaseStore = StateIO.HadoopLeaseStore
  }

  test("lease heartbeat publishes atomically: a concurrent poller never " +
      "observes a torn lock file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-leaseatomic")
      .toFile.getAbsolutePath + "/state"
    val lock = new org.apache.hadoop.fs.Path(dir, "_writer_lock")
    val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val torn = new java.util.concurrent.atomic.AtomicInteger
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val poller = new Thread(() =>
      while (!stop.get()) {
        try {
          val in = fs.open(lock)
          val s =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          reads.incrementAndGet()
          val lines = s.split("\n")
          if (!(lines.length >= 2 &&
              scala.util.Try(lines(1).trim.toLong).isSuccess))
            torn.incrementAndGet()
        } catch { case _: java.io.FileNotFoundException => () }
        Thread.sleep(2)
      })
    poller.setDaemon(true)
    StateIO.withWriterLock(spark, dir, leaseMs = 300L) {
      poller.start() // after the initial create
      // hold until the poller has a real sample (~30ms per Hadoop local
      // read unloaded, slower under parallel-suite load) — renewals keep
      // landing every ~100ms the whole time, so more wall = more
      // publishes sampled, never fewer
      val deadline = System.currentTimeMillis() + 15000L
      while (reads.get() < 30 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
    }
    stop.set(true)
    poller.join(5000)
    // a non-atomic truncate-then-write renewal tears on nearly every
    // publish — 30 samples across ≥ a dozen renewals catches it
    assert(reads.get() >= 30, s"poller must have sampled (got ${reads.get()})")
    assert(torn.get() == 0,
      s"observed ${torn.get()} torn reads of ${reads.get()} — renewal " +
        "publication must be atomic")
  }

  test("vacuumStateVersions: graceMs keeps a pre-swap reader's superseded " +
      "dir alive; grace 0 reclaims it") {
    import graft.Tables
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft-vacgrace")
      .toFile.getAbsolutePath + "/ivf"
    StateIO.enableManifestCommits(spark, dir)
    Similarity.appendIvfState(emb.filter(col("vec_id") < 100), dir,
      k = 4, iters = 1, batchTag = Some(1L))
    // a long-running reader plans against the CURRENT (plain) cells dir
    val preResolved = spark.read.parquet(s"$dir/cells")
    assert(preResolved.count() > 0)
    // a versioned swap supersedes the plain dir the reader resolved
    Similarity.reclusterIvfState(spark, dir)
    // inside the grace window nothing is reclaimed — the reader's scan
    // still answers
    assert(StateIO.vacuumStateVersions(spark, dir,
      graceMs = 3600000L).isEmpty)
    assert(preResolved.count() > 0)
    // grace 0 (quiesced maintenance) reclaims the superseded dirs
    assert(StateIO.vacuumStateVersions(spark, dir).nonEmpty)
    assert(!StateIO.pathExists(spark, s"$dir/cells"))
  }

  test("writeHistoryFloor: a raise survives a crash at every window (two-slot max)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-floor")
      .toFile.getAbsolutePath
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(hconf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    StateIO.writeHistoryFloor(spark, dir, 2L)
    assert(StateIO.readHistoryFloor(spark, dir) == 2L)
    StateIO.writeHistoryFloor(spark, dir, 5L)
    assert(StateIO.readHistoryFloor(spark, dir) == 5L)
    // both slots now hold a value (2 and 5). The raise protocol's only
    // destructive step is "delete the SMALLER slot before renaming the
    // new value in" — simulate a crash exactly there: the published
    // floor must stay 5 (the round-14 single-file protocol dropped to
    // 0 here, silently re-answering collapsed as-of cuts)
    val slots = Seq(StateIO.HistoryFloorFile, StateIO.HistoryFloorFileB)
      .map(n => new org.apache.hadoop.fs.Path(dir, n))
    def slotVal(p: org.apache.hadoop.fs.Path): Long = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
    assert(slots.forall(fs.exists(_)))
    assert(slots.map(slotVal).toSet == Set(2L, 5L))
    val smaller = slots.minBy(slotVal)
    assert(fs.delete(smaller, false))
    assert(StateIO.readHistoryFloor(spark, dir) == 5L,
      "a mid-raise crash must never lower the published floor")
    // a stranded tmp from the same crash is invisible to readers
    val out = fs.create(new org.apache.hadoop.fs.Path(dir,
      StateIO.HistoryFloorFileB + "__tmp"), true)
    try out.write("9".getBytes("UTF-8")) finally out.close()
    assert(StateIO.readHistoryFloor(spark, dir) == 5L)
    // monotonicity refusal unchanged
    val e = intercept[IllegalArgumentException](
      StateIO.writeHistoryFloor(spark, dir, 4L))
    assert(e.getMessage.contains("only rise"))
    // and a raise from the single-slot state works (re-creates slot 2)
    StateIO.writeHistoryFloor(spark, dir, 7L)
    assert(StateIO.readHistoryFloor(spark, dir) == 7L)
  }

  test("every state read path fails fast on a _swap_commit marker") {
    // the guard fires BEFORE any table read, so a bare dir with the
    // marker suffices — this pins the reads the round-14 audit found
    // unguarded (bm25, stats report, token budget, incremental LSH)
    val dir = java.nio.file.Files.createTempDirectory("graft-swapguard")
      .toFile.getAbsolutePath
    val marker = new org.apache.hadoop.fs.Path(dir, "_swap_commit")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(marker, true)
    try out.write("postings".getBytes("UTF-8")) finally out.close()
    val batch = docsFrom(Seq((1L, "a b c")))
    val quality = batch.select(col("doc_id"), lit(1.0).as("q"))
    def refused(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("recoverSwap"), e.getMessage)
    }
    refused(Index.bm25TopKFromState(spark, dir, Seq("a"), 5,
      idCol = "doc_id"))
    refused(Profile.statsReport(spark, dir))
    refused(Bpe.tokenBudgetFromState(spark, dir, quality, "doc_id", "q",
      budget = 100L))
    refused(Bpe.readDocTokens(spark, dir))
    refused(Dedup.incrementalLshPairsFromState(dir, batch, "doc_id",
      "text"))
  }

  test("mmrTopKFromState: an all-NaN argmax names the poisoned vectors, not index -1") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mmrnan")
      .toFile.getAbsolutePath + "/state"
    // a zero-norm vector is refused loudly UPSTREAM (the distributed
    // cosine divides under ANSI → DIVIDE_BY_ZERO), so the all-NaN pool
    // the greedy loop must survive comes from NaN-VALUED embeddings:
    // a NaN query poisons every rel score, and the first argmax scan
    // finds no finite candidate
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    Similarity.appendIvfState(emb, dir, k = 1, iters = 1,
      batchTag = Some(1L))
    val q = Seq((100L, Array(Float.NaN, 0.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Similarity.mmrTopKFromState(spark, dir, q, k = 4, lambda = 0.7,
        candK = 10, nProbe = 1))
    assert(e.getMessage.contains("NaN-valued"), e.getMessage)
  }

  test("cappedTemperatureMix refuses an unsatisfiable cap (< 1x natural share)") {
    val docs = docsFrom(Seq((1L, "a b c d"), (2L, "e f"), (3L, "g")))
      .withColumn("source",
        when(col("doc_id") === 1L, "big").otherwise("small"))
    val e = intercept[IllegalArgumentException](
      Sampling.cappedTemperatureMix(docs, "text", "source",
        maxUpMilli = 999L))
    assert(e.getMessage.contains(">= 1000"), e.getMessage)
  }

  test("knnGraphFromState: rows match the per-query probe path; deletes drop out; no broadcast of the corpus-sized probe side") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft-knng")
      .toFile.getAbsolutePath + "/ivf"
    Similarity.appendIvfState(emb, dir, k = 4, iters = 2,
      batchTag = Some(1L))
    Similarity.deleteFromIvfState(spark, dir,
      emb.filter(pmod(col("vec_id"), lit(5)) === 2).select(col("vec_id")),
      "vec_id", deleteTag = Some(1L))
    val g = Similarity.knnGraphFromState(spark, dir, k = 3, nProbe = 2)
    val edges = g.select("vec_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // deleted vectors neither query nor answer
    assert(edges.forall { case (a, b) => a % 5 != 2 && b % 5 != 2 })
    // the graph IS the per-query probe path run for every live vector
    val live = emb.filter(pmod(col("vec_id"), lit(5)) =!= 2)
    val perQuery = Similarity.ivfTopKFromState(spark, dir, live, topK = 3,
        nProbe = 2)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(g.select("vec_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet == perQuery.toSet)
    // plan: unlike the query path, the graph build must not FORCE a
    // broadcast of the corpus-sized probe side — the join strategy is
    // left to stats (at test scale Catalyst may still broadcast the
    // small side; at corpus scale neither side fits and it degrades to
    // a shuffle join, which a forced hint would forbid)
    val g2 = Similarity.knnGraphFromState(spark, dir, k = 3, nProbe = 2)
    assert(!g2.queryExecution.logical.toString.contains("hint"),
      "graph build must not carry a broadcast hint")
    // and the per-vector probe selection is the aggregate slice, not a
    // second corpus-wide rank window: the ONLY window is the final top-k
    val plan = g2.queryExecution.executedPlan.toString
    assert("Window \\[row_number".r.findAllIn(plan).size == 1,
      s"probe selection must not add a rank window:\n$plan")
  }

  test("mutualNnPairsFromState: exactly the symmetric thresholded edges, a < b once") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft-mnn")
      .toFile.getAbsolutePath + "/ivf"
    Similarity.appendIvfState(emb, dir, k = 4, iters = 2,
      batchTag = Some(1L))
    val minCos = 0.2
    val edges = Similarity.knnGraphFromState(spark, dir, k = 3, nProbe = 2)
      .filter(col("cos") >= minCos)
      .select("vec_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = edges.filter { case (a, b) =>
      a < b && edges.contains((b, a))
    }
    val got = Similarity.mutualNnPairsFromState(spark, dir, k = 3,
        minCos = minCos, nProbe = 2)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "fixture must produce mutual pairs")
    assert(expected.size < edges.size,
      "mutuality must actually filter one-directional edges")
  }

  test("knn graph / mutual-nn / clusters as-of: snapshot == the same read on a clone at that cut") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val root = java.nio.file.Files.createTempDirectory("graft-knnasof")
      .toFile.getAbsolutePath
    val dir = s"$root/ivf"
    Similarity.appendIvfState(emb.filter(col("vec_id") < 120), dir,
      k = 4, iters = 2, batchTag = Some(1L))
    Similarity.deleteFromIvfState(spark, dir,
      emb.filter(pmod(col("vec_id"), lit(5)) === 2 && col("vec_id") < 120)
        .select(col("vec_id")),
      "vec_id", deleteTag = Some(1L))
    Similarity.appendIvfState(emb.filter(col("vec_id") >= 120), dir,
      k = 4, iters = 2, batchTag = Some(2L))
    // the branch holds version (1, 1); the source has moved to (2, 1)
    StatePillar.Ivf.clone(spark, dir, s"$root/branch", 1L, 1L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq.sorted
    assert(
      rows(Similarity.knnGraphFromStateAsOf(spark, dir, k = 3,
        asOfBatch = 1L, asOfDelete = 1L)) ==
      rows(Similarity.knnGraphFromState(spark, s"$root/branch", k = 3)))
    assert(
      rows(Similarity.mutualNnPairsFromStateAsOf(spark, dir, k = 3,
        minCos = 0.2, asOfBatch = 1L, asOfDelete = 1L)) ==
      rows(Similarity.mutualNnPairsFromState(spark, s"$root/branch", k = 3,
        minCos = 0.2)))
    assert(
      rows(Similarity.semanticClustersFromStateAsOf(spark, dir, k = 3,
        minCos = 0.2, asOfBatch = 1L, asOfDelete = 1L)) ==
      rows(Similarity.semanticClustersFromState(spark, s"$root/branch",
        k = 3, minCos = 0.2)))
    // and the current read differs (batch 2 joined the graph)
    assert(
      rows(Similarity.knnGraphFromState(spark, dir, k = 3)) !=
      rows(Similarity.knnGraphFromState(spark, s"$root/branch", k = 3)))
  }

  test("exportShardsFromState: selection honors budget + tombstones; bins honor binBudget") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-export")
      .toFile.getAbsolutePath + "/tok"
    Bpe.appendTokenizerState(docs.filter(col("doc_id") < 150), dir,
      "doc_id", "text", numMerges = 3, batchTag = Some(1L))
    Bpe.appendTokenizerState(docs.filter(col("doc_id") >= 150), dir,
      "doc_id", "text", numMerges = 3, batchTag = Some(2L))
    Bpe.deleteFromTokenizerState(spark, dir,
      docs.filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    val quality = docs.select(col("doc_id"),
      length(col("text")).cast("double").as("q"))
    val out = Dedup.materialize(Bpe.exportShardsFromState(spark, dir,
      quality, "doc_id", "q", budget = 9000L, binBudget = 1000L,
      numShards = 4))
    val rows = out.select("doc_id", "bpe_tokens", "shard", "bin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.nonEmpty)
    // tombstoned docs never export
    assert(rows.forall(_._1 % 7 != 3))
    // the selection equals the budget operator's own cut
    val sel = Bpe.tokenBudgetFromState(spark, dir, quality, "doc_id", "q",
        budget = 9000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet == sel)
    // within each (shard, bin): token mass stays under binBudget + the
    // one overflowing tail doc the greedy close allows
    val byBin = rows.groupBy(r => (r._3, r._4))
    assert(byBin.forall { case (_, rs) =>
      val tot = rs.map(_._2).sum
      tot <= 1000L + rs.map(_._2).max
    })
    // utilization report covers every bin exactly once
    val eff = Packing.binEfficiency(out, Seq.empty, "bpe_tokens",
      budget = 1000L)
    assert(eff.select("n_bins").head().getLong(0) == byBin.size.toLong)
  }

  test("dHash64: resize- and re-encode-invariant; local edit flips <= 2 " +
      "bits; undecodable refuses; hammingPairs64 complete vs brute force") {
    import graft.queries.Extensions.syntheticBlockImage
    // ids 6, 46, 86 render the SAME picture (group 6) at 18x16 PNG,
    // 36x32 BMP, 27x24 PNG — the hash must not see the size or format
    val hs = Seq(6L, 46L, 86L)
      .map(id => Multimodal.dHash64(syntheticBlockImage(id)).get)
    assert(hs.distinct.size == 1)
    // a one-block edit (id 11 vs its group-mate 51) flips at most the
    // two comparisons that block touches — a near-dup, never a stranger
    val hEdit = Multimodal.dHash64(syntheticBlockImage(11L)).get
    val hBase = Multimodal.dHash64(syntheticBlockImage(51L)).get
    val d = java.lang.Long.bitCount(hEdit ^ hBase)
    assert(d >= 1 && d <= 2, s"edit distance $d")
    // different groups differ widely (sanity that the hash has signal)
    val hOther = Multimodal.dHash64(syntheticBlockImage(7L)).get
    assert(java.lang.Long.bitCount(hs.head ^ hOther) > 3)
    // non-images don't decode; the batch marks them instead of throwing
    assert(Multimodal.dHash64("not an image".getBytes("UTF-8")).isEmpty)
    val mixed = Seq((1L, syntheticBlockImage(1L)),
        (2L, "junk".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val ph = Multimodal.perceptualHashBatch(mixed).collect()
    assert(ph.filter(_.ok).map(_.doc_id).toSet == Set(1L))
    // banded pairs == brute-force pairs at the guaranteed threshold
    val sigs = (0L until 60L)
      .map(id => (id, Multimodal.dHash64(syntheticBlockImage(id)).get))
    val brute = (for {
      (a, ha) <- sigs; (b, hb) <- sigs if a < b
      ham = java.lang.Long.bitCount(ha ^ hb) if ham <= 3
    } yield (a, b, ham.toLong)).toSet
    val banded = Dedup.hammingPairs64(
        sigs.toDF("doc_id", "phash"), "doc_id", "phash", maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded == brute && brute.nonEmpty)
  }

  test("writeShardsFromState: written files == plan; payload carried; " +
      "re-run overwrites; half-written export refuses") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-exportw")
      .toFile.getAbsolutePath
    val dir = s"$root/tok"
    Bpe.appendTokenizerState(docs, dir, "doc_id", "text", numMerges = 3,
      batchTag = Some(1L))
    val quality = docs.select(col("doc_id"),
      length(col("text")).cast("double").as("q"))
    val plan = Bpe.exportShardsFromState(spark, dir, quality, "doc_id", "q",
        budget = 9000L, binBudget = 1000L, numShards = 4)
      .select("doc_id", "bpe_tokens", "shard", "bin")
      .as[(Long, Long, Long, Long)].collect().toSet
    val n = Bpe.writeShardsFromState(spark, dir, quality, "doc_id", "q",
      budget = 9000L, binBudget = 1000L, numShards = 4,
      outDir = s"$root/export",
      payload = Some(docs.select(col("doc_id"), col("text"))))
    assert(n == plan.size.toLong)
    def readBack() = Bpe.readExportedShards(spark, s"$root/export")
      .select(col("doc_id"), col("bpe_tokens"),
        col("shard").cast("long"), col("bin"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(readBack() == plan)
    // payload column landed alongside the plan columns
    assert(Bpe.readExportedShards(spark, s"$root/export")
      .filter(col("text").isNull).count() == 0)
    // a blind re-run overwrites to identical content, never duplicates
    Bpe.writeShardsFromState(spark, dir, quality, "doc_id", "q",
      budget = 9000L, binBudget = 1000L, numShards = 4,
      outDir = s"$root/export",
      payload = Some(docs.select(col("doc_id"), col("text"))))
    assert(readBack() == plan)
    // a half-written export (pending marker) refuses with the remedy
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/export/_export_pending"), "x\n")
    val e = intercept[IllegalArgumentException](
      Bpe.readExportedShards(spark, s"$root/export"))
    assert(e.getMessage.contains("HALF-WRITTEN"), e.getMessage)
    // ...and a dir with no _export_meta is not an export at all
    val e2 = intercept[IllegalArgumentException](
      Bpe.readExportedShards(spark, s"$root/nothing"))
    assert(e2.getMessage.contains("_export_meta"), e2.getMessage)
  }

  test("fastForward: branch catches up to source head == fresh clone; no-op is stable") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-ff")
      .toFile.getAbsolutePath
    val src = s"$root/postings"
    Index.appendPostingsState(docs.filter(col("doc_id") < 150), src,
      "doc_id", "text", batchTag = Some(1L))
    Index.appendPostingsState(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), src,
      "doc_id", "text", batchTag = Some(2L))
    Index.deleteFromPostingsState(spark, src,
      docs.filter(pmod(col("doc_id"), lit(7)) === 3 && col("doc_id") < 300)
        .select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    StatePillar.Postings.clone(spark, src, s"$root/branch", 2L, 1L)
    // the source moves on: one more batch, one more delete
    Index.appendPostingsState(docs.filter(col("doc_id") >= 300), src,
      "doc_id", "text", batchTag = Some(3L))
    Index.deleteFromPostingsState(spark, src,
      docs.filter(pmod(col("doc_id"), lit(11)) === 5).select(col("doc_id")),
      "doc_id", deleteTag = Some(2L))
    val terms = Seq("dup", "vector", "window")
    def read(d: String) =
      Index.bm25TopKFromState(spark, d, terms, k = 10, idCol = "doc_id")
        .select(col("doc_id"), round(col("score"), 6), col("rank"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSeq
    assert(read(s"$root/branch") != read(src), "fixture must diverge first")
    val head = StatePillar.Postings.fastForward(spark, src, s"$root/branch")
    assert(head == (3L, 2L))
    assert(read(s"$root/branch") == read(src),
      "caught-up branch must answer exactly like the source head")
    StatePillar.Postings.clone(spark, src, s"$root/fresh", 3L, 2L)
    assert(read(s"$root/branch") == read(s"$root/fresh"),
      "catch-up must equal a fresh clone at the head")
    // no-op: already at head — same cut back, read unchanged
    assert(StatePillar.Postings.fastForward(spark, src, s"$root/branch") ==
      (3L, 2L))
    assert(read(s"$root/branch") == read(src))
    // lineage advanced: a later source append fast-forwards again
    Index.appendPostingsState(docs.filter(col("doc_id") < 10), src,
      "doc_id", "text", batchTag = Some(4L))
    assert(StatePillar.Postings.fastForward(spark, src, s"$root/branch") ==
      (4L, 2L))
    assert(read(s"$root/branch") == read(src))
  }

  test("fastForward refusals: not-a-branch, wrong source, diverged, truncated source") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-ffr")
      .toFile.getAbsolutePath
    val src = s"$root/postings"
    Seq((0, 100, 1L), (100, 200, 2L), (200, 1 << 20, 3L)).foreach {
      case (lo, hi, tag) =>
        Index.appendPostingsState(
          docs.filter(col("doc_id") >= lo && col("doc_id") < hi), src,
          "doc_id", "text", batchTag = Some(tag))
    }
    // not a branch: the source itself carries no _branch lineage
    val e1 = intercept[IllegalArgumentException](
      StatePillar.Postings.fastForward(spark, src, src))
    assert(e1.getMessage.contains("not a clone"), e1.getMessage)
    // wrong source: a branch only pulls from its own lineage
    val src2 = s"$root/other"
    Index.appendPostingsState(docs.filter(col("doc_id") < 50), src2,
      "doc_id", "text", batchTag = Some(1L))
    StatePillar.Postings.clone(spark, src, s"$root/b1", 2L)
    val e2 = intercept[IllegalArgumentException](
      StatePillar.Postings.fastForward(spark, src2, s"$root/b1"))
    assert(e2.getMessage.contains("branch's own source"), e2.getMessage)
    // diverged: local append past the cut
    StatePillar.Postings.clone(spark, src, s"$root/b2", 2L)
    Index.appendPostingsState(docs.filter(col("doc_id") >= 900), s"$root/b2",
      "doc_id", "text", batchTag = Some(3L))
    val e3 = intercept[IllegalArgumentException](
      StatePillar.Postings.fastForward(spark, src, s"$root/b2"))
    assert(e3.getMessage.contains("DIVERGED"), e3.getMessage)
    // truncated source: the versions the catch-up needs were collapsed
    StatePillar.Postings.clone(spark, src, s"$root/b3", 1L)
    StatePillar.Postings.truncate(spark, src, floor = 2L)
    val e4 = intercept[IllegalArgumentException](
      StatePillar.Postings.fastForward(spark, src, s"$root/b3"))
    assert(e4.getMessage.contains("truncated history"), e4.getMessage)
  }

  test("fastForward refusals: untagged branch rows, corrupt lineage, " +
      "untagged source — all BEFORE the _ff_pending marker") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-ffu")
      .toFile.getAbsolutePath
    val src = s"$root/postings"
    Seq((0, 100, 1L), (100, 200, 2L)).foreach { case (lo, hi, tag) =>
      Index.appendPostingsState(
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi), src,
        "doc_id", "text", batchTag = Some(tag))
    }
    // UNTAGGED local rows on a branch are invisible to the tag-max
    // divergence probe (nothing to max over) — refused by name at the FS
    // level, and BEFORE the marker, so branch reads stay open
    StatePillar.Postings.clone(spark, src, s"$root/b1", 1L)
    Index.appendPostingsState(docs.filter(col("doc_id") >= 900), s"$root/b1",
      "doc_id", "text") // untagged local write
    val e1 = intercept[IllegalArgumentException](
      StatePillar.Postings.fastForward(spark, src, s"$root/b1"))
    assert(e1.getMessage.contains("UNTAGGED"), e1.getMessage)
    assert(!new java.io.File(s"$root/b1/_ff_pending").exists())
    // corrupt / partially-written _branch lineage: the named refusal with
    // the re-clone remedy, not a bare NoSuchElementException
    StatePillar.Postings.clone(spark, src, s"$root/b2", 1L)
    // drop the Hadoop local-FS checksum sidecar so the corruption below
    // surfaces as CONTENT corruption, not a crc mismatch
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$root/b2/._branch.crc"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/b2/_branch"), "garbage\n")
    val e2 = intercept[IllegalStateException](
      StatePillar.Postings.fastForward(spark, src, s"$root/b2"))
    assert(e2.getMessage.contains("corrupt _branch lineage"), e2.getMessage)
    // an UNTAGGED source table refuses BEFORE the marker publishes: were
    // it after, every re-run would refuse identically and the marker
    // would gate branch reads forever with no named remedy
    val src2 = s"$root/untagged_src"
    Bpe.appendTokenizerState(docs.filter(col("doc_id") < 50), src2,
      "doc_id", "text", numMerges = 3) // untagged build
    Bpe.deleteFromTokenizerState(spark, src2,
      docs.filter(col("doc_id") === 7).select(col("doc_id")), "doc_id",
      deleteTag = Some(1L))
    val dst = s"$root/b3"
    // handcraft a branch: byte-copy the dir, then record lineage at the
    // current delete head so only a NEW source delete triggers catch-up
    import scala.sys.process._
    assert(Seq("cp", "-r", src2, dst).! == 0)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dst/_branch"),
      s"src=${StateIO.qualifyDir(spark, src2)}\nbatch=0\ndelete=1\n")
    Bpe.deleteFromTokenizerState(spark, src2,
      docs.filter(col("doc_id") === 8).select(col("doc_id")), "doc_id",
      deleteTag = Some(2L))
    val e3 = intercept[IllegalArgumentException](
      StatePillar.Tokenizer.fastForward(spark, src2, dst))
    assert(e3.getMessage.contains("TAGGED source"), e3.getMessage)
    assert(!new java.io.File(s"$dst/_ff_pending").exists())
  }

  test("fastForward: frozen-artifact drift (recluster/retrain since branch) refuses") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val root = java.nio.file.Files.createTempDirectory("graft-ffd")
      .toFile.getAbsolutePath
    val src = s"$root/ivf"
    Similarity.appendIvfState(emb.filter(col("vec_id") < 60), src,
      k = 4, iters = 2, batchTag = Some(1L))
    Similarity.appendIvfState(
      emb.filter(col("vec_id") >= 60 && col("vec_id") < 120), src,
      k = 4, iters = 2, batchTag = Some(2L))
    StatePillar.Ivf.clone(spark, src, s"$root/branch", 1L)
    Similarity.appendIvfState(emb.filter(col("vec_id") >= 120), src,
      k = 4, iters = 2, batchTag = Some(3L))
    // a recluster rewrites the frozen centroids — the branch's cells
    // are assigned under the OLD geometry; catch-up must refuse
    Similarity.reclusterIvfState(spark, src)
    val e = intercept[IllegalArgumentException](
      StatePillar.Ivf.fastForward(spark, src, s"$root/branch"))
    assert(e.getMessage.contains("frozen artifact"), e.getMessage)
    // the tokenizer twin: parity when merges are untouched
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val ts = s"$root/tok"
    Bpe.appendTokenizerState(docs.filter(col("doc_id") < 150), ts,
      "doc_id", "text", numMerges = 3, batchTag = Some(1L))
    StatePillar.Tokenizer.clone(spark, ts, s"$ts.b", 1L)
    Bpe.appendTokenizerState(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), ts,
      "doc_id", "text", numMerges = 3, batchTag = Some(2L))
    Bpe.deleteFromTokenizerState(spark, ts,
      docs.filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    assert(StatePillar.Tokenizer.fastForward(spark, ts, s"$ts.b") == (2L, 1L))
    val quality = docs.select(col("doc_id"),
      length(col("text")).cast("double").as("q"))
    def budget(d: String) =
      Bpe.tokenBudgetFromState(spark, d, quality, "doc_id", "q",
          budget = 9000L)
        .select(col("doc_id"), col("cum_tokens"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(budget(s"$ts.b") == budget(ts))
  }

  test("fastForward: a crashed catch-up gates every read until a re-run completes it") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-ffc")
      .toFile.getAbsolutePath
    val src = s"$root/postings"
    Index.appendPostingsState(docs.filter(col("doc_id") < 200), src,
      "doc_id", "text", batchTag = Some(1L))
    StatePillar.Postings.clone(spark, src, s"$root/branch", 1L)
    Index.appendPostingsState(docs.filter(col("doc_id") >= 200), src,
      "doc_id", "text", batchTag = Some(2L))
    Index.deleteFromPostingsState(spark, src,
      docs.filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")),
      "doc_id", deleteTag = Some(1L))
    // simulate the crash window by hand: the marker is up (commit
    // point passed) but no table moved — the exact state a process
    // death right after the publish leaves
    val marker = new org.apache.hadoop.fs.Path(s"$root/branch", "_ff_pending")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(marker, true)
    try out.write("from=1,0\nto=2,1\n".getBytes("UTF-8"))
    finally out.close()
    // every read and mutating entry on the branch fails fast, naming
    // the fastForward re-run
    val e = intercept[IllegalArgumentException](
      Index.bm25TopKFromState(spark, s"$root/branch", Seq("dup"), 5,
        idCol = "doc_id"))
    assert(e.getMessage.contains("fastForward"), e.getMessage)
    intercept[IllegalArgumentException](
      Index.appendPostingsState(docs.filter(col("doc_id") < 10),
        s"$root/branch", "doc_id", "text", batchTag = Some(9L)))
    // the re-run completes idempotently and clears the marker
    assert(StatePillar.Postings.fastForward(spark, src, s"$root/branch") ==
      (2L, 1L))
    assert(!fs.exists(marker))
    def read(d: String) =
      Index.bm25TopKFromState(spark, d, Seq("dup", "vector"), k = 10,
          idCol = "doc_id")
        .select(col("doc_id"), round(col("score"), 6), col("rank"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSeq
    assert(read(s"$root/branch") == read(src))
  }

  test("semanticContaminated: flags exact leaks through the probed state, " +
      "tombstoned vectors never flag, attribution is the cos-argmax") {
    // vectors repeat with period 7 in i, so vector 5 == vector 12: one
    // eval item that IS vector 5 must flag both copies at cos 1
    val base = (0 until 18).map(i =>
      (i.toLong, Array.tabulate(4)(d => ((i * 3 + d) % 7 + 1).toFloat)))
    val emb = base.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_decontam").toFile.getAbsolutePath + "/ivf"
    Similarity.appendIvfState(emb, dir, k = 3, iters = 2,
      batchTag = Some(1L))
    val evalSet = Seq((900L, base(5)._2), (901L, Array(1f, 0f, 0f, 0f)))
      .toDF("eval_id", "embedding")
    def flagged() = Similarity
      .semanticContaminated(spark, dir, evalSet, minCos = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val f1 = flagged()
    assert(f1.map(_._1) == Seq(5L, 12L), f1)
    assert(f1.forall(t => t._2 == 900L && math.abs(t._3 - 1.0) < 1e-9), f1)
    // tombstoning one copy removes it from the drop-list
    Similarity.deleteFromIvfState(spark, dir, Seq(12L).toDF("vec_id"),
      "vec_id", deleteTag = Some(1L))
    assert(flagged().map(_._1) == Seq(5L))
  }

  test("pageRank: ring graph stays uniform; mass conserved; lineage-flat " +
      "rounds") {
    // a directed ring is vertex-transitive: every round reproduces the
    // uniform distribution EXACTLY (in-mass = the single predecessor's
    // pr/1), so any deviation is an arithmetic bug, not convergence noise
    val n = 12
    val edges = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
      .toDF("src", "dst")
    val nodes = (0 until n).map(_.toLong).toDF("vid")
    val pr = Similarity.pageRank(edges, nodes, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.size == n)
    pr.values.foreach(v => assert(math.abs(v - 1.0 / n) < 1e-12, pr))
  }

  test("pageRank: dangling mass redistributes (total stays 1); edges to " +
      "unknown nodes drop; isolated nodes keep teleport-only mass") {
    // a -> b, b dangling, c isolated; plus an edge into a node OUTSIDE
    // the universe which must not leak mass
    val edges = Seq((1L, 2L), (1L, 99L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("vid")
    val pr = Similarity.pageRank(edges, nodes, iters = 3, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.keySet == Set(1L, 2L, 3L))
    assert(math.abs(pr.values.sum - 1.0) < 1e-12, pr) // mass conserved
    // 2 receives 1's whole out-mass (the 99-edge dropped, so outdeg = 1)
    assert(pr(2L) > pr(1L) && pr(2L) > pr(3L), pr)
    // 1 and 3 are both teleport-fed with in-degree 0: equal by symmetry
    assert(math.abs(pr(1L) - pr(3L)) < 1e-12, pr)
  }

  test("pageRank: personalized teleport zeroes unreachable nodes and " +
      "drops seed weight on unknown ids before normalizing") {
    // seeds: 1 (w=3) and 42 (w=5, NOT in the node set - dropped). Node 3
    // has no in-edges and no seed weight: exactly 0 through every round.
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("vid")
    val seeds = Seq((1L, 3.0), (42L, 5.0)).toDF("vid", "tp")
    val pr = Similarity.pageRank(edges, nodes, iters = 5,
        teleport = Some(seeds))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(3L) == 0.0, pr)
    assert(math.abs(pr.values.sum - 1.0) < 1e-12, pr)
    // all mass oscillates inside the 2-cycle (a 2-cycle has period-2
    // dynamics, so the split depends on iteration parity — no ordering
    // assert), and every cycle member holds a strictly positive share
    assert(pr(1L) > 0.0 && pr(2L) > 0.0, pr)
  }

  test("pageRank: a teleport set with zero live mass fails fast by name " +
      "(never all-NaN scores); negative weights refuse") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("vid")
    // every seed unknown → normalizer would be 0.0/0.0 = NaN silently
    val dead = Seq((42L, 5.0), (43L, 1.0)).toDF("vid", "tp")
    val e1 = intercept[IllegalArgumentException](
      Similarity.pageRank(edges, nodes, iters = 2, teleport = Some(dead)))
    assert(e1.getMessage.contains("zero mass"), e1.getMessage)
    // known seeds but all-zero weight — same degenerate normalizer
    val zeroes = Seq((1L, 0.0), (2L, 0.0)).toDF("vid", "tp")
    val e2 = intercept[IllegalArgumentException](
      Similarity.pageRank(edges, nodes, iters = 2, teleport = Some(zeroes)))
    assert(e2.getMessage.contains("zero mass"), e2.getMessage)
    val neg = Seq((1L, 2.0), (2L, -1.0)).toDF("vid", "tp")
    val e3 = intercept[IllegalArgumentException](
      Similarity.pageRank(edges, nodes, iters = 2, teleport = Some(neg)))
    assert(e3.getMessage.contains(">= 0"), e3.getMessage)
  }

  test("graph delete delta: the no-op branch completes a crashed " +
      "delegated rebuild's marker clear — but never a half-done build's " +
      "or a batch delta's") {
    val emb = (0 until 24).map(i =>
      (i.toLong, Array.tabulate(4)(d => ((i * 5 + d * 7) % 13).toFloat)))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files
      .createTempDirectory("graft_noopclr").toFile.getAbsolutePath
    val ivf = s"$root/ivf"; val g = s"$root/graph"
    Similarity.appendIvfState(emb, ivf, k = 4, iters = 2,
      batchTag = Some(1L))
    Similarity.buildKnnGraphState(spark, ivf, g, k = 3, nProbe = 2)
    val before = Similarity.readKnnGraphState(spark, g).collect().toSet
    val upto = StateIO.readSmallFile(spark, g, "_graph_upto").get.trim
    // the ADVICE-medium crash window: a delete-side cost-gate delegation
    // finished every write (meta republished at the current head, upto
    // republished) and crashed before clearing its "building=" marker —
    // a blind delete-delta re-run sees head == frozen head (no-op) and
    // must complete the clear, or every read fails until a manual rebuild
    StateIO.publishSmallFile(spark, g, "_graph_pending", s"building=$upto\n")
    intercept[IllegalArgumentException](
      Similarity.readKnnGraphState(spark, g)) // gated while pending
    Similarity.knnGraphDeleteDeltaFromState(spark, ivf, g)
    assert(Similarity.readKnnGraphState(spark, g).collect().toSet == before,
      "the completed rebuild's leftover marker must clear on the no-op path")
    // a MISMATCHED building marker is a crash MID-build (tables half
    // written) — the no-op path must leave it for the owning re-run
    StateIO.publishSmallFile(spark, g, "_graph_pending",
      s"building=${upto.toLong + 7}\n")
    Similarity.knnGraphDeleteDeltaFromState(spark, ivf, g)
    intercept[IllegalArgumentException](Similarity.readKnnGraphState(spark, g))
    // an applying= marker belongs to a crashed BATCH delta — same refusal
    StateIO.publishSmallFile(spark, g, "_graph_pending", "applying=2\n")
    Similarity.knnGraphDeleteDeltaFromState(spark, ivf, g)
    intercept[IllegalArgumentException](Similarity.readKnnGraphState(spark, g))
    val fs = new org.apache.hadoop.fs.Path(g)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(g, "_graph_pending"), false)
  }

  test("graph delete delta: cost-gate delegation REFUSES a state missing " +
      "_graph_upto instead of silently rebuilding past unapplied batches") {
    val emb = (0 until 24).map(i =>
      (i.toLong, Array.tabulate(4)(d => ((i * 5 + d * 7) % 13).toFloat)))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files
      .createTempDirectory("graft_nouptodel").toFile.getAbsolutePath
    val ivf = s"$root/ivf"; val g = s"$root/graph"
    Similarity.appendIvfState(emb, ivf, k = 4, iters = 2,
      batchTag = Some(1L))
    Similarity.buildKnnGraphState(spark, ivf, g, k = 3, nProbe = 2)
    Similarity.deleteFromIvfState(spark, ivf, Seq(3L, 9L).toDF("vec_id"),
      "vec_id", deleteTag = Some(1L))
    val fs = new org.apache.hadoop.fs.Path(g)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(g, "_graph_upto"), false)
    // a tiny threshold forces the delegation branch with any dirty cell
    val e = intercept[IllegalStateException](
      Similarity.knnGraphDeleteDeltaFromState(spark, ivf, g,
        maxDirtyFraction = 1e-6))
    assert(e.getMessage.contains("_graph_upto"), e.getMessage)
  }

  test("pageRankFromGraphState == rebuild-based scores through build, " +
      "batch delta, and delete delta") {
    val emb = (0 until 30).map(i =>
      (i.toLong, Array.tabulate(4)(d => ((i * 5 + d * 7) % 13).toFloat)))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files
      .createTempDirectory("graft_pr_graph").toFile.getAbsolutePath
    val ivf = s"$root/ivf"; val g = s"$root/graph"
    Similarity.appendIvfState(emb.filter($"vec_id" < 20), ivf, k = 4,
      iters = 2, batchTag = Some(1L))
    Similarity.buildKnnGraphState(spark, ivf, g, k = 3, nProbe = 2)
    def both(): (Map[Long, BigDecimal], Map[Long, BigDecimal]) = {
      // 12-dp rounding: the two paths sum identical edge sets but with
      // different physical partitionings, so per-dst float sums may
      // differ in the last ulp — the VALUES are equal, the bits may not be
      def toMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) ->
          BigDecimal(r.getDouble(1)).setScale(12,
            BigDecimal.RoundingMode.HALF_UP)).toMap
      (toMap(Similarity.pageRankFromGraphState(spark, g, iters = 4)),
        toMap(Similarity.pageRankFromState(spark, ivf, k = 3, iters = 4)))
    }
    val (s1, r1) = both()
    assert(s1 == r1, "fresh build: persisted-graph PR == rebuild PR")
    Similarity.appendIvfState(emb.filter($"vec_id" >= 20), ivf, k = 4,
      iters = 2, batchTag = Some(2L))
    Similarity.knnGraphDeltaFromState(spark, ivf, g, 2L)
    val (s2, r2) = both()
    assert(s2 == r2, "after batch delta")
    Similarity.deleteFromIvfState(spark, ivf,
      Seq(2L, 21L).toDF("vec_id"), "vec_id", deleteTag = Some(1L))
    Similarity.knnGraphDeleteDeltaFromState(spark, ivf, g)
    val (s3, r3) = both()
    assert(s3 == r3, "after delete delta")
    assert(!s3.contains(2L) && !s3.contains(21L))
  }

  test("partitionTagValues: an aborted write's EMPTY tag dir is not a " +
      "committed version") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_tagdirs")
      .toFile.getAbsolutePath
    Seq((1L, 10L), (2L, 20L)).toDF("batch_id", "v")
      .repartition(1).write.partitionBy("batch_id").parquet(s"$root/t")
    def maxTag = StateIO.partitionTagMax(spark, root, "t", "batch_id")
    assert(maxTag == Some(2L))
    // crash remnant: Spark creates the output dir at job setup and an
    // abort can leave it empty — counting it as a committed head would
    // skip the successful re-run of that tag forever
    Files.createDirectories(Paths.get(s"$root/t/batch_id=9"))
    assert(maxTag == Some(2L), "empty tag dir must not count")
    // ...or holding only job-temporary/marker entries
    Files.createDirectories(Paths.get(s"$root/t/batch_id=9/_temporary/0"))
    Files.writeString(Paths.get(s"$root/t/batch_id=9/_SUCCESS"), "")
    assert(maxTag == Some(2L), "marker-only tag dir must not count")
    // a real data file at any depth makes the tag committed again
    Files.writeString(Paths.get(s"$root/t/batch_id=9/part-x.parquet"), "x")
    assert(maxTag == Some(9L))
  }

  test("compactStateTables: already-one-file-per-partition layout SKIPS " +
      "the rewrite; fragmented partitions still compact to one file") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_compact_skip")
      .toFile.getAbsolutePath
    Seq((1L, 1L, "a"), (1L, 2L, "b"), (2L, 3L, "c"))
      .toDF("batch_id", "id", "s")
      .repartition(1).write.partitionBy("batch_id").parquet(s"$root/t")
    def files: Seq[(String, Long)] = {
      def walk(f: java.io.File): Seq[(String, Long)] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet"))
          Seq((f.getAbsolutePath, f.lastModified()))
        else Nil
      walk(new java.io.File(s"$root/t")).sortBy(_._1)
    }
    def rows = spark.read.parquet(s"$root/t")
      .select(col("id"), col("s"), col("batch_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    val (files0, rows0) = (files, rows)
    Dedup.compactStateTables(spark, root, Seq("t" -> false),
      targetBytes = 128L << 20)
    assert(files == files0,
      "one-file-per-partition table must be left untouched (same files, " +
        "same mtimes)")
    // fragment one partition: a second file in batch_id=1
    Seq((4L, "d")).toDF("id", "s")
      .write.mode("append").parquet(s"$root/t/batch_id=1")
    val rows1 = rows
    assert(rows1.size == rows0.size + 1)
    Dedup.compactStateTables(spark, root, Seq("t" -> false),
      targetBytes = 128L << 20)
    assert(rows == rows1, "compaction must preserve rows exactly")
    val perDir = files.groupBy(_._1.split("/").dropRight(1).last)
    assert(perDir.values.forall(_.size == 1),
      s"fragmented partitions must compact to one file: $perDir")
  }

  test("copyTreesParallel: nested multi-file trees copy byte-identically; " +
      "an empty tree still yields the destination dir") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_copytrees")
      .toFile.getAbsolutePath
    val rnd = new scala.util.Random(7)
    // more files than CopyThreads so the pool actually queues
    val made = (0 until 40).map { i =>
      val sub = s"$root/src/tag=${i % 3}/sub${i % 2}"
      Files.createDirectories(Paths.get(sub))
      val bytes = Array.fill(1 + rnd.nextInt(5000))(rnd.nextInt.toByte)
      Files.write(Paths.get(s"$sub/f$i.bin"), bytes)
      (s"tag=${i % 3}/sub${i % 2}/f$i.bin", bytes.toSeq)
    }
    Files.createDirectories(Paths.get(s"$root/src/tag=9")) // empty tree
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(hconf)
    StateIO.copyTreesParallel(fs, fs, hconf,
      (0 to 3).map(t => (
        new org.apache.hadoop.fs.Path(s"$root/src/tag=${if (t == 3) 9 else t}"),
        new org.apache.hadoop.fs.Path(
          s"$root/dst/tag=${if (t == 3) 9 else t}"))))
    made.foreach { case (rel, bytes) =>
      assert(Files.readAllBytes(Paths.get(s"$root/dst/$rel")).toSeq == bytes,
        s"mismatch at $rel")
    }
    assert(Files.isDirectory(Paths.get(s"$root/dst/tag=9")),
      "empty tree must still create its destination dir")
  }

  test("pageRankFromState: tombstoned vectors neither score nor donate") {
    val emb = (0 until 24).map(i =>
      (i.toLong, Array.tabulate(4)(d => ((i * 7 + d * 3) % 11).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pr_state").toFile.getAbsolutePath + "/ivf"
    Similarity.appendIvfState(emb, dir, k = 4, iters = 2,
      batchTag = Some(1L))
    Similarity.deleteFromIvfState(spark, dir,
      Seq(3L, 9L).toDF("vec_id"), "vec_id", deleteTag = Some(1L))
    val pr = Similarity.pageRankFromState(spark, dir, k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!pr.contains(3L) && !pr.contains(9L), pr.keySet)
    assert(pr.size == 22)
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, pr.values.sum)
  }
}
