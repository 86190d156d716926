package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Fingerprint64, TextFunctions}
import graft.operators.{Dedup, Similarity}

class TextDedupSpec extends AnyFunSuite {
  import TestSpark._

  test("fingerprint64 matches the FNV-1a reference values") {
    // FNV-1a 64 of "abc" per the public reference algorithm
    assert(Fingerprint64.hash("abc".getBytes("UTF-8")) == 0xe71fa2190541574bL)
    assert(Fingerprint64.hash(Array.emptyByteArray) == 0xcbf29ce484222325L)
    import spark.implicits._
    val got = Seq("abc", "", "hello world").toDF("text")
      .select(Fingerprint64.fingerprint64(col("text"))).as[Long].collect()
    assert(got(0) == 0xe71fa2190541574bL)
    assert(got(1) == 0xcbf29ce484222325L)
    assert(got(2) == Fingerprint64.hash("hello world".getBytes("UTF-8")))
  }

  test("shingles guard short documents") {
    import spark.implicits._
    val got = Seq("one two", "one two three four").toDF("text")
      .select(TextFunctions.shingles(col("text")).as("sh"))
      .as[Seq[String]].collect()
    assert(got(0).isEmpty)
    assert(got(1) == Seq("one two three", "two three four"))
  }

  test("langId picks marker-majority language deterministically") {
    import spark.implicits._
    val got = Seq("the cat and the dog", "el gato es una casa", "xyzzy plugh")
      .toDF("text").select(TextFunctions.langId(col("text"))).as[String].collect()
    assert(got.sameElements(Array("en", "es", "und")))
  }

  test("langId detects unsegmented Chinese (no whitespace word boundaries)") {
    import spark.implicits._
    // real CJK text is one unsegmented run — token-equality marker
    // matching can never fire on it; the zh path counts marker chars
    // as substrings instead
    val got = Seq("我的猫是不大的动物了它是好的")
      .toDF("text").select(TextFunctions.langId(col("text"))).as[String].collect()
    assert(got.sameElements(Array("zh")), got.mkString(","))
  }

  test("d10 substring spans: shared 20-token run flagged, coverage exact") {
    import spark.implicits._
    // doc 1: 30 tokens; tokens 5..24 (0-based) repeat verbatim as doc
    // 2's tokens 0..19. doc 3 shares nothing. Windows are 20 tokens, so
    // doc 1 and doc 2 share exactly ONE window each; doc 1's coverage
    // is 20/30, doc 2's is 20/20.
    val shared = (1 to 20).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, ((1 to 5).map(i => s"a$i") ++ (1 to 20).map(i => s"s$i") ++
        (1 to 5).map(i => s"z$i")).mkString(" ")),
      (2L, shared),
      (3L, (1 to 25).map(i => s"u$i").mkString(" "))).toDF("id", "body")
    val got = graft.api.GraftOps.substringSpans(docs, "id", "body")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got(0) == (1L, 11, 1L, math.round(20.0 / 30 * 1e6) / 1e6), got(0).toString)
    assert(got(1) == (2L, 1, 1L, 1.0), got(1).toString)
    assert(got(2) == (3L, 6, 0L, 0.0), got(2).toString)
  }

  test("d10 coverage merges overlapping windows (no double count)") {
    import spark.implicits._
    // docs 1 and 2 share a 22-token run → 3 overlapping dup windows in
    // doc 1 starting at 0,1,2... doc1 = 22 shared + 8 unique = 30
    // tokens, covered = 22 (union of [0,20),[1,21),[2,22)), not 60
    val run = (1 to 22).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, run + " " + (1 to 8).map(i => s"q$i").mkString(" ")),
      (2L, run)).toDF("id", "body")
    val got = graft.api.GraftOps.substringSpans(docs, "id", "body")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(got(0) == (1L, 3L, math.round(22.0 / 30 * 1e6) / 1e6), got(0).toString)
    assert(got(1) == (2L, 3L, 1.0), got(1).toString)
  }

  test("minhash+LSH output equals exact jaccard pairs at 0.8") {
    val exact = SparkEntry.queries("d2_ngram_jaccard")(spark, sf)
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("d3_minhash_lsh")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("simhash marks identical docs at hamming 0 and near-dup pairs exist at sf") {
    import spark.implicits._
    // identical texts → identical signature
    val pairs = SparkEntry.queries("d4_simhash")(spark, sf).collect()
    pairs.foreach(r => assert(r.getAs[Int]("hamming") <= 3))
  }

  test("ann: lsh results are a subset of the exact scoring space with sane ranks") {
    val brute = SparkEntry.queries("s1_ann_brute")(spark, sf).collect()
    assert(brute.nonEmpty)
    val bruteTop = brute.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cosine")).toMap
    val lsh = SparkEntry.queries("s2_ann_lsh")(spark, sf).collect()
    lsh.foreach { r =>
      val q = r.getAs[Long]("q_id")
      // an approximate neighbor can never beat the exact best
      assert(r.getAs[Double]("cosine") <= bruteTop(q) + 1e-9)
    }
    val recall = lsh.count(r => bruteTop.contains(r.getAs[Long]("q_id"))).toDouble
    info(s"s2 returned ${lsh.length} neighbors over ${bruteTop.size} queries")
  }

  test("ann: knn self-join reaches recall@5 >= 0.8 vs exact brute force") {
    import spark.implicits._
    val got = SparkEntry.queries("s6_knn_join")(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id"))).toSet
    // exact reference computed driver-side (sf0.001 corpus is bounded)
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) as emb")
      .as[(Long, Array[Double])].collect()
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na) / math.sqrt(nb)
    }
    val exact = vecs.flatMap { case (id, v) =>
      vecs.iterator.filter(_._1 != id)
        .map { case (nid, nv) => (nid, cos(v, nv)) }.toSeq
        .sortBy { case (nid, c) => (-c, nid) }.take(5)
        .map { case (nid, _) => (id, nid) }
    }.toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    info(f"s6 knn-join recall@5 = $recall%.2f (k=16 cells, m=3, nprobe=4)")
    assert(recall >= 0.8, s"knn join recall below bar: $recall")
    // overlapping probes re-score the same pair — the heap must reject
    // the duplicate, so (vec, neighbor) pairs are unique
    val all = SparkEntry.queries("s6_knn_join")(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id")))
    assert(all.length == all.distinct.length, "duplicate neighbor pairs in s6")
  }

  test("ann: per-shard hnsw reaches recall@3 >= 0.9") {
    val exact = SparkEntry.queries("s1_ann_brute")(spark, sf).collect()
      .filter(_.getAs[Int]("rank") <= 3)
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val hnsw = SparkEntry.queries("s4_ann_hnsw")(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(hnsw.nonEmpty)
    val recall = hnsw.intersect(exact).size.toDouble / exact.size
    info(f"s4 HNSW recall@3 = $recall%.2f (8 shards, m=8, ef=48)")
    assert(recall >= 0.9, s"HNSW recall below bar: $recall")
  }

  test("ann: trained ivf reaches recall@3 >= 0.8 at nprobe=4/16") {
    val exact = SparkEntry.queries("s1_ann_brute")(spark, sf).collect()
      .filter(_.getAs[Int]("rank") <= 3)
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = SparkEntry.queries("s3_ann_ivf")(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(ivf.nonEmpty)
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    info(f"s3 IVF recall@3 = $recall%.2f (k-means quantizer, m=3, nprobe=4 of 16 cells)")
    assert(recall >= 0.8, s"IVF recall below bar: $recall")
  }

  test("ann: ivf-pq two-stage search reaches recall@3 >= 0.8") {
    val exact = SparkEntry.queries("s1_ann_brute")(spark, sf).collect()
      .filter(_.getAs[Int]("rank") <= 3)
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val pq = SparkEntry.queries("s5_ann_ivfpq")(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(pq.nonEmpty)
    val recall = pq.intersect(exact).size.toDouble / exact.size
    info(f"s5 IVF-PQ recall@3 = $recall%.2f (16x16 codebooks, ADC shortlist R=32, exact re-rank)")
    assert(recall >= 0.8, s"IVF-PQ recall below bar: $recall")
  }

  test("d5 near-dup candidate generation is bucketed (no cartesian in plan)") {
    val plan = SparkEntry.queries("d5_embed_neardup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "d5 plan contains CartesianProduct")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "d5 plan contains BroadcastNestedLoopJoin")
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted arrays") {
    import spark.implicits._
    val df = Seq(
      (Seq("a", "b", "c", "x"), Seq("b", "c", "d")),
      (Seq.empty[String], Seq("a")),
      (Seq("q"), Seq("q")),
      (Seq("a", "a", "b"), Seq("a", "b"))) // distinct inputs in practice
      .toDF("x", "y")
      .select(sort_array(col("x")).as("x"), sort_array(col("y")).as("y"))
    val got = df.select(
      graft.functions.SortedIntersectCount.sorted_intersect_count(col("x"), col("y")).as("m"),
      size(array_intersect(col("x"), col("y"))).cast("long").as("b")).collect()
    // rows with distinct elements must agree exactly with the builtin
    got.take(3).foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    assert(got(2).getLong(0) == 1)
  }

  test("t5 repetition ratios: exact fractions on constructed docs") {
    import spark.implicits._
    // "a b a b a b": 5 bigrams, 2 distinct -> dup 0.6; 'a' appears 3/6 -> top 0.5
    // 20 distinct tokens: dup 0.0, top 1/20 = 0.05 -> kept
    val df = Seq((0L, "a b a b a b"),
      (1L, (1 to 20).map("t" + _).mkString(" "))).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val tmp = tmpDir("t5spec_").toString
    df.write.parquet(s"$tmp/documents.parquet")
    val got = SparkEntry.queries("t5_repetition")(spark, tmp).collect()
    assert(got(0).getAs[Double]("dup_bigram_frac") == 0.6)
    assert(got(0).getAs[Double]("top_token_frac") == 0.5)
    assert(!got(0).getAs[Boolean]("kept"))
    assert(got(1).getAs[Double]("dup_bigram_frac") == 0.0)
    assert(got(1).getAs[Boolean]("kept"))
  }

  test("t5 top-token count is exact and near-linear in document length") {
    import spark.implicits._
    // exactness on a constructed array (ties, singletons, empty)
    val c = Seq(
      (Seq("b", "a", "b", "c", "b", "a"), 3),
      (Seq("x"), 1),
      (Seq.empty[String], 0))
      .toDF("toks", "want")
      .select(graft.operators.TextAnalysis.topTokenCount(col("toks")).as("got"),
        col("want"))
      .collect()
    c.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))

    // scaling: equal TOTAL token mass on both sides — 200 docs of 5k
    // tokens vs 10 docs of 100k tokens, vocabulary growing with doc
    // length. The old distinct×filter nest is O(|distinct|·n) per doc:
    // at equal mass the long side costs ~20× the short side. The
    // sorted-run scan is O(n log n): near-equal. Assert the long side
    // stays within a generous linear-ish envelope.
    val rnd = new scala.util.Random(7)
    def mkDocs(nDocs: Int, nTok: Int) =
      (1 to nDocs).map { i =>
        (i.toLong, Array.fill(nTok)("tok" + rnd.nextInt(nTok)).toSeq)
      }.toDF("doc_id", "toks")
    def timeIt(df: org.apache.spark.sql.DataFrame): Long = {
      val q = df.select(
        graft.operators.TextAnalysis.topTokenCount(col("toks")).as("c"))
      q.count() // warm: plan + JIT
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        q.agg(sum(col("c"))).collect()
        System.nanoTime() - t0
      }.min
    }
    val short = timeIt(mkDocs(200, 5000))
    val long = timeIt(mkDocs(10, 100000))
    // Bound sits midway between the regimes (linear ≈ 1–2×, quadratic
    // ≈ 20×) so a GC pause or noisy-neighbor burst during the min-of-3
    // can't fail a correct implementation, while a quadratic
    // regression still trips it with ~2× to spare.
    assert(long < short * 10,
      s"t5 top-token count no longer linear: ${long / 1e6}ms vs ${short / 1e6}ms " +
        "at equal token mass (quadratic would be ~20x)")
  }

  test("t6 pii scrub redacts emails and phone numbers") {
    import spark.implicits._
    val df = Seq(
      "contact me at jane.doe+x@example.co.uk or 555-123-4567 today",
      "no pii here at all").toDF("text")
    val got = df.select(
      graft.operators.TextAnalysis.scrubPii(col("text")).as("clean"),
      regexp_count(col("text"), lit(graft.operators.TextAnalysis.EmailPat)).as("ne"),
      regexp_count(col("text"), lit(graft.operators.TextAnalysis.PhonePat)).as("np"))
      .collect()
    assert(got(0).getAs[String]("clean") == "contact me at <EMAIL> or <PHONE> today")
    assert(got(0).getAs[Int]("ne") == 1 && got(0).getAs[Int]("np") == 1)
    assert(got(1).getAs[String]("clean") == "no pii here at all")
    assert(got(1).getAs[Int]("ne") == 0 && got(1).getAs[Int]("np") == 0)
  }

  test("cosine of a vector with itself is 1") {
    import spark.implicits._
    val df = Seq((1L, Array(0.6, 0.8)), (2L, Array(3.0, 4.0)))
      .toDF("vec_id", "emb")
    val c = df.select(Similarity.cosine(col("emb"), col("emb"))).as[Double].collect()
    c.foreach(v => assert(math.abs(v - 1.0) < 1e-12))
  }

  test("connectedComponents on an empty pair list returns no labels") {
    // a duplicate-free corpus produces zero edges — must be a normal
    // empty result, not an NPE from the null convergence sum
    import spark.implicits._
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(spark, pairs)
    assert(out.columns.toSeq == Seq("v", "label"))
    assert(out.count() == 0)
  }

  test("maxBandBucket caps hot band buckets in the banded near-dup joins") {
    import spark.implicits._
    // Adversarial corpus: 60 docs with IDENTICAL text — every quarter
    // block collides, so the uncapped candidate join is quadratic in
    // the cluster (C(60,2) = 1770 pairs) — plus a 3-doc near-identical
    // cluster that must SURVIVE the cap (width 3 ≤ 10).
    val docs = ((0 until 60).map(i =>
        (i.toLong, "the same boilerplate text repeated verbatim across the crawl")) ++
      Seq(1000L, 1001L, 1002L).map(id =>
        (id, "a genuinely distinct document about alpha beta gamma delta")))
      .toDF("doc_id", "text")
    val signed = Dedup.simHashSignatures(docs, "doc_id", "text")
    assert(Dedup.simHashBlockPairs(signed, 3).count() == 1770 + 3)
    spark.conf.set("spark.graft.dedup.maxBandBucket", "10")
    try {
      val capped = Dedup.simHashBlockPairs(signed, 3).collect()
      // the over-cap cluster's pairs are gone (the documented recall
      // trade: those rows are what exact dedup collapses anyway); the
      // small cluster is untouched
      assert(capped.length == 3)
      assert(capped.forall(r => r.getLong(0) >= 1000L && r.getLong(1) >= 1000L))
      // same guardrail through the m5 pHash path
      val phashCapped = graft.operators.Multimodal
        .phashPairsOn(docs, "doc_id", "text", maxHamming = 3).collect()
      assert(phashCapped.length == 3)
      assert(phashCapped.forall(r => r.getLong(0) >= 1000L))
    } finally spark.conf.unset("spark.graft.dedup.maxBandBucket")
    // cap removed → uncapped behavior restored (no lingering plan state)
    assert(Dedup.simHashBlockPairs(signed, 3).count() == 1770 + 3)
  }

  test("pHash band join caps hot buckets BY DEFAULT (fixed 16-bit key " +
      "space goes quadratic at scale); cap raisable per conf") {
    import spark.implicits._
    // adversarial: a 1030-doc identical cluster (> the 1024 default) —
    // every quarter block collides — plus a 3-doc cluster that must
    // survive the cap
    val docs = ((0 until 1030).map(i =>
        (i.toLong, "the same boilerplate text repeated verbatim across the crawl")) ++
      Seq(2000L, 2001L, 2002L).map(id =>
        (id, "a genuinely distinct document about alpha beta gamma delta")))
      .toDF("doc_id", "text")
    // default cap (1024) drops the giant cluster, keeps the small one
    val capped = graft.operators.Multimodal
      .phashPairsOn(docs, "doc_id", "text", maxHamming = 3).collect()
    assert(capped.length == 3, capped.length.toString)
    assert(capped.forall(_.getLong(0) >= 2000L), capped.take(5).mkString(","))
    // raising the pHash-specific cap restores the cluster's pairs
    spark.conf.set("spark.graft.phash.maxBandBucket", "5000")
    try {
      val n = graft.operators.Multimodal
        .phashPairsOn(docs, "doc_id", "text", maxHamming = 3).count()
      assert(n == 1030L * 1029 / 2 + 3, n.toString)
    } finally spark.conf.unset("spark.graft.phash.maxBandBucket")
  }

  test("connectedComponents labels a deep chain exactly (pointer-jump phase)") {
    // A 200-link chain has diameter 200 — hash-min alone would need 200
    // rounds. With jumpAfter forced low, the pointer-jumping phase must
    // both engage (or this test crawls) and still converge to the exact
    // per-component minimum labels.
    import spark.implicits._
    spark.conf.set("spark.graft.cc.jumpAfter", "2")
    try {
      val n = 200
      // two parallel chains → two components with distinct minima
      val pairs = ((0 until n).map(i => (i.toLong, (i + 1).toLong)) ++
        (0 until n).map(i => (1000L + i, 1000L + i + 1))).toDF("doc_a", "doc_b")
      val labels = Dedup.connectedComponents(spark, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels.size == 2 * (n + 1))
      assert((0 to n).forall(i => labels(i.toLong) == 0L))
      assert((0 to n).forall(i => labels(1000L + i) == 1000L))
    } finally spark.conf.unset("spark.graft.cc.jumpAfter")
  }

  test("connectedComponents frees superseded rounds' checkpoint storage") {
    import spark.implicits._
    spark.conf.set("spark.graft.cc.jumpAfter", "2")
    try {
      val before = spark.sparkContext.getPersistentRDDs.size
      val n = 100
      val pairs = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
      val comp = graft.operators.Dedup.connectedComponents(spark, pairs)
      assert(comp.count() == n + 1)
      // a deep chain runs many rounds; only the FINAL labels (plus at
      // most transient cleanup lag) may stay persisted — superseded
      // rounds are released explicitly, not left to GC
      val after = spark.sparkContext.getPersistentRDDs.size
      assert(after - before <= 2,
        s"CC leaked ${after - before} persisted round relations")
    } finally spark.conf.unset("spark.graft.cc.jumpAfter")
  }

  test("semDedup keeps every row of a duplicate-free corpus") {
    import spark.implicits._
    // orthogonal unit vectors: no cosine pair ever reaches threshold
    val emb = (0 until 8).map { i =>
      (i.toLong, Array.tabulate(8)(j => if (j == i) 1.0f else 0.0f))
    }.toDF("vid", "vec")
    val out = graft.api.GraftOps.semDedup(emb, "vid", "vec",
      threshold = 0.99, cells = 2)
    assert(out.count() == 8)
    out.unpersist()
  }

  test("multi-merge rounds learn the exact single-merge table (adversarial corpora)") {
    import spark.implicits._
    // Small alphabets make batch interactions LIKELY: ties everywhere,
    // merged strings colliding with later candidates' symbols ("ab"
    // created in round k reappearing as a round-k+n input), and risen
    // pairs (new (x, l+r) adjacencies outranking the batch tail) that
    // must trip the safety bound and fall back to a single merge. Any
    // divergence between mergeBatch=1 and mergeBatch=4 on ANY seed is
    // a correctness bug in the batch selection or the safety bound.
    val alphabet = "abc"
    // force the DISTRIBUTED rounds (gate=0): this test pins the batch
    // selection + safety bound, which the driver fast path would skip
    spark.conf.set("spark.graft.text.bpeDriverSymbols", "0")
    try {
      for (seed <- Seq(1, 7, 42)) {
        val rnd = new scala.util.Random(seed)
        val words = Seq.fill(120) {
          (0 until (1 + rnd.nextInt(6)))
            .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
        }
        val docs = words.grouped(8).map(_.mkString(" ")).toSeq.toDF("txt")
        val seqTable = graft.operators.TextAnalysis
          .bpeTrainOn(docs, "txt", 12, mergeBatch = 1).collect().toSeq
        val batTable = graft.operators.TextAnalysis
          .bpeTrainOn(docs, "txt", 12, mergeBatch = 4).collect().toSeq
        assert(batTable.map(_.toSeq) == seqTable.map(_.toSeq),
          s"seed=$seed: batched table diverged\nseq: $seqTable\nbat: $batTable")
      }
    } finally spark.conf.unset("spark.graft.text.bpeDriverSymbols")
  }

  test("driver fast path learns the exact distributed merge table") {
    import spark.implicits._
    // adversarial small-alphabet corpora (ties + collisions), and the
    // benchmark corpus: the size-gated driver loop and the distributed
    // rounds must agree merge-for-merge, including telemetry counts
    for (seed <- Seq(3, 11)) {
      val rnd = new scala.util.Random(seed)
      val words = Seq.fill(150) {
        (0 until (1 + rnd.nextInt(5)))
          .map(_ => "abcd" (rnd.nextInt(4))).mkString
      }
      val docs = words.grouped(10).map(_.mkString(" ")).toSeq.toDF("txt")
      val distTouched = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      val drvTouched = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      spark.conf.set("spark.graft.text.bpeDriverSymbols", "0")
      val dist =
        try graft.operators.TextAnalysis.bpeTrainOn(docs, "txt", 10,
          Some((r, n) => distTouched += ((r, n))), mergeBatch = 1)
          .collect().toSeq
        finally spark.conf.unset("spark.graft.text.bpeDriverSymbols")
      val drv = graft.operators.TextAnalysis.bpeTrainOn(docs, "txt", 10,
        Some((r, n) => drvTouched += ((r, n)))).collect().toSeq
      assert(drv.map(_.toSeq) == dist.map(_.toSeq),
        s"seed=$seed driver path diverged\ndist: $dist\ndrv: $drv")
      assert(drvTouched.toSeq == distTouched.toSeq,
        s"seed=$seed telemetry diverged")
    }
  }

  test("multi-merge equals single-merge on the documents corpus at depth 20") {
    val docs = graft.sources.Tables.documents(spark, sf)
    spark.conf.set("spark.graft.text.bpeDriverSymbols", "0")
    val (seqTable, batTable) =
      try (graft.operators.TextAnalysis
          .bpeTrainOn(docs, "text", 20, mergeBatch = 1).collect().toSeq,
        graft.operators.TextAnalysis
          .bpeTrainOn(docs, "text", 20, mergeBatch = 8).collect().toSeq)
      finally spark.conf.unset("spark.graft.text.bpeDriverSymbols")
    assert(batTable.map(_.toSeq) == seqTable.map(_.toSeq))
    // the size-gated driver loop must learn the same table again
    val drvTable = graft.operators.TextAnalysis
      .bpeTrainOn(docs, "text", 20).collect().toSeq
    assert(drvTable.map(_.toSeq) == seqTable.map(_.toSeq))
  }

  test("bpe train+encode round-trips supplementary (non-BMP) characters") {
    import spark.implicits._
    val word = "😀😀🙂" // 😀😀🙂 (3 code points)
    val docs = Seq.fill(10)(s"$word $word ok").toDF("txt")
    val merges = graft.operators.TextAnalysis.bpeTrainOn(docs, "txt", 3)
      .collect()
    // learned symbols are whole code points, never mangled '?' halves
    merges.foreach { r =>
      val (l, rr) = (r.getString(1), r.getString(2))
      assert(!l.contains('?') && !rr.contains('?'), s"mangled merge: $r")
    }
    val mergesDf = graft.operators.TextAnalysis.bpeTrainOn(docs, "txt", 3)
    val enc = graft.operators.TextAnalysis
      .bpeEncodeOn(docs.limit(1).withColumn("id", lit(1L)), "id", "txt", mergesDf)
      .collect()(0)
    // losslessness across the surrogate boundary, and the repeated
    // emoji pair actually merges (fewer tokens than code points)
    assert(enc.getSeq[String](2).mkString == s"$word${word}ok")
    val nCp = word.codePointCount(0, word.length) * 2 + 2
    assert(enc.getLong(1) < nCp, s"no merge applied: $enc vs $nCp code points")
  }

  test("t9 distributed bpe merges equal reference single-node bpe") {
    // reference: the published greedy BPE training loop on the same
    // word-frequency map, ties broken (count desc, left, right)
    def refBpe(words: Map[String, Long], n: Int): Seq[(String, String)] = {
      var vocab = words.toVector.map { case (w, f) =>
        (w.map(_.toString).toVector, f) }
      var out = Vector.empty[(String, String)]
      var rounds = 0
      while (rounds < n) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (sym, f) =>
          var i = 0
          while (i + 1 < sym.length) {
            val p = (sym(i), sym(i + 1))
            counts(p) = counts.getOrElse(p, 0L) + f
            i += 1
          }
        }
        if (counts.isEmpty) rounds = n
        else {
          val (l, r) = counts.toSeq
            .sortBy { case ((a, b), c) => (-c, a, b) }.head._1
          out = out :+ (l, r)
          vocab = vocab.map { case (sym, f) =>
            val b = Vector.newBuilder[String]
            var i = 0
            while (i < sym.length) {
              if (i + 1 < sym.length && sym(i) == l && sym(i + 1) == r) {
                b += (l + r); i += 2
              } else { b += sym(i); i += 1 }
            }
            (b.result(), f)
          }
        }
        rounds += 1
      }
      out
    }
    import spark.implicits._
    val words = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .groupBy("w").count().as[(String, Long)].collect().toMap
    val expected = refBpe(words, 10)
    val got = SparkEntry.queries("t9_bpe_train")(spark, sf)
      .orderBy("rank")
      .select("left", "right").as[(String, String)].collect().toSeq
    assert(got == expected, s"merge sequences differ:\n got $got\n exp $expected")
  }

  test("bpe training reads the corpus exactly once across merge rounds") {
    import spark.implicits._
    // count how many times each input row is actually computed: the
    // word-frequency vocab is built once and cached, so 5 merge rounds
    // must not re-scan the corpus (the old one-round unpersist policy
    // retired the cached vocab before the next round's lazy checkpoint
    // materialized, forcing a full re-scan every round)
    val acc = spark.sparkContext.longAccumulator("doc_reads")
    val docs = Seq.fill(50)("aa ab aa cd ab aa").toDF("txt")
      .as[String].mapPartitions(it => it.map { s => acc.add(1); s })
      .toDF("txt")
    graft.operators.TextAnalysis.bpeTrainOn(docs, "txt", 5).collect()
    assert(acc.value == 50L,
      s"corpus read ${acc.value / 50.0} times (expected exactly once)")
  }

  test("t9 incremental rounds: touched-word counts shrink at 50 merges") {
    import spark.implicits._
    // 50 merges on the benchmark corpus: the delta formulation touches
    // only words containing each round's merged pair. Early merges are
    // high-support character pairs (touch much of the vocabulary);
    // support collapses as merges specialize — the property that makes
    // a 30k-merge tokenizer run feasible. Also re-pins the merge
    // sequence against the full-recount reference at this depth (the
    // delta algebra must be exact, not just for the first 10 merges).
    val touched = scala.collection.mutable.ArrayBuffer.empty[Long]
    val docs = graft.sources.Tables.documents(spark, sf)
    val m = graft.operators.TextAnalysis.bpeTrainOn(
      docs, "text", 50, Some((_, n) => touched += n))
    assert(m.count() == 50)
    assert(touched.size == 50)
    val vocabSize = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .select("w").distinct().count()
    val first10 = touched.take(10).sum.toDouble / 10
    val last10 = touched.takeRight(10).sum.toDouble / 10
    assert(last10 < first10,
      s"per-round touched counts must shrink: first10=$first10 last10=$last10")
    assert(touched.min < vocabSize / 5,
      s"late rounds must touch a small vocabulary slice: " +
        s"min=${touched.min} of $vocabSize words")
  }

  test("bloom set/probe round trip: no false negatives, bounded false positives") {
    val bits = new Array[Long](1 << 14) // 2^20 bits
    val rnd = new scala.util.Random(3)
    val inserted = Array.fill(10000)(rnd.nextLong())
    inserted.foreach(h => graft.functions.Bloom.set(bits, h, 5))
    val bytes = {
      val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
      bits.foreach(bb.putLong)
      bb.array()
    }
    // every inserted hash must be found (no false negatives)
    inserted.foreach(h =>
      assert(graft.functions.Bloom.mightContain(bytes, h, 5)))
    // fp rate at n=10k, m=2^20, k=5 is ~1e-6 — 10k fresh probes ≈ 0 hits
    val fp = Array.fill(10000)(rnd.nextLong())
      .count(h => graft.functions.Bloom.mightContain(bytes, h, 5))
    assert(fp <= 5, s"false-positive count $fp out of bound")
  }

  test("p8 bloom decontamination never undercounts exact p7") {
    import spark.implicits._
    val exact = SparkEntry.queries("p7_decontam_ngram")(spark, sf)
      .as[(Long, Long)].collect().toMap
    val bloom = SparkEntry.queries("p8_bloom_decontam")(spark, sf)
      .as[(Long, Long)].collect().toMap
    // no false negatives: every exactly-contaminated doc is flagged, with
    // at least the exact count
    exact.foreach { case (doc, n) =>
      assert(bloom.contains(doc), s"doc $doc missed by bloom")
      assert(bloom(doc) >= n, s"doc $doc undercounted: ${bloom(doc)} < $n")
    }
    // and at this scale (tiny gram set vs 2^20 bits) no false positives
    assert(bloom == exact)
  }

  test("t14 gopher rules: exact signals and keep verdicts on constructed docs") {
    import spark.implicits._
    // none of the constructed words are 'row'/'sort', so t14's line
    // injection is a no-op except where \n is placed explicitly
    def filler(n: Int) = (1 to n).map(i => f"tok$i%02d").mkString(" ")
    val docs = Seq(
      // 60 words, 'the'+'a' stopwords, all alphabetic, one line -> kept
      (0L, "the a " + filler(58)),
      // 10 words -> word-count rule fails
      (1L, "the a " + filler(8)),
      // symbol soup: alpha_frac 0, symbol_ratio 5 -> fails
      (2L, (1 to 60).map(_ => "#####").mkString(" ")),
      // every line a bullet -> bullet_frac 1.0 fails
      (3L, (1 to 20).map(i => s"- tok$i xx").mkString("\n")),
      // every line ends with ellipsis -> ellipsis_frac 1.0 fails
      (4L, (1 to 20).map(i => s"tok$i xx yy...").mkString("\n")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val tmp = tmpDir("t14spec_").toString
    docs.write.parquet(s"$tmp/documents.parquet")
    val got = SparkEntry.queries("t14_gopher_quality")(spark, tmp)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(0L).getAs[Long]("n_words") == 60L)
    assert(got(0L).getAs[Double]("mean_wlen") == 294.0 / 60.0)
    assert(got(0L).getAs[Long]("stop_hits") == 2L)
    assert(got(0L).getAs[Double]("alpha_frac") == 1.0)
    assert(got(0L).getAs[Boolean]("kept"))
    assert(got(1L).getAs[Long]("n_words") == 10L)
    assert(!got(1L).getAs[Boolean]("kept"))
    assert(got(2L).getAs[Double]("alpha_frac") == 0.0)
    assert(got(2L).getAs[Double]("symbol_ratio") == 5.0)
    assert(!got(2L).getAs[Boolean]("kept"))
    assert(got(3L).getAs[Double]("bullet_frac") == 1.0)
    assert(!got(3L).getAs[Boolean]("kept"))
    assert(got(4L).getAs[Double]("ellipsis_frac") == 1.0)
    assert(!got(4L).getAs[Boolean]("kept"))
  }

  test("d5 scoreTile: orientation, diagonal dedup, and threshold admission") {
    import graft.operators.Similarity
    // two unit vectors 60° apart and one identical pair across blocks
    val e1 = Array(1.0, 0.0)
    val e2 = Array(0.5, math.sqrt(3) / 2)
    val packA = e1 ++ e2
    val idsA = Array(10L, 20L)
    val nrms = Array(1.0, 1.0)
    // self tile: only id-ordered pairs, cos(60°)=0.5 admitted at 0.4
    val diag = Similarity.scoreTile(same = true, idsA, nrms, packA,
      idsA, nrms, packA, 0.4).toList
    assert(diag.map(p => (p._1, p._2)) == List((10L, 20L)))
    assert(math.abs(diag.head._3 - 0.5) < 1e-12)
    // cross tile with reversed id magnitudes: emitted min-first
    val cross = Similarity.scoreTile(same = false, Array(99L), Array(1.0), e1,
      Array(5L), Array(1.0), e1, 0.4).toList
    assert(cross.map(p => (p._1, p._2)) == List((5L, 99L)))
    assert(cross.head._3 == 1.0)
    // below threshold: 90° apart -> nothing
    val none = Similarity.scoreTile(same = false, Array(1L), Array(1.0), Array(1.0, 0.0),
      Array(2L), Array(1.0), Array(0.0, 1.0), 0.4).toList
    assert(none.isEmpty)
  }

  test("d5 packed blocks: bounded sub-split yields the identical pair set") {
    import spark.implicits._
    import graft.operators.Similarity
    // 300 random 8-dim unit vectors; random 8-dim cosines spread wide
    // enough that the 0.4 threshold admits a real pair population
    val rnd = new scala.util.Random(11)
    val rows = (0 until 300).map { i =>
      val v = Array.fill(8)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(_ / n))
    }
    val e = rows.toDF("vec_id", "emb")
      .withColumn("nrm", Similarity.norm(col("emb")))
    val cents = graft.functions.Quantizer.train(e, "vec_id", "emb", 4)
    def pairs(): Set[(Long, Long, Double)] =
      Similarity.embedNearDupPairsOn(e, cents, 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // single-block baseline (default cap 4096 >> any cell here)
    val whole = pairs()
    assert(whole.nonEmpty)
    // force ≥3 blocks per cell: ~75 rows/cell at cap 8 → ~10 blocks
    spark.conf.set("spark.graft.ann.maxBlockRows", "8")
    try {
      assert(pairs() == whole)
      // degenerate cap: one vector per block, still the same set
      spark.conf.set("spark.graft.ann.maxBlockRows", "1")
      assert(pairs() == whole)
    } finally spark.conf.unset("spark.graft.ann.maxBlockRows")
  }
}
