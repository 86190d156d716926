package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.GraftOps

/** The DataFrame-level public API: every entry point exercised on
  * CONSTRUCTED DataFrames (table independence), plus cross-checks
  * against the catalog twins on the benchmark tables so the two
  * implementations cannot drift. */
class ApiSpec extends AnyFunSuite {
  import TestSpark._

  test("minhashPairs finds the planted near-duplicate on arbitrary data") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 38).map(i => s"tok$i").mkString(" ") + " tokX tokY"
    val docs = Seq((10L, base), (20L, near), (30L, "something else entirely here now"))
      .toDF("my_id", "my_text")
    val pairs = GraftOps.minhashPairs(docs, "my_id", "my_text", threshold = 0.8)
      .collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("doc_a") == 10L)
    assert(pairs.head.getAs[Long]("doc_b") == 20L)
    assert(pairs.head.getAs[Double]("jaccard") >= 0.8)
  }

  test("minhashPairs equals the catalog d3 on the benchmark corpus") {
    val expected = SparkEntry.queries("d3_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = GraftOps.minhashPairs(
        graft.sources.Tables.documents(spark, sf), "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
  }

  test("jaccardPairs equals the catalog d2 on the benchmark corpus") {
    val expected = SparkEntry.queries("d2_ngram_jaccard")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = GraftOps.jaccardPairs(
        graft.sources.Tables.documents(spark, sf), "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
  }

  test("incrementalDedupe flags delta dups, never re-pairs the base") {
    import spark.implicits._
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    val aNear = (1 to 38).map(i => s"w$i").mkString(" ") + " zz yy"
    // base contains an internal dup pair (1,2) — incremental dedup must
    // NOT re-emit it; delta doc 50 dups base doc 1; delta 60/61 dup
    // each other; delta 70 is novel
    val base = Seq((1L, a), (2L, a), (10L, "completely different stuff here"))
      .toDF("id", "txt")
    val delta = Seq((50L, aNear), (60L, "alpha beta gamma delta epsilon zeta"),
      (61L, "alpha beta gamma delta epsilon zeta"), (70L, "novel content x"))
      .toDF("id", "txt")
    val got = GraftOps.incrementalDedupe(base, delta, "id", "txt", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 50L), (2L, 50L), (60L, 61L)), got.toString)
  }

  test("incrementalDedupe equals the catalog d9 on the benchmark corpus") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
    val expected = SparkEntry.queries("d9_dedup_incremental")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = GraftOps.incrementalDedupe(
        docs.filter(!$"source".isin("src18", "src19")),
        docs.filter($"source".isin("src18", "src19")),
        "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
  }

  test("durable dedup index: built once, probed from a NEW session, " +
      "equals the in-session d9 result") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
    val base = docs.filter(!$"source".isin("src18", "src19"))
    val delta = docs.filter($"source".isin("src18", "src19"))
    val root = tmpDir("graft_dedupidx_").toString + "/idx"
    GraftOps.buildDedupIndex(base, "doc_id", "text", 0.5, root)
    // a FRESH session: no relCache, no persisted relations — everything
    // the probe needs must come off the durable index tables
    val s2 = spark.newSession()
    val delta2 = graft.sources.Tables.documents(s2, sf)
      .filter(col("source").isin("src18", "src19"))
    val got = GraftOps.incrementalDedupe(s2, root, delta2, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = SparkEntry.queries("d9_dedup_incremental")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected, s"durable-index probe diverged: " +
      s"missing=${expected -- got} extra=${got -- expected}")
    // a delta shingle UNSEEN by the base still pairs two delta docs
    // (frozen-order rank df=1), and base-internal pairs never re-emit
    val tinyRoot = tmpDir("graft_dedupidx2_").toString + "/idx"
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    GraftOps.buildDedupIndex(
      Seq((1L, a), (2L, a), (10L, "completely different stuff here"))
        .toDF("id", "txt"), "id", "txt", 0.5, tinyRoot)
    val aNear = (1 to 38).map(i => s"w$i").mkString(" ") + " zz yy"
    val tinyDelta = Seq((50L, aNear),
      (60L, "alpha beta gamma delta epsilon zeta"),
      (61L, "alpha beta gamma delta epsilon zeta"),
      (70L, "novel content x")).toDF("id", "txt")
    val tiny = GraftOps.incrementalDedupe(spark, tinyRoot, tinyDelta,
        "id", "txt")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tiny == Set((1L, 50L), (2L, 50L), (60L, 61L)), tiny.toString)
    // overlapping ids refuse
    val e = intercept[IllegalArgumentException] {
      GraftOps.incrementalDedupe(spark, tinyRoot,
        Seq((1L, "x")).toDF("id", "txt"), "id", "txt")
    }
    assert(e.getMessage.contains("disjoint"), e.getMessage)
    // DAY-2 loop: fold day 1 into the index, then a day-2 doc that
    // near-duplicates a DAY-1 delta doc is found through the extended
    // index (and day-1 pairs are not re-emitted)
    GraftOps.extendDedupIndex(spark, tinyRoot, tinyDelta, "id", "txt")
    val day2 = Seq((80L, "alpha beta gamma delta epsilon eta"))
      .toDF("id", "txt")
    val got2 = GraftOps.incrementalDedupe(spark, tinyRoot, day2,
        "id", "txt")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == Set((60L, 80L), (61L, 80L)), got2.toString)
    // the fold also extends the disjointness domain
    val e2 = intercept[IllegalArgumentException] {
      GraftOps.incrementalDedupe(spark, tinyRoot,
        Seq((50L, "x")).toDF("id", "txt"), "id", "txt")
    }
    assert(e2.getMessage.contains("disjoint"), e2.getMessage)
  }

  test("nearDupClusters + applyDedup keep one representative per cluster") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("a", "b")
    val clusters = GraftOps.nearDupClusters(pairs, "a", "b")
    val labels = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    val df = Seq(1L, 2L, 3L, 7L, 9L, 42L).toDF("my_id")
    val kept = GraftOps.applyDedup(df, "my_id", clusters)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 7L, 42L)) // reps + the unclustered row
  }

  test("knnJoin finds planted nearest neighbors on arbitrary vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    def noisy(base: Array[Double]) = base.map(_ + rnd.nextGaussian() * 0.01)
    val a = Array.fill(16)(rnd.nextGaussian())
    val b = Array.fill(16)(rnd.nextGaussian())
    val emb = (Seq((1L, a), (2L, noisy(a)), (3L, b), (4L, noisy(b))) ++
      (5L to 40L).map(i => (i, Array.fill(16)(rnd.nextGaussian()))))
      .toDF("vid", "vec")
    val knn = GraftOps.knnJoin(emb, "vid", "vec", topK = 1, cells = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(knn(1L) == 2L && knn(2L) == 1L)
    assert(knn(3L) == 4L && knn(4L) == 3L)
  }

  test("semDedup clusters planted near-identical vectors, keeps min-id reps") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def noisy(base: Array[Double]) = base.map(_ * 1.0001)
    val a = Array.fill(16)(rnd.nextGaussian())
    val emb = (Seq((5L, a), (9L, noisy(a))) ++
      (10L to 40L).map(i => (i, Array.fill(16)(rnd.nextGaussian()))))
      .toDF("vid", "vec")
    val out = GraftOps.semDedup(emb, "vid", "vec", threshold = 0.95, cells = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byId = out.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId(5L) == ((5L, true)))   // min-id representative kept
    assert(byId(9L) == ((5L, false)))  // scaled twin dropped into 5's cluster
    assert(byId(20L)._2, "unclustered vectors are kept")
    assert(out.length == 33)
  }

  test("simHashPairs finds the planted signature twin on arbitrary data") {
    import spark.implicits._
    val toks = (1 to 40).map(i => s"tok$i")
    // same token SET in different order -> identical simhash, hamming 0
    val docs = Seq(
      (10L, toks.mkString(" ")),
      (20L, scala.util.Random.shuffle(toks).mkString(" ")),
      (30L, (100 to 140).map(i => s"other$i").mkString(" "))
    ).toDF("my_id", "my_text")
    val pairs = GraftOps.simHashPairs(docs, "my_id", "my_text").collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 10L && pairs.head.getLong(1) == 20L)
    assert(pairs.head.getInt(2) == 0)
  }

  test("simHashPairs equals the catalog d4 on the benchmark corpus") {
    val expected = SparkEntry.queries("d4_simhash")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = GraftOps.simHashPairs(
        graft.sources.Tables.documents(spark, sf), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
  }

  test("bloomDecontamination flags the planted overlap, nothing else") {
    import spark.implicits._
    val gram = (1 to 13).map(i => s"w$i").mkString(" ")
    val train = Seq((100L, s"prefix words $gram suffix tail"),
                    (200L, "totally clean training document with original content words"))
      .toDF("id", "txt")
    val bench = Seq((1L, s"benchmark context $gram more context")).toDF("id", "txt")
    val flagged = GraftOps.bloomDecontamination(train, bench, "id", "txt")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged == Map(100L -> 1L))
  }

  test("bloomDecontamination equals the catalog p8 on the benchmark corpus") {
    import org.apache.spark.sql.functions.col
    val expected = SparkEntry.queries("p8_bloom_decontam")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
    val got = GraftOps.bloomDecontamination(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("heavyHitters finds the planted hot values with the CMS guarantee") {
    import spark.implicits._
    val vals = Seq.fill(500)("hot") ++ Seq.fill(200)("warm") ++
      (1 to 300).map(i => s"cold$i")
    val hh = GraftOps.heavyHitters(vals.toDF("v"), "v", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(hh.map(_._1).toSeq == Seq("hot", "warm"))
    assert(hh(0)._2 == 500L && hh(1)._2 == 200L)
    hh.foreach { case (_, exact, est) => assert(est >= exact) }
  }

  test("heavyHitters returns the value column in the caller's type") {
    import spark.implicits._
    val vals = (Seq.fill(50)(7L) ++ Seq.fill(20)(9L) ++ (100L to 130L)).toDF("user_id")
    val hh = GraftOps.heavyHitters(vals, "user_id", k = 2)
    assert(hh.schema("user_id").dataType ==
      org.apache.spark.sql.types.LongType, hh.schema.treeString)
    assert(hh.collect().map(_.getLong(0)).toSeq == Seq(7L, 9L))
  }

  test("semDedup excludes zero-norm vectors instead of clustering everything") {
    import spark.implicits._
    // regression: a zero vector's cosine is 0/0 = NaN, and NaN >=
    // threshold is TRUE under Spark's NaN ordering — it used to pair
    // with every vector in its cell tiles and collapse unrelated
    // vectors into one cluster marked as duplicates
    val emb = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(1.0, 0.01)),   // true near-dups
      (3L, Array(-1.0, 0.0)),                          // unrelated
      (4L, Array(0.0, 0.0))                            // zero-norm
    ).toDF("vec_id", "emb")
    val got = GraftOps.semDedup(emb, "vec_id", "emb", threshold = 0.9, cells = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(1L) == (1L, true) && got(2L) == (1L, false), got.toString)
    assert(got(3L) == (3L, true), s"unrelated vector merged: $got")
    assert(got(4L) == (4L, true), s"zero vector clustered: $got")
  }

  test("substringSpans equals the catalog d10 on the benchmark corpus") {
    val expected = SparkEntry.queries("d10_substring_spans")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val got = GraftOps.substringSpans(
        graft.sources.Tables.documents(spark, sf), "doc_id", "text")
      .orderBy(org.apache.spark.sql.functions.col("doc_id"))
      .collect().map(_.toSeq).toSeq
    assert(got == expected)
  }

  test("heavyHitters equals the catalog a3 on the benchmark corpus") {
    import org.apache.spark.sql.functions.{col, explode, length, split}
    val expected = SparkEntry.queries("a3_cms_heavy_hitters")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val tok = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val got = GraftOps.heavyHitters(tok, "token")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  test("bm25Search ranks the term-dense doc first on arbitrary data") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple cherry apple"),
      (2L, "apple orange pear plum grape kiwi melon fig date lime"),
      (3L, "no fruit words at all in this document body text")
    ).toDF("k", "body")
    val hits = GraftOps.bm25Search(docs, "k", "body", Seq("apple"), topN = 5)
      .collect()
    assert(hits.length == 2) // doc 3 has no query term
    assert(hits.head.getAs[Long]("k") == 1L, "tf-dense doc must rank first")
  }

  test("ngramContamination flags the planted verbatim overlap") {
    import spark.implicits._
    val gram = (1 to 13).map(i => s"w$i").mkString(" ")
    val train = Seq((100L, s"prefix words $gram suffix tail"),
                    (200L, "totally clean training document with original content words"))
      .toDF("id", "txt")
    val bench = Seq((1L, s"benchmark context $gram more context")).toDF("id", "txt")
    val flagged = GraftOps.ngramContamination(train, bench, "id", "txt")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged == Map(100L -> 1L))
  }

  test("exactDedupe and canonicalDedupe keep one min-id row per content") {
    import spark.implicits._
    val df = Seq((3L, "Hello, World!"), (1L, "Hello, World!"),
      (2L, "hello   world"), (9L, "different")).toDF("id", "body")
    val exact = GraftOps.exactDedupe(df, "id", "body")
      .collect().map(_.getLong(0)).toSet
    assert(exact == Set(1L, 2L, 9L)) // byte-identical pair collapses to min id
    val canon = GraftOps.canonicalDedupe(df, "id", "body")
      .collect().map(_.getLong(0)).toSet
    assert(canon == Set(1L, 9L)) // case/punct/spacing variants collapse too
  }

  test("gapFill produces a dense per-key grid with forward-filled values") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, ts("2024-01-01 00:10:00"), 5.0),
      (1L, ts("2024-01-01 03:20:00"), 7.0),
      (2L, ts("2024-01-01 01:00:00"), 1.0)
    ).toDF("k", "t", "v")
    val out = GraftOps.gapFill(events, "k", "t", "v", stepHours = 1)
      .orderBy("k", "bucket").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, "2024-01-01 00:00:00.0", 1L, 5.0),
      (1L, "2024-01-01 01:00:00.0", 0L, 5.0), // silent hour, carried forward
      (1L, "2024-01-01 02:00:00.0", 0L, 5.0),
      (1L, "2024-01-01 03:00:00.0", 1L, 7.0),
      (2L, "2024-01-01 01:00:00.0", 1L, 1.0)))
  }

  test("gapFill with a coarser step rolls odd-hour events into their bucket") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // The 01:xx and 05:xx events sit in ODD hours: on a 2-hour grid
    // bucketed hourly they would match no grid row and vanish (the bug
    // this test pins down) — step-floored bucketing rolls them up.
    val events = Seq(
      (1L, ts("2024-01-01 01:10:00"), 5.0),
      (1L, ts("2024-01-01 05:45:00"), 7.0)
    ).toDF("k", "t", "v")
    val out = GraftOps.gapFill(events, "k", "t", "v", stepHours = 2)
      .orderBy("k", "bucket").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, "2024-01-01 00:00:00.0", 1L, 5.0),
      (1L, "2024-01-01 02:00:00.0", 0L, 5.0),
      (1L, "2024-01-01 04:00:00.0", 1L, 7.0)))
    // total events preserved — nothing dropped on grid mismatch
    assert(out.map(_._3).sum == 2L)
  }

  test("curationSignals equals the catalog t2/t5 signal columns") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
    val got = GraftOps.curationSignals(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(6), r.getDouble(8), r.getDouble(9))).toMap
    val t2 = SparkEntry.queries("t2_quality_score")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val t5 = SparkEntry.queries("t5_repetition")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.nonEmpty && got.size == t2.size)
    got.foreach { case (id, (q, dup, top)) =>
      // t2 surfaces the raw double; curationSignals rounds to 6 places
      assert(math.abs(q - t2(id)) < 5e-7, s"quality drift doc $id")
      assert((dup, top) == t5(id), s"repetition drift doc $id")
    }
  }

  test("lmScore equals the catalog t11 and ranks gibberish below fluent text") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
    val got = GraftOps.lmScore(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    val cat = SparkEntry.queries("t11_lm_score")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(got == cat && got.nonEmpty)
    // behavioral: repeated typical text scores above one-off gibberish
    val mixed = Seq(
      (1L, "the cat sat on the mat and the dog sat on the mat"),
      (2L, "the cat sat on the mat and the dog lay on the mat"),
      (3L, "zq xv qp wk jx vz qj kx zw pq xq zv wj")).toDF("id", "body")
    val scores = GraftOps.lmScore(mixed, "id", "body")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(1L) > scores(3L) && scores(2L) > scores(3L), scores.toString)
  }

  test("phashPairs equals the catalog m5 and flags shared-prefix payloads") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
    val got = GraftOps.phashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val cat = SparkEntry.queries("m5_phash_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == cat)
    // behavioral: identical payloads pair at hamming 0; unrelated don't
    val payloadA = (1 to 200).map(i => ('a' + i % 26).toChar).mkString
    val payloadB = (1 to 200).map(i => ('A' + (i * 7) % 26).toChar).mkString("", "x", "")
    val media = Seq((1L, payloadA), (2L, payloadA), (3L, payloadB))
      .toDF("id", "payload")
    val pairs = GraftOps.phashPairs(media, "id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0)), pairs.mkString(", "))
  }

  test("compressionSignals bands repetitive below prose below gibberish") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam " * 200),                 // boilerplate
      (2L, (0 until 300).map(i =>                         // varied "words"
        java.lang.Long.toString((i * 2654435761L) & 0x7fffffffL, 36))
        .mkString(" ")),
      (3L, { val r = new scala.util.Random(7)             // dense gibberish
        (0 until 4000).map(_ => (33 + r.nextInt(94)).toChar).mkString }))
      .toDF("id", "body")
    val out = GraftOps.compressionSignals(docs, "id", "body")
      .orderBy("id").collect()
    val ratio = out.map(r => r.getAs[Double]("compress_ratio"))
    assert(ratio(0) < ratio(1) && ratio(1) < ratio(2), ratio.toSeq.toString)
    assert(ratio(0) < 0.25 && !out(0).getAs[Boolean]("kept"), ratio(0).toString)
    assert(out(1).getAs[Boolean]("kept"), ratio(1).toString)
    // deterministic across evaluations (ThreadLocal deflater reuse)
    val again = GraftOps.compressionSignals(docs, "id", "body")
      .orderBy("id").collect().map(_.getAs[Int]("deflate_bytes")).toSeq
    assert(again == out.map(_.getAs[Int]("deflate_bytes")).toSeq)
    // catalog twin runs on the documents table with one row per doc
    val cat = SparkEntry.queries("t12_compress_ratio")(spark, sf)
    assert(cat.count() == graft.sources.Tables.documents(spark, sf).count())
  }

  test("native PHash64 is bit-identical to the builtin ascii/substring pipeline") {
    import spark.implicits._
    // includes short (<64 chars), long, ASCII-only, multibyte (é, €)
    // and supplementary-plane (𝄞) codepoints — the exact semantics the
    // DuckDB oracle shares (ascii = codePointAt of the first char)
    val texts = Seq(
      "a", "ab", "hello world", "x" * 64, "y" * 1000,
      ("the quick brown fox " * 20).trim,
      "héllo wörld é€" * 10, "𝄞music𝄞" * 20,
      (0 until 200).map(i => ('!' + i % 90).toChar).mkString)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("id", "t")
    val native = df
      .withColumn("h", graft.functions.PHash64.phash64($"t"))
      .select($"id", $"h").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaBuiltins = df
      .withColumn("n", length($"t"))
      .withColumn("v", expr(
        "transform(sequence(0, 63), i -> CAST(ascii(substring(t, CAST(i * n DIV 64 AS INT) + 1, 1)) AS BIGINT))"))
      .withColumn("sv", expr("aggregate(v, 0L, (a, x) -> a + x)"))
      .withColumn("bits", expr(
        "transform(v, x -> CASE WHEN x * 64 > sv THEN 1L ELSE 0L END)"))
      .withColumn("h", expr(
        "aggregate(sequence(0, 63), 0L, (a, i) -> a + shiftleft(element_at(bits, i + 1), CAST(i AS INT)))"))
      .select($"id", $"h").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == viaBuiltins,
      texts.map(t => s"${t._1}: ${native(t._1)} vs ${viaBuiltins(t._1)}").mkString("\n"))
  }

  test("piiScrub redacts and counts, leaving other columns intact") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail me at a.b@example.com or call 555-123-4567", "keep"),
      (2L, "no pii here", "keep2")).toDF("id", "body", "extra")
    val out = GraftOps.piiScrub(docs, "body").orderBy("id").collect()
    assert(out(0).getAs[String]("body") == "mail me at <EMAIL> or call <PHONE>")
    assert(out(0).getAs[Int]("n_emails") == 1 && out(0).getAs[Int]("n_phones") == 1)
    assert(out(1).getAs[String]("body") == "no pii here")
    assert(out.map(_.getAs[String]("extra")).toSeq == Seq("keep", "keep2"))
  }

  test("piiScrub counts match applied redactions when patterns overlap") {
    import spark.implicits._
    // the email pass consumes the phone-shaped local part — one
    // <EMAIL> marker, zero <PHONE> markers, and counts must agree
    val docs = Seq((1L, "reach me: 555-123-4567@corp.com")).toDF("id", "body")
    val out = GraftOps.piiScrub(docs, "body").collect()(0)
    assert(out.getAs[String]("body") == "reach me: <EMAIL>")
    assert(out.getAs[Int]("n_emails") == 1)
    assert(out.getAs[Int]("n_phones") == 0, "no <PHONE> marker was emitted")
  }

  test("incrementalDedupe rejects overlapping base/delta ids") {
    import spark.implicits._
    val base = Seq((7L, "aa bb cc")).toDF("id", "txt")
    val delta = Seq((7L, "aa bb cc dd")).toDF("id", "txt")
    val e = intercept[IllegalArgumentException] {
      GraftOps.incrementalDedupe(base, delta, "id", "txt")
    }
    assert(e.getMessage.contains("disjoint"))
  }

  test("bpeEncode applies merges by rank and counts tokens") {
    import spark.implicits._
    // merges: (a,b)->ab at rank 1, then (ab,c)->abc at rank 2
    val merges = Seq((1, "a", "b", 10L), (2, "ab", "c", 5L))
      .toDF("rank", "left", "right", "pair_freq")
    val docs = Seq((1L, "abcab xyz"), (2L, "abcab xyz")).toDF("id", "txt")
    val out = GraftOps.bpeEncode(docs, "id", "txt", merges)
      .orderBy("id").collect()
    // "abcab": a,b,c,a,b -> (a,b) both occurrences -> [ab,c,ab]
    //          -> (ab,c) -> [abc, ab]; "xyz" has no learned pairs
    out.foreach { r =>
      assert(r.getLong(1) == 5L, r.toString)
      assert(r.getSeq[String](2) == Seq("abc", "ab", "x", "y", "z"), r.toString)
    }
    // encoding is lossless: concatenated tokens rebuild each word
    assert(out(0).getSeq[String](2).mkString == "abcabxyz")
  }

  test("bpeEncode preserves the caller's id type and survives null text") {
    import spark.implicits._
    val merges = Seq((1, "a", "b", 10L)).toDF("rank", "left", "right", "pair_freq")
    val docs = Seq(("u-1", "ab ab"), ("u-2", null)).toDF("uid", "txt")
    val out = GraftOps.bpeEncode(docs, "uid", "txt", merges).orderBy("uid").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("u-1", "u-2"))
    assert(out(0).getLong(1) == 2L && out(0).getSeq[String](2) == Seq("ab", "ab"))
    assert(out(1).getLong(1) == 0L && out(1).getSeq[String](2).isEmpty)
  }

  test("bpeEncode round-trips a trained merge table") {
    import spark.implicits._
    val docs = Seq.fill(20)((1L, "banana bandana")).toDF("id", "txt")
    val merges = GraftOps.bpeMerges(docs, "txt", merges = 6)
    val enc = GraftOps.bpeEncode(docs.limit(1), "id", "txt", merges).collect()(0)
    // lossless + strictly compressed relative to character count
    assert(enc.getSeq[String](2).mkString == "bananabandana")
    assert(enc.getLong(1) < "bananabandana".length)
  }

  test("bpeMerges learns the dominant pair first on arbitrary data") {
    import spark.implicits._
    val docs = Seq.fill(20)("ababab").toDF("txt")
    val m = GraftOps.bpeMerges(docs, "txt", merges = 2).orderBy("rank").collect()
    assert(m.head.getAs[String]("left") == "a" && m.head.getAs[String]("right") == "b")
    // after (a,b)->ab, the dominant pair is (ab, ab)
    assert(m(1).getAs[String]("left") == "ab" && m(1).getAs[String]("right") == "ab")
  }

  test("gopherSignals: default stop list, verdict matches the rule conjunction") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the " + (1 to 60).map(i => f"tok$i%02d").mkString(" ") + " with"),
      (2L, "short doc")).toDF("doc_id", "text")
    val got = GraftOps.gopherSignals(docs, "doc_id", "text", Seq.empty)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("stop_hits") == 2L) // 'the' + 'with'
    assert(got(1L).getAs[Boolean]("kept"))
    assert(!got(2L).getAs[Boolean]("kept")) // word-count rule
  }

  test("shardAssign: deterministic, in-range, every shard populated") {
    import spark.implicits._
    val df = spark.range(2000).toDF("id")
    val a = GraftOps.shardAssign(df, "id", 16).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("shard")).toMap
    assert(a.values.forall(s => s >= 0 && s < 16))
    assert(a.values.toSet.size == 16)
    val b = GraftOps.shardAssign(df, "id", 16).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("shard")).toMap
    assert(a == b) // reproducible across runs
  }

  test("distinctOverlap: exact mode equals exact set intersections") {
    import spark.implicits._
    // A = {0..99}, B = {50..149}, C = {200..209}; duplicates everywhere
    val df = (
      (0 until 100).map(v => ("A", v)) ++ (0 until 100).map(v => ("A", v)) ++
      (50 until 150).map(v => ("B", v)) ++ (200 until 210).map(v => ("C", v))
    ).toDF("k", "v").withColumn("v", org.apache.spark.sql.functions.col("v").cast("long"))
    val got = GraftOps.distinctOverlap(df, "k", "v").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(got(("A", "B")) == 50.0)
    assert(got(("A", "C")) == 0.0)
    assert(got(("B", "C")) == 0.0)
  }
}
