package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality audit: these assertions pin the physical-plan properties
  * that make the operators scale — filter pushdown into the parquet
  * scan, broadcast joins for dimensions, absence of shuffles in
  * scan-side map pipelines — so a regression in plan shape fails CI,
  * not just a benchmark. */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark._

  private def executedPlan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q1: shipdate filter is pushed to the parquet scan") {
    val plan = executedPlan("q1_pricing_summary")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter in:\n$plan")
  }

  test("q6: scan predicates pushed, scan pruned to the 4 used columns") {
    // (PushedFilters lists truncate at 100 chars in toString — assert the
    // prefix plus the pruned ReadSchema, which proves the same plan shape)
    val plan = executedPlan("q6_forecast_revenue")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity)"),
      s"predicates not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"),
      s"scan not pruned:\n$plan")
  }

  test("q5: dimension joins broadcast, fact joins shuffle") {
    val plan = executedPlan("q5_local_supplier")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, "dims must broadcast")
  }

  test("q1/t1: column pruning reaches the scan") {
    val q1 = executedPlan("q1_pricing_summary")
    // the q1 scan must not read the join-oriented key columns
    assert(!q1.contains("l_partkey"), "q1 reads columns it never uses")
    val t1 = executedPlan("t1_token_count")
    assert(!t1.contains("ReadSchema: struct<doc_id:bigint,text:string,lang"),
      "t1 must prune lang/source columns")
  }

  test("text analysis is shuffle-free (pure scan-side map)") {
    for (q <- Seq("t1_token_count", "t2_quality_score", "t3_lang_id",
        "t4_fingerprint", "t13_unicode_clean")) {
      val plan = executedPlan(q)
      // the only exchange allowed is the final presentation orderBy
      val shuffles = "Exchange".r.findAllIn(plan).size
      val rangeParts = "rangepartitioning".r.findAllIn(plan).size
      assert(shuffles == rangeParts, s"$q has a non-sort shuffle:\n$plan")
    }
  }

  test("p3: the benchmark side of contamination is broadcast") {
    val plan = executedPlan("p3_contamination")
    assert(plan.contains("BroadcastHashJoin"), s"benchmark set must broadcast:\n$plan")
  }

  test("d3: no broadcast of an unbounded relation (signatures shuffle-join)") {
    // the signature table grows with the corpus — it must never carry a
    // broadcast hint; at test SF AQE may still *choose* broadcast from
    // observed sizes, so assert on the optimized logical plan's hints
    val df = SparkEntry.queries("d3_minhash_lsh")(spark, sf)
    val logical = df.queryExecution.optimizedPlan.toString
    assert(!logical.contains("ResolvedHint"), s"broadcast hint survived in d3:\n$logical")
  }

  test("sk1: the replicated (exploded) side of the salted join is the dim table") {
    val plan = executedPlan("sk1_salted_join")
    // the salt-explode Generate must sit over the supplier scan, never a
    // fact table — find the Generate and check the columns it carries
    val gen = plan.linesIterator.find(_.contains("Generate explode")).getOrElse(
      fail(s"no salt explode in plan:\n$plan"))
    assert(gen.contains("s_suppkey") || gen.contains("l_suppkey"),
      s"salt explode is not over supplier:\n$gen")
    assert(!gen.contains("o_orderkey") && !gen.contains("l_orderkey"),
      s"salt explode replicates a fact table:\n$gen")
  }

  test("s1: top-k is a partial aggregate, not a window rank") {
    // the window-rank shape shuffles every scored (q, neighbor) row to
    // the query's reducer; the TopKAgg shape reduces each partition to a
    // k-sized buffer map-side, so no WindowExec may appear
    val plan = executedPlan("s1_ann_brute")
    assert(!plan.contains("Window"), s"s1 regressed to a window rank:\n$plan")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"s1 top-k aggregate missing:\n$plan")
    assert(plan.contains("partial_topkagg") || plan.contains("partial_TopKAgg") ||
      "partial_?topk".r.findFirstIn(plan.toLowerCase).isDefined,
      s"s1 top-k must partially aggregate map-side:\n$plan")
  }

  test("ANN tiers: every top-k cut is a heap aggregate, never a window rank") {
    // s2/s3/s5 candidate sets are pruned, but a window rank still
    // shuffles every candidate row to its query's reducer; the TopKAgg
    // shape cuts map-side in all tiers (s1's audit covers the unbounded
    // case separately)
    Seq("s2_ann_lsh", "s3_ann_ivf", "s4_ann_hnsw", "s5_ann_ivfpq", "s6_knn_join")
      .foreach { q =>
        val plan = executedPlan(q)
        assert(!plan.contains("Window"), s"$q ranks via a window:\n$plan")
      }
  }

  test("e10: the sliding-window overlap is a scan-side Expand, not a join") {
    // window(ts, 1h, 15m) must multiply rows in the map phase (Expand/
    // Generate) and aggregate once — never via a calendar join
    val plan = executedPlan("e10_sliding_window")
    assert(plan.contains("Expand") || plan.contains("Generate"),
      s"sliding windows must expand scan-side:\n$plan")
    assert(!plan.contains("Join"), s"no join belongs in e10:\n$plan")
  }

  test("e9: cohort retention joins only on user_id — no cartesian shapes") {
    val plan = executedPlan("e9_cohort_retention")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"e9 must stay an equi-join on user_id:\n$plan")
  }

  test("a4: sketch union partially aggregates map-side") {
    // both the per-day sketch build and the weekly union must have a
    // partial (map-side) phase — the mergeability the sketch table
    // pattern depends on
    val plan = executedPlan("a4_sketch_union").toLowerCase
    assert(plan.contains("partial_hll_sketch_agg"),
      s"day sketches must build map-side:\n$plan")
    assert(plan.contains("partial_hll_union_agg"),
      s"weekly union must merge map-side:\n$plan")
  }

  test("p8: bloom probe is a literal filter — no join in the plan") {
    // the bloom rides the plan as a literal binary (referenced once by
    // generated code); a broadcast-join formulation re-copies the bitset
    // out of the unsafe row per probed gram
    val plan = executedPlan("p8_bloom_decontam")
    assert(!plan.contains("Join"), s"p8 must not join the bloom:\n$plan")
    assert(plan.contains("bloommightcontain"), s"probe missing:\n$plan")
  }

  test("t11: the only cross join is the broadcast 1-row vocab scalar; unigrams hot-broadcast") {
    val plan = executedPlan("t11_lm_score")
    // the vocabulary-size scalar re-attaches as a broadcast nested-loop
    // over ONE row — any other cartesian shape would be a real bug
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    // the hot-unigram split rides broadcast joins (at micro-scale the
    // optimizer may ALSO broadcast the small LM count tables — that's
    // size-based planning, not a fixed broadcast hint on an unbounded
    // relation, so it degrades to shuffle joins at corpus scale)
    assert(plan.contains("BroadcastHashJoin"), s"no hot broadcast in:\n$plan")
  }

  test("t12: compression signal is a pure scan-side projection — zero Exchange") {
    val plan = executedPlan("t12_compress_ratio")
    // deflate_len rides the scan projection; the only allowed movement
    // is the output ordering's sort — no aggregation, no join, no
    // repartition at any corpus size
    assert(!plan.contains("Exchange hashpartitioning"), s"shuffle in:\n$plan")
    assert(!plan.contains("Join"), s"join in:\n$plan")
  }

  test("m5: candidates come from a (block, value) equi-join, never all-pairs") {
    val plan = executedPlan("m5_phash_neardup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"all-pairs shape in:\n$plan")
  }

  test("t8: BM25 top-k is TakeOrdered (per-partition heaps), stats broadcast") {
    // the global top-20 must never be a full sort: TakeOrderedAndProject
    // keeps a k-heap per partition and merges k-sized results; the 1-row
    // corpus-stats relation must re-attach by broadcast, not shuffle
    val plan = executedPlan("t8_bm25_search")
    assert(plan.contains("TakeOrderedAndProject"),
      s"t8 top-k regressed to a global sort:\n$plan")
    assert(!plan.contains("SortExec"), s"t8 must not globally sort:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"t8 stats row must broadcast:\n$plan")
  }

  test("t7: hot tokens ride a broadcast join; only the tail shuffles") {
    val plan = executedPlan("t7_unigram_rarity")
    assert(plan.contains("BroadcastHashJoin"),
      s"t7 hot-token branch must be a broadcast join:\n$plan")
  }

  test("a3 candidate generation: partition-local heaps, no vocabulary aggregate") {
    // the CMS exists to avoid the vocabulary-sized exact pass — the
    // candidate path must be a mapPartitions heap whose only aggregate
    // pair is the distinct over the BOUNDED candidate list (≤ 160 ×
    // numPartitions rows), never a groupBy over the token stream
    import org.apache.spark.sql.functions.{col, explode, length, split}
    val tok = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val cand = graft.operators.Aggregations.heavyHitterCandidates(tok)
    val plan = cand.queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions"),
      s"candidates must come from partition-local heaps:\n$plan")
    val aggs = "HashAggregate".r.findAllIn(plan).size
    assert(aggs <= 2,
      s"only the bounded-candidate distinct (partial+final) is allowed, found $aggs:\n$plan")
  }

  test("dedup-apply drop relation is size-gated: large estimate degrades to shuffle") {
    // the apply step of every dedup pipeline anti-joins the corpus
    // against the cluster/drop map. That map is O(corpus) on a
    // dup-heavy corpus, so the broadcast hint must be size-GATED — a
    // forced hint OOMs executors exactly when dedup matters most.
    // Above the gate the plan must degrade to a plain shuffle
    // anti-join; below it the hint applies.
    import org.apache.spark.sql.functions.col
    val s2 = spark.newSession() // isolated conf, shared context
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    val df = (1L to 100L).toDF("my_id")
    val clusters = Seq((2L, 1L), (3L, 1L), (9L, 7L)).toDF("id", "cluster_rep")

    s2.conf.set("spark.graft.broadcast.maxBytes", "0") // force "too large"
    val gated = graft.api.GraftOps.applyDedup(df, "my_id", clusters)
    val gatedPlan = gated.queryExecution.executedPlan.toString
    assert(!gatedPlan.contains("Broadcast"),
      s"gate ignored — still broadcasting:\n$gatedPlan")
    assert(gatedPlan.contains("SortMergeJoin") || gatedPlan.contains("ShuffledHashJoin"),
      s"expected a shuffle anti-join above the gate:\n$gatedPlan")
    assert(gated.collect().map(_.getLong(0)).toSet ==
      (1L to 100L).toSet -- Set(2L, 3L, 9L), "degraded plan must stay correct")

    s2.conf.set("spark.graft.broadcast.maxBytes", (64L << 20).toString)
    val hinted = graft.api.GraftOps.applyDedup(df, "my_id", clusters)
    assert(hinted.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "small drop relation must still broadcast below the gate")
  }

  test("d10: substring spans join on window hashes only — no cartesian, no gram strings in the shuffle") {
    // the scale contract: every join/aggregate keys on the 64-bit
    // window hash (8 B), never the W-token gram text, and nothing
    // degenerates to an all-pairs shape
    val plan = executedPlan("d10_substring_spans")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"d10 must stay hash-keyed equi-joins:\n$plan")
    // every exchange partitions on the window hash or the doc id —
    // the W-token gram string never appears as a shuffle key
    val exchanges = "hashpartitioning\\(([a-zA-Z_#0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty &&
      exchanges.forall(k => k.startsWith("h#") || k.startsWith("doc_id#")),
      s"unexpected shuffle keys $exchanges:\n$plan")
  }

  test("d9: incremental-dedup probe side is delta-restricted (semi-join), no cartesian") {
    // the daily-ingest property: candidate volume must scale with
    // |delta|, not |corpus|² — the probe side of the candidate join is
    // the prefix index semi-joined down to delta doc_ids, and nothing
    // in the pipeline may fall back to a cartesian shape
    val plan = executedPlan("d9_dedup_incremental")
    assert(plan.contains("LeftSemi"),
      s"d9 probe side must be a delta semi-join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"d9 must stay an equi-join on shingles:\n$plan")
  }

  test("bucketed tables co-locate their join: no shuffle exchange") {
    // the 100 TB fact-fact join strategy: both sides written bucketed on
    // the join key land pre-partitioned, so the sort-merge join needs no
    // Exchange on either side — shuffle cost is paid once at write time
    // and amortized over every subsequent join
    import org.apache.spark.sql.functions.col
    val orders = graft.sources.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity")
    // the in-memory catalog forgets tables across JVMs but their
    // warehouse directories persist — clear both layers
    for (t <- Seq("bkt_orders", "bkt_lineitem")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("bkt_orders")
    lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("bkt_lineitem")
    // merge hint: at test SF the planner would broadcast the tiny side,
    // which hides the property under test — at fact-fact scale sort-merge
    // is what the planner picks on its own
    val joined = spark.table("bkt_orders").hint("merge")
      .join(spark.table("bkt_lineitem"), col("o_orderkey") === col("l_orderkey"))
    val agg = joined.groupBy(col("o_custkey")).count()
    assert(joined.count() == lineitem.count())
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
    // the downstream aggregation on a NON-bucket key is the only exchange
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(aggPlan).size == 1,
      s"expected exactly the aggregation exchange:\n$aggPlan")
  }

  test("AQE splits skewed join partitions at runtime (the production skew path)") {
    // sk1 is the manual salting escape hatch; on a real cluster AQE's
    // runtime skew split is the first line of defense — assert it
    // actually engages on a skewed join under this build of Spark
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession() // isolated conf, shared context
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    // 90% of left rows share key 0 — one reducer would eat them all
    val left = s2.range(0, 200000)
      .select(when($"id" < 180000, 0L).otherwise($"id").as("k"), $"id".as("v"))
    val right = s2.range(0, 2000).select($"id".as("k"), ($"id" * 2).as("w"))
    val j = left.join(right, "k")
    // drive THIS QueryExecution (count() would plan a separate one and
    // leave j's adaptive plan unfinalized)
    j.queryExecution.toRdd.count(): Unit
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"), s"AQE did not split the skewed join:\n$plan")
  }

  test("whole-stage codegen covers the q1 aggregation pipeline") {
    // codegen'd operators carry the *(n) stage marker in toString
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"q1 fell out of whole-stage codegen:\n$plan")
  }

  test("delta replay reads push filters into the parquet scans") {
    import spark.implicits._
    // readDelta returns plain parquet scans (possibly unioned per
    // partition group) — a predicate over it must reach the scan as a
    // pushed filter, not evaluate above a full read
    val t = graft.sources.GraftTable.create(spark,
      tmpDir("graft_pa_dx_").toString + "/t",
      (1L to 1000L).map(i => (i, s"v$i", i * 1.5)).toDF("id", "v", "x"))
    val target = tmpDir("graft_pa_delta_").toString + "/t"
    graft.sources.DeltaInterop.exportSnapshot(t, target)
    val df = graft.sources.DeltaInterop.readDelta(spark, target)
      .filter($"id" === 7L).select($"id", $"x")
    assert(df.count() == 1)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("PushedFilters: [IsNotNull(id), EqualTo(id,7)]"),
      s"filter did not reach the parquet scan:\n$formatted")
    assert(formatted.contains("ReadSchema") && !formatted.contains("\"v\""),
      "column pruning must drop the unused string column")
  }
}
