package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = Sessions.local("graft-test", 4)
  val sf: String = "/root/testdata/sf0.001"

  // Spec temp dirs are TempRoots-tracked like the library's own (query
  // harness copies, streaming checkpoints) and all go when the test JVM
  // exits — not per suite: cleanup() drops every tracked root, and
  // lazy frames of a later suite may still read the library's.
  sys.addShutdownHook(TempRoots.cleanup())

  /** A fresh temp dir, removed at JVM exit. */
  def tmpDir(prefix: String): java.nio.file.Path = TempRoots.create(prefix)

  /** A table root (not yet created) inside a fresh temp dir. */
  def tmp(prefix: String = "graft_spec_"): String =
    tmpDir(prefix).toString + "/t"
}

class RelationalSpec extends AnyFunSuite {
  import TestSpark._

  test("every registered query runs and has stable column names") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0, s"$name failed")
      assert(df.columns.distinct.length == df.columns.length,
        s"$name has duplicate column names")
    }
  }

  test("q1 aggregates are internally consistent") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf).collect()
    assert(df.nonEmpty)
    df.foreach { r =>
      val sumQty = r.getAs[Double]("sum_qty")
      val avgQty = r.getAs[Double]("avg_qty")
      val n = r.getAs[Long]("count_order")
      assert(math.abs(sumQty / n - avgQty) < 1e-9)
      assert(r.getAs[Double]("sum_disc_price") <= r.getAs[Double]("sum_base_price"))
    }
  }

  test("q2 returns deterministic top-10 ordered by revenue desc") {
    val rows = SparkEntry.queries("q2_revenue_topn")(spark, sf).collect()
    assert(rows.length <= 10 && rows.nonEmpty)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.sameElements(revs.sortBy(-_)))
  }

  test("q5 uses broadcast joins for dims") {
    val plan = SparkEntry.queries("q5_local_supplier")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "expected broadcast join for dims")
  }

  test("a3: count-min sketch sandwiches exact counts (never under, bounded over)") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("a3_cms_heavy_hitters")(spark, sf).collect()
    assert(rows.length == 20)
    val total = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0).count()
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_n"); val est = r.getAs[Long]("cms_n")
      assert(est >= exact, s"CMS underestimated ${r.getString(0)}: $est < $exact")
      assert(est <= exact + (0.001 * total).toLong + 1,
        s"CMS overshoot beyond eps*N for ${r.getString(0)}: $est vs $exact")
    }
  }

  test("a3: per-partition candidate pass reproduces the exact top-20") {
    import org.apache.spark.sql.functions._
    // a3's candidates come from partition-local heaps (no vocabulary
    // aggregate); this pins that the heuristic loses nothing — its
    // (token, exact_n) output equals a reference exact top-20
    val got = SparkEntry.queries("a3_cms_heavy_hitters")(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("exact_n"))).toSeq
    val want = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(20).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  test("a3 candidates: Misra-Gries summary stays bounded yet keeps hot tokens") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // vocabulary (50k distinct fillers) ≫ summary capacity (8×160 =
    // 1280 counters), all in ONE partition so the summary actually
    // overflows and runs its decrement-evict path many times; the hot
    // token holds a ~9% partition share (far above 1/(cap+1)) and must
    // survive into the emitted candidates. The old full-HashMap code
    // passed this trivially — under Misra-Gries it pins the recall
    // guarantee the scaladoc states, at bounded executor memory.
    val rnd = new scala.util.Random(11)
    val toks = Seq.fill(500000)("w" + rnd.nextInt(50000)) ++
      Seq.fill(50000)("hot")
    val tok = toks.toDF("token").coalesce(1)
    val cand = graft.operators.Aggregations.heavyHitterCandidates(tok)
      .as[String].collect().toSet
    assert(cand.contains("hot"), s"hot token lost from ${cand.size} candidates")
    assert(cand.size <= 160, s"candidate list not bounded: ${cand.size}")
  }

  test("a1: approximate distinct is within HLL error of exact") {
    import org.apache.spark.sql.functions._
    val approx = SparkEntry.queries("a1_approx_distinct")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.sources.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    approx.foreach { case (k, a) =>
      val e = exact(k)
      assert(math.abs(a - e).toDouble / e < 0.15, s"$k: approx $a vs exact $e")
    }
  }

  test("a4: sketch-union weekly estimates match exact distinct users") {
    import org.apache.spark.sql.functions._
    val approx = SparkEntry.queries("a4_sketch_union")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = graft.sources.Tables.events(spark, sf)
      .select((datediff(to_date(col("ts")), to_date(lit("2024-01-01"))) / 7)
        .cast("long").as("week"), col("user_id"))
      .groupBy(col("week")).agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (w, a) =>
      val e = exact(w)
      assert(math.abs(a - e).toDouble / e < 0.1, s"week $w: approx $a vs exact $e")
    }
  }

  test("oracle map covers every query or is an intentional subset") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql keys without queries: $missing")
  }
}
