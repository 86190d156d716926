package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{DeltaInterop, GraftTable}

/** Delta ROW TRACKING (PROTOCOL.md): every add action on a
  * feature-carrying table gets `baseRowId` + `defaultRowCommitVersion`,
  * the `delta.rowTracking` domainMetadata high watermark advances with
  * the assigned ranges, deletion-vector DML re-adds carry the original
  * file's fields (a DV only strikes rows — surviving ids stand), and
  * the copy-on-write shapes that would silently reassign GUARANTEED
  * ids (`delta.enableRowTracking`) refuse toward the merge-on-read
  * path. Reference stack: Delta 3.2.0
  * (reference scripts/download-jars.sh:90) ships row tracking as a
  * modern default. */
class DeltaRowTrackingSpec extends AnyFunSuite {
  import TestSpark._

  private def mkTable(rows: Int = 40, files: Int = 4): String = {
    import spark.implicits._
    val df = (0 until rows).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartitionByRange(files, col("id")).sortWithinPartitions("id")
    val t = GraftTable.create(spark, tmp("graft_rt_src_"), df)
    val target = tmp("graft_rt_delta_")
    DeltaInterop.exportSnapshot(t, target)
    target
  }

  test("enableRowTracking auto-upgrades the protocol with its features") {
    val target = mkTable()
    DeltaInterop.setDeltaProperties(spark, target,
      Map("delta.enableRowTracking" -> "true",
        "delta.enableDeletionVectors" -> "true"))
    val feats = DeltaInterop.deltaWriterFeatures(spark, target)
    assert(feats.contains("rowTracking") &&
      feats.contains("domainMetadata") &&
      feats.contains("deletionVectors"), feats)
  }

  test("appends assign contiguous baseRowId ranges and advance the watermark") {
    import spark.implicits._
    val target = mkTable()
    DeltaInterop.setDeltaProperties(spark, target,
      Map("delta.enableRowTracking" -> "true",
        "delta.enableDeletionVectors" -> "true"))
    val v1 = DeltaInterop.appendToDelta(
      (100 until 110).map(i => (i.toLong, s"a$i")).toDF("id", "v"), target)
    val (ids1, wm1) = DeltaInterop.deltaRowIds(spark, target)
    // only the appended files carry ids (the export predates tracking)
    val assigned1 = ids1.filter(_._2._1.isDefined)
    assert(assigned1.nonEmpty)
    assert(wm1.contains(9L), wm1) // 10 rows -> ids 0..9
    assert(assigned1.values.forall(_._2.contains(v1)),
      "defaultRowCommitVersion must be the committed version")
    // second append starts past the watermark, contiguous per file
    DeltaInterop.appendToDelta(
      (200 until 205).map(i => (i.toLong, s"b$i")).toDF("id", "v"), target)
    val (ids2, wm2) = DeltaInterop.deltaRowIds(spark, target)
    assert(wm2.contains(14L), wm2)
    val bases = ids2.values.flatMap(_._1).toSeq.sorted
    assert(bases.head == 0L && bases.forall(_ <= 14L), bases)
    assert(DeltaInterop.readDelta(spark, target).count() == 55)
  }

  test("DV DELETE and UPDATE keep the original file's ids; new rows get fresh") {
    import spark.implicits._
    val target = mkTable()
    DeltaInterop.setDeltaProperties(spark, target,
      Map("delta.enableRowTracking" -> "true",
        "delta.enableDeletionVectors" -> "true"))
    DeltaInterop.appendToDelta(
      (100 until 120).map(i => (i.toLong, s"a$i")).toDF("id", "v"), target)
    val (before, wmBefore) = DeltaInterop.deltaRowIds(spark, target)
    val tracked = before.filter(_._2._1.isDefined)
    assert(tracked.nonEmpty && wmBefore.contains(19L))
    // merge-on-read DELETE: same file re-added with a DV, SAME ids
    DeltaInterop.deleteFromDelta(spark, target, $"id" === 105L)
    val (afterDel, wmDel) = DeltaInterop.deltaRowIds(spark, target)
    tracked.foreach { case (p, ids) =>
      assert(afterDel.get(p).contains(ids),
        s"DV delete must carry row ids for $p")
    }
    assert(wmDel == wmBefore, "a pure DV delete assigns no new ids")
    assert(DeltaInterop.readDelta(spark, target).count() == 59)
    // merge-on-read UPDATE: struck file keeps ids; the appended
    // transformed-rows file gets a FRESH range past the watermark
    val vUpd = DeltaInterop.updateDelta(spark, target, $"id" === 110L,
      Map("v" -> lit("upd")))
    val (afterUpd, wmUpd) = DeltaInterop.deltaRowIds(spark, target)
    tracked.foreach { case (p, ids) =>
      assert(afterUpd.get(p).contains(ids),
        s"DV update must carry row ids for $p")
    }
    val fresh = afterUpd.filter { case (p, (b, _)) =>
      !before.contains(p) && b.exists(_ > 19L) }
    assert(fresh.nonEmpty, "the update's new file needs a fresh id range")
    assert(fresh.values.forall(_._2.contains(vUpd)))
    assert(wmUpd.exists(_ > 19L))
    assert(DeltaInterop.readDelta(spark, target)
      .where($"id" === 110L).select("v").head().getString(0) == "upd")
  }

  test("CoW rewrites MATERIALIZE ids on guaranteed tables; supported-only takes fresh ranges") {
    import spark.implicits._
    val target = mkTable()
    // GUARANTEED, NO deletion vectors: every rewrite must preserve ids
    DeltaInterop.setDeltaProperties(spark, target,
      Map("delta.enableRowTracking" -> "true"))
    DeltaInterop.appendToDelta(
      (100 until 120).map(i => (i.toLong, s"a$i")).toDF("id", "v"), target)
    def idsOf(): Map[Long, (java.lang.Long, java.lang.Long)] =
      DeltaInterop.readDeltaWithRowIds(spark, target)
        .select("id", "_row_id", "_row_commit_version")
        .as[(Long, java.lang.Long, java.lang.Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val before = idsOf()
    assert((100L until 120L).forall(i => before(i)._1 != null))
    // CoW DELETE: survivors of rewritten files keep their ids
    DeltaInterop.deleteFromDelta(spark, target, $"id" === 105L)
    val afterDel = idsOf()
    (100L until 120L).filterNot(_ == 105L).foreach { i =>
      assert(afterDel(i)._1 == before(i)._1,
        s"CoW delete must preserve the id of row $i")
    }
    // CoW UPDATE: the updated row keeps its id; its commit version
    // advances; untouched appended rows keep both
    DeltaInterop.updateDelta(spark, target, $"id" === 110L,
      Map("v" -> lit("upd")))
    val afterUpd = idsOf()
    assert(afterUpd(110L)._1 == before(110L)._1,
      "CoW update must preserve the updated row's id")
    assert(afterUpd(110L)._2.longValue > before(110L)._2.longValue,
      "the updated row's commit version must advance")
    assert(afterUpd(111L) == afterDel(111L))
    // CoW MERGE: matched keeps its id, the insert takes a fresh one
    DeltaInterop.mergeDelta(
      Seq((112L, "m112"), (777L, "m777")).toDF("id", "v"),
      target, Seq("id"))
    val afterMerge = idsOf()
    assert(afterMerge(112L)._1 == before(112L)._1,
      "merge-update must preserve the matched row's id")
    assert(afterMerge(777L)._1 != null)
    // OPTIMIZE: carried rows keep id AND commit version
    DeltaInterop.optimizeDelta(spark, target)
    val afterOpt = idsOf()
    Seq(100L, 107L, 111L).foreach { i =>
      assert(afterOpt(i) == afterMerge(i),
        s"compaction must preserve id + commit version of row $i")
    }
    // ids stay unique across everything (pre-tracking rows gained
    // ids through the rewrites)
    val all = afterOpt.values.flatMap(v => Option(v._1))
      .map(_.longValue).toSeq
    assert(all.distinct.size == all.size, "row ids must stay unique")
    assert(DeltaInterop.readDelta(spark, target).count() == 60)
    // feature SUPPORTED but not enabled: CoW proceeds, fresh ids stand
    val supported = mkTable()
    DeltaInterop.setDeltaProperties(spark, supported,
      Map("delta.enableRowTracking" -> "true"))
    DeltaInterop.unsetDeltaProperties(spark, supported,
      Seq("delta.enableRowTracking"))
    DeltaInterop.appendToDelta(
      Seq((100L, "x")).toDF("id", "v"), supported)
    DeltaInterop.deleteFromDelta(spark, supported, $"id" < 10L)
    val (ids, wm) = DeltaInterop.deltaRowIds(spark, supported)
    assert(DeltaInterop.readDelta(spark, supported).count() == 31)
    assert(ids.nonEmpty && wm.isDefined)
    val spans = ids.values.flatMap(_._1).toSeq
    assert(spans.distinct.size == spans.size, "id ranges must not collide")
  }

  test("bitmap combiner: builder bytes match serialize; 1M strikes stay bitset-backed") {
    import graft.sources.DeletionVectors
    val rnd = new scala.util.Random(42)
    val sparse = Seq.fill(3000)(rnd.nextInt(5000000).toLong).distinct
    val b = new DeletionVectors.BitmapBuilder
    sparse.foreach(b.add)
    assert(DeletionVectors.serializeBuilder(b).toSeq ==
      DeletionVectors.serialize(sparse).toSeq,
      "builder must serialize byte-identically to the Seq writer")
    assert(b.cardinality == sparse.size)
    // dense full-file shape: 1M contiguous strikes — the combiner is
    // a bitset (125 KB), asserted by type through the whole path
    import TestSpark.spark.implicits._
    val pairs = TestSpark.spark.range(1000000)
      .select(org.apache.spark.sql.functions.lit("f1").as("f"),
        org.apache.spark.sql.functions.col("id"))
    val out = DeletionVectors.serializeStruckBitmaps(pairs, Map.empty)
    assert(out.length == 1 && out.head._3 == 1000000L)
    val rt = DeletionVectors.deserialize(out.head._2)
    assert(rt.cardinality == 1000000L && rt.contains(0L) &&
      rt.contains(999999L) && !rt.contains(1000000L))
    // merging an existing serialized bitmap unions, never double-counts
    val out2 = DeletionVectors.serializeStruckBitmaps(pairs,
      Map("f1" -> DeletionVectors.serialize(Seq(5L, 2000000L))))
    assert(out2.head._3 == 1000001L)
  }

  test("racing row-tracked appends land DISJOINT contiguous id ranges") {
    import spark.implicits._
    val target = mkTable(rows = 4, files = 1)
    DeltaInterop.setDeltaProperties(spark, target,
      Map("delta.enableRowTracking" -> "true",
        "delta.enableDeletionVectors" -> "true"))
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // 6 racing writers of 5 rows each: lost races must re-read the
    // moved watermark before re-rendering their adds
    try Await.result(Future.sequence((1 to 6).map { i =>
      Future(DeltaInterop.appendToDelta(
        (0 until 5).map(j => ((i * 100 + j).toLong, s"w$i-$j"))
          .toDF("id", "v"), target))
    }), 180.seconds)
    finally pool.shutdown()
    val (ids, wm) = DeltaInterop.deltaRowIds(spark, target)
    val stats = DeltaInterop.deltaFileStats(spark, target)
    // every tracked file's [baseRowId, baseRowId + numRecords) interval;
    // together they must TILE [0, 30) exactly — disjoint, gap-free,
    // nothing double-assigned across the racing writers
    val intervals = ids.toSeq.flatMap { case (p, (b, _)) =>
      b.map { base =>
        val n = stats.get(p).flatMap(graft.sources.DeltaStats.numRecordsOf)
          .getOrElse(0L)
        (base.longValue, base.longValue + n)
      }
    }.sorted
    assert(intervals.nonEmpty)
    assert(intervals.head._1 == 0L, intervals)
    intervals.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi == lo2, s"gap or overlap at $hi vs $lo2: $intervals")
      case _ => ()
    }
    assert(intervals.last._2 == 30L, intervals)
    assert(wm.contains(29L), wm)
    assert(DeltaInterop.readDelta(spark, target).count() == 34)
  }

  test("the row-id resolution scan broadcasts its per-file base map") {
    import spark.implicits._
    // the CoW materialization joins each row against a driver-built
    // (file -> baseRowId) map: at 100 TB that map is KB-scale metadata
    // and MUST ride a broadcast, never shuffle the rewrite
    val target = mkTable()
    DeltaInterop.setDeltaProperties(spark, target,
      Map("delta.enableRowTracking" -> "true",
        "delta.enableDeletionVectors" -> "true"))
    DeltaInterop.appendToDelta(
      (100 until 110).map(i => (i.toLong, s"a$i")).toDF("id", "v"), target)
    val plan = DeltaInterop.readDeltaWithRowIds(spark, target)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"base-map join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "the rewrite scan must never sort-merge on the file map")
  }

  test("restore carries the original ids back") {
    import spark.implicits._
    val target = mkTable()
    DeltaInterop.setDeltaProperties(spark, target,
      Map("delta.enableRowTracking" -> "true",
        "delta.enableDeletionVectors" -> "true"))
    val vA = DeltaInterop.appendToDelta(
      (100 until 105).map(i => (i.toLong, s"a$i")).toDF("id", "v"), target)
    val (idsA, _) = DeltaInterop.deltaRowIds(spark, target)
    DeltaInterop.deleteFromDelta(spark, target, $"id" >= 100L)
    DeltaInterop.restoreDelta(spark, target, vA)
    val (idsR, _) = DeltaInterop.deltaRowIds(spark, target)
    idsA.filter(_._2._1.isDefined).foreach { case (p, ids) =>
      assert(idsR.get(p).contains(ids), s"restore must carry ids for $p")
    }
    assert(DeltaInterop.readDelta(spark, target).count() == 45)
  }
}

/** `Trigger.AvailableNow` on the DSv2 streams: the run drains exactly
  * the commits present at start, in maxCommitsPerTrigger-bounded
  * MULTIPLE batches (never the single-batch fallback), then stops —
  * the scale-relevant half of admission control for a 100 TB
  * catch-up. */
class AvailableNowSpec extends AnyFunSuite {
  import TestSpark._

  for ((format, title) <- Seq(
      "graft" -> "graft-table stream drains under AvailableNow in bounded batches",
      "delta" -> "Delta stream drains a multi-commit tail in bounded batches",
      "iceberg" -> "Iceberg stream drains a multi-commit tail in bounded batches")) {
    test(title) {
      import spark.implicits._
      val t = TailFormats.all(spark).find(_.name == format).get
      val ckpt = tmpDir("graft_an_ck_").toString
      val outDir = tmpDir("graft_an_out_").toString
      def drain(): org.apache.spark.sql.streaming.StreamingQuery = {
        val q = spark.readStream.format(t.format)
          .option(t.capOption, "1").load(t.path)
          .writeStream.format("parquet")
          .option("checkpointLocation", ckpt).option("path", outDir)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .outputMode("append").start()
        q.awaitTermination()
        q
      }
      drain() // batch 0 = the indivisible initial snapshot
      // a 4-commit TAIL accumulates; the catch-up must admit it in
      // per-trigger-bounded batches, not one unbounded batch
      (2 to 5).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
      val q2 = drain()
      assert(spark.read.parquet(outDir).count() == 5)
      val batches = q2.recentProgress.toSeq.filter(_.numInputRows > 0)
      assert(batches.size >= 4,
        s"expected a bounded multi-batch drain, got ${batches.size}")
    }
  }

  test("maxBytesPerTrigger: skewed commit sizes drain in byte-bounded batches") {
    import spark.implicits._
    // commit sizes are SKEWED: one huge commit then two tiny ones — a
    // count bound admits them 1+1+1 or all at once; the byte bound must
    // admit the huge one alone (progress guarantee) and pack the tiny
    // ones together
    def skewedDrain(fmt: String, target: String,
        append: org.apache.spark.sql.DataFrame => Unit): Unit = {
      val ckpt = tmpDir("graft_anb_ck_").toString
      val outDir = tmpDir("graft_anb_out_").toString
      def drain(): org.apache.spark.sql.streaming.StreamingQuery = {
        val q = spark.readStream.format(fmt)
          .option("maxBytesPerTrigger", "50000").load(target)
          .writeStream.format("parquet")
          .option("checkpointLocation", ckpt).option("path", outDir)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .outputMode("append").start()
        q.awaitTermination()
        q
      }
      drain() // batch 0: the indivisible initial snapshot
      append(spark.range(20000).select($"id", concat(lit("pad-"), $"id")
        .as("v")).coalesce(1).toDF("id", "v")) // huge: >> 50 kB
      append(Seq((900001L, "s1")).toDF("id", "v")) // tiny
      append(Seq((900002L, "s2")).toDF("id", "v")) // tiny
      val q2 = drain()
      assert(spark.read.parquet(outDir).count() == 1 + 20000 + 2,
        s"$fmt lost rows")
      val batches = q2.recentProgress.toSeq.filter(_.numInputRows > 0)
      // huge commit alone (admits despite exceeding the budget — at
      // least one commit per batch), then both tiny ones together
      assert(batches.size == 2,
        s"$fmt: expected 2 byte-bounded batches, got " +
          s"${batches.map(_.numInputRows).mkString(",")}")
      assert(batches.head.numInputRows == 20000 &&
        batches(1).numInputRows == 2,
        batches.map(_.numInputRows).mkString(","))
    }
    // Delta: commit bytes from the add actions' size field
    val t = GraftTable.create(spark, tmp("graft_anb_src_"),
      Seq((1L, "a")).toDF("id", "v"))
    val dTarget = tmp("graft_anb_delta_")
    DeltaInterop.exportSnapshot(t, dTarget)
    skewedDrain("graft.sources.v2.DeltaSource", dTarget,
      df => { DeltaInterop.appendToDelta(df, dTarget): Unit })
    // Iceberg: commit bytes from the snapshot summary's
    // added-files-size (stamped by the append writer)
    val iTarget = tmp("graft_anb_ice_")
    graft.sources.IcebergInterop.exportSnapshot(t, iTarget)
    skewedDrain("graft.sources.v2.IcebergSource", iTarget,
      df => { graft.sources.IcebergInterop.appendToIceberg(df, iTarget): Unit })
    // graft table: commit bytes from the added directories' file sizes
    val g = GraftTable.create(spark, tmp("graft_anb_g_"),
      Seq((1L, "a")).toDF("id", "v"))
    skewedDrain("graft.sources.v2.GraftSource", g.root,
      df => { g.append(df): Unit })
  }
}
