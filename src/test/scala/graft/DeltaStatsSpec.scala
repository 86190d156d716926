package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{DeltaInterop, DeltaStats, GraftTable}

/** Data-skipping statistics on the Delta write paths + the pruning
  * they enable in the DML detection scans (reference surface:
  * 03_delta_demo.ipynb relies on engine stats skipping for keyed DML). */
class DeltaStatsSpec extends AnyFunSuite {
  import TestSpark._

  /** A Delta export of (id, v, d) rows 0..99 range-clustered into 4
    * files with disjoint id ranges — the shape stats skipping needs. */
  private def rangedExport(): String = {
    import spark.implicits._
    val df = (0 until 100).map(i =>
      (i.toLong, s"v$i", java.sql.Date.valueOf(f"2024-01-${i % 28 + 1}%02d")))
      .toDF("id", "v", "d")
      .repartitionByRange(4, col("id"))
      .sortWithinPartitions("id")
    val t = GraftTable.create(spark, tmp("graft_st_src_"), df)
    val target = tmp("graft_st_delta_")
    DeltaInterop.exportSnapshot(t, target)
    target
  }

  test("exportSnapshot writes footer-derived stats every Delta engine can read") {
    val target = rangedExport()
    val stats = DeltaInterop.deltaFileStats(spark, target)
    assert(stats.size == 4, stats.keys.toSeq)
    // every stats JSON parses and carries numRecords + typed min/max
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("d",
        org.apache.spark.sql.types.DateType)))
    val parsed = stats.values.map(DeltaStats.parse(_, schema)).toSeq
    assert(parsed.forall(_.isDefined))
    assert(parsed.flatten.map(_.numRecords.get).sum == 100)
    // id ranges are disjoint across the 4 range-clustered files
    val ranges = parsed.flatten.map(s =>
      (s.min("id").asInstanceOf[BigDecimal],
        s.max("id").asInstanceOf[BigDecimal])).sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo2, _)) => hi < lo2
      case _ => true
    }, ranges)
    // raw JSON shape is the protocol's (a foreign engine's contract)
    assert(stats.values.forall(s => s.contains("\"numRecords\"") &&
      s.contains("\"minValues\"") && s.contains("\"nullCount\"")))
  }

  test("detection scan prunes by stats; DELETE/UPDATE stay exact") {
    import spark.implicits._
    val target = rangedExport()
    val all = DeltaInterop.candidateFiles(spark, target, lit(true))
    assert(all.size == 4)
    // a point predicate hits exactly one file's range
    assert(DeltaInterop.candidateFiles(spark, target, $"id" === 7L).size == 1)
    // a range predicate over ~half the keys hits a strict subset
    val half = DeltaInterop.candidateFiles(spark, target, $"id" < 40L)
    assert(half.size < all.size && half.nonEmpty, half)
    // string equality prunes too (ASCII min/max)
    assert(DeltaInterop.candidateFiles(spark, target,
      $"v" === "zzz").isEmpty)
    // un-analyzable predicates keep everything (sound fallback)
    assert(DeltaInterop.candidateFiles(spark, target,
      $"id" % 3 === 0).size == 4)
    // end-to-end: the pruned DELETE and UPDATE produce exact results
    DeltaInterop.deleteFromDelta(spark, target, $"id" < 10L)
    DeltaInterop.updateDelta(spark, target, $"id" >= 90L,
      Map("v" -> lit("hi")))
    val got = DeltaInterop.readDelta(spark, target)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    assert(got.size == 90 && !got.contains(5L) && got(95L) == "hi" &&
      got(50L) == "v50")
    // the rewritten files carry FRESH stats (and pruning keeps working)
    val stats2 = DeltaInterop.deltaFileStats(spark, target)
    assert(stats2.nonEmpty)
    assert(DeltaInterop.candidateFiles(spark, target, $"id" === 5L).isEmpty)
  }

  test("appendToDelta and merge rewrites carry stats; merge prunes by key range") {
    import spark.implicits._
    val target = rangedExport()
    DeltaInterop.appendToDelta(
      Seq((200L, "x", java.sql.Date.valueOf("2024-02-01")))
        .toDF("id", "v", "d"), target)
    val stats = DeltaInterop.deltaFileStats(spark, target)
    assert(stats.size == 5, stats.keys.toSeq)
    // the appended file's stats bound its single row
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val appended = stats.values.flatMap(DeltaStats.parse(_, schema))
      .find(_.min.get("id").contains(BigDecimal(200)))
    assert(appended.isDefined && appended.get.numRecords.contains(1L))
    // a keyed merge whose source range covers one file region updates
    // exactly; its rewrite adds carry stats
    DeltaInterop.mergeDelta(
      Seq((7L, "m7", java.sql.Date.valueOf("2024-03-01")),
        (8L, "m8", java.sql.Date.valueOf("2024-03-01")))
        .toDF("id", "v", "d"), target, Seq("id"))
    val got = DeltaInterop.readDelta(spark, target)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    assert(got(7L) == "m7" && got(8L) == "m8" && got(9L) == "v9" &&
      got.size == 101)
    assert(DeltaInterop.deltaFileStats(spark, target).nonEmpty)
  }

  test("stats survive checkpoint + log cleanup") {
    val target = rangedExport()
    DeltaInterop.checkpointDelta(spark, target)
    DeltaInterop.cleanupDeltaLog(spark, target)
    val stats = DeltaInterop.deltaFileStats(spark, target)
    assert(stats.size == 4, s"stats lost through checkpoint: ${stats.size}")
    import spark.implicits._
    assert(DeltaInterop.candidateFiles(spark, target, $"id" === 7L).size == 1)
  }

  test("readDeltaFiltered plans only stat-matching files, values exact") {
    import spark.implicits._
    val target = rangedExport()
    val got = DeltaInterop.readDeltaFiltered(spark, target, $"id" >= 90L)
      .select("id").as[Long].collect().toSet
    assert(got == (90L until 100L).toSet)
    assert(DeltaInterop.readDeltaFiltered(spark, target,
      $"v" === "zzz").count() == 0)
    // null-condition rows are excluded by the filter, kept by pruning
    assert(DeltaInterop.readDeltaFiltered(spark, target,
      $"id" % 3 === 0).count() == 34)
  }

  test("timestamp stats: ISO millis-truncated bounds prune time ranges") {
    import spark.implicits._
    val prior = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    try {
      val df = (0 until 40).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-${i / 2 + 1}%02d 10:00:00.1235")))
        .toDF("id", "ts")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      val t = GraftTable.create(spark, tmp("graft_ts_src_"), df)
      val target = tmp("graft_ts_delta_")
      DeltaInterop.exportSnapshot(t, target)
      val stats = DeltaInterop.deltaFileStats(spark, target)
      assert(stats.values.forall(s =>
        s.contains("\"ts\":\"2024-01-") && s.contains("Z\"")), stats)
      // a range beyond all data prunes everything
      assert(DeltaInterop.candidateFiles(spark, target,
        $"ts" > lit(java.sql.Timestamp.valueOf("2030-01-01 00:00:00")))
        .isEmpty)
      // a tight range hits a strict subset
      val some = DeltaInterop.candidateFiles(spark, target,
        $"ts" < lit(java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
      assert(some.nonEmpty && some.size < 4, some)
      // the max CEILS to the next millisecond: equality on micros the
      // truncation dropped still keeps the file (never a wrong prune)
      assert(DeltaInterop.candidateFiles(spark, target,
        $"ts" === lit(java.sql.Timestamp.valueOf("2024-01-20 10:00:00.1235")))
        .nonEmpty)
      // and the pruned DELETE stays exact across the truncated edges
      DeltaInterop.deleteFromDelta(spark, target,
        $"ts" >= lit(java.sql.Timestamp.valueOf("2024-01-20 00:00:00")))
      assert(DeltaInterop.readDelta(spark, target).count() == 38)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prior)
  }

  test("TIMESTAMP_MILLIS footers convert to sound bounds; bare INT96 skips") {
    import spark.implicits._
    val prior = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      // a foreign MILLIS-unit parquet directory converted in place: the
      // footer's raw longs are epoch MILLIS — trusted raw they'd be
      // ~1000× too small and a point predicate would WRONGLY prune
      spark.conf.set("spark.sql.parquet.outputTimestampType",
        "TIMESTAMP_MILLIS")
      val dir = tmpDir("graft_ts_millis_").toString
      (0 until 20).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-03-${i / 5 + 1}%02d 09:00:00")))
        .toDF("id", "ts").coalesce(1).write.mode("overwrite").parquet(dir)
      DeltaInterop.convertParquetToDelta(spark, dir)
      assert(DeltaInterop.candidateFiles(spark, dir,
        $"ts" === lit(java.sql.Timestamp.valueOf("2024-03-02 09:00:00")))
        .nonEmpty, "millis-unit bounds must keep the matching file")
      // bounds are real (unit-corrected), not merely absent: a range
      // beyond all data still prunes
      assert(DeltaInterop.candidateFiles(spark, dir,
        $"ts" > lit(java.sql.Timestamp.valueOf("2030-01-01 00:00:00")))
        .isEmpty, "corrected millis bounds should still prune")
      // INT96 footers carry no trustworthy unit: no ts bounds, no prune
      spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
      val dir96 = tmpDir("graft_ts_int96_").toString
      (0 until 10).map(i => (i.toLong,
        java.sql.Timestamp.valueOf("2024-03-01 09:00:00")))
        .toDF("id", "ts").coalesce(1).write.mode("overwrite").parquet(dir96)
      DeltaInterop.convertParquetToDelta(spark, dir96)
      assert(DeltaInterop.candidateFiles(spark, dir96,
        $"ts" > lit(java.sql.Timestamp.valueOf("2030-01-01 00:00:00")))
        .nonEmpty, "INT96 must stay conservative (no ts bounds)")
      assert(DeltaInterop.candidateFiles(spark, dir96,
        $"id" > 100L).isEmpty, "non-ts columns still prune")
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prior)
  }

  test("mayMatch is conservative: nulls, non-ASCII, IN, IsNull") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("seg", StringType)))
    def conj(c: org.apache.spark.sql.Column) =
      DeltaStats.conjuncts(spark, schema, c)
    val stats = """{"numRecords":10,"minValues":{"id":5,"v":"aa"},
      |"maxValues":{"id":9,"v":"bb"},"nullCount":{"id":0,"v":3}}"""
      .stripMargin.replace("\n", "")
    import spark.implicits._
    def may(c: org.apache.spark.sql.Column,
        pv: Map[String, String] = Map.empty,
        s: Option[String] = Some(stats)) =
      DeltaStats.mayMatch(conj(c), schema, Seq("seg"), pv, s)
    assert(!may($"id" === 4L) && may($"id" === 5L) && !may($"id" > 9L))
    assert(may($"id" >= 9L) && !may($"id" < 5L) && may($"id" <= 5L))
    assert(!may($"id".isin(1L, 2L, 20L)) && may($"id".isin(2L, 7L)))
    // nullCount drives IsNull/IsNotNull
    assert(!may($"id".isNull) && may($"v".isNull))
    // partition values act as point intervals; an EXPLICIT null value
    // is an all-null partition; an ABSENT key is unknown — a foreign
    // log that omits it (protocol violation) must not lose live files
    assert(may($"seg" === "A", pv = Map("seg" -> "A")))
    assert(!may($"seg" === "B", pv = Map("seg" -> "A")))
    assert(may($"seg" === "B", pv = Map.empty))
    assert(may($"seg".isNull, pv = Map.empty))
    assert(!may($"seg" === "B", pv = Map("seg" -> null)))
    assert(may($"seg".isNull, pv = Map("seg" -> null)))
    assert(!may($"seg".isNull, pv = Map("seg" -> "A")))
    // a case-mismatched writer key still binds to the partition column
    assert(!may($"seg" === "B", pv = Map("SEG" -> "A")))
    assert(may($"seg" === "A", pv = Map("SEG" -> "A")))
    // missing stats keep the file; non-ASCII string bounds keep it too
    assert(may($"id" === 4L, s = None))
    val uni = """{"numRecords":2,"minValues":{"v":"é"},
      |"maxValues":{"v":"ű"},"nullCount":{"v":0}}"""
      .stripMargin.replace("\n", "")
    assert(may($"v" === "zz", s = Some(uni)))
    // all-null column disproves any comparison
    val alln = """{"numRecords":3,"minValues":{},"maxValues":{},
      |"nullCount":{"id":3}}""".stripMargin.replace("\n", "")
    assert(!may($"id" === 1L, s = Some(alln)))
    assert(!may($"id".isNotNull, s = Some(alln)))
  }

  test("DV re-adds keep the original file's stats (still-valid bounds)") {
    import spark.implicits._
    val target = rangedExport()
    DeltaInterop.setDeltaProperties(spark, target,
      Map("delta.enableDeletionVectors" -> "true"))
    val before = DeltaInterop.deltaFileStats(spark, target)
    DeltaInterop.deleteFromDelta(spark, target, $"id" === 7L)
    val after = DeltaInterop.deltaFileStats(spark, target)
    // merge-on-read: same files, same stats, nothing rewritten
    assert(after == before, "DV delete should not drop or change stats")
    assert(DeltaInterop.readDelta(spark, target).count() == 99)
  }
}
