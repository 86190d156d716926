package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GraftTable, IcebergInterop, IcebergStats}

/** Manifest column statistics on the Iceberg write paths (spec maps
  * 109/110/125/128, single-value binary serialization) + the
  * detection-scan pruning they enable (reference surface:
  * 02_iceberg_demo.ipynb relies on engine metadata skipping for keyed
  * DML). */
class IcebergStatsSpec extends AnyFunSuite {
  import TestSpark._

  private def patch(p: java.nio.file.Path, bytes: Array[Byte]): Unit = {
    Files.write(p, bytes)
    Files.deleteIfExists(
      p.getParent.resolve("." + p.getFileName.toString + ".crc"))
  }

  /** An Iceberg export of (id, v, d) rows 0..99 range-clustered into 4
    * files with disjoint id ranges. */
  private def rangedExport(): String = {
    import spark.implicits._
    val df = (0 until 100).map(i =>
      (i.toLong, s"v$i", java.sql.Date.valueOf(f"2024-01-${i % 28 + 1}%02d")))
      .toDF("id", "v", "d")
      .repartitionByRange(4, col("id"))
      .sortWithinPartitions("id")
    val t = GraftTable.create(spark, tmp("graft_ist_src_"), df)
    val target = tmp("graft_ist_ice_")
    IcebergInterop.exportSnapshot(t, target)
    target
  }

  private def toV2(target: String): Unit = {
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    patch(mdPath, new String(Files.readAllBytes(mdPath), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 2")
      .getBytes("UTF-8"))
  }

  /** All data_file records of the CURRENT snapshot's data manifests. */
  private def dataFileRecords(target: String)
      : Seq[org.apache.avro.generic.GenericRecord] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def bytes(p: String) = {
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(hp)
      try in.readAllBytes() finally in.close()
    }
    val hint = new String(Files.readAllBytes(
      Paths.get(target, "metadata", "version-hint.text")), "UTF-8").trim
    val md = om.readTree(Files.readAllBytes(
      Paths.get(target, "metadata", s"v$hint.metadata.json")))
    val cur = md.get("current-snapshot-id").asLong()
    val sn = md.get("snapshots").elements()
    var listPath: String = null
    while (sn.hasNext) {
      val s = sn.next()
      if (s.get("snapshot-id").asLong() == cur)
        listPath = s.get("manifest-list").asText()
    }
    IcebergInterop.readAvro(bytes(listPath))
      .filter { r =>
        val f = r.getSchema.getField("content")
        f == null || r.get("content").asInstanceOf[Number].intValue() == 0
      }
      .flatMap(r => IcebergInterop.readAvro(bytes(
        r.get("manifest_path").toString)))
      .filter(_.get("status").asInstanceOf[Number].intValue() != 2)
      .map(_.get("data_file")
        .asInstanceOf[org.apache.avro.generic.GenericRecord])
  }

  private def boundMap(df: org.apache.avro.generic.GenericRecord,
      name: String): Map[Int, Array[Byte]] = df.get(name) match {
    case null => Map.empty
    case c: java.util.Collection[_] =>
      val it = c.iterator()
      val b = Map.newBuilder[Int, Array[Byte]]
      while (it.hasNext) {
        val r = it.next().asInstanceOf[org.apache.avro.generic.GenericRecord]
        val bb = r.get("value").asInstanceOf[java.nio.ByteBuffer].duplicate()
        val a = new Array[Byte](bb.remaining()); bb.get(a)
        b += r.get("key").asInstanceOf[Number].intValue() -> a
      }
      b.result()
  }

  test("single-value serialization: spec byte layout and round-trips") {
    // little-endian numerics, per the Iceberg spec's Appendix D
    assert(IcebergStats.encodeBound(IntegerType, Int.box(258), isUpper = false)
      .get.toSeq == Seq[Byte](2, 1, 0, 0))
    assert(IcebergStats.encodeBound(LongType, Long.box(1L), isUpper = false)
      .get.toSeq == Seq[Byte](1, 0, 0, 0, 0, 0, 0, 0))
    assert(IcebergStats.encodeBound(BooleanType, java.lang.Boolean.TRUE,
      isUpper = false).get.toSeq == Seq[Byte](1))
    // round-trips through decode into the normalized compare domain
    def rt(dt: DataType, v: AnyRef): Option[Any] =
      IcebergStats.encodeBound(dt, v, isUpper = false)
        .flatMap(IcebergStats.decodeBound(dt, _))
    assert(rt(DoubleType, Double.box(2.5)) == Some(BigDecimal(2.5)))
    assert(rt(FloatType, Float.box(1.5f)) == Some(BigDecimal(1.5)))
    assert(rt(DateType, Int.box(19723)) == Some(BigDecimal(19723)))
    assert(rt(StringType, "héllo") == Some("héllo"))
    assert(rt(DecimalType(10, 2), Long.box(12345L)) ==
      Some(BigDecimal("123.45")))
    // NaN floats never produce a bound
    assert(IcebergStats.encodeBound(DoubleType, Double.box(Double.NaN),
      isUpper = false).isEmpty)
    // long strings truncate: lower keeps the prefix, upper increments
    val s20 = "a" * 20
    assert(new String(IcebergStats.encodeBound(StringType, s20,
      isUpper = false).get, "UTF-8") == "a" * 16)
    assert(new String(IcebergStats.encodeBound(StringType, s20,
      isUpper = true).get, "UTF-8") == "a" * 15 + "b")
    assert(IcebergStats.truncatedUpper("퟿" * 16).isEmpty)
    // wrong-length bytes never decode (conservative read side)
    assert(IcebergStats.decodeBound(LongType, Array[Byte](1, 2)).isEmpty)
    // no usable maps → no FileStats at all
    assert(IcebergStats.toFileStats(StructType(Seq(StructField("id",
      LongType))), Map("id" -> 1), 10L, Map.empty, Map.empty,
      Map.empty).isEmpty)
  }

  test("timestamp bounds: epoch-micros round-trip drives time-range pruning") {
    import graft.sources.DeltaStats
    val us = 1700000000000000L
    assert(IcebergStats.encodeBound(TimestampType, Long.box(us),
      isUpper = false).get.length == 8)
    assert(IcebergStats.encodeBound(TimestampType, Long.box(us),
      isUpper = false).flatMap(IcebergStats.decodeBound(TimestampType, _))
      == Some(BigDecimal(us)))
    // a file whose ts range ends before the predicate's instant prunes
    val schema = StructType(Seq(StructField("ts", TimestampType)))
    def micros(s: String): Long =
      java.sql.Timestamp.valueOf(s).toInstant.toEpochMilli * 1000L
    val st = DeltaStats.FileStats(Some(10L),
      Map("ts" -> BigDecimal(micros("2024-01-01 00:00:00"))),
      Map("ts" -> BigDecimal(micros("2024-03-01 00:00:00"))),
      Map("ts" -> 0L))
    def may(c: org.apache.spark.sql.Column) =
      DeltaStats.mayMatchStats(DeltaStats.conjuncts(spark, schema, c),
        schema, Nil, Map.empty, Some(st))
    assert(!may(col("ts") > lit(java.sql.Timestamp.valueOf(
      "2024-06-01 00:00:00"))))
    assert(may(col("ts") > lit(java.sql.Timestamp.valueOf(
      "2024-02-01 00:00:00"))))
    assert(!may(col("ts") === lit(java.sql.Timestamp.valueOf(
      "2023-12-31 00:00:00"))))
  }

  test("exportSnapshot writes spec-encoded bounds any Iceberg engine reads") {
    val target = rangedExport()
    val dfs = dataFileRecords(target)
    assert(dfs.size == 4, dfs.size)
    // field ids: id=1, v=2, d=3 (depth-first export allocation)
    val ranges = dfs.map { df =>
      val lo = boundMap(df, "lower_bounds")
      val hi = boundMap(df, "upper_bounds")
      assert(lo.keySet == Set(1, 2, 3) && hi.keySet == Set(1, 2, 3), lo.keySet)
      // the id bounds are 8-byte little-endian longs
      assert(lo(1).length == 8 && hi(1).length == 8)
      (IcebergStats.decodeBound(LongType, lo(1)).get.asInstanceOf[BigDecimal],
        IcebergStats.decodeBound(LongType, hi(1)).get.asInstanceOf[BigDecimal])
    }.sortBy(_._1)
    // 4 disjoint id ranges covering 0..99
    assert(ranges.head._1 == BigDecimal(0) &&
      ranges.last._2 == BigDecimal(99), ranges)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo2, _)) => hi < lo2
      case _ => true
    }, ranges)
    // null_value_counts carries explicit zeros; value_counts the rows
    val counts = dfs.map { df =>
      val nulls = df.get("null_value_counts")
        .asInstanceOf[java.util.Collection[_]]
      val vals = df.get("value_counts").asInstanceOf[java.util.Collection[_]]
      assert(nulls.size == 3 && vals.size == 3)
    }
    assert(counts.size == 4)
  }

  test("detection scan prunes by bounds; DELETE/UPDATE/MERGE stay exact") {
    import spark.implicits._
    val target = rangedExport()
    toV2(target)
    def candidates(c: org.apache.spark.sql.Column) =
      IcebergInterop.icebergCandidateFiles(spark, target, c)
    assert(candidates(lit(true)).size == 4)
    // a point predicate hits exactly one file's range
    assert(candidates($"id" === 7L).size == 1)
    // a range predicate over ~half the keys hits a strict subset
    val half = candidates($"id" < 40L)
    assert(half.nonEmpty && half.size < 4, half)
    // string bounds prune; date bounds prune
    assert(candidates($"v" === "zzz").isEmpty)
    assert(candidates($"d" > lit(java.sql.Date.valueOf("2030-01-01"))).isEmpty)
    // un-analyzable predicates keep everything (sound fallback)
    assert(candidates($"id" % 3 === 0).size == 4)
    // end-to-end: pruned DELETE, UPDATE, MERGE produce exact results
    IcebergInterop.deleteFromIceberg(spark, target, $"id" < 10L)
    IcebergInterop.updateIceberg(spark, target, $"id" >= 90L,
      Map("v" -> lit("hi")))
    IcebergInterop.mergeIceberg(
      Seq((42L, "m42", java.sql.Date.valueOf("2024-03-01")),
        (200L, "m200", java.sql.Date.valueOf("2024-03-01")))
        .toDF("id", "v", "d"), target, Seq("id"))
    val got = IcebergInterop.readIceberg(spark, target)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    assert(got.size == 91 && !got.contains(5L) && got(95L) == "hi" &&
      got(42L) == "m42" && got(200L) == "m200" && got(50L) == "v50", got.size)
    // update/merge's rewritten data files carry fresh bounds: a key
    // beyond every range still prunes to nothing
    assert(candidates($"id" === 777L).isEmpty)
    assert(candidates($"id" === 200L).size == 1)
  }

  test("identity partition values prune alongside bounds (date + int keys)") {
    import spark.implicits._
    // hive-partitioned parquet → CONVERT: identity date partition whose
    // values live in the manifest partition struct, not the files
    val root = tmpDir("graft_ipp_").toString + "/t"
    (0 until 40).map(i => (i.toLong,
      java.sql.Date.valueOf(f"2024-01-${i % 4 + 1}%02d")))
      .toDF("id", "d")
      .repartition(col("d"))
      .write.partitionBy("d").parquet(root)
    IcebergInterop.convertParquetToIceberg(spark, root)
    def candidates(c: org.apache.spark.sql.Column) =
      IcebergInterop.icebergCandidateFiles(spark, root, c)
    val all = candidates(lit(true)).size
    assert(all >= 4, s"expected >=4 files, got $all")
    // a date partition-value predicate prunes to one day's files
    val one = candidates($"d" === lit(java.sql.Date.valueOf("2024-01-02")))
    assert(one.nonEmpty && one.size < all, (one.size, all))
    assert(candidates($"d" === lit(java.sql.Date.valueOf("2030-06-01")))
      .isEmpty)
    // bounds on the non-partition column prune WITHIN partitions too
    assert(candidates($"id" === 999L).isEmpty)
    // and the combined read stays exact
    assert(IcebergInterop.readIcebergFiltered(spark, root,
      $"d" === lit(java.sql.Date.valueOf("2024-01-02")) && $"id" < 10L)
      .select("id").as[Long].collect().toSet ==
      (0L until 10L).filter(_ % 4 == 1).toSet)
  }

  test("readIcebergFiltered plans only bound-matching files") {
    import spark.implicits._
    val target = rangedExport()
    // values exact under the filter
    val got = IcebergInterop.readIcebergFiltered(spark, target,
      $"id" >= 90L).select("id").as[Long].collect().toSet
    assert(got == (90L until 100L).toSet)
    // and the plan touches one file, not four (the hook shares the
    // same pruning)
    assert(IcebergInterop.icebergCandidateFiles(spark, target,
      $"id" >= 90L).size == 1)
    assert(IcebergInterop.readIcebergFiltered(spark, target,
      $"v" === "zzz").count() == 0)
  }

  test("TIMESTAMP_MILLIS footers convert to sound micros bounds") {
    import spark.implicits._
    val prior = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType",
        "TIMESTAMP_MILLIS")
      val dir = tmpDir("graft_ice_millis_").toString
      (0 until 20).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-03-${i / 5 + 1}%02d 09:00:00")))
        .toDF("id", "ts").coalesce(1).write.mode("overwrite").parquet(dir)
      IcebergInterop.convertParquetToIceberg(spark, dir)
      def candidates(c: org.apache.spark.sql.Column) =
        IcebergInterop.icebergCandidateFiles(spark, dir, c)
      // raw millis read as micros would land in 1970 and WRONGLY prune
      // a point predicate on the real instant
      assert(candidates($"ts" === lit(
        java.sql.Timestamp.valueOf("2024-03-02 09:00:00"))).nonEmpty,
        "millis-unit bounds must keep the matching file")
      // bounds are unit-corrected, not merely absent
      assert(candidates($"ts" > lit(
        java.sql.Timestamp.valueOf("2030-01-01 00:00:00"))).isEmpty,
        "corrected millis bounds should still prune")
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prior)
  }

  test("appendToIceberg carries bounds on v1 and v2 tables") {
    import spark.implicits._
    for (v2 <- Seq(false, true)) {
      val target = rangedExport()
      if (v2) toV2(target)
      IcebergInterop.appendToIceberg(
        Seq((500L, "x", java.sql.Date.valueOf("2024-02-01")))
          .toDF("id", "v", "d"), target)
      val appended = dataFileRecords(target).flatMap { df =>
        boundMap(df, "lower_bounds").get(1)
          .flatMap(IcebergStats.decodeBound(LongType, _))
          .filter(_ == BigDecimal(500))
      }
      assert(appended.size == 1, s"v2=$v2: ${appended.size}")
      assert(IcebergInterop.icebergCandidateFiles(spark, target,
        $"id" === 500L).size == 1)
    }
  }
}
