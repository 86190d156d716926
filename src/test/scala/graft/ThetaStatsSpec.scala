package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ThetaSketch
import graft.sources.{GraftTable, IcebergInterop, Puffin}

/** Puffin TABLE STATISTICS: `apache-datasketches-theta-v1` NDV sketch
  * blobs published as the Iceberg spec's `statistics` metadata entry —
  * the file validates against the Puffin framing and the NDVs read
  * back from the decoded sketches themselves. */
class ThetaStatsSpec extends AnyFunSuite {
  import TestSpark._

  test("theta sketch: serialization round-trips; estimates are sane") {
    // exact mode below the nominal
    val small = (0 until 100).map(i => ThetaSketch.hashLong(i.toLong))
    val sk = ThetaSketch.fromHashes(small)
    assert(sk.estimate == 100.0)
    val rt = ThetaSketch.deserialize(ThetaSketch.serialize(sk))
    assert(rt.thetaLong == sk.thetaLong &&
      rt.hashes.toSeq == sk.hashes.toSeq && rt.estimate == 100.0)
    // empty
    val empty = ThetaSketch.fromHashes(Nil)
    assert(ThetaSketch.deserialize(
      ThetaSketch.serialize(empty)).estimate == 0.0)
    // estimating mode: 100k distinct at k=4096 lands within ±5%
    val big = (0 until 100000).map(i => ThetaSketch.hashLong(i.toLong))
    val est = ThetaSketch.fromHashes(big).estimate
    assert(math.abs(est - 100000.0) / 100000.0 < 0.05, est)
    val rtBig = ThetaSketch.deserialize(
      ThetaSketch.serialize(ThetaSketch.fromHashes(big)))
    assert(rtBig.hashes.length == 4096 && rtBig.estimate == est)
    // hashes stay in the library's positive range and spread
    assert(small.forall(h => h >= 0))
    assert(small.distinct.size == 100)
    // the published format's preamble bytes: serVer 3, compact family
    val bytes = ThetaSketch.serialize(sk)
    assert(bytes(1) == 3 && bytes(2) == 3, bytes.take(8).toSeq)
  }

  test("write/read table statistics: Puffin framing + decoded NDVs") {
    import spark.implicits._
    val df = (0 until 3000)
      .map(i => (i.toLong, s"cat${i % 37}", (i % 1000) * 1.5))
      .toDF("id", "cat", "score")
    val t = GraftTable.create(spark, tmp("graft_theta_src_"), df)
    val target = tmp("graft_theta_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val ndv = IcebergInterop.writeIcebergStatistics(spark, target)
    // exact mode: these are under the nominal, so NDVs are exact
    assert(ndv("id") == 3000L, ndv)
    assert(ndv("cat") == 37L, ndv)
    assert(ndv("score") == 1000L, ndv)
    // read back THROUGH the metadata entry + Puffin footer + sketch
    val back = IcebergInterop.readIcebergStatisticsNdv(spark, target)
    assert(back == ndv, (back, ndv))
    // the file validates against the Puffin spec framing
    val conf = spark.sparkContext.hadoopConfiguration
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val hint = new String(Files.readAllBytes(java.nio.file.Paths.get(
      target, "metadata", "version-hint.text")), "UTF-8").trim
    val md = om.readTree(Files.readAllBytes(java.nio.file.Paths.get(
      target, "metadata", s"v$hint.metadata.json")))
    val entry = md.path("statistics").get(0)
    val sp = entry.path("statistics-path").asText()
    val blobs = Puffin.readFooter(conf, sp)
    assert(blobs.size == 3 &&
      blobs.forall(_._1 == "apache-datasketches-theta-v1"), blobs)
    assert(entry.path("file-size-in-bytes").asLong() ==
      new java.io.File(new java.net.URI(
        if (sp.startsWith("file:")) sp else "file://" + sp)).length())
    // blob metadata carries the ndv property per field
    val bm = entry.path("blob-metadata")
    assert(bm.size() == 3)
    // a second publish for the SAME snapshot replaces, never duplicates
    IcebergInterop.writeIcebergStatistics(spark, target,
      columns = Seq("id"))
    val md2 = om.readTree(Files.readAllBytes(java.nio.file.Paths.get(
      target, "metadata", "v" + new String(Files.readAllBytes(
        java.nio.file.Paths.get(target, "metadata", "version-hint.text")),
        "UTF-8").trim + ".metadata.json")))
    assert(md2.path("statistics").size() == 1)
    assert(IcebergInterop.readIcebergStatisticsNdv(spark, target) ==
      Map("id" -> 3000L))
    // estimating mode end to end: a high-cardinality column lands close
    val wide = (0 until 60000).map(i => (i.toLong, s"u$i")).toDF("id", "u")
    val t2 = GraftTable.create(spark, tmp("graft_theta2_src_"), wide)
    val target2 = tmp("graft_theta2_ice_")
    IcebergInterop.exportSnapshot(t2, target2)
    val ndv2 = IcebergInterop.writeIcebergStatistics(spark, target2,
      columns = Seq("u"))
    assert(math.abs(ndv2("u") - 60000.0) / 60000.0 < 0.05, ndv2)
  }

  test("ThetaSketchAgg: distributed build equals the single-node sketch") {
    import spark.implicits._
    import graft.functions.ThetaSketchAgg
    // the KMV retained set is a pure function of the distinct hash set,
    // so the aggregate (any partitioning, any merge order) must produce
    // the SAME compact sketch fromHashes builds single-node — both in
    // exact mode (below nominal) and estimating mode (50k > 4096)
    for (distincts <- Seq(1000, 50000)) {
      val df = spark.range(distincts * 3).select(
        (col("id") % distincts).as("v")).repartition(8)
      val bytes = df
        .select(ThetaSketchAgg.theta_hash(col("v")).as("h"))
        .agg(ThetaSketchAgg.theta_sketch(col("h")).as("sk"))
        .collect()(0).getAs[Array[Byte]]("sk")
      val got = ThetaSketch.deserialize(bytes)
      val want = ThetaSketch.fromHashes(
        (0 until distincts).map(i => ThetaSketch.hashLong(i.toLong)))
      assert(got.thetaLong == want.thetaLong)
      assert(got.hashes.toSeq == want.hashes.toSeq)
      if (distincts <= 4096) assert(got.estimate == distincts.toDouble)
      else assert(math.abs(got.estimate - distincts) / distincts < 0.05,
        got.estimate)
    }
  }

  test("a5 theta overlap: exact mode equals exact distinct overlaps") {
    val sf = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("a5_theta_overlap")(spark, sf).collect()
    assert(got.nonEmpty)
    // distinct users per event type at sf0.01 sit below the nominal
    // (4096), so every sketch is in exact mode and intersection
    // estimates must EQUAL the exact overlaps
    val events = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), col("user_id")).distinct().collect()
      .groupBy(_.getString(0)).map { case (t, rs) =>
        t -> rs.map(_.getLong(1)).toSet }
    got.foreach { r =>
      val (ta, tb) = (r.getString(0), r.getString(1))
      assert(r.getDouble(2) == events(ta).size.toDouble, s"$ta distinct")
      assert(r.getDouble(3) == events(tb).size.toDouble, s"$tb distinct")
      assert(r.getDouble(4) == events(ta).intersect(events(tb)).size.toDouble,
        s"$ta x $tb overlap")
    }
    // estimating-mode intersection error: two 30k-sets sharing 15k
    import graft.functions.{ThetaSketchAgg => TA}
    val a = ThetaSketch.fromHashes((0 until 30000).map(i => ThetaSketch.hashLong(i.toLong)))
    val b = ThetaSketch.fromHashes((15000 until 45000).map(i => ThetaSketch.hashLong(i.toLong)))
    val est = TA.intersect(a, b).estimate
    assert(math.abs(est - 15000.0) / 15000.0 < 0.10, est)
  }
}
