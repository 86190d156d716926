package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{DeltaInterop, GraftTable, OptimisticCommit}

class DeltaInteropSpec extends AnyFunSuite {
  import TestSpark._

  test("export snapshot round-trips through the Delta log reader") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_dx_"),
      Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "v", "x"))
    t.append(Seq((3L, "c", 3.5)).toDF("id", "v", "x"))
    t.delete(col("id") === 2L)
    val target = tmp("graft_delta_")
    val nFiles = DeltaInterop.exportSnapshot(t, target)
    assert(nFiles > 0)
    // the log is well-formed per the public protocol: one action per
    // line, protocol first, then metaData carrying the Spark schema
    val log = new String(Files.readAllBytes(
      Paths.get(target, "_delta_log", "0" * 20 + ".json")), "UTF-8")
    val lines = log.trim.split('\n')
    assert(lines(0).contains("\"protocol\""))
    assert(lines(1).contains("\"schemaString\""))
    assert(lines.count(_.contains("\"add\"")) == nFiles)
    // replaying the log returns exactly the snapshot
    val got = DeltaInterop.readDelta(spark, target)
      .as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "a", 1.5), (3L, "c", 3.5)))
  }

  test("export preserves an identity partition layout; transforms export unpartitioned") {
    import spark.implicits._
    // identity layout: the exported Delta table keeps col=value dirs,
    // declares partitionColumns, and carries per-file partitionValues
    val t = GraftTable.create(spark, tmp("graft_dxp_"),
      Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "a", 3.5), (4L, null, 4.5))
        .toDF("id", "src", "x"),
      partitionBy = Seq("src"))
    val target = tmp("graft_delta_p_")
    assert(DeltaInterop.exportSnapshot(t, target) > 0)
    val log = new String(Files.readAllBytes(
      Paths.get(target, "_delta_log", "0" * 20 + ".json")), "UTF-8")
    assert(log.contains(""""partitionColumns":["src"]"""), log)
    assert(log.contains(""""src":"a""""), log)
    assert(Files.exists(Paths.get(target, "src=a"))) // hive layout on disk
    val got = DeltaInterop.readDelta(spark, target)
      .select("id", "src", "x").as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "a", 1.5), (2L, "b", 2.5), (3L, "a", 3.5),
      (4L, null, 4.5)), got.toString)
    // derived transform layout (days(ts)) is graft-internal: exports as
    // plain unpartitioned parquet with the full rows intact
    val ts = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    val t2 = GraftTable.create(spark, tmp("graft_dxt_"),
      Seq((1L, ts), (2L, java.sql.Timestamp.valueOf("2024-03-02 11:00:00")))
        .toDF("id", "ts"),
      partitionBy = Seq("days(ts)"))
    val target2 = tmp("graft_delta_t_")
    assert(DeltaInterop.exportSnapshot(t2, target2) > 0)
    val log2 = new String(Files.readAllBytes(
      Paths.get(target2, "_delta_log", "0" * 20 + ".json")), "UTF-8")
    assert(log2.contains(""""partitionColumns":[]"""), log2)
    assert(DeltaInterop.readDelta(spark, target2).count() == 2)
  }

  test("readDelta replays adds/removes and rebuilds partition columns") {
    import spark.implicits._
    // hand-build a partitioned Delta table the way a writer following
    // the public protocol lays it out: data files WITHOUT the partition
    // column, partitionValues carried in the add actions, one remove
    // tombstoning a file from an earlier commit
    val root = tmp("graft_dread_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    def writeDataFile(sub: String, rows: Seq[(Long, Double)]): String = {
      val dir = root + "/" + sub
      rows.toDF("id", "x").coalesce(1).write.parquet(dir)
      val f = Files.list(Paths.get(dir)).iterator()
      var name: String = null
      while (f.hasNext) {
        val p = f.next()
        if (p.getFileName.toString.endsWith(".parquet"))
          name = sub + "/" + p.getFileName.toString
      }
      name
    }
    val fA = writeDataFile("seg=A", Seq((1L, 1.0), (2L, 2.0)))
    val fB = writeDataFile("seg=B", Seq((3L, 3.0)))
    val fB2 = writeDataFile("seg=B2", Seq((9L, 9.0)))
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("seg",
        org.apache.spark.sql.types.StringType))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":["seg"],"configuration":{},"createdTime":1}}""",
      s"""{"add":{"path":"${esc(fA)}","partitionValues":{"seg":"A"},"size":1,"modificationTime":1,"dataChange":true}}""",
      s"""{"add":{"path":"${esc(fB2)}","partitionValues":{"seg":"B2"},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.write(Paths.get(root, "_delta_log", "0" * 19 + "1.json"), Seq(
      s"""{"add":{"path":"${esc(fB)}","partitionValues":{"seg":"B"},"size":1,"modificationTime":2,"dataChange":true}}""",
      s"""{"remove":{"path":"${esc(fB2)}","deletionTimestamp":2,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val got = DeltaInterop.readDelta(spark, root)
      .as[(Long, Double, String)].collect().toSet
    // fB2 was tombstoned in commit 1; seg comes from partitionValues
    assert(got == Set((1L, 1.0, "A"), (2L, 2.0, "A"), (3L, 3.0, "B")))
  }

  test("readDelta handles brace-bearing partition values and encoded paths") {
    import spark.implicits._
    val root = tmp("graft_desc_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    // data file under a directory whose name needs percent-encoding in
    // the add path (space), partition value containing '}' and '"'
    val sub = "seg=a b"
    Seq((1L, 1.0)).toDF("id", "x").coalesce(1)
      .write.parquet(root + "/" + sub)
    val f = Files.list(Paths.get(root, sub)).iterator()
    var dataFile: String = null
    while (f.hasNext) {
      val p = f.next()
      if (p.getFileName.toString.endsWith(".parquet"))
        dataFile = p.getFileName.toString
    }
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("seg",
        org.apache.spark.sql.types.StringType))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    // the add path is percent-encoded per the protocol; the partition
    // value exercises '}' inside the partitionValues object body
    val encPath = "seg=a%20b/" + dataFile
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":["seg"],"configuration":{},"createdTime":1}}""",
      s"""{"add":{"path":"$encPath","partitionValues":{"seg":"a}\\"b"},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val got = DeltaInterop.readDelta(spark, root)
      .as[(Long, Double, String)].collect().toSeq
    assert(got == Seq((1L, 1.0, "a}\"b")), got.toString)
  }

  test("export round-trips timestamps, dates, decimals and nulls") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("a"), Option(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
        Option(java.sql.Date.valueOf("2024-02-03")), Option(BigDecimal("12.3456"))),
      (2L, None, None, None, None)
    ).toDF("id", "v", "ts", "d", "dec")
    val t = GraftTable.create(spark, tmp("graft_dxt_"), df)
    val target = tmp("graft_dxt_out_")
    DeltaInterop.exportSnapshot(t, target)
    val back = DeltaInterop.readDelta(spark, target)
    assert(back.schema == t.read().schema)
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      t.read().orderBy("id").collect().map(_.toSeq).toSeq)
  }

  test("readDelta fails loudly when _last_checkpoint names a missing file") {
    val root = tmp("graft_dckpt_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"),
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""".getBytes("UTF-8"))
    Files.write(Paths.get(root, "_delta_log", "_last_checkpoint"),
      """{"version":10,"size":1}""".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.readDelta(spark, root)
    }
    assert(e.getMessage.contains("checkpoint"))
  }

  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  private val cpAddType = StructType(Seq(
    StructField("path", StringType),
    StructField("partitionValues", MapType(StringType, StringType)),
    StructField("size", LongType), StructField("modificationTime", LongType),
    StructField("dataChange", BooleanType)))
  private val cpMdType = StructType(Seq(
    StructField("id", StringType), StructField("schemaString", StringType),
    StructField("partitionColumns", ArrayType(StringType)),
    StructField("configuration", MapType(StringType, StringType))))
  private val cpProtoType = StructType(Seq(
    StructField("minReaderVersion", IntegerType),
    StructField("minWriterVersion", IntegerType)))

  /** Write `rows` as the single-file v1 checkpoint parquet for
    * `version` and the matching _last_checkpoint pointer. */
  private def writeCheckpoint(root: String, version: Long,
      schema: StructType, rows: Seq[Row]): Unit = {
    val stage = tmpDir("graft_cpstage_").toString
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
      .coalesce(1).write.parquet(stage + "/cp")
    val part = Files.list(Paths.get(stage, "cp")).iterator()
    var src: java.nio.file.Path = null
    while (part.hasNext) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet")) src = p
    }
    Files.copy(src, Paths.get(root, "_delta_log",
      f"$version%020d.checkpoint.parquet"))
    Files.write(Paths.get(root, "_delta_log", "_last_checkpoint"),
      s"""{"version":$version,"size":${rows.size}}""".getBytes("UTF-8"))
  }

  test("readDelta replays a parquet checkpoint plus the JSON tail") {
    import spark.implicits._
    val root = tmp("graft_dcpr_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    def writeDataFile(sub: String, rows: Seq[(Long, Double)]): String = {
      rows.toDF("id", "x").coalesce(1).write.parquet(root + "/" + sub)
      val it = Files.list(Paths.get(root, sub)).iterator()
      var name: String = null
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".parquet"))
          name = sub + "/" + p.getFileName.toString
      }
      name
    }
    val f1 = writeDataFile("d1", Seq((1L, 1.0)))
    val f2 = writeDataFile("d2", Seq((2L, 2.0)))
    val f3 = writeDataFile("d3", Seq((3L, 3.0)))
    val schemaJson = StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType))).json
    // pre-checkpoint JSON commits reference a file that does not exist:
    // a reader that wrongly replays them instead of the checkpoint
    // crashes on the missing file
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"),
      """{"add":{"path":"bogus.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
        .getBytes("UTF-8"))
    val cpSchema = StructType(Seq(StructField("add", cpAddType),
      StructField("metaData", cpMdType), StructField("protocol", cpProtoType)))
    writeCheckpoint(root, 1L, cpSchema, Seq(
      Row(Row(f1, Map.empty[String, String], 1L, 1L, true), null, null),
      Row(Row(f2, Map.empty[String, String], 1L, 1L, true), null, null),
      Row(null, Row("m", schemaJson, Seq.empty[String],
        Map.empty[String, String]), null),
      Row(null, null, Row(1, 2))))
    // JSON tail: commit 2 adds f3 and tombstones f2
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(root, "_delta_log", "0" * 19 + "2.json"), Seq(
      s"""{"add":{"path":"${esc(f3)}","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}""",
      s"""{"remove":{"path":"${esc(f2)}","deletionTimestamp":2,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val got = DeltaInterop.readDelta(spark, root)
      .as[(Long, Double)].collect().toSet
    assert(got == Set((1L, 1.0), (3L, 3.0)))
  }

  /** Write `rows` as ONE parquet file at exactly `dest` (relative to
    * root) — for hand-building v2 checkpoints and sidecars. */
  private def writeParquetAs(root: String, dest: String,
      schema: StructType, rows: Seq[Row]): Unit = {
    val stage = tmpDir("graft_cpstage_").toString
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
      .coalesce(1).write.parquet(stage + "/cp")
    val part = Files.list(Paths.get(stage, "cp")).iterator()
    var src: java.nio.file.Path = null
    while (part.hasNext) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet")) src = p
    }
    Files.copy(src, Paths.get(root, dest))
  }

  test("checkpointDelta WRITES v2 checkpoints under checkpointPolicy=v2") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_cpv2_"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val target = tmp("graft_cpv2_t_")
    DeltaInterop.exportSnapshot(t, target)
    DeltaInterop.setDeltaProperties(spark, target,
      Map("delta.checkpointPolicy" -> "v2"))
    DeltaInterop.appendToDelta(Seq((3L, "c")).toDF("id", "v"), target)
    DeltaInterop.deleteFromDelta(spark, target, col("id") === 1L)
    val v = DeltaInterop.checkpointDelta(spark, target)
    // UUID-named top-level checkpoint + one sidecar on disk
    val logDir = Paths.get(target, "_delta_log")
    val names = Files.list(logDir).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
    val v2Name = names.find(_.matches(f"$v%020d\\.checkpoint\\.[^.]+\\.parquet"))
    assert(v2Name.isDefined, names.toSeq.sorted)
    assert(Files.list(logDir.resolve("_sidecars")).toArray.nonEmpty)
    // log cleanup treats it as the base; the v2 reader reconstructs
    // the exact state (tombstones + adds + stats) from it alone
    assert(DeltaInterop.cleanupDeltaLog(spark, target) > 0)
    assert(DeltaInterop.readDelta(spark, target)
      .as[(Long, String)].collect().toSet == Set((2L, "b"), (3L, "c")))
    assert(DeltaInterop.deltaFileStats(spark, target).nonEmpty)
    // appends continue on the v2-checkpointed log; a SECOND v2
    // checkpoint supersedes the first through the same path
    DeltaInterop.appendToDelta(Seq((4L, "d")).toDF("id", "v"), target)
    val v2 = DeltaInterop.checkpointDelta(spark, target)
    assert(v2 > v)
    DeltaInterop.cleanupDeltaLog(spark, target)
    assert(DeltaInterop.readDelta(spark, target).count() == 3)
  }

  test("readDelta replays a v2 checkpoint (UUID name + sidecar) plus JSON tail") {
    import spark.implicits._
    val root = tmp("graft_dcpv2_")
    Files.createDirectories(Paths.get(root, "_delta_log", "_sidecars"))
    def writeDataFile(sub: String, rows: Seq[(Long, Double)]): String = {
      rows.toDF("id", "x").coalesce(1).write.parquet(root + "/" + sub)
      val it = Files.list(Paths.get(root, sub)).iterator()
      var name: String = null
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".parquet"))
          name = sub + "/" + p.getFileName.toString
      }
      name
    }
    val f1 = writeDataFile("d1", Seq((1L, 1.0)))
    val f2 = writeDataFile("d2", Seq((2L, 2.0)))
    val f3 = writeDataFile("d3", Seq((3L, 3.0)))
    val schemaJson = StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType))).json
    // sidecar parquet carries the file actions (none inline in the top)
    writeParquetAs(root, "_delta_log/_sidecars/sc-001.parquet",
      StructType(Seq(StructField("add", cpAddType))), Seq(
        Row(Row(f1, Map.empty[String, String], 1L, 1L, true)),
        Row(Row(f2, Map.empty[String, String], 1L, 1L, true))))
    // top-level UUID-named checkpoint: checkpointMetadata + protocol
    // (v2Checkpoint reader feature) + metaData + sidecar pointer
    val protoType = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))
    val sidecarType = StructType(Seq(
      StructField("path", StringType),
      StructField("sizeInBytes", LongType),
      StructField("modificationTime", LongType)))
    val topSchema = StructType(Seq(
      StructField("checkpointMetadata",
        StructType(Seq(StructField("version", LongType)))),
      StructField("protocol", protoType),
      StructField("metaData", cpMdType),
      StructField("sidecar", sidecarType)))
    val cpName =
      "0" * 19 + "1.checkpoint.80a083e8-7026-4e79-81be-64bd76c43a11.parquet"
    writeParquetAs(root, s"_delta_log/$cpName", topSchema, Seq(
      Row(Row(1L), null, null, null),
      Row(null, Row(3, 7, Seq("v2Checkpoint"), Seq("v2Checkpoint")), null, null),
      Row(null, null, Row("m", schemaJson, Seq.empty[String],
        Map.empty[String, String]), null),
      Row(null, null, null, Row("sc-001.parquet", 10L, 1L))))
    Files.write(Paths.get(root, "_delta_log", "_last_checkpoint"),
      """{"version":1,"size":4}""".getBytes("UTF-8"))
    // commits 0 and 1 were CLEANED UP per Delta log retention — the v2
    // checkpoint is the only base state; JSON tail adds f3 at 2
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(root, "_delta_log", "0" * 19 + "2.json"),
      (s"""{"add":{"path":"${esc(f3)}","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}""" + "\n")
        .getBytes("UTF-8"))
    val got = DeltaInterop.readDelta(spark, root)
      .as[(Long, Double)].collect().toSet
    assert(got == Set((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    // time travel to the checkpoint version itself
    val at1 = DeltaInterop.readDelta(spark, root, versionAsOf = Some(1L))
      .as[(Long, Double)].collect().toSet
    assert(at1 == Set((1L, 1.0), (2L, 2.0)))
    // a missing sidecar must refuse (partial base state), not misread
    Files.delete(Paths.get(root, "_delta_log", "_sidecars", "sc-001.parquet"))
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.readDelta(spark, root)
    }
    assert(e.getMessage.contains("sidecar"), e.getMessage)
  }

  test("v2 checkpoint with mismatched checkpointMetadata version refuses") {
    val root = tmp("graft_dcpv2bad_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val topSchema = StructType(Seq(
      StructField("checkpointMetadata",
        StructType(Seq(StructField("version", LongType)))),
      StructField("protocol", cpProtoType)))
    val cpName =
      "0" * 19 + "1.checkpoint.5bd06bc1-05e8-4c24-92b5-4866e1b7da99.parquet"
    writeParquetAs(root, s"_delta_log/$cpName", topSchema, Seq(
      Row(Row(7L), null), Row(null, Row(1, 2))))
    Files.write(Paths.get(root, "_delta_log", "_last_checkpoint"),
      """{"version":1,"size":2}""".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.readDelta(spark, root)
    }
    assert(e.getMessage.contains("corrupt checkpoint"), e.getMessage)
  }

  test("cleanupMirrorLog deletes checkpoint-covered JSON; reads + resume stay green") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_dclean_"),
      Seq((0L, "v0")).toDF("id", "v"))
    (1 to 11).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    assert(DeltaInterop.mirrorToDelta(t) == 12) // checkpoint lands at v10
    val logDir = Paths.get(t.root, "_delta_log")
    def jsons() = Files.list(logDir).toArray.map(_.toString)
      .filter(_.endsWith(".json")).toSeq
    assert(jsons().size == 12)
    val deleted = DeltaInterop.cleanupMirrorLog(t, keepVersions = 3)
    // v0..v8 are covered by the v10 checkpoint and outside the 3-deep
    // tail; v9..v11 stay (v9/v10 within keepVersions of top=11)
    assert(deleted == 9, deleted.toString)
    assert(jsons().size == 3)
    // current read replays checkpoint + tail exactly
    val cur = DeltaInterop.readDelta(spark, t.root)
      .as[(Long, String)].collect().toSet
    assert(cur == (0 to 11).map(i => (i.toLong, s"v$i")).toSet)
    // travel into the retained tail works; the cleaned prefix refuses
    val v10 = DeltaInterop.readDelta(spark, t.root, versionAsOf = Some(10L))
      .as[(Long, String)].collect().toSet
    assert(v10 == (0 to 10).map(i => (i.toLong, s"v$i")).toSet)
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.readDelta(spark, t.root, versionAsOf = Some(5L))
    }
    assert(e.getMessage.contains("full Delta client"), e.getMessage)
    // mirror resume bootstraps from the checkpoint across the cleanup
    t.append(Seq((12L, "v12")).toDF("id", "v"))
    assert(DeltaInterop.mirrorToDelta(t) == 1)
    val cur2 = DeltaInterop.readDelta(spark, t.root)
      .as[(Long, String)].collect().toSet
    assert(cur2 == (0 to 12).map(i => (i.toLong, s"v$i")).toSet)
    // the tail window slid: v9 is now outside keepVersions of top=12
    // and still checkpoint-covered; repeated cleanup is then a no-op
    assert(DeltaInterop.cleanupMirrorLog(t, keepVersions = 3) == 1)
    assert(DeltaInterop.cleanupMirrorLog(t, keepVersions = 3) == 0)
  }

  test("mirror writes MULTI-PART checkpoints past the part-size threshold") {
    import spark.implicits._
    spark.conf.set("spark.graft.delta.checkpointPartSize", "2")
    try {
      val t = GraftTable.create(spark, tmp("graft_dmp_"),
        Seq((0L, "v0")).toDF("id", "v"))
      (1 to 10).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
      assert(DeltaInterop.mirrorToDelta(t) == 11) // checkpoint at v10
      val logDir = Paths.get(t.root, "_delta_log")
      val names = Files.list(logDir).toArray.map(_.toString.split('/').last)
      val parts = names.filter(_.matches("\\d{20}\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet"))
      assert(parts.nonEmpty, names.mkString(", "))
      assert(!names.exists(_.matches("\\d{20}\\.checkpoint\\.parquet")))
      val declared = parts.head.split('.')(3).toInt
      assert(parts.length == declared, s"${parts.length} vs declared $declared")
      val lc = new String(Files.readAllBytes(logDir.resolve("_last_checkpoint")))
      assert(lc.contains(s""""parts":$declared"""), lc)
      // byte-identical state through the reader: checkpoint + no tail
      val got = DeltaInterop.readDelta(spark, t.root)
        .as[(Long, String)].collect().toSet
      assert(got == (0 to 10).map(i => (i.toLong, s"v$i")).toSet)
      // cleanup covered JSON, then mirror RESUME bootstraps from the
      // multi-part checkpoint (no JSON prefix left to replay)
      assert(DeltaInterop.cleanupMirrorLog(t, keepVersions = 1) > 0)
      t.append(Seq((11L, "v11")).toDF("id", "v"))
      assert(DeltaInterop.mirrorToDelta(t) == 1)
      val got2 = DeltaInterop.readDelta(spark, t.root)
        .as[(Long, String)].collect().toSet
      assert(got2 == (0 to 11).map(i => (i.toLong, s"v$i")).toSet)
    } finally spark.conf.unset("spark.graft.delta.checkpointPartSize")
  }

  test("readDelta refuses unsupported reader protocols and features") {
    // a future reader version beyond the supported 1-3 range refuses
    // (version 2 = column mapping reads since r9)
    val root2 = tmp("graft_dproto2_")
    Files.createDirectories(Paths.get(root2, "_delta_log"))
    Files.write(Paths.get(root2, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":4,"minWriterVersion":9}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException] {
      DeltaInterop.readDelta(spark, root2)
    }
    assert(e2.getMessage.contains("full Delta client"), e2.getMessage)
    // reader version 3 with a feature beyond the supported set
    // (deletionVectors/columnMapping/v2Checkpoint) refuses, naming it
    val root = tmp("graft_dproto_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","timestampNtz"],"writerFeatures":["deletionVectors","timestampNtz"]}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.readDelta(spark, root)
    }
    assert(e.getMessage.contains("timestampNtz"), e.getMessage)
    assert(e.getMessage.contains("full Delta client"))
  }

  test("roaring bitmap array: serialize/deserialize round-trip across container kinds") {
    import graft.sources.DeletionVectors
    // array container (sparse), bitmap container (>4096 dense in one
    // 64k chunk), values under a second 32-bit high key
    val sparse = Seq(0L, 1L, 17L, 65535L)
    val dense = (0 until 5000).map(i => 65536L + i * 2L)
    val high = Seq((1L << 32) + 7L, (1L << 32) + 65536L + 3L)
    val all = sparse ++ dense ++ high
    val bytes = DeletionVectors.serialize(all)
    val bm = DeletionVectors.deserialize(bytes)
    assert(bm.cardinality == all.distinct.size.toLong)
    all.foreach(v => assert(bm.contains(v), s"missing $v"))
    Seq(2L, 65536L + 1L, (1L << 32) + 8L, 3L << 32).foreach(v =>
      assert(!bm.contains(v), s"phantom $v"))
    // z85 round-trip (the inline-DV and uuid-path encoding)
    val raw = Array.tabulate[Byte](32)(i => (i * 7 - 100).toByte)
    assert(DeletionVectors.z85Decode(DeletionVectors.z85Encode(raw)).toSeq
      == raw.toSeq)
    // ZeroMQ RFC 32 reference vector: "HelloWorld" decodes to these bytes
    assert(DeletionVectors.z85Decode("HelloWorld").map(b => b & 0xff).toSeq
      == Seq(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b))
  }

  test("roaring bitmap array: run-container format parses") {
    import graft.sources.DeletionVectors
    // hand-craft cookie-12347 serialization: one bitmap, one run
    // container holding [5, 9] — layout per the RoaringFormatSpec
    val bb = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(1681511377) // delta magic
    bb.putLong(1L)        // one 32-bit bitmap
    bb.putInt(0)          // its high-32 key
    bb.putInt(12347 | (0 << 16)) // run cookie, containerCount-1 = 0
    bb.put(1.toByte)      // run flag bitset: container 0 is a run
    bb.putShort(0.toShort)      // key
    bb.putShort(4.toShort)      // cardinality-1 (5 values)
    // < 4 containers -> no offset header
    bb.putShort(1.toShort)      // numRuns
    bb.putShort(5.toShort)      // run start
    bb.putShort(4.toShort)      // run length-1
    val bytes = java.util.Arrays.copyOf(bb.array(), bb.position())
    val bm = DeletionVectors.deserialize(bytes)
    assert(bm.cardinality == 5L)
    (5L to 9L).foreach(v => assert(bm.contains(v)))
    assert(!bm.contains(4L) && !bm.contains(10L))
  }

  test("readDelta filters deletion-vector'd rows (on-disk u + inline i + time travel)") {
    import spark.implicits._
    import graft.sources.DeletionVectors
    val root = tmp("graft_dv_")
    Seq.range(0L, 10L).toDF("id").coalesce(1).write.parquet(root)
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val dataFile = Files.list(Paths.get(root)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val rel = Paths.get(root).relativize(Paths.get(dataFile)).toString
    // learn which physical row indexes hold ids 2 and 5
    val idxOf = spark.read.parquet(dataFile)
      .select(col("id"), col("_metadata.row_index"))
      .as[(Long, Long)].collect().toMap
    // on-disk DV, storageType "u": z85 uuid names the .bin file
    val uuid = new java.util.UUID(0x0123456789abcdefL, 0xfedcba9876543210L)
    val ub = java.nio.ByteBuffer.allocate(16)
    ub.putLong(uuid.getMostSignificantBits); ub.putLong(uuid.getLeastSignificantBits)
    val z85uuid = DeletionVectors.z85Encode(ub.array())
    val (off, size) = DeletionVectors.writeDvFile(
      spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(root, s"deletion_vector_$uuid.bin"),
      Seq(idxOf(2L), idxOf(5L)))
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{},"createdTime":1}}""",
      s"""{"add":{"path":"${esc(rel)}","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    // commit 1: row-level DELETE of ids 2,5 = remove + re-add with DV
    Files.write(Paths.get(root, "_delta_log", "0" * 19 + "1.json"), Seq(
      s"""{"remove":{"path":"${esc(rel)}","deletionTimestamp":2,"dataChange":true}}""",
      s"""{"add":{"path":"${esc(rel)}","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"$z85uuid","offset":$off,"sizeInBytes":$size,"cardinality":2}}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val got = DeltaInterop.readDelta(spark, root).as[Long].collect().toSet
    assert(got == Set(0L, 1L, 3L, 4L, 6L, 7L, 8L, 9L), got.toString)
    // time travel to before the delete sees all rows
    val v0 = DeltaInterop.readDelta(spark, root, versionAsOf = Some(0L))
      .as[Long].collect().toSet
    assert(v0 == (0L until 10L).toSet, v0.toString)
    // commit 2: widen the DV INLINE (storageType "i") to also drop id 7
    val inline = DeletionVectors.serialize(Seq(idxOf(2L), idxOf(5L), idxOf(7L)))
    val padded = java.util.Arrays.copyOf(inline,
      (inline.length + 3) / 4 * 4) // z85 needs 4-byte groups
    val z85dv = DeletionVectors.z85Encode(padded)
    Files.write(Paths.get(root, "_delta_log", "0" * 19 + "2.json"), Seq(
      s"""{"remove":{"path":"${esc(rel)}","deletionTimestamp":3,"dataChange":true}}""",
      s"""{"add":{"path":"${esc(rel)}","partitionValues":{},"size":1,"modificationTime":3,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"$z85dv","sizeInBytes":${padded.length},"cardinality":3}}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val got2 = DeltaInterop.readDelta(spark, root).as[Long].collect().toSet
    assert(got2 == Set(0L, 1L, 3L, 4L, 6L, 8L, 9L), got2.toString)
    // a corrupted on-disk DV (flipped byte) refuses via CRC, never
    // silently resurrects deleted rows
    val dvPath = Paths.get(root, s"deletion_vector_$uuid.bin")
    val bytes = Files.readAllBytes(dvPath)
    bytes(bytes.length - 6) = (bytes(bytes.length - 6) ^ 0x40).toByte
    Files.write(dvPath, bytes)
    Files.deleteIfExists(Paths.get(root, s".deletion_vector_$uuid.bin.crc"))
    val e = intercept[Exception] {
      DeltaInterop.readDelta(spark, root, versionAsOf = Some(1L)).collect()
    }
    assert(e.getMessage.contains("CRC"), e.getMessage)
  }

  test("readDelta reads NAME-mode column-mapped tables; unknown modes refuse") {
    import spark.implicits._
    import org.apache.spark.sql.functions.struct
    // a post-2023 writer's layout: parquet columns carry PHYSICAL
    // names (nested levels too), partitionValues are keyed by the
    // partition column's physical name, the declared schema maps back
    // through delta.columnMapping.physicalName field metadata
    val root = tmp("graft_dcmap_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    def writeDataFile(sub: String, rows: Seq[(Long, Int, String)]): String = {
      rows.toDF("a", "b", "c")
        .select(col("a").as("col-1"),
          struct(col("b").as("col-3"), col("c").as("col-4")).as("col-2"))
        .coalesce(1).write.parquet(root + "/" + sub)
      val f = Files.list(Paths.get(root, sub)).iterator()
      var name: String = null
      while (f.hasNext) {
        val p = f.next()
        if (p.getFileName.toString.endsWith(".parquet"))
          name = sub + "/" + p.getFileName.toString
      }
      name
    }
    val fA = writeDataFile("pA", Seq((1L, 10, "x"), (2L, 20, "y")))
    val fB = writeDataFile("pB", Seq((3L, 30, "z")))
    def meta(phys: String, id: Int) = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id).build()
    val schemaJson = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-1", 1)),
      StructField("info", StructType(Seq(
        StructField("a", org.apache.spark.sql.types.IntegerType,
          nullable = true, meta("col-3", 3)),
        StructField("b", StringType, nullable = true, meta("col-4", 4)))),
        nullable = true, meta("col-2", 2)),
      StructField("seg", StringType, nullable = true, meta("col-5", 5)))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":["seg"],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"5"},"createdTime":1}}""",
      s"""{"add":{"path":"${esc(fA)}","partitionValues":{"col-5":"A"},"size":1,"modificationTime":1,"dataChange":true}}""",
      s"""{"add":{"path":"${esc(fB)}","partitionValues":{"col-5":"B"},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val got = DeltaInterop.readDelta(spark, root)
    assert(got.columns.toSeq == Seq("id", "info", "seg"))
    assert(got.select($"id", $"info.a", $"info.b", $"seg")
      .as[(Long, Int, String, String)].collect().toSet ==
      Set((1L, 10, "x", "A"), (2L, 20, "y", "A"), (3L, 30, "z", "B")))
    // metadata-only pruning resolves the LOGICAL column name
    val pruned = DeltaInterop.readDeltaWhere(spark, root, "seg", "A")
    assert(pruned.select($"id").as[Long].collect().toSet == Set(1L, 2L))
    assert(pruned.inputFiles.length == 1, pruned.inputFiles.toSeq)

    // protocol 3 with the columnMapping reader FEATURE reads the same
    val log0 = Paths.get(root, "_delta_log", "0" * 20 + ".json")
    val orig = new String(Files.readAllBytes(log0), "UTF-8")
    Files.write(log0, orig.replace(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}""")
      .getBytes("UTF-8"))
    assert(DeltaInterop.readDelta(spark, root).count() == 3)

    // an unknown mapping mode refuses loudly
    Files.write(log0, orig.replace(
      """"delta.columnMapping.mode":"name"""",
      """"delta.columnMapping.mode":"weird"""").getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.readDelta(spark, root)
    }
    assert(e.getMessage.contains("column mapping mode 'weird'"), e.getMessage)
  }

  test("readDelta reads ID-mode column-mapped tables by parquet field id") {
    import spark.implicits._
    // id-mode files may name their columns ANYTHING — only the parquet
    // field ids identify them. File columns named xyz/abc with ids 1/2;
    // the log's physicalNames (col-1/col-2) match nothing in the files,
    // so a correct read can only come from id resolution.
    val root = tmp("graft_dcmid_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    def idMeta(id: Long) = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val fileSchema = StructType(Seq(
      StructField("xyz", LongType, nullable = true, idMeta(1)),
      StructField("abc", StringType, nullable = true, idMeta(2))))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    rows.add(org.apache.spark.sql.Row(7L, "seven"))
    rows.add(org.apache.spark.sql.Row(8L, "eight"))
    spark.createDataFrame(rows, fileSchema).coalesce(1)
      .write.parquet(root + "/d0")
    val part = new java.io.File(root + "/d0").listFiles
      .filter(_.getName.endsWith(".parquet")).head.getName
    def meta(phys: String, id: Int) = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id).build()
    val schemaJson = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-1", 1)),
      StructField("v", StringType, nullable = true, meta("col-2", 2)))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"},"createdTime":1}}""",
      s"""{"add":{"path":"d0/$part","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val got = DeltaInterop.readDelta(spark, root)
    assert(got.columns.toSeq == Seq("id", "v"))
    assert(got.as[(Long, String)].collect().toSet ==
      Set((7L, "seven"), (8L, "eight")))
  }

  test("readDelta versionAsOf: JSON travel, checkpoint fallback, gone-history refusal") {
    import spark.implicits._
    val root = tmp("graft_dtt_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    def writeDataFile(sub: String, rows: Seq[(Long, Double)]): String = {
      rows.toDF("id", "x").coalesce(1).write.parquet(root + "/" + sub)
      val it = Files.list(Paths.get(root, sub)).iterator()
      var name: String = null
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".parquet"))
          name = sub + "/" + p.getFileName.toString
      }
      name
    }
    val f1 = writeDataFile("d1", Seq((1L, 1.0)))
    val f2 = writeDataFile("d2", Seq((2L, 2.0)))
    val schemaJson = StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{},"createdTime":1}}""",
      s"""{"add":{"path":"${esc(f1)}","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.write(Paths.get(root, "_delta_log", "0" * 19 + "1.json"),
      s"""{"add":{"path":"${esc(f2)}","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}"""
        .getBytes("UTF-8"))
    Files.write(Paths.get(root, "_delta_log", "0" * 19 + "2.json"),
      s"""{"remove":{"path":"${esc(f1)}","deletionTimestamp":3,"dataChange":true}}"""
        .getBytes("UTF-8"))
    def ids(v: Option[Long]) = DeltaInterop.readDelta(spark, root, v)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(ids(None) == Set(2L))
    assert(ids(Some(1L)) == Set(1L, 2L))
    assert(ids(Some(0L)) == Set(1L))
    val eMissing = intercept[IllegalArgumentException] { ids(Some(9L)) }
    assert(eMissing.getMessage.contains("not found"), eMissing.getMessage)
    // a checkpoint at version 2 compacts history; JSON commits retained
    // → travel to 1 still works via full JSON replay
    val cpSchema = StructType(Seq(StructField("add", cpAddType),
      StructField("metaData", cpMdType), StructField("protocol", cpProtoType)))
    writeCheckpoint(root, 2L, cpSchema, Seq(
      Row(Row(f2, Map.empty[String, String], 1L, 1L, true), null, null),
      Row(null, Row("m", schemaJson, Seq.empty[String],
        Map.empty[String, String]), null),
      Row(null, null, Row(1, 2))))
    assert(ids(None) == Set(2L))
    assert(ids(Some(1L)) == Set(1L, 2L))
    // commit 0 vacuumed away → pre-checkpoint history is truly gone
    Files.delete(Paths.get(root, "_delta_log", "0" * 20 + ".json"))
    val eGone = intercept[IllegalArgumentException] { ids(Some(1L)) }
    assert(eGone.getMessage.contains("full Delta client"), eGone.getMessage)
  }

  test("readDelta refuses a non-contiguous log and a partial multi-part checkpoint") {
    // early commits cleaned up with no (readable) checkpoint: replaying
    // just the tail would return a silently partial snapshot
    val root = tmp("graft_dgap_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val schemaJson = StructType(Seq(StructField("id", LongType))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(root, "_delta_log", "0" * 19 + "2.json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{},"createdTime":1}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val e1 = intercept[IllegalArgumentException] {
      DeltaInterop.readDelta(spark, root)
    }
    assert(e1.getMessage.contains("not contiguous"), e1.getMessage)

    // a multi-part checkpoint with a missing part would silently drop
    // the adds listed only there — the declared `parts` count catches it
    val root2 = tmp("graft_dpart_")
    Files.createDirectories(Paths.get(root2, "_delta_log"))
    val cpSchema = StructType(Seq(StructField("add", cpAddType),
      StructField("metaData", cpMdType), StructField("protocol", cpProtoType)))
    writeCheckpoint(root2, 1L, cpSchema, Seq(
      Row(null, Row("m", schemaJson, Seq.empty[String],
        Map.empty[String, String]), null),
      Row(null, null, Row(1, 2))))
    Files.write(Paths.get(root2, "_delta_log", "_last_checkpoint"),
      """{"version":1,"size":2,"parts":3}""".getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException] {
      DeltaInterop.readDelta(spark, root2)
    }
    assert(e2.getMessage.contains("parts"), e2.getMessage)
  }

  test("mirrorToDelta: zero-copy dual-format publication, incremental sync") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_mir_"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((3L, "c")).toDF("id", "v"))
    t.delete(col("id") === 1L) // copy-on-write rewrite: removes + adds
    assert(DeltaInterop.mirrorToDelta(t) == 3) // graft versions 0..2
    def viaDelta(v: Option[Long] = None) =
      DeltaInterop.readDelta(spark, t.root, v)
        .as[(Long, String)].collect().toSet
    assert(viaDelta() == Set((2L, "b"), (3L, "c")))
    // zero-copy: every add action references a graft data dir in place
    val log0 = new String(Files.readAllBytes(
      Paths.get(t.root, "_delta_log", "0" * 20 + ".json")), "UTF-8")
    assert(log0.contains("\"add\":{\"path\":\"d0000-"), log0)
    assert(log0.contains("\"commitInfo\""))
    // idempotent + incremental
    assert(DeltaInterop.mirrorToDelta(t) == 0)
    t.append(Seq((4L, "d")).toDF("id", "v"))
    assert(DeltaInterop.mirrorToDelta(t) == 1)
    assert(viaDelta() == Set((2L, "b"), (3L, "c"), (4L, "d")))
    // the mirror log carries graft's full history: Delta time travel
    assert(viaDelta(Some(1L)) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(viaDelta(Some(0L)) == Set((1L, "a"), (2L, "b")))
  }

  test("mirrorToDelta: identity-partitioned hive layout round-trips") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_mirp_"),
      Seq((1L, Option("a b")), (2L, Option("x:y")), (3L, None))
        .toDF("id", "seg"),
      partitionBy = Seq("seg"))
    assert(DeltaInterop.mirrorToDelta(t) == 1)
    val got = DeltaInterop.readDelta(spark, t.root)
      .select("id", "seg").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(got == Set((1L, Some("a b")), (2L, Some("x:y")), (3L, None)), got)
    // partition values live in the log; files lack the column
    val log0 = new String(Files.readAllBytes(
      Paths.get(t.root, "_delta_log", "0" * 20 + ".json")), "UTF-8")
    assert(log0.contains("\"partitionColumns\":[\"seg\"]"), log0)
    assert(log0.contains("\"partitionValues\":{\"seg\":\"a b\"}"), log0)
  }

  test("mirrorToDelta: transform-partitioned days(ts) mirrors as unpartitioned") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_mirt_"),
      Seq(
        (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
        (2L, java.sql.Timestamp.valueOf("2024-01-02 11:00:00")))
        .toDF("id", "ts"),
      partitionBy = Seq("days(ts)"))
    assert(DeltaInterop.mirrorToDelta(t) == 1)
    val got = DeltaInterop.readDelta(spark, t.root)
      .as[(Long, java.sql.Timestamp)].collect().toSet
    assert(got == Set(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 11:00:00"))), got)
    val log0 = new String(Files.readAllBytes(
      Paths.get(t.root, "_delta_log", "0" * 20 + ".json")), "UTF-8")
    assert(log0.contains("\"partitionColumns\":[]"), log0)
  }

  test("mirror fuzz: random op sequences keep both mirrors exact") {
    import spark.implicits._
    // Deterministic pseudo-random sequences of table operations with a
    // mirror sync at random points — the corner interleavings
    // (overwrite after delete, compact, restore, vacuum of mirrored
    // history) are where dual-format bookkeeping breaks, not the happy
    // path. Both mirrors and both readers must stay value-exact with
    // the graft read after EVERY sync.
    (0 until 3).foreach { trial =>
      val rnd = new scala.util.Random(42 + trial)
      def batch(): org.apache.spark.sql.DataFrame = {
        val n = 1 + rnd.nextInt(4)
        (0 until n).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(100).toDouble))
          .toDF("id", "x")
      }
      val t = GraftTable.create(spark, tmp(s"graft_fuzz${trial}_"), batch())
      var restorable = 0 // highest version safe to restore to
      def sync(): Unit = {
        DeltaInterop.mirrorToDelta(t)
        graft.sources.IcebergInterop.mirrorToIceberg(t)
        val want = t.read().as[(Long, Double)].collect().sorted.toSeq
        val viaDelta = DeltaInterop.readDelta(spark, t.root)
          .as[(Long, Double)].collect().sorted.toSeq
        val viaIce = graft.sources.IcebergInterop.readIceberg(spark, t.root)
          .as[(Long, Double)].collect().sorted.toSeq
        assert(viaDelta == want, s"trial $trial delta v${t.latestVersion()}")
        assert(viaIce == want, s"trial $trial iceberg v${t.latestVersion()}")
      }
      (0 until 10).foreach { _ =>
        rnd.nextInt(6) match {
          case 0 | 1 => t.append(batch())
          case 2 => t.delete(col("id") < rnd.nextInt(25))
          case 3 => t.overwrite(batch())
          case 4 => t.compact(1)
          case 5 =>
            val v = restorable + rnd.nextInt(t.latestVersion() - restorable + 1)
            t.restore(v)
        }
        if (rnd.nextBoolean()) sync()
      }
      sync()
      // vacuum everything non-live, append once more, sync again: the
      // mirrors must tombstone vacuumed history from their own logs
      restorable = t.latestVersion()
      t.vacuum(t.latestVersion())
      t.append(batch())
      sync()
    }
  }

  test("mirror fuzz: identity-partitioned op sequences keep both mirrors exact") {
    import spark.implicits._
    // same shape as the unpartitioned fuzz, but on an identity hive
    // layout (nullable string key): both mirrors must carry the
    // partition column through partitionValues / the Iceberg partition
    // struct across appends, deletes, overwrites and compactions
    val rnd = new scala.util.Random(1234)
    val segs = Seq("us", "eu", "ap", null)
    def batch(): org.apache.spark.sql.DataFrame = {
      val n = 1 + rnd.nextInt(4)
      (0 until n).map(_ => (rnd.nextInt(50).toLong,
        segs(rnd.nextInt(segs.size)), rnd.nextInt(100).toDouble))
        .toDF("id", "seg", "x")
    }
    val t = GraftTable.create(spark, tmp("graft_fuzzp_"), batch(),
      partitionBy = Seq("seg"))
    def sync(): Unit = {
      DeltaInterop.mirrorToDelta(t)
      graft.sources.IcebergInterop.mirrorToIceberg(t)
      val want = t.read().select("id", "seg", "x")
        .as[(Long, String, Double)].collect()
        .sortBy(r => (r._1, Option(r._2).getOrElse(""), r._3)).toSeq
      val viaDelta = DeltaInterop.readDelta(spark, t.root)
        .select("id", "seg", "x").as[(Long, String, Double)].collect()
        .sortBy(r => (r._1, Option(r._2).getOrElse(""), r._3)).toSeq
      val viaIce = graft.sources.IcebergInterop.readIceberg(spark, t.root)
        .select("id", "seg", "x").as[(Long, String, Double)].collect()
        .sortBy(r => (r._1, Option(r._2).getOrElse(""), r._3)).toSeq
      assert(viaDelta == want, s"delta v${t.latestVersion()}")
      assert(viaIce == want, s"iceberg v${t.latestVersion()}")
    }
    (0 until 10).foreach { _ =>
      rnd.nextInt(5) match {
        case 0 | 1 => t.append(batch())
        case 2 => t.delete(col("id") < rnd.nextInt(25))
        case 3 => t.overwrite(batch())
        case 4 => t.compact(1)
      }
      if (rnd.nextBoolean()) sync()
    }
    sync()
  }

  test("mirror writes v1 checkpoints; readers survive pre-checkpoint log cleanup") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_mcp_"),
      Seq((0L, "x0")).toDF("id", "v"))
    (1 to 7).foreach(i => t.append(Seq((i.toLong, s"x$i")).toDF("id", "v")))
    assert(DeltaInterop.mirrorToDelta(t, checkpointInterval = 3) == 8)
    // checkpoints landed at versions 3 and 6, _last_checkpoint names 6
    val logDir = Paths.get(t.root, "_delta_log")
    assert(Files.exists(logDir.resolve(f"${3L}%020d.checkpoint.parquet")))
    assert(Files.exists(logDir.resolve(f"${6L}%020d.checkpoint.parquet")))
    val lastCp = new String(Files.readAllBytes(
      logDir.resolve("_last_checkpoint")), "UTF-8")
    assert(lastCp.contains("\"version\":6"), lastCp)
    val want = (0 to 7).map(i => (i.toLong, s"x$i")).toSet
    assert(DeltaInterop.readDelta(spark, t.root)
      .as[(Long, String)].collect().toSet == want)
    // Delta log retention: pre-checkpoint JSON commits removed — the
    // reader replays checkpoint 6 + the JSON tail and stays exact
    (0 to 5).foreach { i =>
      Files.delete(logDir.resolve(f"$i%020d.json"))
      Files.deleteIfExists(logDir.resolve(f".$i%020d.json.crc"))
    }
    assert(DeltaInterop.readDelta(spark, t.root)
      .as[(Long, String)].collect().toSet == want)
    // time travel to an OLDER checkpointed version still works: the
    // reader falls back from _last_checkpoint (v6 > 3) to the on-disk
    // v3 single-part checkpoint
    assert(DeltaInterop.readDelta(spark, t.root, Some(3L))
      .as[(Long, String)].collect().toSet ==
      (0 to 3).map(i => (i.toLong, s"x$i")).toSet)
    // time travel to a version whose JSON is truly gone refuses loudly
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.readDelta(spark, t.root, Some(4L))
    }
    assert(e.getMessage.contains("not found"), e.getMessage)
    // a torn _last_checkpoint must not fail the read: the reader
    // discovers the newest complete single-part checkpoint instead
    val lastCpPath = logDir.resolve("_last_checkpoint")
    val goodLastCp = Files.readAllBytes(lastCpPath)
    Files.write(lastCpPath, "{\"ver".getBytes("UTF-8"))
    Files.deleteIfExists(logDir.resolve("._last_checkpoint.crc"))
    assert(DeltaInterop.readDelta(spark, t.root)
      .as[(Long, String)].collect().toSet == want)
    Files.write(lastCpPath, goodLastCp)
    Files.deleteIfExists(logDir.resolve("._last_checkpoint.crc"))
    // resuming the mirror after cleanup bootstraps from its own
    // checkpoint + JSON tail instead of wedging
    t.append(Seq((8L, "x8")).toDF("id", "v"))
    assert(DeltaInterop.mirrorToDelta(t, checkpointInterval = 3) == 1)
    assert(DeltaInterop.readDelta(spark, t.root)
      .as[(Long, String)].collect().toSet == want + ((8L, "x8")))
  }

  test("readDeltaWhere prunes one partition by log metadata only") {
    import spark.implicits._
    import org.apache.spark.sql.functions.input_file_name
    val t = GraftTable.create(spark, tmp("graft_drw_"),
      Seq((1L, "eu", 1.5), (2L, "us", 2.5), (3L, "eu", 3.5),
          (4L, null, 4.5)).toDF("id", "seg", "x"),
      partitionBy = Seq("seg"))
    t.append(Seq((5L, "us", 5.5)).toDF("id", "seg", "x"))
    DeltaInterop.mirrorToDelta(t)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").as[Long].collect().toSet
    assert(ids(DeltaInterop.readDeltaWhere(spark, t.root, "seg", "eu"))
      == Set(1L, 3L))
    assert(ids(DeltaInterop.readDeltaWhere(spark, t.root, "seg", "us"))
      == Set(2L, 5L))
    assert(ids(DeltaInterop.readDeltaWhere(spark, t.root, "seg", null))
      == Set(4L))
    // metadata-only: fewer files reach the scan than the full read
    val allFiles = DeltaInterop.readDelta(spark, t.root)
      .select(input_file_name()).distinct().count()
    val euFiles = DeltaInterop.readDeltaWhere(spark, t.root, "seg", "eu")
      .select(input_file_name()).distinct().count()
    assert(euFiles < allFiles, s"$euFiles vs $allFiles")
    // non-partition columns fail loudly
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.readDeltaWhere(spark, t.root, "x", "1.5")
    }
    assert(e.getMessage.contains("not a partition column"), e.getMessage)
    // no-match value returns an empty frame with the declared schema
    assert(DeltaInterop.readDeltaWhere(spark, t.root, "seg", "ap").count() == 0)
  }

  test("mirror fuzz: days(ts)-transform op sequences keep both mirrors exact") {
    import spark.implicits._
    // transform-layout twin of the identity fuzz: the Delta mirror
    // keeps these unpartitioned (format-honest — Delta partition
    // columns must be physical), the Iceberg mirror declares a REAL
    // day transform with epoch-day partition values; both must stay
    // value-exact across appends, deletes, overwrites, compactions,
    // null timestamps and multi-day batches
    val rnd = new scala.util.Random(5678)
    val days = Seq("2024-01-01", "2024-01-02", "2024-02-29", null)
    def batch(): org.apache.spark.sql.DataFrame = {
      val n = 1 + rnd.nextInt(4)
      (0 until n).map { _ =>
        val d = days(rnd.nextInt(days.size))
        (rnd.nextInt(50).toLong,
          if (d == null) null
          else java.sql.Timestamp.valueOf(s"$d 0${rnd.nextInt(10)}:00:00"),
          rnd.nextInt(100).toDouble)
      }.toDF("id", "ts", "x")
    }
    val t = GraftTable.create(spark, tmp("graft_fuzzt_"), batch(),
      partitionBy = Seq("days(ts)"))
    def key(r: (Long, java.sql.Timestamp, Double)) =
      (r._1, Option(r._2).map(_.getTime).getOrElse(Long.MinValue), r._3)
    def sync(): Unit = {
      DeltaInterop.mirrorToDelta(t)
      graft.sources.IcebergInterop.mirrorToIceberg(t)
      val want = t.read().select("id", "ts", "x")
        .as[(Long, java.sql.Timestamp, Double)].collect().sortBy(key).toSeq
      val viaDelta = DeltaInterop.readDelta(spark, t.root)
        .select("id", "ts", "x").as[(Long, java.sql.Timestamp, Double)]
        .collect().sortBy(key).toSeq
      val viaIce = graft.sources.IcebergInterop.readIceberg(spark, t.root)
        .select("id", "ts", "x").as[(Long, java.sql.Timestamp, Double)]
        .collect().sortBy(key).toSeq
      assert(viaDelta == want, s"delta v${t.latestVersion()}")
      assert(viaIce == want, s"iceberg v${t.latestVersion()}")
    }
    (0 until 10).foreach { _ =>
      rnd.nextInt(5) match {
        case 0 | 1 => t.append(batch())
        case 2 => t.delete(col("id") < rnd.nextInt(25))
        case 3 => t.overwrite(batch())
        case 4 => t.compact(1)
      }
      if (rnd.nextBoolean()) sync()
    }
    sync()
    // the final metadata really declares the day transform
    val md = new String(Files.readAllBytes(Paths.get(t.root, "metadata",
      s"v${t.latestVersion() + 1}.metadata.json")), "UTF-8")
    assert(md.contains("\"transform\" : \"day\"") ||
      md.contains("\"transform\":\"day\""), md.take(600))
  }

  test("overwriteRepartition publishes REAL Iceberg spec evolution; Delta follows") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val t = GraftTable.create(spark, tmp("graft_evo_"),
      Seq((1L, "eu", ts("2024-01-01 10:00:00"), 1.0),
          (2L, "us", ts("2024-01-02 11:00:00"), 2.0))
        .toDF("id", "seg", "ts", "x"),
      partitionBy = Seq("days(ts)"))
    DeltaInterop.mirrorToDelta(t)
    graft.sources.IcebergInterop.mirrorToIceberg(t)
    // evolve days(ts) -> identity(seg), then append under the new layout
    t.overwriteRepartition(
      Seq((3L, "eu", ts("2024-02-01 09:00:00"), 3.0),
          (4L, "ap", ts("2024-02-02 08:00:00"), 4.0))
        .toDF("id", "seg", "ts", "x"), Seq("seg"))
    t.append(Seq((5L, "us", ts("2024-02-03 07:00:00"), 5.0))
      .toDF("id", "seg", "ts", "x"))
    DeltaInterop.mirrorToDelta(t)
    graft.sources.IcebergInterop.mirrorToIceberg(t)
    val want = Set((3L, "eu"), (4L, "ap"), (5L, "us"))
    assert(DeltaInterop.readDelta(spark, t.root)
      .select("id", "seg").as[(Long, String)].collect().toSet == want)
    assert(graft.sources.IcebergInterop.readIceberg(spark, t.root)
      .select("id", "seg").as[(Long, String)].collect().toSet == want)
    // Iceberg metadata: two specs, fresh non-colliding field ids,
    // default moved to the new one
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val md = om.readTree(Files.readAllBytes(Paths.get(t.root, "metadata",
      s"v${t.latestVersion() + 1}.metadata.json")))
    val specs = md.get("partition-specs")
    assert(specs.size() == 2, specs.toString)
    val spec0 = specs.get(0); val spec1 = specs.get(1)
    assert(spec0.get("fields").get(0).get("transform").asText() == "day")
    assert(spec1.get("fields").get(0).get("transform").asText() == "identity")
    val id0 = spec0.get("fields").get(0).get("field-id").asInt()
    val id1 = spec1.get("fields").get(0).get("field-id").asInt()
    assert(id0 != id1, s"field ids must never be reused: $id0 vs $id1")
    assert(md.get("default-spec-id").asInt() == 1)
    assert(md.get("last-partition-id").asInt() == math.max(id0, id1))
    // time travel BEFORE the evolution resolves the old spec's
    // manifests (per-manifest spec resolution)
    val old = graft.sources.IcebergInterop.readIceberg(spark, t.root, Some(1L))
      .select("id").as[Long].collect().toSet
    assert(old == Set(1L, 2L))
    // Delta metaData moved partitionColumns [] -> [seg]
    val lastLog = Files.readAllLines(Paths.get(t.root, "_delta_log",
      f"${1L}%020d.json")).toArray.mkString("\n")
    assert(lastLog.contains("\"partitionColumns\":[\"seg\"]"), lastLog.take(400))
    // restore back to the days layout: the spec is REUSED, not re-added
    t.restore(0)
    graft.sources.IcebergInterop.mirrorToIceberg(t)
    DeltaInterop.mirrorToDelta(t)
    val md2 = om.readTree(Files.readAllBytes(Paths.get(t.root, "metadata",
      s"v${t.latestVersion() + 1}.metadata.json")))
    assert(md2.get("partition-specs").size() == 2, md2.get("partition-specs").toString)
    assert(md2.get("default-spec-id").asInt() == 0)
    assert(graft.sources.IcebergInterop.readIceberg(spark, t.root)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    assert(DeltaInterop.readDelta(spark, t.root)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("mirror fuzz: interleaved LAYOUT CHANGES keep both mirrors exact") {
    import spark.implicits._
    // the spec-evolution fuzz the fixed-layout fuzzes can't cover:
    // random op sequences that also change the partition layout
    // mid-history (days transform -> identity -> unpartitioned and
    // back) and restore across layout boundaries, with mirror syncs
    // (and therefore mirror RESUMES) at random points
    val layouts = Seq(Seq("days(ts)"), Seq("seg"), Nil)
    (0 until 2).foreach { trial =>
      val rnd = new scala.util.Random(9100 + trial)
      val days = Seq("2024-01-01", "2024-03-05", null)
      val segs = Seq("us", "eu", null)
      def batch(): org.apache.spark.sql.DataFrame = {
        val n = 1 + rnd.nextInt(4)
        (0 until n).map { _ =>
          val d = days(rnd.nextInt(days.size))
          (rnd.nextInt(50).toLong, segs(rnd.nextInt(segs.size)),
            if (d == null) null
            else java.sql.Timestamp.valueOf(s"$d 0${rnd.nextInt(10)}:00:00"),
            rnd.nextInt(100).toDouble)
        }.toDF("id", "seg", "ts", "x")
      }
      val t = GraftTable.create(spark, tmp(s"graft_fuzzl${trial}_"), batch(),
        partitionBy = layouts(rnd.nextInt(layouts.size)))
      def key(r: (Long, String, java.sql.Timestamp, Double)) =
        (r._1, Option(r._2).getOrElse(""),
          Option(r._3).map(_.getTime).getOrElse(Long.MinValue), r._4)
      def sync(): Unit = {
        DeltaInterop.mirrorToDelta(t)
        graft.sources.IcebergInterop.mirrorToIceberg(t)
        val want = t.read().select("id", "seg", "ts", "x")
          .as[(Long, String, java.sql.Timestamp, Double)].collect()
          .sortBy(key).toSeq
        val viaDelta = DeltaInterop.readDelta(spark, t.root)
          .select("id", "seg", "ts", "x")
          .as[(Long, String, java.sql.Timestamp, Double)].collect()
          .sortBy(key).toSeq
        val viaIce = graft.sources.IcebergInterop.readIceberg(spark, t.root)
          .select("id", "seg", "ts", "x")
          .as[(Long, String, java.sql.Timestamp, Double)].collect()
          .sortBy(key).toSeq
        assert(viaDelta == want, s"trial $trial delta v${t.latestVersion()}")
        assert(viaIce == want, s"trial $trial iceberg v${t.latestVersion()}")
      }
      (0 until 12).foreach { _ =>
        rnd.nextInt(7) match {
          case 0 | 1 => t.append(batch())
          case 2 => t.delete(col("id") < rnd.nextInt(25))
          case 3 => t.overwrite(batch())
          case 4 => t.compact(1)
          case 5 => t.overwriteRepartition(batch(),
            layouts(rnd.nextInt(layouts.size)))
          case 6 => t.restore(rnd.nextInt(t.latestVersion() + 1))
        }
        if (rnd.nextBoolean()) sync()
      }
      sync()
    }
  }

  test("adversarial partition values round-trip through BOTH mirrors exactly") {
    import spark.implicits._
    // hive-escaped characters ('%', '=', ':', spaces), dots, leading
    // underscores and a null — the key set must survive hive-dir
    // escaping -> mirror metadata -> both foreign readers, byte-exact
    // (the codec is shared, but only an end-to-end check proves the
    // WHOLE chain: Spark's escaping, our unescape, JSON escaping, Avro
    // encoding, reader reconstruction). Non-ASCII keys are excluded
    // only because this container's JVM runs sun.jnu.encoding=ASCII and
    // cannot create such local paths at all — not a codec limit.
    val keys = Seq("plain", "has space", "pct%25", "eq=sign", "a:b",
      "dot.seg", "_lead", null)
    val rows = keys.zipWithIndex.map { case (k, i) => (i.toLong, k, i * 1.5) }
    val t = GraftTable.create(spark, tmp("graft_advpv_"),
      rows.toDF("id", "seg", "x"), partitionBy = Seq("seg"))
    DeltaInterop.mirrorToDelta(t)
    graft.sources.IcebergInterop.mirrorToIceberg(t)
    val want = rows.toSet
    def got(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "seg", "x").as[(Long, String, Double)].collect().toSet
    assert(got(DeltaInterop.readDelta(spark, t.root)) == want)
    assert(got(graft.sources.IcebergInterop.readIceberg(spark, t.root)) == want)
    // and the per-partition pruned reads hit exactly their slice
    keys.filter(_ != null).foreach { k =>
      val d = DeltaInterop.readDeltaWhere(spark, t.root, "seg", k)
        .select("seg").as[String].collect().toSeq
      assert(d == Seq(k), s"delta prune '$k' -> $d")
      val i = graft.sources.IcebergInterop
        .readIcebergWhere(spark, t.root, "seg", k)
        .select("seg").as[String].collect().toSeq
      assert(i == Seq(k), s"iceberg prune '$k' -> $i")
    }
  }

  test("mirrors handle history vacuumed before it was ever mirrored") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_mirv_"),
      Seq((1L, "a")).toDF("id", "v"))
    t.overwrite(Seq((2L, "b"), (3L, "c")).toDF("id", "v"))
    t.vacuum(t.latestVersion()) // v0's directory is deleted from disk
    assert(DeltaInterop.mirrorToDelta(t) == 2)
    assert(graft.sources.IcebergInterop.mirrorToIceberg(t) == 2)
    val want = Set((2L, "b"), (3L, "c"))
    assert(DeltaInterop.readDelta(spark, t.root)
      .as[(Long, String)].collect().toSet == want)
    assert(graft.sources.IcebergInterop.readIceberg(spark, t.root)
      .as[(Long, String)].collect().toSet == want)
    // pre-vacuum versions mirror as empty — the same information loss
    // vacuum already caused, never a crash or a partial misread
    assert(DeltaInterop.readDelta(spark, t.root, Some(0L)).count() == 0)
  }

  test("mirrorToDelta refuses column renames") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_mirr_"),
      Seq((1L, "a")).toDF("id", "v"))
    t.renameColumn("v", "label")
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.mirrorToDelta(t)
    }
    assert(e.getMessage.contains("renames columns"), e.getMessage)
  }

  test("DeltaSource streams a foreign Delta table: snapshot, appends, change refusal") {
    import spark.implicits._
    // a partitioned foreign Delta table (export = protocol-1 hive
    // layout), then hand-appended commits the way a foreign writer
    // would land them
    val t = GraftTable.create(spark, tmp("graft_dstr_src_"),
      Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("id", "seg"), Seq("seg"))
    val target = tmp("graft_dstr_")
    DeltaInterop.exportSnapshot(t, target)
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def addCommit(v: Long, seg: String, rows: Seq[Long]): Unit = {
      val sub = s"seg=$seg"
      val stage = tmp(s"graft_dstr_stage_")
      rows.toDF("id").coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles
        .filter(_.getName.endsWith(".parquet")).head.toPath
      Files.createDirectories(Paths.get(target, sub))
      val dest = s"$sub/add-$v.parquet"
      Files.copy(part, Paths.get(target, dest))
      Files.write(Paths.get(target, "_delta_log", f"$v%020d.json"), Seq(
        s"""{"add":{"path":"${esc(dest)}","partitionValues":{"seg":"$seg"},"size":1,"modificationTime":$v,"dataChange":true}}"""
      ).mkString("", "\n", "\n").getBytes("UTF-8"))
    }

    val name = "dstream_mem"
    val q = spark.readStream.format("graft.sources.v2.DeltaSource")
      .load(target)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 0 = complete snapshot, partition column recovered from dirs
      assert(spark.table(name).as[(Long, String)].collect().toSet ==
        Set((1L, "A"), (2L, "A"), (3L, "B")))
      // appends flow incrementally
      addCommit(1L, "C", Seq(10L))
      addCommit(2L, "A", Seq(11L))
      q.processAllAvailable()
      assert(spark.table(name).as[(Long, String)].collect().toSet ==
        Set((1L, "A"), (2L, "A"), (3L, "B"), (10L, "C"), (11L, "A")))
      // a COMPACTION commit (dataChange=false rewrite) is invisible to
      // the stream — the Delta source contract: no rows, no failure
      addCommit(3L, "A", Seq(99L))   // helper writes dataChange=true...
      locally {                      // ...rewrite commit 3 as dataChange=false
        val p3 = Paths.get(target, "_delta_log", f"${3L}%020d.json")
        val txt = new String(Files.readAllBytes(p3), "UTF-8")
          .replace("\"dataChange\":true", "\"dataChange\":false")
        Files.write(p3, (txt.stripLineEnd + "\n" +
          s"""{"remove":{"path":"compacted-away.parquet","deletionTimestamp":3,"dataChange":false}}""" +
          "\n").getBytes("UTF-8"))
      }
      q.processAllAvailable()
      assert(spark.table(name).count() == 5) // unchanged
      // a change commit (dataChange remove) fails the stream loudly
      Files.write(Paths.get(target, "_delta_log", f"${4L}%020d.json"), Seq(
        s"""{"remove":{"path":"x.parquet","deletionTimestamp":4,"dataChange":true}}"""
      ).mkString("", "\n", "\n").getBytes("UTF-8"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("skipChangeCommits"), e.getMessage)
    } finally q.stop()

    // skipChangeCommits: a fresh query passes the change commit and
    // keeps tailing later appends
    val name2 = "dstream_mem2"
    val q2 = spark.readStream.format("graft.sources.v2.DeltaSource")
      .option("skipChangeCommits", "true")
      .load(target)
      .writeStream.format("memory").queryName(name2).outputMode("append").start()
    try {
      q2.processAllAvailable()
      addCommit(5L, "B", Seq(20L))
      q2.processAllAvailable()
      val got = spark.table(name2).as[(Long, String)].collect().toSet
      assert(got.contains((20L, "B")), got)
      // 6 snapshot rows (incl. the compaction-added 99, part of the
      // STATE even though it never streamed) + 1 append
      assert(got.contains((99L, "A")), got)
      assert(got.size == 7, got)
    } finally q2.stop()

    // the same source string also batch-reads (= readDelta)
    assert(spark.read.format("graft.sources.v2.DeltaSource").load(target)
      .count() == 7)
  }

  test("DeltaSource streams COLUMN-MAPPED tables: name mode with hive " +
      "dirs + checkpointed restart; assignment rewrite refuses") {
    import spark.implicits._
    // NAME-mode mapped table, partitioned: physical col-1/col-2 data
    // columns, partition column seg under physical name col-5 — the
    // layout of every Delta 3.x table that ever ran RENAME COLUMN
    val root = tmp("graft_dcmstr_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    def meta(phys: String, id: Int) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id).build()
    val schemaJson = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-1", 1)),
      StructField("v", StringType, nullable = true, meta("col-2", 2)),
      StructField("seg", StringType, nullable = true, meta("col-5", 5)))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def writeDataFile(seg: String, rows: Seq[(Long, String)]): String = {
      val sub = s"col-5=$seg"
      rows.toDF("a", "b").select(col("a").as("col-1"), col("b").as("col-2"))
        .coalesce(1).write.mode("append").parquet(root + "/" + sub)
      val n = new java.io.File(root, sub).listFiles.toSeq
        .filter(_.getName.endsWith(".parquet")).maxBy(_.getName).getName
      sub + "/" + n
    }
    def addCommit(v: Long, seg: String, file: String): Unit =
      Files.write(Paths.get(root, "_delta_log", f"$v%020d.json"), Seq(
        s"""{"add":{"path":"${esc(file)}","partitionValues":{"col-5":"$seg"},"size":1,"modificationTime":$v,"dataChange":true}}"""
      ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val fA = writeDataFile("A", Seq((1L, "x"), (2L, "y")))
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":["seg"],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"5"},"createdTime":1}}""",
      s"""{"add":{"path":"${esc(fA)}","partitionValues":{"col-5":"A"},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val ckpt = tmpDir("graft_dcmstr_ck_").toString
    val out = tmpDir("graft_dcmstr_out_").toString
    def start() = spark.readStream.format("graft.sources.v2.DeltaSource")
      .load(root)
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", out)
      .outputMode("append").start()
    val q = start()
    try {
      q.processAllAvailable()
      // batch 0: logical columns out of physical files; partition
      // value recovered from the PHYSICAL hive dir
      assert(spark.read.parquet(out).as[(Long, String, String)]
        .collect().toSet == Set((1L, "x", "A"), (2L, "y", "A")))
      // appends flow incrementally under the same pinned mapping
      addCommit(1L, "B", writeDataFile("B", Seq((3L, "z"))))
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() == 3)
    } finally q.stop()
    // checkpointed restart: catch-up decodes only the new commit
    addCommit(2L, "C", writeDataFile("C", Seq((4L, "w"))))
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(out).as[(Long, String, String)]
        .collect().toSet == Set((1L, "x", "A"), (2L, "y", "A"),
          (3L, "z", "B"), (4L, "w", "C")))
      // an assignment REWRITE (REPLACE TABLE shape: same logical name,
      // different physical name) refuses non-retryably
      Files.write(Paths.get(root, "_delta_log", f"${3L}%020d.json"), Seq(
        s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson.replace("col-1", "col-9"))}","partitionColumns":["seg"],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"9"},"createdTime":3}}"""
      ).mkString("", "\n", "\n").getBytes("UTF-8"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("rewritten"), e.getMessage)
    } finally q2.stop()
  }

  test("DeltaSource streams ID-mode mapped tables by parquet field id") {
    import spark.implicits._
    // id-mode: file columns named ANYTHING (xyz/abc), identified only
    // by parquet field ids; the log's physical names match nothing
    val root = tmp("graft_dcmidstr_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    def idMeta(id: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val fileSchema = StructType(Seq(
      StructField("xyz", LongType, nullable = true, idMeta(1)),
      StructField("abc", StringType, nullable = true, idMeta(2))))
    def writeIdFile(sub: String, rows: Seq[(Long, String)]): String = {
      spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
      val rl = new java.util.ArrayList[org.apache.spark.sql.Row]()
      rows.foreach { case (a, b) =>
        rl.add(org.apache.spark.sql.Row(a, b)) }
      spark.createDataFrame(rl, fileSchema).coalesce(1)
        .write.parquet(root + "/" + sub)
      val n = new java.io.File(root, sub).listFiles.toSeq
        .filter(_.getName.endsWith(".parquet")).maxBy(_.getName).getName
      sub + "/" + n
    }
    def meta(phys: String, id: Int) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id).build()
    val schemaJson = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-1", 1)),
      StructField("v", StringType, nullable = true, meta("col-2", 2)))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val f0 = writeIdFile("p0", Seq((1L, "a"), (2L, "b")))
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"},"createdTime":1}}""",
      s"""{"add":{"path":"${esc(f0)}","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val name = "dcmid_mem"
    val q = spark.readStream.format("graft.sources.v2.DeltaSource")
      .load(root)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "b")))
      val f1 = writeIdFile("p1", Seq((3L, "c")))
      Files.write(Paths.get(root, "_delta_log", f"${1L}%020d.json"), Seq(
        s"""{"add":{"path":"${esc(f1)}","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
      ).mkString("", "\n", "\n").getBytes("UTF-8"))
      q.processAllAvailable()
      assert(spark.table(name).as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }

  test("DeltaSource schema gate: narrower catch-up passes, widening refuses") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_dsg_src_"),
      Seq((1L, "a")).toDF("id", "v"))
    val target = tmp("graft_dsg_")
    DeltaInterop.exportSnapshot(t, target)
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def addFile(dest: String, rows: Seq[Long]): Unit = {
      val stage = tmp("graft_dsg_stage_")
      rows.toDF("id").coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles
        .filter(_.getName.endsWith(".parquet")).head.toPath
      Files.createDirectories(Paths.get(target, dest).getParent)
      Files.copy(part, Paths.get(target, dest))
    }
    val ckpt = tmpDir("graft_dsg_ck_").toString
    val out = tmpDir("graft_dsg_out_").toString
    def start() = spark.readStream.format("graft.sources.v2.DeltaSource")
      .load(target)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q = start()
    try { q.processAllAvailable() } finally q.stop()

    // commit 1 re-states the SAME schema (metaData rewrite, e.g. a
    // property change) — not a schema change, must flow
    val sameSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))).json
    addFile("d1/f.parquet", Seq(2L))
    Files.write(Paths.get(target, "_delta_log", f"${1L}%020d.json"), Seq(
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(sameSchema)}","partitionColumns":[],"configuration":{},"createdTime":1}}""",
      s"""{"add":{"path":"d1/f.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    // a RESTARTED stream (fresh planning, same checkpoint) replays it
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(out).count() == 2)
    } finally q2.stop()

    // commit 2 ADDS a column the RUNNING plan lacks — refuse with the
    // restart hint (a stream restarted after the change plans the
    // wider schema and replays this same commit as narrower-or-equal)
    val q3 = start()
    try {
      q3.processAllAvailable()
      val widened = StructType(Seq(
        StructField("id", LongType), StructField("v", StringType),
        StructField("extra", LongType))).json
      addFile("d2/f.parquet", Seq(3L))
      Files.write(Paths.get(target, "_delta_log", f"${2L}%020d.json"), Seq(
        s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(widened)}","partitionColumns":[],"configuration":{},"createdTime":2}}""",
        s"""{"add":{"path":"d2/f.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}"""
      ).mkString("", "\n", "\n").getBytes("UTF-8"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
      assert(e.getMessage.contains("added extra"), e.getMessage)
    } finally q3.stop()
  }

  test("readDeltaChanges: CDF rows across insert, delete, and cdc commits") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_dcdf_src_"),
      Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("id", "seg"), Seq("seg"))
    val target = tmp("graft_dcdf_")
    DeltaInterop.exportSnapshot(t, target)
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def stageFile(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
      val stage = tmp("graft_dcdf_stage_")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles
        .filter(_.getName.endsWith(".parquet")).head.toPath
      Files.createDirectories(Paths.get(target, dest).getParent)
      Files.copy(part, Paths.get(target, dest))
    }
    // commit 1: INSERT into seg=C
    stageFile(Seq(10L).toDF("id"), "seg=C/add-1.parquet")
    Files.write(Paths.get(target, "_delta_log", f"${1L}%020d.json"), Seq(
      s"""{"add":{"path":"seg=C/add-1.parquet","partitionValues":{"seg":"C"},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    // commit 2: DELETE that file (no partitionValues on the remove —
    // the replayed state supplies them)
    Files.write(Paths.get(target, "_delta_log", f"${2L}%020d.json"), Seq(
      s"""{"remove":{"path":"seg=C/add-1.parquet","deletionTimestamp":2,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    // commit 3: a CDF writer's UPDATE — cdc files are authoritative,
    // the rewrite's add/remove pair must produce no extra rows
    stageFile(Seq(("update_preimage", 2L), ("update_postimage", 20L))
      .toDF("_change_type", "id").select($"id", $"_change_type"),
      "_change_data/cdc-3.parquet")
    stageFile(Seq(20L).toDF("id"), "seg=A/add-3.parquet")
    Files.write(Paths.get(target, "_delta_log", f"${3L}%020d.json"), Seq(
      s"""{"cdc":{"path":"_change_data/cdc-3.parquet","partitionValues":{"seg":"A"},"size":1,"dataChange":false}}""",
      s"""{"add":{"path":"seg=A/add-3.parquet","partitionValues":{"seg":"A"},"size":1,"modificationTime":3,"dataChange":true}}""",
      s"""{"remove":{"path":"bogus-rewritten.parquet","deletionTimestamp":3,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))

    val got = DeltaInterop.readDeltaChanges(spark, target, 0, 3)
      .select($"id", $"seg", $"_change_type", $"_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(got == Set(
      (1L, "A", "insert", 0L), (2L, "A", "insert", 0L), (3L, "B", "insert", 0L),
      (10L, "C", "insert", 1L),
      (10L, "C", "delete", 2L),
      (2L, "A", "update_preimage", 3L), (20L, "A", "update_postimage", 3L)),
      got.toString)
    // a sub-range starts from its own replayed base state
    val sub = DeltaInterop.readDeltaChanges(spark, target, 1, 2)
      .select($"id", $"_change_type", $"_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(sub == Set((10L, "insert", 1L), (10L, "delete", 2L)), sub.toString)

    // commit 4: an update rewrite WITHOUT cdc files is ambiguous
    Files.write(Paths.get(target, "_delta_log", f"${4L}%020d.json"), Seq(
      s"""{"add":{"path":"seg=A/add-3.parquet","partitionValues":{"seg":"A"},"size":1,"modificationTime":4,"dataChange":true}}""",
      s"""{"remove":{"path":"seg=C/gone.parquet","deletionTimestamp":4,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.readDeltaChanges(spark, target, 4, 4)
    }
    assert(e.getMessage.contains("ambiguous"), e.getMessage)
    // compaction (dataChange=false) produces no rows
    Files.write(Paths.get(target, "_delta_log", f"${5L}%020d.json"), Seq(
      s"""{"add":{"path":"seg=A/add-3.parquet","partitionValues":{"seg":"A"},"size":1,"modificationTime":5,"dataChange":false}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(DeltaInterop.readDeltaChanges(spark, target, 5, 5).count() == 0)
  }

  test("readDelta reads absolute-URI add paths in place") {
    import spark.implicits._
    val root = tmp("graft_dabs_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    // external data files OUTSIDE the table root — one bare absolute
    // path, one file: URI with a percent-encoded space; re-rooting
    // either under the table root would fail to find them
    val ext = tmpDir("graft_dext_").toString
    def writeExt(sub: String, rows: Seq[(Long, Double)]): String = {
      rows.toDF("id", "x").coalesce(1).write.parquet(ext + "/" + sub)
      val it = Files.list(Paths.get(ext, sub)).iterator()
      var name: String = null
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".parquet"))
          name = ext + "/" + sub + "/" + p.getFileName.toString
      }
      name
    }
    val bare = writeExt("plain dir", Seq((1L, 1.0)))
    val withScheme = "file://" + writeExt("schemed", Seq((2L, 2.0)))
    val schemaJson = StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def enc(s: String) = s.replace(" ", "%20")
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{},"createdTime":1}}""",
      s"""{"add":{"path":"${esc(enc(bare))}","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""",
      s"""{"add":{"path":"${esc(enc(withScheme))}","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val got = DeltaInterop.readDelta(spark, root)
      .as[(Long, Double)].collect().toSet
    assert(got == Set((1L, 1.0), (2L, 2.0)))
  }

  test("appendToDelta commits dataChange adds to a foreign log") {
    import spark.implicits._
    // a graft-exported Delta table is a plain foreign Delta table
    val t = GraftTable.create(spark, tmp("graft_dapp_src_"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val target = tmp("graft_dapp_out_")
    graft.sources.DeltaInterop.exportSnapshot(t, target)
    val v1 = DeltaInterop.appendToDelta(
      Seq((3L, "c"), (4L, "d")).toDF("id", "v"), target)
    assert(v1 == 1L)
    val got = DeltaInterop.readDelta(spark, target)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // second append takes the next slot; time travel sees each state
    val v2 = DeltaInterop.appendToDelta(Seq((5L, "e")).toDF("id", "v"), target)
    assert(v2 == 2L)
    assert(DeltaInterop.readDelta(spark, target, versionAsOf = Some(1L))
      .count() == 4)
    assert(DeltaInterop.readDelta(spark, target).count() == 5)
    // schema mismatches refuse before any write
    val eCols = intercept[IllegalArgumentException] {
      DeltaInterop.appendToDelta(Seq((6L, "f", 1.0)).toDF("id", "v", "x"), target)
    }
    assert(eCols.getMessage.contains("schema mismatch"), eCols.getMessage)
    val eType = intercept[IllegalArgumentException] {
      DeltaInterop.appendToDelta(Seq((7, "g")).toDF("id", "v"), target)
    }
    assert(eType.getMessage.contains("cast before appending"), eType.getMessage)
    // no orphan staging dirs or files survived the refusals
    val stray = Files.list(Paths.get(target)).toArray.map(_.toString)
      .filter(_.contains("_graft_append_"))
    assert(stray.isEmpty, stray.mkString(", "))
  }

  test("appendToDelta honors identity partitioning; writer gates refuse") {
    import spark.implicits._
    // hand-build a partitioned foreign table (hive layout)
    val root = tmp("graft_dapp_part_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    def writeDataFile(sub: String, rows: Seq[(Long, Double)]): String = {
      rows.toDF("id", "x").coalesce(1).write.parquet(root + "/" + sub)
      Files.list(Paths.get(root, sub)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).map(p =>
          sub + "/" + Paths.get(p).getFileName).head
    }
    val fA = writeDataFile("seg=A", Seq((1L, 1.0)))
    val schemaJson = StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType),
      StructField("seg", StringType))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":["seg"],"configuration":{},"createdTime":1}}""",
      s"""{"add":{"path":"${esc(fA)}","partitionValues":{"seg":"A"},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    DeltaInterop.appendToDelta(
      Seq((2L, 2.0, "A"), (3L, 3.0, "B"), (4L, 4.0, null))
        .toDF("id", "x", "seg"), root)
    val got = DeltaInterop.readDelta(spark, root)
      .as[(Long, Double, Option[String])].collect().toSet
    assert(got == Set((1L, 1.0, Some("A")), (2L, 2.0, Some("A")),
      (3L, 3.0, Some("B")), (4L, 4.0, None)), got.toString)
    // the new files landed in hive layout and pruning still works
    val bOnly = DeltaInterop.readDeltaWhere(spark, root, "seg", "B")
      .as[(Long, Double, Option[String])].collect().toSet
    assert(bOnly == Set((3L, 3.0, Some("B"))))
    // CHECK constraints are ENFORCED: satisfying input lands, a
    // violating row fails the whole append before any file commits
    Files.write(Paths.get(root, "_delta_log", "0" * 19 + "2.json"), Seq(
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":["seg"],"configuration":{"delta.constraints.pos":"id > 0"},"createdTime":2}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    DeltaInterop.appendToDelta(
      Seq((9L, 9.0, "C")).toDF("id", "x", "seg"), root)
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.appendToDelta(
        Seq((10L, 1.0, "C"), (-1L, 2.0, "C")).toDF("id", "x", "seg"), root)
    }
    assert(e.getMessage.contains("violates CHECK constraint pos"),
      e.getMessage)
    assert(DeltaInterop.readDelta(spark, root)
      .select("id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L, 9L)) // the violating batch left nothing
    // NULL passes (SQL CHECK semantics); column invariants enforce too
    DeltaInterop.appendToDelta(
      Seq((null.asInstanceOf[java.lang.Long], 5.0, "C"))
        .toDF("id", "x", "seg")
        .select(col("id").cast("long").as("id"), col("x"), col("seg")),
      root)
    val invSchema = StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType,
        nullable = true, new org.apache.spark.sql.types.MetadataBuilder()
          .putString("delta.invariants",
            """{"expression":{"expression":"x < 100"}}""").build()),
      StructField("seg", StringType))).json
    Files.write(Paths.get(root, "_delta_log", "0" * 19 + "5.json"), Seq(
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(invSchema)}","partitionColumns":["seg"],"configuration":{},"createdTime":3}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val e2i = intercept[IllegalArgumentException] {
      DeltaInterop.appendToDelta(
        Seq((11L, 999.0, "C")).toDF("id", "x", "seg"), root)
    }
    assert(e2i.getMessage.contains("invariant on column 'x'"),
      e2i.getMessage)
    // unknown writer features refuse; harmless-on-append features pass
    val root3 = tmp("graft_dapp_wf_")
    Files.createDirectories(Paths.get(root3, "_delta_log"))
    val sj3 = StructType(Seq(StructField("id", LongType))).json
    Files.write(Paths.get(root3, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","collations"]}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(sj3)}","partitionColumns":[],"configuration":{},"createdTime":1}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val e3 = intercept[IllegalArgumentException] {
      DeltaInterop.appendToDelta(Seq(1L).toDF("id"), root3)
    }
    assert(e3.getMessage.contains("collations"), e3.getMessage)
  }

  test("appendToDelta computes generated columns; supplied values check-on-write") {
    import spark.implicits._
    // a generated DATE partition column — the common Delta shape
    // (CAST(ts AS DATE) date-partitioning a timestamped event table)
    val root = tmp("graft_dapp_gen_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val genSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("ts", TimestampType),
      StructField("d", DateType, nullable = true,
        new MetadataBuilder()
          .putString("delta.generationExpression", "CAST(ts AS DATE)")
          .build()))).json
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(genSchema)}","partitionColumns":["d"],"configuration":{},"createdTime":1}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val t1 = java.sql.Timestamp.valueOf("2024-03-01 10:30:00")
    val t2 = java.sql.Timestamp.valueOf("2024-03-02 23:59:59")
    // input OMITS the generated column -> the engine computes it
    DeltaInterop.appendToDelta(Seq((1L, t1), (2L, t2)).toDF("id", "ts"), root)
    val got = DeltaInterop.readDelta(spark, root)
      .select("id", "d").as[(Long, java.sql.Date)].collect().toMap
    assert(got(1L) == java.sql.Date.valueOf("2024-03-01"), got.toString)
    assert(got(2L) == java.sql.Date.valueOf("2024-03-02"), got.toString)
    // the computed column landed as a REAL hive partition: pruning works
    assert(DeltaInterop.readDeltaWhere(spark, root, "d", "2024-03-01")
      .select("id").as[Long].collect().toSet == Set(1L))
    // supplied values that MATCH the expression land
    DeltaInterop.appendToDelta(
      Seq((3L, t1, java.sql.Date.valueOf("2024-03-01"))).toDF("id", "ts", "d"),
      root)
    // a supplied MISMATCH refuses before any file lands
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.appendToDelta(
        Seq((4L, t1, java.sql.Date.valueOf("1999-01-01"))).toDF("id", "ts", "d"),
        root)
    }
    assert(e.getMessage.contains("generated column 'd' check-on-write"),
      e.getMessage)
    assert(DeltaInterop.readDelta(spark, root)
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("appendToDelta assigns identity columns and advances the watermark") {
    import spark.implicits._
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def identitySchema(allowExplicit: Boolean) = StructType(Seq(
      StructField("id", LongType, nullable = true,
        new MetadataBuilder()
          .putLong("delta.identity.start", 100L)
          .putLong("delta.identity.step", 10L)
          .putBoolean("delta.identity.allowExplicit", allowExplicit)
          .build()),
      StructField("v", StringType))).json
    def mkTable(allowExplicit: Boolean): String = {
      val root = tmp("graft_dapp_id_")
      Files.createDirectories(Paths.get(root, "_delta_log"))
      Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""",
        s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(identitySchema(allowExplicit))}","partitionColumns":[],"configuration":{},"createdTime":1}}"""
      ).mkString("", "\n", "\n").getBytes("UTF-8"))
      root
    }
    // GENERATED ALWAYS: omitted -> assigned DENSE (N rows consume
    // exactly N slots of the declared arithmetic sequence — the
    // watermark never jumps by partition-count artifacts)
    val root = mkTable(allowExplicit = false)
    DeltaInterop.appendToDelta(Seq("a", "b", "c").toDF("v"), root)
    val ids1 = DeltaInterop.readDelta(spark, root)
      .select("id").as[Long].collect().toSeq
    assert(ids1.toSet == Set(100L, 110L, 120L), ids1.toString)
    // the commit advanced the watermark by exactly N·step: a second
    // append continues the dense sequence
    DeltaInterop.appendToDelta(Seq("d", "e").toDF("v"), root)
    val ids2 = DeltaInterop.readDelta(spark, root)
      .select("id").as[Long].collect().toSeq
    assert(ids2.toSet == Set(100L, 110L, 120L, 130L, 140L), ids2.toString)
    // the watermark rides the commit's metaData action
    val commit1 = new String(Files.readAllBytes(
      Paths.get(root, "_delta_log", "0" * 19 + "1.json")), "UTF-8")
    assert(commit1.contains("delta.identity.highWaterMark"), commit1.take(600))
    // supplied values refuse on GENERATED ALWAYS
    val eAlways = intercept[IllegalArgumentException] {
      DeltaInterop.appendToDelta(Seq((5L, "x")).toDF("id", "v"), root)
    }
    assert(eAlways.getMessage.contains("GENERATED ALWAYS"), eAlways.getMessage)
    // GENERATED BY DEFAULT (allowExplicit): supplied values land and
    // push the watermark — later assigned values go beyond them
    val root2 = mkTable(allowExplicit = true)
    DeltaInterop.appendToDelta(Seq((1000L, "e")).toDF("id", "v"), root2)
    DeltaInterop.appendToDelta(Seq("f").toDF("v"), root2)
    val byDefault = DeltaInterop.readDelta(spark, root2)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(byDefault.size == 2 && byDefault(1000L) == "e", byDefault.toString)
    assert(byDefault.keys.filter(_ != 1000L).forall(_ > 1000L),
      byDefault.toString)
  }

  test("identity assignment is dense across partitions; non-bigint refuses") {
    import spark.implicits._
    def mkTable(idType: String): String = {
      val root = tmp("graft_dapp_dense_")
      Files.createDirectories(Paths.get(root, "_delta_log"))
      val sj = s"""{\\"type\\":\\"struct\\",\\"fields\\":[{\\"name\\":\\"id\\",\\"type\\":\\"$idType\\",\\"nullable\\":true,\\"metadata\\":{\\"delta.identity.start\\":1,\\"delta.identity.step\\":1}},{\\"name\\":\\"v\\",\\"type\\":\\"string\\",\\"nullable\\":true,\\"metadata\\":{}}]}"""
      Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""",
        s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"$sj","partitionColumns":[],"configuration":{},"createdTime":1}}"""
      ).mkString("", "\n", "\n").getBytes("UTF-8"))
      root
    }
    // a 16-partition 40-row append consumes EXACTLY 40 identity slots:
    // the raw monotonically_increasing_id arithmetic would have spread
    // them over 15·2^33 values and advanced the watermark accordingly
    val root = mkTable("long")
    DeltaInterop.appendToDelta(
      (1 to 40).map(i => s"r$i").toDF("v").repartition(16), root)
    val ids = DeltaInterop.readDelta(spark, root)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids == (1L to 40L), s"${ids.take(5)}...${ids.takeRight(5)}")
    // identity columns must be bigint (the protocol's type): anything
    // else refuses loudly instead of CCE-ing the watermark bookkeeping
    val e = intercept[Exception] {
      DeltaInterop.appendToDelta(Seq("x").toDF("v"), mkTable("integer"))
    }
    assert(e.getMessage.contains("BIGINT"), e.getMessage)
  }

  test("UPDATE/MERGE on generated/identity tables: safe mutations land, staling refuses") {
    import spark.implicits._
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    // generated column y = id * 2, plus an identity column k
    val root = tmp("graft_dml_gen_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val sj = StructType(Seq(
      StructField("id", LongType),
      StructField("v", StringType),
      StructField("y", LongType, nullable = true,
        new MetadataBuilder()
          .putString("delta.generationExpression", "id * 2").build()),
      StructField("k", LongType, nullable = true,
        new MetadataBuilder()
          .putLong("delta.identity.start", 1L)
          .putLong("delta.identity.step", 1L).build()))).json
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(sj)}","partitionColumns":[],"configuration":{},"createdTime":1}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    // seed through the append path (computes y, assigns k)
    DeltaInterop.appendToDelta(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), root)
    // UPDATE of an unrelated column: lands (y/k untouched, still valid)
    DeltaInterop.updateDelta(spark, root, col("id") === 2L,
      Map("v" -> lit("B")))
    val afterUpd = DeltaInterop.readDelta(spark, root)
      .select("id", "v", "y").as[(Long, String, Long)].collect().toSet
    assert(afterUpd.contains((2L, "B", 4L)), afterUpd.toString)
    // UPDATE that would STALE the generated column refuses pre-commit
    val eStale = intercept[IllegalArgumentException] {
      DeltaInterop.updateDelta(spark, root, col("id") === 1L,
        Map("id" -> lit(100L)))
    }
    assert(eStale.getMessage.contains("generated column 'y' consistency"),
      eStale.getMessage)
    // consistent co-update of the input AND the generated column lands
    DeltaInterop.updateDelta(spark, root, col("id") === 1L,
      Map("id" -> lit(100L), "y" -> lit(200L)))
    assert(DeltaInterop.readDelta(spark, root).where(col("id") === 100L)
      .select("y").as[Long].collect().toSeq == Seq(200L))
    // SET on the identity column refuses
    val eId = intercept[IllegalArgumentException] {
      DeltaInterop.updateDelta(spark, root, col("id") === 2L,
        Map("k" -> lit(99L)))
    }
    assert(eId.getMessage.contains("identity column 'k'"), eId.getMessage)
    // MERGE: update/delete-only clauses work on the identity table
    // (partial SET skipping y's inputs and k)
    DeltaInterop.mergeDeltaClauses(
      Seq((2L, "merged", 4L, 0L), (3L, "gone", 6L, 0L))
        .toDF("id", "v", "y", "k"),
      root, Seq("id"),
      matched = Seq(
        graft.sources.Merge.MatchedDelete(
          Some(graft.sources.Merge.source("v") === "gone")),
        graft.sources.Merge.MatchedUpdate(None,
          Map("v" -> graft.sources.Merge.source("v")))))
    val afterMerge = DeltaInterop.readDelta(spark, root)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(afterMerge == Set((100L, "a"), (2L, "merged")), afterMerge.toString)
    // INSERT clauses SUPPLYING the GENERATED ALWAYS identity refuse —
    // omit it and the merge assigns (covered by the dedicated merge-
    // identity test below)
    val eIns = intercept[IllegalArgumentException] {
      DeltaInterop.mergeDeltaClauses(
        Seq((9L, "i", 18L, 9L)).toDF("id", "v", "y", "k"), root, Seq("id"),
        notMatched = Seq(graft.sources.Merge.NotMatchedInsert()))
    }
    assert(eIns.getMessage.contains("user-supplied"), eIns.getMessage)
    // a source OMITTING the identity column upserts: the new row takes
    // an ASSIGNED beyond-watermark value in the same commit
    val kBefore = DeltaInterop.readDelta(spark, root)
      .agg(org.apache.spark.sql.functions.max("k")).as[Long].collect()(0)
    DeltaInterop.mergeDeltaClauses(
      Seq((9L, "ins", 18L)).toDF("id", "v", "y"), root, Seq("id"),
      matched = Seq(graft.sources.Merge.MatchedUpdate(None,
        Map("v" -> graft.sources.Merge.source("v")))),
      notMatched = Seq(graft.sources.Merge.NotMatchedInsert()))
    val insK = DeltaInterop.readDelta(spark, root)
      .where(col("id") === 9L).select("k").as[Long].collect().toSeq
    assert(insK.size == 1 && insK.head > kBefore, insK.toString)
    // ... and the watermark advanced in the SAME commit's metaData: a
    // later append continues DENSELY beyond the merge-inserted value
    DeltaInterop.appendToDelta(Seq((77L, "app", 154L)).toDF("id", "v", "y"),
      root)
    val appK = DeltaInterop.readDelta(spark, root)
      .where(col("id") === 77L).select("k").as[Long].collect().toSeq
    assert(appK == Seq(insK.head + 1L), appK.toString)
    // SET * (full replacement) touches the identity column -> refuses
    val eStar = intercept[IllegalArgumentException] {
      DeltaInterop.mergeDelta(
        Seq((9L, "i", 18L, 9L)).toDF("id", "v", "y", "k"), root, Seq("id"))
    }
    assert(eStar.getMessage.contains("identity column 'k'"), eStar.getMessage)
  }

  test("appendToDelta contention: every writer lands a distinct version") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_dapp_conc_"),
      Seq((0L, "base")).toDF("id", "v"))
    val target = tmp("graft_dapp_conc_out_")
    graft.sources.DeltaInterop.exportSnapshot(t, target)
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val versions = try Await.result(Future.sequence((1 to 8).map { i =>
      Future(DeltaInterop.appendToDelta(
        Seq((i.toLong, s"w$i")).toDF("id", "v"), target))
    }), 120.seconds).toList
    finally pool.shutdown()
    assert(versions.toSet.size == 8, s"version collision: $versions")
    assert(versions.toSet == (1L to 8L).toSet, versions.toString)
    val got = DeltaInterop.readDelta(spark, target).count()
    assert(got == 9L)
  }

  test("streaming CDF: readChangeFeed batches equal the batch change feed") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_cdfstream_"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((3L, "c")).toDF("id", "v"))
    t.append(Seq((4L, "d")).toDF("id", "v"))
    DeltaInterop.mirrorToDelta(t)
    val latest = 2L // create + two appends

    // batch CDF through the data source options
    val batch = spark.read.format("graft.sources.v2.DeltaSource")
      .option("readChangeFeed", "true").load(t.root)
      .select($"id", $"v", $"_change_type", $"_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    val direct = DeltaInterop.readDeltaChanges(spark, t.root, 0, latest)
      .select($"id", $"v", $"_change_type", $"_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(batch == direct && batch.size == 4, batch.toString)

    // streaming CDF drains the same rows
    val name = "cdfsink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.format("graft.sources.v2.DeltaSource")
      .option("readChangeFeed", "true").load(t.root)
      .writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    q.awaitTermination()
    val streamed = spark.table(name)
      .select($"id", $"v", $"_change_type", $"_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(streamed == direct, streamed.toString)

    // startingVersion skips the earlier commits
    val name2 = "cdfsink2_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q2 = spark.readStream.format("graft.sources.v2.DeltaSource")
      .option("readChangeFeed", "true").option("startingVersion", "2")
      .load(t.root)
      .writeStream.format("memory").queryName(name2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    q2.awaitTermination()
    val tail = spark.table(name2)
      .select($"id", $"_commit_version")
      .as[(Long, Long)].collect().toSet
    assert(tail == Set((4L, 2L)), tail.toString)
  }

  test("CDF delete of a DV-carrying file emits only the still-live rows") {
    import spark.implicits._
    import graft.sources.DeletionVectors
    val root = tmp("graft_cdfdv_")
    Seq.range(0L, 10L).toDF("id").coalesce(1).write.parquet(root)
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val dataFile = Files.list(Paths.get(root)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val rel = Paths.get(root).relativize(Paths.get(dataFile)).toString
    val idxOf = spark.read.parquet(dataFile)
      .select(col("id"), col("_metadata.row_index"))
      .as[(Long, Long)].collect().toMap
    val schemaJson = StructType(Seq(StructField("id", LongType))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{},"createdTime":1}}""",
      s"""{"add":{"path":"${esc(rel)}","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    // commit 1 (BEFORE the CDF range): row-level DELETE of ids 2,5 =
    // remove + re-add with an inline DV
    val inline = DeletionVectors.serialize(Seq(idxOf(2L), idxOf(5L)))
    val padded = java.util.Arrays.copyOf(inline, (inline.length + 3) / 4 * 4)
    val z85dv = DeletionVectors.z85Encode(padded)
    Files.write(Paths.get(root, "_delta_log", "0" * 19 + "1.json"), Seq(
      s"""{"remove":{"path":"${esc(rel)}","deletionTimestamp":2,"dataChange":true}}""",
      s"""{"add":{"path":"${esc(rel)}","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"$z85dv","sizeInBytes":${padded.length},"cardinality":2}}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    // commit 2 (IN range): full DELETE — removes the DV-carrying file
    Files.write(Paths.get(root, "_delta_log", "0" * 19 + "2.json"), Seq(
      s"""{"remove":{"path":"${esc(rel)}","deletionTimestamp":3,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val changes = DeltaInterop.readDeltaChanges(spark, root, 2L, 2L)
      .select(col("id"), col("_change_type"))
      .as[(Long, String)].collect().toSet
    // ids 2 and 5 were deleted in commit 1, before the range — the
    // range-2 delete must NOT resurface them as delete events
    assert(changes == Set(0L, 1L, 3L, 4L, 6L, 7L, 8L, 9L)
      .map((_, "delete")), changes.toString)
  }

  test("deleteFromDelta rewrites partial files, removes full ones") {
    import spark.implicits._
    // seg=A holds ids 1..4 (partially matched), seg=B holds 10..12
    // (fully matched), seg=C holds 20 (untouched)
    val t = GraftTable.create(spark, tmp("graft_ddel_"),
      (Seq(1L, 2L, 3L, 4L).map((_, "A")) ++ Seq(10L, 11L, 12L).map((_, "B"))
        ++ Seq(20L).map((_, "C"))).toDF("id", "seg").repartition(1),
      partitionBy = Seq("seg"))
    val target = tmp("graft_ddel_t_")
    DeltaInterop.exportSnapshot(t, target)
    val v = DeltaInterop.deleteFromDelta(spark, target,
      col("id") >= 3L && col("id") <= 12L)
    assert(v == 1L)
    val got = DeltaInterop.readDelta(spark, target)
      .select("id", "seg").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "A"), (2L, "A"), (20L, "C")), got.toString)
    val log = new String(Files.readAllBytes(Paths.get(target,
      "_delta_log", "0" * 19 + "1.json")), "UTF-8")
    // seg=A rewritten (remove + add), seg=B removed whole, seg=C silent
    assert(log.contains("\"operation\":\"DELETE\""), log.take(300))
    val lines = log.trim.split('\n').toSeq
    assert(lines.count(_.contains("\"remove\"")) >= 2, log)
    val addLines = lines.filter(_.contains("\"add\""))
    assert(addLines.nonEmpty && addLines.forall(_.contains("seg=A")), log)
    assert(!lines.exists(l => l.contains("\"remove\"") && l.contains("seg=C")), log)
  }

  test("deleteFromDelta partition-only predicate is metadata-only") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_ddelp_"),
      Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, null)).toDF("id", "seg"),
      partitionBy = Seq("seg"))
    val target = tmp("graft_ddelp_t_")
    DeltaInterop.exportSnapshot(t, target)
    def parquetCount: Long = Files.walk(Paths.get(target)).toArray
      .map(_.toString).count(_.endsWith(".parquet")).toLong
    val before = parquetCount
    DeltaInterop.deleteFromDelta(spark, target, col("seg") === "A")
    // no data was scanned or written — the condition selected whole
    // partitions from the log metadata alone
    assert(parquetCount == before)
    val log = new String(Files.readAllBytes(Paths.get(target,
      "_delta_log", "0" * 19 + "1.json")), "UTF-8")
    assert(!log.contains("\"add\""), log)
    assert(log.contains("\"remove\""), log)
    val got = DeltaInterop.readDelta(spark, target)
      .select("id", "seg").as[(Long, String)].collect().toSet
    // null-seg row survives: seg === 'A' is null there, not true
    assert(got == Set((3L, "B"), (4L, null)), got.toString)
  }

  test("deleteFromDelta keeps null-condition rows and no-ops cleanly") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_ddeln_"),
      Seq((1L, Some(1.0)), (2L, None), (3L, Some(9.0)))
        .toDF("id", "x"))
    val target = tmp("graft_ddeln_t_")
    DeltaInterop.exportSnapshot(t, target)
    DeltaInterop.deleteFromDelta(spark, target, col("x") > 5.0)
    val got = DeltaInterop.readDelta(spark, target)
      .select("id").as[Long].collect().toSet
    // x=null row: condition NULL -> kept, per SQL DELETE semantics
    assert(got == Set(1L, 2L), got.toString)
    // no matching rows: nothing commits, version unchanged
    val v = DeltaInterop.deleteFromDelta(spark, target, col("x") > 99.0)
    assert(v == 1L)
    assert(!Files.exists(Paths.get(target, "_delta_log", "0" * 19 + "2.json")))
  }

  test("deleteFromDelta writes authoritative cdc files on CDF tables") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_ddelc_"),
      Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("id", "seg")
        .repartition(1),
      partitionBy = Seq("seg"))
    val target = tmp("graft_ddelc_t_")
    DeltaInterop.exportSnapshot(t, target)
    // flip on CDF the way a real table property would carry it
    val v0 = Paths.get(target, "_delta_log", "0" * 20 + ".json")
    Files.write(v0, new String(Files.readAllBytes(v0), "UTF-8")
      .replace("\"configuration\":{}",
        "\"configuration\":{\"delta.enableChangeDataFeed\":\"true\"}")
      .getBytes("UTF-8"))
    // the in-place edit invalidates Hadoop LocalFileSystem's checksum
    // sidecar — drop it so the reader re-reads the patched file
    Files.deleteIfExists(Paths.get(target, "_delta_log",
      "." + "0" * 20 + ".json.crc"))
    // partial match in seg=A forces a rewrite -> cdc becomes mandatory
    DeltaInterop.deleteFromDelta(spark, target,
      col("id") === 2L || col("id") === 3L)
    val log = new String(Files.readAllBytes(Paths.get(target,
      "_delta_log", "0" * 19 + "1.json")), "UTF-8")
    assert(log.contains("\"cdc\""), log)
    assert(Files.exists(Paths.get(target, "_change_data")))
    // the feed reads the cdc files as authoritative
    val changes = DeltaInterop.readDeltaChanges(spark, target, 1L, 1L)
      .select(col("id"), col("seg"), col("_change_type"))
      .as[(Long, String, String)].collect().toSet
    assert(changes == Set((2L, "A", "delete"), (3L, "B", "delete")),
      changes.toString)
    assert(DeltaInterop.readDelta(spark, target)
      .select("id").as[Long].collect().toSet == Set(1L))
  }

  test("deleteFromDelta applies existing deletion vectors to rewrites") {
    import spark.implicits._
    val root = tmp("graft_ddeldv_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    (0L until 10L).toDF("id").coalesce(1).write.parquet(root + "/d")
    var rel: String = null
    Files.list(Paths.get(root, "d")).forEach { p =>
      if (p.getFileName.toString.endsWith(".parquet"))
        rel = "d/" + p.getFileName.toString
    }
    val idxOf = spark.read.parquet(root + "/d")
      .select(col("id"), col("_metadata.row_index"))
      .as[(Long, Long)].collect().toMap
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val inline = graft.sources.DeletionVectors.serialize(
      Seq(idxOf(2L), idxOf(5L)))
    val padded = java.util.Arrays.copyOf(inline, (inline.length + 3) / 4 * 4)
    val z85dv = graft.sources.DeletionVectors.z85Encode(padded)
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{},"createdTime":1}}""",
      s"""{"add":{"path":"${esc(rel)}","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"$z85dv","sizeInBytes":${padded.length},"cardinality":2}}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    // live rows are 0,1,3,4,6,7,8,9; delete >= 7 -> rewrite keeps
    // 0,1,3,4,6 and must NOT resurrect the DV-struck 2 and 5
    DeltaInterop.deleteFromDelta(spark, root, col("id") >= 7L)
    val got = DeltaInterop.readDelta(spark, root)
      .select("id").as[Long].collect().toSet
    assert(got == Set(0L, 1L, 3L, 4L, 6L), got.toString)
  }

  test("deleteFromDelta refuses append-only tables") {
    import spark.implicits._
    def build(config: String): String = {
      val root = tmp("graft_ddelr_")
      Files.createDirectories(Paths.get(root, "_delta_log"))
      Seq(1L).toDF("id").coalesce(1).write.parquet(root + "/d")
      var rel: String = null
      Files.list(Paths.get(root, "d")).forEach { p =>
        if (p.getFileName.toString.endsWith(".parquet"))
          rel = "d/" + p.getFileName.toString
      }
      val schemaJson = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))).json
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{$config},"createdTime":1}}""",
        s"""{"add":{"path":"${esc(rel)}","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
      ).mkString("", "\n", "\n").getBytes("UTF-8"))
      root
    }
    val ao = intercept[IllegalArgumentException] {
      DeltaInterop.deleteFromDelta(spark,
        build("\"delta.appendOnly\":\"true\""), lit(true))
    }
    assert(ao.getMessage.contains("append-only"), ao.getMessage)
  }

  test("appendToDelta writes physical names into column-mapped tables") {
    import spark.implicits._
    // NAME-mode partitioned table with a nested struct (the r9 read
    // fixture shape): append in LOGICAL names, verify physical layout
    val root = tmp("graft_dacm_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    def writeDataFile(sub: String, rows: Seq[(Long, Int, String)]): String = {
      rows.toDF("col-1", "a0", "b0")
        .select(col("col-1"), struct(col("a0").as("col-3"),
          col("b0").as("col-4")).as("col-2"))
        .coalesce(1).write.parquet(root + "/" + sub)
      val f = Files.list(Paths.get(root, sub)).iterator()
      var name: String = null
      while (f.hasNext) {
        val p = f.next()
        if (p.getFileName.toString.endsWith(".parquet"))
          name = sub + "/" + p.getFileName.toString
      }
      name
    }
    val fA = writeDataFile("pA", Seq((1L, 10, "x")))
    def meta(phys: String, id: Int) = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id).build()
    val schemaJson = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-1", 1)),
      StructField("info", StructType(Seq(
        StructField("a", org.apache.spark.sql.types.IntegerType,
          nullable = true, meta("col-3", 3)),
        StructField("b", StringType, nullable = true, meta("col-4", 4)))),
        nullable = true, meta("col-2", 2)),
      StructField("seg", StringType, nullable = true, meta("col-5", 5)))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":["seg"],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"5"},"createdTime":1}}""",
      s"""{"add":{"path":"${esc(fA)}","partitionValues":{"col-5":"A"},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val batch = Seq((2L, 20, "y", "A"), (3L, 30, "z", "B"))
      .toDF("id", "a0", "b0", "seg")
      .select(col("id"), struct(col("a0").as("a"), col("b0").as("b"))
        .as("info"), col("seg"))
    val v = DeltaInterop.appendToDelta(batch, root)
    assert(v == 1L)
    val got = DeltaInterop.readDelta(spark, root)
      .select($"id", $"info.a", $"info.b", $"seg")
      .as[(Long, Int, String, String)].collect().toSet
    assert(got == Set((1L, 10, "x", "A"), (2L, 20, "y", "A"),
      (3L, 30, "z", "B")), got.toString)
    // the commit's partitionValues + hive dirs use PHYSICAL names
    val log = new String(Files.readAllBytes(Paths.get(root, "_delta_log",
      "0" * 19 + "1.json")), "UTF-8")
    assert(log.contains("\"col-5\":\"A\""), log)
    assert(log.contains("col-5=B"), log)
    // the appended parquet carries physical names at both levels
    val newFile = log.split('\n').filter(_.contains("\"add\""))
      .map(l => l.split("\"path\":\"")(1).takeWhile(_ != '"')).head
    val fileSchema = spark.read
      .parquet(root + "/" + java.net.URLDecoder.decode(newFile, "UTF-8"))
      .schema
    assert(fileSchema.fieldNames.toSet == Set("col-1", "col-2"),
      fileSchema.treeString)
    assert(fileSchema("col-2").dataType.asInstanceOf[StructType]
      .fieldNames.toSet == Set("col-3", "col-4"), fileSchema.treeString)
  }

  test("appendToDelta stamps parquet field ids on ID-mode tables") {
    import spark.implicits._
    val root = tmp("graft_daid_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    def idMeta(id: Long) = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val fileSchema = StructType(Seq(
      StructField("xyz", LongType, nullable = true, idMeta(1)),
      StructField("abc", StringType, nullable = true, idMeta(2))))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    rows.add(org.apache.spark.sql.Row(7L, "seven"))
    spark.createDataFrame(rows, fileSchema).coalesce(1)
      .write.parquet(root + "/d0")
    val part = new java.io.File(root + "/d0").listFiles
      .filter(_.getName.endsWith(".parquet")).head.getName
    def meta(phys: String, id: Int) = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id).build()
    val schemaJson = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-1", 1)),
      StructField("v", StringType, nullable = true, meta("col-2", 2)))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"},"createdTime":1}}""",
      s"""{"add":{"path":"d0/$part","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    DeltaInterop.appendToDelta(Seq((8L, "eight")).toDF("id", "v"), root)
    // the read resolves old AND new files by field id
    val got = DeltaInterop.readDelta(spark, root)
      .as[(Long, String)].collect().toSet
    assert(got == Set((7L, "seven"), (8L, "eight")), got.toString)
    // the appended file physically carries ids 1 and 2
    val log = new String(Files.readAllBytes(Paths.get(root, "_delta_log",
      "0" * 19 + "1.json")), "UTF-8")
    val newFile = log.split('\n').filter(_.contains("\"add\""))
      .map(l => l.split("\"path\":\"")(1).takeWhile(_ != '"')).head
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(root + "/" +
          java.net.URLDecoder.decode(newFile, "UTF-8")),
        spark.sparkContext.hadoopConfiguration))
    val pqSchema = try rdr.getFooter.getFileMetaData.getSchema
      finally rdr.close()
    import scala.jdk.CollectionConverters._
    val ids = pqSchema.getFields.asScala
      .map(f => f.getName -> Option(f.getId).map(_.intValue())).toMap
    assert(ids("col-1").contains(1), ids.toString)
    assert(ids("col-2").contains(2), ids.toString)
  }

  test("DELETE/UPDATE/MERGE/OPTIMIZE on column-mapped tables (name mode)") {
    import spark.implicits._
    // name-mode partitioned table with RENAMED nested columns (logical
    // names differ from every physical name — the post-ALTER-RENAME
    // shape of the reference's Delta 3.2 tables)
    val root = tmp("graft_dmlcm_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    def meta(phys: String, id: Int) = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id).build()
    val schemaJson = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-1", 1)),
      StructField("info", StructType(Seq(
        StructField("a", org.apache.spark.sql.types.IntegerType,
          nullable = true, meta("col-3", 3)),
        StructField("b", StringType, nullable = true, meta("col-4", 4)))),
        nullable = true, meta("col-2", 2)),
      StructField("seg", StringType, nullable = true, meta("col-5", 5)))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":["seg"],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"5"},"createdTime":1}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    def rows(d: (Long, Int, String, String)*) = d.toDF("id", "a0", "b0", "seg")
      .coalesce(1) // one file per hive partition: the delete below
        // must PARTIALLY match a file to exercise the rewrite path
      .select(col("id"), struct(col("a0").as("a"), col("b0").as("b"))
        .as("info"), col("seg"))
    DeltaInterop.appendToDelta(rows((1L, 10, "x", "A"), (2L, 20, "y", "A"),
      (3L, 30, "z", "B"), (4L, 40, "w", "B")), root)
    def readAll = DeltaInterop.readDelta(spark, root)
      .select($"id", $"info.a", $"info.b", $"seg")
      .as[(Long, Int, String, String)].collect().toSet

    // DELETE (row predicate): CoW rewrite in LOGICAL terms, files in
    // PHYSICAL terms
    DeltaInterop.deleteFromDelta(spark, root, col("id") === 2L)
    assert(readAll == Set((1L, 10, "x", "A"), (3L, 30, "z", "B"),
      (4L, 40, "w", "B")), readAll.toString)
    val delLog = new String(Files.readAllBytes(Paths.get(root,
      "_delta_log", "0" * 19 + "2.json")), "UTF-8")
    assert(delLog.contains("\"col-5\":\"A\""), delLog) // physical pv keys
    val rewritten = delLog.split('\n').filter(_.contains("\"add\""))
      .map(l => l.split("\"path\":\"")(1).takeWhile(_ != '"')).head
    val fileSchema = spark.read.parquet(root + "/" +
      java.net.URLDecoder.decode(rewritten, "UTF-8")).schema
    assert(fileSchema.fieldNames.toSet == Set("col-1", "col-2"),
      fileSchema.treeString)
    assert(fileSchema("col-2").dataType.asInstanceOf[StructType]
      .fieldNames.toSet == Set("col-3", "col-4"), fileSchema.treeString)

    // UPDATE: logical SET, physical rewrite
    DeltaInterop.updateDelta(spark, root, col("id") === 3L,
      Map("info" -> struct(lit(33).as("a"), lit("Z").as("b"))))
    assert(readAll == Set((1L, 10, "x", "A"), (3L, 33, "Z", "B"),
      (4L, 40, "w", "B")), readAll.toString)

    // MERGE upsert: matched row replaced, new row inserted into the
    // physical hive layout
    DeltaInterop.mergeDelta(rows((4L, 44, "W", "B"), (5L, 50, "v", "A")),
      root, Seq("id"))
    assert(readAll == Set((1L, 10, "x", "A"), (3L, 33, "Z", "B"),
      (4L, 44, "W", "B"), (5L, 50, "v", "A")), readAll.toString)

    // stats pruning stays effective under mapping: graft's rewritten
    // files carry stats under PHYSICAL keys, translated back for the
    // bounds test — a keyed detection scan reads a strict subset
    val st0 = DeltaInterop.candidateFiles(spark, root, col("id") === 5L)
    val all = DeltaInterop.candidateFiles(spark, root, lit(true))
    assert(st0.size < all.size, s"pruned ${st0.size} of ${all.size}")

    // OPTIMIZE: bin-packs the small files, physical names preserved
    DeltaInterop.optimizeDelta(spark, root)
    assert(readAll == Set((1L, 10, "x", "A"), (3L, 33, "Z", "B"),
      (4L, 44, "W", "B"), (5L, 50, "v", "A")), readAll.toString)

    // partition-only DELETE: metadata-only, condition typed against
    // LOGICAL names resolving PHYSICAL partitionValues keys
    DeltaInterop.deleteFromDelta(spark, root, col("seg") === "B")
    assert(readAll == Set((1L, 10, "x", "A"), (5L, 50, "v", "A")),
      readAll.toString)
  }

  test("row-level mutations stamp parquet field ids on ID-mode tables") {
    import spark.implicits._
    val root = tmp("graft_dmlid_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    def meta(phys: String, id: Int) = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id).build()
    val schemaJson = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-1", 1)),
      StructField("v", StringType, nullable = true, meta("col-2", 2)))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"},"createdTime":1}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    DeltaInterop.appendToDelta(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), root)
    DeltaInterop.updateDelta(spark, root, col("id") === 2L,
      Map("v" -> lit("B")))
    DeltaInterop.mergeDelta(Seq((3L, "C"), (4L, "d")).toDF("id", "v"),
      root, Seq("id"))
    DeltaInterop.deleteFromDelta(spark, root, col("id") === 1L)
    val got = DeltaInterop.readDelta(spark, root)
      .as[(Long, String)].collect().toSet
    assert(got == Set((2L, "B"), (3L, "C"), (4L, "d")), got.toString)
    // every live file physically carries field ids 1 and 2 (the
    // rewrites went through the id-stamping write path)
    import scala.jdk.CollectionConverters._
    val live = DeltaInterop.candidateFiles(spark, root, lit(true))
    assert(live.nonEmpty)
    live.foreach { f =>
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(root + "/" +
            java.net.URLDecoder.decode(f, "UTF-8")),
          spark.sparkContext.hadoopConfiguration))
      val pq = try rdr.getFooter.getFileMetaData.getSchema
        finally rdr.close()
      val ids = pq.getFields.asScala
        .map(fl => fl.getName -> Option(fl.getId).map(_.intValue())).toMap
      assert(ids.values.toSet == Set(Some(1), Some(2)), s"$f -> $ids")
    }
  }

  test("mapped identity append: a racing watermark move refuses, a benign peer retries") {
    import spark.implicits._
    def meta(phys: String, id: Int, extra: MetadataBuilder => MetadataBuilder = identity) =
      extra(new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id)).build()
    def schemaOf(wm: Option[Long]) = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-1", 1, b => {
        b.putLong("delta.identity.start", 1L)
          .putLong("delta.identity.step", 1L)
        wm.foreach(b.putLong("delta.identity.highWaterMark", _))
        b
      })),
      StructField("v", StringType, nullable = true, meta("col-2", 2)))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def metaLine(sj: String) =
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(sj)}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"2"},"createdTime":1}}"""
    def mkTable(): String = {
      val root = tmp("graft_idrace_")
      Files.createDirectories(Paths.get(root, "_delta_log"))
      Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        metaLine(schemaOf(None))
      ).mkString("", "\n", "\n").getBytes("UTF-8"))
      root
    }
    // a peer ADVANCING the watermark in the stage-to-commit window:
    // our staged files carry values computed against the stale
    // watermark — committing them would duplicate ids and REGRESS the
    // watermark, so the re-validation must refuse (on mapped tables a
    // physical-layout-only compare missed this: physicalField strips
    // the identity metadata)
    // the race seam fires before every claim: each peer lands once
    def once(peer: () => Unit): Option[() => Unit] = {
      var fired = false
      Some(() => if (!fired) { fired = true; peer() })
    }
    val root1 = mkTable()
    OptimisticCommit.raceHook = once(() =>
      Files.write(Paths.get(root1, "_delta_log", "0" * 19 + "1.json"), Seq(
        """{"commitInfo":{"timestamp":2,"operation":"WRITE"}}""",
        metaLine(schemaOf(Some(5L)))
      ).mkString("", "\n", "\n").getBytes("UTF-8")): Unit)
    try {
      val e = intercept[IllegalArgumentException] {
        DeltaInterop.appendToDelta(Seq("a", "b").toDF("v"), root1)
      }
      assert(e.getMessage.contains("changed its schema or column mapping"),
        e.getMessage)
    } finally OptimisticCommit.raceHook = None
    // a benign peer (no schema change) just costs a slot: the retry
    // lands at the next version with the staged assignment intact
    val root2 = mkTable()
    OptimisticCommit.raceHook = once(() =>
      Files.write(Paths.get(root2, "_delta_log", "0" * 19 + "1.json"),
        """{"commitInfo":{"timestamp":2,"operation":"NOOP"}}"""
          .concat("\n").getBytes("UTF-8")): Unit)
    try {
      val v = DeltaInterop.appendToDelta(Seq("a", "b").toDF("v"), root2)
      assert(v == 2L, v.toString)
      val ids = DeltaInterop.readDelta(spark, root2)
        .select("id").as[Long].collect().toSet
      assert(ids == Set(1L, 2L), ids.toString)
    } finally OptimisticCommit.raceHook = None
  }

  test("CDF reads column-mapped tables; a mid-range mapping change " +
      "re-plans per epoch in one call") {
    import spark.implicits._
    val root = tmp("graft_cdfcm_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    def meta(phys: String, id: Int) = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id).build()
    val schemaJson = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-1", 1)),
      StructField("v", StringType, nullable = true, meta("col-2", 2)))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def metaLine(sj: String) =
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(sj)}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"2","delta.enableChangeDataFeed":"true"},"createdTime":1}}"""
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaLine(schemaJson)
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    DeltaInterop.appendToDelta(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1), root)
    DeltaInterop.updateDelta(spark, root, col("id") === 2L,
      Map("v" -> lit("B")))
    DeltaInterop.deleteFromDelta(spark, root, col("id") === 3L)
    val cdf = DeltaInterop.readDeltaChanges(spark, root, 0, 3)
      .select($"id", $"v", $"_change_type", $"_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(cdf == Set(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (3L, "c", "insert", 1L),
      (2L, "b", "update_preimage", 2L), (2L, "B", "update_postimage", 2L),
      (3L, "c", "delete", 3L)), cdf.toString)
    // the streaming twin drains the same rows through the V1 source
    val name = "cdfcm_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.format("graft.sources.v2.DeltaSource")
      .option("readChangeFeed", "true").load(root)
      .writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    q.awaitTermination()
    val streamed = spark.table(name)
      .select($"id", $"v", $"_change_type", $"_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(streamed == cdf, streamed.toString)
    // a commit CHANGING the mapping inside the range starts a new
    // EPOCH (r16): the same call re-plans per metaData epoch — files
    // written before the change scan under col-2, files after under
    // col-9 — and serves the WHOLE range, no split-the-range refusal
    val renamed = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-1", 1)),
      StructField("v", StringType, nullable = true, meta("col-9", 2)))).json
    Files.write(Paths.get(root, "_delta_log", "0" * 19 + "4.json"), Seq(
      """{"commitInfo":{"timestamp":4,"operation":"SET TBLPROPERTIES"}}""",
      metaLine(renamed)
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    // commit 5 appends THROUGH the new mapping (physical col-9 files)
    DeltaInterop.appendToDelta(Seq((9L, "i")).toDF("id", "v"), root)
    val cross = DeltaInterop.readDeltaChanges(spark, root, 0, 5)
      .select($"id", $"v", $"_change_type", $"_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(cross == cdf + ((9L, "i", "insert", 5L)), cross.toString)
    // and the pre-change prefix still reads on its own
    assert(DeltaInterop.readDeltaChanges(spark, root, 0, 4)
      .count() == cdf.size)
  }

  test("updateDelta: pre-update SET evaluation, partial files, null cond") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_dup_"),
      Seq((1L, 10L, 20L, "A"), (2L, 30L, 40L, "A"), (3L, 50L, 60L, "B"),
        (4L, 70L, 80L, "B")).toDF("id", "a", "b", "seg").repartition(1),
      partitionBy = Seq("seg"))
    val target = tmp("graft_dup_t_")
    DeltaInterop.exportSnapshot(t, target)
    // swap a and b where id in (2,3): both read the PRE-update row
    val v = DeltaInterop.updateDelta(spark, target,
      col("id") === 2L || col("id") === 3L,
      Map("a" -> col("b"), "b" -> col("a")))
    assert(v == 1L)
    val got = DeltaInterop.readDelta(spark, target)
      .select("id", "a", "b", "seg").as[(Long, Long, Long, String)]
      .collect().toSet
    assert(got == Set((1L, 10L, 20L, "A"), (2L, 40L, 30L, "A"),
      (3L, 60L, 50L, "B"), (4L, 70L, 80L, "B")), got.toString)
    val log = new String(Files.readAllBytes(Paths.get(target, "_delta_log",
      "0" * 19 + "1.json")), "UTF-8")
    assert(log.contains("\"operation\":\"UPDATE\""), log.take(200))
    // both partitions rewritten: remove+add per affected file
    val lines = log.trim.split('\n').toSeq
    assert(lines.count(_.contains("\"remove\"")) == 2, log)
    assert(lines.count(_.contains("\"add\"")) == 2, log)
    // a null-condition row stays untouched; no-match commits nothing
    val v2 = DeltaInterop.updateDelta(spark, target,
      col("id") > 999L, Map("a" -> lit(0L)))
    assert(v2 == 1L)
    assert(!Files.exists(Paths.get(target, "_delta_log", "0" * 19 + "2.json")))
  }

  test("updateDelta writes update_preimage/postimage cdc on CDF tables") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_dupc_"),
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "x").repartition(1))
    val target = tmp("graft_dupc_t_")
    DeltaInterop.exportSnapshot(t, target)
    val v0 = Paths.get(target, "_delta_log", "0" * 20 + ".json")
    Files.write(v0, new String(Files.readAllBytes(v0), "UTF-8")
      .replace("\"configuration\":{}",
        "\"configuration\":{\"delta.enableChangeDataFeed\":\"true\"}")
      .getBytes("UTF-8"))
    Files.deleteIfExists(Paths.get(target, "_delta_log",
      "." + "0" * 20 + ".json.crc"))
    DeltaInterop.updateDelta(spark, target, col("id") === 2L,
      Map("x" -> (col("x") + 5L)))
    val changes = DeltaInterop.readDeltaChanges(spark, target, 1L, 1L)
      .select(col("id"), col("x"), col("_change_type"))
      .as[(Long, Long, String)].collect().toSet
    assert(changes == Set((2L, 20L, "update_preimage"),
      (2L, 25L, "update_postimage")), changes.toString)
    assert(DeltaInterop.readDelta(spark, target)
      .select("x").as[Long].collect().toSet == Set(10L, 25L, 30L))
  }

  test("updateDelta applies deletion vectors and refuses partition SET") {
    import spark.implicits._
    // DV table: update must not resurrect DV-struck rows
    val root = tmp("graft_dupdv_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    (0L until 6L).toDF("id").coalesce(1).write.parquet(root + "/d")
    var rel: String = null
    Files.list(Paths.get(root, "d")).forEach { p =>
      if (p.getFileName.toString.endsWith(".parquet"))
        rel = "d/" + p.getFileName.toString
    }
    val idxOf = spark.read.parquet(root + "/d")
      .select(col("id"), col("_metadata.row_index"))
      .as[(Long, Long)].collect().toMap
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val inline = graft.sources.DeletionVectors.serialize(Seq(idxOf(2L)))
    val padded = java.util.Arrays.copyOf(inline, (inline.length + 3) / 4 * 4)
    val z85dv = graft.sources.DeletionVectors.z85Encode(padded)
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{},"createdTime":1}}""",
      s"""{"add":{"path":"${esc(rel)}","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"$z85dv","sizeInBytes":${padded.length},"cardinality":1}}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    // live rows 0,1,3,4,5; add 100 to all of them
    DeltaInterop.updateDelta(spark, root, lit(true),
      Map("id" -> (col("id") + 100L)))
    val got = DeltaInterop.readDelta(spark, root)
      .select("id").as[Long].collect().toSet
    assert(got == Set(100L, 101L, 103L, 104L, 105L), got.toString)

    // partition-column SET refuses
    val t2 = GraftTable.create(spark, tmp("graft_dupp_"),
      Seq((1L, "A")).toDF("id", "seg"), partitionBy = Seq("seg"))
    val target2 = tmp("graft_dupp_t_")
    DeltaInterop.exportSnapshot(t2, target2)
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.updateDelta(spark, target2, lit(true),
        Map("seg" -> lit("B")))
    }
    assert(e.getMessage.contains("partition column"), e.getMessage)
  }

  test("mergeDelta upserts: replace matched, insert new, null keys insert") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_dm_"),
      Seq((1L, "old1", "A"), (2L, "old2", "A"), (3L, "old3", "B"))
        .toDF("id", "v", "seg").repartition(1),
      partitionBy = Seq("seg"))
    val target = tmp("graft_dm_t_")
    DeltaInterop.exportSnapshot(t, target)
    // source: update id=2 (moves nothing — seg stays), insert id=9,
    // and a NULL-key row which must INSERT per SQL join semantics
    val srcRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    srcRows.add(org.apache.spark.sql.Row(2L, "new2", "A"))
    srcRows.add(org.apache.spark.sql.Row(9L, "new9", "B"))
    srcRows.add(org.apache.spark.sql.Row(null, "nullrow", "B"))
    val srcSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("seg",
        org.apache.spark.sql.types.StringType)))
    val src = spark.createDataFrame(srcRows, srcSchema)
    val v = DeltaInterop.mergeDelta(src, target, Seq("id"))
    assert(v == 1L)
    val got = DeltaInterop.readDelta(spark, target)
      .select("id", "v", "seg").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        r.getString(1), r.getString(2))).toSet
    assert(got == Set((1L, "old1", "A"), (2L, "new2", "A"),
      (3L, "old3", "B"), (9L, "new9", "B"), (-1L, "nullrow", "B")),
      got.toString)
    val log = new String(Files.readAllBytes(Paths.get(target, "_delta_log",
      "0" * 19 + "1.json")), "UTF-8")
    assert(log.contains("\"operation\":\"MERGE\""), log.take(200))
    // only seg=A's file was rewritten (it held the matched id=2); the
    // seg=B file carries forward untouched
    val lines = log.trim.split('\n').toSeq
    val removes = lines.filter(_.contains("\"remove\""))
    assert(removes.size == 1 && removes.head.contains("seg=A"), log)
  }

  test("mergeDelta refuses duplicate source keys; duplicate null keys insert") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_dmdup_"),
      Seq((1L, "old1"), (2L, "old2")).toDF("id", "v"))
    val target = tmp("graft_dmdup_t_")
    DeltaInterop.exportSnapshot(t, target)
    // two source rows with the same key: Delta's MERGE ambiguity —
    // refuse loudly BEFORE any file moves
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.mergeDelta(
        Seq((2L, "a"), (2L, "b")).toDF("id", "v"), target, Seq("id"))
    }
    assert(e.getMessage.contains("unique source keys"), e.getMessage)
    assert(DeltaInterop.readDelta(spark, target).count() == 2) // untouched
    // several NULL-key source rows are NOT ambiguous (each inserts)
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    rows.add(org.apache.spark.sql.Row(null, "n1"))
    rows.add(org.apache.spark.sql.Row(null, "n2"))
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    DeltaInterop.mergeDelta(spark.createDataFrame(rows, sch), target,
      Seq("id"))
    assert(DeltaInterop.readDelta(spark, target).count() == 4)
  }

  test("appendToDelta enforces nullable=false columns") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_dnn_"),
      Seq((1L, "a")).toDF("id", "v"))
    val target = tmp("graft_dnn_t_")
    DeltaInterop.exportSnapshot(t, target)
    // graft reads its own parquet back nullable, so the export declares
    // nullable columns — tighten `id` to NOT NULL in the schemaString
    // the way a foreign writer would have declared it
    val logFile = Paths.get(target, "_delta_log", "0" * 20 + ".json")
    val doctored = new String(Files.readAllBytes(logFile), "UTF-8").replace(
      """{\"name\":\"id\",\"type\":\"long\",\"nullable\":true""",
      """{\"name\":\"id\",\"type\":\"long\",\"nullable\":false""")
    assert(doctored.contains("\\\"nullable\\\":false"), "schema patch missed")
    Files.write(logFile, doctored.getBytes("UTF-8"))
    Files.deleteIfExists(
      logFile.getParent.resolve("." + logFile.getFileName + ".crc"))
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType), // nullable input column
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    // null in a NOT NULL column: refused before any file lands
    val bad = new java.util.ArrayList[org.apache.spark.sql.Row]()
    bad.add(org.apache.spark.sql.Row(null, "x"))
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.appendToDelta(spark.createDataFrame(bad, sch), target)
    }
    assert(e.getMessage.contains("NOT NULL column 'id'"), e.getMessage)
    assert(DeltaInterop.readDelta(spark, target).count() == 1)
    // a NULLABLE input whose values are all non-null appends fine —
    // enforcement, not a structural refusal
    val good = new java.util.ArrayList[org.apache.spark.sql.Row]()
    good.add(org.apache.spark.sql.Row(2L, "b"))
    DeltaInterop.appendToDelta(spark.createDataFrame(good, sch), target)
    assert(DeltaInterop.readDelta(spark, target).count() == 2)
  }

  test("mergeDelta: pure-insert merge and cdc upsert feed") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_dmc_"),
      Seq((1L, 10L), (2L, 20L)).toDF("id", "x").repartition(1))
    val target = tmp("graft_dmc_t_")
    DeltaInterop.exportSnapshot(t, target)
    val v0 = Paths.get(target, "_delta_log", "0" * 20 + ".json")
    Files.write(v0, new String(Files.readAllBytes(v0), "UTF-8")
      .replace("\"configuration\":{}",
        "\"configuration\":{\"delta.enableChangeDataFeed\":\"true\"}")
      .getBytes("UTF-8"))
    Files.deleteIfExists(Paths.get(target, "_delta_log",
      "." + "0" * 20 + ".json.crc"))
    DeltaInterop.mergeDelta(Seq((2L, 25L), (3L, 30L)).toDF("id", "x"),
      target, Seq("id"))
    val changes = DeltaInterop.readDeltaChanges(spark, target, 1L, 1L)
      .select(col("id"), col("x"), col("_change_type"))
      .as[(Long, Long, String)].collect().toSet
    assert(changes == Set((2L, 20L, "update_preimage"),
      (2L, 25L, "update_postimage"), (3L, 30L, "insert")), changes.toString)
    assert(DeltaInterop.readDelta(spark, target)
      .select("x").as[Long].collect().toSet == Set(10L, 25L, 30L))
    // pure-insert merge (no key matches): append-shaped commit
    DeltaInterop.mergeDelta(Seq((7L, 70L)).toDF("id", "x"),
      target, Seq("id"))
    val log2 = new String(Files.readAllBytes(Paths.get(target, "_delta_log",
      "0" * 19 + "2.json")), "UTF-8")
    assert(!log2.contains("\"remove\""), log2)
    assert(DeltaInterop.readDelta(spark, target).count() == 4)
  }

  test("optimizeDelta bin-packs small files; dataChange=false everywhere") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_opt_"),
      Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("id", "seg")
        .repartition(1), partitionBy = Seq("seg"))
    val target = tmp("graft_opt_t_")
    DeltaInterop.exportSnapshot(t, target)
    // three more small appends: seg=A now holds 4 small files
    (4L to 6L).foreach { i =>
      DeltaInterop.appendToDelta(Seq((i, "A")).toDF("id", "seg"), target)
    }
    val before = DeltaInterop.readDelta(spark, target)
      .select("id", "seg").as[(Long, String)].collect().toSet
    val v = DeltaInterop.optimizeDelta(spark, target)
    assert(v == 4L)
    // identical rows, fewer files: seg=A's four -> one, seg=B untouched
    assert(DeltaInterop.readDelta(spark, target)
      .select("id", "seg").as[(Long, String)].collect().toSet == before)
    val log = new String(Files.readAllBytes(Paths.get(target, "_delta_log",
      "0" * 19 + "4.json")), "UTF-8")
    assert(log.contains("\"operation\":\"OPTIMIZE\""), log.take(200))
    assert(!log.contains("\"dataChange\":true"), log)
    val removes = log.split('\n').count(_.contains("\"remove\""))
    val adds = log.split('\n').count(_.contains("\"add\""))
    assert(removes == 4 && adds == 1, s"removes=$removes adds=$adds\n$log")
    assert(log.split('\n').filter(_.contains("\"add\""))
      .forall(_.contains("seg=A")), log)
    // no logical change: the optimize commit is CDF-invisible
    assert(DeltaInterop.readDeltaChanges(spark, target, 4L, 4L).count() == 0)
    // a second optimize finds nothing to compact: no-op, same version
    assert(DeltaInterop.optimizeDelta(spark, target) == 4L)
  }

  test("optimizeDelta materializes deletion vectors away") {
    import spark.implicits._
    import graft.sources.DeletionVectors
    val root = tmp("graft_optdv_")
    Seq.range(0L, 10L).toDF("id").coalesce(1).write.parquet(root)
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val dataFile = Files.list(Paths.get(root)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val rel = Paths.get(root).relativize(Paths.get(dataFile)).toString
    val idxOf = spark.read.parquet(dataFile)
      .select(col("id"), col("_metadata.row_index"))
      .as[(Long, Long)].collect().toMap
    val schemaJson = StructType(Seq(StructField("id", LongType))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val inline = DeletionVectors.serialize(Seq(idxOf(2L), idxOf(5L)))
    val padded = java.util.Arrays.copyOf(inline, (inline.length + 3) / 4 * 4)
    val z85dv = DeletionVectors.z85Encode(padded)
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{},"createdTime":1}}""",
      s"""{"add":{"path":"${esc(rel)}","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"$z85dv","sizeInBytes":${padded.length},"cardinality":2}}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    // the single DV-carrying file compacts even alone: DV materialized
    DeltaInterop.optimizeDelta(spark, root)
    assert(DeltaInterop.readDelta(spark, root)
      .select("id").as[Long].collect().toSet ==
      Set(0L, 1L, 3L, 4L, 6L, 7L, 8L, 9L))
    val log = new String(Files.readAllBytes(Paths.get(root, "_delta_log",
      "0" * 19 + "1.json")), "UTF-8")
    assert(!log.contains("deletionVector"), log)
    assert(!log.contains("\"dataChange\":true"), log)
  }

  test("checkpointDelta + cleanupDeltaLog: log compaction keeps reads green") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_cpd_"),
      Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("id", "seg")
        .repartition(1), partitionBy = Seq("seg"))
    val target = tmp("graft_cpd_t_")
    DeltaInterop.exportSnapshot(t, target)
    (4L to 6L).foreach { i =>
      DeltaInterop.appendToDelta(Seq((i, "B")).toDF("id", "seg"), target)
    }
    DeltaInterop.deleteFromDelta(spark, target, col("id") === 2L)
    val v = DeltaInterop.checkpointDelta(spark, target)
    assert(v == 4L)
    assert(Files.exists(Paths.get(target, "_delta_log",
      "0" * 19 + "4.checkpoint.parquet")))
    assert(Files.exists(Paths.get(target, "_delta_log", "_last_checkpoint")))
    // the checkpoint carries remove tombstones for the delete's rewrite
    val cp = spark.read.parquet(
      Paths.get(target, "_delta_log", "0" * 19 + "4.checkpoint.parquet")
        .toString)
    assert(cp.where(col("remove.path").isNotNull).count() >= 1)
    assert(cp.where(col("add.path").isNotNull).count() == 5)
    // cleanup drops the five covered commits; reads replay cp + tail
    val removed = DeltaInterop.cleanupDeltaLog(spark, target)
    assert(removed == 5, removed.toString)
    assert(!Files.exists(Paths.get(target, "_delta_log",
      "0" * 20 + ".json")))
    assert(DeltaInterop.readDelta(spark, target)
      .select("id", "seg").as[(Long, String)].collect().toSet ==
      Set((1L, "A"), (3L, "B"), (4L, "B"), (5L, "B"), (6L, "B")))
    // the table still takes commits on top of the compacted log
    DeltaInterop.appendToDelta(Seq((7L, "A")).toDF("id", "seg"), target)
    assert(DeltaInterop.readDelta(spark, target).count() == 6)
    // a second checkpoint at v5 supersedes v4's files on next cleanup
    DeltaInterop.checkpointDelta(spark, target)
    assert(DeltaInterop.cleanupDeltaLog(spark, target) == 2)
    assert(!Files.exists(Paths.get(target, "_delta_log",
      "0" * 19 + "4.checkpoint.parquet")))
    assert(DeltaInterop.readDelta(spark, target).count() == 6)
  }

  test("checkpointDelta preserves DV adds, txn watermarks, and identity") {
    import spark.implicits._
    import graft.sources.DeletionVectors
    val root = tmp("graft_cpdv_")
    Seq.range(0L, 10L).toDF("id").coalesce(1).write.parquet(root)
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val dataFile = Files.list(Paths.get(root)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val rel = Paths.get(root).relativize(Paths.get(dataFile)).toString
    val idxOf = spark.read.parquet(dataFile)
      .select(col("id"), col("_metadata.row_index"))
      .as[(Long, Long)].collect().toMap
    val schemaJson = StructType(Seq(StructField("id", LongType))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val inline = DeletionVectors.serialize(Seq(idxOf(3L)))
    val padded = java.util.Arrays.copyOf(inline, (inline.length + 3) / 4 * 4)
    val z85dv = DeletionVectors.z85Encode(padded)
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"table-id-42","name":"events","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{},"createdTime":77}}""",
      s"""{"txn":{"appId":"stream-1","version":5,"lastUpdated":9}}""",
      s"""{"add":{"path":"${esc(rel)}","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"$z85dv","sizeInBytes":${padded.length},"cardinality":1}}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val v = DeltaInterop.checkpointDelta(spark, root)
    assert(v == 0L)
    val cp = spark.read.parquet(
      Paths.get(root, "_delta_log", "0" * 20 + ".checkpoint.parquet")
        .toString)
    // txn watermark survives (a foreign streaming writer's exactly-once)
    assert(cp.where(col("txn.appId") === "stream-1")
      .select(col("txn.version")).as[Long].collect().toSeq == Seq(5L))
    // DV descriptor survives on the add
    assert(cp.where(col("add.deletionVector.storageType").isNotNull)
      .count() == 1)
    // table identity preserved, not regenerated
    assert(cp.where(col("metaData.id").isNotNull)
      .select(col("metaData.id"), col("metaData.name"),
        col("metaData.createdTime"))
      .as[(String, String, Long)].collect().toSeq ==
      Seq(("table-id-42", "events", 77L)))
    // protocol keeps both feature lists
    assert(cp.where(col("protocol.minReaderVersion").isNotNull)
      .select(col("protocol.readerFeatures")).as[Seq[String]]
      .collect().head == Seq("deletionVectors"))
    // reads through the checkpoint (JSON tail deleted) stay DV-filtered
    assert(DeltaInterop.cleanupDeltaLog(spark, root) == 1)
    assert(DeltaInterop.readDelta(spark, root)
      .select("id").as[Long].collect().toSet ==
      Set(0L, 1L, 2L, 4L, 5L, 6L, 7L, 8L, 9L))
  }

  test("checkpointDelta carries domainMetadata; clustering survives log cleanup") {
    import spark.implicits._
    // 4 hash-scattered files on a table declaring CLUSTER BY (id) state
    val target = tmp("graft_cpdm_t_")
    scala.util.Random.shuffle(Seq.range(0L, 400L))
      .map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4).write.parquet(target)
    DeltaInterop.convertParquetToDelta(spark, target)
    val cfg = """{\"clusteringColumns\":[[\"id\"]]}"""
    Files.write(Paths.get(target, "_delta_log", "0" * 19 + "1.json"),
      (s"""{"domainMetadata":{"domain":"delta.clustering","configuration":"$cfg","removed":false}}""" +
        "\n" +
        """{"domainMetadata":{"domain":"dead.domain","configuration":"{}","removed":true}}""")
        .concat("\n").getBytes("UTF-8"))
    // checkpoint no longer refuses: the latest per-domain state rides it
    val v = DeltaInterop.checkpointDelta(spark, target)
    assert(v == 1L)
    val cp = spark.read.parquet(
      Paths.get(target, "_delta_log", "0" * 19 + "1.checkpoint.parquet")
        .toString)
    val dms = cp.where(col("domainMetadata.domain").isNotNull)
      .select(col("domainMetadata.domain"),
        col("domainMetadata.configuration"),
        col("domainMetadata.removed"))
      .as[(String, String, Boolean)].collect().sortBy(_._1)
    assert(dms.map(_._1).toSeq == Seq("dead.domain", "delta.clustering"), dms.toSeq)
    assert(dms(1)._2.contains("clusteringColumns") && !dms(1)._3, dms.toSeq)
    assert(dms(0)._3, dms.toSeq) // removed tombstone carried as removed
    // drop the JSON tail: state now comes only from the checkpoint …
    assert(DeltaInterop.cleanupDeltaLog(spark, target) >= 1)
    assert(DeltaInterop.readDelta(spark, target).count() == 400)
    // … and OPTIMIZE still sees the clustering domain: with NO explicit
    // zorderBy it re-clusters by the declared column (disjoint ranges)
    DeltaInterop.optimizeDelta(spark, target, targetFileBytes = 4096L)
    val ranges = DeltaInterop.readDelta(spark, target)
      .groupBy(col("_metadata.file_path").as("f"))
      .agg(min("id").as("mn"), max("id").as("mx"))
      .select("mn", "mx").as[(Long, Long)].collect().sortBy(_._1)
    assert(ranges.length >= 2, s"expected a multi-file rewrite: ${ranges.toSeq}")
    ranges.sliding(2).foreach { case Array((_, mx1), (mn2, _)) =>
      assert(mx1 < mn2, s"overlapping ranges: ${ranges.toSeq}")
    }
    assert(DeltaInterop.readDelta(spark, target)
      .select("id").as[Long].collect().toSet == (0L until 400L).toSet)
  }

  test("clusterByDelta declares liquid clustering that OPTIMIZE then honors") {
    import spark.implicits._
    // plain unclustered table, 4 hash-scattered files
    val root = tmp("graft_lcdecl_")
    scala.util.Random.shuffle(Seq.range(0L, 400L))
      .map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4).write.parquet(root)
    DeltaInterop.convertParquetToDelta(spark, root)
    // declare CLUSTER BY (id): one metadata commit
    val v = DeltaInterop.clusterByDelta(spark, root, Seq("id"))
    assert(v == 1L)
    val commit = new String(Files.readAllBytes(
      Paths.get(root, "_delta_log", "0" * 19 + "1.json")), "UTF-8")
    // the protocol upgraded to the clustered-table writer feature and
    // the domain carries the declared columns
    assert(commit.contains("\"clusteredTable\"") &&
      commit.contains("\"domainMetadata\"") &&
      commit.contains("delta.clustering") &&
      commit.contains("clusteringColumns"), commit.take(800))
    // appends still land on the clustered table
    DeltaInterop.appendToDelta(
      Seq((400L, "v400"), (401L, "v401")).toDF("id", "v"), root)
    // OPTIMIZE with NO explicit zorderBy re-clusters by the DECLARED
    // column: disjoint per-file id ranges
    DeltaInterop.optimizeDelta(spark, root, targetFileBytes = 4096L)
    val ranges = DeltaInterop.readDelta(spark, root)
      .groupBy(col("_metadata.file_path").as("f"))
      .agg(min("id").as("mn"), max("id").as("mx"))
      .select("mn", "mx").as[(Long, Long)].collect().sortBy(_._1)
    assert(ranges.length >= 2, s"expected a multi-file rewrite: ${ranges.toSeq}")
    ranges.sliding(2).foreach { case Array((_, mx1), (mn2, _)) =>
      assert(mx1 < mn2, s"overlapping ranges: ${ranges.toSeq}")
    }
    assert(DeltaInterop.readDelta(spark, root)
      .select("id").as[Long].collect().toSet == (0L until 402L).toSet)
    // the checkpoint carries the declared domain (survives log cleanup)
    val cpv = DeltaInterop.checkpointDelta(spark, root)
    val cp = spark.read.parquet(
      Paths.get(root, "_delta_log", f"$cpv%020d.checkpoint.parquet").toString)
    assert(cp.where(col("domainMetadata.domain") === "delta.clustering")
      .count() == 1)
    // refusals: unknown column, partitioned table
    val eCol = intercept[IllegalArgumentException] {
      DeltaInterop.clusterByDelta(spark, root, Seq("nope"))
    }
    assert(eCol.getMessage.contains("not in the table schema"), eCol.getMessage)
    val tPart = GraftTable.create(spark, tmp("graft_lcpart_"),
      Seq((1L, "A"), (2L, "B")).toDF("id", "seg"), partitionBy = Seq("seg"))
    val partRoot = tmp("graft_lcpart_t_")
    DeltaInterop.exportSnapshot(tPart, partRoot)
    val ePart = intercept[IllegalArgumentException] {
      DeltaInterop.clusterByDelta(spark, partRoot, Seq("id"))
    }
    assert(ePart.getMessage.contains("partitioned"), ePart.getMessage)
  }

  test("vacuumDelta deletes unreferenced files, protects active + hidden") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_vac_"),
      Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("id", "seg")
        .repartition(1), partitionBy = Seq("seg"))
    val target = tmp("graft_vac_t_")
    DeltaInterop.exportSnapshot(t, target)
    // CoW delete rewrites seg=A's file: the original becomes
    // unreferenced; plus crashed-staging debris
    DeltaInterop.deleteFromDelta(spark, target, col("id") === 2L)
    val debris = Paths.get(target, "_graft_merge_dead", "seg=A")
    Files.createDirectories(debris)
    Files.write(debris.resolve("leftover.parquet"), Array[Byte](1, 2, 3))
    def countData() = {
      def rec(p: java.nio.file.Path): Long =
        Files.list(p).toArray.map(_.asInstanceOf[java.nio.file.Path]).map {
          q => if (Files.isDirectory(q)) rec(q)
          else if (q.toString.endsWith(".parquet")) 1L else 0L
        }.sum
      rec(Paths.get(target))
    }
    val before = countData()
    val expect = DeltaInterop.readDelta(spark, target)
      .select("id", "seg").as[(Long, String)].collect().toSet
    // retention far in the future deletes nothing
    assert(DeltaInterop.vacuumDelta(spark, target,
      retentionMs = 7L * 24 * 3600 * 1000) == 0L)
    assert(countData() == before)
    // retention 0: the rewritten-away original + debris go; the log,
    // active files, and reads stay intact
    val deleted = DeltaInterop.vacuumDelta(spark, target, retentionMs = 0L)
    assert(deleted >= 2, deleted.toString)
    assert(!Files.exists(debris.resolve("leftover.parquet")))
    assert(Files.exists(Paths.get(target, "_delta_log",
      "0" * 20 + ".json")))
    assert(DeltaInterop.readDelta(spark, target)
      .select("id", "seg").as[(Long, String)].collect().toSet == expect)
    assert(expect == Set((1L, "A"), (3L, "B")))
  }

  test("appendToDeltaTxn: idempotent epochs; watermark survives checkpoint") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_txn_"),
      Seq((0L, "seed")).toDF("id", "v"))
    val target = tmp("graft_txn_t_")
    DeltaInterop.exportSnapshot(t, target)
    val v1 = DeltaInterop.appendToDeltaTxn(
      Seq((1L, "b0")).toDF("id", "v"), target, "stream-A", 0L)
    assert(v1 == 1L)
    // replaying epoch 0 is a NO-OP — no commit, no duplicate rows
    assert(DeltaInterop.appendToDeltaTxn(
      Seq((1L, "b0")).toDF("id", "v"), target, "stream-A", 0L) == 1L)
    assert(DeltaInterop.readDelta(spark, target).count() == 2)
    // a DIFFERENT appId at the same version is independent
    DeltaInterop.appendToDeltaTxn(
      Seq((10L, "other")).toDF("id", "v"), target, "stream-B", 0L)
    val v3 = DeltaInterop.appendToDeltaTxn(
      Seq((2L, "b1")).toDF("id", "v"), target, "stream-A", 1L)
    assert(v3 == 3L)
    assert(DeltaInterop.lastDeltaTxnVersion(spark, target, "stream-A") == 1L)
    assert(DeltaInterop.lastDeltaTxnVersion(spark, target, "stream-B") == 0L)
    assert(DeltaInterop.lastDeltaTxnVersion(spark, target, "nobody") == -1L)
    // the watermark survives checkpoint + log cleanup (txn rows ride
    // the checkpoint) — replayed epochs STILL skip
    DeltaInterop.checkpointDelta(spark, target)
    assert(DeltaInterop.cleanupDeltaLog(spark, target) == 4)
    assert(DeltaInterop.appendToDeltaTxn(
      Seq((2L, "b1")).toDF("id", "v"), target, "stream-A", 1L) == 3L)
    assert(DeltaInterop.readDelta(spark, target).count() == 4)
    // and the next epoch commits normally
    DeltaInterop.appendToDeltaTxn(
      Seq((3L, "b2")).toDF("id", "v"), target, "stream-A", 2L)
    assert(DeltaInterop.readDelta(spark, target)
      .select("id").as[Long].collect().toSet == Set(0L, 1L, 2L, 3L, 10L))
  }

  test("racing twins of one appId epoch: the batch lands exactly once") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_txnr_"),
      Seq((0L, 0L)).toDF("id", "x"))
    val target = tmp("graft_txnr_t_")
    DeltaInterop.exportSnapshot(t, target)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futs = (1 to 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = DeltaInterop.appendToDeltaTxn(
            Seq((99L, i.toLong)).toDF("id", "x"), target, "twin", 7L)
        })
      }
      futs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    // exactly ONE twin committed its copy of epoch 7
    assert(DeltaInterop.readDelta(spark, target)
      .where(col("id") === 99L).count() == 1)
    assert(DeltaInterop.lastDeltaTxnVersion(spark, target, "twin") == 7L)
  }

  test("exactlyOnceDeltaAppender streams micro-batches into foreign Delta") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_txns_"),
      Seq((-1L, -1L)).toDF("id", "x"))
    val target = tmp("graft_txns_t_")
    DeltaInterop.exportSnapshot(t, target)
    val mem = {
      implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
      org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)]
    }
    mem.addData((1L, 10L), (2L, 20L))
    val ckpt = tmpDir("graft_txns_ck_").toString
    val q = mem.toDF().toDF("id", "x").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(DeltaInterop.exactlyOnceDeltaAppender(target, "mstream"))
      .start()
    try {
      mem.addData((3L, 30L))
      q.processAllAvailable()
    } finally q.stop()
    assert(DeltaInterop.readDelta(spark, target)
      .select("id").as[Long].collect().toSet == Set(-1L, 1L, 2L, 3L))
    // a zombie replay of the last epoch commits nothing
    val last = DeltaInterop.lastDeltaTxnVersion(spark, target, "mstream")
    DeltaInterop.exactlyOnceDeltaAppender(target, "mstream")(
      Seq((3L, 30L)).toDF("id", "x"), last)
    assert(DeltaInterop.readDelta(spark, target).count() == 4)
  }

  test("convertParquetToDelta registers a hive-partitioned dir in place") {
    import spark.implicits._
    val root = tmp("graft_cvt_")
    Seq((1L, "x1", "A"), (2L, "x2", "A"), (3L, "x3", "B"))
      .toDF("id", "v", "seg")
      .write.partitionBy("seg").parquet(root)
    val n = DeltaInterop.convertParquetToDelta(spark, root)
    assert(n >= 2)
    assert(DeltaInterop.readDelta(spark, root)
      .select("id", "v", "seg").as[(Long, String, String)]
      .collect().toSet == Set((1L, "x1", "A"), (2L, "x2", "A"),
      (3L, "x3", "B")))
    // partition pruning through the converted log
    assert(DeltaInterop.readDeltaWhere(spark, root, "seg", "B")
      .select("id").as[Long].collect().toSet == Set(3L))
    // the converted table takes normal commits
    DeltaInterop.appendToDelta(Seq((4L, "x4", "B")).toDF("id", "v", "seg"),
      root)
    DeltaInterop.deleteFromDelta(spark, root, col("id") === 1L)
    assert(DeltaInterop.readDelta(spark, root)
      .select("id").as[Long].collect().toSet == Set(2L, 3L, 4L))
    // converting twice refuses
    intercept[IllegalArgumentException] {
      DeltaInterop.convertParquetToDelta(spark, root)
    }
  }

  test("concurrent deleteFromDelta writers: both land through retries") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_ddelcc_"),
      Seq((1L, "A"), (2L, "B"), (3L, "C"), (4L, "D")).toDF("id", "seg"),
      partitionBy = Seq("seg"))
    val target = tmp("graft_ddelcc_t_")
    DeltaInterop.exportSnapshot(t, target)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq("A", "B").map { s =>
      new Thread(() =>
        try DeltaInterop.deleteFromDelta(spark, target, col("seg") === s)
        catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toString)
    val got = DeltaInterop.readDelta(spark, target)
      .select("id").as[Long].collect().toSet
    assert(got == Set(3L, 4L), got.toString)
    assert(Files.exists(Paths.get(target, "_delta_log", "0" * 19 + "2.json")))
  }

  test("restoreDelta: one metadata commit undoes deletes+appends; vacuum refuses") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_drst_"),
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val target = tmp("graft_drst_delta_")
    DeltaInterop.exportSnapshot(t, target) // version 0
    DeltaInterop.deleteFromDelta(spark, target, col("id") === 2L) // v1
    DeltaInterop.appendToDelta(Seq((4L, "d")).toDF("id", "v"), target) // v2
    assert(DeltaInterop.readDelta(spark, target)
      .select("id").as[Long].collect().toSet == Set(1L, 3L, 4L))
    assert(DeltaInterop.restoreDelta(spark, target, 0L) == 3L)
    assert(DeltaInterop.readDelta(spark, target)
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // the undone history stays time-travelable
    assert(DeltaInterop.readDelta(spark, target, Some(2L))
      .select("id").as[Long].collect().toSet == Set(1L, 3L, 4L))
    // restore FORWARD to the undone state works the same way
    assert(DeltaInterop.restoreDelta(spark, target, 2L) == 4L)
    assert(DeltaInterop.readDelta(spark, target)
      .select("id").as[Long].collect().toSet == Set(1L, 3L, 4L))
    // empty diff: restoring the current state commits nothing
    assert(DeltaInterop.restoreDelta(spark, target, 4L) == 4L)
    assert(!Files.exists(Paths.get(target, "_delta_log",
      "0" * 19 + "5.json")))
    // a version past the log refuses
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.restoreDelta(spark, target, 99L)
    }
    assert(e.getMessage.contains("not found"), e.getMessage)
    // vacuum kills the files version 0 needs → restore refuses loudly
    DeltaInterop.vacuumDelta(spark, target, retentionMs = 0L)
    val e2 = intercept[IllegalArgumentException] {
      DeltaInterop.restoreDelta(spark, target, 0L)
    }
    assert(e2.getMessage.contains("vacuumed"), e2.getMessage)
  }

  test("restoreDelta reverts schema and properties alongside the data") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_rstm_t_"),
      Seq((1L, "a")).toDF("id", "v"))
    val target = tmp("graft_rstm_")
    DeltaInterop.exportSnapshot(t, target) // v0: (id, v)
    DeltaInterop.addColumnToDelta(spark, target, "n", LongType) // v1
    DeltaInterop.setDeltaProperties(spark, target,
      Map("graft.k" -> "yes")) // v2
    DeltaInterop.appendToDelta(
      Seq((2L, "b", 7L)).toDF("id", "v", "n"), target) // v3
    // restore to v0: data AND schema AND properties revert
    DeltaInterop.restoreDelta(spark, target, 0L)
    val back = DeltaInterop.readDelta(spark, target)
    assert(back.columns.toSeq == Seq("id", "v"))
    assert(back.as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    // ... and the id survives (same table, not a re-created one)
    def metaIdOf(v: Long): String = {
      val txt = new String(Files.readAllBytes(
        Paths.get(target, "_delta_log", f"$v%020d.json")), "UTF-8")
      "\"metaData\":\\{\"id\":\"([^\"]+)\"".r
        .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    }
    assert(metaIdOf(0L).nonEmpty && metaIdOf(0L) == metaIdOf(4L))
    // restore FORWARD to v3: the widened schema + property come back
    DeltaInterop.restoreDelta(spark, target, 3L)
    val fwd = DeltaInterop.readDelta(spark, target)
    assert(fwd.columns.toSeq == Seq("id", "v", "n"))
    assert(fwd.as[(Long, String, Option[Long])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", Some(7L))))
  }

  test("restoreDelta re-adds deletion-vector descriptors byte-faithfully") {
    import spark.implicits._
    import graft.sources.DeletionVectors
    val root = tmp("graft_drstdv_")
    Seq.range(0L, 6L).toDF("id").coalesce(1).write.parquet(root)
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val dataFile = Files.list(Paths.get(root)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val rel = Paths.get(root).relativize(Paths.get(dataFile)).toString
    val idxOf = spark.read.parquet(dataFile)
      .select(col("id"), col("_metadata.row_index"))
      .as[(Long, Long)].collect().toMap
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{},"createdTime":1}}""",
      s"""{"add":{"path":"${esc(rel)}","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    // v1: row-level delete of ids 1,4 = remove + re-add with inline DV
    val inline = DeletionVectors.serialize(Seq(idxOf(1L), idxOf(4L)))
    val padded = java.util.Arrays.copyOf(inline, (inline.length + 3) / 4 * 4)
    val z85dv = DeletionVectors.z85Encode(padded)
    Files.write(Paths.get(root, "_delta_log", "0" * 19 + "1.json"), Seq(
      s"""{"remove":{"path":"${esc(rel)}","deletionTimestamp":2,"dataChange":true}}""",
      s"""{"add":{"path":"${esc(rel)}","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"$z85dv","sizeInBytes":${padded.length},"cardinality":2}}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(DeltaInterop.readDelta(spark, root)
      .select("id").as[Long].collect().toSet == Set(0L, 2L, 3L, 5L))
    // restore to v0: the full file is live again, no DV
    assert(DeltaInterop.restoreDelta(spark, root, 0L) == 2L)
    assert(DeltaInterop.readDelta(spark, root)
      .select("id").as[Long].collect().toSet == (0L to 5L).toSet)
    // restore forward to v1: the re-added add must CARRY the DV again
    assert(DeltaInterop.restoreDelta(spark, root, 1L) == 3L)
    assert(DeltaInterop.readDelta(spark, root)
      .select("id").as[Long].collect().toSet == Set(0L, 2L, 3L, 5L))
  }

  test("cloneDelta: zero-copy shallow clone diverges without touching the source") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_clsrc_t_"),
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val src = tmp("graft_clsrc_")
    DeltaInterop.exportSnapshot(t, src)
    DeltaInterop.deleteFromDelta(spark, src, col("id") === 3L) // src v1
    val dst = tmp("graft_cldst_")
    assert(DeltaInterop.cloneDelta(spark, src, dst) == 0L)
    assert(DeltaInterop.readDelta(spark, dst)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    // the clone diverges: append lands clone-local, a CoW delete
    // rewrites a SOURCE-owned file into the clone
    DeltaInterop.appendToDelta(Seq((4L, "d")).toDF("id", "v"), dst)
    DeltaInterop.deleteFromDelta(spark, dst, col("id") === 1L)
    assert(DeltaInterop.readDelta(spark, dst)
      .select("id").as[Long].collect().toSet == Set(2L, 4L))
    assert(DeltaInterop.readDelta(spark, src)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    // zero-retention VACUUM of the clone cannot reach source files
    DeltaInterop.vacuumDelta(spark, dst, retentionMs = 0L)
    assert(DeltaInterop.readDelta(spark, dst)
      .select("id").as[Long].collect().toSet == Set(2L, 4L))
    assert(DeltaInterop.readDelta(spark, src)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    // refusals: existing target, nested roots
    intercept[IllegalArgumentException] {
      DeltaInterop.cloneDelta(spark, src, dst)
    }
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.cloneDelta(spark, src, src + "/sub")
    }
    assert(e.getMessage.contains("nests"), e.getMessage)

    // clustering domains CARRY into the clone's commit 0; a
    // row-tracking source still refuses (the synthesized adds would
    // drop the source's row-id assignments)
    val cfg = """{\"clusteringColumns\":[[\"id\"]]}"""
    Files.write(Paths.get(src, "_delta_log", "0" * 19 + "2.json"),
      (s"""{"domainMetadata":{"domain":"delta.clustering","configuration":"$cfg","removed":false}}""" +
        "\n").getBytes("UTF-8"))
    val dst2 = tmp("graft_cldst2_")
    assert(DeltaInterop.cloneDelta(spark, src, dst2) == 0L)
    val commit0 = new String(Files.readAllBytes(
      Paths.get(dst2, "_delta_log", "0" * 20 + ".json")), "UTF-8")
    assert(commit0.contains("delta.clustering") &&
      commit0.contains("clusteringColumns"), commit0.take(600))
    Files.write(Paths.get(src, "_delta_log", "0" * 19 + "3.json"),
      ("""{"domainMetadata":{"domain":"delta.rowTracking","configuration":"{\"rowIdHighWaterMark\":5}","removed":false}}""" +
        "\n").getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException] {
      DeltaInterop.cloneDelta(spark, src, tmp("graft_cldst3_"))
    }
    assert(e2.getMessage.contains("rowTracking"), e2.getMessage)
  }

  test("cloneDelta rewrites on-disk DV descriptors to absolute p storage") {
    import spark.implicits._
    import graft.sources.DeletionVectors
    val root = tmp("graft_cldv_")
    Seq.range(0L, 10L).toDF("id").coalesce(1).write.parquet(root)
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val dataFile = Files.list(Paths.get(root)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val rel = Paths.get(root).relativize(Paths.get(dataFile)).toString
    val idxOf = spark.read.parquet(dataFile)
      .select(col("id"), col("_metadata.row_index"))
      .as[(Long, Long)].collect().toMap
    val uuid = new java.util.UUID(0x1122334455667788L, 0x99aabbccddeeff00L)
    val ub = java.nio.ByteBuffer.allocate(16)
    ub.putLong(uuid.getMostSignificantBits)
    ub.putLong(uuid.getLeastSignificantBits)
    val z85uuid = DeletionVectors.z85Encode(ub.array())
    val (off, size) = DeletionVectors.writeDvFile(
      spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(root, s"deletion_vector_$uuid.bin"),
      Seq(idxOf(2L), idxOf(5L)))
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{},"createdTime":1}}""",
      s"""{"add":{"path":"${esc(rel)}","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"$z85uuid","offset":$off,"sizeInBytes":$size,"cardinality":2}}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(DeltaInterop.readDelta(spark, root)
      .as[Long].collect().toSet == Set(0L, 1L, 3L, 4L, 6L, 7L, 8L, 9L))
    val dst = tmp("graft_cldv_dst_")
    DeltaInterop.cloneDelta(spark, root, dst)
    // the clone filters the same rows through the source's DV file
    assert(DeltaInterop.readDelta(spark, dst)
      .as[Long].collect().toSet == Set(0L, 1L, 3L, 4L, 6L, 7L, 8L, 9L))
    val v0 = new String(Files.readAllBytes(
      Paths.get(dst, "_delta_log", "0" * 20 + ".json")), "UTF-8")
    assert(v0.contains("\"storageType\":\"p\""), v0)
    assert(!v0.contains("\"storageType\":\"u\""), v0)
  }

  test("optimizeDelta ZORDER BY: full rewrite, disjoint ranges, data intact") {
    import spark.implicits._
    val target = tmp("graft_zord_")
    // 8 hash-scattered files: every file spans most of the id range
    scala.util.Random.shuffle(Seq.range(0L, 1000L)).toDF("id")
      .repartition(8).write.parquet(target)
    DeltaInterop.convertParquetToDelta(spark, target)
    val v = DeltaInterop.optimizeDelta(spark, target,
      targetFileBytes = 2048L, zorderBy = Seq("id"))
    assert(v == 1L)
    val back = DeltaInterop.readDelta(spark, target)
    assert(back.as[Long].collect().toSet == (0L until 1000L).toSet)
    // single-column z-order = a linear sort: per-file id ranges are
    // pairwise disjoint
    val ranges = back
      .groupBy(col("_metadata.file_path").as("f"))
      .agg(min("id").as("mn"), max("id").as("mx"))
      .select("mn", "mx").as[(Long, Long)].collect().sortBy(_._1)
    assert(ranges.length >= 2, s"expected a multi-file rewrite: $ranges")
    ranges.sliding(2).foreach { case Array((_, mx1), (mn2, _)) =>
      assert(mx1 < mn2, s"overlapping ranges: ${ranges.toSeq}")
    }
    // the commit is pure layout: dataChange=false adds+removes, no cdc
    val commit = new String(Files.readAllBytes(
      Paths.get(target, "_delta_log", "0" * 19 + "1.json")), "UTF-8")
    assert(!commit.contains("\"dataChange\":true"), commit.take(400))
    // 2-column z-curve: a corner quadrant of the grid lands in FEW
    // files, not smeared across all of them
    val target2 = tmp("graft_zord2_")
    scala.util.Random.shuffle(
      Seq.tabulate(1024)(i => (i % 32L, i / 32L))).toDF("x", "y")
      .repartition(8).write.parquet(target2)
    DeltaInterop.convertParquetToDelta(spark, target2)
    DeltaInterop.optimizeDelta(spark, target2,
      targetFileBytes = 2048L, zorderBy = Seq("x", "y"))
    val back2 = DeltaInterop.readDelta(spark, target2)
    assert(back2.as[(Long, Long)].collect().toSet ==
      Seq.tabulate(1024)(i => (i % 32L, i / 32L)).toSet)
    val boxes = back2
      .groupBy(col("_metadata.file_path").as("f"))
      .agg(min("x").as("mnx"), max("x").as("mxx"),
        min("y").as("mny"), max("y").as("mxy"))
      .select("mnx", "mxx", "mny", "mxy")
      .as[(Long, Long, Long, Long)].collect()
    assert(boxes.length >= 3, s"expected a multi-file rewrite: ${boxes.length}")
    val touching = boxes.count { case (mnx, mxx, mny, mxy) =>
      mnx <= 7 && mxx >= 0 && mny <= 7 && mxy >= 0 }
    assert(touching <= math.max(1, boxes.length / 2),
      s"quadrant smeared over $touching of ${boxes.length} files: " +
        boxes.mkString(", "))
  }

  test("timestamp time travel + history for foreign Delta logs") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_tts_t_"),
      Seq((1L, "a")).toDF("id", "v"))
    val target = tmp("graft_tts_")
    DeltaInterop.exportSnapshot(t, target) // v0
    DeltaInterop.appendToDelta(Seq((2L, "b")).toDF("id", "v"), target) // v1
    DeltaInterop.deleteFromDelta(spark, target, col("id") === 1L) // v2
    // pin the clock: rewrite each commitInfo timestamp AND the file
    // mtime (v0's export commit carries no commitInfo — the mtime
    // fallback serves it); v2 is set NON-monotonic (1500 < v1's 2000)
    // to exercise the adjustment
    Seq(0L -> 1000L, 1L -> 2000L, 2L -> 1500L).foreach { case (v, ts) =>
      val p = Paths.get(target, "_delta_log", f"$v%020d.json")
      val txt = new String(Files.readAllBytes(p), "UTF-8")
        .replaceAll("\"timestamp\":\\d+", s""""timestamp":$ts""")
      Files.write(p, txt.getBytes("UTF-8"))
      Files.deleteIfExists(p.getParent.resolve("." + p.getFileName + ".crc"))
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(ts))
    }
    val hist = DeltaInterop.deltaHistory(spark, target)
      .as[(Long, Long, String, String)].collect().toSeq
    // newest first; v2's 1500 adjusted to 2001; operations recorded
    assert(hist.map(h => (h._1, h._2)) ==
      Seq((2L, 2001L), (1L, 2000L), (0L, 1000L)), hist.toString)
    assert(hist.map(_._3) == Seq("DELETE", "WRITE", ""), hist)
    assert(DeltaInterop.deltaVersionAtTimestamp(spark, target, 1000L) == 0L)
    assert(DeltaInterop.deltaVersionAtTimestamp(spark, target, 1999L) == 0L)
    assert(DeltaInterop.deltaVersionAtTimestamp(spark, target, 2000L) == 1L)
    assert(DeltaInterop.deltaVersionAtTimestamp(spark, target, 9999L) == 2L)
    assert(DeltaInterop.readDeltaAsOfTimestamp(spark, target, 2000L)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    assert(DeltaInterop.readDeltaAsOfTimestamp(spark, target, 2001L)
      .select("id").as[Long].collect().toSet == Set(2L))
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.deltaVersionAtTimestamp(spark, target, 999L)
    }
    assert(e.getMessage.contains("precedes"), e.getMessage)
  }

  test("foreign Delta DDL: ADD COLUMN + property CRUD, identity preserved") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_ddl_t_"),
      Seq((1L, "a")).toDF("id", "v"))
    val target = tmp("graft_ddl_")
    DeltaInterop.exportSnapshot(t, target) // v0
    assert(DeltaInterop.addColumnToDelta(spark, target, "n",
      org.apache.spark.sql.types.IntegerType) == 1L)
    val widened = DeltaInterop.readDelta(spark, target)
    assert(widened.columns.toSeq == Seq("id", "v", "n"))
    assert(widened.as[(Long, String, Option[Int])].collect().toSeq ==
      Seq((1L, "a", None))) // old files null-fill the new column
    DeltaInterop.appendToDelta(Seq((2L, "b", 7)).toDF("id", "v", "n"),
      target)
    assert(DeltaInterop.readDelta(spark, target)
      .as[(Long, String, Option[Int])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", Some(7))))
    // duplicate names refuse, case-insensitively
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.addColumnToDelta(spark, target, "V",
        org.apache.spark.sql.types.IntegerType)
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // properties are live switches other writers respect
    DeltaInterop.setDeltaProperties(spark, target,
      Map("delta.appendOnly" -> "true"))
    val e2 = intercept[IllegalArgumentException] {
      DeltaInterop.deleteFromDelta(spark, target, col("id") === 1L)
    }
    assert(e2.getMessage.contains("append-only"), e2.getMessage)
    DeltaInterop.unsetDeltaProperties(spark, target,
      Seq("delta.appendOnly"))
    DeltaInterop.deleteFromDelta(spark, target, col("id") === 1L)
    assert(DeltaInterop.readDelta(spark, target)
      .select("id").as[Long].collect().toSeq == Seq(2L))
    // the table id survives every metadata re-commit
    def metaIdOf(v: Long): String = {
      val txt = new String(Files.readAllBytes(
        Paths.get(target, "_delta_log", f"$v%020d.json")), "UTF-8")
      "\"metaData\":\\{\"id\":\"([^\"]+)\"".r
        .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    }
    assert(metaIdOf(0L).nonEmpty && metaIdOf(0L) == metaIdOf(1L) &&
      metaIdOf(0L) == metaIdOf(3L))
    val ops = DeltaInterop.deltaHistory(spark, target)
      .select("operation").as[String].collect().toSeq
    assert(ops.contains("ADD COLUMNS") && ops.contains("SET TBLPROPERTIES")
      && ops.contains("UNSET TBLPROPERTIES"), ops.toString)
  }

  test("DeltaSource startingVersion skips the initial snapshot") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_dsv_t_"),
      Seq((1L, "a")).toDF("id", "v"))
    val target = tmp("graft_dsv_")
    DeltaInterop.exportSnapshot(t, target) // v0
    DeltaInterop.appendToDelta(Seq((2L, "b")).toDF("id", "v"), target) // v1
    DeltaInterop.appendToDelta(Seq((3L, "c")).toDF("id", "v"), target) // v2
    val name = "dsv_mem"
    val q = spark.readStream.format("graft.sources.v2.DeltaSource")
      .option("startingVersion", "2")
      .load(target)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // only commit 2 streamed — no snapshot, no commit 1
      assert(spark.table(name).select("id").as[Long].collect().toSet ==
        Set(3L))
      DeltaInterop.appendToDelta(Seq((4L, "d")).toDF("id", "v"), target)
      q.processAllAvailable()
      assert(spark.table(name).select("id").as[Long].collect().toSet ==
        Set(3L, 4L))
    } finally q.stop()
    // "latest": future commits only
    val name2 = "dsv_mem2"
    val q2 = spark.readStream.format("graft.sources.v2.DeltaSource")
      .option("startingVersion", "latest")
      .load(target)
      .writeStream.format("memory").queryName(name2)
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table(name2).count() == 0)
      DeltaInterop.appendToDelta(Seq((5L, "e")).toDF("id", "v"), target)
      q2.processAllAvailable()
      assert(spark.table(name2).select("id").as[Long].collect().toSet ==
        Set(5L))
    } finally q2.stop()
    // version 0 is the default snapshot behavior — refuse the alias
    intercept[Exception] {
      spark.readStream.format("graft.sources.v2.DeltaSource")
        .option("startingVersion", "0").load(target)
        .writeStream.format("memory").queryName("dsv_mem3")
        .outputMode("append").start().processAllAvailable()
    }
  }

  test("appendToDelta mergeSchema widens the table in the same commit") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_msch_t_"),
      Seq((1L, "a")).toDF("id", "v"))
    val target = tmp("graft_msch_")
    DeltaInterop.exportSnapshot(t, target) // v0
    // plain append with extra columns refuses and names the fix
    val e0 = intercept[Exception] {
      DeltaInterop.appendToDelta(
        Seq((2L, "b", 7L)).toDF("id", "v", "n"), target)
    }
    assert(e0.getMessage.contains("mergeSchema"), e0.getMessage)
    DeltaInterop.appendToDelta(
      Seq((2L, "b", 7L)).toDF("id", "v", "n"), target,
      mergeSchema = true) // v1: adds + metaData in ONE commit
    val widened = DeltaInterop.readDelta(spark, target)
    assert(widened.columns.toSeq == Seq("id", "v", "n"))
    assert(widened.as[(Long, String, Option[Long])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", Some(7L))))
    // identity preserved; exactly one commit landed
    def metaIdOf(v: Long): String = {
      val txt = new String(Files.readAllBytes(
        Paths.get(target, "_delta_log", f"$v%020d.json")), "UTF-8")
      "\"metaData\":\\{\"id\":\"([^\"]+)\"".r
        .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    }
    assert(metaIdOf(0L).nonEmpty && metaIdOf(0L) == metaIdOf(1L))
    assert(!Files.exists(Paths.get(target, "_delta_log",
      "0" * 19 + "2.json")))
    // mergeSchema still demands every EXISTING column
    val e1 = intercept[Exception] {
      DeltaInterop.appendToDelta(Seq(3L).toDF("id"), target,
        mergeSchema = true)
    }
    assert(e1.getMessage.contains("lacks table columns"), e1.getMessage)
    // a NAME-mapped table widens with a mapping id + physical name
    val root = tmp("graft_mschm_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    Seq((1L, "x")).toDF("a", "b")
      .select(col("a").as("col-1"), col("b").as("col-2"))
      .coalesce(1).write.parquet(root + "/d0")
    val f0 = Files.list(Paths.get(root, "d0")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val rel = Paths.get(root).relativize(Paths.get(f0)).toString
    def meta(phys: String, id: Int) =
      new org.apache.spark.sql.types.MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build()
    val schemaJson = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-1", 1)),
      StructField("v", StringType, nullable = true, meta("col-2", 2)))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"2"},"createdTime":1}}""",
      s"""{"add":{"path":"${esc(rel)}","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    DeltaInterop.appendToDelta(
      Seq((2L, "y", 42L)).toDF("id", "v", "extra"), root,
      mergeSchema = true)
    assert(DeltaInterop.readDelta(spark, root)
      .as[(Long, String, Option[Long])].collect().toSet ==
      Set((1L, "x", None), (2L, "y", Some(42L))))
    val v1 = new String(Files.readAllBytes(
      Paths.get(root, "_delta_log", "0" * 19 + "1.json")), "UTF-8")
    assert(v1.contains("\"delta.columnMapping.maxColumnId\":\"3\""), v1)
  }

  test("appendToDelta honors an explicit delta.checkpointInterval") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_ckpi_t_"),
      Seq((0L, "seed")).toDF("id", "v"))
    val target = tmp("graft_ckpi_")
    DeltaInterop.exportSnapshot(t, target) // v0
    DeltaInterop.appendToDelta(Seq((1L, "a")).toDF("id", "v"), target) // v1
    def cps = new java.io.File(target, "_delta_log").list()
      .count(_.matches("\\d{20}\\.checkpoint\\.parquet"))
    assert(cps == 0) // no property → no auto-checkpoint
    DeltaInterop.setDeltaProperties(spark, target,
      Map("delta.checkpointInterval" -> "2")) // v2
    DeltaInterop.appendToDelta(Seq((2L, "b")).toDF("id", "v"), target) // v3
    assert(cps == 0) // v3 % 2 != 0
    DeltaInterop.appendToDelta(Seq((3L, "c")).toDF("id", "v"), target) // v4
    assert(cps == 1) // v4 % 2 == 0 → checkpointed
    assert(Files.exists(Paths.get(target, "_delta_log", "_last_checkpoint")))
    assert(DeltaInterop.readDelta(spark, target)
      .select("id").as[Long].collect().toSet == Set(0L, 1L, 2L, 3L))
  }

  test("deleteFromDelta writes merged deletion vectors when enabled") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_dvw_t_"),
      Seq.range(0L, 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val target = tmp("graft_dvw_")
    DeltaInterop.exportSnapshot(t, target) // v0: one data file
    DeltaInterop.setDeltaProperties(spark, target,
      Map("delta.enableDeletionVectors" -> "true")) // v1 + protocol
    def dataFiles = new java.io.File(target).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    val before = dataFiles
    DeltaInterop.deleteFromDelta(spark, target,
      col("id") === 2L || col("id") === 5L) // v2: DV, no rewrite
    assert(dataFiles == before, "MoR delete must not rewrite data files")
    val v2 = new String(Files.readAllBytes(
      Paths.get(target, "_delta_log", "0" * 19 + "2.json")), "UTF-8")
    assert(v2.contains("\"storageType\":\"u\""), v2)
    assert(v2.contains("\"cardinality\":2"), v2)
    assert(DeltaInterop.readDelta(spark, target)
      .select("id").as[Long].collect().toSet ==
      (0L until 10L).toSet -- Set(2L, 5L))
    // a second delete MERGES into a fresh vector (old ∪ new)
    DeltaInterop.deleteFromDelta(spark, target, col("id") === 7L) // v3
    val v3 = new String(Files.readAllBytes(
      Paths.get(target, "_delta_log", "0" * 19 + "3.json")), "UTF-8")
    assert(v3.contains("\"cardinality\":3"), v3)
    assert(dataFiles == before)
    assert(DeltaInterop.readDelta(spark, target)
      .select("id").as[Long].collect().toSet ==
      (0L until 10L).toSet -- Set(2L, 5L, 7L))
    // time travel sees the pre-delete states
    assert(DeltaInterop.readDelta(spark, target, Some(2L))
      .count() == 8)
    assert(DeltaInterop.readDelta(spark, target, Some(1L))
      .count() == 10)
    // a FULLY-matched file still removes whole — no pointless vector
    DeltaInterop.deleteFromDelta(spark, target, col("id") >= 0L) // v4
    assert(DeltaInterop.readDelta(spark, target).count() == 0)
    val v4 = new String(Files.readAllBytes(
      Paths.get(target, "_delta_log", "0" * 19 + "4.json")), "UTF-8")
    assert(!v4.contains("deletionVector"), v4)
  }

  test("setDeltaProperties auto-upgrades the protocol for feature flags") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_pup_t_"),
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val target = tmp("graft_pup_")
    DeltaInterop.exportSnapshot(t, target) // v0, minWriter 2
    DeltaInterop.setDeltaProperties(spark, target,
      Map("delta.enableChangeDataFeed" -> "true")) // v1
    val v1 = new String(Files.readAllBytes(
      Paths.get(target, "_delta_log", "0" * 19 + "1.json")), "UTF-8")
    assert(v1.contains("\"minWriterVersion\":7"), v1)
    assert(v1.contains("changeDataFeed"), v1)
    assert(!v1.contains("readerFeatures"), v1) // CDF needs no reader bump
    // the upgraded contract WORKS: a delete now writes authoritative
    // cdc files the Change Data Feed reads back
    DeltaInterop.deleteFromDelta(spark, target, col("id") === 2L) // v2
    val changes = DeltaInterop.readDeltaChanges(spark, target, 2L, 2L)
    assert(changes.select("id", "_change_type")
      .as[(Long, String)].collect().toSet == Set((2L, "delete")))
    // a reader-feature flag bumps the reader half too
    DeltaInterop.setDeltaProperties(spark, target,
      Map("delta.enableDeletionVectors" -> "true")) // v3
    val v3 = new String(Files.readAllBytes(
      Paths.get(target, "_delta_log", "0" * 19 + "3.json")), "UTF-8")
    assert(v3.contains("\"minReaderVersion\":3"), v3)
    assert(v3.contains("\"readerFeatures\""), v3)
    assert(DeltaInterop.readDelta(spark, target)
      .select("id").as[Long].collect().toSet == Set(1L, 3L))
    // a property with no protocol obligation upgrades nothing
    val t2 = GraftTable.create(spark, tmp("graft_pup2_t_"),
      Seq((1L, "a")).toDF("id", "v"))
    val target2 = tmp("graft_pup2_")
    DeltaInterop.exportSnapshot(t2, target2)
    DeltaInterop.setDeltaProperties(spark, target2,
      Map("graft.custom" -> "x"))
    val w1 = new String(Files.readAllBytes(
      Paths.get(target2, "_delta_log", "0" * 19 + "1.json")), "UTF-8")
    assert(!w1.contains("\"protocol\""), w1)
  }

  test("foreign Delta ADD COLUMN assigns mapping id + physical name on mapped tables") {
    import spark.implicits._
    val root = tmp("graft_ddlmap_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    Seq((1L, "x")).toDF("a", "b")
      .select(col("a").as("col-1"), col("b").as("col-2"))
      .coalesce(1).write.parquet(root + "/d0")
    val f0 = Files.list(Paths.get(root, "d0")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val rel = Paths.get(root).relativize(Paths.get(f0)).toString
    def meta(phys: String, id: Int) =
      new org.apache.spark.sql.types.MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build()
    val schemaJson = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-1", 1)),
      StructField("v", StringType, nullable = true, meta("col-2", 2)))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"2"},"createdTime":1}}""",
      s"""{"add":{"path":"${esc(rel)}","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    DeltaInterop.addColumnToDelta(spark, root, "extra", LongType)
    assert(DeltaInterop.readDelta(spark, root)
      .as[(Long, String, Option[Long])].collect().toSeq ==
      Seq((1L, "x", None)))
    // the appended row writes the new column under its PHYSICAL name
    DeltaInterop.appendToDelta(
      Seq((2L, "y", 42L)).toDF("id", "v", "extra"), root)
    assert(DeltaInterop.readDelta(spark, root)
      .as[(Long, String, Option[Long])].collect().toSet ==
      Set((1L, "x", None), (2L, "y", Some(42L))))
    val v1 = new String(Files.readAllBytes(
      Paths.get(root, "_delta_log", "0" * 19 + "1.json")), "UTF-8")
    assert(v1.contains("\"delta.columnMapping.maxColumnId\":\"3\""), v1)
    assert(v1.contains("delta.columnMapping.physicalName"), v1)
  }
}
