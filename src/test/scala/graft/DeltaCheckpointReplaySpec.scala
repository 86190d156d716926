package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark._

/** A Delta replay from a checkpoint must reach exactly the state a full
  * JSON replay of the same log reaches, for every checkpoint shape graft
  * writes, and it must start no Spark job: the checkpoint rows are
  * decoded on the driver. */
class DeltaCheckpointReplaySpec extends AnyFunSuite {
  import spark.implicits._

  /** Spark jobs started while `f` runs on this thread. The listener bus
    * is FIFO: once a later marker job's end arrives, every start of the
    * measured jobs has been delivered. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val (group, marker) = ("graft-replay", "graft-replay-drained")
    val jobs = new AtomicInteger(0)
    val drained = new CountDownLatch(1)
    @volatile var markerJob = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => markerJob = e.jobId
          case _ => ()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "replay")
      val out = f
      sc.setJobGroup(marker, "drain")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS))
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Everything a replay yields. The file map is compared as a map: a
    * checkpoint keeps no commit order. Tombstones of active paths are
    * left out: a commit that replaces a file in place may list its
    * remove after its add, and a checkpoint never carries those. */
  private def replayState(root: String) = {
    val c = new DeltaInterop.CheckpointCollector()
    val st = DeltaInterop.replaySnapshot(spark, root, None, Some(c))
    val active = st.active.toMap
    (st.copy(active = Nil), active, c.tombstones.toMap -- active.keys,
      c.txns.toMap, c.domains.toMap,
      (c.metaId, c.metaName, c.metaDescription, c.createdTime),
      (c.minReader, c.readerFeatures))
  }

  private def logFiles(root: String): Seq[Path] = {
    val it = Files.list(Paths.get(root, "_delta_log")).iterator()
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
  }

  /** Checkpoint `root` (`check` sees the checkpoint's version), land
    * one more commit as a JSON tail, then replay it from the checkpoint,
    * counting jobs, and again with every checkpoint file removed, and
    * compare. Returns the checkpoint replay's snapshot. */
  private def checkReplay(root: String, check: Long => Unit = _ => ())
      : DeltaInterop.DeltaSnapshot = {
    val v = DeltaInterop.checkpointDelta(spark, root)
    check(v)
    DeltaInterop.appendToDelta(rows(300 until 302, "z"), root)
    val (fromCheckpoint, jobs) = jobsDuring(replayState(root))
    assert(jobs == 0, s"a replay over the checkpoint at $v ran $jobs Spark jobs")
    assert(fromCheckpoint._1.version == v + 1)
    logFiles(root).map(_.getFileName.toString)
      .filter(n => n.contains(".checkpoint.") || n == "_last_checkpoint")
      .foreach(n => Files.delete(Paths.get(root, "_delta_log", n)))
    val sidecars = Paths.get(root, "_delta_log", "_sidecars")
    if (Files.exists(sidecars)) {
      Files.list(sidecars).toArray.foreach(p => Files.delete(p.asInstanceOf[Path]))
      Files.delete(sidecars)
    }
    val fromJson = replayState(root)
    assert(fromCheckpoint == fromJson)
    fromCheckpoint._1.copy(active = fromCheckpoint._2.toSeq)
  }

  private def rows(ids: Range, tag: String) =
    ids.map(i => (i.toLong, s"$tag$i", if (i % 2 == 0) "A" else "B"))
      .toDF("id", "v", "seg")

  /** A Delta table with appends, a txn append, a DELETE and an UPDATE
    * behind it: adds, removes, a setTransaction watermark and, with the
    * table's features, deletion vectors, row ids and domains. */
  private def table(props: Map[String, String] = Map.empty,
      partitionBy: Seq[String] = Nil): String = {
    val t = GraftTable.create(spark, tmp("graft_cpr_src_"),
      rows(0 until 12, "v").repartition(3), partitionBy)
    val root = tmp("graft_cpr_")
    DeltaInterop.exportSnapshot(t, root)
    if (props.nonEmpty) DeltaInterop.setDeltaProperties(spark, root, props)
    history(root)
    root
  }

  private def history(root: String): Unit = {
    DeltaInterop.appendToDelta(rows(100 until 104, "a"), root)
    DeltaInterop.appendToDeltaTxn(rows(200 until 202, "t"), root, "app-1", 7L)
    DeltaInterop.deleteFromDelta(spark, root, col("id") === 3L)
    DeltaInterop.updateDelta(spark, root, col("id") === 5L, Map("v" -> lit("u")))
  }

  test("v1 single-part checkpoint of a partitioned table replays like its JSON log") {
    val st = checkReplay(table(partitionBy = Seq("seg")))
    assert(st.partCols == Seq("seg"))
  }

  test("multi-part checkpoint replays like its JSON log") {
    val root = table()
    spark.conf.set("spark.graft.delta.checkpointPartSize", "3")
    try checkReplay(root, v => {
      val parts = logFiles(root).map(_.getFileName.toString)
        .filter(_.matches(f"$v%020d\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet"))
      assert(parts.size > 1, parts)
    })
    finally spark.conf.unset("spark.graft.delta.checkpointPartSize")
  }

  test("v2 checkpoint with a sidecar replays like its JSON log") {
    val root = table(Map("delta.checkpointPolicy" -> "v2"))
    checkReplay(root, _ => {
      assert(Files.list(Paths.get(root, "_delta_log", "_sidecars"))
        .toArray.nonEmpty)
      val c = new DeltaInterop.CheckpointCollector()
      DeltaInterop.replaySnapshot(spark, root, None, Some(c))
      assert(c.baseWasV2)
    })
  }

  test("deletion-vector checkpoint replays like its JSON log") {
    val st = checkReplay(table(Map("delta.enableDeletionVectors" -> "true")))
    assert(st.active.exists(_._2._2.isDefined), "no deletion vector to replay")
  }

  test("row-tracking checkpoint replays like its JSON log") {
    val st = checkReplay(table(Map("delta.enableRowTracking" -> "true",
      "delta.enableDeletionVectors" -> "true")))
    assert(st.rowIds.nonEmpty && st.rowIdHighWaterMark.isDefined)
  }

  /** A column-mapped table in `mode`, built from a hand-written first
    * commit (graft creates no column-mapped table itself). */
  private def mappedTable(mode: String): String = {
    val root = tmp(s"graft_cpr_cm_${mode}_")
    Files.createDirectories(Paths.get(root, "_delta_log"))
    def meta(phys: String, id: Int) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id).build()
    val schemaJson = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-1", 1)),
      StructField("v", StringType, nullable = true, meta("col-2", 2)),
      StructField("seg", StringType, nullable = true, meta("col-3", 3)))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(root, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"$mode","delta.columnMapping.maxColumnId":"3"},"createdTime":1}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    DeltaInterop.appendToDelta(rows(0 until 12, "v").repartition(3), root)
    history(root)
    root
  }

  test("column-mapped checkpoints (name and id mode) replay like their JSON logs") {
    Seq("name", "id").foreach { mode =>
      val root = mappedTable(mode)
      val st = checkReplay(root)
      assert(st.colMapMode == mode)
      assert(DeltaInterop.readDelta(spark, root).count() == 19)
    }
  }
}
