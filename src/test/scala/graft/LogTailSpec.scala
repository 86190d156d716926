package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, TableProvider}
import org.apache.spark.sql.execution.streaming.runtime.SerializedOffset
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{DeltaInterop, GraftTable, IcebergInterop}
import graft.sources.v2.LogTailStream

/** One table per tailed format (graft, Delta, Iceberg), each holding
  * (1, "a") at its first key, behind the same streaming-source surface. */
object TailFormats {
  final class Tail(val name: String, val format: String, val capOption: String,
      field: String, val path: String, first: Long, commit: DataFrame => Long) {
    /** the table's log keys so far, oldest first */
    val keys = scala.collection.mutable.Buffer(first)
    def append(df: DataFrame): Unit = keys += commit(df)
    /** the offset JSON a checkpoint holds for `key` */
    def json(key: Long): String = s"""{"$field":$key}"""
  }

  def all(spark: SparkSession): Seq[Tail] = {
    import spark.implicits._
    val g = GraftTable.create(spark, TestSpark.tmp("graft_tail_g_"),
      Seq((1L, "a")).toDF("id", "v"))
    val d = TestSpark.tmp("graft_tail_delta_")
    DeltaInterop.exportSnapshot(g, d)
    val i = TestSpark.tmp("graft_tail_ice_")
    IcebergInterop.exportSnapshot(g, i)
    def head() = IcebergInterop.icebergRefSnapshot(spark, i, "main")
    var deltaVersion = 0L
    Seq(
      new Tail("graft", "graft.sources.v2.GraftSource", "maxCommitsPerTrigger",
        "version", g.root, 0L, df => { g.append(df); g.latestVersion().toLong }),
      new Tail("delta", "graft.sources.v2.DeltaSource", "maxCommitsPerTrigger",
        "version", d, 0L, df => {
          DeltaInterop.appendToDelta(df, d); deltaVersion += 1; deltaVersion }),
      new Tail("iceberg", "graft.sources.v2.IcebergSource", "maxSnapshotsPerTrigger",
        "snapshotId", i, head(), df => { IcebergInterop.appendToIceberg(df, i); head() }))
  }

  private def provider(format: String): TableProvider =
    Class.forName(format).getDeclaredConstructor().newInstance()
      .asInstanceOf[TableProvider]

  /** The format's micro-batch stream, built the way Spark builds it. */
  def stream(t: Tail, opts: Map[String, String] = Map.empty): LogTailStream = {
    val p = provider(t.format)
    val o = new CaseInsensitiveStringMap((opts + ("path" -> t.path)).asJava)
    p.getTable(p.inferSchema(o), Array.empty, o.asCaseSensitiveMap())
      .asInstanceOf[SupportsRead].newScanBuilder(o).build()
      .toMicroBatchStream("").asInstanceOf[LogTailStream]
  }

  /** The format's change-feed source (the V1 `readChangeFeed` path). */
  def cdfSource(spark: SparkSession, t: Tail)
      : org.apache.spark.sql.execution.streaming.Source =
    provider(t.format).asInstanceOf[org.apache.spark.sql.sources.StreamSourceProvider]
      .createSource(spark.sqlContext, "", None, t.format,
        Map("path" -> t.path, "readChangeFeed" -> "true"))
}

/** Checkpoint compatibility of the tailing sources' offsets: each
  * serializes to the exact string earlier releases wrote, and reads that
  * string back — restart specs cannot pin this, since both of their runs
  * write and read with the same code. */
class LogTailSpec extends AnyFunSuite {
  import TestSpark._

  test("micro-batch offsets keep their checkpoint JSON: {\"version\":N} / {\"snapshotId\":N}") {
    import spark.implicits._
    for (t <- TailFormats.all(spark)) {
      (2L to 4L).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
      val s = TailFormats.stream(t)
      val latest = t.keys.last
      if (t.name != "iceberg")
        assert(t.json(latest) == """{"version":3}""", t.name)
      else assert(t.json(latest) == s"""{"snapshotId":$latest}""")
      assert(s.latestOffset().json == t.json(latest), t.name)
      assert(s.initialOffset().json == t.json(-1L), t.name)
      // a checkpointed offset reads back and drives admission from there
      val back = s.deserializeOffset(t.json(t.keys(2)))
      assert(back.json == t.json(t.keys(2)), t.name)
      assert(s.latestOffset(back, s.getDefaultReadLimit).json == t.json(latest), t.name)
    }
  }

  test("change-feed offsets keep their checkpoint JSON: the bare key") {
    import spark.implicits._
    for (t <- TailFormats.all(spark) if t.name != "graft") {
      (2L to 4L).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
      val src = TailFormats.cdfSource(spark, t)
      val latest = t.keys.last
      assert(src.getOffset.map(_.json).contains(latest.toString), t.name)
      // the engine hands a restarted V1 source its offsets as the
      // checkpoint's strings; the batch is a streaming DataFrame, so
      // collect it with the batch-only check off
      val rows = src.getBatch(Some(SerializedOffset(t.keys(2).toString)),
        SerializedOffset(latest.toString))
      val check = "spark.sql.streaming.unsupportedOperationCheck"
      spark.conf.set(check, "false")
      try assert(rows.select("id").as[Long].collect().toSeq == Seq(4L), t.name)
      finally spark.conf.unset(check)
    }
  }
}
