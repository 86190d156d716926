package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FileMeta, FilePartValue, FileValueLookup}

/** The single-scan snapshot assembly (r17) keys per-file partition
  * values on `_metadata.file_path` — these pin (a) the FileMeta.path
  * rendering against what a real scan yields, including
  * percent-encoded paths, and (b) FilePartValue's lookup/null
  * semantics in both eval and codegen. */
class FileMetaExprSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local("filemeta-spec", 4)

  test("FileMeta.path matches _metadata.file_path, incl. encoded paths") {
    import spark.implicits._
    val root = TestSpark.tmpDir("graft_fme_").toString
    // a dir needing percent-encoding (space) — the rendering trap:
    // Path.toString decodes, makeQualified(..).toUri renders file:///
    val dir = root + "/seg=a b"
    Seq((1L, "x")).toDF("id", "v").coalesce(1).write.parquet(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val df = spark.read.schema("id long, v string")
      .option("recursiveFileLookup", "true").parquet(dir)
      .select(col("_metadata.file_path").as("fp"))
    val scanPaths = df.collect().map(_.getString(0)).toSet
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val listed = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.toString).filter(_.endsWith(".parquet"))
      .map(FileMeta.path(_, conf)).toSet
    assert(listed == scanPaths, s"listed=$listed scan=$scanPaths")
    assert(scanPaths.head.contains("seg=a%20b"))
  }

  test("FilePartValue: indexed lookup, null slots, unknown files") {
    val m = new java.util.HashMap[UTF8String, Array[UTF8String]]()
    m.put(UTF8String.fromString("file:/t/f1.parquet"),
      Array(UTF8String.fromString("7"), null))
    val lk = new FileValueLookup(m)
    val bridge = org.apache.spark.sql.graftbridge.ColumnBridge
    import spark.implicits._
    val df = Seq("file:/t/f1.parquet", "file:/t/unknown.parquet")
      .toDF("f")
      .select(
        bridge.column(FilePartValue(bridge.expression(col("f")), 0, lk))
          .cast("int").as("v0"),
        bridge.column(FilePartValue(bridge.expression(col("f")), 1, lk))
          .as("v1"))
    val rows = df.collect()
    assert(rows(0).getInt(0) == 7 && rows(0).isNullAt(1))
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
  }
}
