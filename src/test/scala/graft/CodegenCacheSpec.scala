package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.metrics.Codegen
import graft.sources.{DeltaInterop, GraftTable, IcebergInterop}

/** A warm lakehouse round must not recompile Spark's generated classes.
  * One round is append + MERGE + UPDATE + DELETE + a current read on
  * a GraftTable, a Delta table and an Iceberg table, with the same
  * literals every round; the round cycles through more classes than
  * Spark's default cache of 100 holds, so with that cap the same
  * classes are compiled again every round. It also fails when a plan
  * of the round carries a LIMIT inside a generated stage (Spark names
  * the limit counter from a JVM-wide sequence, so every plan compiles
  * anew), or when the executor loads a cached relation's classes
  * through a per-session class loader (`cache()` clones the session). */
class CodegenCacheSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def base: DataFrame =
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v")

  /** One round on every format; the DELETE removes what the round
    * added, so every round starts from the same rows. */
  private def round(graft: String, delta: String, iceberg: String): Unit = {
    val added = Seq((100L, "x"), (101L, "y")).toDF("id", "v")
    val source = Seq((100L, "m"), (102L, "n")).toDF("id", "v")
    val t = GraftTable.load(spark, graft)
    t.append(added)
    t.merge(source, Seq("id"))
    t.update(col("id") === 101L, Map("v" -> lit("u")))
    t.delete(col("id") >= 100L)
    t.read().collect()
    DeltaInterop.appendToDelta(added, delta)
    DeltaInterop.mergeDelta(source, delta, Seq("id"))
    DeltaInterop.updateDelta(spark, delta, col("id") === 101L, Map("v" -> lit("u")))
    DeltaInterop.deleteFromDelta(spark, delta, col("id") >= 100L)
    DeltaInterop.readDelta(spark, delta).collect()
    IcebergInterop.appendToIceberg(added, iceberg)
    IcebergInterop.mergeIceberg(source, iceberg, Seq("id"))
    IcebergInterop.updateIceberg(spark, iceberg, col("id") === 101L,
      Map("v" -> lit("u")))
    IcebergInterop.deleteFromIceberg(spark, iceberg, col("id") >= 100L)
    IcebergInterop.readIceberg(spark, iceberg).collect(): Unit
  }

  test("a repeated three-format DML round compiles no new generated class") {
    val graft = tmp("graft_codegen_")
    val src = GraftTable.create(spark, graft, base)
    val delta = tmp("graft_codegen_delta_")
    DeltaInterop.exportSnapshot(src, delta)
    val iceberg = tmp("graft_codegen_iceberg_")
    IcebergInterop.exportSnapshot(src, iceberg)
    // the row-level writers need format v2
    val md = Paths.get(iceberg, "metadata", "v1.metadata.json")
    Files.write(md, new String(Files.readAllBytes(md), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 2")
      .getBytes("UTF-8"))
    Files.deleteIfExists(Paths.get(iceberg, "metadata", ".v1.metadata.json.crc"))

    // the first round takes every table to its steady shape (deletion
    // vectors, delete files); the second fills the cache
    round(graft, delta, iceberg)
    round(graft, delta, iceberg)
    val c0 = Codegen.compiles()
    round(graft, delta, iceberg)
    val again = Codegen.compiles() - c0
    assert(again.count == 0,
      s"the repeated round compiled ${again.count} classes in ${again.ms} ms")
    Seq(GraftTable.load(spark, graft).read(), DeltaInterop.readDelta(spark, delta),
        IcebergInterop.readIceberg(spark, iceberg)).foreach { df =>
      assert(df.orderBy("id").as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    }
  }
}
