package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{DeltaInterop, GraftTable, Merge}

/** Full-clause foreign MERGE semantics (conditional clauses, partial
  * SET, MATCHED DELETE, NOT MATCHED BY SOURCE) + the constraint
  * enforcement shared with UPDATE. */
class MergeClausesSpec extends AnyFunSuite {
  import TestSpark._

  private def export(rows: Seq[(Long, String, Double)]): String = {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_mc_src_"),
      rows.toDF("id", "v", "bal"))
    val target = tmp("graft_mc_delta_")
    DeltaInterop.exportSnapshot(t, target)
    target
  }

  private def readAll(target: String): Map[Long, (String, Double)] = {
    import spark.implicits._
    DeltaInterop.readDelta(spark, target)
      .select($"id", $"v", $"bal").as[(Long, String, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
  }

  test("every clause family in one merge: cond delete, partial SET, cond insert, by-source") {
    import spark.implicits._
    val target = export(Seq(
      (1L, "t1", -5.0),  // matched, bal<0 -> DELETE
      (2L, "t2", 10.0),  // matched -> partial SET bal = src.bal + 1
      (3L, "t3", 20.0),  // not matched by source, id%5!=0 -> carried
      (5L, "t5", 30.0),  // not matched by source, id%5=0 -> DELETE
      (6L, "t6", 40.0))) // matched -> partial SET
    val src = Seq(
      (1L, "s1", 100.0), (2L, "s2", 200.0), (6L, "s6", 300.0),
      (7L, "s7", 9000.0),  // unmatched, bal>5000 -> INSERT
      (8L, "s8", 1.0))     // unmatched, bal<=5000 -> no insert
      .toDF("id", "v", "bal")
    DeltaInterop.mergeDeltaClauses(src, target, Seq("id"),
      matched = Seq(
        Merge.MatchedDelete(Some($"bal" < 0)), // target's bal
        Merge.MatchedUpdate(None,
          Map("bal" -> (Merge.source("bal") + lit(1.0))))),
      notMatched = Seq(Merge.NotMatchedInsert(Some($"bal" > 5000))),
      notMatchedBySource = Seq(
        Merge.BySourceDelete(Some($"id" % 5 === 0))))
    val got = readAll(target)
    // partial SET: v stays the TARGET's, only bal changes
    assert(got == Map(
      2L -> (("t2", 201.0)), 3L -> (("t3", 20.0)),
      6L -> (("t6", 301.0)), 7L -> (("s7", 9000.0))), got)
  }

  test("first matching clause wins; unmatched-by-any-clause rows carry") {
    import spark.implicits._
    val target = export(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    val src = Seq((1L, "x", 100.0), (2L, "y", 200.0), (3L, "z", 300.0))
      .toDF("id", "v", "bal")
    DeltaInterop.mergeDeltaClauses(src, target, Seq("id"),
      matched = Seq(
        Merge.MatchedUpdate(Some($"id" === 1L),
          Map("v" -> lit("first"))),
        // id=1 also passes this cond, but the FIRST clause already won
        Merge.MatchedUpdate(Some($"id" <= 2L),
          Map("v" -> lit("second"))),
        Merge.MatchedDelete(Some($"id" === 99L)))) // fires on nothing
    val got = readAll(target)
    assert(got == Map(1L -> (("first", 1.0)), 2L -> (("second", 2.0)),
      3L -> (("c", 3.0))), got)
  }

  test("by-source UPDATE (full-sync flagging) and insert-only merge") {
    import spark.implicits._
    val target = export(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    // flag target rows absent from the source instead of deleting them
    DeltaInterop.mergeDeltaClauses(
      Seq((1L, "a2", 10.0)).toDF("id", "v", "bal"), target, Seq("id"),
      matched = Seq(Merge.MatchedUpdate()),
      notMatchedBySource = Seq(
        Merge.BySourceUpdate(None, Map("v" -> lit("stale")))))
    assert(readAll(target) == Map(1L -> (("a2", 10.0)),
      2L -> (("stale", 2.0))))
    // insert-only merge: matched rows untouched, new keys land
    DeltaInterop.mergeDeltaClauses(
      Seq((1L, "nope", 0.0), (9L, "new", 9.0)).toDF("id", "v", "bal"),
      target, Seq("id"),
      notMatched = Seq(Merge.NotMatchedInsert()))
    val got = readAll(target)
    assert(got(1L) == (("a2", 10.0)) && got(9L) == (("new", 9.0)), got)
  }

  test("cdc feed carries update pre/post, delete, and insert rows") {
    import spark.implicits._
    val target = export(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    DeltaInterop.setDeltaProperties(spark, target,
      Map("delta.enableChangeDataFeed" -> "true"))
    val v0 = 1L // property commit landed version 1
    DeltaInterop.mergeDeltaClauses(
      Seq((1L, "a2", 10.0), (2L, "x", 0.0), (9L, "new", 9.0))
        .toDF("id", "v", "bal"), target, Seq("id"),
      matched = Seq(
        Merge.MatchedDelete(Some(Merge.source("bal") === 0.0)),
        Merge.MatchedUpdate()),
      notMatched = Seq(Merge.NotMatchedInsert()))
    val feed = DeltaInterop.readDeltaChanges(spark, target, v0 + 1, v0 + 1)
      .select($"id", $"_change_type").as[(Long, String)].collect().toSet
    assert(feed == Set((1L, "update_preimage"), (1L, "update_postimage"),
      (2L, "delete"), (9L, "insert")), feed)
  }

  test("merge and update ENFORCE CHECK constraints and NOT NULL") {
    import spark.implicits._
    val target = export(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    // declare a CHECK constraint the way Delta stores it
    DeltaInterop.setDeltaProperties(spark, target,
      Map("delta.constraints.positive_bal" -> "bal >= 0"))
    // violating merge refuses BEFORE committing anything
    val e1 = intercept[IllegalArgumentException] {
      DeltaInterop.mergeDeltaClauses(
        Seq((1L, "bad", -7.0)).toDF("id", "v", "bal"), target, Seq("id"),
        matched = Seq(Merge.MatchedUpdate()))
    }
    assert(e1.getMessage.contains("positive_bal"), e1.getMessage)
    assert(readAll(target) == Map(1L -> (("a", 1.0)), 2L -> (("b", 2.0))))
    // violating update refuses too (the r10 refusal is now enforcement)
    val e2 = intercept[IllegalArgumentException] {
      DeltaInterop.updateDelta(spark, target, $"id" === 2L,
        Map("bal" -> lit(-1.0)))
    }
    assert(e2.getMessage.contains("positive_bal"), e2.getMessage)
    // passing writes land
    DeltaInterop.mergeDeltaClauses(
      Seq((1L, "ok", 7.0)).toDF("id", "v", "bal"), target, Seq("id"),
      matched = Seq(Merge.MatchedUpdate()))
    DeltaInterop.updateDelta(spark, target, $"id" === 2L,
      Map("bal" -> lit(5.0)))
    assert(readAll(target) == Map(1L -> (("ok", 7.0)), 2L -> (("b", 5.0))))
    // NOT NULL enforcement on an assigned column: doctor the schema to
    // nullable=false on v in the LATEST metaData-carrying commit (the
    // property commits re-declare it), then try to null it via UPDATE
    val logFile = Files.list(Paths.get(target, "_delta_log")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.matches("\\d{20}\\.json"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8")
        .contains("schemaString"))
      .maxBy(_.getFileName.toString)
    val doctored = new String(Files.readAllBytes(logFile), "UTF-8").replace(
      """{\"name\":\"v\",\"type\":\"string\",\"nullable\":true""",
      """{\"name\":\"v\",\"type\":\"string\",\"nullable\":false""")
    assert(doctored != new String(Files.readAllBytes(logFile), "UTF-8"))
    Files.write(logFile, doctored.getBytes("UTF-8"))
    Files.deleteIfExists(
      logFile.getParent.resolve("." + logFile.getFileName + ".crc"))
    val e3 = intercept[IllegalArgumentException] {
      DeltaInterop.updateDelta(spark, target, $"id" === 2L,
        Map("v" -> lit(null).cast("string")))
    }
    assert(e3.getMessage.contains("NOT NULL column 'v'"), e3.getMessage)
  }

  test("DV-mode UPDATE strikes via merged vectors, rewrites no data file") {
    import spark.implicits._
    val target = export(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    DeltaInterop.setDeltaProperties(spark, target,
      Map("delta.enableDeletionVectors" -> "true"))
    val dataFilesBefore = Files.list(Paths.get(target)).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.endsWith(".parquet")).toSet
    // first delete installs a DV; the update must MERGE into it
    DeltaInterop.deleteFromDelta(spark, target, $"id" === 3L)
    val v = DeltaInterop.updateDelta(spark, target, $"id" === 2L,
      Map("bal" -> lit(20.0)))
    // original data files all still present (struck, not rewritten)
    val after = Files.list(Paths.get(target)).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.endsWith(".parquet")).toSet
    assert(dataFilesBefore.subsetOf(after), "a data file was rewritten")
    val log = new String(Files.readAllBytes(Paths.get(target,
      "_delta_log", f"$v%020d.json")), "UTF-8")
    assert(log.contains("\"deletionVector\""), log.take(300))
    // the merged vector still strikes the DELETEd row AND the updated
    // row's old version; the new version rides an appended file
    assert(readAll(target) == Map(1L -> (("a", 1.0)),
      2L -> (("b", 20.0))), readAll(target))
  }

  test("DV-mode merge with delete clause: CDF parity, no rewrite") {
    import spark.implicits._
    val target = export(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    DeltaInterop.setDeltaProperties(spark, target, Map(
      "delta.enableDeletionVectors" -> "true",
      "delta.enableChangeDataFeed" -> "true"))
    val v = DeltaInterop.mergeDeltaClauses(
      Seq((1L, "a2", 10.0), (2L, "x", 0.0), (9L, "new", 9.0))
        .toDF("id", "v", "bal"), target, Seq("id"),
      matched = Seq(
        Merge.MatchedDelete(Some(Merge.source("bal") === 0.0)),
        Merge.MatchedUpdate()),
      notMatched = Seq(Merge.NotMatchedInsert()))
    val log = new String(Files.readAllBytes(Paths.get(target,
      "_delta_log", f"$v%020d.json")), "UTF-8")
    assert(log.contains("\"deletionVector\""), log.take(300))
    assert(readAll(target) == Map(1L -> (("a2", 10.0)),
      3L -> (("c", 3.0)), 9L -> (("new", 9.0))))
    // the CDF feed is identical to the CoW merge's
    val feed = DeltaInterop.readDeltaChanges(spark, target, v, v)
      .select($"id", $"_change_type").as[(Long, String)].collect().toSet
    assert(feed == Set((1L, "update_preimage"), (1L, "update_postimage"),
      (2L, "delete"), (9L, "insert")), feed)
  }

  private def exportIceV2(rows: Seq[(Long, String, Double)]): String = {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_mci_src_"),
      rows.toDF("id", "v", "bal"))
    val target = tmp("graft_mci_ice_")
    graft.sources.IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    Files.write(mdPath, new String(Files.readAllBytes(mdPath), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 2")
      .getBytes("UTF-8"))
    Files.deleteIfExists(Paths.get(target, "metadata",
      ".v1.metadata.json.crc"))
    target
  }

  private def readIce(target: String): Map[Long, (String, Double)] = {
    import spark.implicits._
    graft.sources.IcebergInterop.readIceberg(spark, target)
      .select($"id", $"v", $"bal").as[(Long, String, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
  }

  test("Iceberg full-clause merge: cond delete, partial SET, cond insert, by-source") {
    import spark.implicits._
    val target = exportIceV2(Seq(
      (1L, "t1", -5.0),  // matched, bal<0 -> DELETE
      (2L, "t2", 10.0),  // matched -> partial SET bal = src.bal + 1
      (3L, "t3", 20.0),  // not matched by source, id%5!=0 -> carried
      (5L, "t5", 30.0),  // not matched by source, id%5=0 -> DELETE
      (6L, "t6", 40.0))) // matched -> partial SET
    val dataBefore = Files.walk(Paths.get(target)).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).toSet
    val src = Seq(
      (1L, "s1", 100.0), (2L, "s2", 200.0), (6L, "s6", 300.0),
      (7L, "s7", 9000.0), (8L, "s8", 1.0)).toDF("id", "v", "bal")
    graft.sources.IcebergInterop.mergeIcebergClauses(src, target, Seq("id"),
      matched = Seq(
        Merge.MatchedDelete(Some($"bal" < 0)),
        Merge.MatchedUpdate(None,
          Map("bal" -> (Merge.source("bal") + lit(1.0))))),
      notMatched = Seq(Merge.NotMatchedInsert(Some($"bal" > 5000))),
      notMatchedBySource = Seq(
        Merge.BySourceDelete(Some($"id" % 5 === 0))))
    assert(readIce(target) == Map(
      2L -> (("t2", 201.0)), 3L -> (("t3", 20.0)),
      6L -> (("t6", 301.0)), 7L -> (("s7", 9000.0))), readIce(target))
    // merge-on-read: every pre-existing data file survived (position
    // deletes struck rows; nothing was rewritten)
    val dataAfter = Files.walk(Paths.get(target)).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).toSet
    assert(dataBefore.subsetOf(dataAfter), "a data file was rewritten")
    // by-source UPDATE flags stale rows instead of deleting them
    graft.sources.IcebergInterop.mergeIcebergClauses(
      Seq((2L, "x", 0.0)).toDF("id", "v", "bal"), target, Seq("id"),
      matched = Seq(Merge.MatchedUpdate()),
      notMatchedBySource = Seq(
        Merge.BySourceUpdate(None, Map("v" -> lit("stale")))))
    val got = readIce(target)
    assert(got(2L) == (("x", 0.0)) && got(3L) == (("stale", 20.0)) &&
      got(7L) == (("stale", 9000.0)), got)
  }

  test("classic mergeDelta still equals UPDATE SET * / INSERT *") {
    import spark.implicits._
    val target = export(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    DeltaInterop.mergeDelta(
      Seq((2L, "b2", 20.0), (3L, "c", 30.0)).toDF("id", "v", "bal"),
      target, Seq("id"))
    assert(readAll(target) == Map(1L -> (("a", 1.0)),
      2L -> (("b2", 20.0)), 3L -> (("c", 30.0))))
  }
}
