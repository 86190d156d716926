package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraftTable

class GraftTableSpec extends AnyFunSuite {
  import TestSpark._

  test("g2: time travel across create/append/overwrite") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.append(Seq((3, "c")).toDF("id", "v"))
    t.overwrite(Seq((9, "z")).toDF("id", "v"))
    assert(t.readVersion(0).count() == 2)
    assert(t.readVersion(1).count() == 3)
    assert(t.readVersion(2).count() == 1)
    assert(t.read().as[(Int, String)].collect().toSet == Set((9, "z")))
    // append after overwrite keeps only post-overwrite data
    t.append(Seq((10, "y")).toDF("id", "v"))
    assert(t.read().count() == 2)
  }

  test("g3: history lists operations; vacuum drops unreachable dirs") {
    import spark.implicits._
    val path = tmp()
    val t = GraftTable.create(spark, path, Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))
    t.overwrite(Seq((3, "c")).toDF("id", "v"))
    val h = t.history().orderBy("version").collect()
    assert(h.map(_.getAs[String]("operation")).toSeq ==
      Seq("create", "append", "overwrite"))
    // v0/v1 dirs are unreachable from v2 → vacuumed
    val removed = t.vacuum(retainFromVersion = 2)
    assert(removed.size == 2)
    // latest still readable; time travel to v0 now fails (files gone)
    assert(t.read().count() == 1)
    intercept[Exception] { t.readVersion(0).collect() }
  }

  test("g3b: retention-based vacuum ages out old snapshots, keeps recent and latest") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), Seq((1, "a")).toDF("id", "v"))
    Thread.sleep(15) // commit timestamps must straddle the cutoff
    t.overwrite(Seq((3, "c")).toDF("id", "v")) // v0's dir now exclusive to v0
    t.append(Seq((2, "b")).toDF("id", "v"))
    val ts = t.history().orderBy("version").collect()
      .map(_.getAs[java.sql.Timestamp]("timestamp").getTime)
    // cutoff between v0 and v1: v0 ages out, v1/v2 retained
    val removed = t.vacuumOlderThan((ts(0) + ts(1)) / 2)
    assert(removed.size == 1)
    assert(t.read().count() == 2)                       // latest intact
    assert(t.readVersion(1).count() == 1)               // recent retained
    intercept[Exception] { t.readVersion(0).collect() } // aged out
    // a cutoff after every commit still retains the latest snapshot
    t.vacuumOlderThan(ts.last + 1000): Unit
    assert(t.read().count() == 2)
  }

  test("g10: replaceWhere swaps exactly the matching slice in one commit") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a", 1.0), (2L, "a", 2.0)).toDF("id", "src", "x"))
    t.append(Seq((3L, "b", 3.0)).toDF("id", "src", "x"))
    val before = t.liveDataDirs
    // backfill source "a" with corrected rows
    val v = t.replaceWhere(col("src") === "a",
      Seq((10L, "a", 10.0), (11L, "a", 11.0)).toDF("id", "src", "x"))
    assert(v == 2 && t.history().count() == 3) // one commit
    assert(t.read().as[(Long, String, Double)].collect().toSet ==
      Set((10L, "a", 10.0), (11L, "a", 11.0), (3L, "b", 3.0)))
    // the untouched "b" directory carries forward byte-identical
    assert(t.liveDataDirs.toSet.intersect(before.toSet).size == 1)
    // time travel still sees the pre-replace slice
    assert(t.readVersion(1).filter(col("src") === "a").count() == 2)
    // validation: new rows outside the declared slice are refused
    intercept[IllegalArgumentException] {
      t.replaceWhere(col("src") === "a", Seq((99L, "c", 9.9)).toDF("id", "src", "x"))
    }
  }

  test("g9: restore rolls the table back as a new metadata-only commit") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.append(Seq((3, "c")).toDF("id", "v"))
    t.overwrite(Seq((9, "z")).toDF("id", "v"))
    val v = t.restore(1)
    assert(v == 3)
    // table state is exactly v1 again, but history is append-only
    assert(t.read().as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b"), (3, "c")))
    val h = t.history().orderBy("version").collect()
    assert(h.map(_.getAs[String]("operation")).toSeq ==
      Seq("create", "append", "overwrite", "restore#1"))
    // the overwritten state stays time-travelable (no data rewrites)
    assert(t.readVersion(2).as[(Int, String)].collect().toSet == Set((9, "z")))
    // writes continue from the restored state
    t.append(Seq((4, "d")).toDF("id", "v"))
    assert(t.read().count() == 4)
  }

  test("g9b: restore across a rename reverses it; vacuumed targets refuse") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), Seq((1, "a")).toDF("id", "v"))
    t.renameColumn("v", "label")
    assert(t.read().columns.toSeq == Seq("id", "label"))
    t.restore(0)
    // restored snapshot reads under the ORIGINAL column names
    assert(t.read().columns.toSeq == Seq("id", "v"))
    assert(t.read().as[(Int, String)].collect().toSet == Set((1, "a")))
    // vacuumed target: make v-old dirs unreachable, then refuse restore
    val t2 = GraftTable.create(spark, tmp(), Seq((1, "a")).toDF("id", "v"))
    t2.overwrite(Seq((2, "b")).toDF("id", "v"))
    t2.vacuum(retainFromVersion = 1)
    intercept[IllegalArgumentException] { t2.restore(0) }
  }

  test("g8: incremental change read between versions (CDF analog)") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(),
      Seq((1, "a"), (2, "b")).toDF("id", "v"))       // v0
    t.append(Seq((3, "c")).toDF("id", "v"))           // v1
    t.delete(col("id") === 1)                         // v2 (copy-on-write)
    def changes(a: Int, b: Int): Set[(Int, String, String)] =
      t.readChangesBetween(a, b).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getAs[String]("_change_type"))).toSet
    assert(changes(0, 1) == Set((3, "c", "insert")))
    assert(changes(1, 2) == Set((1, "a", "delete")))
    assert(changes(0, 2) == Set((3, "c", "insert"), (1, "a", "delete")))
    assert(changes(2, 2).isEmpty)
  }

  test("g4: schema-merge append reads old rows with nulls in new column") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), Seq((1, "a")).toDF("id", "v"))
    t.appendMergeSchema(Seq((2, "b", 7.5)).toDF("id", "v", "score"))
    val rows = t.read().orderBy("id").collect()
    assert(t.read().columns.toSeq == Seq("id", "v", "score"))
    assert(rows(0).isNullAt(2))
    assert(rows(1).getDouble(2) == 7.5)
  }

  test("merge upserts: source wins on match, inserts otherwise") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(),
      Seq((1, 10.0), (2, 20.0)).toDF("k", "x"))
    t.merge(Seq((2, 99.0), (3, 30.0)).toDF("k", "x"), Seq("k"))
    val got = t.read().as[(Int, Double)].collect().toSet
    assert(got == Set((1, 10.0), (2, 99.0), (3, 30.0)))
    assert(t.history().count() == 2)
  }

  test("merge is copy-on-write: unmatched directories carry forward") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), Seq((1, 10.0)).toDF("k", "x"))
    t.append(Seq((2, 20.0)).toDF("k", "x"))
    t.append(Seq((3, 30.0)).toDF("k", "x"))
    val before = t.liveDataDirs
    // source touches only key 2 and inserts key 9
    t.merge(Seq((2, 99.0), (9, 90.0)).toDF("k", "x"), Seq("k"))
    val after = t.liveDataDirs
    assert(after.toSet.intersect(before.toSet).size == 2,
      s"dirs without matches must survive: $before -> $after")
    assert(t.read().as[(Int, Double)].collect().toSet ==
      Set((1, 10.0), (2, 99.0), (3, 30.0), (9, 90.0)))
    // insert-only merge (no key matches): all old dirs survive
    val b2 = t.liveDataDirs
    t.merge(Seq((100, 1.0)).toDF("k", "x"), Seq("k"))
    assert(t.liveDataDirs.toSet.intersect(b2.toSet) == b2.toSet)
    assert(t.read().count() == 5)
  }

  test("g6: partitioned table round-trips values and prunes partitions") {
    import spark.implicits._
    val src = graft.sources.Tables.events(spark, sf)
      .select($"event_id", $"event_type", $"value")
    val t = graft.sources.GraftTable.create(spark, tmp(), src,
      partitionBy = Seq("event_type"))
    // round-trip equality (partition column values preserved)
    assert(t.read().count() == src.count())
    val wantClicks = src.filter($"event_type" === "click").count()
    val clicks = t.read().filter($"event_type" === "click")
    assert(clicks.count() == wantClicks)
    // partition pruning reaches the scan
    val plan = clicks.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"no partition pruning:\n$plan")
    // appends keep the partition spec
    t.append(src.limit(10))
    assert(t.partitionColumns == Seq("event_type"))
    assert(t.read().count() == src.count() + 10)
  }

  test("update/delete rewrite only the directories containing matches") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), Seq((1, 10.0)).toDF("id", "x"))
    t.append(Seq((2, 20.0)).toDF("id", "x"))
    t.append(Seq((3, 30.0)).toDF("id", "x"))
    val before = t.liveDataDirs
    assert(before.size == 3)
    // delete touches only the dir holding id=2
    t.delete(col("id") === 2)
    val after = t.liveDataDirs
    assert(after.toSet.intersect(before.toSet).size == 2,
      s"untouched dirs must be carried forward: $before -> $after")
    assert(t.read().as[(Int, Double)].collect().toSet == Set((1, 10.0), (3, 30.0)))
    // update with no matching rows is a metadata-only commit
    val dirsBefore = t.liveDataDirs
    t.update(col("id") === 999, Map("x" -> lit(0.0)))
    assert(t.liveDataDirs == dirsBefore)
    assert(t.history().orderBy("version").collect().last
      .getAs[String]("operation") == "update")
  }

  test("compact collapses many appends into one directory, data unchanged") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), Seq((0, "v0")).toDF("id", "v"))
    (1 to 5).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
    val before = t.read().orderBy("id").collect().map(_.toSeq).toSeq
    val v = t.compact(targetPartitions = 1)
    assert(t.history().filter(col("operation") === "compact").count() == 1)
    assert(t.read().orderBy("id").collect().map(_.toSeq).toSeq == before)
    // after vacuuming to the compacted version, only 1 data dir remains
    t.vacuum(retainFromVersion = v)
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(t.root))
      .iterator()
    val dataDirs = scala.jdk.CollectionConverters.IteratorHasAsScala(dirs)
      .asScala.count(_.getFileName.toString.startsWith("d"))
    assert(dataDirs == 1, s"expected 1 data dir after compact+vacuum, got $dataDirs")
  }

  test("commit timestamps are monotonic; timestamp time travel resolves snapshots") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))
    t.overwrite(Seq((9, "z")).toDF("id", "v"))
    val ts = t.history().orderBy("version").collect()
      .map(_.getAs[java.sql.Timestamp]("timestamp").getTime)
    assert(ts.length == 3 && ts.sliding(2).forall(p => p(0) < p(1)),
      s"timestamps not strictly increasing: ${ts.toSeq}")
    // as-of each commit's own timestamp → that snapshot
    assert(t.readAsOfTimestamp(ts(0)).count() == 1)
    assert(t.readAsOfTimestamp(ts(1)).count() == 2)
    assert(t.readAsOfTimestamp(ts(1) + 1).count() == 2) // between commits
    assert(t.readAsOfTimestamp(ts(2)).count() == 1)
    intercept[IllegalArgumentException] { t.readAsOfTimestamp(ts(0) - 1) }
    // .snapshots metadata table mirrors history
    val snaps = t.snapshots().orderBy("snapshot_id").collect()
    assert(snaps.map(_.getAs[String]("operation")).toSeq ==
      Seq("create", "append", "overwrite"))
  }

  test("rename column: old directories read under the new name") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), Seq((1, 10.0), (2, 20.0)).toDF("id", "amount"))
    t.append(Seq((3, 30.0)).toDF("id", "amount"))
    t.renameColumn("amount", "total_amount")
    assert(t.read().columns.toSeq == Seq("id", "total_amount"))
    assert(t.read().orderBy("id").as[(Int, Double)].collect().toSeq ==
      Seq((1, 10.0), (2, 20.0), (3, 30.0)))
    // writes after the rename use the new name; both generations coexist
    t.append(Seq((4, 40.0)).toDF("id", "total_amount"))
    assert(t.read().orderBy("id").as[(Int, Double)].collect().toSeq ==
      Seq((1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)))
    // time travel BEFORE the rename still shows the old name
    assert(t.readVersion(1).columns.toSeq == Seq("id", "amount"))
    // chained rename composes
    t.renameColumn("total_amount", "grand_total")
    assert(t.read().orderBy("id").as[(Int, Double)].collect().toSeq ==
      Seq((1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)))
    intercept[IllegalArgumentException] { t.renameColumn("nope", "x") }
  }

  test("days(ts) partition transform: hidden layout column, pruned reads") {
    import spark.implicits._
    val src = graft.sources.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"value")
    val t = GraftTable.create(spark, tmp(), src, partitionBy = Seq("days(ts)"))
    // the derived layout column is hidden from the logical schema
    assert(t.read().columns.toSeq == Seq("event_id", "ts", "value"))
    assert(t.read().count() == src.count())
    // values round-trip exactly (the transform only affects layout)
    val want = src.agg(sum($"value")).first().getDouble(0)
    val got = t.read().agg(sum($"value")).first().getDouble(0)
    assert(math.abs(want - got) < 1e-6)
    // filtering on the derived day column prunes hive partitions
    val day = src.select(to_date($"ts").cast("string")).first().getString(0)
    val pruned = t.readWhereDays("ts", day)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), s"no partition pruning:\n$plan")
    assert(pruned.count() == src.filter(to_date($"ts") === day).count())
  }

  test("hours(ts) transform: hidden layout column, hour-grained pruned read") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val src = Seq(
      (1L, ts("2024-01-01 03:10:00"), 1.0),
      (2L, ts("2024-01-01 03:55:00"), 2.0),
      (3L, ts("2024-01-01 17:00:00"), 3.0),
      (4L, ts("2024-01-02 03:10:00"), 4.0)
    ).toDF("id", "ts", "v")
    val t = GraftTable.create(spark, tmp(), src, partitionBy = Seq("hours(ts)"))
    assert(t.read().columns.toSeq == Seq("id", "ts", "v"))
    assert(t.read().count() == 4)
    val pruned = t.readWherePartition("hours(ts)", "2024-01-01-03")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), s"no partition pruning:\n$plan")
    assert(pruned.as[(Long, java.sql.Timestamp, Double)].collect().map(_._1).toSet ==
      Set(1L, 2L), "hour grain must separate 03:xx from 17:xx and next-day 03:xx")
  }

  test("readWherePartition prunes when the transform spec is not first") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val src = Seq(
      ("web", 1L, ts("2024-01-01 03:10:00")),
      ("web", 2L, ts("2024-01-02 04:00:00")),
      ("app", 3L, ts("2024-01-01 09:30:00"))
    ).toDF("source", "id", "ts")
    // identity spec FIRST: days(ts) hive dirs nest one level down —
    // a top-level-only subdir probe would silently return zero rows
    val t = GraftTable.create(spark, tmp(), src,
      partitionBy = Seq("source", "days(ts)"))
    assert(t.read().count() == 3)
    val pruned = t.readWhereDays("ts", "2024-01-01")
    assert(pruned.as[(String, Long, java.sql.Timestamp)].collect()
      .map(_._2).toSet == Set(1L, 3L))
  }

  test("bucket(n, col) transform: point lookup scans one hash bucket") {
    import spark.implicits._
    val src = (1L to 40L).map(i => (i, s"u$i", i * 1.5)).toDF("uid", "name", "v")
    val t = GraftTable.create(spark, tmp(), src, partitionBy = Seq("bucket(4, uid)"))
    assert(t.read().columns.toSeq == Seq("uid", "name", "v"))
    assert(t.read().count() == 40)
    val hit = t.readWhereBucketOf("uid", 17L)
    val plan = hit.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), s"no partition pruning:\n$plan")
    assert(hit.as[(Long, String, Double)].collect().toSeq == Seq((17L, "u17", 25.5)))
    // a key the table never held: still prunes to one bucket, zero rows
    assert(t.readWhereBucketOf("uid", 999L).count() == 0)
    // a type-mismatched key literal (Int vs BIGINT column) must still
    // hit: the lookup casts to the column type before hashing —
    // xxhash64 of a 4-byte int differs from the writer's 8-byte hash
    assert(t.readWhereBucketOf("uid", 17)
      .as[(Long, String, Double)].collect().toSeq == Seq((17L, "u17", 25.5)))
  }

  test("months/years/truncate transforms round-trip and prune") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val src = Seq((1L, ts("2024-01-15 00:00:00"), "alpha"),
      (2L, ts("2024-02-15 00:00:00"), "alps"),
      (3L, ts("2025-02-15 00:00:00"), "beta")).toDF("id", "ts", "w")
    val tm = GraftTable.create(spark, tmp(), src, partitionBy = Seq("months(ts)"))
    assert(tm.readWherePartition("months(ts)", "2024-02")
      .select("id").as[Long].collect().toSeq == Seq(2L))
    val ty = GraftTable.create(spark, tmp(), src, partitionBy = Seq("years(ts)"))
    assert(ty.readWherePartition("years(ts)", "2025")
      .select("id").as[Long].collect().toSeq == Seq(3L))
    // truncate on strings: width-2 prefix groups alpha+alps
    val tt = GraftTable.create(spark, tmp(), src, partitionBy = Seq("truncate(2, w)"))
    assert(tt.readWherePartition("truncate(2, w)", "al")
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    assert(tt.read().count() == 3)
  }

  test("snapshots carries an Iceberg-style per-commit summary map") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), (1L to 10L).toDF("id"))
    t.append((11L to 13L).toDF("id"))
    t.overwrite(Seq(99L).toDF("id"))
    val snaps = t.snapshots().orderBy("snapshot_id").collect()
    assert(snaps.map(_.getString(2)).toSeq == Seq("create", "append", "overwrite"))
    def sm(i: Int) = snaps(i).getAs[Map[String, String]]("summary")
    assert(sm(0) == Map("added-data-dirs" -> "1", "removed-data-dirs" -> "0",
      "added-records" -> "10", "removed-records" -> "0", "total-data-dirs" -> "1"))
    assert(sm(1)("added-data-dirs") == "1" && sm(1)("added-records") == "3" &&
      sm(1)("total-data-dirs") == "2")
    assert(sm(2) == Map("added-data-dirs" -> "1", "removed-data-dirs" -> "2",
      "added-records" -> "1", "removed-records" -> "13", "total-data-dirs" -> "1"))
  }

  test("per-dir stats: written at commit, prune impossible predicates") {
    import spark.implicits._
    import graft.sources.DirStats
    val df0 = Seq((1L, "a", 10.0), (5L, "b", 50.0)).toDF("id", "seg", "x")
    val t = GraftTable.create(spark, tmp(), df0)
    t.append(Seq((100L, "z", 999.0)).toDF("id", "seg", "x"))
    val dirs = t.liveDataDirs
    assert(dirs.size == 2)
    val stats = dirs.map(d => GraftTable.loadStats(t.root, d).get)
    // stats carry real ranges
    val first = stats.find(_("id").min == "1").get
    assert(first("id").max == "5" && first("seg").min == "a" && first("x").kind == "num")
    // pruning logic: id = 100 cannot be in dir [1,5]
    def may(cond: org.apache.spark.sql.Column, st: Map[String, DirStats.ColStat]) =
      DirStats.mayMatch(DirStats.analyze(spark, df0.schema, cond), st)
    assert(!may(col("id") === 100, first))
    assert(may(col("id") === 5, first))
    assert(!may(col("id") > 5, first))
    assert(may(col("id") >= 5, first))
    assert(!may(col("x") < 10.0, first))
    assert(!may(col("seg") === "z", first))
    assert(may(col("seg") === "b", first))
    assert(!may(col("id") === 3 && col("seg") === "z", first)) // conjunct prunes
    assert(may(col("id") === 3 || col("seg") === "z", first))  // OR kept (conservative)
    // behavioral: delete of an out-of-range key is metadata-only
    val before = t.liveDataDirs
    t.delete(col("id") === 12345)
    assert(t.liveDataDirs == before)
  }

  test("bloom stats: point lookups skip dirs whose bloom excludes the key") {
    import spark.implicits._
    import graft.sources.DirStats
    spark.conf.set("spark.graft.table.bloomCols", "id")
    try {
      // odd ids vs even ids: the [min,max] ranges overlap completely, so
      // range stats CANNOT prune a point lookup — only the bloom can
      val odd = (1L to 99L by 2).map(i => (i, s"v$i")).toDF("id", "v")
      val even = (0L to 98L by 2).map(i => (i, s"v$i")).toDF("id", "v")
      val t = GraftTable.create(spark, tmp(), odd)
      t.append(even)
      val dirs = t.liveDataDirs
      val stats = dirs.map(d => GraftTable.loadStats(t.root, d).get)
      val oddStats = stats.find(_("id").min == "1").get
      val evenStats = stats.find(_("id").min == "0").get
      assert(oddStats.contains(DirStats.BloomPrefix + "id"))
      def may(c: org.apache.spark.sql.Column, st: Map[String, DirStats.ColStat]) =
        DirStats.mayMatch(DirStats.analyze(spark, t.read().schema, c), st)
      // ranges overlap: both dirs pass the min/max test for id = 2 —
      // the bloom proves it absent from the odd dir
      assert(!may(col("id") === 2L, oddStats))
      assert(may(col("id") === 2L, evenStats))
      assert(may(col("id") === 3L, oddStats))
      // IN-lists: prune only when every member is provably absent
      assert(!may(col("id").isin(2L, 4L), oddStats))
      assert(may(col("id").isin(2L, 3L), oddStats))
      // behavioral: point delete of an odd key leaves the even dir alone
      val before = t.liveDataDirs
      t.delete(col("id") === 3L)
      assert(t.read().count() == 99)
      assert(t.liveDataDirs.toSet.intersect(before.toSet).size == 1,
        "even dir must carry forward untouched")
    } finally spark.conf.unset("spark.graft.table.bloomCols")
  }

  test("time-range predicates prune dirs via timestamp stats") {
    import spark.implicits._
    import graft.sources.DirStats
    val jan = Seq((1L, java.sql.Timestamp.valueOf("2024-01-05 10:00:00")),
                  (2L, java.sql.Timestamp.valueOf("2024-01-20 11:30:00")))
    val jun = Seq((3L, java.sql.Timestamp.valueOf("2024-06-01 00:00:00")),
                  (4L, java.sql.Timestamp.valueOf("2024-06-30 23:59:59")))
    val t = GraftTable.create(spark, tmp(), jan.toDF("id", "ts"))
    t.append(jun.toDF("id", "ts"))
    val dirs = t.liveDataDirs
    val stats = dirs.map(d =>
      GraftTable.loadStats(t.root, d).get)
    val janStats = stats.find(_("ts").min.startsWith("2024-01")).get
    def may(c: org.apache.spark.sql.Column) =
      DirStats.mayMatch(DirStats.analyze(spark, t.read().schema, c), janStats)
    assert(!may(col("ts") >= lit("2024-03-01").cast("timestamp")))
    assert(may(col("ts") >= lit("2024-01-10").cast("timestamp")))
    assert(!may(col("ts") < lit("2024-01-01").cast("timestamp")))
    assert(may(col("ts") === lit("2024-01-05 10:00:00").cast("timestamp")))
    assert(!may(col("ts") === lit("2024-01-05 10:00:01").cast("timestamp") &&
      col("ts") > lit("2024-02-01").cast("timestamp")))
    // behavioral: deleting a June range leaves the January dir untouched
    val before = t.liveDataDirs
    t.delete(col("ts") >= lit("2024-06-01").cast("timestamp"))
    assert(t.read().count() == 2)
    assert(t.liveDataDirs.toSet.intersect(before.toSet).size == 1,
      "January dir must carry forward")
  }

  test("to_date(ts) predicates prune via day-prefix of timestamp stats") {
    import spark.implicits._
    import graft.sources.DirStats
    val jan = Seq((1L, java.sql.Timestamp.valueOf("2024-01-05 10:00:00")),
                  (2L, java.sql.Timestamp.valueOf("2024-01-20 11:30:00")))
    val t = GraftTable.create(spark, tmp(), jan.toDF("id", "ts"))
    val janStats = GraftTable.loadStats(t.root, t.liveDataDirs.head).get
    def may(c: org.apache.spark.sql.Column) =
      DirStats.mayMatch(DirStats.analyze(spark, t.read().schema, c), janStats)
    def d(s: String) = lit(s).cast("date")
    assert(!may(to_date(col("ts")) === d("2024-03-01")))
    assert(may(to_date(col("ts")) === d("2024-01-05")))
    assert(may(to_date(col("ts")) === d("2024-01-20")))
    assert(may(to_date(col("ts")) >= d("2024-01-20")))
    assert(!may(to_date(col("ts")) > d("2024-01-20"))) // later day than max
    assert(!may(to_date(col("ts")) < d("2024-01-05"))) // earlier day than min
    assert(may(to_date(col("ts")) <= d("2024-01-05")))
    assert(!may(to_date(col("ts")).isin(d("2023-12-31"), d("2024-02-01"))))
    assert(may(to_date(col("ts")).isin(d("2023-12-31"), d("2024-01-10"))))
  }

  test("optimistic commit: concurrent appends all land, none lost") {
    import spark.implicits._
    val path = tmp()
    val t = GraftTable.create(spark, path, Seq((0L, "seed")).toDF("id", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 12).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          override def call(): Int =
            GraftTable.load(spark, path).append(Seq((i.toLong, s"w$i")).toDF("id", "v"))
        })
      }
      val versions = futures.map(_.get())
      assert(versions.distinct.size == 12, s"version collision: $versions")
    } finally pool.shutdown()
    assert(t.read().count() == 13)
    assert(t.latestVersion() == 12)
    // a mutation that loses the race must fail, not silently drop
    // commits: CommitRaceSpec's fail-fast case
  }

  test("an append reports its data files' bytes as task output metrics") {
    import spark.implicits._
    import org.apache.spark.scheduler._
    val path = tmp()
    val t = GraftTable.create(spark, path, Seq((0L, "seed")).toDF("id", "v"))
    val before = t.liveDataDirs.toSet
    val (group, marker) = ("graft-output-bytes", "graft-output-bytes-drained")
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val written = new java.util.concurrent.atomic.AtomicLong(0L)
    val drained = new java.util.concurrent.CountDownLatch(1)
    @volatile var markerJob = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => e.stageIds.foreach(stages.add)
          case Some(`marker`) => markerJob = e.jobId
          case _ => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          written.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) drained.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "append")
      t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
      // the listener bus is FIFO: once a later job's end arrives, every
      // task end of the append has been delivered
      sc.setJobGroup(marker, "drain")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val added = t.liveDataDirs.filterNot(before)
    assert(added.size == 1, added)
    val dataBytes = Files.walk(Paths.get(path, added.head)).iterator()
      .asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum
    assert(dataBytes > 0 && written.get == dataBytes,
      s"task output bytes ${written.get}, data files $dataBytes")
  }

  test("optimistic commit under contention on a rename-atomic (HDFS-like) store") {
    import spark.implicits._
    // same concurrent-appends protocol as the local test, but through
    // TableIO's GENERIC branch against a store whose rename fails on an
    // existing destination — the conditional-put contract HDFS-class
    // stores provide. Every writer must land, none may be lost, and
    // version slots must stay unique.
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftest.impl", classOf[GraftTestFs].getName)
    val path = "graftest://" +
      tmpDir("graft_hdfs_cc_").toString + "/t"
    val t = GraftTable.create(spark, path, Seq((0L, "seed")).toDF("id", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          override def call(): Int =
            GraftTable.load(spark, path).append(Seq((i.toLong, s"w$i")).toDF("id", "v"))
        })
      }
      val versions = futures.map(_.get())
      assert(versions.distinct.size == 8, s"version collision: $versions")
    } finally pool.shutdown()
    assert(t.read().count() == 9)
    assert(t.latestVersion() == 8)
  }

  test("cluster: range-clustered dirs give tight stats and real pruning") {
    import spark.implicits._
    // one wide-range dir: every predicate overlaps it
    val t = GraftTable.create(spark, tmp(),
      spark.range(0, 10000).select($"id", ($"id" % 7).as("k")))
    assert(t.liveDataDirs.size >= 1)
    val v = t.cluster(Seq("id"), numDirs = 8)
    assert(t.latestVersion() == v)
    val dirs = t.liveDataDirs
    assert(dirs.size == 8, s"expected 8 range dirs, got ${dirs.size}")
    // contents unchanged
    assert(t.read().count() == 10000)
    assert(t.read().agg(sum($"id")).first().getLong(0) == 49995000L)
    // ranges are narrow and non-overlapping → a point predicate keeps 1 dir
    import graft.sources.DirStats
    val statsByDir = dirs.map(d =>
      d -> GraftTable.loadStats(t.root, d).get).toMap
    val cond = DirStats.analyze(spark, t.read().schema, col("id") === 4242)
    val surviving = dirs.filter(d => DirStats.mayMatch(cond, statsByDir(d)))
    assert(surviving.size == 1, s"point lookup should keep 1 of 8 dirs, kept $surviving")
    // and a mutation on that predicate rewrites only that dir
    t.delete(col("id") === 4242)
    assert(t.read().count() == 9999)
    assert(t.liveDataDirs.toSet.intersect(dirs.toSet).size == 7,
      "delete must carry 7 of 8 clustered dirs forward untouched")
  }

  test("zorder: predicates on ANY clustering dimension prune dirs") {
    import spark.implicits._
    import graft.sources.DirStats
    // two independent dimensions: id (0..4095) and y = bit-reversed id,
    // so lexicographic (id, y) clustering gives y no locality at all
    val df = spark.range(0, 4096).select($"id",
      expr("reverse(lpad(bin(id), 12, '0'))").as("yb"))
      .select($"id", conv($"yb", 2, 10).cast("long").as("y"))
    def survivors(t: GraftTable, c: org.apache.spark.sql.Column): Int = {
      val cond = DirStats.analyze(spark, t.read().schema, c)
      t.liveDataDirs.count(d => DirStats.mayMatch(cond,
        GraftTable.loadStats(t.root, d).get))
    }
    val lex = GraftTable.create(spark, tmp(), df)
    lex.cluster(Seq("id", "y"), numDirs = 16)
    val zed = GraftTable.create(spark, tmp(), df)
    zed.clusterZOrder(Seq("id", "y"), numDirs = 16)
    assert(zed.liveDataDirs.size == 16)
    assert(zed.read().count() == 4096)
    assert(zed.read().agg(sum($"y")).first().getLong(0) ==
      lex.read().agg(sum($"y")).first().getLong(0))
    val yPred = col("y") >= 1000 && col("y") < 1100
    val idPred = col("id") >= 1000 && col("id") < 1100
    // leading-dimension predicates prune under both layouts
    assert(survivors(lex, idPred) <= 4)
    assert(survivors(zed, idPred) <= 8, s"z: id pred kept ${survivors(zed, idPred)}")
    // second-dimension predicates prune ONLY under zorder
    val lexY = survivors(lex, yPred); val zedY = survivors(zed, yPred)
    info(s"y-range survivors: lexicographic $lexY/16, zorder $zedY/16")
    assert(lexY == 16, "bit-reversed y should defeat lexicographic stats")
    assert(zedY <= 8, s"zorder should skip most dirs on y, kept $zedY")
  }

  test("load reopens an existing table") {
    import spark.implicits._
    val path = tmp()
    GraftTable.create(spark, path, Seq((1, "a")).toDF("id", "v"))
    val t2 = GraftTable.load(spark, path)
    assert(t2.read().count() == 1)
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, path, Seq((1, "a")).toDF("id", "v"))
    }
  }

  test("merge follows SQL NULL-key semantics: null source inserts, null target survives") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(),
      Seq((Some(1L), "t1"), (None, "tnull")).toDF("id", "v"))
    // force a second dir so the null-key target row sits in a dir the
    // source's non-null key also touches
    t.append(Seq((Some(2L), "t2")).toDF("id", "v"))
    t.merge(Seq((Some(2L), "s2"), (None, "snull")).toDF("id", "v"), Seq("id"))
    val got = t.read().as[(Option[Long], String)].collect().toSet
    // id=2 updated; null-key source row INSERTED (ON-equality never
    // matches NULL); null-key target row untouched; nothing all-null
    assert(got == Set((Some(1L), "t1"), (Some(2L), "s2"),
      (None, "tnull"), (None, "snull")), got.toString)
  }

  test("update evaluates all assignments against the pre-update row (swap works)") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, 10L, 20L), (2L, 30L, 40L)).toDF("id", "a", "b"))
    t.update(col("id") === 1L, Map("a" -> col("b"), "b" -> col("a")))
    val got = t.read().orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 20L, 10L), (2L, 30L, 40L)), got.toString)
    intercept[IllegalArgumentException] {
      t.update(col("id") === 1L, Map("nope" -> lit(1)))
    }
  }

  test("appendMergeSchema keeps table columns the batch doesn't carry") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), Seq((1L, "x")).toDF("id", "b"))
    // batch has a NEW column c but is MISSING b: schema must become
    // (id, b, c), not narrow to (id, c)
    t.appendMergeSchema(Seq((2L, "y")).toDF("id", "c"))
    assert(t.read().columns.toSeq == Seq("id", "b", "c"))
    val got = t.read().orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2))))
    assert(got.toSeq == Seq((1L, Some("x"), None), (2L, None, Some("y"))))
  }

  test("stats pruning compares longs above 2^53 exactly (no double collapse)") {
    import spark.implicits._
    val big = 9007199254740992L // 2^53
    val t = GraftTable.create(spark, tmp(),
      Seq((big + 1, "keep-me")).toDF("id", "v"))
    t.append(Seq((1L, "small")).toDF("id", "v"))
    // dir max = 2^53+1; predicate id > 2^53. A double comparison
    // rounds both to 2^53 and prunes the dir, silently skipping the
    // matching row — the delete must find and remove it.
    t.delete(col("id") > big)
    val got = t.read().as[(Long, String)].collect().toSet
    assert(got == Set((1L, "small")), got.toString)
  }

  test("mutations on a transform-partitioned table leak no __p_ columns") {
    import spark.implicits._
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "a"),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 11:00:00"), "b"),
      (3L, java.sql.Timestamp.valueOf("2024-01-02 12:00:00"), "c"))
      .toDF("id", "ts", "v")
    val t = GraftTable.create(spark, tmp(), df, Seq("days(ts)"))
    t.update(col("id") === 2L, Map("v" -> lit("B")))
    assert(t.read().columns.toSeq == Seq("id", "ts", "v"),
      "update leaked hidden layout columns into the table schema")
    t.delete(col("id") === 3L)
    assert(t.read().columns.toSeq == Seq("id", "ts", "v"))
    // replaceWhere unions fresh data with kept rows — a leaked __p_
    // column would fail the unionByName here
    t.replaceWhere(col("id") === 1L,
      Seq((10L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), "z"))
        .toDF("id", "ts", "v"),
      validate = false)
    val got = t.read().select("id", "v").as[(Long, String)].collect().toSet
    assert(got == Set((10L, "z"), (2L, "B")), got.toString)
  }

  test("scala reads survive an empty transform-partitioned CREATE commit") {
    import spark.implicits._
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("id", "ts")
    val t = GraftTable.create(spark, tmp(), df.limit(0), Seq("days(ts)"))
    assert(t.read().count() == 0) // v0 dir holds only _SUCCESS
    t.append(df)
    assert(t.read().count() == 1) // union over [empty, data] dirs
    assert(t.compact() > 0 && t.read().count() == 1)
  }

  test("mutations after a rename read through the rename (no null-filled rewrite)") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "one"), (2L, "two")).toDF("id", "a"))
    t.renameColumn("a", "b") // metadata-only; the dir keeps physical 'a'
    // copy-on-write rewrite must map physical a → b when reading the
    // touched dir — a forced-schema read would null-fill b and the
    // rewrite would silently destroy the column's data
    t.update(col("id") === 1L, Map("b" -> lit("ONE")))
    val got = t.read().orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "ONE"), (2L, "two")), got.toString)
  }

  test("readChangesBetween maps renamed columns instead of diffing them as changes") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "keep"), (2L, "goner")).toDF("id", "a"))
    t.renameColumn("a", "b")          // v1: metadata-only
    t.delete(col("id") === 2L)        // v2: rewrites the dir
    val ch = t.readChangesBetween(0, 2)
      .select("_change_type", "id", "b").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    // the carried-over row (1, keep) must NOT appear as insert+delete
    // with a null-filled b; only the true delete of id=2 is a change
    assert(ch == Set(("delete", 2L, "goner")), ch.toString)
  }

  test("hadoop fs: full table lifecycle against an explicit file:// URI root") {
    import spark.implicits._
    val uriRoot = "file://" +
      tmpDir("graft_uri_").toString + "/t"
    val t = GraftTable.create(spark, uriRoot, Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.append(Seq((3, "c")).toDF("id", "v"))
    assert(t.read().count() == 3)
    assert(t.readVersion(0).count() == 2)
    t.merge(Seq((3, "C"), (4, "d")).toDF("id", "v"), Seq("id"))
    assert(t.read().as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b"), (3, "C"), (4, "d")))
    assert(t.history().count() == 3)
    // stats land and load through the same FS
    assert(GraftTable.loadStats(uriRoot, t.liveDataDirs.head).isDefined)
    // vacuum physically removes unreachable dirs through the FS
    val dropped = t.vacuum(t.latestVersion())
    assert(dropped.nonEmpty)
    assert(t.read().count() == 4)
  }

  test("hadoop fs: non-local scheme takes the rename-based conditional put") {
    import spark.implicits._
    // a RawLocalFileSystem under a custom scheme: backed by local disk
    // but NOT scheme "file", so TableIO routes through the generic
    // (write-temp + rename-without-overwrite) commit branch — the
    // HDFS-shaped contract — end-to-end, including Spark parquet I/O
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftest.impl", classOf[GraftTestFs].getName)
    val root = "graftest://" +
      tmpDir("graft_scheme_").toString + "/t"
    val t = GraftTable.create(spark, root, Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x"))
    t.append(Seq((3L, 30.0)).toDF("k", "x"))
    t.update(col("k") === 2L, Map("x" -> lit(99.0)))
    assert(t.read().as[(Long, Double)].collect().toSet ==
      Set((1L, 10.0), (2L, 99.0), (3L, 30.0)))
    assert(t.latestVersion() == 2)
    // the occupied-slot signal is uniform: a second create must fail
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, root, Seq((9L, 9.0)).toDF("k", "x"))
    }
  }

  test("hadoop fs: conditional-create capability takes the atomic-put branch") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.condput.impl", classOf[CondPutTestFs].getName)
    val root = "condput://" +
      tmpDir("graft_condput_").toString + "/t"
    CondPutTestFs.conditionalCreates.set(0)
    val t = GraftTable.create(spark, root, Seq((1L, "a")).toDF("k", "v"))
    t.append(Seq((2L, "b")).toDF("k", "v"))
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // every commit landed through the conditional-create branch (one
    // overwrite(false) build per commit slot), not temp+rename
    assert(CondPutTestFs.conditionalCreates.get() >= 2,
      s"conditional creates: ${CondPutTestFs.conditionalCreates.get()}")
    // the occupied-slot signal stays uniform through this branch
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, root, Seq((9L, "x")).toDF("k", "v"))
    }
  }

  test("hadoop fs: 8-writer contention through the conditional-create branch") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.condput.impl", classOf[CondPutTestFs].getName)
    val root = "condput://" +
      tmpDir("graft_condput_race_").toString + "/t"
    val t = GraftTable.create(spark, root, Seq((0L, 0L)).toDF("k", "n"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int =
            GraftTable.load(spark, root).append(Seq((i.toLong, i.toLong)).toDF("k", "n"))
        })
      }
      val versions = futs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(versions.toSet.size == 8, s"duplicate version slots: $versions")
      assert(GraftTable.load(spark, root).read().count() == 9)
    } finally pool.shutdownNow()
  }

  test("S3 conditional-PUT adapter: signed If-None-Match, one winner per slot") {
    // fake MinIO-class endpoint: objects in a concurrent map,
    // If-None-Match enforced ATOMICALLY (putIfAbsent), SigV4 verified
    // by server-side recomputation over the same canonical inputs —
    // the contract the real store provides, minus the network
    val objects =
      new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
    val sigErrors = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new com.sun.net.httpserver.HttpHandler {
      def handle(x: com.sun.net.httpserver.HttpExchange): Unit = {
        val body = x.getRequestBody.readAllBytes()
        val path = x.getRequestURI.getRawPath
        val h = x.getRequestHeaders
        val payloadHash = h.getFirst("x-amz-content-sha256")
        val bodyHash = java.security.MessageDigest.getInstance("SHA-256")
          .digest(body).map(b => f"$b%02x").mkString
        val expect = graft.sources.S3CondPut.authorization("PUT", path,
          h.getFirst("Host"), h.getFirst("x-amz-date"), payloadHash,
          "graft-test-key", "graft-test-secret", "us-east-1")
        if (h.getFirst("Authorization") != expect || payloadHash != bodyHash)
          sigErrors.incrementAndGet(): Unit
        val code =
          if (x.getRequestMethod != "PUT") 405
          else if (h.getFirst("If-None-Match") == "*" &&
              objects.putIfAbsent(path, body) != null) 412
          else 200
        x.sendResponseHeaders(code, -1)
        x.close()
      }
    })
    server.start()
    try {
      val conf = new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration)
      conf.setBoolean("graft.s3.condput.enabled", true)
      conf.set("graft.s3.condput.schemes", "s3a")
      conf.set("fs.s3a.impl", classOf[S3SchemeTestFs].getName)
      conf.set("fs.s3a.endpoint",
        s"http://127.0.0.1:${server.getAddress.getPort}")
      conf.set("fs.s3a.access.key", "graft-test-key")
      conf.set("fs.s3a.secret.key", "graft-test-secret")
      conf.set("fs.s3a.endpoint.region", "us-east-1")
      val io = new graft.sources.TableIO("s3a://warehouse/t", conf)
      val slot = io.path("_graft_log", "00000001.json")
      io.writeExclusive(slot, "commit-1".getBytes("UTF-8"))
      assert(objects.size() == 1, objects.keySet().toString)
      assert(new String(objects.values().iterator().next(), "UTF-8") ==
        "commit-1")
      // the occupied slot surfaces as the protocol's uniform signal
      intercept[java.nio.file.FileAlreadyExistsException] {
        io.writeExclusive(slot, "commit-1-loser".getBytes("UTF-8"))
      }
      // 8 racing writers of one fresh slot: exactly one wins
      val slot2 = io.path("_graft_log", "00000002.json")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val futs = (1 to 8).map { i =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean =
              try { io.writeExclusive(slot2, s"w$i".getBytes("UTF-8")); true }
              catch {
                case _: java.nio.file.FileAlreadyExistsException => false
              }
          })
        }
        val wins = futs.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
        assert(wins.count(identity) == 1, wins.toString)
      } finally pool.shutdownNow()
      // every request carried a VALID SigV4 signature over the payload
      assert(sigErrors.get() == 0, s"${sigErrors.get()} signature failures")
      // keys are path-style bucket/key
      assert(objects.keySet().iterator().next()
        .startsWith("/warehouse/t/_graft_log/"), objects.keySet().toString)
    } finally server.stop(0)
  }
}

/** RawLocalFileSystem under the `s3a` scheme — lets the S3
  * conditional-PUT contract spec construct a TableIO over an
  * s3a-shaped root without hadoop-aws on the classpath (the adapter
  * itself never touches the FileSystem; commit puts go over HTTP). */
class S3SchemeTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "s3a"
  override def getUri: java.net.URI = java.net.URI.create("s3a:///")
}

/** RawLocalFileSystem re-registered under a non-`file` scheme with
  * HDFS-shaped rename semantics (rename FAILS when the destination
  * exists, instead of POSIX-overwriting), so specs can exercise
  * TableIO's generic (rename-based) conditional-put contract — the
  * semantics the commit protocol assumes of HDFS/ABFS/GCS-class
  * stores — while physically writing to local disk. The raw POSIX
  * rename alone is NOT a conditional put; on such stores only the
  * single-writer precheck protects the slot (documented in TableIO). */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftest"
  override def getUri: java.net.URI = java.net.URI.create("graftest:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    // the exists+rename pair is made atomic w.r.t. OTHER renames via
    // the JVM-wide lock — faithful to a namenode's serialized rename
    GraftTestFs.renameLock.synchronized {
      if (exists(dst) && !getFileStatus(dst).isDirectory) false
      else super.rename(src, dst)
    }
}
object GraftTestFs {
  private[graft] val renameLock = new Object
}

/** RawLocalFileSystem advertising the Hadoop 3.4+ conditional-create
  * path capability (`fs.option.create.conditional.overwrite`) and
  * honoring its contract: `createFile(p).overwrite(false)` enforces
  * create-if-absent ATOMICALLY (serialized here by a JVM-wide lock —
  * faithful to a store-side If-None-Match PUT), raising Hadoop's
  * FileAlreadyExistsException on an occupied slot. Specs use it to
  * exercise TableIO's conditional-create commit branch. */
class CondPutTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "condput"
  override def getUri: java.net.URI = java.net.URI.create("condput:///")
  override def hasPathCapability(p: org.apache.hadoop.fs.Path,
                                 capability: String): Boolean =
    capability == "fs.option.create.conditional.overwrite" ||
      super.hasPathCapability(p, capability)
  // Conditional creates buffer the content and publish it ATOMICALLY
  // at close (temp + hard-link under the lock), like a store-side
  // If-None-Match PUT: readers never observe a partial file, and the
  // occupied-slot check happens at publish time.
  private def conditionalPut(f: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    CondPutTestFs.conditionalCreates.incrementAndGet()
    val target = java.nio.file.Paths.get(f.toUri.getPath)
    val buf = new java.io.ByteArrayOutputStream() {
      override def close(): Unit = CondPutTestFs.putLock.synchronized {
        if (java.nio.file.Files.exists(target))
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(f.toString)
        val tmp = target.resolveSibling(
          s".condput-${java.util.UUID.randomUUID().toString.take(8)}")
        java.nio.file.Files.write(tmp, toByteArray)
        try java.nio.file.Files.createLink(target, tmp)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new org.apache.hadoop.fs.FileAlreadyExistsException(f.toString)
        } finally java.nio.file.Files.deleteIfExists(tmp)
      }
    }
    new org.apache.hadoop.fs.FSDataOutputStream(buf, null)
  }

  // the default createFile builder routes here (non-recursive) with
  // overwrite = flags.contains(OVERWRITE)
  override def createNonRecursive(
      f: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream =
    if (flags.contains(org.apache.hadoop.fs.CreateFlag.OVERWRITE))
      super.createNonRecursive(f, permission, flags, bufferSize, replication,
        blockSize, progress)
    else conditionalPut(f)

  // direct create(overwrite = false) calls honor the same contract
  override def create(f: org.apache.hadoop.fs.Path,
                      permission: org.apache.hadoop.fs.permission.FsPermission,
                      overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream =
    if (overwrite)
      super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress)
    else conditionalPut(f)
}
object CondPutTestFs {
  private[graft] val putLock = new Object
  private[graft] val conditionalCreates =
    new java.util.concurrent.atomic.AtomicInteger(0)
}
