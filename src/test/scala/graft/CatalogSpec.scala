package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL-catalog surface (graft.sources.v2.GraftCatalog): the reference
  * drives every table operation through spark.sql — this spec pins that
  * the same statements work against GraftTable. */
class CatalogSpec extends AnyFunSuite {
  import TestSpark._

  // catalog instances cache per name — a unique name per test gives each
  // test an isolated warehouse
  private var cat: String = _
  private var n = 0

  private def freshCatalog(): Unit = {
    n += 1
    cat = s"gcat$n"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      tmpDir("graft_cat_spec_").toString)
  }

  test("CREATE TABLE / INSERT INTO / SELECT round-trip with pushdown") {
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v STRING, x DOUBLE) USING graft")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 'a', 1.5), (2, 'b', 2.5), (3, 'c', 3.5)")
    assert(spark.table(s"$cat.db.t").count() == 3)
    val q = spark.sql(s"SELECT id, x FROM $cat.db.t WHERE id >= 2 ORDER BY id")
    assert(q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((2L, 2.5), (3L, 3.5)))
    // the native parquet scan does the work: filter pushed, columns pruned
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThanOrEqual(id,2)]"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<id:bigint,x:double>"),
      s"columns not pruned:\n$plan")
  }

  test("INSERT OVERWRITE replaces contents; appends accumulate versions") {
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.o (id BIGINT, v STRING) USING graft")
    spark.sql(s"INSERT INTO $cat.db.o VALUES (1, 'a')")
    spark.sql(s"INSERT INTO $cat.db.o VALUES (2, 'b')")
    assert(spark.table(s"$cat.db.o").count() == 2)
    spark.sql(s"INSERT OVERWRITE $cat.db.o VALUES (9, 'z')")
    assert(spark.table(s"$cat.db.o").collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("DELETE FROM maps to copy-on-write row-level delete") {
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.d (id BIGINT, seg STRING) USING graft")
    spark.sql(s"INSERT INTO $cat.db.d VALUES (1, 'keep'), (2, 'drop'), (3, 'keep')")
    spark.sql(s"DELETE FROM $cat.db.d WHERE seg = 'drop'")
    assert(spark.table(s"$cat.db.d").orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 3L))
  }

  test("VERSION AS OF / TIMESTAMP AS OF time travel through SQL") {
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.tt (id BIGINT) USING graft")
    spark.sql(s"INSERT INTO $cat.db.tt VALUES (1)")           // v1
    spark.sql(s"INSERT INTO $cat.db.tt VALUES (2)")           // v2
    spark.sql(s"INSERT OVERWRITE $cat.db.tt VALUES (9)")      // v3
    assert(spark.sql(s"SELECT * FROM $cat.db.tt VERSION AS OF 1").count() == 1)
    assert(spark.sql(s"SELECT * FROM $cat.db.tt VERSION AS OF 2").count() == 2)
    assert(spark.sql(s"SELECT * FROM $cat.db.tt").count() == 1)
    // timestamp as of v2's commit time sees v2
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val t = graft.sources.GraftTable.load(spark, s"$wh/db/tt")
    val ts2 = t.history().filter(col("version") === 2).collect()(0)
      .getAs[java.sql.Timestamp]("timestamp")
    val tsLit = ts2.toInstant.toString
    assert(spark.sql(s"SELECT * FROM $cat.db.tt TIMESTAMP AS OF '$tsLit'").count() == 2)
  }

  test("ALTER TABLE RENAME/ADD COLUMN through SQL") {
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.a (id BIGINT, amount DOUBLE) USING graft")
    spark.sql(s"INSERT INTO $cat.db.a VALUES (1, 10.0)")
    spark.sql(s"ALTER TABLE $cat.db.a RENAME COLUMN amount TO total_amount")
    val rows = spark.sql(s"SELECT id, total_amount FROM $cat.db.a").collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((1L, 10.0)))
    spark.sql(s"ALTER TABLE $cat.db.a ADD COLUMN note STRING")
    val withNull = spark.table(s"$cat.db.a").collect()(0)
    assert(withNull.isNullAt(withNull.fieldIndex("note")))
    spark.sql(s"INSERT INTO $cat.db.a VALUES (2, 20.0, 'hi')")
    assert(spark.table(s"$cat.db.a").count() == 2)
  }

  test("days(ts) partitioning via SQL DDL lays out daily directories") {
    freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.db.ev (id BIGINT, ts TIMESTAMP, v DOUBLE)
                 |USING graft PARTITIONED BY (days(ts))""".stripMargin)
    spark.sql(s"""INSERT INTO $cat.db.ev VALUES
                 | (1, TIMESTAMP '2024-01-01 10:00:00', 1.0),
                 | (2, TIMESTAMP '2024-01-02 11:00:00', 2.0)""".stripMargin)
    val got = spark.table(s"$cat.db.ev")
    assert(got.columns.toSeq == Seq("id", "ts", "v"))
    assert(got.count() == 2)
    // physical layout is daily hive partitions
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val dirs = Files.list(java.nio.file.Paths.get(s"$wh/db/ev"))
      .iterator()
    val dataDir = scala.jdk.CollectionConverters.IteratorHasAsScala(dirs).asScala
      .filter(_.getFileName.toString.startsWith("d0"))
      .toSeq.maxBy(_.getFileName.toString)
    val parts = Files.list(dataDir).iterator()
    val partNames = scala.jdk.CollectionConverters.IteratorHasAsScala(parts).asScala
      .map(_.getFileName.toString).filter(_.startsWith("__p_days_ts=")).toSeq
    assert(partNames.toSet == Set("__p_days_ts=2024-01-01", "__p_days_ts=2024-01-02"),
      s"unexpected layout: $partNames")
  }

  test("day filters prune hive subdirs of days()-partitioned tables by name") {
    freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.db.dp (id BIGINT, ts TIMESTAMP, v DOUBLE)
                 |USING graft PARTITIONED BY (days(ts))""".stripMargin)
    spark.sql(s"""INSERT INTO $cat.db.dp VALUES
                 | (1, TIMESTAMP '2024-01-01 10:00:00', 1.0),
                 | (2, TIMESTAMP '2024-01-02 11:00:00', 2.0),
                 | (3, TIMESTAMP '2024-01-03 12:00:00', 3.0)""".stripMargin)
    // timestamp-range predicate: only the matching day's subdir survives
    val q1 = spark.sql(
      s"SELECT id FROM $cat.db.dp WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'")
    assert(q1.collect().map(_.getLong(0)).toSeq == Seq(3L))
    val p1 = q1.queryExecution.executedPlan.toString
    assert(p1.contains("(1 paths)"), s"day subdirs not pruned:\n$p1")
    // to_date form prunes the same way
    val q2 = spark.sql(
      s"SELECT id FROM $cat.db.dp WHERE to_date(ts) = DATE '2024-01-02'")
    assert(q2.collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(q2.queryExecution.executedPlan.toString.contains("(1 paths)"))
    // an unrelated predicate keeps every day (conservative)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.dp WHERE v > 0")
      .collect()(0).getLong(0) == 3)
  }

  test("hour filters prune hive subdirs of hours()-partitioned tables by name") {
    freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.db.hp (id BIGINT, ts TIMESTAMP, v DOUBLE)
                 |USING graft PARTITIONED BY (hours(ts))""".stripMargin)
    spark.sql(s"""INSERT INTO $cat.db.hp VALUES
                 | (1, TIMESTAMP '2024-01-01 03:10:00', 1.0),
                 | (2, TIMESTAMP '2024-01-01 11:20:00', 2.0),
                 | (3, TIMESTAMP '2024-01-01 17:30:00', 3.0)""".stripMargin)
    val q = spark.sql(
      s"SELECT id FROM $cat.db.hp WHERE ts >= TIMESTAMP '2024-01-01 17:00:00'")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(3L))
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("(1 paths)"), s"hour subdirs not pruned:\n$p")
  }

  test("bucket(n, col) DDL round-trips partitioning and point-lookup prunes") {
    freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.db.bk (uid BIGINT, v DOUBLE)
                 |USING graft PARTITIONED BY (bucket(4, uid))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.bk SELECT id, CAST(id AS DOUBLE) FROM range(0, 40)")
    assert(spark.table(s"$cat.db.bk").count() == 40)
    // the spec survives the catalog round trip
    val parts = spark.sql(s"DESCRIBE TABLE EXTENDED $cat.db.bk").collect()
      .map(_.getString(1)).mkString("\n")
    // point lookup via the table API scans a single hash bucket
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val t = graft.sources.GraftTable.load(spark, s"$wh/db/bk")
    assert(t.partitionColumns == Seq("bucket(4, uid)"), s"spec lost: $parts")
    val hit = t.readWhereBucketOf("uid", 17L)
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(17L))
    // SQL point lookup prunes to the one hash-bucket subdir by name
    val q = spark.sql(s"SELECT uid, v FROM $cat.db.bk WHERE uid = 17")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(17L))
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("(1 paths)"), s"bucket subdir not pruned:\n$p")
  }

  test("multi-column bucket transform is rejected, not silently narrowed") {
    freshCatalog()
    val e = intercept[Exception] {
      spark.sql(s"""CREATE TABLE $cat.db.mb (a BIGINT, b BIGINT, v DOUBLE)
                   |USING graft PARTITIONED BY (bucket(4, a, b))""".stripMargin)
    }
    // narrowing bucket(4, a, b) to bucket(4, a) would hand back a table
    // partitioned differently than declared
    assert(e.getMessage.contains("multi-column"), e.getMessage)
  }

  test("hours() on a DATE column: equality predicates still find rows") {
    // degenerate but legal spec — the pruner must use whole-day bounds
    // for DATE sources (timestamp-style bounds lexicographically
    // exceed a date-rendered literal and would wrongly prune)
    freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.db.hd (id BIGINT, d DATE)
                 |USING graft PARTITIONED BY (hours(d))""".stripMargin)
    spark.sql(s"""INSERT INTO $cat.db.hd VALUES
                 | (1, DATE '2024-01-01'), (2, DATE '2024-01-02')""".stripMargin)
    val q = spark.sql(s"SELECT id FROM $cat.db.hd WHERE d = DATE '2024-01-01'")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("truncate(w, col) SQL equality prunes to the matching prefix subdir") {
    freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.db.tr (w STRING, n BIGINT)
                 |USING graft PARTITIONED BY (truncate(2, w))""".stripMargin)
    spark.sql(s"""INSERT INTO $cat.db.tr VALUES
                 | ('alpha', 1), ('alps', 2), ('beta', 3), ('gamma', 4)""".stripMargin)
    val q = spark.sql(s"SELECT n FROM $cat.db.tr WHERE w = 'beta'")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(3L))
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("(1 paths)"), s"truncate subdir not pruned:\n$p")
    // the shared-prefix subdir still holds both its members
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.tr WHERE w = 'alpha'")
      .collect()(0).getLong(0) == 1)
  }

  test("stats-based directory skipping in the SQL read path") {
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.s (id BIGINT, v DOUBLE) USING graft")
    spark.sql(s"INSERT INTO $cat.db.s SELECT id, CAST(id AS DOUBLE) FROM range(0, 1000)")
    spark.sql(s"INSERT INTO $cat.db.s SELECT id, CAST(id AS DOUBLE) FROM range(100000, 101000)")
    // an unfiltered scan reads all three dirs (create + 2 inserts)
    val all = spark.table(s"$cat.db.s")
    assert(all.count() == 2000)
    assert(all.queryExecution.executedPlan.toString.contains("(3 paths)"),
      s"expected 3 root paths:\n${all.queryExecution.executedPlan}")
    // a range predicate that misses dir 2's [100000,101000) prunes it
    // AND the empty create dir by metadata before file listing
    val q = spark.sql(s"SELECT * FROM $cat.db.s WHERE id < 500")
    assert(q.count() == 500)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("(1 paths)"), s"directory not skipped:\n$plan")
  }

  test("CALL cat.system procedures: compact, zorder, vacuum") {
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.pr (id BIGINT, y BIGINT) USING graft")
    spark.sql(s"INSERT INTO $cat.db.pr SELECT id, id * 7 % 1000 FROM range(0, 1000)")
    spark.sql(s"INSERT INTO $cat.db.pr SELECT id, id * 7 % 1000 FROM range(1000, 2000)")
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    def table = graft.sources.GraftTable.load(spark, s"$wh/db/pr")
    val v1 = spark.sql(s"CALL $cat.system.compact('db.pr', 1)").collect()
    assert(v1.head.getInt(0) == table.latestVersion())
    assert(table.liveDataDirs.size == 1)
    val v2 = spark.sql(s"CALL $cat.system.zorder('db.pr', 'id,y', 4)").collect()
    assert(v2.head.getInt(0) == table.latestVersion())
    assert(table.liveDataDirs.size == 4)
    assert(spark.table(s"$cat.db.pr").count() == 2000)
    val removed = spark.sql(
      s"CALL $cat.system.vacuum('db.pr', ${table.latestVersion()})").collect()
    assert(removed.length >= 3, s"vacuum removed ${removed.length} dirs")
    assert(spark.table(s"$cat.db.pr").count() == 2000)
  }

  test("bloom stats skip directories for SQL point lookups") {
    freshCatalog()
    spark.conf.set("spark.graft.table.bloomCols", "id")
    try {
      spark.sql(s"CREATE TABLE $cat.db.bl (id BIGINT, v STRING) USING graft")
      // odd then even ids: min/max ranges overlap, only the bloom prunes
      spark.sql(s"INSERT INTO $cat.db.bl SELECT id*2+1, concat('v', id) FROM range(0, 50)")
      spark.sql(s"INSERT INTO $cat.db.bl SELECT id*2, concat('v', id) FROM range(0, 50)")
      val q = spark.sql(s"SELECT * FROM $cat.db.bl WHERE id = 2")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("(1 paths)"), s"odd dir not bloom-skipped:\n$plan")
      assert(q.count() == 1)
    } finally spark.conf.unset("spark.graft.table.bloomCols")
  }

  test("CALL cat.system.export_delta / export_iceberg from SQL") {
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.ex (id BIGINT, v STRING) USING graft")
    spark.sql(s"INSERT INTO $cat.db.ex VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql(s"DELETE FROM $cat.db.ex WHERE id = 2")
    val deltaDir = tmpDir("graft_exd_").toString + "/t"
    val iceDir = tmpDir("graft_exi_").toString + "/t"
    val r1 = spark.sql(s"CALL $cat.system.export_delta('db.ex', '$deltaDir')")
    assert(r1.collect()(0).getInt(0) > 0)
    val r2 = spark.sql(s"CALL $cat.system.export_iceberg('db.ex', '$iceDir')")
    assert(r2.collect()(0).getInt(0) > 0)
    val want = Set((1L, "a"), (3L, "c"))
    assert(graft.sources.DeltaInterop.readDelta(spark, deltaDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == want)
    assert(graft.sources.IcebergInterop.readIceberg(spark, iceDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == want)
    // in-place zero-copy mirror: the graft table itself becomes
    // Delta-readable, and later syncs are incremental
    val r3 = spark.sql(s"CALL $cat.system.mirror_delta('db.ex')")
    assert(r3.collect()(0).getInt(0) > 0)
    val tblRoot = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/db/ex"
    assert(graft.sources.DeltaInterop.readDelta(spark, tblRoot)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == want)
    assert(spark.sql(s"CALL $cat.system.mirror_delta('db.ex')")
      .collect()(0).getInt(0) == 0)
    val r4 = spark.sql(s"CALL $cat.system.mirror_iceberg('db.ex')")
    assert(r4.collect()(0).getInt(0) > 0)
    assert(graft.sources.IcebergInterop.readIceberg(spark, tblRoot)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == want)
    assert(spark.sql(s"CALL $cat.system.mirror_iceberg('db.ex')")
      .collect()(0).getInt(0) == 0)
    // retention procedures run through SQL too (deep behavior is
    // spec'd in the interop suites; here: callable, sane results,
    // current reads stay green afterwards)
    spark.sql(s"INSERT INTO $cat.db.ex VALUES (4, 'd')")
    spark.sql(s"CALL $cat.system.mirror_iceberg('db.ex')")
    val r5 = spark.sql(s"CALL $cat.system.expire_snapshots('db.ex', 1)")
    assert(r5.collect()(0).getInt(0) > 0)
    assert(graft.sources.IcebergInterop.readIceberg(spark, tblRoot)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == want + ((4L, "d")))
    val r6 = spark.sql(s"CALL $cat.system.cleanup_delta_log('db.ex', 1)")
    assert(r6.collect()(0).getInt(0) >= 0)
  }

  test("CALL cat.system.restore rolls back through SQL") {
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.rs (id BIGINT) USING graft")
    spark.sql(s"INSERT INTO $cat.db.rs VALUES (1), (2)")
    spark.sql(s"INSERT OVERWRITE $cat.db.rs VALUES (9)")
    assert(spark.table(s"$cat.db.rs").count() == 1)
    val v = spark.sql(s"CALL $cat.system.restore('db.rs', 1)").collect()
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val table = graft.sources.GraftTable.load(spark, s"$wh/db/rs")
    assert(v.head.getInt(0) == table.latestVersion())
    assert(spark.table(s"$cat.db.rs").count() == 2)
    // the pre-restore state remains time-travelable through SQL
    assert(spark.sql(s"SELECT * FROM $cat.db.rs VERSION AS OF 2").count() == 1)
  }

  test("CALL cat.system.vacuum_older_than ages out by commit timestamp") {
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.vr (id BIGINT) USING graft")
    spark.sql(s"INSERT INTO $cat.db.vr VALUES (1), (2)")
    Thread.sleep(15)
    // overwrite makes the v0/v1 directories exclusive to aged snapshots
    spark.sql(s"INSERT OVERWRITE $cat.db.vr VALUES (3)")
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val table = graft.sources.GraftTable.load(spark, s"$wh/db/vr")
    val ts = table.history().orderBy("version").collect()
      .map(_.getAs[java.sql.Timestamp]("timestamp").getTime)
    val cutoff = (ts(1) + ts(2)) / 2
    val removed = spark.sql(
      s"CALL $cat.system.vacuum_older_than('db.vr', ${cutoff}L)").collect()
    assert(removed.length >= 1)
    assert(spark.table(s"$cat.db.vr").count() == 1)     // latest intact
    intercept[Exception] { table.readVersion(1).collect() } // aged out
  }

  test("metadata tables: t.snapshots and t.history through SQL") {
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.m (id BIGINT) USING graft")
    spark.sql(s"INSERT INTO $cat.db.m VALUES (1), (2)")
    spark.sql(s"INSERT INTO $cat.db.m VALUES (3)")
    val snaps = spark.sql(s"SELECT * FROM $cat.db.m.snapshots ORDER BY snapshot_id")
      .collect()
    assert(snaps.length == 3)
    assert(snaps.map(_.getAs[String]("operation")).toSeq ==
      Seq("create", "append", "append"))
    val hist = spark.sql(
      s"SELECT operation FROM $cat.db.m.history WHERE version = 2").collect()
    assert(hist.map(_.getString(0)).toSeq == Seq("append"))
    // timestamps are monotonic
    val ts = spark.sql(s"SELECT committed_at FROM $cat.db.m.snapshots ORDER BY snapshot_id")
      .collect().map(_.getTimestamp(0).getTime)
    assert(ts.sameElements(ts.sorted) && ts.distinct.length == 3)
    // t.files: one row per live dir of the CURRENT snapshot, carrying
    // the pruning stats (row counts, per-column min/max)
    val files = spark.sql(s"SELECT * FROM $cat.db.m.files ORDER BY dir").collect()
    assert(files.length == 3)
    assert(files.map(_.getAs[Long]("row_count")).sum == 3)
    val mins = files.map(_.getAs[Map[String, String]]("min_values"))
    assert(mins.flatMap(_.get("id")).toSet == Set("1", "3"))
  }

  test("to_date(ts) filters skip directories in the SQL read path") {
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.dts (id BIGINT, ts TIMESTAMP) USING graft")
    spark.sql(s"INSERT INTO $cat.db.dts SELECT id, TIMESTAMP '2024-01-01 10:00:00' FROM range(0, 10)")
    spark.sql(s"INSERT INTO $cat.db.dts SELECT id, TIMESTAMP '2024-06-15 12:00:00' FROM range(10, 20)")
    val q = spark.sql(
      s"SELECT * FROM $cat.db.dts WHERE to_date(ts) = DATE '2024-06-15'")
    assert(q.count() == 10)
    // the January dir and the empty create dir are skipped by metadata
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("(1 paths)"), s"day filter did not skip dirs:\n$plan")
  }

  test("UPDATE ... SET ... WHERE through SQL (row-level rewrite)") {
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.u (id BIGINT, seg STRING, bal DOUBLE) USING graft")
    spark.sql(s"INSERT INTO $cat.db.u VALUES (1,'a',-5.0), (2,'b',10.0), (3,'a',-1.0)")
    spark.sql(s"UPDATE $cat.db.u SET bal = 0.0 WHERE bal < 0")
    val got = spark.table(s"$cat.db.u").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, "a", 0.0), (2L, "b", 10.0), (3L, "a", 0.0)))
    // the rewrite is a table commit: history gains an 'update' version
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val hist = graft.sources.GraftTable.load(spark, s"$wh/db/u").history()
      .orderBy("version").collect().map(_.getAs[String]("operation")).toSeq
    assert(hist.last == "update", s"history: $hist")
    // and time travel still sees the pre-update state
    assert(spark.sql(s"SELECT bal FROM $cat.db.u VERSION AS OF 1 WHERE id = 1")
      .collect()(0).getDouble(0) == -5.0)
    // group semantics: an UPDATE whose predicate misses a directory's
    // stats range carries that directory forward untouched
    spark.sql(s"INSERT INTO $cat.db.u VALUES (1000000, 'z', 7.0)")
    val t = graft.sources.GraftTable.load(spark, s"$wh/db/u")
    val before = t.liveDataDirs.toSet
    spark.sql(s"UPDATE $cat.db.u SET bal = -9.0 WHERE id >= 1000000")
    val after = graft.sources.GraftTable.load(spark, s"$wh/db/u").liveDataDirs.toSet
    assert(before.intersect(after).nonEmpty,
      s"dirs outside the predicate range must survive: $before -> $after")
    assert(spark.table(s"$cat.db.u").count() == 4)
    assert(spark.sql(s"SELECT bal FROM $cat.db.u WHERE id = 1000000")
      .collect()(0).getDouble(0) == -9.0)
  }

  test("DELETE with a subquery predicate routes through the row-level rewrite") {
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.ds (id BIGINT, v DOUBLE) USING graft")
    spark.sql(s"INSERT INTO $cat.db.ds VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    // IN (subquery) is not expressible as a v1 filter -> SupportsDelete
    // can't take it; Spark plans the group-based row-level DELETE
    spark.sql(s"DELETE FROM $cat.db.ds WHERE id IN (SELECT id * 2 FROM range(1, 2))")
    assert(spark.table(s"$cat.db.ds").orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 3L))
  }

  test("MERGE INTO through SQL (upsert via row-level rewrite)") {
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.m (k BIGINT, x DOUBLE) USING graft")
    spark.sql(s"INSERT INTO $cat.db.m VALUES (1, 10.0), (2, 20.0)")
    spark.sql(s"""MERGE INTO $cat.db.m t
                 |USING (SELECT * FROM VALUES (2, 99.0), (3, 30.0) AS s(k, x)) s
                 |ON t.k = s.k
                 |WHEN MATCHED THEN UPDATE SET x = s.x
                 |WHEN NOT MATCHED THEN INSERT (k, x) VALUES (s.k, s.x)""".stripMargin)
    val got = spark.table(s"$cat.db.m").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))
  }

  test("MERGE INTO with NOT MATCHED BY SOURCE (full-sync semantics)") {
    // the Delta/Iceberg "mirror the source" merge: update matches,
    // insert new source rows, DELETE target rows the source no longer
    // has — all through the same group-based row-level rewrite
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.ms (id BIGINT, v STRING) USING graft")
    spark.sql(s"INSERT INTO $cat.db.ms VALUES (1,'a'), (2,'b'), (3,'c')")
    spark.sql(
      s"""MERGE INTO $cat.db.ms t
         |USING (SELECT * FROM VALUES (2,'B'), (4,'D') AS s(id, v)) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val got = spark.table(s"$cat.db.ms").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((2L, "B"), (4L, "D")))
  }

  test("DROP TABLE, SHOW TABLES, namespaces") {
    freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ns1")
    spark.sql(s"CREATE TABLE $cat.ns1.t1 (id BIGINT) USING graft")
    val tables = spark.sql(s"SHOW TABLES IN $cat.ns1").collect().map(_.getString(1))
    assert(tables.contains("t1"))
    spark.sql(s"DROP TABLE $cat.ns1.t1")
    assert(spark.sql(s"SHOW TABLES IN $cat.ns1").count() == 0)
  }

  test("ALTER TABLE RENAME TO stays in the namespace (catalog-prefixed dest)") {
    freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.rn")
    spark.sql(s"CREATE TABLE $cat.rn.t1 (id BIGINT) USING graft")
    spark.sql(s"INSERT INTO $cat.rn.t1 VALUES (9)")
    // the destination reaches renameTable catalog-prefixed — the table
    // must land at <warehouse>/rn/t2, not <warehouse>/$cat/rn/t2
    spark.sql(s"ALTER TABLE $cat.rn.t1 RENAME TO $cat.rn.t2")
    assert(spark.table(s"$cat.rn.t2").count() == 1)
    val shown = spark.sql(s"SHOW TABLES IN $cat.rn").collect().map(_.getString(1))
    assert(shown.toSeq == Seq("t2"))
  }

  test("g7 query: pure-SQL lifecycle matches the relational recomputation") {
    val got = SparkEntry.queries("g7_sql_catalog")(spark, sf).collect()
    assert(got.nonEmpty)
    // P-status rows were deleted through SQL
    assert(!got.map(_.getString(0)).contains("P"))
  }

  test("streaming read tails the commit log: snapshot, appends, change refusal") {
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.ev (id BIGINT, v STRING) USING graft")
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (1, 'a'), (2, 'b')")
    val name = "gstream_" + n
    val q = spark.readStream.table(s"$cat.db.ev")
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      // batch 0 = the full snapshot at stream start
      q.processAllAvailable()
      assert(spark.table(name).count() == 2)
      // appends landed AFTER stream start flow through incrementally
      spark.sql(s"INSERT INTO $cat.db.ev VALUES (3, 'c')")
      spark.sql(s"INSERT INTO $cat.db.ev VALUES (4, 'd')")
      q.processAllAvailable()
      assert(spark.table(name).orderBy("id").collect().map(_.getLong(0)).toSeq ==
        Seq(1L, 2L, 3L, 4L))
      // a change commit (DELETE rewrites a directory) fails the stream
      // loudly — the source tails appends
      spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 1")
      val e = intercept[Exception] { q.processAllAvailable() }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(_.getMessage != null) &&
        causes(e).flatMap(c => Option(c.getMessage)).exists(_.contains("skipChangeCommits")),
        s"expected change-commit refusal, got $e")
    } finally q.stop()
    // with skipChangeCommits the stream resumes past the rewrite and
    // keeps tailing genuinely new directories
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (5, 'e')")
    val name2 = name + "_skip"
    val q2 = spark.readStream.option("skipChangeCommits", "true")
      .table(s"$cat.db.ev")
      .writeStream.outputMode("append").format("memory").queryName(name2).start()
    try {
      q2.processAllAvailable()
      // fresh stream: initial snapshot of the current state (post-delete)
      assert(spark.table(name2).orderBy("id").collect().map(_.getLong(0)).toSeq ==
        Seq(2L, 3L, 4L, 5L))
      spark.sql(s"INSERT INTO $cat.db.ev VALUES (6, 'f')")
      spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 2") // change commit: skipped
      spark.sql(s"INSERT INTO $cat.db.ev VALUES (7, 'g')")
      q2.processAllAvailable()
      val got = spark.table(name2).orderBy("id").collect().map(_.getLong(0)).toSeq
      // 6 and 7 stream; the rewrite of {3,4,5,6} directories is skipped
      // (no duplicates), id=2's removal is invisible to the append feed
      assert(got == Seq(2L, 3L, 4L, 5L, 6L, 7L), got.toString)
    } finally q2.stop()
  }

  test("streaming read recovers from a checkpoint exactly-once; rate limit bounds batches") {
    import spark.implicits._
    val path = tmpDir("graft_ckr_").toString + "/t"
    val t = graft.sources.GraftTable.create(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val fmt = "graft.sources.v2.GraftSource"
    val out = tmpDir("graft_ckr_out_").toString
    val ckpt = tmpDir("graft_ckr_ck_").toString
    def run() = spark.readStream.format(fmt)
      .option("maxCommitsPerTrigger", "1").load(path)
      .writeStream.option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).outputMode("append").start()
    val q1 = run()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(out).count() == 2)
    // appends land while NO stream is running; the restarted stream
    // must resume from the checkpointed commit offset — the snapshot
    // batch must not replay (exactly-once), and with
    // maxCommitsPerTrigger=1 the two missed commits arrive as two
    // bounded batches rather than one catch-up batch
    t.append(Seq((3L, "c")).toDF("id", "v"))
    t.append(Seq((4L, "d")).toDF("id", "v"))
    val q2 = run()
    try {
      q2.processAllAvailable()
      val batches = q2.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 2,
        s"expected 2 rate-limited catch-up batches, got ${batches.length}")
    } finally q2.stop()
    val got = spark.read.parquet(out).orderBy("id").collect()
      .map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L, 3L, 4L), got.toString)
  }

  test("streaming sink lands exactly-once batch commits (append mode)") {
    import spark.implicits._
    val fmt = "graft.sources.v2.GraftSource"
    val srcPath = tmpDir("graft_sink_src_").toString + "/t"
    val tgtPath = tmpDir("graft_sink_tgt_").toString + "/t"
    val ckpt = tmpDir("graft_sink_ck_").toString
    val src = graft.sources.GraftTable.create(spark, srcPath,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    def run() = spark.readStream.format(fmt)
      .option("maxCommitsPerTrigger", "1").load(srcPath)
      .writeStream.format(fmt).option("checkpointLocation", ckpt)
      .outputMode("append").start(tgtPath)
    val q1 = run()
    val queryId = q1.id.toString // stable across restarts from this checkpoint
    try q1.processAllAvailable() finally q1.stop()
    val tgt = graft.sources.GraftTable.load(spark, tgtPath)
    assert(tgt.read().count() == 2)
    // every batch is one marker-stamped table commit, scoped to the
    // streaming query id (the Delta txn appId idiom)
    assert(tgt.history()
      .filter(col("operation") === s"stream-append#$queryId#0").count() == 1)
    // appends land while no stream runs; the restarted stream resumes
    // from the checkpoint — no snapshot replay, two rate-limited batches
    src.append(Seq((3L, "c")).toDF("id", "v"))
    src.append(Seq((4L, "d")).toDF("id", "v"))
    val q2 = run()
    assert(q2.id.toString == queryId) // same checkpoint -> same query id
    try q2.processAllAvailable() finally q2.stop()
    val got = graft.sources.GraftTable.load(spark, tgtPath).read()
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")), got.toString)
    // create + 3 data commits (batch 0 snapshot + 2 catch-up batches)
    assert(graft.sources.GraftTable.load(spark, tgtPath).history().count() == 4)
    // a replayed batch OF THE SAME QUERY is skipped: simulate the
    // post-crash addBatch re-run under the query's id local property
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", queryId)
    try new graft.sources.v2.GraftStreamingSink(spark, tgtPath, Nil,
      org.apache.spark.sql.streaming.OutputMode.Append())
      .addBatch(0, Seq((9L, "dup")).toDF("id", "v"))
    finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    assert(graft.sources.GraftTable.load(spark, tgtPath).read().count() == 4)
    // a NEW query (fresh checkpoint) into the same target must NOT be
    // skipped by the old query's batch ids — its batches really land
    val ckpt2 = tmpDir("graft_sink_ck2_").toString
    val q3 = spark.readStream.format(fmt).load(srcPath)
      .writeStream.format(fmt).option("checkpointLocation", ckpt2)
      .outputMode("append").start(tgtPath)
    try q3.processAllAvailable() finally q3.stop()
    assert(graft.sources.GraftTable.load(spark, tgtPath).read().count() == 8,
      "fresh-checkpoint query must reprocess, not silently skip")
  }

  test("legacy id-less markers only protect tables with no query-scoped markers") {
    import spark.implicits._
    def sinkBatch(path: String, qid: String, batchId: Long, rows: Seq[Long]): Unit = {
      spark.sparkContext.setLocalProperty("sql.streaming.queryId", qid)
      try new graft.sources.v2.GraftStreamingSink(spark, path, Nil,
        org.apache.spark.sql.streaming.OutputMode.Append())
        .addBatch(batchId, rows.toDF("id"))
      finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    }
    // pre-upgrade table: ONLY legacy markers — replay protection holds
    val legacy = tmpDir("graft_lm1_").toString + "/t"
    val t1 = graft.sources.GraftTable.create(spark, legacy, Seq.empty[Long].toDF("id"))
    t1.appendBatch("stream-append#0", Seq(1L).toDF("id"))
    sinkBatch(legacy, "q-new", 0, Seq(9L))
    assert(graft.sources.GraftTable.load(spark, legacy).read().count() == 1,
      "legacy marker must still skip the replayed batch on a pre-upgrade table")
    // upgraded table: query-scoped markers exist — a NEW query whose
    // batch ids collide with OLD legacy markers must land its batches
    // (the data-loss mode the query-id marker exists to prevent)
    val mixed = tmpDir("graft_lm2_").toString + "/t"
    val t2 = graft.sources.GraftTable.create(spark, mixed, Seq.empty[Long].toDF("id"))
    t2.appendBatch("stream-append#0", Seq(1L).toDF("id")) // old pre-upgrade marker
    sinkBatch(mixed, "q-a", 5, Seq(2L))                   // scoped marker exists now
    sinkBatch(mixed, "q-b", 0, Seq(3L))                   // fresh query, batch 0
    assert(graft.sources.GraftTable.load(spark, mixed).read().count() == 3,
      "new query's batch 0 must not be skipped by a stale legacy marker")
    // same query replayed is still skipped, of course
    sinkBatch(mixed, "q-b", 0, Seq(4L))
    assert(graft.sources.GraftTable.load(spark, mixed).read().count() == 3)
  }

  test("streaming sink complete mode keeps the latest aggregate; update refused") {
    import spark.implicits._
    val fmt = "graft.sources.v2.GraftSource"
    val srcPath = tmpDir("graft_sinkc_src_").toString + "/t"
    val tgtPath = tmpDir("graft_sinkc_tgt_").toString + "/t"
    val ckpt = tmpDir("graft_sinkc_ck_").toString
    val src = graft.sources.GraftTable.create(spark, srcPath,
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "v"))
    val q = spark.readStream.format(fmt).load(srcPath)
      .groupBy($"v").agg(count(lit(1)).as("n"))
      .writeStream.format(fmt).option("checkpointLocation", ckpt)
      .outputMode("complete").start(tgtPath)
    try {
      q.processAllAvailable()
      def state() = graft.sources.GraftTable.load(spark, tgtPath).read()
        .as[(String, Long)].collect().toSet
      assert(state() == Set(("a", 2L), ("b", 1L)), state().toString)
      // more source data: the next complete batch OVERWRITES the target
      src.append(Seq((4L, "b")).toDF("id", "v"))
      q.processAllAvailable()
      assert(state() == Set(("a", 2L), ("b", 2L)), state().toString)
    } finally q.stop()
    // update mode needs row-level merge semantics — refused loudly
    val e = intercept[Exception] {
      val bad = spark.readStream.format(fmt).load(srcPath)
        .groupBy($"v").agg(count(lit(1)).as("n"))
        .writeStream.format(fmt)
        .option("checkpointLocation",
          tmpDir("graft_sinku_ck_").toString)
        .outputMode("update")
        .start(tmpDir("graft_sinku_tgt_").toString + "/t")
      try bad.processAllAvailable() finally bad.stop()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("Append and Complete")), s"got $e")
  }

  test("micro-batch stream honors the engine-passed ReadLimit") {
    import spark.implicits._
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    for (t <- TailFormats.all(spark)) {
      (2L to 4L).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
      val k = t.keys // four keys: the export, then three appends
      def mk(opts: Map[String, String]) = TailFormats.stream(t, opts)
      def end(s: graft.sources.v2.LogTailStream, start: Long, limit: ReadLimit) =
        s.latestOffset(s.deserializeOffset(t.json(start)), limit).json
      // the engine may pass a limit the source never declared (e.g.
      // Trigger.AvailableNow wrapping) — it must be honored, not
      // re-derived from the source's own option
      val bare = mk(Map.empty)
      assert(end(bare, k(0), ReadLimit.maxFiles(1)) == t.json(k(1)), t.name)
      assert(end(bare, k(0), ReadLimit.compositeLimit(
        Array(ReadLimit.maxFiles(2), ReadLimit.maxFiles(1)))) == t.json(k(1)), t.name)
      assert(end(bare, k(0), ReadLimit.allAvailable()) == t.json(k(3)), t.name)
      // allAvailable falls back to the source's own per-trigger cap
      val opt = mk(Map(t.capOption -> "2"))
      assert(end(opt, k(0), ReadLimit.allAvailable()) == t.json(k(2)), t.name)
      // the initial snapshot is one indivisible batch regardless of limit
      assert(end(opt, -1L, ReadLimit.maxFiles(1)) == t.json(k(3)), t.name)
      // Trigger.AvailableNow pins the drain end when it is prepared: a
      // commit landing after that is not admitted by this run
      val now = mk(Map.empty)
      now.prepareForTriggerAvailableNow()
      t.append(Seq((5L, "e")).toDF("id", "v"))
      assert(end(now, k(0), ReadLimit.allAvailable()) == t.json(k(3)), t.name)
      assert(end(now, k(3), ReadLimit.allAvailable()) == t.json(k(3)), t.name)
      assert(end(mk(Map.empty), k(3), ReadLimit.allAvailable()) == t.json(k(4)), t.name)
    }
  }

  test("streaming read fails loudly on a mid-stream column rename") {
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.r (id BIGINT, v STRING) USING graft")
    spark.sql(s"INSERT INTO $cat.db.r VALUES (1, 'a')")
    val name = "grename_" + n
    val q = spark.readStream.table(s"$cat.db.r")
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 1)
      // a rename landing mid-stream must kill the stream with a clear
      // message, never null-fill later appends under the old schema
      spark.sql(s"ALTER TABLE $cat.db.r RENAME COLUMN v TO label")
      spark.sql(s"INSERT INTO $cat.db.r VALUES (2, 'b')")
      val e = intercept[Exception] { q.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("renames columns")), s"got $e")
    } finally q.stop()
  }

  test("streaming read fails loudly on a mid-stream ADD COLUMN; restart widens") {
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.ac (id BIGINT, v STRING) USING graft")
    spark.sql(s"INSERT INTO $cat.db.ac VALUES (1, 'a')")
    val name = "gaddcol_" + n
    val q = spark.readStream.table(s"$cat.db.ac")
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 1)
      // an additive schema change mid-stream must fail non-retryably
      // (the Delta source contract) — later appends carry a column the
      // running stream's fixed plan would silently drop
      spark.sql(s"ALTER TABLE $cat.db.ac ADD COLUMN score DOUBLE")
      spark.sql(s"INSERT INTO $cat.db.ac VALUES (2, 'b', 7.5)")
      val e = intercept[Exception] { q.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("changes the table schema")), s"got $e")
    } finally q.stop()
    // a RESTARTED stream plans with the widened schema: its snapshot
    // batch null-fills pre-change rows and carries the new column
    val name2 = name + "_restart"
    val q2 = spark.readStream.table(s"$cat.db.ac")
      .writeStream.outputMode("append").format("memory").queryName(name2).start()
    try {
      q2.processAllAvailable()
      val rows = spark.table(name2).orderBy("id").collect()
      assert(spark.table(name2).columns.toSeq == Seq("id", "v", "score"))
      assert(rows.length == 2 && rows(0).isNullAt(2) && rows(1).getDouble(2) == 7.5,
        rows.mkString(", "))
    } finally q2.stop()
  }

  test("restarted stream catches up ACROSS an ADD COLUMN without wedging") {
    // the batch a restarted stream replays can span commits on BOTH
    // sides of the schema change; pre-change commits are NARROWER than
    // the widened plan and must null-fill (strict schema equality here
    // wedged every such restart permanently)
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.acw (id BIGINT, v STRING) USING graft")
    spark.sql(s"INSERT INTO $cat.db.acw VALUES (1, 'a')")
    val ckpt = tmpDir("graft_acw_ck_").toString
    val out = tmpDir("graft_acw_out_").toString
    def run() = spark.readStream.table(s"$cat.db.acw")
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    val q = run()
    try q.processAllAvailable() finally q.stop()
    // while the stream is DOWN: a pre-change append, the ADD COLUMN,
    // and a post-change append — the catch-up batch spans all three
    spark.sql(s"INSERT INTO $cat.db.acw VALUES (2, 'b')")
    spark.sql(s"ALTER TABLE $cat.db.acw ADD COLUMN score DOUBLE")
    spark.sql(s"INSERT INTO $cat.db.acw VALUES (3, 'c', 7.5)")
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.option("mergeSchema", "true").parquet(out)
      .orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L), rows.mkString(", "))
    val score = rows.map(r => Option(r.getAs[Any]("score")))
    assert(score(0).isEmpty && score(1).isEmpty && score(2).contains(7.5),
      rows.mkString(", "))
  }

  test("catalog scan reports real statistics (broadcast planning survives)") {
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.s (id BIGINT, v STRING) USING graft")
    spark.sql(s"INSERT INTO $cat.db.s VALUES (1, 'a'), (2, 'b')")
    // the streaming-capable Scan wrapper must forward
    // SupportsReportStatistics — a dropped interface falls back to
    // defaultSizeInBytes and a tiny table would sort-merge-join forever
    val stats = spark.table(s"$cat.db.s").queryExecution
      .optimizedPlan.stats.sizeInBytes
    val default = BigInt(spark.conf.get("spark.sql.defaultSizeInBytes",
      Long.MaxValue.toString))
    assert(stats > 0 && stats < default,
      s"scan must report its real size, got $stats")
  }

  test("path-based provider: batch + streaming reads without a catalog") {
    import spark.implicits._
    val path = tmpDir("graft_src_").toString + "/t"
    val t = graft.sources.GraftTable.create(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val fmt = "graft.sources.v2.GraftSource"
    assert(spark.read.format(fmt).load(path).count() == 2)
    // versionAsOf through the provider
    t.append(Seq((3L, "c")).toDF("id", "v"))
    assert(spark.read.format(fmt).option("versionAsOf", "0").load(path).count() == 2)
    assert(spark.read.format(fmt).load(path).count() == 3)
    // streaming tail without any catalog registration
    val name = "gsrc_sink_" + System.nanoTime()
    val q = spark.readStream.format(fmt).load(path)
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 3)
      t.append(Seq((4L, "d")).toDF("id", "v"))
      q.processAllAvailable()
      assert(spark.table(name).orderBy("id").collect().map(_.getLong(0)).toSeq ==
        Seq(1L, 2L, 3L, 4L))
    } finally q.stop()
  }

  test("identity-partitioned tables: multi-commit reads and mutations through SQL") {
    // Each commit writes its OWN col=value hive tree, and Spark's file
    // index cannot infer one partitioning across several such roots
    // (CONFLICTING_DIRECTORY_STRUCTURES) — identity-partitioned
    // snapshots with >1 data dir must take the per-dir read path.
    // Regression: this crashed for every identity-partitioned catalog
    // table after its second commit.
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.p (id BIGINT, seg STRING) " +
      "USING graft PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO $cat.db.p VALUES (1, 'x'), (2, 'y')")
    spark.sql(s"INSERT INTO $cat.db.p VALUES (3, 'x')")
    val got = spark.table(s"$cat.db.p").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "x"), (2L, "y"), (3L, "x")))
    // partition-column predicate
    assert(spark.sql(s"SELECT id FROM $cat.db.p WHERE seg = 'x'").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L))
    // row-level mutations over the identity-partitioned snapshot
    spark.sql(s"DELETE FROM $cat.db.p WHERE id = 2")
    assert(spark.table(s"$cat.db.p").count() == 2)
    spark.sql(s"UPDATE $cat.db.p SET id = 30 WHERE seg = 'x' AND id = 3")
    assert(spark.table(s"$cat.db.p").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "x"), (30L, "x")))
  }

  test("transform-partitioned tables: multi-commit UNFILTERED reads expand to leaves") {
    // Regression: the leaf-subdir expansion only ran when filters were
    // pushed, so a bare SELECT * over a days(ts) table crashed with
    // CONFLICTING_DIRECTORY_STRUCTURES once a second commit landed
    // (multi-root partition inference over the __p_* trees).
    freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.tt (id BIGINT, ts TIMESTAMP) " +
      "USING graft PARTITIONED BY (days(ts))")
    spark.sql(s"INSERT INTO $cat.db.tt VALUES " +
      "(1, TIMESTAMP'2024-01-01 10:00:00'), (2, TIMESTAMP'2024-01-02 10:00:00')")
    spark.sql(s"INSERT INTO $cat.db.tt VALUES (3, TIMESTAMP'2024-01-01 11:00:00')")
    assert(spark.table(s"$cat.db.tt").count() == 3)
    assert(spark.sql(
      s"SELECT id FROM $cat.db.tt WHERE to_date(ts) = DATE'2024-01-01'")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // mixed transform+identity: routed per-dir, values intact
    spark.sql(s"CREATE TABLE $cat.db.mx (id BIGINT, ts TIMESTAMP, region STRING) " +
      "USING graft PARTITIONED BY (days(ts), region)")
    spark.sql(s"INSERT INTO $cat.db.mx VALUES " +
      "(1, TIMESTAMP'2024-01-01 10:00:00', 'eu'), (2, TIMESTAMP'2024-01-02 10:00:00', 'us')")
    spark.sql(s"INSERT INTO $cat.db.mx VALUES (3, TIMESTAMP'2024-01-01 11:00:00', 'eu')")
    assert(spark.table(s"$cat.db.mx").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet ==
      Set((1L, "eu"), (2L, "us"), (3L, "eu")))
    assert(spark.sql(s"SELECT id FROM $cat.db.mx WHERE region = 'eu'")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("catalog works against a file:// warehouse URI (Hadoop FS path)") {
    n += 1
    cat = s"gcat$n"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      "file://" + tmpDir("graft_cat_uri_").toString)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v STRING) USING graft")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 'a'), (2, 'b')")
    assert(spark.table(s"$cat.db.t").count() == 2)
    spark.sql(s"DELETE FROM $cat.db.t WHERE id = 1")
    assert(spark.table(s"$cat.db.t").collect().map(_.getLong(0)).toSeq == Seq(2L))
    val tables = spark.sql(s"SHOW TABLES IN $cat.db").collect().map(_.getString(1))
    assert(tables.contains("t"))
    spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN v TO label")
    assert(spark.table(s"$cat.db.t").columns.toSeq == Seq("id", "label"))
    spark.sql(s"DROP TABLE $cat.db.t")
    assert(spark.sql(s"SHOW TABLES IN $cat.db").count() == 0)
  }

  test("CALL cat.system foreign-path procedures drive Delta/Iceberg roots") {
    import spark.implicits._
    freshCatalog()
    // Delta: export → restore → clone → optimize(zorder) → vacuum,
    // every verb through SQL against the raw root
    val t = graft.sources.GraftTable.create(spark,
      tmpDir("graft_prt_").toString + "/t",
      Seq.range(0L, 100L).map(i => (i, s"v$i")).toDF("id", "v"))
    val dRoot = tmpDir("graft_prd_").toString + "/t"
    graft.sources.DeltaInterop.exportSnapshot(t, dRoot)
    graft.sources.DeltaInterop.deleteFromDelta(spark, dRoot,
      org.apache.spark.sql.functions.col("id") < 50L)
    assert(spark.sql(s"CALL $cat.system.delta_restore('$dRoot', 0)")
      .collect()(0).getLong(0) == 2L)
    assert(graft.sources.DeltaInterop.readDelta(spark, dRoot)
      .count() == 100)
    val cRoot = tmpDir("graft_prc_").toString + "/t"
    assert(spark.sql(s"CALL $cat.system.delta_clone('$dRoot', '$cRoot')")
      .collect()(0).getLong(0) == 0L)
    assert(graft.sources.DeltaInterop.readDelta(spark, cRoot)
      .count() == 100)
    spark.sql(
      s"CALL $cat.system.delta_optimize('$cRoot', ${64L << 10}, 'id')")
    assert(graft.sources.DeltaInterop.readDelta(spark, cRoot)
      .count() == 100)
    // liquid-clustering declaration through SQL: the CLUSTER BY commit
    // lands the delta.clustering domain
    val lcV = spark.sql(s"CALL $cat.system.delta_cluster_by('$cRoot', 'id')")
      .collect()(0).getLong(0)
    assert(lcV >= 1L)
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(
      cRoot, "_delta_log", f"$lcV%020d.json")), "UTF-8")
      .contains("delta.clustering"))
    assert(spark.sql(s"CALL $cat.system.delta_checkpoint('$cRoot')")
      .collect()(0).getLong(0) >= 1L)
    assert(spark.sql(s"CALL $cat.system.delta_vacuum('$cRoot', 0)")
      .collect()(0).getLong(0) >= 0L)
    assert(graft.sources.DeltaInterop.readDelta(spark, cRoot)
      .count() == 100)
    // Iceberg: export → tag → rollback via the tag → expire → orphans
    val iRoot = tmpDir("graft_pri_").toString + "/t"
    graft.sources.IcebergInterop.exportSnapshot(t, iRoot)
    val tagged = spark.sql(s"CALL $cat.system.iceberg_tag('$iRoot', 'good')")
      .collect()(0).getLong(0)
    graft.sources.IcebergInterop.appendToIceberg(
      Seq((999L, "bad")).toDF("id", "v"), iRoot)
    assert(spark.sql(
      s"CALL $cat.system.iceberg_rollback('$iRoot', $tagged)")
      .collect()(0).getLong(0) >= 2L)
    assert(graft.sources.IcebergInterop.readIceberg(spark, iRoot)
      .count() == 100)
    spark.sql(s"CALL $cat.system.iceberg_drop_ref('$iRoot', 'good')")
    spark.sql(s"CALL $cat.system.iceberg_expire_snapshots('$iRoot', 1)")
    assert(spark.sql(
      s"CALL $cat.system.iceberg_remove_orphans('$iRoot', 0)")
      .collect()(0).getLong(0) >= 0L)
    assert(graft.sources.IcebergInterop.readIceberg(spark, iRoot)
      .count() == 100)
    // zero-copy conversion from SQL: the Delta clone gains Iceberg
    // metadata; the Iceberg root gains a Delta log
    assert(spark.sql(s"CALL $cat.system.delta_to_iceberg('$cRoot')")
      .collect()(0).getLong(0) > 0L)
    assert(graft.sources.IcebergInterop.readIceberg(spark, cRoot)
      .count() == 100)
    assert(spark.sql(s"CALL $cat.system.iceberg_to_delta('$iRoot')")
      .collect()(0).getLong(0) == 0L)
    assert(graft.sources.DeltaInterop.readDelta(spark, iRoot)
      .count() == 100)
  }

  test("row-level DELETE procedures over raw roots (predicate strings)") {
    freshCatalog()
    import spark.implicits._
    val t = graft.sources.GraftTable.create(spark,
      tmpDir("graft_pdel_").toString + "/t",
      (0 until 20).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    // Delta: CoW delete through CALL, version comes back
    val droot = tmpDir("graft_pdel_d_").toString + "/t"
    graft.sources.DeltaInterop.exportSnapshot(t, droot)
    val dv = spark.sql(
      s"CALL $cat.system.delta_delete('$droot', 'id < 5')")
      .collect()(0).getLong(0)
    assert(dv == 1L)
    assert(graft.sources.DeltaInterop.readDelta(spark, droot)
      .count() == 15)
    // Iceberg: v2 merge-on-read delete through CALL
    val iroot = tmpDir("graft_pdel_i_").toString + "/t"
    graft.sources.IcebergInterop.exportSnapshot(t, iroot)
    val mdp = java.nio.file.Paths.get(iroot, "metadata", "v1.metadata.json")
    Files.write(mdp, new String(Files.readAllBytes(mdp), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 2")
      .getBytes("UTF-8"))
    Files.deleteIfExists(java.nio.file.Paths.get(iroot, "metadata",
      ".v1.metadata.json.crc"))
    spark.sql(s"CALL $cat.system.iceberg_delete('$iroot', 'id >= 15')")
    assert(graft.sources.IcebergInterop.readIceberg(spark, iroot)
      .select("id").as[Long].collect().toSet == (5L until 15L).toSet ++
      (0L until 5L).toSet)
  }

  test("row-level UPDATE/MERGE procedures complete the raw-root verb set") {
    freshCatalog()
    import spark.implicits._
    val t = graft.sources.GraftTable.create(spark,
      tmpDir("graft_pupd_").toString + "/t",
      (0 until 20).map(i => (i.toLong, s"v$i", 1.0 * i))
        .toDF("id", "v", "w"))
    // Delta: UPDATE with a multi-assignment SET (comma inside an
    // expression stays inside), then a keyed MERGE from a SQL source
    val droot = tmpDir("graft_pupd_d_").toString + "/t"
    graft.sources.DeltaInterop.exportSnapshot(t, droot)
    spark.sql(s"CALL $cat.system.delta_update('$droot', 'id >= 15', " +
      "'v = concat(v, ''!''), w = coalesce(w, 0.0) + 100')")
    val dGot = graft.sources.DeltaInterop.readDelta(spark, droot)
      .select("id", "v", "w").as[(Long, String, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(dGot(15L) == (("v15!", 115.0)) && dGot(5L) == (("v5", 5.0)))
    spark.sql(s"CALL $cat.system.delta_merge('$droot', " +
      "'SELECT 3L AS id, ''m3'' AS v, 0.5 AS w " +
      "UNION ALL SELECT 99L, ''m99'', 9.9', 'id')")
    val dGot2 = graft.sources.DeltaInterop.readDelta(spark, droot)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(dGot2(3L) == "m3" && dGot2(99L) == "m99" && dGot2.size == 21)
    // Iceberg: same verb chain on a v2 root
    val iroot = tmpDir("graft_pupd_i_").toString + "/t"
    graft.sources.IcebergInterop.exportSnapshot(t, iroot)
    val mdp = java.nio.file.Paths.get(iroot, "metadata", "v1.metadata.json")
    Files.write(mdp, new String(Files.readAllBytes(mdp), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 2")
      .getBytes("UTF-8"))
    Files.deleteIfExists(java.nio.file.Paths.get(iroot, "metadata",
      ".v1.metadata.json.crc"))
    spark.sql(s"CALL $cat.system.iceberg_update('$iroot', 'id < 3', " +
      "'v = upper(v)')")
    val iGot = graft.sources.IcebergInterop.readIceberg(spark, iroot)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(iGot(1L) == "V1" && iGot(10L) == "v10")
    spark.sql(s"CALL $cat.system.iceberg_merge('$iroot', " +
      "'SELECT 10L AS id, ''m10'' AS v, 1.5 AS w', 'id')")
    val iGot2 = graft.sources.IcebergInterop.readIceberg(spark, iroot)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(iGot2(10L) == "m10" && iGot2.size == 20)
  }

  test("raw foreign roots through SQL: reads + history/snapshots, no CALL") {
    freshCatalog()
    import spark.implicits._
    // a foreign Delta table at a raw path
    val t = graft.sources.GraftTable.create(spark,
      tmpDir("graft_fsql_").toString + "/t",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val droot = tmpDir("graft_fsql_d_").toString + "/t"
    graft.sources.DeltaInterop.exportSnapshot(t, droot)
    graft.sources.DeltaInterop.deleteFromDelta(spark, droot, col("id") === 1L)
    // current state + DESCRIBE HISTORY, both pure SELECTs
    assert(spark.sql(s"SELECT id, v FROM $cat.delta.`$droot` ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "b")))
    val hist = spark.sql(
      s"SELECT version, operation FROM $cat.delta.`$droot`.history")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(hist.map(_._1).toSeq == Seq(1L, 0L), hist.toSeq)
    assert(hist.exists(_._2 == "DELETE"), hist.toSeq)
    // a foreign Iceberg table at a raw path
    val iroot = tmpDir("graft_fsql_i_").toString + "/t"
    graft.sources.IcebergInterop.exportSnapshot(t, iroot)
    graft.sources.IcebergInterop.appendToIceberg(
      Seq((3L, "c")).toDF("id", "v"), iroot)
    assert(spark.sql(s"SELECT id FROM $cat.iceberg.`$iroot` ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L, 3L))
    val snaps = spark.sql(
      s"SELECT snapshot_id, operation, is_current FROM " +
        s"$cat.iceberg.`$iroot`.snapshots").collect()
    assert(snaps.length == 2 && snaps.count(_.getBoolean(2)) == 1,
      snaps.toSeq)
    assert(spark.sql(s"SELECT * FROM $cat.iceberg.`$iroot`.history")
      .count() == 2)
    // a non-table path still surfaces the proper NoSuchTable error
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.delta.`/no/such/root`").collect()
    }
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e.getMessage.contains("cannot be found"), e.getMessage)
  }

  test("plain SQL DML on raw foreign roots: UPDATE / DELETE / MERGE, no CALL") {
    freshCatalog()
    import spark.implicits._
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "v", "w")
    val t = graft.sources.GraftTable.create(spark,
      tmpDir("graft_dml_").toString + "/t", base)
    val droot = tmpDir("graft_dml_d_").toString + "/t"
    graft.sources.DeltaInterop.exportSnapshot(t, droot)

    def deltaState() = graft.sources.DeltaInterop.readDelta(spark, droot)
      .select("id", "v", "w").as[(Long, String, Long)].collect().sorted.toSeq

    // UPDATE with expressions over the target row — verbatim notebook SQL
    val upd = spark.sql(
      s"UPDATE $cat.delta.`$droot` SET v = upper(v), w = w + 1 WHERE id <= 2")
    assert(upd.columns.toSeq == Seq("version")) // returns the committed version
    assert(deltaState() ==
      Seq((1L, "A", 11L), (2L, "B", 21L), (3L, "c", 30L)))

    // DELETE FROM
    spark.sql(s"DELETE FROM $cat.delta.`$droot` WHERE id = 3")
    assert(deltaState() == Seq((1L, "A", 11L), (2L, "B", 21L)))

    // classic upsert MERGE (SET * / INSERT *)
    Seq((2L, "x", 99L), (4L, "d", 40L)).toDF("id", "v", "w")
      .createOrReplaceTempView("dml_src")
    spark.sql(s"MERGE INTO $cat.delta.`$droot` t USING dml_src s " +
      "ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(deltaState() ==
      Seq((1L, "A", 11L), (2L, "x", 99L), (4L, "d", 40L)))

    // full-clause MERGE: conditional UPDATE referencing both rows,
    // conditional DELETE, and NOT MATCHED BY SOURCE
    spark.sql(s"MERGE INTO $cat.delta.`$droot` t USING dml_src s " +
      "ON t.id = s.id " +
      "WHEN MATCHED AND s.w > 50 THEN UPDATE SET w = t.w + s.w " +
      "WHEN MATCHED THEN DELETE " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'ns'")
    // id 2: matched, s.w=99 → w=99+99; id 4: matched, s.w=40 → DELETE;
    // id 1: not matched by source → v='ns'
    assert(deltaState() == Seq((1L, "ns", 11L), (2L, "x", 198L)))

    // the same statements against a raw Iceberg root (v2: row-level
    // DML needs merge-on-read position deletes)
    val iroot = tmpDir("graft_dml_i_").toString + "/t"
    graft.sources.IcebergInterop.exportSnapshot(t, iroot)
    val mdp = java.nio.file.Paths.get(iroot, "metadata", "v1.metadata.json")
    Files.write(mdp, new String(Files.readAllBytes(mdp), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 2")
      .getBytes("UTF-8"))
    Files.deleteIfExists(java.nio.file.Paths.get(iroot, "metadata",
      ".v1.metadata.json.crc"))
    def iceState() = graft.sources.IcebergInterop.readIceberg(spark, iroot)
      .select("id", "v", "w").as[(Long, String, Long)].collect().sorted.toSeq
    val iupd = spark.sql(
      s"UPDATE $cat.iceberg.`$iroot` SET w = w * 10 WHERE v = 'a'")
    assert(iupd.columns.toSeq == Seq("snapshot_id"))
    assert(iceState() ==
      Seq((1L, "a", 100L), (2L, "b", 20L), (3L, "c", 30L)))
    spark.sql(s"DELETE FROM $cat.iceberg.`$iroot` WHERE w = 20")
    spark.sql(s"MERGE INTO $cat.iceberg.`$iroot` t USING dml_src s " +
      "ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(iceState() ==
      Seq((1L, "a", 100L), (2L, "x", 99L), (3L, "c", 30L), (4L, "d", 40L)))

    // unsupported shapes refuse loudly with a pointer, not silently
    val e1 = intercept[Exception] {
      spark.sql(s"MERGE INTO $cat.delta.`$droot` t USING dml_src s " +
        "ON t.id > s.id WHEN MATCHED THEN DELETE").collect()
    }
    assert(e1.getMessage.contains("same-named key equalities"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"UPDATE $cat.delta.`$droot`.history SET version = 0")
        .collect()
    }
    // metadata tables stay read-only (no ForeignRootTable → no dispatch)
    assert(e2.getMessage.nonEmpty)
  }
}
