package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GraftTable, IcebergInterop}

class IcebergInteropSpec extends AnyFunSuite {
  import TestSpark._

  /** Patch a file the export wrote through the Hadoop local FS: drop
    * the sibling .crc so the checksummed reader doesn't reject the
    * hand-edited bytes. */
  private def patch(p: java.nio.file.Path, bytes: Array[Byte]): Unit = {
    Files.write(p, bytes)
    Files.deleteIfExists(p.getParent.resolve("." + p.getFileName.toString + ".crc"))
  }

  test("export snapshot round-trips through the Iceberg metadata reader") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_ix_"),
      Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "v", "x"))
    t.append(Seq((3L, "c", 3.5)).toDF("id", "v", "x"))
    t.delete(col("id") === 2L)
    val target = tmp("graft_iceberg_")
    val nFiles = IcebergInterop.exportSnapshot(t, target)
    assert(nFiles > 0)
    // the layout is the HadoopCatalog file-based convention
    assert(Files.exists(Paths.get(target, "metadata", "v1.metadata.json")))
    assert(Files.exists(Paths.get(target, "metadata", "version-hint.text")))
    val md = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(Paths.get(target, "metadata", "v1.metadata.json")))
    assert(md.get("format-version").asInt() == 1)
    assert(md.get("current-snapshot-id").asLong() ==
      md.get("snapshots").get(0).get("snapshot-id").asLong())
    // field ids are assigned and last-column-id tracks them
    assert(md.get("schema").get("fields").get(0).get("id").asInt() == 1)
    assert(md.get("last-column-id").asInt() == 3)
    val got = IcebergInterop.readIceberg(spark, target)
      .as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "a", 1.5), (3L, "c", 3.5)))
  }

  test("export round-trips timestamps, dates, decimals, arrays and nulls") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("a"), Option(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
        Option(java.sql.Date.valueOf("2024-02-03")), Option(BigDecimal("12.3456")),
        Seq(1.0f, 2.0f)),
      (2L, None, None, None, None, Seq.empty[Float])
    ).toDF("id", "v", "ts", "d", "dec", "emb")
    val t = GraftTable.create(spark, tmp("graft_ixt_"), df)
    val target = tmp("graft_ixt_out_")
    IcebergInterop.exportSnapshot(t, target)
    val back = IcebergInterop.readIceberg(spark, target)
    assert(back.schema == t.read().schema)
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      t.read().orderBy("id").collect().map(_.toSeq).toSeq)
  }

  test("manifest record counts are real footer counts, not guesses") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_ixc_"),
      (1L to 100L).map(i => (i, i * 2.0)).toDF("id", "x"))
    val target = tmp("graft_ixc_out_")
    IcebergInterop.exportSnapshot(t, target)
    // count(*) pushdown in Iceberg clients trusts manifest record_count
    val manifest = Files.list(Paths.get(target, "metadata")).iterator()
    var mPath: java.nio.file.Path = null
    while (manifest.hasNext) {
      val p = manifest.next()
      if (p.getFileName.toString.endsWith("-m0.avro")) mPath = p
    }
    assert(mPath != null)
    val r = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.file.SeekableFileInput(mPath.toFile),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    var total = 0L
    var entries = 0
    while (r.hasNext) {
      val e = r.next()
      assert(e.get("status").asInstanceOf[Int] == 1) // ADDED
      val df = e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
      assert(df.get("file_format").toString == "PARQUET")
      total += df.get("record_count").asInstanceOf[Long]
      entries += 1
    }
    r.close()
    assert(entries > 0)
    assert(total == 100L, s"manifest record_count sum $total")
  }

  test("reader picks the highest metadata version when version-hint is absent") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_ixh_"),
      Seq((1L, 1.0)).toDF("id", "x"))
    val target = tmp("graft_ixh_out_")
    IcebergInterop.exportSnapshot(t, target)
    Files.delete(Paths.get(target, "metadata", "version-hint.text"))
    Files.deleteIfExists(Paths.get(target, "metadata", ".version-hint.text.crc"))
    // a stale lower version with an EMPTY current snapshot: if the
    // reader picked it, the result would be empty
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val md = om.readTree(Files.readAllBytes(mdPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val stale = md.deepCopy()
    stale.put("current-snapshot-id", -1L)
    stale.set("snapshots", om.createArrayNode())
    patch(Paths.get(target, "metadata", "v0.metadata.json"),
      om.writeValueAsBytes(stale))
    val got = IcebergInterop.readIceberg(spark, target)
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 1.0)))
  }

  test("v2 metadata (schemas array + current-schema-id) reads fine") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_ixv2_"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val target = tmp("graft_ixv2_out_")
    IcebergInterop.exportSnapshot(t, target)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    val md = om.readTree(Files.readAllBytes(mdPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    md.put("format-version", 2)
    md.put("last-sequence-number", 1)
    md.remove("schema")
    md.remove("partition-spec")
    patch(Paths.get(target, "metadata", "v2.metadata.json"),
      om.writeValueAsBytes(md))
    patch(Paths.get(target, "metadata", "version-hint.text"),
      "2".getBytes("UTF-8"))
    val got = IcebergInterop.readIceberg(spark, target)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b")))
  }

  test("asOfSnapshotId time-travels to a retained snapshot") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_ixtt_"),
      Seq((1L, "a")).toDF("id", "v"))
    val target = tmp("graft_ixtt_out_")
    IcebergInterop.exportSnapshot(t, target)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    val md = om.readTree(Files.readAllBytes(mdPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val dataSnapId = md.get("current-snapshot-id").asLong()
    // append a NEWER empty snapshot (empty manifest list) and make it
    // current — asOf the older id must still see the data
    val listSchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"}
        |]}""".stripMargin.replace("\n", ""))
    val bos = new java.io.ByteArrayOutputStream()
    val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](listSchema))
    w.create(listSchema, bos)
    w.close()
    val emptyList = Paths.get(target, "metadata", "snap-empty.avro")
    patch(emptyList, bos.toByteArray)
    val newSnap = md.get("snapshots").get(0).deepCopy()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val newSnapId = dataSnapId + 1
    newSnap.put("snapshot-id", newSnapId)
    newSnap.put("manifest-list", emptyList.toString)
    md.get("snapshots")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode].add(newSnap)
    md.put("current-snapshot-id", newSnapId)
    patch(mdPath, om.writeValueAsBytes(md))
    assert(IcebergInterop.readIceberg(spark, target).count() == 0)
    assert(IcebergInterop.readIceberg(spark, target, Some(dataSnapId))
      .as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.readIceberg(spark, target, Some(424242L))
    }
    assert(e.getMessage.contains("not found"), e.getMessage)
  }

  test("mirrorToIceberg: zero-copy dual-format publication, incremental sync") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_imir_"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((3L, "c")).toDF("id", "v"))
    t.delete(col("id") === 1L)
    assert(IcebergInterop.mirrorToIceberg(t) == 3) // graft versions 0..2
    def via(snap: Option[Long] = None) =
      IcebergInterop.readIceberg(spark, t.root, snap)
        .as[(Long, String)].collect().toSet
    assert(via() == Set((2L, "b"), (3L, "c")))
    // zero-copy: manifests point into the graft data dirs in place
    assert(Files.exists(Paths.get(t.root, "metadata", "v3.metadata.json")))
    // idempotent + incremental
    assert(IcebergInterop.mirrorToIceberg(t) == 0)
    t.append(Seq((4L, "d")).toDF("id", "v"))
    assert(IcebergInterop.mirrorToIceberg(t) == 1)
    assert(via() == Set((2L, "b"), (3L, "c"), (4L, "d")))
    // snapshot id = graft version + 1: full history time travel
    assert(via(Some(2L)) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(via(Some(1L)) == Set((1L, "a"), (2L, "b")))
    // schema evolution appends a schema version; reads still green
    t.appendMergeSchema(Seq((5L, "e", 1.5)).toDF("id", "v", "x"))
    assert(IcebergInterop.mirrorToIceberg(t) == 1)
    val got = IcebergInterop.readIceberg(spark, t.root)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
  }

  test("mirrorToIceberg: identity hive layout becomes an identity partition spec") {
    import spark.implicits._
    // string + date identity keys, a null key row, a space in a value
    // (hive-escaped on disk) — the files DROP both partition columns;
    // readers get them from the manifest partition struct (Column
    // Projection rule 2)
    val d1 = java.sql.Date.valueOf("2024-03-01")
    val d2 = java.sql.Date.valueOf("2024-03-02")
    val t = GraftTable.create(spark, tmp("graft_imip_"),
      Seq((1L, "us east", d1, 1.5), (2L, "eu", d1, 2.5),
          (3L, "us east", d2, 3.5), (4L, null, d2, 4.5))
        .toDF("id", "region", "d", "x"),
      partitionBy = Seq("region", "d"))
    t.append(Seq((5L, "eu", d2, 5.5)).toDF("id", "region", "d", "x"))
    assert(IcebergInterop.mirrorToIceberg(t) == 2)
    // the metadata declares a real identity spec
    val md = new String(Files.readAllBytes(
      Paths.get(t.root, "metadata", "v2.metadata.json")), "UTF-8")
    assert(md.contains(""""transform" : "identity""") ||
      md.contains(""""transform":"identity""""), md.take(500))
    val got = IcebergInterop.readIceberg(spark, t.root)
      .as[(Long, String, java.sql.Date, Double)].collect().toSet
    assert(got == Set((1L, "us east", d1, 1.5), (2L, "eu", d1, 2.5),
      (3L, "us east", d2, 3.5), (4L, null, d2, 4.5), (5L, "eu", d2, 5.5)),
      got.toString)
    // time travel keeps partition reconstruction
    assert(IcebergInterop.readIceberg(spark, t.root, Some(1L)).count() == 4)
    // incremental sync stays green
    t.append(Seq((6L, "ap", d1, 6.5)).toDF("id", "region", "d", "x"))
    assert(IcebergInterop.mirrorToIceberg(t) == 1)
    assert(IcebergInterop.readIceberg(spark, t.root)
      .filter($"region" === "ap").count() == 1)
  }

  test("mirrorToIceberg refuses renames") {
    import spark.implicits._
    val t2 = GraftTable.create(spark, tmp("graft_imir2_"),
      Seq((1L, "a")).toDF("id", "v"))
    t2.renameColumn("v", "label")
    val e2 = intercept[IllegalArgumentException] {
      IcebergInterop.mirrorToIceberg(t2)
    }
    assert(e2.getMessage.contains("renames columns"), e2.getMessage)
  }

  /** All partition tuples in the table's manifests, one Seq per data
    * file, decoded from the Avro partition structs. */
  private def manifestPartitionTuples(root: String): Seq[Seq[Any]] = {
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    new java.io.File(root, "metadata").listFiles.toSeq
      .filter(_.getName.endsWith("-m0.avro")).flatMap { f =>
        val r = new org.apache.avro.file.DataFileReader[GenericRecord](
          f, new GenericDatumReader[GenericRecord]())
        try {
          val buf = scala.collection.mutable.Buffer[Seq[Any]]()
          while (r.hasNext) {
            val e = r.next()
            val p = e.get("data_file").asInstanceOf[GenericRecord]
              .get("partition").asInstanceOf[GenericRecord]
            buf += (0 until p.getSchema.getFields.size()).map(i => p.get(i))
          }
          buf.toSeq
        } finally r.close()
      }
  }

  test("mirrorToIceberg: days(ts) layout becomes a real Iceberg day transform") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val t = GraftTable.create(spark, tmp("graft_imit_"),
      Seq((1L, Some(ts("2024-01-01 10:00:00"))),
          (2L, Some(ts("2024-01-02 11:00:00"))),
          (3L, Some(ts("2024-01-02 23:59:59"))),
          (4L, None: Option[java.sql.Timestamp]))
        .toDF("id", "ts"),
      partitionBy = Seq("days(ts)"))
    t.append(Seq((5L, Some(ts("2024-02-10 00:00:00")))).toDF("id", "ts"))
    assert(IcebergInterop.mirrorToIceberg(t) == 2)
    // the metadata declares the day transform on the ts column
    val md = new String(Files.readAllBytes(
      Paths.get(t.root, "metadata", "v2.metadata.json")), "UTF-8")
    assert(md.contains(""""transform" : "day"""") ||
      md.contains(""""transform":"day""""), md.take(800))
    assert(md.contains(""""ts_day""""), md.take(800))
    // manifest partition values are epoch days (and null for null ts)
    val days = manifestPartitionTuples(t.root).map(_.head)
    val epochDay = (s: String) => java.time.LocalDate.parse(s).toEpochDay.toInt
    assert(days.contains(epochDay("2024-01-01")), days)
    assert(days.contains(epochDay("2024-01-02")), days)
    assert(days.contains(epochDay("2024-02-10")), days)
    assert(days.contains(null), days)
    // content and time travel round-trip
    val got = IcebergInterop.readIceberg(spark, t.root)
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L, 4L, 5L), got)
    assert(IcebergInterop.readIceberg(spark, t.root, Some(1L)).count() == 4)
  }

  test("mirrorToIceberg: mixed identity + days + truncate spec; bucket omitted") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val t = GraftTable.create(spark, tmp("graft_imix_"),
      Seq((1L, "eu", ts("2024-03-01 01:00:00"), "alpha"),
          (2L, "us", ts("2024-03-02 02:00:00"), "beta"))
        .toDF("id", "region", "ts", "code"),
      partitionBy = Seq("region", "days(ts)", "truncate(2, code)"))
    assert(IcebergInterop.mirrorToIceberg(t) == 1)
    val md = new String(Files.readAllBytes(
      Paths.get(t.root, "metadata", "v1.metadata.json")), "UTF-8")
    assert(md.contains(""""transform" : "identity"""") ||
      md.contains(""""transform":"identity""""), md.take(900))
    assert(md.contains("truncate[2]"), md.take(900))
    val tuples = manifestPartitionTuples(t.root).map(_.map {
      case u: org.apache.avro.util.Utf8 => u.toString
      case x => x
    })
    val epochDay = (s: String) => java.time.LocalDate.parse(s).toEpochDay.toInt
    assert(tuples.contains(Seq("eu", epochDay("2024-03-01"), "al")), tuples)
    assert(tuples.contains(Seq("us", epochDay("2024-03-02"), "be")), tuples)
    val got = IcebergInterop.readIceberg(spark, t.root)
      .as[(Long, String, java.sql.Timestamp, String)].collect().toSet
    assert(got.map(r => (r._1, r._2, r._4)) ==
      Set((1L, "eu", "alpha"), (2L, "us", "beta")), got)

    // bucket fields are omitted from the spec (xxhash64 != murmur3):
    // content must still round-trip, with an EMPTY partition spec
    val tb = GraftTable.create(spark, tmp("graft_imib_"),
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      partitionBy = Seq("bucket(4, id)"))
    assert(IcebergInterop.mirrorToIceberg(tb) == 1)
    val mdb = new String(Files.readAllBytes(
      Paths.get(tb.root, "metadata", "v1.metadata.json")), "UTF-8")
    assert(!mdb.contains("bucket"), mdb.take(900))
    assert(IcebergInterop.readIceberg(spark, tb.root)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("mirrorToIceberg: months layout carries epoch-relative month ints") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val t = GraftTable.create(spark, tmp("graft_imim_"),
      Seq((1L, ts("2024-01-15 00:00:00")), (2L, ts("1969-12-31 23:00:00")))
        .toDF("id", "ts"),
      partitionBy = Seq("months(ts)"))
    assert(IcebergInterop.mirrorToIceberg(t) == 1)
    val months = manifestPartitionTuples(t.root).map(_.head)
    assert(months.contains((2024 - 1970) * 12), months)     // 2024-01
    assert(months.contains((1969 - 1970) * 12 + 11), months) // 1969-12
    assert(IcebergInterop.readIceberg(spark, t.root).count() == 2)
  }

  test("readIcebergWhere prunes by partition metadata, identity and transforms") {
    import spark.implicits._
    import org.apache.spark.sql.functions.input_file_name
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val t = GraftTable.create(spark, tmp("graft_irw_"),
      Seq((1L, "eu", Some(ts("2024-03-01 01:00:00")), "alpha"),
          (2L, "us", Some(ts("2024-03-02 02:00:00")), "beta"),
          (3L, "eu", Some(ts("2024-03-02 03:00:00")), "alto"),
          (4L, "us", None: Option[java.sql.Timestamp], "beta"))
        .toDF("id", "region", "ts", "code"),
      partitionBy = Seq("region", "days(ts)", "truncate(2, code)"))
    assert(IcebergInterop.mirrorToIceberg(t) == 1)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").as[Long].collect().toSet
    // identity pruning
    assert(ids(IcebergInterop.readIcebergWhere(spark, t.root, "region", "eu"))
      == Set(1L, 3L))
    // day-transform pruning (grain form = GraftTable.readWherePartition's)
    assert(ids(IcebergInterop.readIcebergWhere(spark, t.root, "ts_day", "2024-03-02"))
      == Set(2L, 3L))
    // truncate pruning
    assert(ids(IcebergInterop.readIcebergWhere(spark, t.root, "code_trunc", "be"))
      == Set(2L, 4L))
    // null partition
    assert(ids(IcebergInterop.readIcebergWhere(spark, t.root, "ts_day", null))
      == Set(4L))
    // the pruning is metadata-only: fewer files reach the scan
    val allFiles = IcebergInterop.readIceberg(spark, t.root)
      .select(input_file_name()).distinct().count()
    val dayFiles = IcebergInterop.readIcebergWhere(spark, t.root, "ts_day", "2024-03-02")
      .select(input_file_name()).distinct().count()
    assert(dayFiles < allFiles, s"$dayFiles vs $allFiles")
    // unknown field names fail loudly with the available fields
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.readIcebergWhere(spark, t.root, "nope", "x")
    }
    assert(e.getMessage.contains("not in the default partition spec"), e.getMessage)
  }

  test("readIceberg reads across a default-spec change (manifests keep spec 0)") {
    import spark.implicits._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val t = GraftTable.create(spark, tmp("graft_ipse_"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val target = tmp("graft_ipse_out_")
    IcebergInterop.exportSnapshot(t, target)
    // evolve the default spec away from the one the manifest was
    // written under: old entries' partition structs stay laid out per
    // spec 0 (their manifest's partition_spec_id) — the reader must
    // resolve them per spec 0, not the new default
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    val md = om.readTree(Files.readAllBytes(mdPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val specs = md.get("partition-specs")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    val spec1 = om.createObjectNode()
    spec1.put("spec-id", 1)
    val f = om.createObjectNode()
    f.put("name", "v"); f.put("transform", "identity")
    f.put("source-id", 2); f.put("field-id", 1000)
    spec1.putArray("fields").add(f)
    specs.add(spec1)
    md.put("default-spec-id", 1)
    patch(mdPath, om.writeValueAsBytes(md))
    val got = IcebergInterop.readIceberg(spark, target)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b")))
  }

  /** Hand-build a FOREIGN v1 Iceberg table with TWO partition specs —
    * spec 0 `[identity(region)]`, spec 1 `[identity(code),
    * identity(region)]` (region MOVES to struct position 1) — and one
    * manifest per spec, to exercise spec-evolution reads: per-spec
    * identity substitution and per-spec prune positions. */
  test("readIceberg resolves partition structs per manifest spec (spec evolution)") {
    import spark.implicits._
    import org.apache.avro.{Schema => AvroSchema}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val target = tmp("graft_ise2_")
    val metaDir = Paths.get(target, "metadata")
    Files.createDirectories(metaDir)
    def oneParquet(dir: String, df: org.apache.spark.sql.DataFrame): String = {
      df.coalesce(1).write.parquet(dir)
      new java.io.File(dir).listFiles
        .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    }
    // file A under spec 0: region comes from partition metadata ("eu")
    val fileA = oneParquet(target + "/data/a",
      Seq((1L, "a1", "aa"), (2L, "a2", "aa")).toDF("id", "v", "code"))
    // files B/C under spec 1: region AND code from metadata
    val fileB = oneParquet(target + "/data/b", Seq((3L, "b1")).toDF("id", "v"))
    val fileC = oneParquet(target + "/data/c", Seq((4L, "c1")).toDF("id", "v"))

    def entrySchema(partFields: Seq[String]): AvroSchema = {
      val pf = partFields.map(n =>
        s"""{"name":"$n","type":["null","string"],"default":null}""")
        .mkString(",")
      new AvroSchema.Parser().parse(
        s"""{"type":"record","name":"manifest_entry","fields":[
           |{"name":"status","type":"int"},
           |{"name":"snapshot_id","type":"long"},
           |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
           |{"name":"file_path","type":"string"},
           |{"name":"file_format","type":"string"},
           |{"name":"partition","type":{"type":"record","name":"r102","fields":[$pf]}},
           |{"name":"record_count","type":"long"},
           |{"name":"file_size_in_bytes","type":"long"}]}}]}"""
          .stripMargin.replace("\n", ""))
    }
    def writeAvro(p: java.nio.file.Path, schema: AvroSchema,
        recs: Seq[GenericRecord]): Unit = {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, p.toFile)
      try recs.foreach(w.append) finally w.close()
    }
    def manifest(p: java.nio.file.Path, es: AvroSchema,
        files: Seq[(String, Seq[String])]): Unit =
      writeAvro(p, es, files.map { case (fp, pv) =>
        val dfRec = new GenericData.Record(es.getField("data_file").schema())
        dfRec.put("file_path", fp)
        dfRec.put("file_format", "PARQUET")
        val part = new GenericData.Record(
          dfRec.getSchema.getField("partition").schema())
        pv.zipWithIndex.foreach { case (v, i) => part.put(i, v) }
        dfRec.put("partition", part)
        dfRec.put("record_count", 1L)
        dfRec.put("file_size_in_bytes", new java.io.File(fp).length())
        val e = new GenericData.Record(es)
        e.put("status", 1); e.put("snapshot_id", 7L); e.put("data_file", dfRec)
        e
      })
    val m0 = metaDir.resolve("m-spec0.avro")
    manifest(m0, entrySchema(Seq("region")), Seq((fileA, Seq("eu"))))
    val m1 = metaDir.resolve("m-spec1.avro")
    manifest(m1, entrySchema(Seq("code", "region")),
      Seq((fileB, Seq("bb", "eu")), (fileC, Seq("cc", "us"))))
    val listSchema = new AvroSchema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"}]}"""
        .stripMargin.replace("\n", ""))
    val listPath = metaDir.resolve("snap-7.avro")
    writeAvro(listPath, listSchema, Seq((m0, 0), (m1, 1)).map { case (p, sid) =>
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", p.toString)
      r.put("manifest_length", p.toFile.length())
      r.put("partition_spec_id", sid)
      r
    })
    val mdJson =
      s"""{"format-version":1,"table-uuid":"00000000-0000-0000-0000-000000000002",
         |"location":"$target","last-updated-ms":1700000000000,"last-column-id":4,
         |"schema":{"type":"struct","schema-id":0,"fields":[
         |{"id":1,"name":"id","required":false,"type":"long"},
         |{"id":2,"name":"v","required":false,"type":"string"},
         |{"id":3,"name":"region","required":false,"type":"string"},
         |{"id":4,"name":"code","required":false,"type":"string"}]},
         |"partition-specs":[
         |{"spec-id":0,"fields":[
         |{"name":"region","transform":"identity","source-id":3,"field-id":1000}]},
         |{"spec-id":1,"fields":[
         |{"name":"code","transform":"identity","source-id":4,"field-id":1001},
         |{"name":"region","transform":"identity","source-id":3,"field-id":1000}]}],
         |"default-spec-id":1,"properties":{},
         |"current-snapshot-id":7,
         |"snapshots":[{"snapshot-id":7,"timestamp-ms":1700000000000,
         |"manifest-list":"$listPath"}]}""".stripMargin.replace("\n", "")
    Files.write(metaDir.resolve("v1.metadata.json"), mdJson.getBytes("UTF-8"))
    Files.write(metaDir.resolve("version-hint.text"), "1".getBytes("UTF-8"))

    // full read: spec-0 file substitutes region only (code from file);
    // spec-1 files substitute code AND region
    val all = IcebergInterop.readIceberg(spark, target)
      .select("id", "v", "region", "code")
      .as[(Long, String, String, String)].collect().toSet
    assert(all == Set(
      (1L, "a1", "eu", "aa"), (2L, "a2", "eu", "aa"),
      (3L, "b1", "eu", "bb"), (4L, "c1", "us", "cc")), all.toString)

    // prune on region: struct position 0 under spec 0, position 1
    // under spec 1 — must pick files A and B, not C
    val eu = IcebergInterop.readIcebergWhere(spark, target, "region", "eu")
      .select("id").as[Long].collect().toSet
    assert(eu == Set(1L, 2L, 3L))
    val us = IcebergInterop.readIcebergWhere(spark, target, "region", "us")
      .select("id").as[Long].collect().toSet
    assert(us == Set(4L))
    // the pruned scan must touch only the matching files
    val usFiles = IcebergInterop.readIcebergWhere(spark, target, "region", "us")
      .inputFiles.toSeq
    assert(usFiles.forall(_.contains("/data/c")), usFiles.toString)

    // prune on code: spec 0 (live manifest m0) lacks the field —
    // metadata-only pruning cannot classify file A, refuse loudly
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.readIcebergWhere(spark, target, "code", "bb").collect()
    }
    assert(e.getMessage.contains("does not carry partition field"), e.getMessage)
  }

  test("mirrorToIceberg fast-appends: O(delta) manifests, full rewrite on removal") {
    import spark.implicits._
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    def listRecords(root: String, snapId: Long): Seq[(String, Long)] = {
      val f = new java.io.File(root, "metadata").listFiles.toSeq
        .filter(_.getName.startsWith(s"snap-$snapId-")).head
      val r = new org.apache.avro.file.DataFileReader[GenericRecord](
        f, new GenericDatumReader[GenericRecord]())
      try {
        val buf = scala.collection.mutable.Buffer[(String, Long)]()
        while (r.hasNext) {
          val m = r.next()
          buf += ((m.get("manifest_path").toString,
            m.get("added_snapshot_id").asInstanceOf[Long]))
        }
        buf.toSeq
      } finally r.close()
    }
    val t = GraftTable.create(spark, tmp("graft_ifa_"),
      Seq((1L, "a")).toDF("id", "v"))
    t.append(Seq((2L, "b")).toDF("id", "v"))
    t.append(Seq((3L, "c")).toDF("id", "v"))
    assert(IcebergInterop.mirrorToIceberg(t) == 3)
    // each append reuses the prior manifests and adds ONE delta manifest
    val l1 = listRecords(t.root, 1L)
    val l2 = listRecords(t.root, 2L)
    val l3 = listRecords(t.root, 3L)
    assert(l1.size == 1 && l2.size == 2 && l3.size == 3,
      s"${l1.size}/${l2.size}/${l3.size}")
    assert(l2.head._1 == l1.head._1, "v2 must re-reference v1's manifest")
    assert(l3.take(2).map(_._1) == l2.map(_._1))
    // carried manifests keep their original added_snapshot_id
    assert(l3.map(_._2) == Seq(1L, 2L, 3L), l3.map(_._2).toString)
    // a removal collapses back to one full manifest
    t.delete(col("id") === 1L)
    assert(IcebergInterop.mirrorToIceberg(t) == 1)
    assert(listRecords(t.root, 4L).size == 1)
    // and the content stays exact through both paths
    assert(IcebergInterop.readIceberg(spark, t.root)
      .as[(Long, String)].collect().toSet == Set((2L, "b"), (3L, "c")))
    assert(IcebergInterop.readIceberg(spark, t.root, Some(3L))
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // a resumed mirror (fresh invocation) still fast-appends
    t.append(Seq((4L, "d")).toDF("id", "v"))
    assert(IcebergInterop.mirrorToIceberg(t) == 1)
    assert(listRecords(t.root, 5L).size == 2)
    assert(IcebergInterop.readIceberg(spark, t.root)
      .as[(Long, String)].collect().toSet ==
      Set((2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("fast-append stays correct when a mirror resumes after vacuum") {
    import spark.implicits._
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    // dir A (v0) + dir B (v1), mirror, then a commit that REMOVES B's
    // rows followed by vacuum (B deleted from disk) before the next
    // mirror: the resumed mirror must see the removal (prior file set
    // from the MANIFESTS, not a disk listing of vacuumed dirs) and do
    // a full rewrite — carrying the stale manifests would resurrect
    // the deleted rows / reference vacuumed paths
    val t = GraftTable.create(spark, tmp("graft_ifv_"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((10L, "x"), (11L, "y")).toDF("id", "v"))
    assert(IcebergInterop.mirrorToIceberg(t) == 2)
    t.delete(col("id") >= 10L)
    t.vacuum(t.latestVersion())
    assert(IcebergInterop.mirrorToIceberg(t) == 1)
    assert(IcebergInterop.readIceberg(spark, t.root)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    // every referenced data file of the current snapshot exists on disk
    val metaDir = new java.io.File(t.root, "metadata")
    val hint = new String(Files.readAllBytes(
      metaDir.toPath.resolve("version-hint.text")), "UTF-8").trim.toInt
    val md = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(
        metaDir.toPath.resolve(s"v$hint.metadata.json")))
    val cur = md.get("current-snapshot-id").asLong()
    val listFile = metaDir.listFiles.toSeq
      .find(_.getName.startsWith(s"snap-$cur-")).get
    val lr = new org.apache.avro.file.DataFileReader[GenericRecord](
      listFile, new GenericDatumReader[GenericRecord]())
    val manifestPaths = scala.collection.mutable.Buffer[String]()
    try while (lr.hasNext) manifestPaths += lr.next().get("manifest_path").toString
    finally lr.close()
    manifestPaths.foreach { mp =>
      val mr = new org.apache.avro.file.DataFileReader[GenericRecord](
        new java.io.File(new java.net.URI(
          if (mp.startsWith("file:")) mp else "file://" + mp)),
        new GenericDatumReader[GenericRecord]())
      try while (mr.hasNext) {
        val e = mr.next()
        val p = e.get("data_file").asInstanceOf[GenericRecord]
          .get("file_path").toString
        assert(Files.exists(java.nio.file.Paths.get(
          new java.net.URI(if (p.startsWith("file:")) p else "file://" + p))),
          s"snapshot references vacuumed file $p")
      } finally mr.close()
    }
  }

  test("mirrorToIceberg refuses time transforms under a non-UTC session") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_imtz_"),
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))).toDF("id", "ts"),
      partitionBy = Seq("days(ts)"))
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val e = intercept[IllegalArgumentException] {
        IcebergInterop.mirrorToIceberg(t)
      }
      assert(e.getMessage.contains("UTC"), e.getMessage)
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("v3 initial-default fills pre-add files; explicit nulls stay null") {
    import spark.implicits._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // a v1 export: data file 1 predates the column add (no 'flag')
    val t = GraftTable.create(spark, tmp("graft_idflt_"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val target = tmp("graft_idflt_out_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    val md = om.readTree(Files.readAllBytes(mdPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    md.put("format-version", 3)
    // add 'flag INT' with initial-default 7 (and a write-default, which
    // imposes nothing on reads or on explicit-value writers) to every
    // retained schema node
    val lastId = md.path("last-column-id").asInt()
    def addFlag(sc: com.fasterxml.jackson.databind.JsonNode): Unit = {
      val f = om.createObjectNode()
      f.put("id", lastId + 1); f.put("name", "flag")
      f.put("required", false); f.put("type", "int")
      f.put("initial-default", 7); f.put("write-default", 7)
      sc.path("fields")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode].add(f): Unit
    }
    if (md.has("schemas")) md.get("schemas").forEach(addFlag(_))
    if (md.has("schema")) addFlag(md.get("schema"))
    md.put("last-column-id", lastId + 1)
    patch(mdPath, om.writeValueAsBytes(md))
    // post-add file CARRIES the column, including an explicit NULL
    IcebergInterop.appendToIceberg(
      Seq((10L, "x", Option(1)), (11L, "y", Option.empty[Int]))
        .toDF("id", "v", "flag"), target)
    val got = IcebergInterop.readIceberg(spark, target)
      .select("id", "flag").as[(Long, Option[Int])].collect().toMap
    assert(got(1L) == Some(7) && got(2L) == Some(7), got.toString) // filled
    assert(got(10L) == Some(1), got.toString) // written value kept
    assert(got(11L) == None, got.toString)    // explicit null stays null
    // write-default: an append OMITTING the column fills the declared
    // default at write time (the file physically carries it)
    IcebergInterop.appendToIceberg(Seq((20L, "wd")).toDF("id", "v"), target)
    val got1 = IcebergInterop.readIceberg(spark, target)
      .select("id", "flag").as[(Long, Option[Int])].collect().toMap
    assert(got1(20L) == Some(7), got1.toString)
    // omitting a column with NO write-default still refuses
    val eMiss = intercept[IllegalArgumentException] {
      IcebergInterop.appendToIceberg(Seq(Tuple1(30L)).toDF("id"), target)
    }
    assert(eMiss.getMessage.contains("schema mismatch"), eMiss.getMessage)
    // RENAME the defaulted column (same field id, default retained):
    // files carrying the OLD name must read their REAL values by field
    // id — never the default (the silent-overwrite hazard) — while
    // pre-add files still fill
    def latestV = Files.list(Paths.get(target, "metadata")).toArray
      .map(_.toString)
      .flatMap("v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(_))
      .map(_.group(1).toInt).max
    val vRen = latestV
    val mdRenPath = Paths.get(target, "metadata", s"v$vRen.metadata.json")
    val mdRen = om.readTree(Files.readAllBytes(mdRenPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    def renameFlag(sc: com.fasterxml.jackson.databind.JsonNode): Unit =
      sc.path("fields").forEach { f =>
        if (f.path("name").asText() == "flag")
          f.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            .put("name", "flag2"): Unit
      }
    if (mdRen.has("schemas")) mdRen.get("schemas").forEach(renameFlag(_))
    if (mdRen.has("schema")) renameFlag(mdRen.get("schema"))
    // the spec's rename contract for id-less files: a name mapping
    // records the files' name for the field id
    val props = mdRen.path("properties") match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode => o
      case _ => mdRen.putObject("properties")
    }
    props.put("schema.name-mapping.default",
      s"""[{"field-id":${lastId + 1},"names":["flag"]}]""")
    patch(mdRenPath, om.writeValueAsBytes(mdRen))
    val gotRen = IcebergInterop.readIceberg(spark, target)
      .select("id", "flag2").as[(Long, Option[Int])].collect().toMap
    assert(gotRen(1L) == Some(7) && gotRen(2L) == Some(7), gotRen.toString)
    assert(gotRen(10L) == Some(1), gotRen.toString) // real value, by id
    assert(gotRen(11L) == None, gotRen.toString)    // real null, by id
    assert(gotRen(20L) == Some(7), gotRen.toString) // stored write-default
    // rename back so the nested case below starts clean
    def renameBack(sc: com.fasterxml.jackson.databind.JsonNode): Unit =
      sc.path("fields").forEach { f =>
        if (f.path("name").asText() == "flag2")
          f.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            .put("name", "flag"): Unit
      }
    if (mdRen.has("schemas")) mdRen.get("schemas").forEach(renameBack(_))
    if (mdRen.has("schema")) renameBack(mdRen.get("schema"))
    props.remove("schema.name-mapping.default")
    patch(mdRenPath, om.writeValueAsBytes(mdRen))

    // defaults under a map KEY refuse loudly (filling key fields
    // would change key identity); list-element / map-VALUE defaults
    // fill — pinned by the dedicated per-element test below
    val curV = latestV
    val md2 = om.readTree(Files.readAllBytes(Paths.get(target, "metadata",
      s"v$curV.metadata.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    def firstSchema = if (md2.has("schemas")) md2.get("schemas").get(0)
      else md2.get("schema")
    val nested = om.createObjectNode()
    nested.put("id", lastId + 2); nested.put("name", "s")
    nested.put("required", false)
    val st = nested.putObject("type")
    st.put("type", "map")
    st.put("key-id", lastId + 3)
    st.put("value-id", lastId + 5)
    val inner = om.createObjectNode()
    inner.put("type", "struct")
    val innerF = om.createObjectNode()
    innerF.put("id", lastId + 4); innerF.put("name", "x")
    innerF.put("required", false); innerF.put("type", "int")
    innerF.put("initial-default", 1)
    inner.putArray("fields").add(innerF)
    st.set[com.fasterxml.jackson.databind.JsonNode]("key", inner)
    st.put("value", "int")
    st.put("value-required", false)
    firstSchema.path("fields")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode].add(nested)
    patch(Paths.get(target, "metadata", s"v$curV.metadata.json"),
      om.writeValueAsBytes(md2))
    val eNested = intercept[IllegalArgumentException] {
      IcebergInterop.readIceberg(spark, target)
    }
    assert(eNested.getMessage.contains("map KEY"), eNested.getMessage)
  }

  test("v3 defaults under list elements and map values fill per element; " +
      "null containers and elements stay null") {
    import spark.implicits._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // seed: arr = list<struct<a>>, m = map<string, struct<x>> — one
    // row with data, one with NULL containers, one with a null element
    val t = GraftTable.create(spark, tmp("graft_icoll_"),
      Seq(1L, 2L, 3L).toDF("id").select($"id",
        org.apache.spark.sql.functions.when($"id" === 1L,
          org.apache.spark.sql.functions.array(
            org.apache.spark.sql.functions.struct(lit(10L).as("a")),
            org.apache.spark.sql.functions.struct(lit(20L).as("a"))))
          .when($"id" === 3L, org.apache.spark.sql.functions.array(
            org.apache.spark.sql.functions.struct(lit(30L).as("a")),
            lit(null).cast("struct<a:bigint>")))
          .as("arr"),
        org.apache.spark.sql.functions.when($"id" === 1L,
          org.apache.spark.sql.functions.map(lit("k"),
            org.apache.spark.sql.functions.struct(lit(100L).as("x"))))
          .as("m")).coalesce(1))
    val target = tmp("graft_icoll_out_")
    IcebergInterop.exportSnapshot(t, target)
    // bump to v3; add arr.element.b (default 5) and m.value.y
    // (default 7) to every retained schema node
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    val md = om.readTree(Files.readAllBytes(mdPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    md.put("format-version", 3)
    val lastId = md.path("last-column-id").asInt()
    def addDefaults(sc: com.fasterxml.jackson.databind.JsonNode): Unit =
      sc.path("fields").forEach { f =>
        val tn = f.path("type")
        if (f.path("name").asText() == "arr" && tn.isObject) {
          val b = om.createObjectNode()
          b.put("id", lastId + 1); b.put("name", "b")
          b.put("required", false); b.put("type", "long")
          b.put("initial-default", 5)
          tn.path("element").path("fields")
            .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
            .add(b): Unit
        }
        if (f.path("name").asText() == "m" && tn.isObject) {
          val y = om.createObjectNode()
          y.put("id", lastId + 2); y.put("name", "y")
          y.put("required", false); y.put("type", "long")
          y.put("initial-default", 7)
          tn.path("value").path("fields")
            .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
            .add(y): Unit
        }
      }
    if (md.has("schemas")) md.get("schemas").forEach(addDefaults(_))
    if (md.has("schema")) addDefaults(md.get("schema"))
    md.put("last-column-id", lastId + 2)
    patch(mdPath, om.writeValueAsBytes(md))
    // a post-add append SUPPLIES the element fields (explicit null b)
    IcebergInterop.appendToIceberg(
      Seq(4L).toDF("id").select($"id",
        org.apache.spark.sql.functions.array(
          org.apache.spark.sql.functions.struct(lit(40L).as("a"),
            lit(null).cast("bigint").as("b")))
          .cast("array<struct<a:bigint,b:bigint>>").as("arr"),
        org.apache.spark.sql.functions.map(lit("p"),
          org.apache.spark.sql.functions.struct(lit(400L).as("x"),
            lit(9L).as("y")))
          .cast("map<string,struct<x:bigint,y:bigint>>").as("m"))
        .coalesce(1), target)
    val got = IcebergInterop.readIceberg(spark, target)
      .select($"id",
        $"arr".cast("string").as("arrs"), $"m".cast("string").as("ms"))
      .as[(Long, Option[String], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // old elements fill b=5 / y=7; null element + null containers stay
    assert(got(1L)._1.contains("[{10, 5}, {20, 5}]"), got(1L).toString)
    assert(got(1L)._2.contains("{k -> {100, 7}}"), got(1L).toString)
    assert(got(2L) == ((None, None)), got(2L).toString)
    assert(got(3L)._1.contains("[{30, 5}, null]"), got(3L).toString)
    assert(got(3L)._2.isEmpty, got(3L).toString)
    // the post-add file keeps its written values, incl. the explicit
    // null b — presence is judged per file, so no fill applies
    assert(got(4L)._1.contains("[{40, null}]"), got(4L).toString)
    assert(got(4L)._2.contains("{p -> {400, 9}}"), got(4L).toString)
  }

  test("nested ADD COLUMN + nested v3 default: old files fill, renames read real data") {
    import spark.implicits._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // seed: struct column s{y} exists from the start; one row carries
    // a NULL struct (it must stay null through the fill)
    val t = GraftTable.create(spark, tmp("graft_indflt_"),
      Seq((1L, Some(10)), (2L, None)).toDF("id", "y")
        .select($"id", org.apache.spark.sql.functions.when($"y".isNotNull,
          org.apache.spark.sql.functions.struct($"y")).as("s"))
        .coalesce(1))
    val target = tmp("graft_indflt_out_")
    IcebergInterop.exportSnapshot(t, target)
    // nested ADD COLUMN s.x — fresh field id, last-column-id bumped
    IcebergInterop.addNestedColumnToIceberg(spark, target, "s", "x",
      org.apache.spark.sql.types.IntegerType)
    // bump to v3 and declare an initial-default on the new nested
    // field in the CURRENT schema (what a foreign v3 writer's
    // ADD COLUMN ... DEFAULT commits)
    def latestV = Files.list(Paths.get(target, "metadata")).toArray
      .map(_.toString)
      .flatMap("v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(_))
      .map(_.group(1).toInt).max
    val mdP = Paths.get(target, "metadata", s"v$latestV.metadata.json")
    val md = om.readTree(Files.readAllBytes(mdP))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    md.put("format-version", 3)
    var xId = -1
    def declareDefault(sc: com.fasterxml.jackson.databind.JsonNode): Unit =
      sc.path("fields").forEach { f =>
        if (f.path("name").asText() == "s" && f.path("type").isObject)
          f.path("type").path("fields").forEach { nf =>
            if (nf.path("name").asText() == "x") {
              xId = nf.path("id").asInt(-1)
              nf.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
                .put("initial-default", 5): Unit
            }
          }
      }
    if (md.has("schemas")) md.get("schemas").forEach(declareDefault(_))
    if (md.has("schema")) declareDefault(md.get("schema"))
    patch(mdP, om.writeValueAsBytes(md))
    assert(xId > 0)
    // post-add append SUPPLIES s.x (including an explicit null)
    IcebergInterop.appendToIceberg(
      Seq((3L, 30, Some(7)), (4L, 40, Option.empty[Int]))
        .toDF("id", "y0", "x0")
        .select($"id", org.apache.spark.sql.functions.struct(
          $"y0".as("y"), $"x0".as("x"))
          .cast("struct<y:int,x:int>").as("s")).coalesce(1), target)
    val got = IcebergInterop.readIceberg(spark, target)
      .select($"id", $"s.y".as("y"), $"s.x".as("x"),
        $"s".isNull.as("snull"))
      .as[(Long, Option[Int], Option[Int], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((Some(10), Some(5), false)), got.toString) // filled
    assert(got(2L) == ((None, None, true)), got.toString) // null struct stays
    assert(got(3L) == ((Some(30), Some(7), false)), got.toString) // kept
    assert(got(4L) == ((Some(40), None, false)), got.toString) // expl. null
    // RENAME the defaulted nested field (same id, default retained):
    // the post-add files carry the OLD name and must read their REAL
    // values through the name-mapping — never the default
    val mdP2 = Paths.get(target, "metadata", s"v$latestV.metadata.json")
    val md2 = om.readTree(Files.readAllBytes(mdP2))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    def renameX(sc: com.fasterxml.jackson.databind.JsonNode): Unit =
      sc.path("fields").forEach { f =>
        if (f.path("name").asText() == "s" && f.path("type").isObject)
          f.path("type").path("fields").forEach { nf =>
            if (nf.path("name").asText() == "x")
              nf.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
                .put("name", "x2"): Unit
          }
      }
    if (md2.has("schemas")) md2.get("schemas").forEach(renameX(_))
    if (md2.has("schema")) renameX(md2.get("schema"))
    // graft-written files carry no parquet field ids — the nested
    // rename resolves through schema.name-mapping.default (the
    // convert/migrate convention), extended with the nested entry
    val sId = {
      var found = -1
      (if (md2.has("schema")) md2.get("schema") else
        md2.get("schemas").get(0)).path("fields").forEach { f =>
        if (f.path("name").asText() == "s") found = f.path("id").asInt(-1)
      }
      found
    }
    val yId = {
      var found = -1
      (if (md2.has("schema")) md2.get("schema") else
        md2.get("schemas").get(0)).path("fields").forEach { f =>
        if (f.path("name").asText() == "s")
          f.path("type").path("fields").forEach { nf =>
            if (nf.path("name").asText() == "y")
              found = nf.path("id").asInt(-1)
          }
      }
      found
    }
    val idIdNode = {
      var found = -1
      (if (md2.has("schema")) md2.get("schema") else
        md2.get("schemas").get(0)).path("fields").forEach { f =>
        if (f.path("name").asText() == "id") found = f.path("id").asInt(-1)
      }
      found
    }
    val props = md2.path("properties") match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode => o
      case _ => md2.putObject("properties")
    }
    props.put("schema.name-mapping.default",
      s"""[{"field-id":$idIdNode,"names":["id"]},{"field-id":$sId,"names":["s"],"fields":[{"field-id":$yId,"names":["y"]},{"field-id":$xId,"names":["x"]}]}]""")
    patch(mdP2, om.writeValueAsBytes(md2))
    val gotRen = IcebergInterop.readIceberg(spark, target)
      .select($"id", $"s.x2".as("x2"))
      .as[(Long, Option[Int])].collect().toMap
    assert(gotRen(1L) == Some(5), gotRen.toString)  // pre-add: filled
    assert(gotRen(3L) == Some(7), gotRen.toString)  // REAL value, mapped
    assert(gotRen(4L) == None, gotRen.toString)     // real explicit null
  }

  test("refuses formats beyond v3 and renamed columns") {
    import spark.implicits._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()

    // v3 metadata with no v3-only feature READS (scoped support; the
    // feature-level refusals are pinned by the dedicated v3 test);
    // beyond v3 refuses wholesale
    val t = GraftTable.create(spark, tmp("graft_ixr_"),
      Seq((1L, "a")).toDF("id", "v"))
    val target = tmp("graft_ixr_out_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    val orig = Files.readAllBytes(mdPath)
    val md = om.readTree(orig)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    md.put("format-version", 3)
    patch(mdPath, om.writeValueAsBytes(md))
    assert(IcebergInterop.readIceberg(spark, target).count() == 1)
    md.put("format-version", 4)
    patch(mdPath, om.writeValueAsBytes(md))
    val e1 = intercept[IllegalArgumentException] {
      IcebergInterop.readIceberg(spark, target)
    }
    assert(e1.getMessage.contains("v1-v3"), e1.getMessage)
    patch(mdPath, orig)

    // (delete manifests are READ since r9 — covered, with the equality
    // refusal, by the "v2 position deletes" test)

    // declared column renamed after data was written (field-id rename):
    // name-based resolution must refuse, not null-fill
    val renamed = new String(orig, "UTF-8").replace("\"name\" : \"v\"", "\"name\" : \"label\"")
      .replace("\"name\":\"v\"", "\"name\":\"label\"")
    assert(renamed != new String(orig, "UTF-8"))
    patch(mdPath, renamed.getBytes("UTF-8"))
    val e3 = intercept[IllegalArgumentException] {
      IcebergInterop.readIceberg(spark, target)
    }
    assert(e3.getMessage.contains("label"), e3.getMessage)

    // rename recorded in schema HISTORY: old-name and new-name data
    // files coexist (a first-file probe could sample only the new
    // ones), so the field-id/name conflict across `schemas` must
    // refuse on its own
    val md3 = om.readTree(orig)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val schemas = md3.get("schemas")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    val renamedSchema = schemas.get(0).deepCopy()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    renamedSchema.put("schema-id", 1)
    renamedSchema.get("fields").get(1)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("name", "label")
    schemas.add(renamedSchema)
    md3.put("current-schema-id", 1)
    patch(mdPath, om.writeValueAsBytes(md3))
    val e4 = intercept[IllegalArgumentException] {
      IcebergInterop.readIceberg(spark, target)
    }
    assert(e4.getMessage.contains("schema versions"), e4.getMessage)
  }

  test("v2 position deletes filter named rows; id-less equality deletes refuse") {
    import spark.implicits._
    import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
    val om = new com.fasterxml.jackson.databind.ObjectMapper()

    val t = GraftTable.create(spark, tmp("graft_ipd_"),
      (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    t.append((10L until 20L).map(i => (i, s"v$i")).toDF("id", "v"))
    val target = tmp("graft_ipd_out_")
    IcebergInterop.exportSnapshot(t, target)

    // data-file paths EXACTLY as the manifests carry them, and the id
    // living at each (file, pos) — positions are _metadata.row_index
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    val origMd = Files.readAllBytes(mdPath)
    val mdNode = om.readTree(origMd)
    val listPath = mdNode.get("snapshots").get(0).get("manifest-list").asText()
    // metadata carries fs-qualified strings (file:/…) — strip for java.io
    def localFile(p: String): java.io.File = {
      val u = new java.net.URI(p)
      new java.io.File(if (u.getScheme == null) p else u.getPath)
    }
    def avroRecords(f: java.io.File): Seq[GenericRecord] = {
      val r = new org.apache.avro.file.DataFileReader[GenericRecord](
        f, new GenericDatumReader[GenericRecord]())
      try Iterator.continually(r).takeWhile(_.hasNext).map(_.next()).toList
      finally r.close()
    }
    val dataManifests = avroRecords(localFile(listPath))
      .map(_.get("manifest_path").toString)
    val filePaths = dataManifests.flatMap(mp => avroRecords(localFile(mp))
      .map(_.get("data_file").asInstanceOf[GenericRecord]
        .get("file_path").toString)).sorted
    assert(filePaths.size >= 2, filePaths)
    def rowsAt(p: String): Map[Long, Long] = // pos -> id
      spark.read.parquet(p)
        .select(org.apache.spark.sql.functions.col("_metadata.row_index"), $"id")
        .as[(Long, Long)].collect().toMap
    val byFile = filePaths.map(p => p -> rowsAt(p)).toMap

    // delete two positions of one file and one of another; plus a
    // delete naming a file absent from the snapshot (a no-op, not an
    // error). Positions chosen from what the files actually hold.
    val fileA = filePaths.maxBy(byFile(_).size)
    val fileB = filePaths.filter(_ != fileA).maxBy(byFile(_).size)
    val delA = byFile(fileA).keys.toSeq.sorted.take(2)
    val delB = byFile(fileB).keys.toSeq.sorted.takeRight(1)
    assert(delA.size == 2 && delB.size == 1)
    val deletedIds =
      (delA.map(byFile(fileA)) ++ delB.map(byFile(fileB))).toSet
    val delDir = tmp("graft_ipd_del_")
    (delA.map((fileA, _)) ++ delB.map((fileB, _)) :+
        (("file:/no/such/data/file.parquet", 0L)))
      .toDF("file_path", "pos").coalesce(1).write.mode("overwrite").parquet(delDir)
    val delParquet = new java.io.File(delDir).listFiles
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath

    // hand-written DELETE manifest + a new manifest list carrying the
    // data manifests (content 0) and the delete manifest (content 1)
    val delManifestSchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"}]}}
        |]}""".stripMargin.replace("\n", ""))
    def writeDeleteManifest(dest: java.nio.file.Path, content: Int): Unit = {
      val e = new GenericData.Record(delManifestSchema)
      e.put("status", 1)
      val df = new GenericData.Record(
        delManifestSchema.getField("data_file").schema())
      df.put("content", content)
      df.put("file_path", delParquet)
      df.put("file_format", "PARQUET")
      df.put("record_count", 4L)
      df.put("file_size_in_bytes", new java.io.File(delParquet).length())
      e.put("data_file", df)
      val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](delManifestSchema))
      w.create(delManifestSchema, dest.toFile)
      w.append(e)
      w.close()
    }
    val listSchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"content","type":"int"},
        |{"name":"added_snapshot_id","type":["null","long"],"default":null}
        |]}""".stripMargin.replace("\n", ""))
    def writeList(dest: java.nio.file.Path, delManifest: String): Unit = {
      val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      w.create(listSchema, dest.toFile)
      (dataManifests.map((_, 0)) :+ (delManifest, 1)).foreach { case (p, c) =>
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", p)
        r.put("manifest_length", 1L)
        r.put("partition_spec_id", 0)
        r.put("content", c)
        r.put("added_snapshot_id", 1L)
        w.append(r)
      }
      w.close()
    }
    val posManifest = Paths.get(target, "metadata", "del-m0.avro")
    writeDeleteManifest(posManifest, content = 1)
    val newList = Paths.get(target, "metadata", "snap-pos-del.avro")
    writeList(newList, posManifest.toString)
    val md2 = om.readTree(origMd)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    md2.put("format-version", 2)
    md2.get("snapshots").get(0)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("manifest-list", newList.toString)
    patch(mdPath, om.writeValueAsBytes(md2))

    val got = IcebergInterop.readIceberg(spark, target)
      .as[(Long, String)].collect().toMap
    assert(got.keySet == (0L until 20L).toSet -- deletedIds,
      s"deleted=$deletedIds got=${got.keySet}")
    assert(deletedIds.forall(i => !got.contains(i)))
    // surviving values untouched
    assert(got.forall { case (k, v) => v == s"v$k" })

    // an equality delete file (content 2) WITHOUT equality_ids is
    // malformed and must refuse loudly (well-formed ones read — see
    // the equality-deletes test)
    val eqManifest = Paths.get(target, "metadata", "del-eq-m0.avro")
    writeDeleteManifest(eqManifest, content = 2)
    val eqList = Paths.get(target, "metadata", "snap-eq-del.avro")
    writeList(eqList, eqManifest.toString)
    val md3 = om.readTree(origMd)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    md3.put("format-version", 2)
    md3.get("snapshots").get(0)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("manifest-list", eqList.toString)
    patch(mdPath, om.writeValueAsBytes(md3))
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.readIceberg(spark, target)
    }
    assert(e.getMessage.contains("equality delete"), e.getMessage)
  }

  test("IcebergSource streams a mirrored table: snapshot, appends, change refusal") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_istr_"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    IcebergInterop.mirrorToIceberg(t)

    val name = "istream_mem"
    val q = spark.readStream.format("graft.sources.v2.IcebergSource")
      .load(t.root)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "b")))
      // appended snapshots flow incrementally (fast-append manifests:
      // only the NEW manifest's ADDED entries stream, not the carried
      // prior files)
      t.append(Seq((3L, "c")).toDF("id", "v"))
      IcebergInterop.mirrorToIceberg(t)
      t.append(Seq((4L, "d")).toDF("id", "v"))
      IcebergInterop.mirrorToIceberg(t)
      q.processAllAvailable()
      assert(spark.table(name).as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
      // a COMPACTION snapshot rewrites the same rows — invisible to
      // the stream (Iceberg's own source contract): no rows, no failure
      t.compact(1)
      IcebergInterop.mirrorToIceberg(t)
      q.processAllAvailable()
      assert(spark.table(name).count() == 4)
      // a change snapshot (row-level delete) fails the stream loudly
      t.delete(col("id") === 1L)
      IcebergInterop.mirrorToIceberg(t)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("skipChangeCommits"), e.getMessage)
    } finally q.stop()

    // skipChangeCommits: fresh query passes the change snapshot and
    // keeps tailing appends
    val name2 = "istream_mem2"
    val q2 = spark.readStream.format("graft.sources.v2.IcebergSource")
      .option("skipChangeCommits", "true")
      .load(t.root)
      .writeStream.format("memory").queryName(name2).outputMode("append").start()
    try {
      q2.processAllAvailable()
      t.append(Seq((5L, "e")).toDF("id", "v"))
      IcebergInterop.mirrorToIceberg(t)
      q2.processAllAvailable()
      assert(spark.table(name2).as[(Long, String)].collect().toSet ==
        Set((2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    } finally q2.stop()

    // the same source string also batch-reads (= readIceberg)
    assert(spark.read.format("graft.sources.v2.IcebergSource").load(t.root)
      .count() == 4)
  }

  test("IcebergSource streams v3 tables; v3 DV delete is a change snapshot") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_iv3s_"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val target = tmp("graft_iv3s_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    patch(mdPath, new String(Files.readAllBytes(mdPath), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 3")
      .getBytes("UTF-8"))
    IcebergInterop.appendToIceberg(Seq((3L, "c")).toDF("id", "v"), target)
    val name = "iv3stream_mem"
    val q = spark.readStream.format("graft.sources.v2.IcebergSource")
      .option("skipChangeCommits", "true")
      .load(target)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "b"), (3L, "c")))
      // a v3 DV delete is a change snapshot — skipped under the
      // option, appends after it keep flowing
      IcebergInterop.deleteFromIceberg(spark, target, col("id") === 1L)
      IcebergInterop.appendToIceberg(Seq((4L, "d")).toDF("id", "v"), target)
      q.processAllAvailable()
      assert(spark.table(name).as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    } finally q.stop()
  }

  test("IcebergSource restart catches up ACROSS an ADD COLUMN without wedging") {
    import spark.implicits._
    // the catch-up batch of a restarted stream spans snapshots on BOTH
    // sides of a schema change: pre-change snapshots are NARROWER than
    // the widened plan and must null-fill (a strict schema-id or
    // full-schema footer probe here wedged every such restart)
    val t = GraftTable.create(spark, tmp("graft_isg_"),
      Seq((1L, "a")).toDF("id", "v"))
    IcebergInterop.mirrorToIceberg(t)
    val ckpt = tmpDir("graft_isg_ck_").toString
    val out = tmpDir("graft_isg_out_").toString
    // skipChangeCommits passes the metadata-only ADD COLUMN snapshot
    // (a non-append operation with no data content)
    def run() = spark.readStream.format("graft.sources.v2.IcebergSource")
      .option("skipChangeCommits", "true")
      .load(t.root)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    val q = run()
    try q.processAllAvailable() finally q.stop()
    // while the stream is DOWN: pre-change append, ADD COLUMN,
    // post-change append — each mirrored as its own snapshot
    t.append(Seq((2L, "b")).toDF("id", "v"))
    IcebergInterop.mirrorToIceberg(t)
    t.addColumn("score", org.apache.spark.sql.types.DoubleType)
    IcebergInterop.mirrorToIceberg(t)
    t.append(Seq((3L, "c", 7.5)).toDF("id", "v", "score"))
    IcebergInterop.mirrorToIceberg(t)
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.option("mergeSchema", "true").parquet(out)
      .orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L), rows.mkString(", "))
    val score = rows.map(r => Option(r.getAs[Any]("score")))
    assert(score(0).isEmpty && score(1).isEmpty && score(2).contains(7.5),
      rows.mkString(", "))
  }

  test("streaming changelog decodes MoR deletes and restarts from the checkpoint") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_icl_"),
      (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val target = tmp("graft_icl_out_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    patch(mdPath, new String(Files.readAllBytes(mdPath), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 2")
      .getBytes("UTF-8"))
    val seeded = IcebergInterop.icebergRefSnapshot(spark, target, "main")
    val ckpt = tmpDir("graft_icl_ck_").toString
    val out = tmpDir("graft_icl_sink_").toString
    def run() = spark.readStream.format("graft.sources.v2.IcebergSource")
      .option("readChangeFeed", "true").load(target)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    // batch 0: the complete snapshot as inserts, ordinal 0
    val q = run(); try q.processAllAvailable() finally q.stop()
    val b0 = spark.read.parquet(out)
      .select($"id", $"_change_type", $"_change_ordinal")
      .as[(Long, String, Int)].collect().toSet
    assert(b0 == (1L to 6L).map(i => (i, "insert", 0)).toSet, b0.toString)
    // while the stream is DOWN: an append snapshot and a MoR
    // position-delete snapshot
    IcebergInterop.appendToIceberg(
      Seq((7L, "v7"), (8L, "v8")).toDF("id", "v"), target)
    IcebergInterop.deleteFromIceberg(spark, target, col("id") <= 2L)
    // restart: the catch-up batch decodes both — appended rows as
    // inserts, struck rows as deletes; batch 0 is NOT replayed
    val q2 = run(); try q2.processAllAvailable() finally q2.stop()
    val all = spark.read.parquet(out)
      .select($"id", $"_change_type", $"_change_ordinal")
      .as[(Long, String, Int)].collect().toSeq
    assert(all.size == 10, all.sorted.mkString(", "))
    val tail = all.filterNot(_._3 == 0).toSet
    assert(tail == Set((7L, "insert", 1), (8L, "insert", 1),
      (1L, "delete", 2), (2L, "delete", 2)), tail.toString)
    // the batch changelog equals the drained tail
    val batch = IcebergInterop.readIcebergChangelog(spark, target, seeded)
      .select($"id", $"_change_type", $"_change_ordinal")
      .as[(Long, String, Int)].collect().toSet
    assert(batch == tail, batch.toString)
  }

  test("readIcebergChangelog decodes EQUALITY-delete snapshots via a " +
      "seq-scoped key probe — ONE table scan") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_icleq_"),
      (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val target = tmp("graft_icleq_out_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    patch(mdPath, new String(Files.readAllBytes(mdPath), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 2")
      .getBytes("UTF-8"))
    val seeded = IcebergInterop.icebergRefSnapshot(spark, target, "main")
    // a keyed EQUALITY delete (content-2 file): the delete's inherited
    // sequence number outranks every file live at the previous
    // snapshot, so the fast path semi-joins the keys against ONE
    // table-as-of-prev scan instead of the two-scan lineage diff
    IcebergInterop.deleteFromIcebergByKey(
      Seq(2L, 5L).toDF("id"), target)
    IcebergInterop.changelogTableScans.set(0L)
    val got = IcebergInterop.readIcebergChangelog(spark, target, seeded)
      .select($"id", $"_change_type", $"_change_ordinal")
      .as[(Long, String, Int)].collect().toSet
    assert(got == Set((2L, "delete", 1), (5L, "delete", 1)), got.toString)
    assert(IcebergInterop.changelogTableScans.get() == 1L,
      s"eq-delete decode paid ${IcebergInterop.changelogTableScans.get()} " +
        "table scans; the key probe bounds it to one")
    // a later re-insert of a deleted key is an APPEND snapshot: the
    // changelog emits it as an insert, and the sequence-number guard
    // keeps the earlier equality delete from eating it
    IcebergInterop.appendToIceberg(Seq((2L, "v2b")).toDF("id", "v"), target)
    IcebergInterop.changelogTableScans.set(0L)
    val got2 = IcebergInterop.readIcebergChangelog(spark, target, seeded)
      .select($"id", $"v", $"_change_type", $"_change_ordinal")
      .as[(Long, String, String, Int)].collect().toSet
    assert(got2 == Set((2L, "v2", "delete", 1), (5L, "v5", "delete", 1),
      (2L, "v2b", "insert", 2)), got2.toString)
    // still one scan: the append snapshot decodes scan-free
    assert(IcebergInterop.changelogTableScans.get() == 1L)
  }

  test("readIcebergChangelog decodes v3 DV deletes via lineage diff") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_icl3_"),
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1))
    val target = tmp("graft_icl3_out_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    patch(mdPath, new String(Files.readAllBytes(mdPath), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 3")
      .getBytes("UTF-8"))
    val seeded = IcebergInterop.icebergRefSnapshot(spark, target, "main")
    // a v3 delete writes a puffin DELETION VECTOR — not a position
    // delete parquet, so the changelog takes the exact lineage-diff
    // path instead of the MoR fast path
    IcebergInterop.deleteFromIceberg(spark, target, col("id") === 2L)
    val got = IcebergInterop.readIcebergChangelog(spark, target, seeded)
      .select($"id", $"v", $"_change_type", $"_change_ordinal")
      .as[(Long, String, String, Int)].collect().toSet
    assert(got == Set((2L, "b", "delete", 1)), got.toString)
  }

  test("changelog + streams follow the ancestor chain after rollback — " +
      "abandoned snapshots are not changes") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_iclrb_"),
      Seq((1L, "a")).toDF("id", "v").coalesce(1))
    val target = tmp("graft_iclrb_out_")
    IcebergInterop.exportSnapshot(t, target)
    val s1 = IcebergInterop.icebergRefSnapshot(spark, target, "main")
    IcebergInterop.appendToIceberg(Seq((2L, "bad")).toDF("id", "v"), target)
    val s2 = IcebergInterop.icebergRefSnapshot(spark, target, "main")
    IcebergInterop.rollbackIceberg(spark, target, s1)
    // the stream's next offset after a rollback is the BRANCH HEAD
    // (s1), never the snapshots array's tail (the abandoned s2)
    val src = new graft.sources.v2.IcebergCdfStreamSource(
      spark, Map("path" -> target))
    assert(src.getOffset.map(_.json.trim.toLong).contains(s1),
      src.getOffset.toString)
    IcebergInterop.appendToIceberg(Seq((3L, "c")).toDF("id", "v"), target)
    // the abandoned append (s2) decodes as NOTHING: only the
    // post-rollback append is a change on the current branch — the
    // old array-order walk would emit (2,"bad") as a phantom insert
    val got = IcebergInterop.readIcebergChangelog(spark, target, s1)
      .select($"id", $"v", $"_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(got == Set((3L, "c", "insert")), got.toString)
    val inc = IcebergInterop.readIcebergChanges(spark, target, s1)
      .select($"id").as[Long].collect().toSet
    assert(inc == Set(3L), inc.toString)
    // a start on the abandoned branch refuses toward a re-sync
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.readIcebergChangelog(spark, target, s2).count()
    }
    assert(e.getMessage.contains("not an ancestor"), e.getMessage)
  }

  test("changelog decodes a Flink-style upsert commit: same-snapshot " +
      "position deletes strike the insert scan; eq keys probe prev — one scan") {
    import spark.implicits._
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // base (seq 0, v1→v2): ids 1-3
    val t = GraftTable.create(spark, tmp("graft_iclup_"),
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1))
    val target = tmp("graft_iclup_out_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    val origMd = om.readTree(Files.readAllBytes(mdPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val s1 = origMd.get("current-snapshot-id").asLong()
    val s2 = s1 + 1
    // the upsert's data file: a new version of id=2, a new id=10, and
    // a within-batch duplicate of id=10 at pos 2 (struck below)
    val dDir = tmp("graft_iclup_d_")
    Seq((2L, "v2new"), (10L, "x10"), (10L, "x10dup")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(dDir)
    val dFile = new java.io.File(dDir).listFiles
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    // position delete striking the SAME snapshot's file at pos 2
    val pdDir = tmp("graft_iclup_pd_")
    Seq((dFile, 2L)).toDF("file_path", "pos")
      .coalesce(1).write.mode("overwrite").parquet(pdDir)
    val pdFile = new java.io.File(pdDir).listFiles
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    // equality delete on id (field 1): key 2 — strikes the OLD row
    // only (the same-commit re-insert has the same sequence number)
    val eqDir = tmp("graft_iclup_eq_")
    Seq(2L).toDF("id").coalesce(1).write.mode("overwrite").parquet(eqDir)
    val eqFile = new java.io.File(eqDir).listFiles
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath

    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"},
        |{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null}
        |]}}]}""".stripMargin.replace("\n", ""))
    def writeManifest(dest: java.nio.file.Path, content: Int, fp: String,
        eqIds: Seq[Int]): Unit = {
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      val df = new GenericData.Record(entrySchema.getField("data_file").schema())
      df.put("content", content)
      df.put("file_path", fp)
      df.put("file_format", "PARQUET")
      df.put("record_count", 1L)
      df.put("file_size_in_bytes", new java.io.File(fp).length())
      if (eqIds.nonEmpty) {
        val arr = new java.util.ArrayList[Integer]()
        eqIds.foreach(i => arr.add(i))
        df.put("equality_ids", arr)
      }
      e.put("data_file", df)
      val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      w.create(entrySchema, dest.toFile)
      w.append(e)
      w.close()
    }
    val dManifest = Paths.get(target, "metadata", "up-data-m0.avro")
    writeManifest(dManifest, content = 0, dFile, Nil)
    val pdManifest = Paths.get(target, "metadata", "up-pos-m0.avro")
    writeManifest(pdManifest, content = 1, pdFile, Nil)
    val eqManifest = Paths.get(target, "metadata", "up-eq-m0.avro")
    writeManifest(eqManifest, content = 2, eqFile, Seq(1))

    val listSchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"content","type":"int"},
        |{"name":"sequence_number","type":"long"},
        |{"name":"added_snapshot_id","type":["null","long"],"default":null}
        |]}""".stripMargin.replace("\n", ""))
    val baseList = origMd.get("snapshots").get(0).get("manifest-list").asText()
    val baseManifests = {
      val u = new java.net.URI(baseList)
      val f = new java.io.File(if (u.getScheme == null) baseList else u.getPath)
      val r = new org.apache.avro.file.DataFileReader[GenericRecord](
        f, new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
      try Iterator.continually(r).takeWhile(_.hasNext)
        .map(_.next().get("manifest_path").toString).toList
      finally r.close()
    }
    val newList = Paths.get(target, "metadata", "snap-upsert.avro")
    locally {
      val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      w.create(listSchema, newList.toFile)
      (baseManifests.map((_, 0, 0L, s1)) ++ Seq(
        (dManifest.toString, 0, 1L, s2),
        (pdManifest.toString, 1, 1L, s2),
        (eqManifest.toString, 1, 1L, s2))).foreach { case (p, c, sq, by) =>
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", p)
        r.put("manifest_length", 1L)
        r.put("partition_spec_id", 0)
        r.put("content", c)
        r.put("sequence_number", sq)
        r.put("added_snapshot_id", by)
        w.append(r)
      }
      w.close()
    }
    val md2 = origMd.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    md2.put("format-version", 2)
    md2.put("last-sequence-number", 1L)
    md2.put("current-snapshot-id", s2)
    val sn = om.createObjectNode()
    sn.put("snapshot-id", s2)
    sn.put("parent-snapshot-id", s1)
    sn.put("sequence-number", 1L)
    sn.put("timestamp-ms", System.currentTimeMillis())
    sn.putObject("summary").put("operation", "overwrite")
    sn.put("manifest-list", newList.toString)
    md2.get("snapshots")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode].add(sn)
    patch(mdPath, om.writeValueAsBytes(md2))

    // sanity: the table state applies both delete mechanisms
    val state = IcebergInterop.readIceberg(spark, target)
      .as[(Long, String)].collect().toSet
    assert(state == Set((1L, "a"), (3L, "c"), (2L, "v2new"), (10L, "x10")),
      state.toString)
    // the changelog decodes it in ONE table scan: eq key 2 probes
    // prev (delete of the OLD (2,"b") only — the same-commit
    // re-insert survives), and the own-file position delete strikes
    // the pos-2 duplicate OUT of the insert scan without emitting a
    // phantom delete
    IcebergInterop.changelogTableScans.set(0L)
    val got = IcebergInterop.readIcebergChangelog(spark, target, s1)
      .select($"id", $"v", $"_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(got == Set(
      (2L, "b", "delete"),
      (2L, "v2new", "insert"), (10L, "x10", "insert")), got.toString)
    assert(IcebergInterop.changelogTableScans.get() == 1L,
      s"upsert decode paid ${IcebergInterop.changelogTableScans.get()} scans")
  }

  test("renamed Iceberg tables read by parquet field id when files carry ids") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_ifid_"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    val target = tmp("graft_ifid_out_")
    IcebergInterop.exportSnapshot(t, target)
    // replace the exported data file with one carrying parquet FIELD
    // IDS (1=id, 2=v) — what a real Iceberg writer always stamps
    val dataFiles0 = new java.io.File(target, "data").listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(dataFiles0.length == 1, dataFiles0.toSeq)
    val dataFile = dataFiles0.head
    def idMeta(i: Long) = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", i).build()
    val fileSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = true, idMeta(1)),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType, nullable = true, idMeta(2))))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    rows.add(org.apache.spark.sql.Row(1L, "a"))
    rows.add(org.apache.spark.sql.Row(2L, "b"))
    val stage = tmp("graft_ifid_stage_")
    spark.createDataFrame(rows, fileSchema).coalesce(1)
      .write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, dataFile.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // drop the local-FS checksum sidecar of the replaced file
    Files.deleteIfExists(
      dataFile.toPath.resolveSibling("." + dataFile.getName + ".crc"))
    // rename v -> label in the declared schema (field id 2 unchanged)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    val renamed = new String(Files.readAllBytes(mdPath), "UTF-8")
      .replace("\"name\" : \"v\"", "\"name\" : \"label\"")
      .replace("\"name\":\"v\"", "\"name\":\"label\"")
    patch(mdPath, renamed.getBytes("UTF-8"))
    // the name-based probe sees the rename, finds ids in the footer,
    // and resolves BY FIELD ID instead of refusing
    val got = IcebergInterop.readIceberg(spark, target)
    assert(got.columns.toSeq == Seq("id", "label"))
    assert(got.as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // the PLAIN STREAM takes the same id-upgrade (r16): old-name files
    // scan under the id-annotated schema — real data, logical names
    val name = "irn_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.format("graft.sources.v2.IcebergSource")
      .load(target)
      .writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    q.awaitTermination()
    val streamed = spark.table(name).as[(Long, String)].collect().toSet
    assert(streamed == Set((1L, "a"), (2L, "b")), streamed.toString)
  }

  test("v2 equality deletes: null-safe matching, sequence-number guard") {
    import spark.implicits._
    import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
    val om = new com.fasterxml.jackson.databind.ObjectMapper()

    // base data (sequence 0): ids 0-9, v null at 5
    val t = GraftTable.create(spark, tmp("graft_ieq_"),
      (0L until 10L).map(i => (i, if (i == 5) null else s"v$i")).toDF("id", "v"))
    val target = tmp("graft_ieq_out_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    val origMd = Files.readAllBytes(mdPath)
    def localFile(p: String): java.io.File = {
      val u = new java.net.URI(p)
      new java.io.File(if (u.getScheme == null) p else u.getPath)
    }
    def avroRecords(f: java.io.File): Seq[GenericRecord] = {
      val r = new org.apache.avro.file.DataFileReader[GenericRecord](
        f, new GenericDatumReader[GenericRecord]())
      try Iterator.continually(r).takeWhile(_.hasNext).map(_.next()).toList
      finally r.close()
    }
    val listPath = om.readTree(origMd)
      .get("snapshots").get(0).get("manifest-list").asText()
    val dataManifests = avroRecords(localFile(listPath))
      .map(_.get("manifest_path").toString)

    // equality delete file (sequence 2): column `v` (field id 2) —
    // "v3" plus a NULL row, which must match the null-v row (id 5)
    val eqDir = tmp("graft_ieq_del_")
    Seq(Option("v3"), Option.empty[String]).toDF("v")
      .coalesce(1).write.mode("overwrite").parquet(eqDir)
    val eqParquet = new java.io.File(eqDir).listFiles
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath

    // re-insert data file (sequence 3): a NEW row with v = "v3" that
    // must SURVIVE the earlier delete
    val reDir = tmp("graft_ieq_re_")
    Seq((100L, "v3")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(reDir)
    val reParquet = new java.io.File(reDir).listFiles
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath

    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"},
        |{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null}
        |]}}]}""".stripMargin.replace("\n", ""))
    def writeManifest(dest: java.nio.file.Path, content: Int, fp: String,
                      eqIds: Seq[Int]): Unit = {
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      val df = new GenericData.Record(entrySchema.getField("data_file").schema())
      df.put("content", content)
      df.put("file_path", fp)
      df.put("file_format", "PARQUET")
      df.put("record_count", 2L)
      df.put("file_size_in_bytes", new java.io.File(fp).length())
      if (eqIds.nonEmpty) {
        val arr = new java.util.ArrayList[Integer]()
        eqIds.foreach(i => arr.add(i))
        df.put("equality_ids", arr)
      }
      e.put("data_file", df)
      val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      w.create(entrySchema, dest.toFile)
      w.append(e)
      w.close()
    }
    val eqManifest = Paths.get(target, "metadata", "eq-m0.avro")
    writeManifest(eqManifest, content = 2, eqParquet, Seq(2))
    val reManifest = Paths.get(target, "metadata", "re-m0.avro")
    writeManifest(reManifest, content = 0, reParquet, Nil)

    val listSchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"content","type":"int"},
        |{"name":"sequence_number","type":"long"},
        |{"name":"added_snapshot_id","type":["null","long"],"default":null}
        |]}""".stripMargin.replace("\n", ""))
    val newList = Paths.get(target, "metadata", "snap-eq.avro")
    locally {
      val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      w.create(listSchema, newList.toFile)
      (dataManifests.map((_, 0, 0L)) ++
        Seq((eqManifest.toString, 1, 2L), (reManifest.toString, 0, 3L)))
        .foreach { case (p, c, s) =>
          val r = new GenericData.Record(listSchema)
          r.put("manifest_path", p)
          r.put("manifest_length", 1L)
          r.put("partition_spec_id", 0)
          r.put("content", c)
          r.put("sequence_number", s)
          r.put("added_snapshot_id", 1L)
          w.append(r)
        }
      w.close()
    }
    val md2 = om.readTree(origMd)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    md2.put("format-version", 2)
    md2.get("snapshots").get(0)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("manifest-list", newList.toString)
    patch(mdPath, om.writeValueAsBytes(md2))

    val got = IcebergInterop.readIceberg(spark, target)
      .as[(Long, Option[String])].collect().toMap
    // "v3" and the null row deleted from sequence-0 data; the
    // sequence-3 re-insert of "v3" survives the sequence-2 delete
    val expectIds = ((0L until 10L).toSet -- Set(3L, 5L)) + 100L
    assert(got.keySet == expectIds, s"got=${got.keySet}")
    assert(got(100L).contains("v3"))

    // an equality id addressing no top-level column refuses loudly
    writeManifest(eqManifest, content = 2, eqParquet, Seq(99))
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.readIceberg(spark, target)
    }
    assert(e.getMessage.contains("field id 99"), e.getMessage)
  }

  /** Hand-build a minimal FOREIGN file-based Iceberg v1 table whose
    * single data file is `dataDf` written as parquet, identity-
    * partitioned on a column NOT necessarily present in the file: the
    * manifest's partition struct carries `partAvroType`/`partValue`.
    * Exercises the reader against layouts graft's own mirror never
    * writes (hive-migrated tables with exotic identity types). */
  private def buildForeignIdentityTable(dataDf: org.apache.spark.sql.DataFrame,
      schemaFieldsJson: String, partName: String, partSourceId: Int,
      partAvroType: String, partValue: AnyRef): String = {
    import org.apache.avro.{Schema => AvroSchema}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val target = tmp("graft_ifg_")
    val dataDir = Paths.get(target, "data")
    dataDf.coalesce(1).write.parquet(dataDir.toString)
    val dataFile = Files.list(dataDir).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val metaDir = Paths.get(target, "metadata")
    Files.createDirectories(metaDir)
    def writeAvro(p: java.nio.file.Path, schema: AvroSchema,
        recs: Seq[GenericRecord]): Unit = {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, p.toFile)
      try recs.foreach(w.append) finally w.close()
    }
    val entrySchema = new AvroSchema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int"},
         |{"name":"snapshot_id","type":"long"},
         |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
         |{"name":"file_path","type":"string"},
         |{"name":"file_format","type":"string"},
         |{"name":"partition","type":{"type":"record","name":"r102","fields":[
         |{"name":"$partName","type":["null",$partAvroType],"default":null}]}},
         |{"name":"record_count","type":"long"},
         |{"name":"file_size_in_bytes","type":"long"}]}}]}"""
        .stripMargin.replace("\n", ""))
    val dfRec = new GenericData.Record(
      entrySchema.getField("data_file").schema())
    dfRec.put("file_path", dataFile)
    dfRec.put("file_format", "PARQUET")
    val part = new GenericData.Record(
      dfRec.getSchema.getField("partition").schema())
    part.put(0, partValue)
    dfRec.put("partition", part)
    dfRec.put("record_count", dataDf.count())
    dfRec.put("file_size_in_bytes", new java.io.File(dataFile).length())
    val entry = new GenericData.Record(entrySchema)
    entry.put("status", 1)
    entry.put("snapshot_id", 99L)
    entry.put("data_file", dfRec)
    val manifestPath = metaDir.resolve("m0.avro")
    writeAvro(manifestPath, entrySchema, Seq(entry))
    val listSchema = new AvroSchema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"}]}"""
        .stripMargin.replace("\n", ""))
    val mf = new GenericData.Record(listSchema)
    mf.put("manifest_path", manifestPath.toString)
    mf.put("manifest_length", manifestPath.toFile.length())
    mf.put("partition_spec_id", 0)
    val listPath = metaDir.resolve("snap-99.avro")
    writeAvro(listPath, listSchema, Seq(mf))
    val md =
      s"""{"format-version":1,"table-uuid":"00000000-0000-0000-0000-000000000001",
         |"location":"$target","last-updated-ms":1700000000000,"last-column-id":9,
         |"schema":{"type":"struct","schema-id":0,"fields":[$schemaFieldsJson]},
         |"partition-spec":[{"name":"$partName","transform":"identity",
         |"source-id":$partSourceId,"field-id":1000}],
         |"default-spec-id":0,"properties":{},
         |"current-snapshot-id":99,
         |"snapshots":[{"snapshot-id":99,"timestamp-ms":1700000000000,
         |"manifest-list":"$listPath"}]}""".stripMargin.replace("\n", "")
    Files.write(metaDir.resolve("v1.metadata.json"), md.getBytes("UTF-8"))
    Files.write(metaDir.resolve("version-hint.text"), "1".getBytes("UTF-8"))
    target
  }

  test("foreign identity TIMESTAMP partition values decode as micros, not seconds") {
    import spark.implicits._
    // 2017-11-16T22:31:08 UTC = 1510871468000000 micros — the Iceberg
    // partition-struct encoding for timestamp identity values; before
    // the fix, lit(1510871468000000L).cast(timestamp) read it as
    // SECONDS (year ~49 million)
    val micros = 1510871468000000L
    val target = buildForeignIdentityTable(
      Seq(1L, 2L).toDF("id"),
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"ts","required":false,"type":"timestamptz"}"""
        .stripMargin.replace("\n", ""),
      "ts", 2, "\"long\"", java.lang.Long.valueOf(micros))
    val got = IcebergInterop.readIceberg(spark, target)
      .select(col("id"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("t"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "2017-11-16 22:31:08"), (2L, "2017-11-16 22:31:08")),
      got.toString)
  }

  test("foreign identity DECIMAL partition falls back to the data files or refuses") {
    import spark.implicits._
    // decimal identity values arrive as Avro ByteBuffers this reader
    // does not decode — when the data files carry the column, read it
    // from them (correct for non-hive-migrated layouts)...
    val withCol = Seq((1L, BigDecimal("12.34")), (2L, BigDecimal("56.78")))
      .toDF("id", "dec")
      .select(col("id"), col("dec").cast("decimal(9,2)").as("dec"))
    val schemaJson =
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"dec","required":false,"type":"decimal(9, 2)"}"""
        .stripMargin.replace("\n", "")
    val unscaled = java.nio.ByteBuffer.wrap(
      BigDecimal("12.34").underlying().unscaledValue().toByteArray)
    val t1 = buildForeignIdentityTable(withCol, schemaJson, "dec", 2,
      "\"bytes\"", unscaled)
    val got = IcebergInterop.readIceberg(spark, t1)
      .select(col("id"), col("dec").cast("string"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "12.34"), (2L, "56.78")), got.toString)
    // ...and when they don't (hive-migrated shape), refuse loudly
    // instead of crashing on the ByteBuffer or null-filling
    val t2 = buildForeignIdentityTable(Seq(1L).toDF("id"), schemaJson,
      "dec", 2, "\"bytes\"", unscaled)
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.readIceberg(spark, t2).collect()
    }
    assert(e.getMessage.contains("cannot decode"), e.getMessage)
  }

  test("murmur3 bucket hash matches the Iceberg spec's published vectors") {
    import graft.functions.IcebergHash._
    // Iceberg table spec, Appendix B "32-bit Hash Requirements"
    assert(hashLong(34L) == 2017239379)   // int 34 and long 34 agree
    assert(hashBytes("iceberg".getBytes("UTF-8")) == 1210000089)
    assert(hashLong(17486L) == -653330422)            // date 2017-11-16
    assert(hashLong(1510871468000000L) == -2047944441) // ts 2017-11-16T22:31:08 UTC
    assert(hashBytes(java.math.BigDecimal.valueOf(1420, 2)
      .unscaledValue().toByteArray) == -500754589)     // decimal 14.20
    assert(hashBytes(Array[Byte](0, 1, 2, 3)) == -188683207) // binary 00010203
    // the codegen expression computes the same ordinals end to end
    import spark.implicits._
    val got = Seq(34L, 35L).toDF("id")
      .select(iceberg_bucket(16, col("id")).as("b"))
      .as[Int].collect().toSeq
    assert(got.head == ((2017239379 & Int.MaxValue) % 16), got.toString)
    // (the `iceberg_bucket` SQL registration is covered in ExtensionsSpec,
    // whose session carries GraftExtensions)
  }

  test("mbucket layout: murmur3 point lookup; mirror declares a real bucket[n] field") {
    import spark.implicits._
    import org.apache.spark.sql.functions.input_file_name
    val ids = Seq(34L, 35L, 100L, 101L, 7L, 9L)
    val t = GraftTable.create(spark, tmp("graft_mb_"),
      ids.map(i => (i, s"v$i")).toDF("id", "v"),
      partitionBy = Seq("mbucket(16, id)"))
    // point lookup probes exactly the murmur3 bucket
    val hit = t.readWhereBucketOf("id", 34L).as[(Long, String)].collect().toSeq
    assert(hit == Seq((34L, "v34")), hit.toString)
    // physical layout dirs carry Iceberg's ordinals (hash & MAX % 16)
    val ord34 = (2017239379 & Int.MaxValue) % 16
    assert(Files.walk(Paths.get(t.root)).toArray.map(_.toString)
      .exists(_.contains(s"__p_mbucket_16_id=$ord34")))
    // the mirror declares bucket[16] — unlike the xxhash64 layout,
    // which must omit the field
    assert(IcebergInterop.mirrorToIceberg(t) == 1)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val md = om.readTree(Files.readAllBytes(
      Paths.get(t.root, "metadata", "v1.metadata.json")))
    val field = md.get("partition-spec").get(0)
    assert(field.get("transform").asText() == "bucket[16]", field.toString)
    assert(field.get("name").asText() == "id_bucket")
    // full content round-trips
    val all = IcebergInterop.readIceberg(spark, t.root)
      .as[(Long, String)].collect().toSet
    assert(all == ids.map(i => (i, s"v$i")).toSet)
    // bucket point-lookup pruning through the foreign-format reader:
    // only the one bucket's files reach the scan (the bucket holds every
    // id whose murmur3 ordinal collides with 34's — e.g. 7 shares it)
    val sameBucket = ids.filter(i =>
      graft.functions.IcebergHash.bucketLong(i, 16) == ord34).toSet
    assert(sameBucket.contains(34L))
    val pruned = IcebergInterop.readIcebergWhere(
      spark, t.root, "id_bucket", ord34.toString)
    assert(pruned.select("id").as[Long].collect().toSet == sameBucket)
    val allFiles = IcebergInterop.readIceberg(spark, t.root)
      .select(input_file_name()).distinct().count()
    val prunedFiles = pruned.select(input_file_name()).distinct().count()
    assert(prunedFiles < allFiles, s"$prunedFiles vs $allFiles")
  }

  test("expireSnapshots trims mirror metadata; retained travel green, expired refuses") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_iexp_"),
      Seq((0L, "v0")).toDF("id", "v"))
    (1 to 5).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    assert(IcebergInterop.mirrorToIceberg(t) == 6)
    val metaDir = Paths.get(t.root, "metadata")
    def metaFiles() = Files.list(metaDir).toArray.map(_.toString)
      .filterNot(_.contains("version-hint")).toSeq
    val before = metaFiles().size
    val deleted = IcebergInterop.expireSnapshots(t, keepLast = 2)
    assert(deleted > 0)
    assert(metaFiles().size < before, s"$before -> ${metaFiles().size}")
    // hint moved to the retention-only metadata version
    assert(new String(Files.readAllBytes(
      metaDir.resolve("version-hint.text"))).trim == "7")
    // current read still exact
    val cur = IcebergInterop.readIceberg(spark, t.root)
      .as[(Long, String)].collect().toSet
    assert(cur == (0 to 5).map(i => (i.toLong, s"v$i")).toSet)
    // retained snapshot (latest-1 = graft v4 -> snapshot 5) time-travels
    val v4 = IcebergInterop.readIceberg(spark, t.root, Some(5L))
      .as[(Long, String)].collect().toSet
    assert(v4 == (0 to 4).map(i => (i.toLong, s"v$i")).toSet)
    // expired snapshot refuses loudly
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.readIceberg(spark, t.root, Some(2L))
    }
    assert(e.getMessage.contains("expired"), e.getMessage)
    // mirror RESUME after expire: metadata numbering is decoupled from
    // graft versions via the graft.mirror.version property
    t.append(Seq((6L, "v6")).toDF("id", "v"))
    assert(IcebergInterop.mirrorToIceberg(t) == 1)
    val cur2 = IcebergInterop.readIceberg(spark, t.root)
      .as[(Long, String)].collect().toSet
    assert(cur2 == (0 to 6).map(i => (i.toLong, s"v$i")).toSet)
    // idempotent: nothing new to expire after keeping the same horizon
    assert(IcebergInterop.mirrorToIceberg(t) == 0)
  }

  test("mirrorToIceberg refuses commits that drop columns (field-id reuse)") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_idrop_"),
      Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "v", "x"))
    assert(IcebergInterop.mirrorToIceberg(t) == 1)
    // overwrite with a NARROWER schema: positional id allocation would
    // hand x's field id to whatever column a later commit appends
    t.overwrite(Seq((3L, "c")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.mirrorToIceberg(t)
    }
    assert(e.getMessage.contains("drops column"), e.getMessage)
  }

  test("appendToIceberg: fast-append snapshot on an exported table") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_ap_"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val target = tmp("graft_ap_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val snap = IcebergInterop.appendToIceberg(
      Seq((3L, "c"), (4L, "d")).toDF("id", "v"), target)
    // content round-trips (both through graft's reader and the union)
    val got = IcebergInterop.readIceberg(spark, target)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // time travel to the pre-append snapshot still sees the old rows
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val md = om.readTree(Files.readAllBytes(
      Paths.get(target, "metadata", "v2.metadata.json")))
    assert(md.get("current-snapshot-id").asLong() == snap)
    val snaps = md.get("snapshots")
    assert(snaps.size() == 2)
    val firstSnap = snaps.get(0).get("snapshot-id").asLong()
    assert(snaps.get(1).get("parent-snapshot-id").asLong() == firstSnap)
    assert(IcebergInterop.readIceberg(spark, target, Some(firstSnap))
      .count() == 2)
    // FAST append: the new manifest list carries the prior manifest
    // unchanged plus exactly one new manifest for the new files
    def manifestPathsOf(listUri: String): Seq[String] = {
      import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
      val f = new java.io.File(new java.net.URI(listUri).getPath)
      val r = new org.apache.avro.file.DataFileReader[GenericRecord](
        f, new GenericDatumReader[GenericRecord]())
      try {
        val buf = scala.collection.mutable.Buffer[String]()
        while (r.hasNext) buf += r.next().get("manifest_path").toString
        buf.toSeq
      } finally r.close()
    }
    val list = manifestPathsOf(snaps.get(1).get("manifest-list").asText())
    assert(list.size == 2, list.mkString(", "))
    val prevList = manifestPathsOf(snaps.get(0).get("manifest-list").asText())
    assert(list.contains(prevList.head))
    // appended parquet files are FIELD-ID stamped (real Iceberg readers
    // resolve columns by id, not name)
    val dataFile = Files.walk(Paths.get(target, "data")).toArray
      .map(_.toString)
      .filter(p => p.contains("graft-append-") && p.endsWith(".parquet")).head
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dataFile),
        spark.sparkContext.hadoopConfiguration))
    val pqFields = try rdr.getFileMetaData.getSchema.getFields finally rdr.close()
    assert(pqFields.get(0).getId != null && pqFields.get(0).getId.intValue == 1,
      pqFields.toString)
  }

  test("appendToIceberg honors identity + day partition specs and prunes") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val t = GraftTable.create(spark, tmp("graft_apd_"),
      Seq((1L, "eu", ts("2024-01-01 10:00:00")),
          (2L, "us", ts("2024-01-02 11:00:00"))).toDF("id", "region", "ts"),
      partitionBy = Seq("region", "days(ts)"))
    IcebergInterop.mirrorToIceberg(t)
    IcebergInterop.appendToIceberg(
      Seq((3L, "eu", ts("2024-03-05 09:00:00")),
          (4L, "ap", ts("2024-03-05 10:00:00"))).toDF("id", "region", "ts"),
      t.root)
    val got = IcebergInterop.readIceberg(spark, t.root)
      .select("id", "region").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "eu"), (2L, "us"), (3L, "eu"), (4L, "ap")))
    // the appended manifest carries typed partition tuples (identity
    // string + epoch-day int) parsed from the computed hive layout
    val tuples = manifestPartitionTuples(t.root)
      .map(_.map(v => if (v == null) null else v match {
        case u: org.apache.avro.util.Utf8 => u.toString
        case other => other
      }))
    val epochDay = java.time.LocalDate.parse("2024-03-05").toEpochDay.toInt
    assert(tuples.contains(Seq("eu", epochDay)), tuples)
    assert(tuples.contains(Seq("ap", epochDay)), tuples)
    // partition pruning reaches the appended files
    import org.apache.spark.sql.functions.input_file_name
    val pruned = IcebergInterop.readIcebergWhere(spark, t.root, "region", "ap")
    assert(pruned.select("id").as[Long].collect().toSeq == Seq(4L))
    assert(pruned.select(input_file_name()).distinct().count() == 1)
  }

  test("appendToIceberg: murmur3 bucket layout keeps point-lookup pruning exact") {
    import spark.implicits._
    val ids = Seq(34L, 35L, 100L)
    val t = GraftTable.create(spark, tmp("graft_apb_"),
      ids.map(i => (i, s"v$i")).toDF("id", "v"),
      partitionBy = Seq("mbucket(16, id)"))
    IcebergInterop.mirrorToIceberg(t)
    IcebergInterop.appendToIceberg(
      Seq((7L, "v7"), (9L, "v9")).toDF("id", "v"), t.root)
    val all = IcebergInterop.readIceberg(spark, t.root)
      .as[(Long, String)].collect().toSet
    assert(all == Set((34L, "v34"), (35L, "v35"), (100L, "v100"),
      (7L, "v7"), (9L, "v9")))
    // every id still lands in its true murmur3 bucket ordinal
    val ord7 = graft.functions.IcebergHash.bucketLong(7L, 16)
    val sameBucket = (ids ++ Seq(7L, 9L)).filter(i =>
      graft.functions.IcebergHash.bucketLong(i, 16) == ord7).toSet
    val pruned = IcebergInterop.readIcebergWhere(
      spark, t.root, "id_bucket", ord7.toString)
    assert(pruned.select("id").as[Long].collect().toSet == sameBucket)
  }

  test("appendToIceberg refusals: v4 format, schema mismatch, catalog naming") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_apr_"),
      Seq((1L, "a")).toDF("id", "v"))
    val target = tmp("graft_apr_ice_")
    IcebergInterop.exportSnapshot(t, target)
    // schema mismatch: missing column / wrong type
    val e1 = intercept[IllegalArgumentException] {
      IcebergInterop.appendToIceberg(Seq(2L).toDF("id"), target)
    }
    assert(e1.getMessage.contains("schema mismatch"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      IcebergInterop.appendToIceberg(
        Seq((2, "b")).toDF("id", "v"), target) // int id, table has long
    }
    assert(e2.getMessage.contains("cast before appending"), e2.getMessage)
    // format v4 refuses (v1-v3 are the supported targets)
    val mp = Paths.get(target, "metadata", "v1.metadata.json")
    val md = new String(Files.readAllBytes(mp), "UTF-8")
    patch(mp, md.replace("\"format-version\" : 1", "\"format-version\" : 4")
      .getBytes("UTF-8"))
    val e3 = intercept[IllegalArgumentException] {
      IcebergInterop.appendToIceberg(Seq((2L, "b")).toDF("id", "v"), target)
    }
    assert(e3.getMessage.contains("format version 4"), e3.getMessage)
    patch(mp, md.getBytes("UTF-8"))
    // catalog-managed metadata naming refuses (no vN files, no hint)
    val target2 = tmp("graft_apr_cat_")
    IcebergInterop.exportSnapshot(t, target2)
    Files.move(Paths.get(target2, "metadata", "v1.metadata.json"),
      Paths.get(target2, "metadata", "00000-abc.metadata.json"))
    Files.deleteIfExists(Paths.get(target2, "metadata", "version-hint.text"))
    Files.deleteIfExists(Paths.get(target2, "metadata", ".v1.metadata.json.crc"))
    val e4 = intercept[IllegalArgumentException] {
      IcebergInterop.appendToIceberg(Seq((2L, "b")).toDF("id", "v"), target2)
    }
    assert(e4.getMessage.contains("catalog-managed"), e4.getMessage)
  }

  test("appendToIceberg v2: sequence numbers maintained, MoR deletes stay scoped") {
    import spark.implicits._
    import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // base data (sequence 0 era): ids 0-9, v3 at id 3
    val t = GraftTable.create(spark, tmp("graft_apv2_"),
      (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    val target = tmp("graft_apv2_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    val origMd = Files.readAllBytes(mdPath)
    def localFile(p: String): java.io.File = {
      val u = new java.net.URI(p)
      new java.io.File(if (u.getScheme == null) p else u.getPath)
    }
    def avroRecords(f: java.io.File): Seq[GenericRecord] = {
      val r = new org.apache.avro.file.DataFileReader[GenericRecord](
        f, new GenericDatumReader[GenericRecord]())
      try Iterator.continually(r).takeWhile(_.hasNext).map(_.next()).toList
      finally r.close()
    }
    val listPath0 = om.readTree(origMd)
      .get("snapshots").get(0).get("manifest-list").asText()
    val dataManifests = avroRecords(localFile(listPath0))
      .map(_.get("manifest_path").toString)
    // equality delete (sequence 2) on column v (field id 2): kills "v3"
    val eqDir = tmp("graft_apv2_del_")
    Seq("v3").toDF("v").coalesce(1).write.mode("overwrite").parquet(eqDir)
    val eqParquet = new java.io.File(eqDir).listFiles
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"},
        |{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null}
        |]}}]}""".stripMargin.replace("\n", ""))
    val eqManifest = Paths.get(target, "metadata", "eq-m0.avro")
    locally {
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      val df = new GenericData.Record(entrySchema.getField("data_file").schema())
      df.put("content", 2)
      df.put("file_path", eqParquet)
      df.put("file_format", "PARQUET")
      df.put("record_count", 1L)
      df.put("file_size_in_bytes", new java.io.File(eqParquet).length())
      val arr = new java.util.ArrayList[Integer](); arr.add(2)
      df.put("equality_ids", arr)
      e.put("data_file", df)
      val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      w.create(entrySchema, eqManifest.toFile)
      w.append(e); w.close()
    }
    val listSchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"content","type":"int"},
        |{"name":"sequence_number","type":"long"},
        |{"name":"min_sequence_number","type":"long"},
        |{"name":"added_snapshot_id","type":["null","long"],"default":null}
        |]}""".stripMargin.replace("\n", ""))
    val newList = Paths.get(target, "metadata", "snap-v2base.avro")
    locally {
      val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      w.create(listSchema, newList.toFile)
      (dataManifests.map((_, 0, 0L)) ++ Seq((eqManifest.toString, 1, 2L)))
        .foreach { case (p, c, s) =>
          val r = new GenericData.Record(listSchema)
          r.put("manifest_path", p)
          r.put("manifest_length", 1L)
          r.put("partition_spec_id", 0)
          r.put("content", c)
          r.put("sequence_number", s)
          r.put("min_sequence_number", s)
          r.put("added_snapshot_id", 1L)
          w.append(r)
        }
      w.close()
    }
    val md2 = om.readTree(origMd)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    md2.put("format-version", 2)
    md2.put("last-sequence-number", 3L)
    md2.get("snapshots").get(0)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("manifest-list", newList.toString)
    patch(mdPath, om.writeValueAsBytes(md2))
    // sanity: the v2 base reads with the equality delete applied
    assert(IcebergInterop.readIceberg(spark, target)
      .select("id").as[Long].collect().toSet ==
      (0L until 10L).toSet - 3L)

    // APPEND (200, "v3"): sequence 4 > deleteSeq 2 — must SURVIVE
    val snapId = IcebergInterop.appendToIceberg(
      Seq((200L, "v3")).toDF("id", "v"), target)
    val got = IcebergInterop.readIceberg(spark, target)
      .select("id").as[Long].collect().toSet
    assert(got == ((0L until 10L).toSet - 3L) + 200L, got.toString)

    // metadata: last-sequence-number advanced, snapshot stamped with it
    val md3 = om.readTree(Files.readAllBytes(
      Paths.get(target, "metadata", "v2.metadata.json")))
    assert(md3.get("last-sequence-number").asLong() == 4L)
    val sn = md3.get("snapshots").elements()
    var newSnap: com.fasterxml.jackson.databind.JsonNode = null
    while (sn.hasNext) {
      val s = sn.next()
      if (s.get("snapshot-id").asLong() == snapId) newSnap = s
    }
    assert(newSnap != null && newSnap.get("sequence-number").asLong() == 4L)
    // the new manifest list: carried records keep their sequence
    // numbers (0 and 2), the new data manifest takes 4
    def lv(v: AnyRef): Long = v match {
      case n: java.lang.Number => n.longValue()
      case other => other.toString.toLong
    }
    val recs = avroRecords(localFile(newSnap.get("manifest-list").asText()))
    val seqByContent = recs.map(r =>
      (lv(r.get("content")), lv(r.get("sequence_number"))))
    assert(seqByContent.contains((1L, 2L)), seqByContent.toString) // delete kept
    assert(seqByContent.contains((0L, 4L)), seqByContent.toString) // new data
    assert(seqByContent.contains((0L, 0L)), seqByContent.toString) // base kept
    // the new manifest's ADDED entry leaves ids null for inheritance
    // and carries data_file.content = 0
    val newManifest = recs.find(r =>
      lv(r.get("sequence_number")) == 4L).get
    val ents = avroRecords(localFile(
      newManifest.get("manifest_path").toString))
    assert(ents.nonEmpty)
    ents.foreach { e =>
      assert(lv(e.get("status")) == 1L)
      assert(e.get("snapshot_id") == null)
      assert(e.get("sequence_number") == null)
      val dfr = e.get("data_file").asInstanceOf[GenericRecord]
      assert(lv(dfr.get("content")) == 0L)
    }
  }

  test("deleteFromIceberg: v2 position-delete snapshots, repeated + interleaved") {
    import spark.implicits._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val t = GraftTable.create(spark, tmp("graft_idel_"),
      (0L until 12L).map(i => (i, s"v$i")).toDF("id", "v"))
    val target = tmp("graft_idel_ice_")
    IcebergInterop.exportSnapshot(t, target)
    // promote the exported v1 table to format v2 (fresh modern table)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    val md0 = om.readTree(Files.readAllBytes(mdPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    md0.put("format-version", 2)
    md0.put("last-sequence-number", 0L)
    patch(mdPath, om.writeValueAsBytes(md0))

    // delete 1: multiples of 3
    val s1 = IcebergInterop.deleteFromIceberg(spark, target,
      col("id") % 3 === 0)
    val after1 = IcebergInterop.readIceberg(spark, target)
      .select("id").as[Long].collect().toSet
    assert(after1 == (0L until 12L).toSet.filter(_ % 3 != 0), after1.toString)
    val md1 = om.readTree(Files.readAllBytes(
      Paths.get(target, "metadata", "v2.metadata.json")))
    assert(md1.get("last-sequence-number").asLong() == 1L)
    val snap1 = md1.get("snapshots").get(1)
    assert(snap1.get("snapshot-id").asLong() == s1)
    assert(snap1.get("summary").get("operation").asText() == "delete")
    assert(snap1.get("sequence-number").asLong() == 1L)
    // time travel BEFORE the delete still sees every row
    assert(IcebergInterop.readIceberg(spark, target, Some(s1 - 1))
      .count() == 12L)

    // append AFTER the delete: a row reusing a deleted id survives
    // (position deletes name files, never values)
    IcebergInterop.appendToIceberg(Seq((3L, "reborn")).toDF("id", "v"), target)
    val after2 = IcebergInterop.readIceberg(spark, target)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(after2.contains((3L, "reborn")), after2.toString)
    assert(!after2.contains((3L, "v3")))

    // delete 2 on top (repeated MoR, both delete manifests carried):
    // kills the reborn row by value match this time
    IcebergInterop.deleteFromIceberg(spark, target, col("v") === "reborn")
    val after3 = IcebergInterop.readIceberg(spark, target)
      .select("id").as[Long].collect().toSet
    assert(after3 == (0L until 12L).toSet.filter(_ % 3 != 0), after3.toString)

    // no-match delete: no metadata version is published
    val before = Files.list(Paths.get(target, "metadata")).toArray.length
    val r = IcebergInterop.deleteFromIceberg(spark, target, col("id") > 999L)
    assert(Files.list(Paths.get(target, "metadata")).toArray.length == before, r)
  }

  test("deleteFromIceberg: partitioned mirror gets a global unpartitioned spec") {
    import spark.implicits._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // the MIRROR declares a REAL identity spec (hive layout, seg only
    // in partition metadata) — the hardest shape: the lineage scan must
    // substitute identity values, and the delete needs a NEW
    // unpartitioned spec for its global position deletes
    val t = GraftTable.create(spark, tmp("graft_idelp_"),
      Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B")).toDF("id", "seg"),
      partitionBy = Seq("seg"))
    IcebergInterop.mirrorToIceberg(t)
    val mdPath = Paths.get(t.root, "metadata",
      s"v${t.latestVersion() + 1}.metadata.json")
    val md0 = om.readTree(Files.readAllBytes(mdPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    md0.put("format-version", 2)
    md0.put("last-sequence-number", 0L)
    patch(mdPath, om.writeValueAsBytes(md0))
    // predicate on a NON-partition column, crossing partitions
    IcebergInterop.deleteFromIceberg(spark, t.root, col("id") % 2 === 0)
    val got = IcebergInterop.readIceberg(spark, t.root)
      .select("id", "seg").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "A"), (3L, "B")), got.toString)
    val md1 = om.readTree(Files.readAllBytes(Paths.get(t.root, "metadata",
      s"v${t.latestVersion() + 2}.metadata.json")))
    // the identity spec keeps id 0 and stays DEFAULT; the global
    // delete rides a NEW unpartitioned spec
    assert(md1.get("default-spec-id").asInt() == 0)
    val specs = md1.get("partition-specs")
    assert(specs.size() == 2, specs.toString)
    assert(specs.get(1).get("fields").size() == 0, specs.toString)
    // partition pruning still works on the survivors
    val pruned = IcebergInterop.readIcebergWhere(spark, t.root, "seg", "A")
    assert(pruned.select("id").as[Long].collect().toSet == Set(1L))
  }

  test("updateIceberg: atomic MoR overwrite snapshot, pre-row SET") {
    import spark.implicits._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val t = GraftTable.create(spark, tmp("graft_iup_"),
      Seq((1L, 10L, 20L), (2L, 30L, 40L), (3L, 50L, 60L))
        .toDF("id", "a", "b"))
    val target = tmp("graft_iup_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    val md0 = om.readTree(Files.readAllBytes(mdPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    md0.put("format-version", 2)
    md0.put("last-sequence-number", 0L)
    patch(mdPath, om.writeValueAsBytes(md0))
    // swap a/b where id = 2 — assignments read the PRE-update row
    val s1 = IcebergInterop.updateIceberg(spark, target, col("id") === 2L,
      Map("a" -> col("b"), "b" -> col("a")))
    val got = IcebergInterop.readIceberg(spark, target)
      .select("id", "a", "b").as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 10L, 20L), (2L, 40L, 30L), (3L, 50L, 60L)),
      got.toString)
    // ONE snapshot, operation overwrite, sequence bookkeeping
    val md1 = om.readTree(Files.readAllBytes(
      Paths.get(target, "metadata", "v2.metadata.json")))
    assert(md1.get("snapshots").size() == 2)
    val snap = md1.get("snapshots").get(1)
    assert(snap.get("snapshot-id").asLong() == s1)
    assert(snap.get("summary").get("operation").asText() == "overwrite")
    assert(md1.get("last-sequence-number").asLong() == 1L)
    // the update is invisible before its snapshot
    assert(IcebergInterop.readIceberg(spark, target, Some(s1 - 1))
      .where(col("id") === 2L).select("a").as[Long].head() == 30L)
    // repeated update composes on top of the first
    IcebergInterop.updateIceberg(spark, target, col("id") === 2L,
      Map("a" -> (col("a") + 1L)))
    assert(IcebergInterop.readIceberg(spark, target)
      .where(col("id") === 2L).select("a").as[Long].head() == 41L)
    // no-match update publishes nothing
    val before = Files.list(Paths.get(target, "metadata")).toArray.length
    IcebergInterop.updateIceberg(spark, target, col("id") > 99L,
      Map("a" -> lit(0L)))
    assert(Files.list(Paths.get(target, "metadata")).toArray.length == before)
  }

  test("updateIceberg moves rows across partitions (default-spec layout)") {
    import spark.implicits._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val t = GraftTable.create(spark, tmp("graft_iupp_"),
      Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("id", "seg"),
      partitionBy = Seq("seg"))
    IcebergInterop.mirrorToIceberg(t)
    val mdPath = Paths.get(t.root, "metadata",
      s"v${t.latestVersion() + 1}.metadata.json")
    val md0 = om.readTree(Files.readAllBytes(mdPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    md0.put("format-version", 2)
    md0.put("last-sequence-number", 0L)
    patch(mdPath, om.writeValueAsBytes(md0))
    // move id=1 from seg A to C: the new row lands in a NEW partition
    IcebergInterop.updateIceberg(spark, t.root, col("id") === 1L,
      Map("seg" -> lit("C")))
    val got = IcebergInterop.readIceberg(spark, t.root)
      .select("id", "seg").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "C"), (2L, "A"), (3L, "B")), got.toString)
    // metadata-only partition pruning agrees on all three partitions
    assert(IcebergInterop.readIcebergWhere(spark, t.root, "seg", "C")
      .select("id").as[Long].collect().toSet == Set(1L))
    assert(IcebergInterop.readIcebergWhere(spark, t.root, "seg", "A")
      .select("id").as[Long].collect().toSet == Set(2L))
  }

  test("mergeIceberg upserts: replace matched, insert new, move partitions") {
    import spark.implicits._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val t = GraftTable.create(spark, tmp("graft_imrg_"),
      Seq((1L, "x1", "A"), (2L, "x2", "A"), (3L, "x3", "B"))
        .toDF("id", "v", "seg"), partitionBy = Seq("seg"))
    IcebergInterop.mirrorToIceberg(t)
    val mdPath = Paths.get(t.root, "metadata",
      s"v${t.latestVersion() + 1}.metadata.json")
    val md0 = om.readTree(Files.readAllBytes(mdPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    md0.put("format-version", 2)
    md0.put("last-sequence-number", 0L)
    patch(mdPath, om.writeValueAsBytes(md0))
    // source: replace id=2 MOVING it A->C, insert id=9, and a NULL-key
    // row which must INSERT per SQL equi-join semantics
    val srcRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    srcRows.add(org.apache.spark.sql.Row(2L, "new2", "C"))
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
    val s1 = IcebergInterop.mergeIceberg(src, t.root, Seq("id"))
    val got = IcebergInterop.readIceberg(spark, t.root)
      .select("id", "v", "seg").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1),
        r.getString(2))).toSet
    assert(got == Set((1L, "x1", "A"), (2L, "new2", "C"), (3L, "x3", "B"),
      (9L, "new9", "B"), (-1L, "nullrow", "B")), got.toString)
    // ONE atomic overwrite snapshot with sequence bookkeeping
    val mdPath2 = Paths.get(t.root, "metadata",
      s"v${t.latestVersion() + 2}.metadata.json")
    val md1 = om.readTree(Files.readAllBytes(mdPath2))
    assert(md1.get("snapshots").size() == 2)
    val snap = md1.get("snapshots").get(1)
    assert(snap.get("snapshot-id").asLong() == s1)
    assert(snap.get("summary").get("operation").asText() == "overwrite")
    assert(md1.get("last-sequence-number").asLong() == 1L)
    // partition pruning agrees with the row's NEW home
    assert(IcebergInterop.readIcebergWhere(spark, t.root, "seg", "C")
      .select("v").as[String].collect().toSet == Set("new2"))
    assert(IcebergInterop.readIcebergWhere(spark, t.root, "seg", "A")
      .select("id").as[Long].collect().toSet == Set(1L))
    // the merge is invisible at the prior snapshot
    assert(IcebergInterop.readIceberg(spark, t.root, Some(s1 - 1))
      .count() == 3)
  }

  test("mergeIceberg: pure-insert, empty-source no-op, ambiguity refusal") {
    import spark.implicits._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val t = GraftTable.create(spark, tmp("graft_imrg2_"),
      Seq((1L, 10L), (2L, 20L)).toDF("id", "x"))
    val target = tmp("graft_imrg2_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    val md0 = om.readTree(Files.readAllBytes(mdPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    md0.put("format-version", 2)
    md0.put("last-sequence-number", 0L)
    patch(mdPath, om.writeValueAsBytes(md0))
    // no key matches: data-manifest-only overwrite, nothing deleted
    IcebergInterop.mergeIceberg(Seq((7L, 70L)).toDF("id", "x"),
      target, Seq("id"))
    assert(IcebergInterop.readIceberg(spark, target)
      .select("x").as[Long].collect().toSet == Set(10L, 20L, 70L))
    // empty source: no new metadata version published
    val before = Files.list(Paths.get(target, "metadata")).toArray.length
    IcebergInterop.mergeIceberg(
      Seq.empty[(Long, Long)].toDF("id", "x"), target, Seq("id"))
    assert(Files.list(Paths.get(target, "metadata")).toArray.length
      == before)
    // two source rows hitting one target row: the SQL-MERGE ambiguity
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.mergeIceberg(
        Seq((7L, 1L), (7L, 2L)).toDF("id", "x"), target, Seq("id"))
    }
    assert(e.getMessage.contains("multiple source rows"), e.getMessage)
    // then a merge composing on top of the earlier upsert still works
    IcebergInterop.mergeIceberg(Seq((7L, 77L), (8L, 80L)).toDF("id", "x"),
      target, Seq("id"))
    assert(IcebergInterop.readIceberg(spark, target)
      .select("x").as[Long].collect().toSet == Set(10L, 20L, 77L, 80L))
  }

  private def manifestListOfCurrent(root: String)
      : (Long, Seq[org.apache.avro.generic.GenericRecord]) = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val metaDir = Paths.get(root, "metadata")
    val vTop = Files.list(metaDir).toArray.map(_.toString.split('/').last)
      .collect { case n if n.matches("v\\d+\\.metadata\\.json") =>
        n.stripPrefix("v").stripSuffix(".metadata.json").toInt }.max
    val md = om.readTree(Files.readAllBytes(
      metaDir.resolve(s"v$vTop.metadata.json")))
    val cur = md.get("current-snapshot-id").asLong()
    val snaps = md.get("snapshots")
    val it = snaps.elements()
    var listPath: String = null
    var op: String = null
    while (it.hasNext) {
      val s = it.next()
      if (s.get("snapshot-id").asLong() == cur) {
        listPath = s.get("manifest-list").asText()
        op = s.get("summary").get("operation").asText()
      }
    }
    assert(op != null)
    val recs = IcebergInterop.readAvro(
      Files.readAllBytes(Paths.get(new java.net.URI(
        if (listPath.startsWith("file:")) listPath else s"file:$listPath"))))
    (cur, recs)
  }

  test("compactIceberg folds small-append manifests into one replace") {
    import spark.implicits._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val t = GraftTable.create(spark, tmp("graft_icp_"),
      Seq((1L, "A"), (2L, "B")).toDF("id", "seg"),
      partitionBy = Seq("seg"))
    IcebergInterop.mirrorToIceberg(t)
    val mdPath = Paths.get(t.root, "metadata",
      s"v${t.latestVersion() + 1}.metadata.json")
    val md0 = om.readTree(Files.readAllBytes(mdPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    md0.put("format-version", 2)
    md0.put("last-sequence-number", 0L)
    patch(mdPath, om.writeValueAsBytes(md0))
    // four small appends: four single-file data manifests
    (3L to 6L).foreach { i =>
      IcebergInterop.appendToIceberg(
        Seq((i, if (i % 2 == 0) "A" else "B")).toDF("id", "seg"), t.root)
    }
    val (_, before) = manifestListOfCurrent(t.root)
    assert(before.size == 5, before.size.toString)
    val expect = IcebergInterop.readIceberg(spark, t.root)
      .select("id", "seg").as[(Long, String)].collect().toSet
    val s1 = IcebergInterop.compactIceberg(spark, t.root)
    assert(IcebergInterop.readIceberg(spark, t.root)
      .select("id", "seg").as[(Long, String)].collect().toSet == expect)
    // the replace snapshot holds ONE data manifest; partition pruning
    // still works on the compacted layout
    val (cur, after) = manifestListOfCurrent(t.root)
    assert(cur == s1)
    assert(after.size == 1, after.size.toString)
    assert(IcebergInterop.readIcebergWhere(spark, t.root, "seg", "A")
      .select("id").as[Long].collect().toSet == Set(1L, 4L, 6L))
    // time travel to the pre-compaction snapshot still replays it
    assert(IcebergInterop.readIceberg(spark, t.root, Some(s1 - 1))
      .select("id").as[Long].collect().toSet == expect.map(_._1))
    // nothing left to compact: no-op
    assert(IcebergInterop.compactIceberg(spark, t.root) == s1)
  }

  test("compactIceberg applies and consumes position deletes") {
    import spark.implicits._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val t = GraftTable.create(spark, tmp("graft_icpd_"),
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("id", "x")
        .repartition(2))
    val target = tmp("graft_icpd_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    val md0 = om.readTree(Files.readAllBytes(mdPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    md0.put("format-version", 2)
    md0.put("last-sequence-number", 0L)
    patch(mdPath, om.writeValueAsBytes(md0))
    IcebergInterop.deleteFromIceberg(spark, target, col("id") === 2L)
    val (_, before) = manifestListOfCurrent(target)
    assert(before.exists(r => r.get("content").toString.toLong == 1L))
    IcebergInterop.compactIceberg(spark, target)
    // deletes applied into the rewrite AND their manifest dropped
    assert(IcebergInterop.readIceberg(spark, target)
      .select("id").as[Long].collect().toSet == Set(1L, 3L, 4L))
    val (_, after) = manifestListOfCurrent(target)
    assert(after.forall(r => r.get("content").toString.toLong == 0L),
      after.map(_.get("content")).toString)
    // further row-level writes compose on the compacted table
    IcebergInterop.deleteFromIceberg(spark, target, col("id") === 4L)
    assert(IcebergInterop.readIceberg(spark, target)
      .select("id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("expireIcebergSnapshots trims a FOREIGN table's history") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_fexp_"),
      Seq((0L, "v0")).toDF("id", "v"))
    val target = tmp("graft_fexp_ice_")
    IcebergInterop.exportSnapshot(t, target)
    // grow foreign history through appends (each lands a snapshot)
    (1 to 4).foreach { i =>
      IcebergInterop.appendToIceberg(
        Seq((i.toLong, s"v$i")).toDF("id", "v"), target)
    }
    val metaDir = Paths.get(target, "metadata")
    def metaCount() = Files.list(metaDir).toArray.length
    val before = metaCount()
    val deleted = IcebergInterop.expireIcebergSnapshots(spark, target, 2)
    assert(deleted > 0)
    assert(metaCount() < before)
    // current read exact; expired travel refuses; retained travel green
    assert(IcebergInterop.readIceberg(spark, target)
      .as[(Long, String)].collect().toSet ==
      (0 to 4).map(i => (i.toLong, s"v$i")).toSet)
    intercept[IllegalArgumentException] {
      IcebergInterop.readIceberg(spark, target, Some(2L))
    }
    // appends continue on the trimmed history
    IcebergInterop.appendToIceberg(Seq((5L, "v5")).toDF("id", "v"), target)
    assert(IcebergInterop.readIceberg(spark, target).count() == 6)
    // idempotent at the same horizon (current + last-2 within new set)
    assert(IcebergInterop.expireIcebergSnapshots(spark, target, 3) == 0)
  }

  test("expireIcebergSnapshots keeps last N by COMMIT TIME, not snapshot id") {
    import spark.implicits._
    // foreign Iceberg snapshot ids are random longs — a table whose
    // id order disagrees with commit order must still expire the
    // OLDEST-by-time snapshots. Build 4 snapshots, then doctor the
    // timestamps so time order is the REVERSE of id order.
    val t = GraftTable.create(spark, tmp("graft_texp_"),
      Seq((0L, "v0")).toDF("id", "v"))
    val target = tmp("graft_texp_ice_")
    IcebergInterop.exportSnapshot(t, target)
    (1 to 3).foreach { i =>
      IcebergInterop.appendToIceberg(
        Seq((i.toLong, s"v$i")).toDF("id", "v"), target)
    }
    val metaDir = Paths.get(target, "metadata")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val curMeta = Files.list(metaDir).toArray.map(_.toString)
      .flatMap("v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(_))
      .map(_.group(1).toInt).max
    val mdPath = metaDir.resolve(s"v$curMeta.metadata.json")
    val md = om.readTree(Files.readAllBytes(mdPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val snaps = md.get("snapshots").elements()
    val idsInOrder = Seq.newBuilder[Long]
    val base = 1700000000000L
    var k = 0
    while (snaps.hasNext) {
      val sn = snaps.next()
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      idsInOrder += sn.get("snapshot-id").asLong()
      sn.put("timestamp-ms", base - k * 60000L) // later snapshot, older time
      k += 1
    }
    val ids = idsInOrder.result() // minted ascending by the appenders
    assert(ids == ids.sorted, "test precondition: ids minted ascending")
    patch(mdPath, om.writerWithDefaultPrettyPrinter().writeValueAsBytes(md))
    IcebergInterop.expireIcebergSnapshots(spark, target, 2)
    val after = om.readTree(Files.readAllBytes(
      metaDir.resolve(s"v${curMeta + 1}.metadata.json")))
    val kept = after.get("snapshots").elements()
    val keptIds = Seq.newBuilder[Long]
    while (kept.hasNext) keptIds += kept.next().get("snapshot-id").asLong()
    // newest-by-time are the FIRST two snapshots (ids(0), ids(1)); the
    // current snapshot (ids(3)) is always pinned; ids(2) expires. An
    // id-ordered retention would instead have expired ids(0)/ids(1).
    assert(keptIds.result().toSet == Set(ids(0), ids(1), ids(3)),
      s"kept ${keptIds.result()} of $ids")
  }

  test("convertParquetToIceberg registers a hive dir with name mapping") {
    import spark.implicits._
    val root = tmp("graft_icvt_")
    Seq((1L, "x1", "A"), (2L, "x2", "A"), (3L, "x3", "B"))
      .toDF("id", "v", "seg")
      .write.partitionBy("seg").parquet(root)
    val n = IcebergInterop.convertParquetToIceberg(spark, root)
    assert(n >= 2)
    // identity partition values come back from the manifest struct
    assert(IcebergInterop.readIceberg(spark, root)
      .select("id", "v", "seg").as[(Long, String, String)]
      .collect().toSet == Set((1L, "x1", "A"), (2L, "x2", "A"),
      (3L, "x3", "B")))
    assert(IcebergInterop.readIcebergWhere(spark, root, "seg", "B")
      .select("id").as[Long].collect().toSet == Set(3L))
    // the metadata declares the migrate-style name mapping
    val mdText = new String(Files.readAllBytes(
      Paths.get(root, "metadata", "v1.metadata.json")), "UTF-8")
    assert(mdText.contains("schema.name-mapping.default"), mdText.take(400))
    // the converted table takes appends through the normal write path
    IcebergInterop.appendToIceberg(
      Seq((4L, "x4", "B")).toDF("id", "v", "seg"), root)
    assert(IcebergInterop.readIceberg(spark, root)
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    intercept[IllegalArgumentException] {
      IcebergInterop.convertParquetToIceberg(spark, root)
    }
  }

  test("appendToIcebergTxn: idempotent epochs; watermark survives expiry") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_itxn_"),
      Seq((0L, "seed")).toDF("id", "v"))
    val target = tmp("graft_itxn_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val s1 = IcebergInterop.appendToIcebergTxn(
      Seq((1L, "b0")).toDF("id", "v"), target, "stream-A", 0L)
    // zombie replay of epoch 0: no-op, no duplicate rows
    assert(IcebergInterop.appendToIcebergTxn(
      Seq((1L, "b0")).toDF("id", "v"), target, "stream-A", 0L) == s1)
    assert(IcebergInterop.readIceberg(spark, target).count() == 2)
    // other appIds are independent; next epoch commits
    IcebergInterop.appendToIcebergTxn(
      Seq((10L, "other")).toDF("id", "v"), target, "stream-B", 0L)
    IcebergInterop.appendToIcebergTxn(
      Seq((2L, "b1")).toDF("id", "v"), target, "stream-A", 1L)
    assert(IcebergInterop.lastIcebergTxnVersion(spark, target,
      "stream-A") == 1L)
    assert(IcebergInterop.lastIcebergTxnVersion(spark, target,
      "nobody") == -1L)
    // snapshot expiry keeps the PROPERTY watermark: replays still skip
    IcebergInterop.expireIcebergSnapshots(spark, target, 1)
    IcebergInterop.appendToIcebergTxn(
      Seq((2L, "b1")).toDF("id", "v"), target, "stream-A", 1L)
    assert(IcebergInterop.readIceberg(spark, target).count() == 4)
    IcebergInterop.appendToIcebergTxn(
      Seq((3L, "b2")).toDF("id", "v"), target, "stream-A", 2L)
    assert(IcebergInterop.readIceberg(spark, target)
      .select("id").as[Long].collect().toSet ==
      Set(0L, 1L, 2L, 3L, 10L))
  }

  test("deleteFromIceberg refuses format v1") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_idelv1_"),
      Seq((1L, "a")).toDF("id", "v"))
    val target = tmp("graft_idelv1_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.deleteFromIceberg(spark, target, col("id") === 1L)
    }
    assert(e.getMessage.contains("format version 1"), e.getMessage)
  }

  test("appendToIceberg: concurrent appends all land via version races") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_apc_"),
      Seq((0L, "seed")).toDF("id", "v"))
    val target = tmp("graft_apc_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futs = (1 to 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = IcebergInterop.appendToIceberg(
            Seq((i.toLong, s"w$i")).toDF("id", "v"), target)
        })
      }
      val snapIds = futs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(snapIds.distinct.size == 4, snapIds.toString)
    } finally pool.shutdown()
    val got = IcebergInterop.readIceberg(spark, target)
      .select("id").as[Long].collect().toSet
    assert(got == Set(0L, 1L, 2L, 3L, 4L))
    // every append became its own snapshot, chained by parent ids
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val md = om.readTree(Files.readAllBytes(
      Paths.get(target, "metadata", "v5.metadata.json")))
    assert(md.get("snapshots").size() == 5)
  }

  /** Latest committed v<N>.metadata.json of a file-based table. */
  private def latestMeta(target: String): com.fasterxml.jackson.databind.JsonNode = {
    val dir = new java.io.File(target, "metadata")
    val v = dir.list().collect {
      case n if n.matches("v\\d+\\.metadata\\.json") =>
        n.stripPrefix("v").stripSuffix(".metadata.json").toInt
    }.max
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readAllBytes(Paths.get(target, "metadata", s"v$v.metadata.json")))
  }

  private def currentSnapId(target: String): Long =
    latestMeta(target).get("current-snapshot-id").asLong()

  test("readIcebergChanges: per-snapshot append batches; bounded + empty ranges") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_ichg_"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val target = tmp("graft_ichg_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val s1 = currentSnapId(target)
    IcebergInterop.appendToIceberg(Seq((3L, "c")).toDF("id", "v"), target)
    val s2 = currentSnapId(target)
    IcebergInterop.appendToIceberg(
      Seq((4L, "d"), (5L, "e")).toDF("id", "v"), target)
    val s3 = currentSnapId(target)

    val all = IcebergInterop.readIcebergChanges(spark, target, s1)
    assert(all.columns.toSeq ==
      Seq("id", "v", "_snapshot_id", "_change_ordinal"))
    assert(all.select($"id", $"_snapshot_id", $"_change_ordinal")
      .as[(Long, Long, Int)].collect().toSet ==
      Set((3L, s2, 1), (4L, s3, 2), (5L, s3, 2)))
    // bounded range stops at toSnapshotId inclusive
    assert(IcebergInterop.readIcebergChanges(spark, target, s1, Some(s2))
      .select("id").as[Long].collect().toSeq == Seq(3L))
    assert(IcebergInterop.readIcebergChanges(spark, target, s2)
      .select("id").as[Long].collect().toSet == Set(4L, 5L))
    // empty range: nothing after the current snapshot
    assert(IcebergInterop.readIcebergChanges(spark, target, s3).count() == 0)
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.readIcebergChanges(spark, target, 424242L)
    }
    assert(e.getMessage.contains("no longer retained"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      IcebergInterop.readIcebergChanges(spark, target, s3, Some(s1))
    }
    assert(e2.getMessage.contains("precedes"), e2.getMessage)
  }

  test("readIcebergChanges: rewrites invisible; in-range deletes refuse") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_ichg2_"),
      Seq((1L, "a")).toDF("id", "v"))
    val target = tmp("graft_ichg2_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    patch(mdPath, new String(Files.readAllBytes(mdPath), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 2")
      .getBytes("UTF-8"))
    val s1 = currentSnapId(target)
    IcebergInterop.appendToIceberg(Seq((2L, "b")).toDF("id", "v"), target)
    IcebergInterop.appendToIceberg(Seq((3L, "c")).toDF("id", "v"), target)
    val s3 = currentSnapId(target)
    val s4 = IcebergInterop.compactIceberg(spark, target)
    assert(s4 != s3) // three small files really did compact
    // the replace snapshot contributes NOTHING; earlier appends flow
    assert(IcebergInterop.readIcebergChanges(spark, target, s1)
      .select("id").as[Long].collect().toSet == Set(2L, 3L))
    assert(IcebergInterop.readIcebergChanges(spark, target, s3).count() == 0)
    // a delete BEFORE the range doesn't block later appends...
    IcebergInterop.deleteFromIceberg(spark, target, col("id") === 2L)
    val s5 = currentSnapId(target)
    IcebergInterop.appendToIceberg(Seq((6L, "f")).toDF("id", "v"), target)
    assert(IcebergInterop.readIcebergChanges(spark, target, s5)
      .select("id").as[Long].collect().toSeq == Seq(6L))
    // ...but a range CONTAINING the delete refuses loudly
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.readIcebergChanges(spark, target, s4)
    }
    assert(e.getMessage.contains("cannot express row-level"), e.getMessage)
  }

  test("v3 reads: plain tables read; defaults never override data; malformed DVs refuse") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_v3_"),
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val target = tmp("graft_v3_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    val mdV1 = new String(Files.readAllBytes(mdPath), "UTF-8")
    patch(mdPath, mdV1
      .replace("\"format-version\" : 1", "\"format-version\" : 2")
      .getBytes("UTF-8"))
    // exercise a v2 MoR delete, THEN promote to v3: the reader must
    // still apply the position deletes (v3 keeps reading v2 deletes)
    IcebergInterop.deleteFromIceberg(spark, target, col("id") === 2L)
    val curMeta = Files.list(Paths.get(target, "metadata")).toArray
      .map(_.toString)
      .flatMap("v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(_))
      .map(_.group(1).toInt).max
    val curPath = Paths.get(target, "metadata", s"v$curMeta.metadata.json")
    val mdCur = new String(Files.readAllBytes(curPath), "UTF-8")
    patch(curPath, mdCur
      .replace("\"format-version\" : 2", "\"format-version\" : 3")
      .getBytes("UTF-8"))
    // a v3 table with no v3-only feature in play reads exactly
    assert(IcebergInterop.readIceberg(spark, target)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (3L, "c")))
    // v3 default values on a column EVERY file carries: nothing fills,
    // the written values win (the dedicated initial-default test pins
    // the pre-add fill; this pins that defaults never OVERRIDE data)
    patch(curPath, new String(Files.readAllBytes(curPath), "UTF-8")
      .replace("\"name\" : \"v\",", "\"name\":\"v\",\"initial-default\":\"dflt\",")
      .replace("\"name\":\"v\",\"required\"",
        "\"name\":\"v\",\"initial-default\":\"dflt\",\"required\"")
      .getBytes("UTF-8"))
    val hasDefault = new String(Files.readAllBytes(curPath), "UTF-8")
      .contains("initial-default")
    assert(hasDefault, "test setup: default not injected")
    assert(IcebergInterop.readIceberg(spark, target)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (3L, "c")))
    patch(curPath, new String(Files.readAllBytes(curPath), "UTF-8")
      .replace("\"initial-default\":\"dflt\",", "").getBytes("UTF-8"))
    // a MALFORMED deletion-vector entry (puffin format but no blob
    // coordinates) refuses by name rather than misreading: flip the
    // delete manifest's file_format to PUFFIN in place
    val delManifest = Files.list(Paths.get(target, "metadata")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith("-m0.avro"))
      .maxBy(p => Files.getLastModifiedTime(p).toMillis)
    val ents = IcebergInterop.readAvro(Files.readAllBytes(delManifest))
    assert(ents.nonEmpty)
    ents.foreach(_.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .put("file_format", "PUFFIN"))
    val out = new java.io.ByteArrayOutputStream()
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](ents.head.getSchema))
    w.create(ents.head.getSchema, out)
    ents.foreach(w.append); w.close()
    patch(delManifest, out.toByteArray)
    val e2 = intercept[IllegalArgumentException] {
      IcebergInterop.readIceberg(spark, target).collect()
    }
    assert(e2.getMessage.contains("referenced_data_file"), e2.getMessage)
    // format versions beyond 3 still refuse wholesale
    patch(curPath, new String(Files.readAllBytes(curPath), "UTF-8")
      .replace("\"format-version\" : 3", "\"format-version\" : 4")
      .getBytes("UTF-8"))
    val e3 = intercept[IllegalArgumentException] {
      IcebergInterop.readIceberg(spark, target).collect()
    }
    assert(e3.getMessage.contains("v1-v3"), e3.getMessage)
  }

  test("v3 deletes write merged Puffin deletion vectors; reads apply them") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    val t = GraftTable.create(spark, tmp("graft_v3dv_"), df)
    val target = tmp("graft_v3dv_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    patch(mdPath, new String(Files.readAllBytes(mdPath), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 3")
      .getBytes("UTF-8"))
    val dataFilesBefore = Files.list(Paths.get(target, "data")).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).sorted.toSeq

    // ---- first delete: a DV commit, no data file rewritten ----
    IcebergInterop.deleteFromIceberg(spark, target, col("id") < 10L)
    assert(IcebergInterop.readIceberg(spark, target)
      .select("id").as[Long].collect().toSet == (10L until 100L).toSet)
    val dataFilesAfter = Files.list(Paths.get(target, "data")).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).sorted.toSeq
    assert(dataFilesAfter == dataFilesBefore, "a DV delete must not rewrite")
    assert(Files.list(Paths.get(target, "data")).toArray.map(_.toString)
      .count(_.endsWith(".puffin")) == 1)

    // ---- second delete on the SAME file: the DV must merge and the
    // superseded entry retire (at most one DV per data file) ----
    IcebergInterop.deleteFromIceberg(spark, target, col("id") === 20L)
    assert(IcebergInterop.readIceberg(spark, target).count() == 89)
    // count live DV entries across all delete manifests
    def liveDvEntries(): Seq[(String, Long)] = {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val hint = new String(Files.readAllBytes(
        Paths.get(target, "metadata", "version-hint.text")), "UTF-8").trim
      val md = om.readTree(Files.readAllBytes(
        Paths.get(target, "metadata", s"v$hint.metadata.json")))
      val cur = md.get("current-snapshot-id").asLong()
      val it = md.get("snapshots").elements()
      var listPath: String = null
      while (it.hasNext) {
        val s = it.next()
        if (s.get("snapshot-id").asLong() == cur)
          listPath = s.get("manifest-list").asText()
      }
      IcebergInterop.readAvro(Files.readAllBytes(Paths.get(
        new java.net.URI(listPath).getPath match {
          case "" => listPath
          case p => p
        })))
        .filter { r =>
          val f = r.getSchema.getField("content")
          f != null && r.get("content").asInstanceOf[Number].intValue() == 1
        }
        .flatMap { r =>
          val mp = r.get("manifest_path").toString
          val pp = new java.net.URI(mp).getPath match {
            case "" => mp
            case p => p
          }
          IcebergInterop.readAvro(Files.readAllBytes(Paths.get(pp)))
        }
        .filter(_.get("status").asInstanceOf[Number].intValue() != 2)
        .map(_.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord])
        .filter(_.get("file_format").toString.equalsIgnoreCase("puffin"))
        .map(df => (df.get("referenced_data_file").toString,
          df.get("record_count").asInstanceOf[Number].longValue()))
    }
    val dvs1 = liveDvEntries()
    assert(dvs1.size == 1 && dvs1.head._2 == 11L, dvs1)

    // ---- a delete hitting ANOTHER file adds a second DV ----
    IcebergInterop.deleteFromIceberg(spark, target, col("v") === "v30")
    assert(IcebergInterop.readIceberg(spark, target).count() == 88)
    val dvs2 = liveDvEntries()
    assert(dvs2.size == 2, dvs2)
    assert(dvs2.map(_._1).distinct.size == 2, "one DV per data file")
    // surviving values intact
    val left = IcebergInterop.readIceberg(spark, target)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(!left.contains(20L) && !left.contains(30L) &&
      left(50L) == "v50" && left(10L) == "v10")

    // ---- v3 UPDATE: DVs strike old versions, new files carry the
    // transformed rows; no .parquet position deletes appear ----
    IcebergInterop.updateIceberg(spark, target, col("id") === 50L,
      Map("v" -> lit("upd")))
    val got2 = IcebergInterop.readIceberg(spark, target)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(got2.size == 88 && got2(50L) == "upd" && got2(51L) == "v51")
    assert(liveDvEntries().size == 3, liveDvEntries())

    // ---- v3 MERGE: one overwrite commit, clause semantics intact ----
    IcebergInterop.mergeIceberg(
      Seq((60L, "m60"), (300L, "m300")).toDF("id", "v"), target, Seq("id"))
    val got3 = IcebergInterop.readIceberg(spark, target)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(got3.size == 89 && got3(60L) == "m60" && got3(300L) == "m300" &&
      got3(50L) == "upd" && !got3.contains(20L))

    // ---- v3 APPEND with row lineage: first-row-id assigned, the
    // high-water mark advances by the appended rows ----
    val curMeta3 = Files.list(Paths.get(target, "metadata")).toArray
      .map(_.toString)
      .flatMap("v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(_))
      .map(_.group(1).toInt).max
    val mdp3 = Paths.get(target, "metadata", s"v$curMeta3.metadata.json")
    patch(mdp3, new String(Files.readAllBytes(mdp3), "UTF-8")
      .replaceFirst("\\{", "{\n  \"next-row-id\" : 500,")
      .getBytes("UTF-8"))
    IcebergInterop.appendToIceberg(
      Seq((400L, "x"), (401L, "y")).toDF("id", "v"), target)
    assert(IcebergInterop.readIceberg(spark, target).count() == 91)
    val om3 = new com.fasterxml.jackson.databind.ObjectMapper()
    val hint3 = new String(Files.readAllBytes(
      Paths.get(target, "metadata", "version-hint.text")), "UTF-8").trim
    val md3 = om3.readTree(Files.readAllBytes(
      Paths.get(target, "metadata", s"v$hint3.metadata.json")))
    assert(md3.get("next-row-id").asLong() == 502L, md3.get("next-row-id"))
    val lastSnap3 = {
      val it = md3.get("snapshots").elements()
      var last: com.fasterxml.jackson.databind.JsonNode = null
      while (it.hasNext) last = it.next()
      last
    }
    assert(lastSnap3.get("first-row-id").asLong() == 500L)
    // a row-lineage DELETE keeps the high-water mark put
    IcebergInterop.deleteFromIceberg(spark, target, col("id") === 400L)
    val hint4 = new String(Files.readAllBytes(
      Paths.get(target, "metadata", "version-hint.text")), "UTF-8").trim
    val md4 = om3.readTree(Files.readAllBytes(
      Paths.get(target, "metadata", s"v$hint4.metadata.json")))
    assert(md4.get("next-row-id").asLong() == 502L)
    assert(IcebergInterop.readIceberg(spark, target).count() == 90)

    // ---- v3 tables still carrying parquet position deletes refuse
    // further row-level deletes until the upgrade finishes ----
    val t2 = GraftTable.create(spark, tmp("graft_v3pd_"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val tgt2 = tmp("graft_v3pd_ice_")
    IcebergInterop.exportSnapshot(t2, tgt2)
    val md2 = Paths.get(tgt2, "metadata", "v1.metadata.json")
    patch(md2, new String(Files.readAllBytes(md2), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 2")
      .getBytes("UTF-8"))
    IcebergInterop.deleteFromIceberg(spark, tgt2, col("id") === 1L) // v2 pos
    val cur2 = Files.list(Paths.get(tgt2, "metadata")).toArray
      .map(_.toString)
      .flatMap("v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(_))
      .map(_.group(1).toInt).max
    val mdp2 = Paths.get(tgt2, "metadata", s"v$cur2.metadata.json")
    patch(mdp2, new String(Files.readAllBytes(mdp2), "UTF-8")
      .replace("\"format-version\" : 2", "\"format-version\" : 3")
      .getBytes("UTF-8"))
    assert(IcebergInterop.readIceberg(spark, tgt2).count() == 1) // reads fine
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.deleteFromIceberg(spark, tgt2, col("id") === 2L)
    }
    assert(e.getMessage.contains("finish the upgrade"), e.getMessage)
  }

  test("v3 compaction folds deletion vectors in; row-lineage ids preserved") {
    import spark.implicits._
    val df = (0 until 60).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartitionByRange(3, col("id")).sortWithinPartitions("id")
    val t = GraftTable.create(spark, tmp("graft_v3c_"), df)
    val target = tmp("graft_v3c_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    patch(mdPath, new String(Files.readAllBytes(mdPath), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 3")
      .getBytes("UTF-8"))
    IcebergInterop.deleteFromIceberg(spark, target, col("id") < 5L)
    IcebergInterop.deleteFromIceberg(spark, target, col("id") === 30L)
    val expect = (5L until 60L).toSet - 30L
    val before = IcebergInterop.readIceberg(spark, target)
      .select("id").as[Long].collect().toSet
    assert(before == expect)
    val s = IcebergInterop.compactIceberg(spark, target)
    assert(IcebergInterop.readIceberg(spark, target)
      .select("id").as[Long].collect().toSet == expect)
    // the DV manifests are consumed: no puffin entries remain live
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val hint = new String(Files.readAllBytes(
      Paths.get(target, "metadata", "version-hint.text")), "UTF-8").trim
    val md = om.readTree(Files.readAllBytes(
      Paths.get(target, "metadata", s"v$hint.metadata.json")))
    val it = md.get("snapshots").elements()
    var listPath: String = null
    while (it.hasNext) {
      val sn = it.next()
      if (sn.get("snapshot-id").asLong() == s)
        listPath = sn.get("manifest-list").asText()
    }
    val deleteManifests = IcebergInterop.readAvro(
      Files.readAllBytes(Paths.get(listPath)))
      .filter { r =>
        val f = r.getSchema.getField("content")
        f != null && r.get("content").asInstanceOf[Number].intValue() == 1
      }
    assert(deleteManifests.isEmpty, s"DV manifests should be consumed: " +
      s"${deleteManifests.size}")
    // row-lineage v3 tables COMPACT WITH IDS PRESERVED: pre-lineage
    // rows gain ids (assignment at first rewrite), already-assigned
    // rows keep theirs, materialized into the rewritten files
    val curMeta = Files.list(Paths.get(target, "metadata")).toArray
      .map(_.toString)
      .flatMap("v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(_))
      .map(_.group(1).toInt).max
    val mdp = Paths.get(target, "metadata", s"v$curMeta.metadata.json")
    patch(mdp, new String(Files.readAllBytes(mdp), "UTF-8")
      .replaceFirst("\\{", "{\n  \"next-row-id\" : 7000,")
      .getBytes("UTF-8"))
    IcebergInterop.appendToIceberg(
      Seq((900L, "a9"), (901L, "b9")).toDF("id", "v"), target)
    val lineageBefore = IcebergInterop.readIcebergRowLineage(spark, target)
      .select("id", "_row_id").as[(Long, java.lang.Long)].collect().toMap
    assert(lineageBefore(900L) != null && lineageBefore(901L) != null &&
      lineageBefore(900L) >= 7000L, lineageBefore.get(900L))
    IcebergInterop.compactIceberg(spark, target, zorderBy = Seq("id"))
    val lineageAfter = IcebergInterop.readIcebergRowLineage(spark, target)
      .select("id", "_row_id").as[(Long, java.lang.Long)].collect().toMap
    assert(lineageAfter(900L) == lineageBefore(900L) &&
      lineageAfter(901L) == lineageBefore(901L),
      "assigned row ids must survive compaction")
    // pre-lineage rows gained ids through the rewrite
    assert(lineageAfter(10L) != null)
    assert(lineageAfter.values.filter(_ != null).toSeq.distinct.size ==
      lineageAfter.values.count(_ != null), "row ids must stay unique")
  }

  test("v3 row lineage: UPDATE/MERGE keep _row_id, advance last-updated seq") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_v3rl_"),
      (0 until 20).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    val target = tmp("graft_v3rl_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    patch(mdPath, new String(Files.readAllBytes(mdPath), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 3")
      .replaceFirst("\\{", "{\n  \"next-row-id\" : 0,")
      .getBytes("UTF-8"))
    // rows written BEFORE lineage carry no ids; an append under
    // lineage gets assigned ones
    IcebergInterop.appendToIceberg(
      (100 until 110).map(i => (i.toLong, s"n$i")).toDF("id", "v"), target)
    def lineage(): Map[Long, (java.lang.Long, java.lang.Long)] =
      IcebergInterop.readIcebergRowLineage(spark, target)
        .select("id", "_row_id", "_last_updated_sequence_number")
        .as[(Long, java.lang.Long, java.lang.Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val l0 = lineage()
    assert((100L until 110L).forall(i => l0(i)._1 != null))
    assert((100L until 110L).map(i => l0(i)._1.longValue).toSet.size == 10)
    // UPDATE: the transformed row KEEPS its _row_id; its
    // _last_updated_sequence_number moves to the new commit's
    IcebergInterop.updateIceberg(spark, target, col("id") === 105L,
      Map("v" -> lit("upd")))
    val l1 = lineage()
    assert(l1(105L)._1 == l0(105L)._1,
      s"update must preserve _row_id: ${l0(105L)} -> ${l1(105L)}")
    assert(l1(105L)._2.longValue > l0(105L)._2.longValue,
      "update must advance _last_updated_sequence_number")
    assert(l1(106L) == l0(106L), "untouched rows keep both")
    // MERGE: updated rows keep ids, inserted rows get FRESH unique ids
    IcebergInterop.mergeIceberg(
      Seq((107L, "m107"), (500L, "m500")).toDF("id", "v"),
      target, Seq("id"))
    val l2 = lineage()
    assert(l2(107L)._1 == l0(107L)._1, "merge-update must preserve _row_id")
    assert(l2(107L)._2.longValue > l1(107L)._2.longValue)
    assert(l2(500L)._1 != null, "merge-insert gets an assigned id")
    val ids = l2.values.flatMap(v => Option(v._1)).map(_.longValue).toSeq
    assert(ids.distinct.size == ids.size, "row ids must stay unique")
    // the rewritten file MATERIALIZES the columns for foreign readers
    val matFiles = Files.walk(Paths.get(target, "data")).toArray
      .map(_.toString).filter(_.endsWith(".parquet"))
      .filter(p => spark.read.parquet(p).columns.contains("_row_id"))
    assert(matFiles.nonEmpty, "rewritten files must carry _row_id")
    // readback matches oracle recomputation through a plain read too
    assert(IcebergInterop.readIceberg(spark, target)
      .select("id", "v").as[(Long, String)].collect().toMap
      .get(105L).contains("upd"))
  }

  test("z-order compaction declares its sort order; files stamp sort_order_id") {
    import spark.implicits._
    val df = (0 until 60).map(i => (i.toLong, (i * 37 % 60).toLong))
      .toDF("a", "b").repartitionByRange(3, col("a"))
      .sortWithinPartitions("a")
    val t = GraftTable.create(spark, tmp("graft_so_"), df)
    val target = tmp("graft_so_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    patch(mdPath, new String(Files.readAllBytes(mdPath), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 2")
      .getBytes("UTF-8"))
    IcebergInterop.compactIceberg(spark, target, zorderBy = Seq("a", "b"))
    // metadata declares the documented closest order (identity asc)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val hint = new String(Files.readAllBytes(
      Paths.get(target, "metadata", "version-hint.text")), "UTF-8").trim
    val md = om.readTree(Files.readAllBytes(
      Paths.get(target, "metadata", s"v$hint.metadata.json")))
    val orders = md.path("sort-orders")
    var declared: com.fasterxml.jackson.databind.JsonNode = null
    val it = orders.elements()
    while (it.hasNext) {
      val o = it.next()
      if (o.path("fields").size() == 2) declared = o
    }
    assert(declared != null, orders.toString)
    assert(declared.path("fields").get(0).path("transform").asText()
      == "identity")
    assert(declared.path("fields").get(0).path("source-id").asInt() == 1)
    assert(declared.path("fields").get(1).path("source-id").asInt() == 2)
    val oid = declared.path("order-id").asInt()
    assert(oid > 0)
    // every rewritten data-file entry stamps that sort_order_id
    def currentDataFiles(): Seq[org.apache.avro.generic.GenericRecord] = {
      val h = new String(Files.readAllBytes(
        Paths.get(target, "metadata", "version-hint.text")), "UTF-8").trim
      val m = om.readTree(Files.readAllBytes(
        Paths.get(target, "metadata", s"v$h.metadata.json")))
      val cur = m.get("current-snapshot-id").asLong()
      var lp: String = null
      val sit = m.get("snapshots").elements()
      while (sit.hasNext) {
        val sn = sit.next()
        if (sn.get("snapshot-id").asLong() == cur)
          lp = sn.get("manifest-list").asText()
      }
      IcebergInterop.readAvro(Files.readAllBytes(Paths.get(lp)))
        .filter { r =>
          val f = r.getSchema.getField("content")
          f == null || r.get("content").asInstanceOf[Number].intValue() == 0
        }
        .flatMap(r => IcebergInterop.readAvro(Files.readAllBytes(
          Paths.get(r.get("manifest_path").toString))))
        .filter(_.get("status").asInstanceOf[Number].intValue() != 2)
        .map(_.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord])
    }
    val stamped = currentDataFiles().map { dfr =>
      Option(dfr.get("sort_order_id"))
        .map(_.asInstanceOf[Number].intValue())
    }
    assert(stamped.nonEmpty && stamped.forall(_.contains(oid)), stamped)
    // a SECOND z-order rewrite on the same columns REUSES the order
    IcebergInterop.appendToIceberg(
      Seq((100L, 1L), (101L, 2L)).toDF("a", "b"), target)
    IcebergInterop.compactIceberg(spark, target, zorderBy = Seq("a", "b"))
    val hint2 = new String(Files.readAllBytes(
      Paths.get(target, "metadata", "version-hint.text")), "UTF-8").trim
    val md2 = om.readTree(Files.readAllBytes(
      Paths.get(target, "metadata", s"v$hint2.metadata.json")))
    val twoField = {
      val b = Seq.newBuilder[Int]
      val it2 = md2.path("sort-orders").elements()
      while (it2.hasNext) {
        val o = it2.next()
        if (o.path("fields").size() == 2) b += o.path("order-id").asInt()
      }
      b.result()
    }
    assert(twoField == Seq(oid), s"order must be reused, got $twoField")
    // data rows exact after both rewrites
    assert(IcebergInterop.readIceberg(spark, target).count() == 62)
  }

  test("deleteFromIcebergByKey: equality-delete file, no scan; re-insert survives") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_ieq_"),
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val target = tmp("graft_ieq_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    patch(mdPath, new String(Files.readAllBytes(mdPath), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 2")
      .getBytes("UTF-8"))
    val dataFilesBefore = Files.walk(Paths.get(target)).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).toSet
    IcebergInterop.deleteFromIcebergByKey(
      Seq(2L, 99L).toDF("id"), target)
    // the strike is visible through graft's own equality-delete reader
    assert(IcebergInterop.readIceberg(spark, target)
      .select("id").as[Long].collect().toSet == Set(1L, 3L))
    // no data file was rewritten or removed — every pre-existing file
    // survives and the only additions are the equality-delete parquet
    // itself (cost ∝ key rows, zero detection scan)
    val dataFilesAfter = Files.walk(Paths.get(target)).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).toSet
    assert(dataFilesBefore.subsetOf(dataFilesAfter))
    assert((dataFilesAfter -- dataFilesBefore)
      .forall(_.contains("graft-eqdelete-")),
      (dataFilesAfter -- dataFilesBefore).toString)
    // the sequence-number guard: a LATER re-insert of the deleted key
    // rides a higher data sequence number and survives the old delete
    IcebergInterop.appendToIceberg(Seq((2L, "b2")).toDF("id", "v"), target)
    assert(IcebergInterop.readIceberg(spark, target)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b2"), (3L, "c")))
    // multi-column keys strike on ALL columns equal
    IcebergInterop.deleteFromIcebergByKey(
      Seq((2L, "nope"), (3L, "c")).toDF("id", "v"), target)
    assert(IcebergInterop.readIceberg(spark, target)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    // format v1 and unknown columns refuse loudly
    val t1 = GraftTable.create(spark, tmp("graft_ieqv1_"),
      Seq((1L, "a")).toDF("id", "v"))
    val v1target = tmp("graft_ieqv1_ice_")
    IcebergInterop.exportSnapshot(t1, v1target)
    val e1 = intercept[IllegalArgumentException] {
      IcebergInterop.deleteFromIcebergByKey(Seq(1L).toDF("id"), v1target)
    }
    assert(e1.getMessage.contains("format version 1"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      IcebergInterop.deleteFromIcebergByKey(Seq(1L).toDF("nope"), target)
    }
    assert(e2.getMessage.contains("not a top-level"), e2.getMessage)
    // v3 tables take keyed equality deletes too (still legal in v3)
    val curMeta = Files.list(Paths.get(target, "metadata")).toArray
      .map(_.toString)
      .flatMap("v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(_))
      .map(_.group(1).toInt).max
    val mdp = Paths.get(target, "metadata", s"v$curMeta.metadata.json")
    patch(mdp, new String(Files.readAllBytes(mdp), "UTF-8")
      .replace("\"format-version\" : 2", "\"format-version\" : 3")
      .getBytes("UTF-8"))
    IcebergInterop.deleteFromIcebergByKey(Seq(2L).toDF("id"), target)
    assert(IcebergInterop.readIceberg(spark, target)
      .select("id").as[Long].collect().toSet == Set(1L))
  }

  test("rollbackIceberg: metadata-only undo; history retained; appends re-chain") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_irb_"),
      Seq((1L, "a")).toDF("id", "v"))
    val target = tmp("graft_irb_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val s1 = currentSnapId(target)
    IcebergInterop.appendToIceberg(Seq((2L, "bad")).toDF("id", "v"), target)
    val s2 = currentSnapId(target)
    assert(IcebergInterop.readIceberg(spark, target).count() == 2)
    IcebergInterop.rollbackIceberg(spark, target, s1)
    // current state is the restored snapshot; no data was deleted
    assert(IcebergInterop.readIceberg(spark, target)
      .as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    assert(IcebergInterop.readIceberg(spark, target, Some(s2))
      .count() == 2) // the rolled-over snapshot stays time-travelable
    // the NEXT append parents the restored snapshot, not the bad one
    IcebergInterop.appendToIceberg(Seq((3L, "c")).toDF("id", "v"), target)
    assert(IcebergInterop.readIceberg(spark, target)
      .select("id").as[Long].collect().toSet == Set(1L, 3L))
    val md = latestMeta(target)
    val cur = md.get("current-snapshot-id").asLong()
    val parent = md.get("snapshots").elements()
    var parentOfCur = -1L
    while (parent.hasNext) {
      val n = parent.next()
      if (n.get("snapshot-id").asLong() == cur)
        parentOfCur = n.path("parent-snapshot-id").asLong(-1L)
    }
    assert(parentOfCur == s1, s"expected parent $s1, got $parentOfCur")
    // rollback to an unknown snapshot refuses
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.rollbackIceberg(spark, target, 424242L)
    }
    assert(e.getMessage.contains("not retained"), e.getMessage)
  }

  test("tags and branches pin snapshots against expiry until dropped") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_iref_"),
      Seq((1L, "a")).toDF("id", "v"))
    val target = tmp("graft_iref_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val s1 = currentSnapId(target)
    assert(IcebergInterop.tagIceberg(spark, target, "audit-v1") == s1)
    IcebergInterop.appendToIceberg(Seq((2L, "b")).toDF("id", "v"), target)
    val s2 = currentSnapId(target)
    IcebergInterop.appendToIceberg(Seq((3L, "c")).toDF("id", "v"), target)
    val s3 = currentSnapId(target)
    assert(IcebergInterop.branchIceberg(spark, target, "wap", Some(s2)) == s2)
    // resolve refs; read through a tag
    assert(IcebergInterop.icebergRefSnapshot(spark, target, "audit-v1") == s1)
    assert(IcebergInterop.icebergRefSnapshot(spark, target, "main") == s3)
    assert(IcebergInterop.readIceberg(spark, target,
      Some(IcebergInterop.icebergRefSnapshot(spark, target, "audit-v1")))
      .as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    // expiry keeps refs' snapshots even past keepLast
    IcebergInterop.expireIcebergSnapshots(spark, target, 1)
    assert(IcebergInterop.readIceberg(spark, target, Some(s1)).count() == 1)
    assert(IcebergInterop.readIceberg(spark, target, Some(s2)).count() == 2)
    // dropping the tag un-pins; the next expiry ages it out
    IcebergInterop.dropIcebergRef(spark, target, "audit-v1")
    IcebergInterop.dropIcebergRef(spark, target, "wap")
    IcebergInterop.expireIcebergSnapshots(spark, target, 1)
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.readIceberg(spark, target, Some(s1))
    }
    assert(e.getMessage.contains("not found"), e.getMessage)
    assert(IcebergInterop.readIceberg(spark, target).count() == 3)
    // refusals: duplicate names, reserved main, unknown drops
    IcebergInterop.tagIceberg(spark, target, "t2")
    intercept[IllegalArgumentException] {
      IcebergInterop.tagIceberg(spark, target, "t2")
    }
    intercept[IllegalArgumentException] {
      IcebergInterop.dropIcebergRef(spark, target, "main")
    }
    intercept[IllegalArgumentException] {
      IcebergInterop.dropIcebergRef(spark, target, "nope")
    }
    intercept[IllegalArgumentException] {
      IcebergInterop.tagIceberg(spark, target, "t3", Some(424242L))
    }
  }

  test("timestamp travel resolves via the snapshot log; history lists snapshots") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_itts_"),
      Seq((1L, "a")).toDF("id", "v"))
    val target = tmp("graft_itts_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val s1 = currentSnapId(target)
    IcebergInterop.appendToIceberg(Seq((2L, "b")).toDF("id", "v"), target)
    val s2 = currentSnapId(target)
    IcebergInterop.rollbackIceberg(spark, target, s1)
    // pin the snapshot-log clock: 1000 (s1), 2000 (s2), 3000 (rollback)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val dir = new java.io.File(target, "metadata")
    val vTop = dir.list().collect {
      case n if n.matches("v\\d+\\.metadata\\.json") =>
        n.stripPrefix("v").stripSuffix(".metadata.json").toInt
    }.max
    val mdPath = Paths.get(target, "metadata", s"v$vTop.metadata.json")
    val md = om.readTree(Files.readAllBytes(mdPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    // the EXPORT snapshot predates snapshot-log bookkeeping, so the
    // log holds the append (s2) and the rollback's re-point (s1)
    val log = md.get("snapshot-log")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    assert(log.size() == 2, md.toString)
    (0 until 2).foreach(i => log.get(i)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("timestamp-ms", (i + 2) * 1000L))
    patch(mdPath, om.writeValueAsBytes(md))
    assert(IcebergInterop.icebergSnapshotAtTimestamp(spark, target,
      2500L) == s2)
    // the rollback APPENDED a log entry, so "now" resolves to s1 — what
    // a reader actually saw after the rollback
    assert(IcebergInterop.icebergSnapshotAtTimestamp(spark, target,
      9999L) == s1)
    assert(IcebergInterop.readIcebergAsOfTimestamp(spark, target, 2500L)
      .count() == 2)
    assert(IcebergInterop.readIcebergAsOfTimestamp(spark, target, 9999L)
      .count() == 1)
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.icebergSnapshotAtTimestamp(spark, target, 1999L)
    }
    assert(e.getMessage.contains("precedes"), e.getMessage)
    val hist = IcebergInterop.icebergHistory(spark, target)
      .as[(Long, Long, Long, String, Boolean)].collect().toSeq
    assert(hist.map(_._1).toSet == Set(s1, s2), hist.toString)
    assert(hist.filter(_._5).map(_._1) == Seq(s1), hist.toString)
    assert(hist.find(_._1 == s2).get._2 == s1) // parent chain recorded
  }

  test("foreign Iceberg DDL: add/rename columns by field id, property CRUD") {
    import spark.implicits._
    val src = tmp("graft_iddl_src_")
    Seq((1L, "a")).toDF("id", "v").write.parquet(src)
    IcebergInterop.convertParquetToIceberg(spark, src)
    IcebergInterop.addColumnToIceberg(spark, src, "n",
      org.apache.spark.sql.types.LongType)
    assert(IcebergInterop.readIceberg(spark, src)
      .as[(Long, String, Option[Long])].collect().toSeq ==
      Seq((1L, "a", None))) // old files null-fill
    IcebergInterop.appendToIceberg(
      Seq((2L, "b", 7L)).toDF("id", "v", "n"), src)
    assert(IcebergInterop.readIceberg(spark, src)
      .as[(Long, String, Option[Long])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", Some(7L))))
    // rename: field ids never change, so EVERY existing file (the
    // id-less converted one via name-mapping, the id-stamped appended
    // one via parquet field ids) reads under the new name
    IcebergInterop.renameIcebergColumn(spark, src, "v", "label")
    val renamed = IcebergInterop.readIceberg(spark, src)
    assert(renamed.columns.toSeq == Seq("id", "label", "n"))
    assert(renamed.as[(Long, String, Option[Long])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", Some(7L))))
    IcebergInterop.appendToIceberg(
      Seq((3L, "c", 9L)).toDF("id", "label", "n"), src)
    assert(IcebergInterop.readIceberg(spark, src).count() == 3)
    // refusals: duplicates, unknown sources, nested types
    intercept[IllegalArgumentException] {
      IcebergInterop.addColumnToIceberg(spark, src, "LABEL",
        org.apache.spark.sql.types.LongType)
    }
    intercept[IllegalArgumentException] {
      IcebergInterop.renameIcebergColumn(spark, src, "nope", "x")
    }
    // NESTED types allocate multi-field ids (r15): list element and
    // struct fields each take a fresh id, last-column-id covers all
    val lastIdBefore = latestMeta(src).path("last-column-id").asInt()
    IcebergInterop.addColumnToIceberg(spark, src, "arr",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))
    val mdArr = latestMeta(src)
    assert(mdArr.path("last-column-id").asInt() == lastIdBefore + 2,
      mdArr.path("last-column-id").toString) // column id + element id
    assert(IcebergInterop.readIceberg(spark, src)
      .columns.toSeq == Seq("id", "label", "n", "arr"))
    // additions INTO a nested struct go through the dedicated API;
    // non-struct parents refuse
    val eP = intercept[IllegalArgumentException] {
      IcebergInterop.addNestedColumnToIceberg(spark, src, "label", "x",
        org.apache.spark.sql.types.LongType)
    }
    assert(eP.getMessage.contains("struct"), eP.getMessage)
    // properties CRUD
    IcebergInterop.setIcebergProperties(spark, src,
      Map("commit.retry.num-retries" -> "5", "graft.test" -> "yes"))
    assert(latestMeta(src).path("properties")
      .path("commit.retry.num-retries").asText() == "5")
    IcebergInterop.removeIcebergProperties(spark, src, Seq("graft.test"))
    val props = latestMeta(src).path("properties")
    assert(!props.has("graft.test") &&
      props.path("commit.retry.num-retries").asText() == "5")
    // schema bookkeeping: ids advanced, last-column-id covers every
    // allocation (3 primitives + the list column's 2 ids)
    val md = latestMeta(src)
    assert(md.get("last-column-id").asInt() == 5, md.toString)
    assert(md.get("schemas").size() >= 3, md.toString)
  }

  test("compactIceberg ZORDER: full rewrite, disjoint ranges, data intact") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_izord_t_"),
      Seq((-1L, "seed")).toDF("id", "v"))
    val target = tmp("graft_izord_ice_")
    IcebergInterop.exportSnapshot(t, target)
    val mdPath = Paths.get(target, "metadata", "v1.metadata.json")
    patch(mdPath, new String(Files.readAllBytes(mdPath), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 2")
      .getBytes("UTF-8"))
    // four hash-scattered appends: every file spans most of the range
    val all = scala.util.Random.shuffle(Seq.range(0L, 1000L))
    all.grouped(250).foreach { chunk =>
      IcebergInterop.appendToIceberg(
        chunk.map(i => (i, s"v$i")).toDF("id", "v").repartition(2), target)
    }
    val snap = IcebergInterop.compactIceberg(spark, target,
      targetFileBytes = 4096L, zorderBy = Seq("id"))
    assert(snap > 0)
    val back = IcebergInterop.readIceberg(spark, target)
    assert(back.select("id").as[Long].collect().toSet ==
      (Set(-1L) ++ (0L until 1000L)))
    // 1-col z-order = a linear sort: per-file id ranges are disjoint
    val ranges = back
      .groupBy(col("_metadata.file_path").as("f"))
      .agg(min("id").as("mn"), max("id").as("mx"))
      .select("mn", "mx").as[(Long, Long)].collect().sortBy(_._1)
    assert(ranges.length >= 2, s"expected a multi-file rewrite: ${ranges.toSeq}")
    ranges.sliding(2).foreach { case Array((_, mx1), (mn2, _)) =>
      assert(mx1 < mn2, s"overlapping ranges: ${ranges.toSeq}")
    }
  }

  test("convertDeltaToIceberg: dual-format publication of a foreign Delta table") {
    import spark.implicits._
    import graft.sources.DeltaInterop
    val t = GraftTable.create(spark, tmp("graft_d2i_t_"),
      Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x"), (4L, "d", "y"))
        .toDF("id", "v", "seg"),
      partitionBy = Seq("seg"))
    val root = tmp("graft_d2i_")
    DeltaInterop.exportSnapshot(t, root) // identity hive layout
    DeltaInterop.deleteFromDelta(spark, root, col("id") === 2L) // CoW
    val snap = IcebergInterop.convertDeltaToIceberg(spark, root)
    assert(snap > 0)
    // both formats read the SAME state from the SAME files
    val want = Set((1L, "a", "x"), (3L, "c", "x"), (4L, "d", "y"))
    assert(IcebergInterop.readIceberg(spark, root)
      .as[(Long, String, String)].collect().toSet == want)
    assert(DeltaInterop.readDelta(spark, root)
      .as[(Long, String, String)].collect().toSet == want)
    // identity partition values rode the manifests: metadata-only prune
    assert(IcebergInterop.readIcebergWhere(spark, root, "seg", "x")
      .select("id").as[Long].collect().toSet == Set(1L, 3L))
    // Delta VACUUM never touches the published Iceberg metadata area
    DeltaInterop.vacuumDelta(spark, root, retentionMs = 0L)
    assert(Files.exists(Paths.get(root, "metadata", "version-hint.text")))
    assert(IcebergInterop.readIceberg(spark, root).count() == 3)
    // double-convert refuses
    intercept[IllegalArgumentException] {
      IcebergInterop.convertDeltaToIceberg(spark, root)
    }
    // a DV-carrying table refuses (rows would resurface)
    val dvRoot = tmp("graft_d2i_dv_")
    Seq.range(0L, 6L).toDF("id").coalesce(1).write.parquet(dvRoot)
    Files.createDirectories(Paths.get(dvRoot, "_delta_log"))
    val dataFile = Files.list(Paths.get(dvRoot)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val rel = Paths.get(dvRoot).relativize(Paths.get(dataFile)).toString
    val inline = graft.sources.DeletionVectors.serialize(Seq(0L))
    val padded = java.util.Arrays.copyOf(inline, (inline.length + 3) / 4 * 4)
    val z85dv = graft.sources.DeletionVectors.z85Encode(padded)
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(dvRoot, "_delta_log", "0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson)}","partitionColumns":[],"configuration":{},"createdTime":1}}""",
      s"""{"add":{"path":"${esc(rel)}","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"$z85dv","sizeInBytes":${padded.length},"cardinality":1}}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.convertDeltaToIceberg(spark, dvRoot)
    }
    assert(e.getMessage.contains("deletion vectors"), e.getMessage)
  }

  test("convertIcebergToDelta: parquet → Iceberg → Delta, zero copies") {
    import spark.implicits._
    import graft.sources.DeltaInterop
    val root = tmp("graft_i2d_")
    Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x"))
      .toDF("id", "v", "seg")
      .write.partitionBy("seg").parquet(root)
    IcebergInterop.convertParquetToIceberg(spark, root)
    assert(DeltaInterop.convertIcebergToDelta(spark, root) == 0L)
    // both formats agree, partition values recovered from manifests
    val want = Set((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x"))
    assert(DeltaInterop.readDelta(spark, root)
      .select("id", "v", "seg")
      .as[(Long, String, String)].collect().toSet == want)
    assert(DeltaInterop.readDeltaWhere(spark, root, "seg", "x")
      .select("id").as[Long].collect().toSet == Set(1L, 3L))
    // appends through the DELTA side stay invisible to Iceberg (each
    // format's log is independent after the split)
    DeltaInterop.appendToDelta(
      Seq((9L, "z", "x")).toDF("id", "v", "seg"), root)
    assert(DeltaInterop.readDelta(spark, root).count() == 4)
    assert(IcebergInterop.readIceberg(spark, root).count() == 3)
    // refusals: live MoR deletes, renamed histories, double convert
    intercept[IllegalArgumentException] {
      DeltaInterop.convertIcebergToDelta(spark, root)
    }
    val mor = tmp("graft_i2d_mor_")
    val t2 = GraftTable.create(spark, tmp("graft_i2d_t2_"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    IcebergInterop.exportSnapshot(t2, mor)
    val mdPath = Paths.get(mor, "metadata", "v1.metadata.json")
    patch(mdPath, new String(Files.readAllBytes(mdPath), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 2")
      .getBytes("UTF-8"))
    IcebergInterop.deleteFromIceberg(spark, mor, col("id") === 1L)
    val e2 = intercept[IllegalArgumentException] {
      DeltaInterop.convertIcebergToDelta(spark, mor)
    }
    assert(e2.getMessage.contains("merge-on-read"), e2.getMessage)
    val ren = tmp("graft_i2d_ren_")
    Seq((1L, "a")).toDF("id", "v").write.parquet(ren)
    IcebergInterop.convertParquetToIceberg(spark, ren)
    IcebergInterop.renameIcebergColumn(spark, ren, "v", "label")
    val e3 = intercept[IllegalArgumentException] {
      DeltaInterop.convertIcebergToDelta(spark, ren)
    }
    assert(e3.getMessage.contains("renamed"), e3.getMessage)
  }

  test("IcebergSource startingSnapshotId skips the initial snapshot") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_issv_t_"),
      Seq((1L, "a")).toDF("id", "v"))
    val target = tmp("graft_issv_")
    IcebergInterop.exportSnapshot(t, target)
    IcebergInterop.appendToIceberg(Seq((2L, "b")).toDF("id", "v"), target)
    val s2 = currentSnapId(target)
    IcebergInterop.appendToIceberg(Seq((3L, "c")).toDF("id", "v"), target)
    val name = "issv_mem"
    val q = spark.readStream.format("graft.sources.v2.IcebergSource")
      .option("startingSnapshotId", s2.toString)
      .load(target)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // only the append AFTER s2 streamed — exclusive start, no snapshot
      assert(spark.table(name).select("id").as[Long].collect().toSet ==
        Set(3L))
      IcebergInterop.appendToIceberg(Seq((4L, "d")).toDF("id", "v"), target)
      q.processAllAvailable()
      assert(spark.table(name).select("id").as[Long].collect().toSet ==
        Set(3L, 4L))
    } finally q.stop()
    // "latest": future appends only
    val name2 = "issv_mem2"
    val q2 = spark.readStream.format("graft.sources.v2.IcebergSource")
      .option("startingSnapshotId", "latest")
      .load(target)
      .writeStream.format("memory").queryName(name2)
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table(name2).count() == 0)
      IcebergInterop.appendToIceberg(Seq((5L, "e")).toDF("id", "v"), target)
      q2.processAllAvailable()
      assert(spark.table(name2).select("id").as[Long].collect().toSet ==
        Set(5L))
    } finally q2.stop()
  }

  test("appendToIceberg mergeSchema widens the schema in the same snapshot") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_imsch_t_"),
      Seq((1L, "a")).toDF("id", "v"))
    val target = tmp("graft_imsch_")
    IcebergInterop.exportSnapshot(t, target)
    // plain append with extras refuses and names the fix
    val e0 = intercept[Exception] {
      IcebergInterop.appendToIceberg(
        Seq((2L, "b", 7L)).toDF("id", "v", "n"), target)
    }
    assert(e0.getMessage.contains("mergeSchema"), e0.getMessage)
    IcebergInterop.appendToIceberg(
      Seq((2L, "b", 7L)).toDF("id", "v", "n"), target, mergeSchema = true)
    val widened = IcebergInterop.readIceberg(spark, target)
    assert(widened.columns.toSeq == Seq("id", "v", "n"))
    assert(widened.as[(Long, String, Option[Long])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", Some(7L))))
    // bookkeeping: new field id allocated, schemas array advanced,
    // exactly ONE metadata version landed for the append
    val md = latestMeta(target)
    assert(md.get("last-column-id").asInt() == 3, md.toString)
    assert(md.get("schemas").size() == 2, md.toString)
    assert(!Files.exists(Paths.get(target, "metadata", "v4.metadata.json")))
    // next appends carry the widened schema plainly
    IcebergInterop.appendToIceberg(
      Seq((3L, "c", 9L)).toDF("id", "v", "n"), target)
    assert(IcebergInterop.readIceberg(spark, target).count() == 3)
    // still demands every EXISTING column under mergeSchema
    val e1 = intercept[Exception] {
      IcebergInterop.appendToIceberg(Seq(4L).toDF("id"), target,
        mergeSchema = true)
    }
    assert(e1.getMessage.contains("append schema mismatch"), e1.getMessage)
    // nested extras refuse with the primitive message
    val e2 = intercept[IllegalArgumentException] {
      IcebergInterop.appendToIceberg(
        Seq((4L, "d", 1L, Seq(1L))).toDF("id", "v", "n", "arr"), target,
        mergeSchema = true)
    }
    assert(e2.getMessage.contains("primitive"), e2.getMessage)
  }

  test("removeOrphanIcebergFiles: unreferenced + old only; metadata untouched") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("graft_iorph_"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val target = tmp("graft_iorph_ice_")
    IcebergInterop.exportSnapshot(t, target)
    IcebergInterop.appendToIceberg(Seq((3L, "c")).toDF("id", "v"), target)
    // plant two strays: one ancient (collectable), one fresh (kept)
    val dataDir = Paths.get(target, "data")
    assert(Files.isDirectory(dataDir))
    val oldStray = dataDir.resolve("stray-old.parquet")
    val newStray = dataDir.resolve("stray-new.parquet")
    Files.write(oldStray, Array[Byte](1, 2, 3))
    Files.write(newStray, Array[Byte](4, 5, 6))
    Files.setLastModifiedTime(oldStray,
      java.nio.file.attribute.FileTime.fromMillis(1000L))
    val before = IcebergInterop.readIceberg(spark, target)
      .as[(Long, String)].collect().toSet
    val deleted = IcebergInterop.removeOrphanIcebergFiles(spark, target)
    assert(deleted == 1L, s"deleted=$deleted")
    assert(!Files.exists(oldStray) && Files.exists(newStray))
    // every referenced file survived: reads are unchanged
    assert(IcebergInterop.readIceberg(spark, target)
      .as[(Long, String)].collect().toSet == before)
    assert(Files.exists(Paths.get(target, "metadata", "version-hint.text")))
    // dual-published roots refuse — the Delta side's files are invisible
    Files.createDirectories(Paths.get(target, "_delta_log"))
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.removeOrphanIcebergFiles(spark, target)
    }
    assert(e.getMessage.contains("dual-published"), e.getMessage)
  }
}
