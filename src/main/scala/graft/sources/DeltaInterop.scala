package graft.sources

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Interop with the Delta Lake table format, implemented against the
  * PUBLIC Delta transaction-log protocol (delta-io PROTOCOL.md: a
  * `_delta_log/` directory of JSON commit files, one action object per
  * line — `protocol`, `metaData`, `add`, `remove`). The reference
  * lakehouse keeps Delta tables next to Iceberg ones
  * (reference: docker/spark-notebook/03_delta_demo.ipynb), so a
  * migration path in BOTH directions keeps graft's private format from
  * locking data in:
  *
  *  - [[exportSnapshot]]: materialize a GraftTable's current snapshot
  *    as a brand-new Delta table any Delta reader (Spark+delta-core,
  *    Trino, DuckDB delta) can open.
  *  - [[readDelta]]: open an existing Delta table's current snapshot
  *    as a DataFrame without any delta dependency — JSON-log tables
  *    (no parquet checkpoint yet, i.e. < 10 commits by default or
  *    checkpointInterval unreached); partition columns are
  *    reconstructed from each add-action's `partitionValues`.
  *
  * Scale note: export is one distributed parquet write plus an
  * O(#files) driver-side log write; readDelta is an O(#commits ×
  * #files) driver-side log replay feeding a normal pruned parquet scan.
  * Neither moves data through the driver.
  */
object DeltaInterop {

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Export the CURRENT snapshot of `t` as a new Delta table at
    * `target` (any Hadoop-FS URI; must not already hold a Delta log).
    *
    * Identity-partitioned tables (`PARTITIONED BY (col)`) export as
    * identity-partitioned DELTA tables — hive `col=value` layout,
    * `partitionColumns` in metaData, per-file `partitionValues` — so a
    * Delta reader keeps partition pruning. Derived transform layouts
    * (`days(ts)` etc.) and rename chains are graft-internal: those
    * snapshots are rewritten as plain unpartitioned parquet (a Delta
    * client would need generated columns to express the transform;
    * [[mirrorToDelta]] documents the same boundary). Incremental
    * tracking of a LIVE table belongs to [[mirrorToDelta]] — export is
    * the one-shot migration path. Returns the number of data files
    * committed. */
  def exportSnapshot(t: GraftTable, target: String): Int = {
    val spark = t.spark
    val targetPath = new HPath(target)
    val fs = targetPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new HPath(targetPath, "_delta_log")
    require(!fs.exists(logDir), s"Delta table already exists at $target")
    val df = t.read()
    val schema = StructType(df.schema.map(_.copy(nullable = true)))
    val specs = t.partitionColumns
    val idCols: Seq[String] =
      if (specs.nonEmpty && specs.forall(!_.contains("("))) specs else Nil
    // per-file data-skipping stats ride along with the write tasks —
    // any Delta engine (and graft's own DML detection scans) can prune
    // by them
    val statsMap = DeltaStats.writeWithStats(df, targetPath.toString,
      idCols, StructType(schema.filterNot(f => idCols.contains(f.name))))
    def listRec(dir: HPath, rel: String): Seq[(String, Long)] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        val childRel = if (rel.isEmpty) name else s"$rel/$name"
        // skip metadata (_delta_log, _SUCCESS, .crc) but NOT hive
        // partition dirs — a partition COLUMN named '_year' is legal
        // and its 'col=value' dirs start with '_'
        if ((name.startsWith("_") || name.startsWith(".")) &&
            !name.contains("=")) Nil
        else if (st.isDirectory) listRec(st.getPath, childRel)
        else if (name.endsWith(".parquet")) Seq((childRel, st.getLen))
        else Nil
      }
    val files = listRec(targetPath, "").sortBy(_._1)
    val now = System.currentTimeMillis()
    val protocol = """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
    val pcJson = idCols.map(c => "\"" + jsonEscape(c) + "\"").mkString(",")
    val metaData =
      s"""{"metaData":{"id":"${java.util.UUID.randomUUID()}","format":{"provider":"parquet","options":{}},"schemaString":"${jsonEscape(schema.json)}","partitionColumns":[$pcJson],"configuration":{},"createdTime":$now}}"""
    val adds = files.map { case (rel, size) =>
      val pv = hivePartitionValues(rel, idCols)
      val pvJson = pv.map { case (k, vv) =>
        "\"" + jsonEscape(k) + "\":\"" + jsonEscape(vv) + "\""
      }.mkString(",")
      val sj = statsMap.get(rel)
        .map(s => s""","stats":"${jsonEscape(s)}"""").getOrElse("")
      s"""{"add":{"path":"${jsonEscape(encodePath(rel))}","partitionValues":{$pvJson},"size":$size,"modificationTime":$now,"dataChange":true$sj}}"""
    }
    fs.mkdirs(logDir)
    val out = fs.create(new HPath(logDir, f"${0}%020d.json"), false)
    try out.write((protocol +: metaData +: adds).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    files.size
  }

  /** CONVERT an existing plain-parquet directory (flat or
    * hive-partitioned) into a Delta table IN PLACE — the `CONVERT TO
    * DELTA` shape the reference stack uses for lakehouse onboarding:
    * no data moves; the existing files are registered by a freshly
    * written version-0 log. Partition columns and their types come
    * from Spark's partition discovery (values stay hive strings in the
    * log, typed through the schema on read — Delta's own convention
    * for converted tables). Refuses when a `_delta_log` already
    * exists. Returns the number of files registered. */
  def convertParquetToDelta(spark: SparkSession, path: String): Int = {
    val root = new HPath(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new HPath(root, "_delta_log")
    require(!fs.exists(logDir), s"Delta table already exists at $path")
    val df = spark.read.parquet(path)
    val schema = StructType(df.schema.map(_.copy(nullable = true)))
    def listRec(dir: HPath, rel: String): Seq[(String, Long)] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        val childRel = if (rel.isEmpty) name else s"$rel/$name"
        if ((name.startsWith("_") || name.startsWith(".")) &&
            !name.contains("=")) Nil
        else if (st.isDirectory) listRec(st.getPath, childRel)
        else if (name.endsWith(".parquet")) Seq((childRel, st.getLen))
        else Nil
      }
    val files = listRec(root, "").sortBy(_._1)
    require(files.nonEmpty, s"no parquet files to convert under $path")
    // partition columns = inferred columns absent from the files
    // themselves; Spark appends them in hive-layout order
    val dataCols = spark.read
      .parquet(new HPath(root, files.head._1).toString)
      .schema.fieldNames.toSet
    val partCols = schema.fieldNames.toSeq.filterNot(dataCols.contains)
    val now = System.currentTimeMillis()
    val protocol = """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
    val pcJson = partCols.map(c => "\"" + jsonEscape(c) + "\"").mkString(",")
    val metaData =
      s"""{"metaData":{"id":"${java.util.UUID.randomUUID()}","format":{"provider":"parquet","options":{}},"schemaString":"${jsonEscape(schema.json)}","partitionColumns":[$pcJson],"configuration":{},"createdTime":$now}}"""
    val statsMap = DeltaStats.footerStatsScan(spark,
      files.map { case (rel, _) => rel -> new HPath(root, rel) },
      StructType(schema.filterNot(f => partCols.contains(f.name))))
    val adds = files.map { case (rel, size) =>
      val pv = hivePartitionValues(rel, partCols)
      val pvJson = pv.map { case (k, vv) =>
        "\"" + jsonEscape(k) + "\":\"" + jsonEscape(vv) + "\""
      }.mkString(",")
      val sj = statsMap.get(rel)
        .map(s => s""","stats":"${jsonEscape(s)}"""").getOrElse("")
      s"""{"add":{"path":"${jsonEscape(encodePath(rel))}","partitionValues":{$pvJson},"size":$size,"modificationTime":$now,"dataChange":true$sj}}"""
    }
    val commitInfo =
      s"""{"commitInfo":{"timestamp":$now,"operation":"CONVERT","operationParameters":{"numFiles":${files.size}},"engineInfo":"graft-convert"}}"""
    fs.mkdirs(logDir)
    val out = fs.create(new HPath(logDir, f"${0}%020d.json"), false)
    try out.write((commitInfo +: protocol +: metaData +: adds)
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    files.size
  }

  /** ZERO-COPY dual-format publication of a file-based Iceberg table
    * as Delta — the reverse UniForm shape: write a `_delta_log` INSIDE
    * the Iceberg root whose version-0 commit lists the CURRENT
    * snapshot's live data files (sizes from the manifests, partition
    * values stringified from the identity partition metadata). No data
    * moves; the directory then reads as both formats.
    *
    * Refusals, all loud: live merge-on-read delete files (a Delta
    * reader would resurface struck rows — `compactIceberg` first),
    * renamed columns anywhere in the schema history or a
    * name-mapping/current-name mismatch (Delta resolves by NAME, so a
    * renamed file column would silently null-fill), manifests under a
    * non-default partition spec, identity partition values of types
    * whose canonical Delta string is ambiguous (timestamp/decimal/
    * binary), non-parquet files, an existing `_delta_log`. Returns the
    * Delta version (0). */
  def convertIcebergToDelta(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    val logDir = new HPath(root, "_delta_log")
    require(!fs.exists(logDir), s"Delta table already exists at $path")
    def refuseW(what: String): Nothing = throw new IllegalArgumentException(
      s"cannot publish a Delta log over the Iceberg table at $path: " +
        s"$what — convert it with a full client")
    val (ifs, md) = IcebergInterop.currentMetadata(spark, path)
    if (md.path("format-version").asInt(1) > 2)
      refuseW("the table is format version 3+")
    val schemaNode = IcebergInterop.currentSchemaNode(md, path)
    val schema = StructType(IcebergInterop
      .fromIcebergStruct(schemaNode, path).map(_.copy(nullable = true)))
    // rename histories: Delta readers resolve file columns by NAME, so
    // any field id that ever carried a different name would null-fill
    import scala.jdk.CollectionConverters._
    val currentNames: Map[Int, String] = schemaNode.get("fields").elements()
      .asScala.map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    if (md.has("schemas"))
      md.get("schemas").elements().asScala.foreach { s =>
        s.path("fields").elements().asScala.foreach { f =>
          val id = f.path("id").asInt(-1)
          val n = f.path("name").asText()
          if (currentNames.get(id).exists(_ != n))
            refuseW(s"field $id was renamed (${n} → ${currentNames(id)}) " +
              "— Delta resolves columns by name, so old files would " +
              "silently null-fill")
        }
      }
    md.path("properties").path("schema.name-mapping.default") match {
      case t if t.isTextual =>
        val om2 = new com.fasterxml.jackson.databind.ObjectMapper()
        om2.readTree(t.asText()).elements().asScala.foreach { e =>
          val id = e.path("field-id").asInt(-1)
          val names = e.path("names").elements().asScala
            .map(_.asText()).toSeq
          if (currentNames.get(id).exists(cn => !names.contains(cn)))
            refuseW(s"field $id's name mapping [${names.mkString(", ")}] " +
              s"does not cover its current name ${currentNames(id)} " +
              "(renamed) — old files would silently null-fill")
        }
      case _ => ()
    }
    val currentSnap = md.path("current-snapshot-id").asLong(-1L)
    require(currentSnap >= 0, s"nothing to convert at $path")
    val snapNode = md.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == currentSnap)
      .getOrElse(refuseW("the current snapshot is missing from the " +
        "snapshots array"))
    val defaultSpecId = md.path("default-spec-id").asInt(0)
    val specFields: Seq[com.fasterxml.jackson.databind.JsonNode] =
      md.path("partition-specs").elements().asScala.toSeq
        .find(_.path("spec-id").asInt(-1) == defaultSpecId)
        .map(_.path("fields").elements().asScala.toSeq)
        .getOrElse(Nil)
    // identity fields: (delta partition column, struct position, type)
    val idParts: Seq[(String, Int, DataType)] = specFields.zipWithIndex
      .collect { case (f, i) if f.path("transform").asText() == "identity" =>
        val srcId = f.path("source-id").asInt(-1)
        val n = currentNames.getOrElse(srcId, refuseW(
          s"identity partition source-id $srcId is not a top-level column"))
        (n, i, schema(n).dataType)
      }
    def pvString(dt: DataType, v: AnyRef): String =
      if (v == null) null
      else dt match {
        case org.apache.spark.sql.types.StringType => v.toString
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.BooleanType |
             org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType => v.toString
        case org.apache.spark.sql.types.DateType =>
          java.time.LocalDate.ofEpochDay(
            v.asInstanceOf[Number].longValue()).toString
        case other => refuseW("identity partition column of type " +
          s"${other.simpleString} has no unambiguous Delta string form")
      }
    val rootQ = fs.makeQualified(root).toString
    val adds = Seq.newBuilder[String]
    var nFiles = 0
    snapNode.path("manifest-list") match {
      case l if l.isTextual =>
        IcebergInterop.readAvro(IcebergInterop.readBytes(ifs,
          new HPath(l.asText()))).foreach { r =>
          val content = IcebergInterop.fieldOpt(r, "content")
            .map(IcebergInterop.longOf).getOrElse(0L)
          val mp = r.get("manifest_path").toString
          val specId = IcebergInterop.fieldOpt(r, "partition_spec_id")
            .map(IcebergInterop.longOf).getOrElse(0L).toInt
          val entries = IcebergInterop.readAvro(
            IcebergInterop.readBytes(ifs, new HPath(mp)))
            .filter(e => e.get("status").toString.toLong != 2L)
          if (content == 1L && entries.nonEmpty)
            refuseW("the current snapshot carries live merge-on-read " +
              "delete files — a Delta reader would resurface the struck " +
              "rows; run compactIceberg first")
          if (content == 0L && entries.nonEmpty && specId != defaultSpecId)
            refuseW(s"live manifests under evolved partition spec $specId " +
              "— a single Delta partitionColumns list cannot describe " +
              "both layouts")
          entries.foreach { e =>
            val df = e.get("data_file")
              .asInstanceOf[org.apache.avro.generic.GenericRecord]
            if (!df.get("file_format").toString.equalsIgnoreCase("parquet"))
              refuseW(s"has ${df.get("file_format")} data files")
            val fp = df.get("file_path").toString
            val fpQ = {
              val hp = new HPath(fp)
              hp.getFileSystem(conf).makeQualified(hp).toString
            }
            val rel = if (fpQ.startsWith(rootQ + "/"))
              fpQ.drop(rootQ.length + 1) else fpQ
            val size = df.get("file_size_in_bytes").toString.toLong
            val pvJson = idParts.map { case (n, i, dt) =>
              val raw = df.get("partition") match {
                case pr: org.apache.avro.generic.GenericRecord
                  if pr.getSchema.getFields.size() > i =>
                  pr.get(i) match {
                    case u: org.apache.avro.util.Utf8 => u.toString
                    case other => other.asInstanceOf[AnyRef]
                  }
                case _ => null
              }
              val sv = pvString(dt, raw)
              "\"" + jsonEscape(n) + "\":" +
                (if (sv == null) "null" else "\"" + jsonEscape(sv) + "\"")
            }.mkString(",")
            adds += s"""{"add":{"path":"${jsonEscape(encodePath(rel))}","partitionValues":{$pvJson},"size":$size,"modificationTime":${System.currentTimeMillis()},"dataChange":true}}"""
            nFiles += 1
          }
        }
      case _ => refuseW("the current snapshot names no manifest list")
    }
    require(nFiles > 0, s"nothing to convert at $path")
    val now = System.currentTimeMillis()
    val pcJson = idParts.map(p =>
      "\"" + jsonEscape(p._1) + "\"").mkString(",")
    val actions =
      Seq(s"""{"commitInfo":{"timestamp":$now,"operation":"CONVERT","operationParameters":{"numFiles":$nFiles},"engineInfo":"graft-convert"}}""",
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"${java.util.UUID.randomUUID()}","format":{"provider":"parquet","options":{}},"schemaString":"${jsonEscape(schema.json)}","partitionColumns":[$pcJson],"configuration":{},"createdTime":$now}}""") ++
        adds.result()
    fs.mkdirs(logDir)
    val out = fs.create(new HPath(logDir, f"${0}%020d.json"), false)
    try out.write(actions.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    0L
  }

  /** Percent-encode a relative path for a Delta add/remove action
    * (PROTOCOL.md requires percent-encoded relative URIs). Hive-escaped
    * directory names contain literal '%' on disk — encoding them keeps
    * a decoding reader (ours or a real Delta client) byte-exact. */
  private def encodePath(p: String): String = {
    val sb = new StringBuilder
    p.getBytes(StandardCharsets.UTF_8).foreach { b =>
      val c = (b & 0xff).toChar
      if (c.isLetterOrDigit && b >= 0) sb.append(c)
      else if ("/-._~=:@".indexOf(c) >= 0) sb.append(c)
      else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  private def unescapeHive(s: String): String = HivePath.unescape(s)

  /** Identity partition values parsed from a file's hive `col=value`
    * path segments — the ONE definition the export, mirror-commit and
    * checkpoint writers share (a divergent copy would make
    * checkpoint-based reads disagree with JSON replay). Null keys
    * (__HIVE_DEFAULT_PARTITION__) stay absent, matching Delta's
    * absent-key-is-null convention. */
  private def hivePartitionValues(p: String,
      identityCols: Seq[String]): Seq[(String, String)] =
    p.split('/').toSeq.filter(_.contains("="))
      .map { seg =>
        val k = seg.takeWhile(_ != '=')
        k -> unescapeHive(seg.drop(k.length + 1))
      }
      .filter { case (k, _) => identityCols.contains(k) }
      .filterNot(_._2 == "__HIVE_DEFAULT_PARTITION__")

  /** Zero-copy Delta mirror — publish a live GraftTable AS a Delta
    * table (the UniForm-style dual-format idea): maintain a
    * `_delta_log/` inside the table root whose commits reference the
    * graft data files IN PLACE, one Delta commit per graft commit.
    * After a sync, `t.root` opens in any Delta client (and in
    * [[readDelta]]) with the same content as `t.read()` — no data is
    * copied, ever.
    *
    *  - Appends/overwrites/deletes/merges/compactions map to Delta
    *    add/remove actions from the commit's directory diff; a
    *    `commitInfo` action carries the graft action name.
    *  - Identity-partitioned tables (hive `col=value` layout, column
    *    dropped from the files) become identity-partitioned Delta
    *    tables: `partitionColumns` + per-file `partitionValues` parsed
    *    from the directory segments. Derived transform layouts
    *    (`__p_*=...`) are layout-only and mirror as unpartitioned.
    *  - Schema changes emit a new `metaData` action; column RENAMES
    *    refuse loudly (physical parquet names diverge — Delta needs
    *    column mapping for that, which readers here can't assume).
    *  - Directories vacuumed before their history was mirrored yield
    *    empty intermediate versions (final state stays exact; Delta
    *    time travel into pre-vacuum versions shows them as empty, the
    *    same information loss vacuum already caused).
    *
    * Idempotent and incremental: each call mirrors only graft commits
    * newer than the last mirrored Delta version. Returns the number of
    * Delta commits written. Scale: O(#new-commits × #files) driver-side
    * metadata; no data movement. Every `checkpointInterval`-th version
    * additionally lands a v1 parquet CHECKPOINT + `_last_checkpoint`,
    * so foreign Delta readers of a long-lived mirror replay one
    * checkpoint plus a short JSON tail instead of the whole log — and
    * may clean up pre-checkpoint JSON commits per Delta's log
    * retention without breaking current-state reads. A checkpoint is
    * skipped (never partial) when a historical version's files were
    * already vacuumed from disk. */
  def mirrorToDelta(t: GraftTable, checkpointInterval: Int = 10): Int = {
    val root = new HPath(t.root)
    val conf = t.spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val io = new TableIO(t.root, conf)
    val logDir = new HPath(root, "_delta_log")
    val latest = t.latestVersion()
    require(latest >= 0, s"empty graft table at ${t.root}")
    val mirrored: Int =
      if (!fs.exists(logDir)) -1
      else fs.listStatus(logDir).toSeq.map(_.getPath.getName)
        .filter(_.matches("\\d{20}\\.json"))
        .map(_.dropRight(5).toInt).maxOption.getOrElse(-1)
    if (mirrored >= latest) return 0
    fs.mkdirs(logDir)

    // Replay our own mirror log: which relative files belong to each
    // live top-level directory (a dir being REMOVED now may already be
    // vacuum-deleted from disk, so its file list must come from the
    // log, not a listing), and the last mirrored schema.
    val activeByDir = scala.collection.mutable.Map[String, List[String]]()
    var prevSchema: String = null
    var prevPartCols: Seq[String] = null
    // resume bootstrap: start the replay from the newest COMPLETE
    // checkpoint ≤ mirrored when one exists — O(checkpoint + tail)
    // instead of O(#commits), and the mirror survives pre-checkpoint
    // JSON cleanup per Delta's log retention (the checkpoint holds
    // exactly the state the replay reconstructs: active adds + schema)
    val cpsOnDisk = completedCheckpoints(fs, logDir)
    val bootCp: Int = cpsOnDisk.keySet.filter(_ <= mirrored)
      .maxOption.map(_.toInt).getOrElse(-1)
    if (bootCp >= 0) {
      val cp = t.spark.read.parquet(
        cpsOnDisk(bootCp.toLong).map(_.toString): _*)
      val fields = cp.schema.fieldNames.toSet
      if (fields.contains("metaData"))
        cp.where(col("metaData.schemaString").isNotNull)
          .select(col("metaData.schemaString"),
            col("metaData.partitionColumns")).collect()
          .foreach { r =>
            prevSchema = r.getString(0)
            prevPartCols = if (r.isNullAt(1)) Nil else r.getSeq[String](1)
          }
      if (fields.contains("add"))
        cp.where(col("add.path").isNotNull).select(col("add.path"))
          .collect().foreach { r =>
            val p = decodePath(r.getString(0))
            val top = p.takeWhile(_ != '/')
            activeByDir(top) = p :: activeByDir.getOrElse(top, Nil)
          }
    }
    ((bootCp + 1) to mirrored).foreach { v =>
      val text =
        try readString(fs, new HPath(logDir, f"$v%020d.json"))
        catch {
          case _: java.io.FileNotFoundException =>
            throw new IllegalStateException(
              s"mirror log at ${t.root} is missing commit $v — JSON " +
                "commits after the newest checkpoint were cleaned up; " +
                "the mirror cannot reconstruct its state to resume " +
                "(foreign READERS are unaffected: they replay the " +
                "checkpoint)")
        }
      text.split('\n').foreach { line =>
        SchemaStr.findFirstMatchIn(line).foreach { m =>
          prevSchema = unq(m.group(1))
          // metaData lines also carry the layout — recover it so a
          // resumed mirror detects (and only then re-emits) changes
          prevPartCols = PartCols.findFirstMatchIn(line).map(_.group(1))
            .map(s => if (s.trim.isEmpty) Nil
              else s.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\"")))
            .getOrElse(Nil)
        }
        AddPath.findFirstMatchIn(line).foreach { m =>
          val p = decodePath(unq(m.group(1)))
          val top = p.takeWhile(_ != '/')
          activeByDir(top) = p :: activeByDir.getOrElse(top, Nil)
        }
        RemovePath.findFirstMatchIn(line).foreach { m =>
          val p = decodePath(unq(m.group(1)))
          val top = p.takeWhile(_ != '/')
          activeByDir.get(top).foreach { files =>
            val rest = files.filterNot(_ == p)
            if (rest.isEmpty) activeByDir.remove(top) else activeByDir(top) = rest
          }
        }
      }
    }

    def listParquetRec(dir: HPath, rel: String): Seq[(String, Long, Long)] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        // skip metadata (_SUCCESS, .crc, stats) but NOT partition dirs —
        // derived transform segments (__p_days_ts=...) start with '_'
        if ((name.startsWith("_") || name.startsWith(".")) && !name.contains("=")) Nil
        else if (st.isDirectory) listParquetRec(st.getPath, s"$rel/$name")
        else if (name.endsWith(".parquet"))
          Seq((s"$rel/$name", st.getLen, st.getModificationTime))
        else Nil
      }

    var written = 0
    val latestLive = t.commitAt(latest).liveDirs.toSet
    var prevCommit: Option[GraftTable.Commit] =
      if (mirrored >= 0) Some(t.commitAt(mirrored)) else None
    ((mirrored + 1) to latest).foreach { v =>
      val c = t.commitAt(v)
      if (c.renames.nonEmpty)
        throw new IllegalArgumentException(
          s"cannot mirror ${t.root} to Delta: commit $v renames columns " +
            s"(${c.renames.map { case (o, n) => s"$o->$n" }.mkString(", ")}) — " +
            "physical parquet names diverge from the schema; Delta needs " +
            "column mapping for renames")
      val identityCols = c.partitionBy.filterNot(_.contains("("))
      val prev = prevCommit.map(_.liveDirs).getOrElse(Nil)
      prevCommit = Some(c)
      val added = c.liveDirs.filterNot(prev.toSet)
      val removed = prev.filterNot(c.liveDirs.toSet)
      val actions = Seq.newBuilder[String]
      actions += s"""{"commitInfo":{"timestamp":${c.timestampMs},"operation":"${jsonEscape(c.action)}","operationParameters":{},"engineInfo":"graft-mirror"}}"""
      if (v == 0)
        actions += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
      if (c.schemaJson != prevSchema || identityCols != prevPartCols) {
        val pcJson = identityCols.map(pc => "\"" + jsonEscape(pc) + "\"").mkString(",")
        actions +=
          s"""{"metaData":{"id":"${java.util.UUID.randomUUID()}","format":{"provider":"parquet","options":{}},"schemaString":"${jsonEscape(c.schemaJson)}","partitionColumns":[$pcJson],"configuration":{},"createdTime":${c.timestampMs}}}"""
        prevSchema = c.schemaJson
        prevPartCols = identityCols
      }
      removed.foreach { d =>
        activeByDir.remove(d).toSeq.flatten.foreach { p =>
          actions += s"""{"remove":{"path":"${jsonEscape(encodePath(p))}","deletionTimestamp":${c.timestampMs},"dataChange":true}}"""
        }
      }
      added.foreach { d =>
        val dirPath = new HPath(root, d)
        if (!fs.exists(dirPath)) {
          // vacuumed before it was mirrored — legal only if some later
          // commit removes it again (it must not be live at `latest`)
          require(!latestLive.contains(d),
            s"live data directory $d of ${t.root} is missing on disk")
        } else {
          val files = listParquetRec(dirPath, d)
          activeByDir(d) = files.map(_._1).toList
          files.foreach { case (p, size, modTime) =>
            // identity values only; `__p_*` transform segments are
            // layout-only and stay out of partitionValues
            val pv = hivePartitionValues(p, identityCols)
            val pvJson = pv.map { case (k, vv) =>
              "\"" + jsonEscape(k) + "\":\"" + jsonEscape(vv) + "\""
            }.mkString(",")
            actions += s"""{"add":{"path":"${jsonEscape(encodePath(p))}","partitionValues":{$pvJson},"size":$size,"modificationTime":$modTime,"dataChange":true}}"""
          }
        }
      }
      // atomic exclusive put (same primitive as the graft commit log):
      // readers never see partials, and a concurrent mirror losing the
      // race treats the peer's commit as done — both derive identical
      // content from the same commit log and immutable directories
      try {
        io.writeExclusive(new HPath(logDir, f"$v%020d.json"),
          actions.result().mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        written += 1
        if (checkpointInterval > 0 && v > 0 && v % checkpointInterval == 0)
          writeCheckpoint(t, root, fs, logDir, v, c, activeByDir, prevSchema,
            identityCols)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => // peer mirrored v
      }
    }
    written
  }

  /** Land the v1 classic parquet checkpoint for mirror version `v`:
    * one row per action (protocol, metaData, one add per active file
    * with its partitionValues/size/modificationTime), written as a
    * single parquet part and published with `_last_checkpoint`. Sizes
    * come from a stat of each active file — O(state) driver metadata
    * every Nth commit, the price Delta itself pays for checkpoints.
    * If any active file is missing on disk (a HISTORICAL version whose
    * directory was vacuumed before mirroring), the checkpoint is
    * skipped whole — a partial base state would silently drop files. */
  private def writeCheckpoint(t: GraftTable, root: HPath,
      fs: org.apache.hadoop.fs.FileSystem, logDir: HPath, v: Int,
      c: GraftTable.Commit,
      activeByDir: scala.collection.mutable.Map[String, List[String]],
      schemaJsonStr: String, identityCols: Seq[String]): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = t.spark
    val files = activeByDir.values.flatten.toSeq.sorted
    val stats: Seq[(String, Long, Long)] =
      try files.map { p =>
        val st = fs.getFileStatus(new HPath(root, p))
        (p, st.getLen, st.getModificationTime)
      } catch {
        case _: java.io.FileNotFoundException => return // vacuumed history
      }
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType)))
    val metaType = StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))
    val protoType = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType)))
    val cpSchema = StructType(Seq(
      StructField("protocol", protoType), StructField("metaData", metaType),
      StructField("add", addType)))
    def pvOf(p: String): Map[String, String] =
      hivePartitionValues(p, identityCols).toMap
    val rows = new java.util.ArrayList[Row]()
    rows.add(Row(Row(1, 2), null, null))
    rows.add(Row(null, Row(java.util.UUID.randomUUID().toString,
      Row("parquet", Map.empty[String, String]), schemaJsonStr,
      identityCols, Map.empty[String, String], c.timestampMs), null))
    stats.foreach { case (p, size, mod) =>
      rows.add(Row(null, null, Row(encodePath(p), pvOf(p), size, mod, true)))
    }
    publishCheckpointParts(spark, fs, logDir, v, rows, cpSchema)
  }

  /** Publish checkpoint rows as classic single-/multi-part parquet +
    * `_last_checkpoint` — MULTI-PART when the action count exceeds the
    * per-part threshold (PROTOCOL.md naming v.checkpoint.i.n.parquet,
    * 1-based, with the `parts` field in _last_checkpoint — the reader
    * side validates part completeness against it): a checkpoint of a
    * very large table otherwise produces one giant parquet.
    * `_last_checkpoint` goes temp + delete + rename, never
    * truncate-in-place: a reader between a truncate and the rewrite
    * would see an empty/partial file (the reader's listing fallback
    * survives that, but the publish should not depend on it) — same
    * publish sequence as the Iceberg version hint. */
  private def publishCheckpointParts(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, logDir: HPath, v: Long,
      rows: java.util.List[org.apache.spark.sql.Row],
      cpSchema: StructType): Unit = {
    val partSize = spark.conf.getOption("spark.graft.delta.checkpointPartSize")
      .map(_.toInt).getOrElse(1000000)
    require(partSize > 0, "spark.graft.delta.checkpointPartSize must be positive")
    val nParts = math.max(1, (rows.size() + partSize - 1) / partSize)
    def publishPart(slice: java.util.List[org.apache.spark.sql.Row],
        target: HPath): Unit = {
      val tmp = new HPath(logDir, s".cp-$v-${java.util.UUID.randomUUID()}")
      spark.createDataFrame(slice, cpSchema).repartition(1)
        .write.parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(p => p.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no checkpoint part under $tmp"))
      if (!fs.rename(part, target) && !fs.exists(target))
        throw new java.io.IOException(s"could not publish checkpoint $target")
      fs.delete(tmp, true)
    }
    if (nParts == 1)
      publishPart(rows, new HPath(logDir, f"$v%020d.checkpoint.parquet"))
    else (0 until nParts).foreach { i =>
      publishPart(
        new java.util.ArrayList(rows.subList(i * partSize,
          math.min((i + 1) * partSize, rows.size()))),
        new HPath(logDir,
          f"$v%020d.checkpoint.${i + 1}%010d.$nParts%010d.parquet"))
    }
    val lcPath = new HPath(logDir, "_last_checkpoint")
    val tmpLc = new HPath(logDir, s"._last_checkpoint-${java.util.UUID.randomUUID()}.tmp")
    val partsField = if (nParts > 1) s""","parts":$nParts""" else ""
    val lastCp = fs.create(tmpLc, false)
    try lastCp.write(
      ("{\"version\":" + v + ",\"size\":" + rows.size() + partsField + "}")
        .getBytes(StandardCharsets.UTF_8))
    finally lastCp.close()
    fs.delete(lcPath, false)
    if (!fs.rename(tmpLc, lcPath)) fs.delete(tmpLc, false)
  }

  private val SinglePartCp = "(\\d{20})\\.checkpoint\\.parquet".r
  private val MultiPartCp =
    "(\\d{20})\\.checkpoint\\.(\\d{10})\\.(\\d{10})\\.parquet".r
  // v2 UUID-named checkpoints: the single non-dot token distinguishes
  // them from multi-part names; any one such file is complete
  private val V2NamedCp = "(\\d{20})\\.checkpoint\\.([^.]+)\\.parquet".r

  /** COMPLETE checkpoints on disk, version → part files: the classic
    * single-part file, multi-part sets only when every declared part
    * is present (a partial set must never serve as a base state), and
    * v2 UUID-named checkpoints (complete by construction). */
  private def completedCheckpoints(fs: org.apache.hadoop.fs.FileSystem,
      logDir: HPath): Map[Long, Seq[HPath]] = {
    val names = fs.listStatus(logDir).toSeq.map(_.getPath)
    val singles = names.flatMap { p =>
      p.getName match {
        case SinglePartCp(v) => Some(v.toLong -> Seq(p))
        case _ => None
      }
    }
    val v2s = names.flatMap { p =>
      p.getName match {
        case MultiPartCp(_, _, _) => None
        case V2NamedCp(v, _) => Some(v.toLong -> Seq(p))
        case _ => None
      }
    }
    val multis = names.flatMap { p =>
      p.getName match {
        case MultiPartCp(v, _, n) => Some(((v.toLong, n.toInt), p))
        case _ => None
      }
    }.groupBy(_._1).collect {
      case ((v, n), parts) if parts.size == n =>
        v -> parts.map(_._2).sortBy(_.getName)
    }
    (v2s ++ singles ++ multis).toMap
  }

  /** Delta log-retention analog for mirrors: delete JSON commits (and
    * superseded checkpoints) already covered by the newest checkpoint,
    * keeping at least the last `keepVersions` commits' JSON — the
    * `delta.logRetentionDuration` cleanup shape, version-counted
    * because mirror cadence is commit-driven. Readers of the current
    * state replay the checkpoint + the retained tail (spec'd in r8);
    * `versionAsOf` into the cleaned prefix refuses loudly via
    * readDelta's existing compacted-history check, and mirror RESUME
    * bootstraps from the checkpoint. A mirror with no checkpoint yet
    * cleans nothing — the JSON log is the only state. Returns the
    * number of files deleted. */
  def cleanupMirrorLog(t: GraftTable, keepVersions: Int = 30): Int = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val root = new HPath(t.root)
    val fs = root.getFileSystem(t.spark.sparkContext.hadoopConfiguration)
    val logDir = new HPath(root, "_delta_log")
    if (!fs.exists(logDir)) return 0
    val jsons = fs.listStatus(logDir).toSeq.map(_.getPath.getName)
      .filter(_.matches("\\d{20}\\.json"))
      .map(_.dropRight(5).toLong)
    val cpFiles = completedCheckpoints(fs, logDir)
    val cp = cpFiles.keySet.maxOption.getOrElse(return 0)
    val top = jsons.maxOption.getOrElse(return 0)
    // deletable: covered by the newest checkpoint AND outside the
    // retained tail (the tail after the checkpoint must stay for
    // readers; never touch it)
    val threshold = top - keepVersions
    var deleted = 0
    jsons.filter(v => v <= cp && v <= threshold).foreach { v =>
      if (fs.delete(new HPath(logDir, f"$v%020d.json"), false)) deleted += 1
    }
    cpFiles.filter { case (v, _) => v < cp && v <= threshold }
      .foreach { case (_, parts) =>
        parts.foreach(p => if (fs.delete(p, false)) deleted += 1)
      }
    deleted
  }

  // one JSON action object per line; these pull the fields readDelta
  // needs (the unrolled string pattern survives multi-KB values)
  private val Str = "([^\"\\\\]*(?:\\\\.[^\"\\\\]*)*)"
  private val AddPath = ("\"add\"\\s*:\\s*\\{.*?\"path\":\"" + Str + "\"").r
  private val RemovePath = ("\"remove\"\\s*:\\s*\\{.*?\"path\":\"" + Str + "\"").r
  // the body may contain '}' INSIDE quoted values — consume quoted
  // strings wholesale instead of stopping at the first brace
  private val PartVals =
    ("\"partitionValues\":\\{((?:[^{}\"]|\"" + Str + "\")*)\\}").r
  private val PartEntry = ("\"" + Str + "\":\"" + Str + "\"").r
  private val SchemaStr = ("\"schemaString\":\"" + Str + "\"").r
  private val PartCols = "\"partitionColumns\":\\[([^\\]]*)\\]".r
  private val MinReader = "\"minReaderVersion\"\\s*:\\s*(\\d+)".r
  private val ReaderFeats = "\"readerFeatures\"\\s*:\\s*\\[([^\\]]*)\\]".r
  private val MinWriter = "\"minWriterVersion\"\\s*:\\s*(\\d+)".r
  private val WriterFeats = "\"writerFeatures\"\\s*:\\s*\\[([^\\]]*)\\]".r
  private val ConfigObj =
    ("\"configuration\":\\{((?:[^{}\"]|\"" + Str + "\")*)\\}").r
  private val ColMapMode =
    ("\"delta\\.columnMapping\\.mode\"\\s*:\\s*\"" + Str + "\"").r
  private val CpVersion = "\"version\"\\s*:\\s*(\\d+)".r
  // the deletionVector struct of an add action; fields pulled from the
  // captured body individually (foreign writers order keys freely)
  private val CdcPath = ("\"cdc\"\\s*:\\s*\\{.*?\"path\":\"" + Str + "\"").r
  private val DataChangeRe = "\"dataChange\"\\s*:\\s*(true|false)".r
  private val StatsRe = ("\"stats\"\\s*:\\s*\"" + Str + "\"").r
  private val BaseRowIdRe = "\"baseRowId\"\\s*:\\s*(\\d+)".r
  private val DefaultRcvRe =
    "\"defaultRowCommitVersion\"\\s*:\\s*(\\d+)".r
  private val DvObj =
    ("\"deletionVector\"\\s*:\\s*\\{((?:[^{}\"]|\"" + Str + "\")*)\\}").r
  private val DvStorage = ("\"storageType\"\\s*:\\s*\"" + Str + "\"").r
  private val DvPathOrInline = ("\"pathOrInlineDv\"\\s*:\\s*\"" + Str + "\"").r
  private val DvOffset = "\"offset\"\\s*:\\s*(\\d+)".r
  private val DvSize = "\"sizeInBytes\"\\s*:\\s*(\\d+)".r
  private val DvCard = "\"cardinality\"\\s*:\\s*(\\d+)".r

  private def parseDvDescriptor(line: String): Option[DeletionVectors.Descriptor] =
    DvObj.findFirstMatchIn(line).map(_.group(1)).map { body =>
      def str(re: scala.util.matching.Regex, what: String): String =
        re.findFirstMatchIn(body).map(m => unq(m.group(1)))
          .getOrElse(throw new IllegalArgumentException(
            s"deletionVector descriptor lacks $what: $body"))
      def num(re: scala.util.matching.Regex): Option[Long] =
        re.findFirstMatchIn(body).map(_.group(1).toLong)
      DeletionVectors.Descriptor(
        str(DvStorage, "storageType"), str(DvPathOrInline, "pathOrInlineDv"),
        num(DvOffset),
        num(DvSize).getOrElse(throw new IllegalArgumentException(
          s"deletionVector descriptor lacks sizeInBytes: $body")),
        num(DvCard).getOrElse(throw new IllegalArgumentException(
          s"deletionVector descriptor lacks cardinality: $body")))
    }

  private def unq(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  private def readString(fs: org.apache.hadoop.fs.FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Reader features this replay actually implements. Deletion vectors
    * (reader version 3), column mapping in BOTH name and id mode
    * (reader version 2, or 3 with the feature), and v2 checkpoints
    * (UUID-named top-level checkpoint + `_sidecars/` parquet) are
    * supported — most post-2023 Delta writers enable one or more, so
    * refusing would lock out real-world tables. Everything else
    * (timestampNtz-with-feature-flag, unknown modes, …) still refuses:
    * a silent misread would resurface DV-deleted rows or null-fill
    * mapped columns. */
  private val SupportedReaderFeatures =
    Set("deletionVectors", "columnMapping", "v2Checkpoint")

  /** Reader-protocol gate: version 1 (plain add/remove over parquet),
    * version 2 (column mapping, name- and id-mode), and version 3 with
    * only supported readerFeatures pass; anything else refuses loudly
    * rather than misread. */
  private def checkProtocol(path: String, minReader: Int,
      readerFeatures: Seq[String]): Unit = {
    val ok =
      (minReader <= 2 && readerFeatures.isEmpty) ||
        (minReader == 3 && readerFeatures.nonEmpty &&
          readerFeatures.forall(SupportedReaderFeatures.contains))
    if (!ok)
      throw new IllegalArgumentException(
        s"Delta table at $path requires reader protocol $minReader" +
          (if (readerFeatures.nonEmpty)
            s" with features [${readerFeatures.mkString(", ")}]" else "") +
          " — this dependency-free replay supports reader versions 1-2 plus " +
          s"[${SupportedReaderFeatures.mkString(", ")}] only; read it with " +
          "a full Delta client")
  }

  /** Column-mapping-mode gate: 'name' mode reads by physical parquet
    * names, 'id' mode by parquet FIELD IDS (the files' column names
    * are arbitrary there) — both renamed back to the declared schema
    * at scan time. Anything else refuses rather than null-fill.
    * Returns the normalized mode. */
  private def checkColumnMapping(path: String, mode: String): String =
    mode match {
      case "" | "none" => "none"
      case "name" => "name"
      case "id" => "id"
      case other => throw new IllegalArgumentException(
        s"Delta table at $path uses column mapping mode '$other' — only " +
          "'name' and 'id' modes are supported by this dependency-free " +
          "replay; read it with a full Delta client")
    }

  /** Physical (parquet) schema of a logical Delta schema under column
    * mapping: every field at every nesting level is renamed to its
    * `delta.columnMapping.physicalName`; under id mode each field also
    * carries `parquet.field.id` (= `delta.columnMapping.id`) so
    * Spark's parquet readers match columns by FIELD ID — id-mode files
    * may name their columns arbitrarily. */
  private val PhysNameKey = "delta.columnMapping.physicalName"
  private val ColMapIdKey = "delta.columnMapping.id"
  private val ParquetIdKey = "parquet.field.id"
  private def physicalField(f: StructField, withIds: Boolean): StructField = {
    val name =
      if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey)
      else f.name
    val meta =
      if (withIds && f.metadata.contains(ColMapIdKey))
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong(ParquetIdKey, f.metadata.getLong(ColMapIdKey)).build()
      else org.apache.spark.sql.types.Metadata.empty
    StructField(name, physicalType(f.dataType, withIds), f.nullable, meta)
  }
  private def physicalType(dt: DataType, withIds: Boolean): DataType = dt match {
    case s: StructType => StructType(s.fields.map(physicalField(_, withIds)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = physicalType(a.elementType, withIds))
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = physicalType(m.keyType, withIds),
        valueType = physicalType(m.valueType, withIds))
    case other => other
  }

  /** Top-level logical→physical column names of a Delta schema JSON —
    * identity for fields carrying no mapping metadata (mode `none`,
    * or upgraded columns whose physical name IS the logical name).
    * Physical names are immutable once assigned (PROTOCOL.md), which
    * is what lets the streaming source pin one physical scan schema
    * per run. */
  private[graft] def physicalNamesOf(schemaJson: String): Map[String, String] =
    DataType.fromJson(schemaJson).asInstanceOf[StructType].fields.map { f =>
      f.name -> (if (f.metadata.contains(PhysNameKey))
        f.metadata.getString(PhysNameKey) else f.name)
    }.toMap

  /** The PHYSICAL scan twin of a planned logical schema: each planned
    * field renamed (at every nesting level) to its physical name per
    * the snapshot's schema JSON, id mode attaching `parquet.field.id`.
    * Field ORDER follows the planned schema — a scan under this schema
    * yields rows positionally identical to the logical plan, so the
    * streaming engine can consume them against the declared schema
    * without a rename projection. */
  private[graft] def physicalScanSchema(schemaJson: String, mode: String,
      planned: StructType): StructType = {
    val byName = DataType.fromJson(schemaJson).asInstanceOf[StructType]
      .fields.map(f => f.name -> f).toMap
    StructType(planned.fields.map { f =>
      byName.get(f.name)
        .map(sf => physicalField(sf, mode == "id").copy(nullable = f.nullable))
        .getOrElse(f)
    })
  }

  /** Delta add/remove paths are percent-encoded RELATIVE URIs resolved
    * against the table root — or ABSOLUTE URIs for external files
    * (shallow clones etc., PROTOCOL.md), which must be used as-is, not
    * re-rooted. Returns a decoded canonical string; [[resolveFile]]
    * makes it concrete. Falls back to the raw string for writers that
    * didn't encode. */
  private def decodePath(p: String): String =
    try {
      val u = new java.net.URI(p)
      if (u.getScheme == null) u.getPath
      else if (u.getAuthority != null)
        s"${u.getScheme}://${u.getAuthority}${u.getPath}"
      else s"${u.getScheme}:${u.getPath}"
    } catch { case _: java.net.URISyntaxException => p }

  private val SchemePrefix = "^[A-Za-z][A-Za-z0-9+.-]*:".r

  private[sources] def resolveFile(root: HPath, p: String): String =
    if (p.startsWith("/") || SchemePrefix.findFirstIn(p).isDefined) p
    else new HPath(root, p).toString

  /** See [[FileMeta.path]]: the `_metadata.file_path` rendering used
    * for every per-file lookup keyed against a scan. */
  private def fileMetaPath(p: String,
      conf: org.apache.hadoop.conf.Configuration): String =
    FileMeta.path(p, conf)

  /** Open a Delta table's current snapshot as a DataFrame by replaying
    * its log: the latest parquet CHECKPOINT (classic single- or
    * multi-part v1, or a UUID-named v2 checkpoint with its sidecars)
    * as the base state, then the JSON commit tail on top. Reader
    * protocols 1-3 are supported: DV'd files scan with their deleted
    * row indexes filtered out (see [[DeletionVectors]]), and
    * column-mapped tables (name AND id mode) scan by physical parquet
    * names/field ids renamed back to the declared schema; unknown
    * modes and features refuse loudly rather than misread. Identity-partitioned tables come back with their
    * partition columns rebuilt from `partitionValues` and cast to the
    * declared schema types; absolute-URI add paths (external files,
    * shallow clones) are read in place. `versionAsOf` time-travels to
    * an earlier version — through retained JSON commits when the
    * checkpoint has compacted past it, refusing only when that history
    * is truly gone. `partitionWhere = Some(col -> value)` prunes to
    * one partition by METADATA only — see [[readDeltaWhere]]. */
  def readDelta(spark: SparkSession, path: String,
      versionAsOf: Option[Long] = None,
      partitionWhere: Option[(String, String)] = None): DataFrame =
    assembleSnapshot(spark, path, replaySnapshot(spark, path, versionAsOf),
      partitionWhere)

  /** A replayed Delta snapshot: the driver-side metadata state the
    * scan assembly (and the streaming source's initial batch) builds
    * from — declared schema JSON, partition columns, column-mapping
    * mode, the active (path → partitionValues, deletionVector) file
    * map in commit order, and the snapshot version. */
  private[sources] final case class DeltaSnapshot(
      schemaJson: String, partCols: Seq[String], colMapMode: String,
      active: Seq[(String, (Map[String, String],
        Option[DeletionVectors.Descriptor]))],
      version: Long,
      configuration: Map[String, String] = Map.empty,
      minWriter: Int = 1, writerFeatures: Seq[String] = Nil,
      /** path → data-skipping `stats` JSON, for active files that
        * carry one (foreign writers and every graft write path) */
      stats: Map[String, String] = Map.empty,
      /** path → (baseRowId, defaultRowCommitVersion) for active files
        * that carry row-tracking fields */
      rowIds: Map[String, (Option[Long], Option[Long])] = Map.empty,
      /** the row-tracking domainMetadata high watermark, when present */
      rowIdHighWaterMark: Option[Long] = None)

  /** Replay a Delta log to its snapshot state at `versionAsOf` (or the
    * latest version): parquet checkpoint base + JSON tail, protocol /
    * column-mapping gates applied. Pure driver-side metadata — the
    * only distributed work is the checkpoint parquet scan. */
  /** Mutable side-collector [[checkpointDelta]] hands to
    * [[replaySnapshot]]: gathers the checkpoint-only state the normal
    * snapshot replay discards — the protocol's reader half, the full
    * metaData identity, remove tombstones, setTransaction watermarks,
    * and flags for state a classic checkpoint could not carry
    * faithfully (v2-checkpoint base, domainMetadata). */
  private[sources] final class CheckpointCollector {
    private val om = new com.fasterxml.jackson.databind.ObjectMapper()
    var minReader: Int = 1
    var readerFeatures: Seq[String] = Nil
    var metaId: Option[String] = None
    var metaName: Option[String] = None
    var metaDescription: Option[String] = None
    var createdTime: Option[Long] = None
    var baseWasV2: Boolean = false
    /** domain → (configuration JSON text, removed): the LATEST
      * domainMetadata action per domain (checkpoint base, then commits
      * in order) — what a checkpoint written here must carry so
      * clustering/row-tracking state survives log cleanup. */
    val domains =
      scala.collection.mutable.LinkedHashMap[String, (String, Boolean)]()
    def sawDomainMetadata: Boolean = domains.nonEmpty
    /** removed path → deletionTimestamp; re-adds clear the tombstone */
    val tombstones = scala.collection.mutable.LinkedHashMap[String, Long]()
    /** appId → (version, lastUpdated) */
    val txns =
      scala.collection.mutable.LinkedHashMap[String, (Long, Option[Long])]()

    def ingestBase(cp: DataFrame): Unit = {
      val fields = cp.schema.fieldNames.toSet
      if (fields.contains("protocol")) {
        val pf = cp.schema("protocol").dataType
          .asInstanceOf[StructType].fieldNames.toSet
        val rf =
          if (pf.contains("readerFeatures")) col("protocol.readerFeatures")
          else lit(null).cast("array<string>")
        cp.where(col("protocol.minReaderVersion").isNotNull)
          .select(col("protocol.minReaderVersion"), rf)
          .collect().foreach { r =>
            minReader = r.getInt(0)
            readerFeatures = if (r.isNullAt(1)) Nil else r.getSeq[String](1)
          }
      }
      if (fields.contains("metaData")) {
        val mf = cp.schema("metaData").dataType
          .asInstanceOf[StructType].fieldNames.toSet
        def strOr(name: String) =
          if (mf.contains(name)) col(s"metaData.$name")
          else lit(null).cast("string")
        val ct =
          if (mf.contains("createdTime")) col("metaData.createdTime")
          else lit(null).cast("bigint")
        cp.where(col("metaData.schemaString").isNotNull)
          .select(strOr("id"), strOr("name"), strOr("description"), ct)
          .collect().foreach { r =>
            metaId = Option(r.getString(0))
            metaName = Option(r.getString(1))
            metaDescription = Option(r.getString(2))
            createdTime = if (r.isNullAt(3)) None else Some(r.getLong(3))
          }
      }
      if (fields.contains("remove"))
        cp.where(col("remove.path").isNotNull)
          .select(col("remove.path"), col("remove.deletionTimestamp"))
          .collect().foreach { r =>
            tombstones(decodePath(r.getString(0))) =
              if (r.isNullAt(1)) 0L else r.getLong(1)
          }
      if (fields.contains("txn"))
        cp.where(col("txn.appId").isNotNull)
          .select(col("txn.appId"), col("txn.version"),
            col("txn.lastUpdated"))
          .collect().foreach { r =>
            txns(r.getString(0)) = (r.getLong(1),
              if (r.isNullAt(2)) None else Some(r.getLong(2)))
          }
      if (fields.contains("domainMetadata"))
        cp.where(col("domainMetadata.domain").isNotNull)
          .select(col("domainMetadata.domain"),
            col("domainMetadata.configuration"),
            col("domainMetadata.removed"))
          .collect().foreach { r =>
            domains(r.getString(0)) = (
              Option(r.getString(1)).getOrElse(""),
              !r.isNullAt(2) && r.getBoolean(2))
          }
    }

    def ingestCommit(text: String): Unit =
      text.split('\n').foreach { line =>
        def node(root: String) = Option(om.readTree(line).get(root))
        if (line.contains("\"protocol\"")) node("protocol").foreach { p =>
          if (p.has("minReaderVersion")) {
            minReader = p.get("minReaderVersion").asInt(1)
            readerFeatures =
              if (p.has("readerFeatures")) {
                val it = p.get("readerFeatures").elements()
                val b = Seq.newBuilder[String]
                while (it.hasNext) b += it.next().asText()
                b.result()
              } else Nil
          }
        }
        if (line.contains("\"metaData\"")) node("metaData").foreach { m =>
          metaId = Option(m.get("id")).map(_.asText())
          metaName = Option(m.get("name")).filterNot(_.isNull)
            .map(_.asText())
          metaDescription = Option(m.get("description"))
            .filterNot(_.isNull).map(_.asText())
          createdTime = Option(m.get("createdTime")).filterNot(_.isNull)
            .map(_.asLong())
        }
        if (line.contains("\"remove\"")) node("remove").foreach { rm =>
          Option(rm.get("path")).foreach { p =>
            tombstones(decodePath(p.asText())) =
              Option(rm.get("deletionTimestamp")).map(_.asLong())
                .getOrElse(0L)
          }
        }
        if (line.contains("\"add\"") && !line.contains("\"cdc\""))
          node("add").foreach(a => Option(a.get("path")).foreach(p =>
            tombstones.remove(decodePath(p.asText()))))
        if (line.contains("\"txn\"")) node("txn").foreach { t =>
          Option(t.get("appId")).foreach { app =>
            txns(app.asText()) = (
              Option(t.get("version")).map(_.asLong()).getOrElse(0L),
              Option(t.get("lastUpdated")).filterNot(_.isNull)
                .map(_.asLong()))
          }
        }
        if (line.contains("\"domainMetadata\""))
          node("domainMetadata").foreach { dm =>
            Option(dm.get("domain")).foreach { d =>
              domains(d.asText()) = (
                Option(dm.get("configuration")).filterNot(_.isNull)
                  .map(_.asText()).getOrElse(""),
                Option(dm.get("removed")).exists(_.asBoolean(false)))
            }
          }
      }
  }

  private[sources] def replaySnapshot(spark: SparkSession, path: String,
      versionAsOf: Option[Long],
      collector: Option[CheckpointCollector] = None): DeltaSnapshot = {
    val root = new HPath(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new HPath(root, "_delta_log")
    require(fs.exists(logDir), s"no Delta log at $path")
    val capVersion = versionAsOf.getOrElse(Long.MaxValue)
    var schemaJson: Option[String] = None
    var partCols: Seq[String] = Nil
    var colMapMode: String = "none"
    var configuration: Map[String, String] = Map.empty
    var minWriter: Int = 1
    var writerFeatures: Seq[String] = Nil
    // last add per path wins (a row-level DELETE re-adds the same path
    // with a fresh deletion vector); removes tombstone
    val active = scala.collection.mutable.LinkedHashMap[
      String, (Map[String, String], Option[DeletionVectors.Descriptor])]()
    // path → stats JSON; follows `active` (a re-add without stats
    // clears the stale entry)
    val statsMap = scala.collection.mutable.LinkedHashMap[String, String]()
    // path → row-tracking fields; follows `active` the same way
    val rowIdMap = scala.collection.mutable
      .LinkedHashMap[String, (Option[Long], Option[Long])]()
    var rowIdWm: Option[Long] = None

    // ---- checkpoint base state (O(#files) metadata through one scan) ----
    val lastCp = new HPath(logDir, "_last_checkpoint")
    val lastCpText: Option[String] =
      if (fs.exists(lastCp)) Some(readString(fs, lastCp)) else None
    // a torn/partial _last_checkpoint (non-atomic overwrite is the
    // protocol reality) must NOT fail the read: per the Delta spec,
    // readers fall back to discovering checkpoints from the log listing
    val namedCpVersion: Long = lastCpText.flatMap(txt =>
      CpVersion.findFirstMatchIn(txt).map(_.group(1).toLong)).getOrElse(-1L)
    // complete checkpoints on disk — classic single-part files plus
    // v2 UUID-named ones (any single UUID-named file is a complete
    // checkpoint by construction); both usable without the `parts`
    // validation that multi-part v1 checkpoints need from
    // _last_checkpoint. Serves time travel PAST the newest checkpoint
    // (an older on-disk checkpoint + retained JSON tail still fully
    // determines the requested version) and malformed-_last_checkpoint
    // recovery. V2 names are `v.checkpoint.<uniqueStr>.{parquet,json}`
    // — the single non-dot token distinguishes them from multi-part
    // `v.checkpoint.iiiiiiiiii.nnnnnnnnnn.parquet` names.
    val V2Cp = "(\\d{20})\\.checkpoint\\.([^.]+)\\.(parquet|json)".r
    lazy val diskCps: Seq[Long] = fs.listStatus(logDir).toSeq
      .map(_.getPath.getName)
      .flatMap {
        case n if n.matches("\\d{20}\\.checkpoint\\.parquet") =>
          Some(n.take(20).toLong)
        case V2Cp(vv, _, _) => Some(vv.toLong)
        case _ => None
      }.distinct
    val usableNamed = namedCpVersion >= 0 && namedCpVersion <= capVersion
    val cpVersion: Long =
      if (usableNamed) namedCpVersion
      else diskCps.filter(_ <= capVersion).maxOption.getOrElse {
        val someCpCompacted = namedCpVersion >= 0 || diskCps.nonEmpty
        if (someCpCompacted && !fs.exists(new HPath(logDir, f"${0L}%020d.json")))
          throw new IllegalArgumentException(
            s"cannot time-travel to version $capVersion at $path: the " +
              s"checkpoint at $namedCpVersion compacted earlier history and " +
              "commit 0 is no longer retained; read it with a full Delta client")
        // no checkpoint exists anywhere: full JSON replay — a gapped
        // log is diagnosed precisely by the contiguity check below
        -1L
      }
    if (cpVersion >= 0) {
      val v = cpVersion
      // ingest one base-state slice — the v1 checkpoint parquet (all
      // parts), a v2 top-level checkpoint, or a v2 sidecar file:
      // protocol/column-mapping gates, latest metaData, active adds.
      def ingest(cp: DataFrame): Unit = {
      val fields = cp.schema.fieldNames.toSet
      if (fields.contains("protocol")) {
        val protoFields =
          cp.schema("protocol").dataType.asInstanceOf[StructType].fieldNames.toSet
        val rf =
          if (protoFields.contains("readerFeatures")) col("protocol.readerFeatures")
          else lit(null).cast("array<string>")
        val wf =
          if (protoFields.contains("writerFeatures")) col("protocol.writerFeatures")
          else lit(null).cast("array<string>")
        val mw =
          if (protoFields.contains("minWriterVersion"))
            col("protocol.minWriterVersion")
          else lit(null).cast("int")
        cp.where(col("protocol.minReaderVersion").isNotNull)
          .select(col("protocol.minReaderVersion"), rf.as("rf"),
            mw.as("mw"), wf.as("wf"))
          .collect().foreach { r =>
            checkProtocol(path, r.getInt(0),
              if (r.isNullAt(1)) Nil else r.getSeq[String](1))
            if (!r.isNullAt(2)) minWriter = r.getInt(2)
            if (!r.isNullAt(3)) writerFeatures = r.getSeq[String](3)
          }
      }
      if (fields.contains("metaData"))
        cp.where(col("metaData.schemaString").isNotNull)
          .select(col("metaData.schemaString"), col("metaData.partitionColumns"),
            col("metaData.configuration"))
          .collect().foreach { r =>
            schemaJson = Some(r.getString(0))
            partCols = if (r.isNullAt(1)) Nil else r.getSeq[String](1)
            val conf = if (r.isNullAt(2)) Map.empty[String, String]
              else r.getMap[String, String](2).filter(_._2 != null).toMap
            configuration = conf
            colMapMode = checkColumnMapping(path,
              conf.getOrElse("delta.columnMapping.mode", ""))
          }
      // checkpoint `remove` actions are vacuum tombstones of files
      // already gone from the snapshot — active state is the adds alone
      if (fields.contains("add")) {
        val addFields = cp.schema("add").dataType
          .asInstanceOf[StructType].fieldNames.toSet
        val dvCol =
          if (addFields.contains("deletionVector")) col("add.deletionVector")
          else lit(null).cast(
            "struct<storageType:string,pathOrInlineDv:string,offset:bigint," +
              "sizeInBytes:bigint,cardinality:bigint>")
        val statsCol =
          if (addFields.contains("stats")) col("add.stats")
          else lit(null).cast("string")
        val bridCol =
          if (addFields.contains("baseRowId")) col("add.baseRowId")
          else lit(null).cast("bigint")
        val rcvCol =
          if (addFields.contains("defaultRowCommitVersion"))
            col("add.defaultRowCommitVersion")
          else lit(null).cast("bigint")
        cp.where(col("add.path").isNotNull)
          .select(col("add.path"), col("add.partitionValues"), dvCol.as("dv"),
            statsCol.as("stats"), bridCol.as("brid"), rcvCol.as("rcv"))
          .collect().foreach { r =>
            val pv = if (r.isNullAt(1)) Map.empty[String, String]
              else r.getMap[String, String](1).filter(_._2 != null).toMap
            val dv =
              if (r.isNullAt(2)) None
              else {
                val s = r.getStruct(2)
                Some(DeletionVectors.Descriptor(
                  s.getAs[String]("storageType"), s.getAs[String]("pathOrInlineDv"),
                  Option(s.getAs[Any]("offset")).map(_.toString.toLong),
                  s.getAs[Number]("sizeInBytes").longValue(),
                  s.getAs[Number]("cardinality").longValue()))
              }
            val p = decodePath(r.getString(0))
            active(p) = (pv, dv)
            if (!r.isNullAt(3) && r.getString(3).nonEmpty)
              statsMap(p) = r.getString(3)
            else statsMap.remove(p)
            val brid = if (r.isNullAt(4)) None else Some(r.getLong(4))
            val rcv = if (r.isNullAt(5)) None else Some(r.getLong(5))
            if (brid.isDefined || rcv.isDefined) rowIdMap(p) = (brid, rcv)
            else rowIdMap.remove(p)
          }
      }
      if (fields.contains("domainMetadata")) {
        cp.where(col("domainMetadata.domain") === "delta.rowTracking")
          .select(col("domainMetadata.configuration"))
          .collect().foreach { r =>
            try {
              val om2 = new com.fasterxml.jackson.databind.ObjectMapper()
              val cfg = om2.readTree(r.getString(0))
              if (cfg.has("rowIdHighWaterMark"))
                rowIdWm = Some(cfg.get("rowIdHighWaterMark").asLong())
            } catch { case _: Exception => () }
          }
      }
      collector.foreach(_.ingestBase(cp))
      }

      val v2Files = fs.listStatus(logDir).toSeq.map(_.getPath)
        .filter(p => p.getName match {
          case V2Cp(vv, _, _) => vv.toLong == v
          case _ => false
        })
      if (v2Files.nonEmpty) {
        // ---- v2 checkpoint (PROTOCOL.md "V2 Checkpoint Table
        // Feature"): a UUID-named top-level file carrying
        // checkpointMetadata + protocol + metaData, with file actions
        // either inline or in `_delta_log/_sidecars/` parquet named by
        // `sidecar` actions. Any single UUID-named file is complete —
        // multiple coexisting ones are equivalent; pick one
        // deterministically.
        val parquetV2 = v2Files.filter(_.getName.endsWith(".parquet"))
        if (parquetV2.isEmpty)
          throw new IllegalArgumentException(
            s"Delta table at $path has only JSON-format v2 checkpoints at " +
              s"version $v — this dependency-free replay reads parquet " +
              "checkpoints only; read it with a full Delta client")
        val topPath = parquetV2.maxBy(_.getName)
        collector.foreach(_.baseWasV2 = true)
        val top = spark.read.parquet(topPath.toString)
        val topFields = top.schema.fieldNames.toSet
        if (topFields.contains("checkpointMetadata"))
          top.where(col("checkpointMetadata.version").isNotNull)
            .select(col("checkpointMetadata.version"))
            .collect().foreach { r =>
              require(r.getLong(0) == v,
                s"v2 checkpoint ${topPath.getName} at $path declares version " +
                  s"${r.getLong(0)} in checkpointMetadata — corrupt checkpoint")
            }
        ingest(top)
        if (topFields.contains("sidecar")) {
          // sidecar paths are file names relative to _delta_log/_sidecars/
          // or absolute URIs; each sidecar parquet carries file actions
          // only (add/remove) — remove tombstones are skipped by ingest
          val sidecarDir = new HPath(logDir, "_sidecars")
          val scPaths = top.where(col("sidecar.path").isNotNull)
            .select(col("sidecar.path")).collect().map(_.getString(0)).toSeq
            .map { p =>
              val dp = decodePath(p)
              if (dp.startsWith("/") || SchemePrefix.findFirstIn(dp).isDefined) dp
              else new HPath(sidecarDir, dp).toString
            }
          scPaths.foreach(p => require(
            fs.exists(new HPath(p)),
            s"v2 checkpoint at $path names sidecar $p which does not exist — " +
              "refusing a partial base state"))
          if (scPaths.nonEmpty) ingest(spark.read.parquet(scPaths: _*))
        }
      } else {
        // ---- classic v1 checkpoint (single- or multi-part) ----
        val cpFiles = fs.listStatus(logDir).toSeq.map(_.getPath)
          .filter { p =>
            if (usableNamed)
              p.getName.startsWith(f"$v%020d.checkpoint") &&
                p.getName.endsWith(".parquet")
            else p.getName == f"$v%020d.checkpoint.parquet"
          }
        require(cpFiles.nonEmpty,
          s"_last_checkpoint at $path names version $v but no checkpoint parquet exists")
        // a multi-part checkpoint missing a part would silently drop the
        // files listed only there — the `parts` field exists to catch that
        // the `parts` count in _last_checkpoint describes the NAMED
        // version only — a disk-discovered fallback checkpoint is always
        // the exact single-part file
        val declaredParts = (if (usableNamed) lastCpText else None).flatMap(t =>
          "\"parts\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(t).map(_.group(1).toInt))
        declaredParts.foreach(parts => require(cpFiles.size == parts,
          s"checkpoint at $path version $v declares $parts parts but " +
            s"${cpFiles.size} are present — refusing a partial base state"))
        val cp = spark.read.parquet(cpFiles.map(_.toString): _*)
        // a CLASSIC-named checkpoint carrying v2 actions is malformed
        // (v2 checkpoints must use UUID naming) — a v1 read of it could
        // silently drop files listed only in sidecars
        val f2 = cp.schema.fieldNames.toSet
        require(!f2.contains("checkpointMetadata") && !f2.contains("sidecar"),
          s"checkpoint at $path version $v is classic-named but carries v2 " +
            "checkpoint actions — malformed log")
        ingest(cp)
      }
    }

    // ---- JSON tail on top of the checkpoint ----
    val commits = fs.listStatus(logDir).toSeq.map(_.getPath)
      .filter(_.getName.matches("\\d{20}\\.json"))
      .filter { p =>
        val v = p.getName.dropRight(5).toLong
        v > cpVersion && v <= capVersion
      }
      .sortBy(_.getName)
    require(cpVersion >= 0 || commits.nonEmpty, s"empty Delta log at $path")
    // The tail must be CONTIGUOUS from the base state: a log whose early
    // commits were cleaned up without a readable checkpoint (deleted or
    // corrupt _last_checkpoint) would otherwise replay only the tail and
    // return a silently partial snapshot.
    locally {
      val versions = commits.map(_.getName.dropRight(5).toLong)
      val expected = (cpVersion + 1) until (cpVersion + 1 + versions.size)
      require(versions == expected.toSeq,
        s"Delta log at $path is not contiguous after version $cpVersion " +
          s"(found commits ${versions.mkString(", ")}) — earlier commits were " +
          "cleaned up and no usable checkpoint covers them; read it with a " +
          "full Delta client")
    }
    // the requested version must actually be reachable
    versionAsOf.foreach { v =>
      val top = (cpVersion +: commits.map(_.getName.dropRight(5).toLong)).max
      require(top == v,
        s"version $v not found at $path (history reaches $top)")
    }
    commits.foreach { c =>
      val text = readString(fs, c)
      collector.foreach(_.ingestCommit(text))
      val a = parseCommitText(path, text)
      a.meta.foreach { case (sj, pc, mode) =>
        schemaJson = Some(sj); partCols = pc; colMapMode = mode
      }
      a.config.foreach(configuration = _)
      a.writerProto.foreach { case (w, wf) =>
        minWriter = w; writerFeatures = wf
      }
      // actions within one commit are UNORDERED per the protocol; a
      // commit carrying both remove and add of a path means "replace"
      // — removes apply first so the re-add survives
      a.removes.foreach { p =>
        active.remove(p); statsMap.remove(p); rowIdMap.remove(p)
      }
      a.addActions.foreach { ad =>
        active(ad.path) = (ad.pv, ad.dv)
        ad.stats match {
          case Some(s) => statsMap(ad.path) = s
          case None => statsMap.remove(ad.path)
        }
        if (ad.baseRowId.isDefined || ad.defaultRowCommitVersion.isDefined)
          rowIdMap(ad.path) = (ad.baseRowId, ad.defaultRowCommitVersion)
        else rowIdMap.remove(ad.path)
      }
      a.rowIdHighWaterMark.foreach(w => rowIdWm = Some(w))
    }
    DeltaSnapshot(
      schemaJson.getOrElse(throw new IllegalStateException(
        s"no metaData action in Delta log at $path")),
      partCols, colMapMode, active.toSeq,
      (cpVersion +: commits.map(_.getName.dropRight(5).toLong)).max,
      configuration, minWriter, writerFeatures, statsMap.toMap,
      rowIdMap.toMap, rowIdWm)
  }

  /** One parsed JSON commit: the latest metaData (schema JSON,
    * partition columns, validated column-mapping mode) if present, the
    * added files with their partitionValues + deletionVector, and the
    * removed paths. Protocol gates fire during the parse. Shared by
    * the snapshot replay and the streaming source's incremental
    * batches. */
  /** One parsed add action: path, partitionValues, deletionVector,
    * the action's dataChange flag (absent = true — the conservative
    * reading), and the data-skipping `stats` JSON when carried. */
  private[sources] final case class DeltaAdd(path: String,
      pv: Map[String, String], dv: Option[DeletionVectors.Descriptor],
      dataChange: Boolean, stats: Option[String] = None,
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)

  private[sources] final case class DeltaActions(
      meta: Option[(String, Seq[String], String)],
      addActions: Seq[DeltaAdd],
      removeActions: Seq[(String, Boolean)],
      config: Option[Map[String, String]] = None,
      writerProto: Option[(Int, Seq[String])] = None,
      /** row-tracking domainMetadata: the commit's rowIdHighWaterMark */
      rowIdHighWaterMark: Option[Long] = None) {
    def adds: Seq[(String, Map[String, String],
      Option[DeletionVectors.Descriptor])] =
      addActions.map(a => (a.path, a.pv, a.dv))
    def removes: Seq[String] = removeActions.map(_._1)
  }

  private[sources] def parseCommitText(path: String, text: String): DeltaActions = {
    var meta: Option[(String, Seq[String], String)] = None
    var config: Option[Map[String, String]] = None
    var writerProto: Option[(Int, Seq[String])] = None
    var rowIdWm: Option[Long] = None
    val adds = Seq.newBuilder[DeltaAdd]
    val removes = Seq.newBuilder[(String, Boolean)]
    def strList(body: Option[String]): Seq[String] =
      body.filter(_.trim.nonEmpty)
        .map(_.split(",").toSeq
          .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty))
        .getOrElse(Nil)
    text.split('\n').foreach { line =>
      if (line.contains("\"protocol\"")) {
        MinReader.findFirstMatchIn(line).foreach { m =>
          val rf = strList(ReaderFeats.findFirstMatchIn(line).map(_.group(1)))
          checkProtocol(path, m.group(1).toInt, rf)
        }
        MinWriter.findFirstMatchIn(line).foreach { m =>
          writerProto = Some((m.group(1).toInt,
            strList(WriterFeats.findFirstMatchIn(line).map(_.group(1)))))
        }
      }
      SchemaStr.findFirstMatchIn(line).foreach { m =>
        val pc = strList(PartCols.findFirstMatchIn(line).map(_.group(1)))
        val mode = checkColumnMapping(path,
          ColMapMode.findFirstMatchIn(line).map(mm => unq(mm.group(1)))
            .getOrElse(""))
        meta = Some((unq(m.group(1)), pc, mode))
        config = Some(ConfigObj.findFirstMatchIn(line).map(_.group(1)) match {
          case Some(body) if body.trim.nonEmpty =>
            PartEntry.findAllMatchIn(body)
              .map(mm => unq(mm.group(1)) -> unq(mm.group(2))).toMap
          case _ => Map.empty[String, String]
        })
      }
      AddPath.findFirstMatchIn(line).foreach { m =>
        val p = decodePath(unq(m.group(1)))
        val pv = PartVals.findFirstMatchIn(line).map(_.group(1)) match {
          case Some(body) if body.trim.nonEmpty =>
            PartEntry.findAllMatchIn(body)
              .map(mm => unq(mm.group(1)) -> unq(mm.group(2))).toMap
          case _ => Map.empty[String, String]
        }
        adds += DeltaAdd(p, pv, parseDvDescriptor(line),
          DataChangeRe.findFirstMatchIn(line).forall(_.group(1) == "true"),
          StatsRe.findFirstMatchIn(line).map(m => unq(m.group(1)))
            .filter(_.nonEmpty),
          BaseRowIdRe.findFirstMatchIn(line).map(_.group(1).toLong),
          DefaultRcvRe.findFirstMatchIn(line).map(_.group(1).toLong))
      }
      RemovePath.findFirstMatchIn(line).foreach(m =>
        removes += ((decodePath(unq(m.group(1))),
          DataChangeRe.findFirstMatchIn(line).forall(_.group(1) == "true"))))
      // row-tracking high watermark rides a domainMetadata action whose
      // configuration is a JSON-escaped string — jackson-parse the rare
      // matching lines rather than regex-chasing escaped quotes
      if (line.contains("\"domainMetadata\"") &&
          line.contains("delta.rowTracking")) {
        try {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val dm = om.readTree(line).path("domainMetadata")
          if (dm.path("domain").asText() == "delta.rowTracking" &&
              !dm.path("removed").asBoolean(false)) {
            val cfg = om.readTree(dm.path("configuration").asText())
            if (cfg.has("rowIdHighWaterMark"))
              rowIdWm = Some(cfg.get("rowIdHighWaterMark").asLong())
          }
        } catch { case _: Exception => () }
      }
    }
    DeltaActions(meta, adds.result(), removes.result(), config, writerProto,
      rowIdWm)
  }

  /** Assemble the snapshot's DataFrame from replayed state: grouped
    * pruned scans + partition literals + DV filters + column-mapping
    * rename. */
  private def assembleSnapshot(spark: SparkSession, path: String,
      st: DeltaSnapshot,
      partitionWhere: Option[(String, String)],
      pruneWhere: Option[Column] = None): DataFrame = {
    val root = new HPath(path)
    val partCols = st.partCols
    val colMapMode = st.colMapMode
    val active = scala.collection.mutable.LinkedHashMap[
      String, (Map[String, String], Option[DeletionVectors.Descriptor])](
      st.active: _*)
    val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
    // optional conservative stats pruning (the filtered-read path):
    // AND-conjuncts of `pruneWhere` against each file's stats JSON +
    // partition values — a dropped file provably holds no matching
    // row. Column-mapped tables skip pruning (stats keys are physical
    // names); skipping less is always sound.
    pruneWhere.filter(_ => colMapMode == "none").foreach { c =>
      val conjs = DeltaStats.conjuncts(spark, schema, c)
      if (conjs.nonEmpty) {
        val keep = active.filter { case (p, (pv, _)) =>
          DeltaStats.mayMatch(conjs, schema, partCols, pv, st.stats.get(p))
        }
        active.clear()
        keep.foreach { case (k, v) => active(k) = v }
      }
    }
    // column mapping: parquet files (and partitionValues keys, per the
    // protocol's writer requirements) carry PHYSICAL names — scan with
    // the physical schema, then one select renames every level back to
    // the declared schema (nested renames via a positional struct
    // cast). Under ID mode the physical schema also carries
    // parquet.field.id metadata and the scan matches columns by FIELD
    // ID — that needs the session flag below; files without ids then
    // fail loudly (ignoreMissing stays false), never null-fill.
    val mapped = colMapMode != "none"
    if (colMapMode == "id")
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val physSchema =
      if (mapped)
        StructType(schema.fields.map(physicalField(_, colMapMode == "id")))
      else schema
    val physName: Map[String, String] = schema.fields.zip(physSchema.fields)
      .map { case (lf, pf) => lf.name -> pf.name }.toMap
    val dataPairs = schema.fields.zip(physSchema.fields)
      .filterNot { case (lf, _) => partCols.contains(lf.name) }
    val dataSchema = StructType(dataPairs.map(_._2))
    def toLogical(df: DataFrame): DataFrame =
      if (!mapped) df
      else df.select(dataPairs.map { case (lf, pf) =>
        col(pf.name).cast(lf.dataType).as(lf.name) }: _*)
    // optional metadata-only partition pruning: Delta partition values
    // live ONLY in the log (canonical string form, absent key = null),
    // so one partition's read is a driver-side filter over the active
    // file map plus a scan of only the matching files
    partitionWhere.foreach { case (c, want) =>
      require(partCols.contains(c),
        s"'$c' is not a partition column of the Delta table at $path " +
          s"(partition columns: ${partCols.mkString(", ")})")
      val keep = active.filter { case (_, (pv, _)) =>
        pv.get(physName(c)) match {
          case Some(v) => v == want
          case None => want == null
        }
      }
      active.clear()
      keep.foreach { case (k, v) => active(k) = v }
    }
    if (active.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // ONE scan of every live file — the old assembly (one scan per
    // partition-value group, chained through unionByName) re-analyzed
    // the accumulated plan on every union, so driver-side analysis
    // cost grew quadratically with the partition-group count (measured:
    // the dominant per-phase cost of the sf0.1 Delta lifecycle gates,
    // 25 groups each). Files carrying a deletion vector are filtered by
    // the codegen'd `_metadata.row_index` membership predicate riding
    // the scan (driver decodes each compact bitmap once; no join, no
    // shuffle; unknown files are never deleted). Partition values —
    // which live only in the log, never in the data files — re-attach
    // per-file via [[FilePartValue]] keyed on `_metadata.file_path`,
    // cast to the declared types (the same cast the per-group literal
    // path applied; Delta renders a null partition value as an absent
    // key, which the lookup yields as null). recursiveFileLookup
    // disables hive-path partition inference: the explicit file list
    // spans partition directories, and the values must come from the
    // log, not the paths.
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(p: String): String = fileMetaPath(p, conf)
    val bridge = org.apache.spark.sql.graftbridge.ColumnBridge
    val entries = active.toSeq
    val dvMap = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, DeletionVectors.Roaring64]()
    entries.foreach { case (p, (_, dv)) =>
      dv.foreach(d => dvMap.put(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          qualified(resolveFile(root, p))),
        DeletionVectors.load(conf, root, d)))
    }
    val base = spark.read.schema(dataSchema)
      .option("recursiveFileLookup", "true")
      .parquet(entries.map(e => resolveFile(root, e._1)): _*)
    val live =
      if (dvMap.isEmpty) base
      else base.where(!bridge.column(DvDeleted(
        bridge.expression(col("_metadata.file_path")),
        bridge.expression(col("_metadata.row_index")),
        new DvLookup(dvMap))))
    val pvLookup: FileValueLookup =
      if (partCols.isEmpty) null
      else {
        val m = new java.util.HashMap[
          org.apache.spark.unsafe.types.UTF8String,
          Array[org.apache.spark.unsafe.types.UTF8String]]()
        entries.foreach { case (p, (pv, _)) =>
          m.put(org.apache.spark.unsafe.types.UTF8String.fromString(
            qualified(resolveFile(root, p))),
            partCols.map(pc => pv.get(physName(pc))
              .map(org.apache.spark.unsafe.types.UTF8String.fromString)
              .orNull).toArray)
        }
        new FileValueLookup(m)
      }
    live.select(schema.map { f =>
      if (partCols.contains(f.name))
        bridge.column(FilePartValue(
          bridge.expression(col("_metadata.file_path")),
          partCols.indexOf(f.name), pvLookup))
          .cast(f.dataType).as(f.name)
      else if (mapped) col(physName(f.name)).cast(f.dataType).as(f.name)
      else col(f.name)
    }.toSeq: _*)
  }

  /** Open ONE partition of a Delta table: `column` is an identity
    * partition column, `value` its canonical log string form (null
    * selects the null partition). Pruning is METADATA-ONLY — the
    * active file map is filtered on the driver and only matching data
    * files reach the scan, the same time-sliced read path
    * [[IcebergInterop.readIcebergWhere]] gives mirrored tables. */
  def readDeltaWhere(spark: SparkSession, path: String, column: String,
      value: String, versionAsOf: Option[Long] = None): DataFrame =
    readDelta(spark, path, versionAsOf, Some(column -> value))

  /** FILTERED read with PER-FILE stats skipping: `condition` applies
    * as a normal filter AND its AND-conjuncts prune the planned file
    * list by each add action's `stats` min/max/nullCount (plus literal
    * partition values) before any file opens — on a stats-carrying
    * 100 TB table a keyed or time-ranged read plans O(candidate
    * files), not O(table), on top of parquet's own row-group skipping.
    * Conservative: files without stats always scan; column-mapped
    * tables skip pruning entirely. */
  def readDeltaFiltered(spark: SparkSession, path: String,
      condition: Column): DataFrame =
    assembleSnapshot(spark, path, replaySnapshot(spark, path, None),
      None, Some(condition)).where(condition)

  /** APPEND `df` to an existing Delta table (foreign or mirrored) by
    * committing a dataChange add to its `_delta_log` through the same
    * optimistic conditional-put protocol graft's own commits use:
    * write the parquet files (honoring the table's identity partition
    * layout), then claim the next version slot; a lost race
    * re-validates against the peer's commit and retries the next slot
    * — blind appends never conflict semantically, so the retry only
    * re-checks schema/protocol gates.
    *
    * COLUMN-MAPPED tables (name and id mode) append correctly: the
    * files are written with the physical names at every nesting level
    * (nested renames via a positional struct cast), id mode stamps
    * `parquet.field.id` from `delta.columnMapping.id`, and
    * partitionValues keys / hive dirs use the physical partition
    * names, per the protocol's writer requirements.
    *
    * Writer obligations: CHECK constraints and column invariants are
    * ENFORCED — one aggregate pass over the input evaluates every
    * declared predicate (SQL CHECK semantics, NULL passes) and a
    * violation fails the append before any file lands; generated
    * columns (`delta.generationExpression`) are COMPUTED when the
    * input omits them and check-on-write enforced (value must equal
    * the expression) when the input supplies them, matching a full
    * Delta client; identity columns (`delta.identity.*`) are ASSIGNED
    * when omitted (monotone-beyond-watermark values, the
    * highWaterMark advanced in the same commit) and accepted when
    * supplied only under allowExplicit; unknown writer features
    * refuse. Features that
    * impose no obligation on a plain append (appendOnly,
    * deletionVectors, changeDataFeed — blind-append inserts derive
    * from the add actions per PROTOCOL.md, v2Checkpoint — appends
    * write no checkpoints, domainMetadata, timestampNtz) pass.
    *
    * The input schema must match the table's top-level columns and
    * types exactly (cast beforehand) — unless `mergeSchema=true`,
    * Delta's own mergeSchema option: the input's EXTRA columns widen
    * the table as nullable fields in the SAME commit (fresh mapping
    * ids + physical names on column-mapped tables, identity
    * preserved); the input must still cover every existing column, and
    * a peer changing the schema mid-race refuses. Returns the
    * committed version.
    *
    * Scale shape: one distributed parquet write + O(#new files)
    * driver-side metadata; the commit payload never carries data. */
  /** Writer features every graft mutation verb can honor on a
    * protocol-v7 table — one shared allowlist so a new feature cannot
    * be accepted by six verbs and silently refused by the seventh.
    * Semantics per verb live where they are implemented: appends
    * COMPUTE generated columns, ASSIGN identity values (advancing the
    * watermark), and assign rowTracking baseRowIds; row-level
    * mutations VERIFY generated-column consistency and refuse
    * identity-touching writes; constraints/invariants are enforced on
    * every write path; the rest impose no obligation on the verb that
    * names this set. */
  private val HarmlessWriterFeatures = Set("appendOnly", "invariants",
    "checkConstraints", "generatedColumns", "identityColumns",
    "changeDataFeed", "deletionVectors", "timestampNtz", "v2Checkpoint",
    "domainMetadata", "clusteredTable", "columnMapping", "rowTracking")

  /** The table's declared row obligations as (description, SQL
    * predicate) pairs: `delta.constraints.*` CHECK constraints plus
    * column invariants (an unparseable invariant refuses loudly). */
  private def tableChecks(st: DeltaSnapshot, schema: StructType,
      refuse: String => Nothing): Seq[(String, String)] =
    st.configuration.toSeq.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        (s"CHECK constraint ${k.stripPrefix("delta.constraints.")}", v)
    } ++ schema.fields.toSeq.flatMap { f =>
      if (!f.metadata.contains("delta.invariants")) None
      else {
        val expr = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(f.metadata.getString("delta.invariants"))
          .path("expression").path("expression").asText("")
        if (expr.isEmpty) refuse(s"column '${f.name}' declares an " +
          "invariant this writer cannot parse")
        Some((s"invariant on column '${f.name}'", expr))
      }
    }

  /** Generated-column consistency predicates for row-level mutations:
    * `col <=> (expr)` over the POST-mutation rows, riding the same
    * aggregate pass as the CHECK constraints. This writer VERIFIES
    * instead of recomputing — a SET that stales a generated value
    * (touching its inputs without re-setting the column consistently)
    * refuses before any file lands, never corrupts; mutations that
    * leave the generated column and its inputs alone pass untouched
    * (the common case: updating an unrelated column on a
    * generated-date-partitioned table). */
  private def generatedConsistencyChecks(schema: StructType,
      verb: String): Seq[(String, String)] =
    schema.fields.toSeq.collect {
      case f if f.metadata.contains("delta.generationExpression") =>
        (s"generated column '${f.name}' consistency after $verb (this " +
          "writer verifies, not recomputes — SET the column to its " +
          "expression value, or use a full client)",
          s"`${f.name.replace("`", "``")}` <=> ((${
            f.metadata.getString("delta.generationExpression")}))")
    }

  /** `col IS NOT NULL` checks for the named nullable=false columns —
    * rides the same aggregate pass as the CHECK constraints. */
  private def notNullChecks(schema: StructType,
      cols: Seq[String]): Seq[(String, String)] =
    cols.filter(c => schema.fieldNames.contains(c)).map(c =>
      (s"NOT NULL column '$c'",
        s"`${c.replace("`", "``")}` IS NOT NULL"))

  /** One aggregate pass evaluating every check over `df` (SQL CHECK
    * semantics — a NULL predicate passes); the first violation
    * refuses, before any commit. */
  private def enforceChecks(df: DataFrame, checks: Seq[(String, String)],
      refuse: String => Nothing): Unit =
    if (checks.nonEmpty) {
      import org.apache.spark.sql.functions.{coalesce, expr, lit, min => fmin}
      val aggs = checks.zipWithIndex.map { case ((_, e), i) =>
        fmin(coalesce(expr(e).cast("boolean"), lit(true))).as(s"__ok_$i")
      }
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      checks.zipWithIndex.foreach { case ((what, e), i) =>
        if (!row.isNullAt(i) && !row.getBoolean(i))
          refuse(s"the input violates $what ($e)")
      }
    }

  /** Dense 0-based row index for identity assignment: one count pass
    * over the (already-pinned) input groups rows by Spark partition
    * id, the cumulative offsets ride a small literal map, and each
    * row's index is offset(partition) + its position within the
    * partition (the low 33 bits of monotonically_increasing_id).
    * Unlike raw monotonically_increasing_id arithmetic, N input rows
    * consume EXACTLY N identity slots — the high watermark advances
    * by N·step per append, never by partitions·2^33·step, so
    * long-lived many-partition tables cannot drift toward Long
    * overflow. The caller must have persisted `df`: the count pass
    * and the write pass must see the same partitioning. Returns the
    * indexed frame (`__graft_dense_idx`) and the row count. */
  private def denseRowIndex(df: DataFrame): (DataFrame, Long) = {
    import org.apache.spark.sql.functions.{monotonically_increasing_id,
      spark_partition_id, typedLit, lit => flit}
    val counts = df.groupBy(spark_partition_id().as("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.map(_._2).scanLeft(0L)(_ + _)
    val offsetOf: Map[Int, Long] = counts.map(_._1).zip(offsets).toMap
    val total = counts.map(_._2).sum
    val idx =
      (if (offsetOf.isEmpty) flit(0L)
       else typedLit(offsetOf).apply(spark_partition_id())) +
        monotonically_increasing_id().bitwiseAND(flit((1L << 33) - 1))
    (df.withColumn("__graft_dense_idx", idx), total)
  }

  /** The identity declaration of a field, validated: the protocol
    * types identity columns as bigint (enforcing it here also keeps
    * the watermark bookkeeping getLong-safe on BOTH the assigned and
    * the supplied path), and step must be non-zero. `base` is the
    * value BEFORE the next assigned slot. */
  private final case class IdentitySpec(name: String, start: Long,
      step: Long, wm: Option[Long], allowExplicit: Boolean) {
    def base: Long = wm.getOrElse(start - step)
    /** base + n·step, refusing loudly on Long overflow instead of
      * wrapping into duplicate ids. */
    def valueAt(n: Long): Long =
      try Math.addExact(base, Math.multiplyExact(n, step))
      catch {
        case _: ArithmeticException => throw new IllegalArgumentException(
          s"identity column '$name' overflows Long after $n more rows " +
            s"(watermark $base, step $step)")
      }
  }
  private def identitySpecOf(f: StructField): IdentitySpec = {
    require(f.dataType == org.apache.spark.sql.types.LongType,
      s"identity column '${f.name}' is ${f.dataType.simpleString} — " +
        "Delta identity columns are BIGINT")
    val step = f.metadata.getLong("delta.identity.step")
    require(step != 0, s"identity column '${f.name}' declares step 0")
    IdentitySpec(f.name, f.metadata.getLong("delta.identity.start"), step,
      if (f.metadata.contains("delta.identity.highWaterMark"))
        Some(f.metadata.getLong("delta.identity.highWaterMark"))
      else None,
      f.metadata.contains("delta.identity.allowExplicit") &&
        f.metadata.getBoolean("delta.identity.allowExplicit"))
  }

  def appendToDelta(df: DataFrame, path: String,
      txn: Option[(String, Long)] = None,
      mergeSchema: Boolean = false): Long = {
    val spark = df.sparkSession
    val root = new HPath(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val io = new TableIO(path, conf)
    val logDir = new HPath(root, "_delta_log")
    require(fs.exists(logDir), s"no Delta log at $path — appendToDelta " +
      "appends to existing tables (exportSnapshot/mirrorToDelta create one)")

    def refuseW(what: String): Nothing =
      throw new IllegalArgumentException(
        s"cannot append to Delta table at $path: $what — write it with a " +
          "full Delta client")

    // writer features that impose NO obligation on a blind append; the
    // declaration-level obligations (constraints, invariants, generated
    // columns) are checked against the actual table state below
    val HarmlessOnAppend = HarmlessWriterFeatures

    // txn mode (the protocol's setTransaction idempotence): replay with
    // the collector so the appId's last committed version is visible
    var lastColl: Option[CheckpointCollector] = None
    def alreadyApplied: Boolean = txn.exists { case (app, tv) =>
      lastColl.flatMap(_.txns.get(app)).exists(_._1 >= tv)
    }
    // the effective input: `df` plus any generated columns this writer
    // computes and identity columns it assigns (built by the FIRST
    // validate(), which knows the table schema; race re-validations
    // must keep it — the staged files embed the first assignment)
    var dfW: DataFrame = df
    var dfWBuilt = false
    var identityWm: Map[String, Long] = Map.empty
    var persistedInput: Option[DataFrame] = None
    def validate(): DeltaSnapshot = {
      // the collector carries txn watermarks AND the metaData identity
      // any schema-re-declaring commit must preserve (mergeSchema
      // widening, identity watermark advance — which isn't knowable
      // until the schema is replayed, so collect always; it's a few
      // extra fields captured during the replay this call runs anyway)
      lastColl = Some(new CheckpointCollector())
      val st = replaySnapshot(spark, path, None, lastColl)
      if (st.minWriter > 7)
        refuseW(s"the table requires writer protocol ${st.minWriter}")
      if (st.minWriter == 7) {
        val unknown = st.writerFeatures.filterNot(HarmlessOnAppend.contains)
        if (unknown.nonEmpty)
          refuseW("the table requires writer features " +
            s"[${unknown.mkString(", ")}] this writer does not implement")
      }
      val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
      // Generated columns (delta.generationExpression) are COMPUTED
      // when the input omits them — what a full Delta client does
      // silently (the common case: a generated date partition column) —
      // and check-on-write ENFORCED when the input supplies them: the
      // protocol requires the stored value to equal the expression, so
      // a user-supplied mismatch must refuse, not silently land.
      val genCols = schema.fields.toSeq.collect {
        case f if f.metadata.contains("delta.generationExpression") =>
          f -> f.metadata.getString("delta.generationExpression")
      }
      if (!dfWBuilt)
        dfW = genCols.foldLeft(df) { case (d, (f, g)) =>
          if (d.schema.fieldNames.contains(f.name)) d
          else d.withColumn(f.name,
            org.apache.spark.sql.functions.expr(g).cast(f.dataType))
        }
      val genChecks = genCols.collect {
        case (f, g) if df.schema.fieldNames.contains(f.name) =>
          (s"generated column '${f.name}' check-on-write",
            s"`${f.name.replace("`", "``")}` <=> (($g))")
      }
      // Identity columns (delta.identity.{start,step,highWaterMark}):
      // an OMITTED identity column is ASSIGNED here — DENSE values
      // base + k·step for k = 1..N beyond the recorded high watermark
      // in step direction (k from a per-partition-offset dense index,
      // so N rows consume exactly N slots — no 2^33-per-partition
      // watermark jumps, no silent Long wrap; overflow refuses) — and
      // the commit advances delta.identity.highWaterMark in the same
      // metaData action. SUPPLIED values are accepted only when the
      // column declares allowExplicit (GENERATED BY DEFAULT); the
      // watermark still advances past them (one aggregate read-back).
      // A peer moving the watermark mid-race changes the schema
      // metadata, which the race re-validation refuses — concurrent
      // identity appends serialize instead of colliding.
      if (!dfWBuilt) { // first validate() only: the staged files
        // embed the first pass's assignment
        val idCols = schema.fields.toSeq.filter(
          _.metadata.contains("delta.identity.start"))
        val specs = idCols.map(identitySpecOf)
        val (toAssign, supplied) = specs.partition(
          s => !dfW.schema.fieldNames.contains(s.name))
        supplied.foreach { s =>
          if (!s.allowExplicit)
            refuseW(s"column '${s.name}' is GENERATED ALWAYS AS IDENTITY " +
              "— it cannot take user-supplied values (omit it and this " +
              "writer assigns)")
          else
            // the watermark read-back below getLongs the aggregate —
            // mistyped input must hit the friendly refusal, not a CCE
            require(dfW.schema(s.name).dataType ==
                org.apache.spark.sql.types.LongType,
              s"append schema mismatch at $path: identity column " +
                s"'${s.name}' is bigint in the table, " +
                s"${dfW.schema(s.name).dataType.simpleString} in the " +
                "input — cast before appending")
        }
        if (idCols.nonEmpty) {
          // pin the input: the count pass, the watermark read-back,
          // and the file write must all see the SAME partitioning
          dfW = dfW.persist(org.apache.spark.storage.StorageLevel
            .MEMORY_AND_DISK)
          persistedInput = Some(dfW)
        }
        val assignedWm: Map[String, Long] =
          if (toAssign.isEmpty) Map.empty
          else {
            val (indexed, total) = denseRowIndex(dfW)
            dfW = toAssign.foldLeft(indexed) { (d, s) =>
              d.withColumn(s.name,
                org.apache.spark.sql.functions.lit(s.base) +
                  (org.apache.spark.sql.functions
                    .col("__graft_dense_idx") + 1L) *
                    org.apache.spark.sql.functions.lit(s.step))
            }.drop("__graft_dense_idx")
            if (total == 0) Map.empty
            else toAssign.map(s => s.name -> s.valueAt(total)).toMap
          }
        val suppliedWm: Map[String, Long] =
          if (supplied.isEmpty) Map.empty
          else {
            import org.apache.spark.sql.functions.{max => fmax,
              min => fmin, col => fcol}
            val aggs = supplied.map { s =>
              (if (s.step > 0) fmax(fcol(s.name)) else fmin(fcol(s.name)))
                .as(s"__wm_${s.name}")
            }
            val row = dfW.agg(aggs.head, aggs.tail: _*).collect()(0)
            supplied.zipWithIndex.flatMap { case (s, i) =>
              if (row.isNullAt(i)) None // empty input: watermark keeps
              else {
                val got = row.getLong(i)
                val next = s.wm match {
                  case Some(o) =>
                    if (s.step > 0) math.max(o, got) else math.min(o, got)
                  case None => got
                }
                if (s.wm.contains(next)) None else Some(s.name -> next)
              }
            }.toMap
          }
        identityWm = assignedWm ++ suppliedWm
      }
      dfWBuilt = true
      // CHECK constraints + column invariants are ENFORCED, not
      // refused: one aggregate pass over the input evaluates every
      // declared predicate (SQL CHECK semantics — NULL passes), and a
      // single violation fails the append before any file lands.
      // NOT NULL columns fed by a nullable input ride the same pass
      // (the protocol's writer nullability requirement), as do the
      // generated-column equality checks.
      enforceChecks(dfW,
        tableChecks(st, schema, refuseW) ++ genChecks ++
          notNullChecks(schema, schema.fields.toSeq.collect {
            case f if !f.nullable &&
                dfW.schema.fieldNames.contains(f.name) &&
                dfW.schema(f.name).nullable => f.name
          }), refuseW)
      if (mergeSchema)
        // extra input columns WIDEN the table below; the input must
        // still cover every existing column
        require((schema.fieldNames.toSet -- dfW.schema.fieldNames.toSet)
          .isEmpty,
          s"append schema mismatch at $path: input lacks table columns " +
            s"[${(schema.fieldNames.toSet -- dfW.schema.fieldNames.toSet)
              .mkString(", ")}] — mergeSchema only ADDS columns")
      else
        require(schema.fieldNames.toSet == dfW.schema.fieldNames.toSet,
          s"append schema mismatch at $path: table columns " +
            s"[${schema.fieldNames.mkString(", ")}], input columns " +
            s"[${dfW.schema.fieldNames.mkString(", ")}] — pass " +
            "mergeSchema=true to widen")
      schema.fields.foreach { f =>
        val have = dfW.schema(f.name).dataType
        // structural comparison: nested names + types must match, the
        // table's column-mapping / comment METADATA must not (the
        // input never carries it), and non-null input may feed a
        // nullable column
        require(DataType.equalsStructurally(have, f.dataType,
            ignoreNullability = true),
          s"append schema mismatch at $path: column '${f.name}' is " +
            s"${f.dataType.simpleString} in the table, ${have.simpleString} " +
            "in the input — cast before appending")
      }
      st
    }
    // any refusal after the identity persist (CHECK violation, schema
    // mismatch — both thrown inside validate, after the pin) must
    // release the pinned input; the success path releases it after the
    // staged write
    var st =
      try validate()
      catch {
        case e: Throwable =>
          persistedInput.foreach(_.unpersist(false))
          throw e
      }
    if (alreadyApplied) { // this batch already landed
      // the idempotent skip bypasses the write whose finally releases
      // the pinned identity assignment — release it here
      persistedInput.foreach(_.unpersist(false))
      return st.version
    }
    val tableSchema = DataType.fromJson(st.schemaJson)
      .asInstanceOf[StructType]
    // mergeSchema: widen with the input's extra columns (nullable;
    // fresh mapping ids under column mapping) — the commit below
    // re-declares the metaData when anything widened
    val (schema, mergedConf): (StructType, Map[String, String]) =
      if (!mergeSchema) (tableSchema, st.configuration)
      else dfW.schema.fields
        .filterNot(f => tableSchema.fieldNames
          .exists(_.equalsIgnoreCase(f.name)))
        .foldLeft((tableSchema, st.configuration)) {
          case ((sc, cf), f) => appendSchemaField(sc, cf, f.name, f.dataType)
        }
    val schemaWidened = schema.length != tableSchema.length
    // identity appends advance delta.identity.highWaterMark in the
    // same commit's metaData (the protocol's watermark bookkeeping)
    val schemaWithWm =
      if (identityWm.isEmpty) schema
      else StructType(schema.fields.map { f =>
        identityWm.get(f.name).map { wm =>
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong("delta.identity.highWaterMark", wm).build())
        }.getOrElse(f)
      })
    val schemaChanged = schemaWidened || identityWm.nonEmpty
    val partCols = st.partCols
    // column-mapped tables (name or id mode): the files must carry
    // PHYSICAL names at every nesting level (nested renames via a
    // positional struct cast — the write-side inverse of readDelta's
    // rename-back), and under id mode the parquet fields carry
    // `parquet.field.id` = delta.columnMapping.id; partitionValues
    // keys and the hive layout use the physical names too, per the
    // protocol's writer requirements
    val mapped = st.colMapMode != "none"
    if (st.colMapMode == "id")
      spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val physSchema =
      if (mapped)
        StructType(schema.fields.map(physicalField(_, st.colMapMode == "id")))
      else schema
    val physNameOf: Map[String, String] = schema.fields.zip(physSchema.fields)
      .map { case (lf, pf) => lf.name -> pf.name }.toMap
    val physPartCols = partCols.map(physNameOf)

    // ---- distributed parquet write into a staging dir, then move the
    // parts into place (the hive layout from partitionBy IS the
    // destination layout; part names carry task UUIDs, so no
    // collisions) ----
    val pub = new StagedPublish(fs, root)
    val staging = pub.staging("append")
    val ordered =
      if (!mapped) dfW.select(schema.fieldNames.map(col).toSeq: _*)
      else dfW.select(schema.fields.zip(physSchema.fields).map {
        case (lf, pf) => col(lf.name).cast(pf.dataType).as(pf.name, pf.metadata)
      }.toSeq: _*)
    // the write tasks collect each landed file's stats JSON in-flight
    // (physical column names under column mapping, matching the file
    // contents per protocol) — no post-write footer re-read pass
    val physDataSchema = StructType(
      physSchema.filterNot(f => physPartCols.contains(f.name)))
    val statsMap =
      try DeltaStats.writeWithStats(ordered, staging.toString,
        physPartCols, physDataSchema)
      finally persistedInput.foreach(_.unpersist(false))
    val committed = OptimisticCommit.cleaningUp(pub.cleanup()) {
      val staged = pub.publish(staging)

      val now = System.currentTimeMillis()
      val actions = Seq.newBuilder[String]
      actions += s"""{"commitInfo":{"timestamp":$now,"operation":"WRITE","operationParameters":{"mode":"Append"},"engineInfo":"graft-append"}}"""
      if (schemaChanged) {
        val confJson = mergedConf.map { case (k, vv) =>
          "\"" + jsonEscape(k) + "\":\"" + jsonEscape(vv) + "\""
        }.mkString(",")
        val nameJson = lastColl.flatMap(_.metaName)
          .map(n => s""","name":"${jsonEscape(n)}"""").getOrElse("")
        val descJson = lastColl.flatMap(_.metaDescription)
          .map(d => s""","description":"${jsonEscape(d)}"""").getOrElse("")
        actions += s"""{"metaData":{"id":"${jsonEscape(
          lastColl.flatMap(_.metaId).getOrElse(
            java.util.UUID.randomUUID().toString))}"$nameJson$descJson,"format":{"provider":"parquet","options":{}},"schemaString":"${jsonEscape(schemaWithWm.json)}","partitionColumns":[${partCols.map(c =>
          "\"" + jsonEscape(c) + "\"").mkString(",")}],"configuration":{$confJson},"createdTime":${lastColl.flatMap(_.createdTime).getOrElse(now)}}}"""
      }
      txn.foreach { case (app, tv) =>
        actions += s"""{"txn":{"appId":"${jsonEscape(app)}","version":$tv,"lastUpdated":$now}}"""
      }
      // row tracking: each add gets a fresh contiguous baseRowId range
      // and this commit's version; the high watermark advances through
      // a domainMetadata action. Version and watermark move on lost
      // races, so the row-tracking half re-renders per attempt.
      val rowTracking = st.writerFeatures.contains("rowTracking")
      lazy val recordsOf: Map[String, Long] = staged.map {
        case (rel, _) =>
          rel -> statsMap.get(rel)
            .flatMap(DeltaStats.parse(_, physDataSchema))
            .flatMap(_.numRecords)
            .getOrElse {
              val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
                org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                  new HPath(root, rel), conf))
              try rdr.getRecordCount finally rdr.close()
            }
      }.toMap
      def bytesFor(stNow: DeltaSnapshot, v: Long): Array[Byte] = {
        val tail = Seq.newBuilder[String]
        var wm = stNow.rowIdHighWaterMark.getOrElse(-1L)
        staged.foreach { case (rel, size) =>
          val pv = hivePartitionValues(rel, physPartCols)
          val pvJson = pv.map { case (k, vv) =>
            "\"" + jsonEscape(k) + "\":\"" + jsonEscape(vv) + "\""
          }.mkString(",")
          val sj = statsMap.get(rel)
            .map(s => s""","stats":"${jsonEscape(s)}"""").getOrElse("")
          val rj =
            if (!rowTracking) ""
            else {
              val base = wm + 1
              wm += recordsOf(rel)
              s""","baseRowId":$base,"defaultRowCommitVersion":$v"""
            }
          tail += s"""{"add":{"path":"${jsonEscape(encodePath(rel))}","partitionValues":{$pvJson},"size":$size,"modificationTime":$now,"dataChange":true$sj$rj}}"""
        }
        if (rowTracking && staged.nonEmpty)
          tail += s"""{"domainMetadata":{"domain":"delta.rowTracking","configuration":"{\\"rowIdHighWaterMark\\":$wm}","removed":false}}"""
        (actions.result() ++ tail.result()).mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8)
      }

      // ---- optimistic commit: claim version slots until one lands ----
      var v = st.version + 1
      OptimisticCommit.retry("appendToDelta", path) { lost =>
        // a peer landed version v: re-validate (its commit may have
        // changed schema or protocol) and take the next slot. The
        // staged files were written under the PRE-RACE physical layout
        // — a peer changing the column mapping mid-race would make
        // them wrong, so that also refuses.
        if (lost > 0) st = validate()
        if (lost > 0 && alreadyApplied) {
          // the peer WAS this appId's batch (a restarted twin): drop
          // our copy of the data — committing it would double-apply
          // the batch
          pub.cleanup()
          st.version
        } else {
          if (lost > 0) {
            // the peer must not have changed the TABLE's schema or
            // mapping (under mergeSchema, compare against the
            // pre-widen state — our metaData action still declares the
            // correct union over pure-append peers). The compare is
            // over the FULL logical schema, METADATA INCLUDED, on
            // mapped and unmapped tables alike: a physical-layout-only
            // compare (physicalField strips field metadata) would let
            // a peer's delta.identity.highWaterMark advance slip
            // through on mapped tables, and this writer would then
            // commit stale beyond-watermark identity values AND
            // regress the watermark. Same-mode + logical-equality
            // implies physical-layout equality, so nothing the old
            // check caught is lost.
            val freshLogical =
              DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
            require((st.colMapMode != "none") == mapped &&
                freshLogical == tableSchema,
              s"table at $path changed its schema or column mapping " +
                "during the append — retry the append against the new state")
            v = math.max(v + 1, st.version + 1)
          }
          OptimisticCommit.claim(io, new HPath(logDir, f"$v%020d.json"),
            bytesFor(st, v))
          v
        }
      }
    }
    // honor an EXPLICIT delta.checkpointInterval (real writers
    // checkpoint every N commits so the JSON tail stays bounded);
    // best-effort — a checkpoint refusal (v2 policy, domainMetadata)
    // or race never fails the landed append
    st.configuration.get("delta.checkpointInterval")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .filter(i => i > 0 && committed > 0 && committed % i == 0)
      .foreach { _ =>
        try checkpointDelta(spark, path)
        catch { case _: Exception => () }
      }
    committed
  }

  /** IDEMPOTENT append — [[appendToDelta]] with the protocol's
    * `setTransaction` watermark: the commit carries
    * `txn(appId, txnVersion)`, and an append whose (appId, version) is
    * already at-or-below the table's recorded watermark is a NO-OP
    * returning the current version (its data was committed by a
    * previous attempt — a restarted streaming epoch, a retried job).
    * The watermark re-checks after every lost version race, so a
    * racing twin of the same appId can never double-apply a batch.
    * This is exactly Delta's `txnAppId`/`txnVersion` idempotent-write
    * contract, which [[exactlyOnceDeltaAppender]] builds on. */
  def appendToDeltaTxn(df: DataFrame, path: String, appId: String,
      txnVersion: Long): Long =
    appendToDelta(df, path, Some((appId, txnVersion)))

  /** The appId's last committed `setTransaction` version at `path`, or
    * -1 when the app never committed — the read half of the
    * idempotent-write contract. */
  def lastDeltaTxnVersion(spark: SparkSession, path: String,
      appId: String): Long = {
    val coll = new CheckpointCollector()
    replaySnapshot(spark, path, None, Some(coll))
    coll.txns.get(appId).map(_._1).getOrElse(-1L)
  }

  /** EXACTLY-ONCE streaming into a foreign Delta table: a
    * `foreachBatch` function appending each micro-batch through the
    * txn watermark, so replayed epochs after a checkpoint restart
    * commit nothing twice:
    * {{{
    * df.writeStream
    *   .option("checkpointLocation", ckpt)
    *   .foreachBatch(DeltaInterop.exactlyOnceDeltaAppender(path, appId))
    *   .start()
    * }}}
    * The appId names the stream (stable across restarts); Structured
    * Streaming's batchId is the txn version. Any Delta engine reading
    * the table sees each batch once. */
  def exactlyOnceDeltaAppender(path: String, appId: String)
      : (DataFrame, Long) => Unit =
    (batch, batchId) => {
      appendToDeltaTxn(batch, path, appId, batchId)
      ()
    }

  /** DELETE the rows matching `condition` from an existing Delta table
    * (foreign or mirrored) with copy-on-write rewrites — the foreign
    * twin of `GraftTable.delete` and the protocol shape of Delta's own
    * `DELETE FROM`:
    *
    *  - A predicate referencing ONLY partition columns is a
    *    METADATA-ONLY delete: the condition is evaluated against the
    *    distinct partition tuples on the driver (typed via the declared
    *    schema) and the matching files are removed whole — no data
    *    scan, the `DELETE WHERE date < X` retention shape at any scale.
    *  - Otherwise one distributed scan (deletion-vector rows already
    *    filtered) finds the affected files and per-file survivor
    *    counts; fully-matched files are removed whole, partially-
    *    matched files are rewritten without the matching rows (one
    *    distributed write into the table's hive layout) and committed
    *    as remove+add.
    *  - When `delta.enableChangeDataFeed` is set AND the commit
    *    rewrites files, the deleted rows are also written as
    *    `_change_data/` cdc files (`_change_type='delete'`) with `cdc`
    *    actions — per the protocol, readers treat cdc as authoritative
    *    for such commits, so the feed stays unambiguous; remove-only
    *    commits carry no cdc (CDF readers derive deletes from the
    *    remove actions, DV-aware).
    *
    * Writer obligations: COLUMN-MAPPED tables (name and id mode)
    * delete correctly — the detection scan reads physical names (id
    * mode by field id) renamed back to the declared schema, rewritten
    * survivor files carry physical names / field ids / physical hive
    * dirs, and the commit's partitionValues keys stay physical, per
    * the protocol's writer requirements. Refuses append-only tables
    * (`delta.appendOnly`), writer protocols above 7, and unknown
    * writer features; CHECK constraints, invariants and generated
    * columns impose no obligation on DELETE (surviving rows are
    * carried verbatim).
    *
    * Concurrency: the commit claims the next version slot via the
    * conditional-put protocol; a lost race RESTARTS the whole
    * operation against the peer's state (a delete's read set is the
    * table, so re-validation alone is not enough), bounded by
    * [[OptimisticCommit]]. A no-match delete commits nothing and returns
    * the current version. Returns the committed (or current) version. */
  def deleteFromDelta(spark: SparkSession, path: String,
      condition: Column): Long = {
    val root = new HPath(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val io = new TableIO(path, conf)
    val logDir = new HPath(root, "_delta_log")
    require(fs.exists(logDir), s"no Delta log at $path — deleteFromDelta " +
      "mutates existing tables")

    def refuseW(what: String): Nothing =
      throw new IllegalArgumentException(
        s"cannot delete from Delta table at $path: $what — write it with " +
          "a full Delta client")

    // constraints / invariants / generated columns impose no obligation
    // on DELETE (surviving rows are carried verbatim); appendOnly is
    // enforced below via the delta.appendOnly table property
    val HarmlessOnDelete = HarmlessWriterFeatures

    def validate(): DeltaSnapshot = {
      val st = replaySnapshot(spark, path, None)
      // column mapping (name or id mode) is handled, not refused: the
      // detection scan reads physical names renamed back to logical,
      // rewritten files are written through physicalWrite, and the
      // commit's partitionValues keys stay physical
      if (st.configuration.get("delta.appendOnly").contains("true"))
        refuseW("the table is append-only (delta.appendOnly=true)")
      if (st.minWriter > 7)
        refuseW(s"the table requires writer protocol ${st.minWriter}")
      if (st.minWriter == 7) {
        val unknown = st.writerFeatures.filterNot(HarmlessOnDelete.contains)
        if (unknown.nonEmpty)
          refuseW("the table requires writer features " +
            s"[${unknown.mkString(", ")}] this writer does not implement")
      }
      st
    }

    val bridge = org.apache.spark.sql.graftbridge.ColumnBridge
    // predicate column references from the (unresolved) expression tree
    val refNames: Set[String] = bridge.expression(condition).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        a.name
    }.toSet

    def qualified(p: String): String = fileMetaPath(p, conf)

    OptimisticCommit.retry("deleteFromDelta", path) { _ =>
      val st = validate()
      val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
      val partCols = st.partCols
      val dataSchema =
        StructType(schema.filterNot(f => partCols.contains(f.name)))
      val cdfEnabled =
        st.configuration.get("delta.enableChangeDataFeed").contains("true")
      val partitionOnly = refNames.nonEmpty && partCols.nonEmpty &&
        refNames.forall(n => partCols.exists(_.equalsIgnoreCase(n)))

      // (logPath, pv, dv) → whole-file removes; (logPath, pv) → rewrites
      var removeWhole: Seq[(String, Map[String, String])] = Nil
      var rewriteFiles: Seq[(String, (Map[String, String],
        Option[DeletionVectors.Descriptor]))] = Nil

      // partitionValues keys are PHYSICAL names on mapped tables
      val physPartOf: Map[String, String] = partCols.map(pc =>
        pc -> (if (st.colMapMode == "none") pc
               else physicalField(schema(pc), withIds = false).name)).toMap

      if (partitionOnly) {
        // METADATA-ONLY: type the distinct partition tuples and let the
        // condition select them on the driver — no data scan
        val pvs = st.active.map(_._2._1).distinct
        val idxed = pvs.zipWithIndex
        val pvSchema = StructType(partCols.map(pc =>
          StructField(pc, org.apache.spark.sql.types.StringType)) :+
          StructField("__pv_idx", org.apache.spark.sql.types.LongType,
            nullable = false))
        val rows = idxed.map { case (pv, i) =>
          org.apache.spark.sql.Row.fromSeq(
            partCols.map(pc => pv.get(physPartOf(pc)).orNull) :+ i.toLong)
        }
        val typed = partCols.foldLeft(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), pvSchema)) { (d, pc) =>
          d.withColumn(pc, col(pc).cast(schema(pc).dataType))
        }
        val matched = typed.filter(condition).select(col("__pv_idx"))
          .collect().map(_.getLong(0)).toSet
        val matchedPvs =
          idxed.filter(t => matched(t._2.toLong)).map(_._1).toSet
        removeWhole = st.active.collect {
          case (p, (pv, _)) if matchedPvs(pv) => (p, pv)
        }
        if (removeWhole.isEmpty) st.version
        else commitDelete(io, logDir, st, System.currentTimeMillis(),
          condition.toString, removeWhole, Nil, Nil, partCols.map(physPartOf))
      } else {
        // one distributed detection scan — over the STATS-PRUNED
        // candidates only (per-file min/max vs the predicate's
        // conjuncts): a keyed delete on a stats-carrying table reads
        // O(|candidate files|), not O(table). DV-live rows only;
        // per-file matched/total counts decide remove-whole vs rewrite
        val candidates = pruneCandidates(st, schema,
          DeltaStats.conjuncts(spark, schema, condition))
        val byQualified: Map[String, (String, (Map[String, String],
          Option[DeletionVectors.Descriptor]))] =
          st.active.map(e => qualified(resolveFile(root, e._1)) -> e).toMap
        val liveScan = liveMutationScan(spark, root, st, schema, partCols,
          dataSchema)
        val counts = liveScan(candidates)
          .groupBy(col("__file"))
          .agg(org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.when(condition, 1L).otherwise(0L))
            .as("__matched"),
            org.apache.spark.sql.functions.count(lit(1)).as("__total"))
          .where(col("__matched") > 0)
          .collect()
        val rw = Seq.newBuilder[(String, (Map[String, String],
          Option[DeletionVectors.Descriptor]))]
        val rm = Seq.newBuilder[(String, Map[String, String])]
        counts.foreach { r =>
          val entry = byQualified(r.getString(0))
          if (r.getLong(1) == r.getLong(2)) rm += ((entry._1, entry._2._1))
          else rw += entry
        }
        removeWhole = rm.result()
        rewriteFiles = rw.result()

        // helper reused for the rewrite write and the cdc write
        def affectedScan(keep: Column, extra: Seq[(String, Column)])
            : DataFrame = {
          val src = liveScan(rewriteFiles ++ removeWhole.map { case (p, pv) =>
            (p, (pv, byQualified(qualified(resolveFile(root, p)))._2._2))
          })
          val out = extra.foldLeft(src.where(keep).drop("__file")) {
            case (d, (n, c)) => d.withColumn(n, c)
          }
          out
        }

        val now0 = System.currentTimeMillis()
        val pub = new StagedPublish(fs, root)
        if (removeWhole.isEmpty && rewriteFiles.isEmpty) st.version
        else OptimisticCommit.cleaningUp(pub.cleanup()) {
          // MERGE-ON-READ mode (delta.enableDeletionVectors=true): a
          // partially-matched file is re-added with a fresh deletion
          // vector covering (old DV ∪ newly matched rows) — O(deleted
          // rows) instead of a file rewrite, Delta's own modern DELETE.
          // Positions come from one distributed scan; the per-file
          // bitmaps are then written driver-side (payload ∝ deleted
          // rows — the same order as the commit's cdc files).
          val dvMode = st.configuration
            .get("delta.enableDeletionVectors").contains("true")
          var adds: Seq[(String, Long)] = Nil
          var dvAdds: Seq[(String, Map[String, String], Long,
            DeletionVectors.Descriptor)] = Nil
          if (rewriteFiles.nonEmpty && dvMode) {
            // newly struck = LIVE rows the predicate matches (the old
            // DV's positions re-ride via the merge inside the helper)
            val livePos = liveMutationScan(spark, root, st, schema,
              partCols, dataSchema, withPos = true)
            val newly = livePos(rewriteFiles)
              .where(org.apache.spark.sql.functions.coalesce(
                condition, lit(false)))
              .select(col("__file"), col("__pos"))
            dvAdds = writeMergedDvs(spark, root, dataSchema,
              rewriteFiles, newly, pub)
          }
          // rewrite survivors of partially-matched files; the write
          // tasks collect each rewritten file's stats in-flight. On a
          // GUARANTEED row-tracking table the survivors MATERIALIZE
          // their current row ids + commit versions into the new files
          var addStats: Map[String, String] = Map.empty
          if (rewriteFiles.nonEmpty && !dvMode) {
            val mat = rowIdMaterialization(spark, root, st, schema,
              partCols, dataSchema, refuseW)
            // survivors = rows where the predicate is NOT TRUE (false
            // or null) — SQL DELETE keeps null-condition rows
            val keep = !org.apache.spark.sql.functions.coalesce(
              condition, lit(false))
            val survivors = mat match {
              case Some((idN, rcvN, matScan)) =>
                matScan(rewriteFiles).where(keep)
                  .select(schema.fieldNames.map(col) ++ Seq(
                    col("__rowid").as(idN), col("__rowrcv").as(rcvN)): _*)
              case None =>
                liveScan(rewriteFiles).where(keep)
                  .drop("__file")
                  .select(schema.fieldNames.map(col).toSeq: _*)
            }
            val (physSurv, physPartCols, physDataSchema) =
              physicalWrite(spark, st, schema, partCols, survivors)
            val staging = pub.staging("delete")
            addStats = DeltaStats.writeWithStats(
              Sizing.distributeForWrite(physSurv, physPartCols),
              staging.toString, physPartCols, physDataSchema)
            adds = pub.publish(staging)
          }
          // cdc files: ALL deleted rows of the commit (cdc is
          // authoritative once present), only when the commit rewrites
          var cdcAdds: Seq[(String, Long)] = Nil
          if (cdfEnabled && rewriteFiles.nonEmpty) {
            val deleted = affectedScan(condition,
              Seq("_change_type" -> lit("delete")))
              .select((schema.fieldNames.map(col) :+
                col("_change_type")).toSeq: _*)
            val (physDeleted, cdcPartCols, _) =
              physicalWrite(spark, st, schema, partCols, deleted)
            cdcAdds = writeCdc(pub, physDeleted, cdcPartCols)
          }
          // tombstone the fully-matched files AND the rewritten (or
          // DV-re-added) sources; rewritten survivors carry the fresh
          // in-flight stats, DV re-adds the original file's
          // (still-valid bounds — a DV only strikes rows)
          commitDelete(io, logDir, st, now0, condition.toString,
            removeWhole ++ rewriteFiles.map { case (p, (pv, _)) => (p, pv) },
            adds, cdcAdds, partCols.map(physPartOf), dvAdds = dvAdds,
            statsOf = p => addStats.get(p).orElse(st.stats.get(p)))
        }
      }
    }
  }

  /** UPDATE the rows matching `condition` in an existing Delta table
    * (foreign or mirrored), setting `assignments` (column → new-value
    * expression, evaluated against the PRE-update row — Delta/SQL
    * UPDATE semantics, so swaps work) with copy-on-write rewrites:
    * one distributed detection scan (deletion-vector rows filtered)
    * finds the affected files, each is rewritten with matched rows
    * transformed and unmatched rows carried verbatim, and the commit
    * is remove+add per affected file. Rows where the condition is
    * NULL are not updated.
    *
    * When `delta.enableChangeDataFeed` is set, the matched rows are
    * also written as `_change_data/` cdc files in Delta's UPDATE shape
    * — `update_preimage` (old values) + `update_postimage` (new
    * values) — making the feed authoritative and unambiguous.
    *
    * Writer obligations: CHECK constraints, invariants, assigned
    * NOT NULL columns, and generated-column consistency
    * (`col <=> (expr)` — VERIFIED, not recomputed: a SET that stales
    * a generated value refuses loudly; SETs not touching it or its
    * inputs pass) are ENFORCED over the rewritten rows in one
    * aggregate pass before any commit (the same pass appendToDelta
    * runs). COLUMN-MAPPED tables (name and id mode) update correctly
    * (physical-name scan + physical rewrite, see [[deleteFromDelta]]).
    * Refuses append-only tables,
    * identity-column assignments (identity values never change),
    * partition-column assignments (rows would have to MOVE partitions
    * — use delete+append), and unknown writer features. A lost
    * version race restarts the whole operation; a no-match update
    * commits nothing. Returns the committed (or current) version. */
  def updateDelta(spark: SparkSession, path: String, condition: Column,
      assignments: Map[String, Column]): Long = {
    require(assignments.nonEmpty, "updateDelta needs at least one SET assignment")
    val root = new HPath(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val io = new TableIO(path, conf)
    val logDir = new HPath(root, "_delta_log")
    require(fs.exists(logDir), s"no Delta log at $path — updateDelta " +
      "mutates existing tables")

    def refuseW(what: String): Nothing =
      throw new IllegalArgumentException(
        s"cannot update Delta table at $path: $what — write it with " +
          "a full Delta client")

    val HarmlessOnUpdate = HarmlessWriterFeatures

    def validate(): DeltaSnapshot = {
      val st = replaySnapshot(spark, path, None)
      // column mapping (name or id mode) is handled, not refused —
      // see deleteFromDelta: physical-name scan + physicalWrite
      if (st.configuration.get("delta.appendOnly").contains("true"))
        refuseW("the table is append-only (delta.appendOnly=true)")
      if (st.minWriter > 7)
        refuseW(s"the table requires writer protocol ${st.minWriter}")
      if (st.minWriter == 7) {
        val unknown = st.writerFeatures.filterNot(HarmlessOnUpdate.contains)
        if (unknown.nonEmpty)
          refuseW("the table requires writer features " +
            s"[${unknown.mkString(", ")}] this writer does not implement")
      }
      // CHECK constraints + invariants are ENFORCED over the rewritten
      // rows before the commit (see below), not refused
      val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
      // generated columns are allowed — their consistency is VERIFIED
      // over the post-update rows (generatedConsistencyChecks rides
      // the constraint pass below); identity values must never change
      schema.fields.foreach { f =>
        if (f.metadata.contains("delta.identity.start") &&
            assignments.contains(f.name))
          refuseW(s"SET touches identity column '${f.name}' — identity " +
            "values cannot be updated")
      }
      assignments.keys.foreach { c =>
        require(schema.fieldNames.contains(c),
          s"updateDelta at $path: SET column '$c' is not a table column")
        if (st.partCols.contains(c))
          refuseW(s"SET touches partition column '$c' — updated rows " +
            "would have to move partitions; delete + append instead")
      }
      st
    }

    def qualified(p: String): String = fileMetaPath(p, conf)

    OptimisticCommit.retry("updateDelta", path) { _ =>
      val st = validate()
      val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
      val partCols = st.partCols
      val dataSchema =
        StructType(schema.filterNot(f => partCols.contains(f.name)))
      val cdfEnabled =
        st.configuration.get("delta.enableChangeDataFeed").contains("true")
      val byQualified: Map[String, (String, (Map[String, String],
        Option[DeletionVectors.Descriptor]))] =
        st.active.map(e => qualified(resolveFile(root, e._1)) -> e).toMap
      val liveScan = liveMutationScan(spark, root, st, schema, partCols,
        dataSchema)

      val matchedTrue = org.apache.spark.sql.functions.coalesce(
        condition, lit(false))
      // SET evaluated against the PRE-update row: every assignment
      // reads the original columns (one select, no chaining)
      def applied(d: DataFrame): DataFrame =
        d.select((schema.fields.map { f =>
          assignments.get(f.name) match {
            case Some(v) =>
              org.apache.spark.sql.functions.when(matchedTrue,
                v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        } :+ col("__file")).toSeq: _*)

      // detection scan over the stats-pruned candidates only — a keyed
      // UPDATE on a stats-carrying table reads O(|candidates|)
      val candidates = pruneCandidates(st, schema,
        DeltaStats.conjuncts(spark, schema, condition))
      val affected = liveScan(candidates)
        .where(matchedTrue)
        .select(col("__file")).distinct().collect().map(_.getString(0))
      val entries = affected.toSeq.map(byQualified)
      val pub = new StagedPublish(fs, root)
      if (affected.isEmpty) st.version
      else OptimisticCommit.cleaningUp(pub.cleanup()) {
        val now = System.currentTimeMillis()
        // MERGE-ON-READ mode (delta.enableDeletionVectors=true):
        // strike the matched rows with merged deletion vectors and
        // append ONLY the transformed rows — O(changed rows),
        // Delta's own modern UPDATE. Otherwise CoW-rewrite the
        // affected files whole.
        val dvMode = st.configuration
          .get("delta.enableDeletionVectors").contains("true")
        // GUARANTEED row-tracking tables MATERIALIZE: carried rows
        // keep (id, commit version), updated rows keep the id and
        // null the version (it inherits the new add's)
        val mat = rowIdMaterialization(spark, root, st, schema,
          partCols, dataSchema, refuseW)
        def matCols(idN: String, rcvN: String)
            : Seq[org.apache.spark.sql.Column] = Seq(
          col("__rowid").as(idN),
          org.apache.spark.sql.functions.when(matchedTrue,
            lit(null).cast("long"))
            .otherwise(col("__rowrcv")).as(rcvN))
        var dvAdds: Seq[(String, Map[String, String], Long,
          DeletionVectors.Descriptor)] = Nil
        val rewritten =
          if (!dvMode) mat match {
            case Some((idN, rcvN, matScan)) =>
              val d = matScan(entries)
              d.select(schema.fields.map { f =>
                assignments.get(f.name) match {
                  case Some(v) =>
                    org.apache.spark.sql.functions.when(matchedTrue,
                      v.cast(f.dataType)).otherwise(col(f.name))
                      .as(f.name)
                  case None => col(f.name)
                }
              }.toSeq ++ matCols(idN, rcvN): _*)
            case None =>
              applied(liveScan(entries)).drop("__file")
                .select(schema.fieldNames.map(col).toSeq: _*)
          }
          else {
            val livePos = liveMutationScan(spark, root, st, schema,
              partCols, dataSchema, withPos = true)
            mat match {
              case Some((idN, rcvN, matScan)) =>
                val matchedRows = matScan(entries).where(matchedTrue)
                dvAdds = writeMergedDvs(spark, root, dataSchema, entries,
                  matchedRows.select(col("__file"), col("__pos")), pub)
                // transformed rows append with their PRESERVED ids
                matchedRows.select(schema.fields.map { f =>
                  assignments.get(f.name) match {
                    case Some(v) => v.cast(f.dataType).as(f.name)
                    case None => col(f.name)
                  }
                }.toSeq ++ Seq(col("__rowid").as(idN),
                  lit(null).cast("long").as(rcvN)): _*)
              case None =>
                val matchedRows = livePos(entries).where(matchedTrue)
                dvAdds = writeMergedDvs(spark, root, dataSchema, entries,
                  matchedRows.select(col("__file"), col("__pos")), pub)
                applied(matchedRows.drop("__pos")).drop("__file")
                  .select(schema.fieldNames.map(col).toSeq: _*)
            }
          }
        // the table's declared obligations hold for what this UPDATE
        // writes — one aggregate pass, refusing before any file lands
        // (assigned NOT NULL columns and generated-column consistency
        // ride it too)
        enforceChecks(rewritten,
          tableChecks(st, schema, refuseW) ++
            generatedConsistencyChecks(schema, "UPDATE") ++
            notNullChecks(schema, schema.fields.toSeq.collect {
              case f if !f.nullable &&
                  assignments.contains(f.name) => f.name
            }), refuseW)
        val (physRewritten, physPartCols, physDataSchema) =
          physicalWrite(spark, st, schema, partCols, rewritten)
        val staging = pub.staging("update")
        val addStats = DeltaStats.writeWithStats(
          Sizing.distributeForWrite(physRewritten, physPartCols),
          staging.toString, physPartCols, physDataSchema)
        val staged = pub.publish(staging)

        var cdcAdds: Seq[(String, Long)] = Nil
        if (cdfEnabled) {
          val matchedRows = liveScan(entries).where(matchedTrue)
          val pre = matchedRows.drop("__file")
            .select(schema.fieldNames.map(col).toSeq: _*)
            .withColumn("_change_type", lit("update_preimage"))
          val post = applied(matchedRows).drop("__file")
            .select(schema.fieldNames.map(col).toSeq: _*)
            .withColumn("_change_type", lit("update_postimage"))
          val (cdc, cdcPartCols, _) = physicalWrite(spark, st, schema,
            partCols, pre.unionByName(post))
          cdcAdds = writeCdc(pub, cdc, cdcPartCols)
        }
        commitDelete(io, logDir, st, now, condition.toString,
          entries.map { case (p, (pv, _)) => (p, pv) }, staged, cdcAdds,
          physPartCols, operation = "UPDATE", dvAdds = dvAdds,
          statsOf = p => addStats.get(p).orElse(st.stats.get(p)))
      }
    }
  }

  /** MERGE (upsert) `source` into an existing Delta table (foreign or
    * mirrored) on `keys` — the protocol shape of Delta's
    * `MERGE INTO … WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
    * THEN INSERT *`, the reference notebooks' workhorse:
    *
    *  - target rows whose key equi-matches a source row are REPLACED
    *    by that source row (SQL equi-join null semantics: null-key
    *    source rows always insert, null-key target rows always
    *    survive — `GraftTable.merge`'s pinned behavior);
    *  - source rows matching no target row are INSERTED;
    *  - only the files containing matched rows are rewritten (CoW,
    *    remove+add); untouched files carry forward;
    *  - CDF tables get authoritative cdc files — update_preimage/
    *    update_postimage for replaced rows, insert for new rows.
    *
    * This is [[mergeDeltaClauses]] with the classic clause pair
    * `WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN
    * INSERT *` — see there for the full contract. */
  def mergeDelta(source: DataFrame, path: String, keys: Seq[String]): Long =
    mergeDeltaClauses(source, path, keys,
      matched = Seq(Merge.MatchedUpdate()),
      notMatched = Seq(Merge.NotMatchedInsert()))

  /** Full-clause MERGE into an existing Delta table (foreign or
    * mirrored) on `keys` — conditional clauses, partial `SET`,
    * `WHEN MATCHED … THEN DELETE`, and `WHEN NOT MATCHED BY SOURCE`,
    * per the [[Merge]] clause model (bare names = target row,
    * [[Merge.source]] = source row; first matching clause of a family
    * wins; a row matching no clause carries forward):
    *
    *  - ONE detection pass finds the affected files: those holding a
    *    matched row some matched-clause fires on, plus — when
    *    by-source clauses exist — those holding an unmatched target
    *    row some by-source clause fires on. With no by-source clauses
    *    the detection scan is PRUNED by the source's key range against
    *    per-file stats (O(candidate files), the 100 TB shape);
    *    by-source semantics inspect every target row by definition.
    *  - Affected files are rewritten CoW: clause-updated rows
    *    transformed (SET expressions see the pre-merge target row and
    *    the source row), clause-deleted rows dropped, everything else
    *    carried verbatim; unmatched source rows passing a
    *    NOT MATCHED clause append as inserts.
    *  - CHECK constraints, column invariants, NOT NULL columns, and
    *    generated-column consistency (`col <=> (expr)` — VERIFIED,
    *    not recomputed: a clause that stales a generated value
    *    refuses loudly) are ENFORCED over the rewritten + inserted
    *    rows in one aggregate pass before any commit (the same pass
    *    [[appendToDelta]] runs). Identity tables merge fully:
    *    identity-touching SETs refuse (values never change), and
    *    INSERT clauses ASSIGN — a source omitting the identity column
    *    gets dense beyond-watermark values on its inserted rows with
    *    the highWaterMark advanced in the same commit's metaData; a
    *    source supplying it is accepted only under allowExplicit.
    *  - CDF tables get authoritative cdc files — update_preimage/
    *    update_postimage for updated rows, `delete` for deleted rows,
    *    `insert` for inserted rows.
    *  - COLUMN-MAPPED tables (name and id mode) merge correctly —
    *    physical-name scan + physical rewrite, see
    *    [[deleteFromDelta]].
    *
    * The source must carry exactly the table's columns (identity
    * columns may be omitted — see above), and its keys
    * must be UNIQUE — ENFORCED with one bounded pass before any file
    * moves (a target row matching several source rows is the same
    * ambiguity Delta's MERGE rejects). A lost version race restarts
    * the whole operation. Returns the committed (or current)
    * version. */
  def mergeDeltaClauses(source: DataFrame, path: String,
      keys: Seq[String],
      matched: Seq[Merge.MatchedClause] = Nil,
      notMatched: Seq[Merge.NotMatchedInsert] = Nil,
      notMatchedBySource: Seq[Merge.BySourceClause] = Nil): Long = {
    require(keys.nonEmpty, "mergeDeltaClauses needs at least one key column")
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "MERGE needs at least one clause")
    val spark = source.sparkSession
    val root = new HPath(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val io = new TableIO(path, conf)
    val logDir = new HPath(root, "_delta_log")
    require(fs.exists(logDir), s"no Delta log at $path — mergeDeltaClauses " +
      "mutates existing tables")

    def refuseW(what: String): Nothing =
      throw new IllegalArgumentException(
        s"cannot merge into Delta table at $path: $what — write it with " +
          "a full Delta client")

    val Harmless = HarmlessWriterFeatures

    var mergeColl: Option[CheckpointCollector] = None
    def validate(): DeltaSnapshot = {
      // the collector carries the metaData identity an identity-
      // watermark-advancing commit must preserve
      mergeColl = Some(new CheckpointCollector())
      val st = replaySnapshot(spark, path, None, mergeColl)
      // column mapping (name or id mode) is handled, not refused —
      // see deleteFromDelta: physical-name scan + physicalWrite
      if (st.configuration.get("delta.appendOnly").contains("true"))
        refuseW("the table is append-only (delta.appendOnly=true)")
      if (st.minWriter > 7)
        refuseW(s"the table requires writer protocol ${st.minWriter}")
      if (st.minWriter == 7) {
        val unknown = st.writerFeatures.filterNot(Harmless.contains)
        if (unknown.nonEmpty)
          refuseW("the table requires writer features " +
            s"[${unknown.mkString(", ")}] this writer does not implement")
      }
      val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
      // generated columns are allowed — consistency is VERIFIED over
      // everything the merge writes (transformed + carried + inserted
      // rows) via generatedConsistencyChecks on the constraint pass.
      // Identity columns: no clause may CHANGE identity values, so
      // SET */SET touching the column refuses (a partial SET that
      // skips it works); INSERT clauses ASSIGN — a source that OMITS
      // the identity column gets dense beyond-watermark values on its
      // inserted rows (the appendToDelta assignment), the
      // highWaterMark advancing in the same commit, while a source
      // SUPPLYING the column is accepted only under allowExplicit
      // (keys often need the identity column to match on — supplying
      // it for matching is exactly the allowExplicit contract).
      schema.fields.foreach { f =>
        if (f.metadata.contains("delta.identity.start")) {
          identitySpecOf(f) // validates bigint + non-zero step
          val idTouched =
            matched.exists {
              case u: Merge.MatchedUpdate =>
                u.set.isEmpty || u.set.contains(f.name)
              case _ => false
            } || notMatchedBySource.exists {
              case u: Merge.BySourceUpdate => u.set.contains(f.name)
              case _ => false
            }
          if (idTouched)
            refuseW(s"an UPDATE clause touches identity column " +
              s"'${f.name}' — identity values cannot be updated (a " +
              "partial SET that skips it works)")
          if (notMatched.nonEmpty &&
              source.schema.fieldNames.contains(f.name) &&
              !identitySpecOf(f).allowExplicit)
            refuseW(s"column '${f.name}' is GENERATED ALWAYS AS " +
              "IDENTITY — INSERT clauses cannot take user-supplied " +
              "values (omit it from the source and this writer assigns)")
        }
      }
      // the source must carry exactly the table's columns — except
      // identity columns, which it may OMIT (inserted rows then take
      // assigned values; such columns cannot be merge keys)
      val omittable = schema.fields.toSeq.filter(f =>
        f.metadata.contains("delta.identity.start") &&
          !source.schema.fieldNames.contains(f.name)).map(_.name).toSet
      omittable.foreach(c => require(!keys.contains(c),
        s"mergeDeltaClauses at $path: key '$c' is an identity column " +
          "absent from the source — supply it to match on it"))
      require(schema.fieldNames.toSet -- omittable ==
          source.schema.fieldNames.toSet,
        s"merge schema mismatch at $path: table columns " +
          s"[${schema.fieldNames.mkString(", ")}], source columns " +
          s"[${source.schema.fieldNames.mkString(", ")}]")
      keys.foreach(k => require(schema.fieldNames.contains(k),
        s"mergeDeltaClauses at $path: key '$k' is not a table column"))
      (matched.collect { case u: Merge.MatchedUpdate => u.set } ++
        notMatchedBySource.collect {
          case u: Merge.BySourceUpdate => u.set })
        .flatMap(_.keys).foreach(c =>
          require(schema.fieldNames.contains(c),
            s"mergeDeltaClauses at $path: SET column '$c' is not a " +
              "table column"))
      st
    }

    def qualified(p: String): String = fileMetaPath(p, conf)

    // refuse the SQL-MERGE ambiguity up front: duplicate source keys
    // would silently fan matched target rows out through the rewrite
    // join (null-key source rows always insert — they cannot match, so
    // several of them are fine). One bounded pass over the source.
    if (keys.forall(source.schema.fieldNames.contains)) {
      val dup = source
        .filter(keys.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(keys.map(col): _*).count()
        .filter(col("count") > 1).count()
      require(dup == 0, s"mergeDelta at $path: a target row matches " +
        "multiple source rows — MERGE needs unique source keys")
    }

    import org.apache.spark.sql.functions.{coalesce, when}

    OptimisticCommit.retry("mergeDelta", path) { _ =>
      val st = validate()
      val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
      val partCols = st.partCols
      val dataSchema =
        StructType(schema.filterNot(f => partCols.contains(f.name)))
      val cdfEnabled =
        st.configuration.get("delta.enableChangeDataFeed").contains("true")
      val byQualified: Map[String, (String, (Map[String, String],
        Option[DeletionVectors.Descriptor]))] =
        st.active.map(e => qualified(resolveFile(root, e._1)) -> e).toMap
      val liveScan = liveMutationScan(spark, root, st, schema, partCols,
        dataSchema)
      // identity columns the source omits ride as null placeholders
      // through the join/clause machinery (updates never read them —
      // identity-touching SETs refuse) and take ASSIGNED values on
      // the inserted rows below
      val idSpecs = schema.fields.toSeq
        .filter(_.metadata.contains("delta.identity.start"))
        .map(identitySpecOf)
      val omittedIds = idSpecs.filterNot(s =>
        source.schema.fieldNames.contains(s.name))
      val sourceFull = omittedIds.foldLeft(source)((d, s) =>
        d.withColumn(s.name, lit(null).cast("long")))
      val src = sourceFull.select(schema.fieldNames.map(col).toSeq: _*)
      // source columns under __src_ aliases (keys stay bare for the
      // equi-join; non-keys dual-ride so clause conditions can read
      // them through Merge.source)
      val srcAliased = src.select(keys.map(col) ++
        schema.fieldNames.map(c =>
          col(c).as(Merge.SrcPrefix + c)) :+ lit(1).as("__m"): _*)

      def clauseCond(c: Option[Column]): Column =
        c.map(cc => coalesce(cc, lit(false))).getOrElse(lit(true))
      // first-match-wins clause index per family (-1 = none applies)
      val mIdx = matched.zipWithIndex.foldRight(lit(-1)) {
        case ((cl, i), els) => when(clauseCond(cl.condition), lit(i))
          .otherwise(els)
      }
      val sIdx = notMatchedBySource.zipWithIndex.foldRight(lit(-1)) {
        case ((cl, i), els) => when(clauseCond(cl.condition), lit(i))
          .otherwise(els)
      }
      val mDeletes = matched.zipWithIndex.collect {
        case (_: Merge.MatchedDelete, i) => i }.toSet
      val sDeletes = notMatchedBySource.zipWithIndex.collect {
        case (_: Merge.BySourceDelete, i) => i }.toSet
      // family index lands in a DELETE clause? (guarded: isin of an
      // empty set is not a valid Column)
      def hitsDelete(idxCol: String, dels: Set[Int]): Column =
        if (dels.isEmpty) lit(false)
        else col(idxCol).isin(dels.toSeq.map(Int.box): _*)
      def hitsUpdate(idxCol: String, dels: Set[Int]): Column =
        col(idxCol) =!= -1 && !hitsDelete(idxCol, dels)

      // per-row disposition over the target×source left join:
      // __mi / __si = applicable clause index of the row's family
      def disposed(d: DataFrame): DataFrame =
        d.join(srcAliased, keys, "left")
          .withColumn("__mi",
            when(col("__m") === 1, mIdx).otherwise(lit(-1)))
          .withColumn("__si",
            when(col("__m").isNull, sIdx).otherwise(lit(-1)))

      // the post-merge value of column f for a kept (non-deleted) row
      def newVal(f: StructField): Column = {
        var e: Column = col(f.name)
        matched.zipWithIndex.foreach {
          case (Merge.MatchedUpdate(_, set), i) =>
            val v =
              if (set.nonEmpty) set.get(f.name)
                .map(_.cast(f.dataType)).getOrElse(col(f.name))
              else if (keys.contains(f.name)) col(f.name)
              else col(Merge.SrcPrefix + f.name).cast(f.dataType)
            e = when(col("__mi") === i, v).otherwise(e)
          case _ => ()
        }
        notMatchedBySource.zipWithIndex.foreach {
          case (Merge.BySourceUpdate(_, set), i) =>
            val v = set.get(f.name).map(_.cast(f.dataType))
              .getOrElse(col(f.name))
            e = when(col("__si") === i, v).otherwise(e)
          case _ => ()
        }
        e.as(f.name)
      }

      // ---- detection: which files must rewrite? ----
      // no by-source clauses → prune by the source's key range against
      // per-file stats (sound for the insert anti-join too: a pruned
      // file holds no key any source row carries); by-source clauses
      // inspect every target row by definition
      val candidates =
        if (notMatchedBySource.nonEmpty) st.active
        else {
          import org.apache.spark.sql.functions.{min => fmin, max => fmax}
          val aggs = keys.flatMap(k =>
            Seq(fmin(col(k)).as(s"__mn_$k"), fmax(col(k)).as(s"__mx_$k")))
          val r = src.agg(aggs.head, aggs.tail: _*).collect()(0)
          val keyRanges = keys.zipWithIndex.map { case (k, i) =>
            (k, r.get(2 * i), r.get(2 * i + 1)) }
          if (keyRanges.exists(_._2 == null)) Nil
          else pruneCandidates(st, schema, DeltaStats.conjuncts(spark,
            schema, keyRanges.map { case (k, mn, mx) =>
              col(k) >= lit(mn) && col(k) <= lit(mx)
            }.reduce(_ && _)))
        }
      val scanAll = liveScan(candidates)
      val affected = disposed(scanAll)
        .where(col("__mi") =!= -1 || col("__si") =!= -1)
        .select(col("__file")).distinct().collect().map(_.getString(0))
      val insertCond =
        if (notMatched.isEmpty) lit(false)
        else notMatched.map(c => clauseCond(c.condition)).reduce(_ || _)
      val inserts0 = src
        .join(scanAll.select(keys.map(col): _*), keys, "left_anti")
        .where(insertCond)
        .select(schema.fields.map(f =>
          col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
      // identity bookkeeping over the INSERTED rows — the
      // appendToDelta assignment: omitted columns take dense
      // beyond-watermark values (N inserts consume exactly N slots),
      // supplied (allowExplicit) columns advance the watermark past
      // their extremes; the commit re-declares the schema with the
      // advanced highWaterMark in the same metaData action, so a peer
      // moving it mid-race fails this commit's version slot and the
      // retry re-reads the fresh watermark.
      var pinnedInserts: Option[DataFrame] = None
      var identityWm: Map[String, Long] = Map.empty
      val inserts =
        if (idSpecs.isEmpty || notMatched.isEmpty) inserts0
        else {
          val pinned = inserts0.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          pinnedInserts = Some(pinned)
          val (indexed, total) = denseRowIndex(pinned)
          val assigned = omittedIds.foldLeft(indexed) { (d, s) =>
            d.withColumn(s.name, lit(s.base) +
              (col("__graft_dense_idx") + 1L) * lit(s.step))
          }.drop("__graft_dense_idx")
          val assignedWm: Map[String, Long] =
            if (total == 0) Map.empty
            else omittedIds.map(s => s.name -> s.valueAt(total)).toMap
          val suppliedSpecs = idSpecs.filterNot(s =>
            omittedIds.exists(_.name == s.name))
          val suppliedWm: Map[String, Long] =
            if (suppliedSpecs.isEmpty || total == 0) Map.empty
            else {
              import org.apache.spark.sql.functions.{max => fmax,
                min => fmin}
              val aggs = suppliedSpecs.map(s =>
                (if (s.step > 0) fmax(col(s.name)) else fmin(col(s.name)))
                  .as(s"__wm_${s.name}"))
              val row = pinned.agg(aggs.head, aggs.tail: _*).collect()(0)
              suppliedSpecs.zipWithIndex.flatMap { case (s, i) =>
                if (row.isNullAt(i)) None
                else {
                  val got = row.getLong(i)
                  val next = s.wm match {
                    case Some(o) =>
                      if (s.step > 0) math.max(o, got) else math.min(o, got)
                    case None => got
                  }
                  if (s.wm.contains(next)) None else Some(s.name -> next)
                }
              }.toMap
            }
          identityWm = assignedWm ++ suppliedWm
          assigned
        }

      val entries = affected.toSeq.map(byQualified)
      val pub = new StagedPublish(fs, root)
      try OptimisticCommit.cleaningUp(pub.cleanup()) {
        val now = System.currentTimeMillis()
        // rewritten = affected files with clause-deleted rows dropped
        // and clause-updated rows transformed, plus the inserts
        def keptTransformed(d: DataFrame): DataFrame =
          disposed(d)
            .where(!hitsDelete("__mi", mDeletes) &&
              !hitsDelete("__si", sDeletes))
            .select(schema.fields.map(newVal).toSeq: _*)
        // MERGE-ON-READ mode: strike clause-hit rows (updates AND
        // deletes) with merged deletion vectors, append only the
        // transformed rows + inserts — O(changed rows); otherwise CoW
        val dvMode = st.configuration
          .get("delta.enableDeletionVectors").contains("true")
        // GUARANTEED row-tracking tables MATERIALIZE through the merge:
        // clause-updated rows keep their id (commit version inherits
        // the new add's), carried rows keep both, inserts take fresh
        // ids by assignment
        val mat = rowIdMaterialization(spark, root, st, schema,
          partCols, dataSchema, refuseW)
        def updHit = hitsUpdate("__mi", mDeletes) ||
          hitsUpdate("__si", sDeletes)
        def matMergeCols(idN: String, rcvN: String)
            : Seq[org.apache.spark.sql.Column] = Seq(
          col("__rowid").as(idN),
          org.apache.spark.sql.functions.when(updHit,
            lit(null).cast("long")).otherwise(col("__rowrcv")).as(rcvN))
        def insertsWith(matOpt: Option[(String, String, _)]): DataFrame =
          matOpt match {
            case Some((idN, rcvN, _)) => inserts
              .withColumn(idN, lit(null).cast("long"))
              .withColumn(rcvN, lit(null).cast("long"))
            case None => inserts
          }
        var dvAdds: Seq[(String, Map[String, String], Long,
          DeletionVectors.Descriptor)] = Nil
        val rewritten =
          if (entries.isEmpty) insertsWith(mat)
          else if (!dvMode) mat match {
            case Some((idN, rcvN, matScan)) =>
              disposed(matScan(entries))
                .where(!hitsDelete("__mi", mDeletes) &&
                  !hitsDelete("__si", sDeletes))
                .select(schema.fields.map(newVal).toSeq ++
                  matMergeCols(idN, rcvN): _*)
                .unionByName(insertsWith(mat))
            case None =>
              keptTransformed(liveScan(entries)).unionByName(inserts)
          }
          else {
            val livePos = liveMutationScan(spark, root, st, schema,
              partCols, dataSchema, withPos = true)
            mat match {
              case Some((idN, rcvN, matScan)) =>
                val dd = disposed(matScan(entries))
                dvAdds = writeMergedDvs(spark, root, dataSchema, entries,
                  dd.where(col("__mi") =!= -1 || col("__si") =!= -1)
                    .select(col("__file"), col("__pos")), pub)
                dd.where(updHit)
                  .select(schema.fields.map(newVal).toSeq ++ Seq(
                    col("__rowid").as(idN),
                    lit(null).cast("long").as(rcvN)): _*)
                  .unionByName(insertsWith(mat))
              case None =>
                val dd = disposed(livePos(entries))
                dvAdds = writeMergedDvs(spark, root, dataSchema, entries,
                  dd.where(col("__mi") =!= -1 || col("__si") =!= -1)
                    .select(col("__file"), col("__pos")), pub)
                dd.where(updHit)
                  .select(schema.fields.map(newVal).toSeq: _*)
                  .unionByName(inserts)
            }
          }

        // enforce the table's declared obligations over everything
        // this merge writes (transformed + carried + inserted rows) —
        // the same single-aggregate pass appendToDelta runs, plus
        // generated-column consistency (verified, not recomputed)
        enforceChecks(rewritten,
          tableChecks(st, schema, refuseW) ++
            generatedConsistencyChecks(schema, "MERGE") ++
            notNullChecks(schema,
              schema.fields.toSeq.filterNot(_.nullable).map(_.name)),
          refuseW)

        val (physRewritten, physPartCols, physDataSchema) =
          physicalWrite(spark, st, schema, partCols, rewritten)
        val staging = pub.staging("merge")
        val addStats = DeltaStats.writeWithStats(
          Sizing.distributeForWrite(physRewritten, physPartCols),
          staging.toString, physPartCols, physDataSchema)
        val staged = pub.publish(staging)
        if (staged.isEmpty && entries.isEmpty) {
          // empty source, nothing matched: no-op
          st.version
        } else {

          var cdcAdds: Seq[(String, Long)] = Nil
          if (cdfEnabled) {
            val d = if (entries.isEmpty) None
              else Some(disposed(liveScan(entries)))
            def updCond = hitsUpdate("__mi", mDeletes) ||
              hitsUpdate("__si", sDeletes)
            def delCond = hitsDelete("__mi", mDeletes) ||
              hitsDelete("__si", sDeletes)
            val pre = d.map(_.where(updCond)
              .select(schema.fieldNames.map(col).toSeq: _*)
              .withColumn("_change_type", lit("update_preimage")))
            val post = d.map(_.where(updCond)
              .select(schema.fields.map(newVal).toSeq: _*)
              .withColumn("_change_type", lit("update_postimage")))
            val dels = d.map(_.where(delCond)
              .select(schema.fieldNames.map(col).toSeq: _*)
              .withColumn("_change_type", lit("delete")))
            val ins = inserts.withColumn("_change_type", lit("insert"))
            val (cdc, cdcPartCols, _) = physicalWrite(spark, st, schema,
              partCols, (pre.toSeq ++ post.toSeq ++ dels.toSeq :+ ins)
                .reduce(_.unionByName(_)))
            cdcAdds = writeCdc(pub, cdc, cdcPartCols)
          }
          val metaAction =
            if (identityWm.isEmpty) None
            else {
              val schemaWithWm = StructType(schema.fields.map { f =>
                identityWm.get(f.name).map { wm =>
                  f.copy(metadata = new org.apache.spark.sql.types
                    .MetadataBuilder().withMetadata(f.metadata)
                    .putLong("delta.identity.highWaterMark", wm).build())
                }.getOrElse(f)
              })
              Some(metaDataActionJson(schemaWithWm, partCols,
                st.configuration, mergeColl, now))
            }
          commitDelete(io, logDir, st, now,
            s"merge on (${keys.mkString(", ")})",
            entries.map { case (p, (pv, _)) => (p, pv) }, staged, cdcAdds,
            physPartCols, operation = "MERGE", dvAdds = dvAdds,
            statsOf = p => addStats.get(p).orElse(st.stats.get(p)),
            metaDataAction = metaAction)
        }
      } finally {
        pinnedInserts.foreach(_.unpersist(false))
      }
    }
  }


  /** OPTIMIZE (bin-packing compaction) of an existing Delta table
    * (foreign or mirrored): per partition, files smaller than
    * `targetFileBytes` are bin-packed (first-fit decreasing) and
    * rewritten as fewer, larger files; a file carrying a deletion
    * vector is always eligible and its DV is MATERIALIZED away (the
    * compacted file holds only live rows, the add carries no DV) —
    * exactly Delta's own OPTIMIZE behavior. The commit's remove+add
    * actions all carry `dataChange=false`: no logical rows change, so
    * CDF reads skip the commit and a streaming tail emits nothing.
    *
    * Row contents are untouched, so constraints / invariants /
    * generated columns / append-only don't gate this (Delta allows
    * OPTIMIZE on append-only tables); COLUMN-MAPPED tables (name and
    * id mode) compact correctly — physical-name scan + physical
    * rewrite, see [[deleteFromDelta]]. A table with
    * nothing to compact (no partition holds two sub-target files or a
    * DV carrier) is a no-op. Lost version races restart against the
    * fresh state. Returns the committed (or current) version.
    *
    * `zorderBy` switches to OPTIMIZE ZORDER BY: EVERY live file is
    * rewritten (re-clustering is a full rewrite, as in Delta itself),
    * rows range-clustered by (partition cols, Z-value) into
    * ceil(live bytes / target) files — one column sorts linearly, 2+
    * columns quantize to a global min/max grid and bit-interleave
    * (the same Z-curve [[GraftTable.clusterZOrder]] uses), so a
    * point/range predicate on ANY Z column touches few files once
    * engines skip by per-file min/max stats. Same dataChange=false /
    * DV-materializing / CDF-silent commit shape. */
  /** Columns of a `delta.clustering` domain configuration —
    * `{"clusteringColumns":[["c1"],["a","b"]]}` (each entry a physical
    * name path; nested paths join with '.'). */
  private[sources] def clusteringColumnsOf(cfg: String): Seq[String] = {
    if (cfg == null || cfg.isEmpty) return Nil
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(cfg).path("clusteringColumns")
    val b = Seq.newBuilder[String]
    val it = node.elements()
    while (it.hasNext) {
      val e = it.next()
      if (e.isArray) {
        val parts = Seq.newBuilder[String]
        val pit = e.elements()
        while (pit.hasNext) parts += pit.next().asText()
        b += parts.result().mkString(".")
      } else b += e.asText()
    }
    b.result()
  }

  def optimizeDelta(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20,
      zorderBy: Seq[String] = Nil): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(zorderBy.distinct.size == zorderBy.size,
      s"duplicate z-order columns: ${zorderBy.mkString(", ")}")
    val root = new HPath(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val io = new TableIO(path, conf)
    val logDir = new HPath(root, "_delta_log")
    require(fs.exists(logDir), s"no Delta log at $path — optimizeDelta " +
      "compacts existing tables")
    def refuseW(what: String): Nothing =
      throw new IllegalArgumentException(
        s"cannot optimize Delta table at $path: $what — compact it with " +
          "a full Delta client")
    val Harmless = HarmlessWriterFeatures

    OptimisticCommit.retry("optimizeDelta", path) { _ =>
      val coll = new CheckpointCollector()
      val st = replaySnapshot(spark, path, None, Some(coll))
      // Delta liquid clustering: with no explicit zorderBy, a CLUSTER BY
      // table (delta.clustering domain — Delta 3.2's clustered-table
      // state) re-clusters by its DECLARED columns, matching Delta's own
      // OPTIMIZE behavior on clustered tables; plain tables bin-pack.
      // clustering-domain column paths are PHYSICAL names — translate
      // back to the declared schema for the logical-named scan; an
      // explicit zorderBy is logical already
      val declaredZ = coll.domains.get("delta.clustering")
        .collect { case (cfg, removed) if !removed =>
          clusteringColumnsOf(cfg) }
        .getOrElse(Nil)
      val schemaForZ =
        DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
      val zLogOf: Map[String, String] =
        if (st.colMapMode == "none") Map.empty
        else schemaForZ.fields.map(f =>
          physicalField(f, withIds = false).name -> f.name).toMap
      val zCols =
        if (zorderBy.nonEmpty) zorderBy
        else declaredZ.map(c => zLogOf.getOrElse(c, c))
      // column mapping (name or id mode) is handled, not refused —
      // see deleteFromDelta: physical-name scan + physicalWrite
      if (st.minWriter > 7)
        refuseW(s"the table requires writer protocol ${st.minWriter}")
      if (st.minWriter == 7) {
        val unknown = st.writerFeatures.filterNot(Harmless.contains)
        if (unknown.nonEmpty)
          refuseW("the table requires writer features " +
            s"[${unknown.mkString(", ")}] this writer does not implement")
      }
      val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
      val partCols = st.partCols
      val dataSchema =
        StructType(schema.filterNot(f => partCols.contains(f.name)))
      // driver-side metadata stat of candidate sizes — O(state), the
      // same price every engine's OPTIMIZE planner pays
      val sized = st.active.map { e =>
        (e, fs.getFileStatus(new HPath(resolveFile(root, e._1))).getLen)
      }
      // first-fit-decreasing bins per partition: a partition compacts
      // when it holds 2+ sub-target files or any DV carrier (whose DV
      // gets materialized). Z-order mode instead rewrites EVERY live
      // file (re-clustering is a full rewrite, as in Delta's own
      // OPTIMIZE ZORDER BY).
      val binOf = scala.collection.mutable.Map[String, Int]()
      var nBins = 0
      if (zCols.isEmpty)
        sized.groupBy(_._1._2._1).valuesIterator.foreach { es =>
          val eligible = es.filter { case ((_, (_, dv)), len) =>
            len < targetFileBytes || dv.isDefined }
          if (eligible.size >= 2 || eligible.exists(_._1._2._2.isDefined)) {
            val open = scala.collection.mutable.Buffer[(Int, Long)]()
            eligible.sortBy(-_._2).foreach { case ((p, _), len) =>
              open.indexWhere(_._2 >= len) match {
                case -1 =>
                  open += ((nBins, math.max(0L, targetFileBytes - len)))
                  binOf(p) = nBins
                  nBins += 1
                case i =>
                  binOf(p) = open(i)._1
                  open(i) = (open(i)._1, open(i)._2 - len)
              }
            }
          }
        }
      else {
        zCols.foreach(c => require(dataSchema.fieldNames.contains(c),
          s"z-order column '$c' is not a data column of $path"))
        nBins = math.max(1, math.ceil(
          sized.map(_._2).sum.toDouble / targetFileBytes).toInt)
      }
      val rewriteAll = zCols.nonEmpty && st.active.nonEmpty
      if (binOf.isEmpty && !rewriteAll) {
        st.version // nothing to compact
      } else {
        val byPath = st.active.toMap
        val entries =
          if (rewriteAll) st.active
          else binOf.keys.toSeq.sorted.map(p => (p, byPath(p)))
        val liveScan = liveMutationScan(spark, root, st, schema, partCols,
          dataSchema)
        import spark.implicits._
        // GUARANTEED row-tracking tables MATERIALIZE both id and commit
        // version through the rewrite — rows are unchanged, both stand
        val mat = rowIdMaterialization(spark, root, st, schema,
          partCols, dataSchema, refuseW)
        def scanWithIds(es: Seq[(String, (Map[String, String],
            Option[DeletionVectors.Descriptor]))]): DataFrame =
          mat match {
            case Some((idN, rcvN, matScan)) => matScan(es)
              .withColumn(idN, col("__rowid"))
              .withColumn(rcvN, col("__rowrcv"))
            case None => liveScan(es)
          }
        val outCols = schema.fieldNames.map(col).toSeq ++
          mat.toSeq.flatMap { case (idN, rcvN, _) =>
            Seq(col(idN), col(rcvN)) }
        val compacted = if (zCols.isEmpty) {
          val qualifiedBin = entries.map { case (p, _) =>
            // joined against the scan's __file (= _metadata.file_path)
            (fileMetaPath(resolveFile(root, p), conf), binOf(p))
          }
          val binMap = qualifiedBin.toDF("__file", "__bin")
          scanWithIds(entries)
            .join(org.apache.spark.sql.functions.broadcast(binMap),
              Seq("__file"))
            .repartition(math.max(1, nBins), col("__bin"))
            .select(outCols: _*)
        } else {
          // range-cluster by (partition cols, Z-value): each hive
          // partition's rows land contiguous and Z-ordered, file count
          // sized by total live bytes / target
          val rows = scanWithIds(entries)
          rows.withColumn("__z", zValueColumn(rows, zCols))
            .repartitionByRange(nBins,
              (partCols.map(col) :+ col("__z")): _*)
            .sortWithinPartitions(
              (partCols.map(col) :+ col("__z")): _*)
            .select(outCols: _*)
        }
        val pub = new StagedPublish(fs, root)
        OptimisticCommit.cleaningUp(pub.cleanup()) {
          val now = System.currentTimeMillis()
          // fresh in-flight stats per compacted file — after a Z-order
          // rewrite these are what make the clustering skippable
          val (physCompacted, physPartCols, physDataSchema) =
            physicalWrite(spark, st, schema, partCols, compacted)
          val staging = pub.staging("optimize")
          val addStats = DeltaStats.writeWithStats(physCompacted,
            staging.toString, physPartCols, physDataSchema)
          val staged = pub.publish(staging)
          commitDelete(io, logDir, st, now,
            s"optimize targetSize=$targetFileBytes" +
              (if (zCols.nonEmpty)
                s" zOrderBy=[${zCols.mkString(",")}]" else ""),
            entries.map { case (p, (pv, _)) => (p, pv) }, staged, Nil,
            physPartCols, operation = "OPTIMIZE", dataChange = false,
            statsOf = addStats.get)
        }
      }
    }
  }

  /** Z-clustering key over `cols` of `df`: one column sorts by its
    * raw value (type-preserving); 2+ columns quantize each to a
    * min/max-scaled 2^bits grid (one driver-side agg over the live
    * rows) and bit-interleave into a Long Z-value. Null or
    * constant-valued columns contribute cell 0 — degraded clustering,
    * never wrong data. */
  private[sources] def zValueColumn(df: DataFrame,
      cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{min, max, coalesce, least,
      greatest, width_bucket, shiftleft, shiftright}
    if (cols.size == 1) return col(cols.head)
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double").as(s"mn_$c"),
        max(col(c)).cast("double").as(s"mx_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val bits = math.min(16, 63 / cols.size)
    val nb = 1L << bits
    val cells = cols.zipWithIndex.map { case (c, i) =>
      if (row.isNullAt(2 * i) || row.isNullAt(2 * i + 1)) lit(0L)
      else {
        val mn = row.getDouble(2 * i); val mx = row.getDouble(2 * i + 1)
        if (!(mx > mn)) lit(0L)
        else coalesce(
          least(greatest(
            width_bucket(col(c).cast("double"), lit(mn), lit(mx), lit(nb))
              - 1, lit(0L)), lit(nb - 1)),
          lit(0L))
      }
    }
    (0 until bits).foldLeft(lit(0L)) { (acc, bit) =>
      cells.zipWithIndex.foldLeft(acc) { case (a, (cell, j)) =>
        a.bitwiseOR(shiftleft(
          shiftright(cell, bit).bitwiseAND(lit(1L)), bit * cols.size + j))
      }
    }
  }

  /** Write a CLASSIC parquet checkpoint (+ `_last_checkpoint`) for an
    * existing Delta table (foreign or graft-written) at its current
    * version — the maintenance companion to [[appendToDelta]] /
    * [[mergeDelta]] / [[optimizeDelta]]: a long graft-written
    * `_delta_log` otherwise replays every JSON commit on every read,
    * and engines can only clean old commits once a checkpoint covers
    * them. The checkpoint carries the full protocol (reader AND writer
    * halves, incl. feature lists), the complete metaData identity
    * (id/name/description/createdTime — preserved, not regenerated),
    * every active add with its partitionValues and deletionVector
    * (sizes statted from storage), unexpired remove tombstones, and
    * setTransaction watermarks — the whole per-action state the
    * protocol's Checkpoints section requires, so foreign streaming
    * writers' exactly-once txn state survives the compaction.
    *
    * Refuses rather than drop state: delta.checkpointPolicy=v2 tables,
    * histories whose base is itself a v2 checkpoint (its sidecar
    * tombstones/txns aren't re-read here), domainMetadata carriers,
    * and unknown writer features. Column mapping is fine — adds and
    * schemaString pass through exactly as the log recorded them.
    * Checkpointing commits no version (a concurrent writer landing
    * v+1 stays fully consistent). Returns the checkpointed version. */
  def checkpointDelta(spark: SparkSession, path: String): Long = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val root = new HPath(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val logDir = new HPath(root, "_delta_log")
    require(fs.exists(logDir), s"no Delta log at $path")
    def refuseW(what: String): Nothing = throw new IllegalArgumentException(
      s"cannot checkpoint Delta table at $path: $what — checkpoint it " +
        "with a full Delta client")
    val coll = new CheckpointCollector()
    val st = replaySnapshot(spark, path, None, Some(coll))
    // v2-checkpoint tables (explicit policy, or a base state that was
    // already v2) get a UUID-named v2 checkpoint with sidecar file
    // actions; everything else gets the classic single-/multi-part one
    val wantV2 =
      st.configuration.get("delta.checkpointPolicy").contains("v2") ||
        coll.baseWasV2
    if (st.minWriter > 7)
      refuseW(s"the table requires writer protocol ${st.minWriter}")
    if (st.minWriter == 7) {
      val Harmless = HarmlessWriterFeatures
      val unknown = st.writerFeatures.filterNot(Harmless.contains)
      if (unknown.nonEmpty)
        refuseW("the table requires writer features " +
          s"[${unknown.mkString(", ")}] whose checkpoint state is unknown " +
          "to this writer")
    }

    val dvType = StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", LongType),
      StructField("sizeInBytes", LongType),
      StructField("cardinality", LongType)))
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("deletionVector", dvType),
      StructField("stats", StringType)))
    val removeType = StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType)))
    val metaType = StructType(Seq(
      StructField("id", StringType),
      StructField("name", StringType),
      StructField("description", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))
    val protoType = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))
    val txnType = StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType),
      StructField("lastUpdated", LongType)))
    // domainMetadata rides the checkpoint (latest action per domain,
    // removed tombstones included) so clustering / row-tracking state
    // survives log cleanup — the refusal this replaced predates domain
    // tracking in the collector
    val dmType = StructType(Seq(
      StructField("domain", StringType),
      StructField("configuration", StringType),
      StructField("removed", BooleanType)))
    val cpSchema = StructType(Seq(
      StructField("protocol", protoType),
      StructField("metaData", metaType),
      StructField("txn", txnType),
      StructField("add", addType),
      StructField("remove", removeType),
      StructField("domainMetadata", dmType)))

    val rows = new java.util.ArrayList[Row]()
    rows.add(Row(Row(coll.minReader, st.minWriter,
      if (coll.readerFeatures.nonEmpty) coll.readerFeatures else null,
      if (st.writerFeatures.nonEmpty) st.writerFeatures else null),
      null, null, null, null, null))
    rows.add(Row(null, Row(
      coll.metaId.getOrElse(java.util.UUID.randomUUID().toString),
      coll.metaName.orNull, coll.metaDescription.orNull,
      Row("parquet", Map.empty[String, String]), st.schemaJson,
      st.partCols, st.configuration,
      coll.createdTime.map(Long.box).orNull), null, null, null, null))
    coll.txns.foreach { case (app, (txv, lu)) =>
      rows.add(Row(null, null, Row(app, txv, lu.map(Long.box).orNull),
        null, null, null))
    }
    coll.domains.foreach { case (d, (cfg, removed)) =>
      rows.add(Row(null, null, null, null, null, Row(d, cfg, removed)))
    }
    st.active.foreach { case (p, (pv, dv)) =>
      val stt =
        try fs.getFileStatus(new HPath(resolveFile(root, p)))
        catch {
          case _: java.io.FileNotFoundException =>
            refuseW(s"active file '$p' is missing on storage — a " +
              "checkpoint of a partial state would silently drop it")
        }
      val dvRow = dv.map(d => Row(d.storageType, d.pathOrInlineDv,
        d.offset.map(Long.box).orNull, d.sizeInBytes, d.cardinality)).orNull
      rows.add(Row(null, null, null,
        Row(encodePath(p), pv, stt.getLen, stt.getModificationTime,
          false, dvRow, st.stats.get(p).orNull), null, null))
    }
    val activePaths = st.active.map(_._1).toSet
    coll.tombstones.filterNot(t => activePaths.contains(t._1))
      .foreach { case (p, ts) =>
        rows.add(Row(null, null, null, null,
          Row(encodePath(p), ts, false), null))
      }
    if (!wantV2) {
      publishCheckpointParts(spark, fs, logDir, st.version, rows, cpSchema)
      return st.version
    }

    // ---- v2 checkpoint (PROTOCOL.md "V2 Checkpoint Table Feature"):
    // file actions go to a `_delta_log/_sidecars/` parquet named by a
    // `sidecar` action; the UUID-named top-level file carries
    // checkpointMetadata + protocol + metaData + txn + the sidecar
    // pointer. Our own v2 replay (and any modern Delta reader)
    // reconstructs the state from exactly these pieces. ----
    import scala.jdk.CollectionConverters._
    val (fileRows, metaRows) = rows.asScala.toSeq.partition(r =>
      !r.isNullAt(3) || !r.isNullAt(4))
    def writeSingleParquet(slice: Seq[Row], schema2: StructType,
        target: HPath): Long = {
      val tmp = new HPath(logDir,
        s".cpv2-${st.version}-${java.util.UUID.randomUUID()}")
      spark.createDataFrame(slice.asJava, schema2).repartition(1)
        .write.parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"no checkpoint part under $tmp"))
      fs.mkdirs(target.getParent)
      if (!fs.rename(part, target) && !fs.exists(target))
        throw new java.io.IOException(s"could not publish $target")
      fs.delete(tmp, true)
      fs.getFileStatus(target).getLen
    }
    val sidecarSchema = StructType(Seq(
      StructField("add", addType), StructField("remove", removeType)))
    val sidecarName = s"${java.util.UUID.randomUUID()}.parquet"
    val sidecarPath = new HPath(new HPath(logDir, "_sidecars"), sidecarName)
    val sidecarSize = writeSingleParquet(
      fileRows.map(r => Row(r.get(3), r.get(4))), sidecarSchema, sidecarPath)
    val cpMetaType = StructType(Seq(StructField("version", LongType)))
    val sidecarActType = StructType(Seq(
      StructField("path", StringType),
      StructField("sizeInBytes", LongType),
      StructField("modificationTime", LongType)))
    val topSchema = StructType(Seq(
      StructField("checkpointMetadata", cpMetaType),
      StructField("protocol", protoType),
      StructField("metaData", metaType),
      StructField("txn", txnType),
      StructField("sidecar", sidecarActType),
      StructField("domainMetadata", dmType)))
    val now = System.currentTimeMillis()
    val topRows = Seq(
      Row(Row(st.version), null, null, null, null, null),
      Row(null, null, null, null,
        Row(sidecarName, sidecarSize, now), null)) ++
      metaRows.map(r =>
        Row(null, r.get(0), r.get(1), r.get(2), null, r.get(5)))
    writeSingleParquet(topRows, topSchema, new HPath(logDir,
      f"${st.version}%020d.checkpoint.${java.util.UUID.randomUUID()
        .toString.replace("-", "")}.parquet"))
    // _last_checkpoint names the version (no `parts`); the reader's
    // UUID-name discovery works even without it
    val lcPath = new HPath(logDir, "_last_checkpoint")
    val tmpLc = new HPath(logDir,
      s"._last_checkpoint-${java.util.UUID.randomUUID()}.tmp")
    val lastCp = fs.create(tmpLc, false)
    try lastCp.write(
      ("{\"version\":" + st.version + ",\"size\":" + rows.size() + "}")
        .getBytes(StandardCharsets.UTF_8))
    finally lastCp.close()
    fs.delete(lcPath, false)
    if (!fs.rename(tmpLc, lcPath)) fs.delete(tmpLc, false)
    st.version
  }

  /** Delete JSON commits (and superseded checkpoint files) a classic
    * checkpoint already covers — the Delta "metadata cleanup"
    * maintenance step, safe only behind a checkpoint: every commit
    * `<= checkpointVersion - retainVersions` whose state the newest
    * complete checkpoint at-or-before that bound subsumes is removed.
    * With the default `retainVersions = 0`, everything up to and
    * including the newest checkpoint's version goes (time travel to
    * those versions stops working — same trade Delta's own
    * log-retention cleanup makes). Never touches data files (that is
    * VACUUM's job), `_last_checkpoint`, or any commit newer than the
    * checkpoint. Returns the number of files deleted. */
  def cleanupDeltaLog(spark: SparkSession, path: String,
      retainVersions: Int = 0): Int = {
    require(retainVersions >= 0, "retainVersions must be >= 0")
    val root = new HPath(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new HPath(root, "_delta_log")
    require(fs.exists(logDir), s"no Delta log at $path")
    val names = fs.listStatus(logDir).toSeq.map(_.getPath.getName)
    val cps = completedCheckpoints(fs, logDir)
    if (cps.isEmpty) return 0
    val latestCp = cps.keys.max
    val cutoff = latestCp - retainVersions
    // the newest complete checkpoint at-or-before the cutoff subsumes
    // every earlier commit; keep everything after it
    val baseCp = cps.keys.filter(_ <= cutoff).maxOption.getOrElse(return 0)
    var deleted = 0
    names.foreach { n =>
      val isCommit = n.matches("\\d{20}\\.json")
      // superseded checkpoints: classic, multi-part, and v2 UUID-named
      // top-level files. Sidecars under _delta_log/_sidecars/ are
      // never touched — foreign checkpoints may SHARE sidecar files,
      // so deleting them could break a retained checkpoint; orphaned
      // sidecars are bounded by checkpoint count and metadata-sized.
      val isCp =
        n.matches("\\d{20}\\.checkpoint(\\.\\d{10}\\.\\d{10})?\\.parquet") ||
          n.matches("\\d{20}\\.checkpoint\\.[^.]+\\.parquet")
      if (isCommit || isCp) {
        val v = n.take(20).toLong
        val drop =
          if (isCommit) v <= baseCp
          else v < baseCp // keep the base checkpoint itself
        if (drop && fs.delete(new HPath(logDir, n), false)) deleted += 1
      }
    }
    deleted
  }

  /** VACUUM an existing Delta table: physically delete files under the
    * table directory that the CURRENT version no longer references
    * (CoW rewrite leftovers, compacted-away originals, orphaned
    * writes) and whose modification time is older than `retentionMs`
    * (default 7 days — Delta's own retention floor, protecting
    * concurrent readers of recent versions and in-flight writers'
    * staged files). Active data files and their on-disk deletion
    * vectors are never touched; neither are hidden (`_`/`.`) files and
    * directories — `_delta_log` and `_change_data` stay intact — with
    * one exception: crashed graft staging dirs (`_graft_*`) are
    * vacuum debris and age out like data. Time travel to versions
    * whose files were vacuumed stops working, the same trade Delta's
    * VACUUM makes. Returns the number of files deleted. */
  def vacuumDelta(spark: SparkSession, path: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Long = {
    require(retentionMs >= 0, "retentionMs must be >= 0")
    val root = new HPath(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new HPath(root, "_delta_log")),
      s"no Delta log at $path")
    val st = replaySnapshot(spark, path, None)
    val cutoff = System.currentTimeMillis() - retentionMs
    def canon(p: HPath): String = fs.makeQualified(p).toString
    val keep = scala.collection.mutable.Set[String]()
    st.active.foreach { case (p, (_, dv)) =>
      keep += canon(new HPath(resolveFile(root, p)))
      dv.foreach(d => if (d.storageType != "i")
        keep += canon(DeletionVectors.dvFilePath(root, d)))
    }
    // a dual-published root (UniForm shape) carries Iceberg metadata
    // in `metadata/` — invisible to the Delta log, never vacuumable
    def isIcebergMetaDir(p: HPath): Boolean =
      p.getName == "metadata" &&
        (fs.exists(new HPath(p, "version-hint.text")) ||
          fs.listStatus(p).exists(
            _.getPath.getName.matches("v\\d+\\.metadata\\.json")))
    var deleted = 0L
    def walk(dir: HPath): Unit =
      fs.listStatus(dir).foreach { s =>
        val n = s.getPath.getName
        val hidden = n.startsWith("_") || n.startsWith(".")
        if (s.isDirectory) {
          if ((!hidden || n.startsWith("_graft_")) &&
              !isIcebergMetaDir(s.getPath)) {
            walk(s.getPath)
            if (fs.listStatus(s.getPath).isEmpty)
              fs.delete(s.getPath, false)
          }
        } else if (!hidden &&
            !keep.contains(canon(s.getPath)) &&
            s.getModificationTime < cutoff &&
            fs.delete(s.getPath, false)) deleted += 1
      }
    walk(root)
    deleted
  }

  /** The shared row-level-mutation scan: open a set of snapshot files
    * with deletion-vector rows filtered out, partition-value literals
    * attached, and a `__file` column carrying each row's QUALIFIED
    * data-file path — the detection/rewrite primitive
    * [[deleteFromDelta]] and [[updateDelta]] build on. */
  /** Stats/partition-value pruning for the DML detection scans: keep
    * only active files that MAY hold a row where `conjs` all hold
    * (per-file min/max/nullCount from add-action stats, plus literal
    * partition values). Files without stats always survive — skipping
    * is an optimization, never a semantics change. */
  private def pruneCandidates(st: DeltaSnapshot, schema: StructType,
      conjs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[(String, (Map[String, String],
        Option[DeletionVectors.Descriptor]))] = {
    // column-mapped tables record partitionValues and stats under
    // PHYSICAL names; the conjuncts reference logical names. Rename
    // the per-file metadata back to logical so the bounds test keeps
    // pruning (top-level keys only — stats are top-level by design).
    // mayMatch treats an unmapped/absent key as UNKNOWN, so a name
    // this translation misses keeps the file — conservative.
    val logOf: Map[String, String] =
      if (st.colMapMode == "none") Map.empty
      else schema.fields.map(f =>
        physicalField(f, withIds = false).name -> f.name).toMap
    def toLogicalPv(pv: Map[String, String]): Map[String, String] =
      if (logOf.isEmpty) pv
      else pv.map { case (k, v) => logOf.getOrElse(k, k) -> v }
    def toLogicalStats(json: String): String =
      if (logOf.isEmpty) json
      else scala.util.Try {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val node = om.readTree(json)
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        Seq("minValues", "maxValues", "nullCount").foreach { sect =>
          node.get(sect) match {
            case o: com.fasterxml.jackson.databind.node.ObjectNode =>
              val renamed = om.createObjectNode()
              o.fields().forEachRemaining { e =>
                renamed.set[com.fasterxml.jackson.databind.JsonNode](
                  logOf.getOrElse(e.getKey, e.getKey), e.getValue): Unit
              }
              node.set[com.fasterxml.jackson.databind.JsonNode](
                sect, renamed): Unit
            case _ => ()
          }
        }
        om.writeValueAsString(node)
      }.getOrElse(json)
    st.active.filter { case (p, (pv, _)) =>
      DeltaStats.mayMatch(conjs, schema, st.partCols, toLogicalPv(pv),
        st.stats.get(p).map(toLogicalStats))
    }
  }

  /** Physical projection for REWRITE writes on a column-mapped table:
    * the frame's table columns rename to their physical names at
    * every nesting level (id mode additionally stamps
    * `parquet.field.id`), extra non-table columns (materialized row
    * ids, `_change_type`) pass through literally, and the returned
    * partition-column names / data schema are the PHYSICAL ones the
    * hive layout, partitionValues keys, and stats JSON must carry per
    * the protocol's writer requirements. Identity on unmapped
    * tables. */
  private def physicalWrite(spark: SparkSession, st: DeltaSnapshot,
      schema: StructType, partCols: Seq[String], df: DataFrame)
      : (DataFrame, Seq[String], StructType) = {
    val dataSchema =
      StructType(schema.filterNot(f => partCols.contains(f.name)))
    if (st.colMapMode == "none") (df, partCols, dataSchema)
    else {
      val withIds = st.colMapMode == "id"
      if (withIds)
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
      val physFieldOf: Map[String, StructField] =
        schema.fields.map(f => f.name -> physicalField(f, withIds)).toMap
      val outCols = df.schema.fields.map { f =>
        physFieldOf.get(f.name) match {
          case Some(pf) =>
            col(f.name).cast(pf.dataType).as(pf.name, pf.metadata)
          case None => col(f.name)
        }
      }
      (df.select(outCols.toSeq: _*),
        partCols.map(pc => physFieldOf(pc).name),
        StructType(dataSchema.fields.map(physicalField(_, withIds))))
    }
  }

  /** TEST HOOK: the file paths the DELETE/UPDATE detection scan for
    * `condition` would read at `path` — exactly the pruning
    * [[deleteFromDelta]]/[[updateDelta]] apply, observable without
    * committing anything. */
  private[graft] def candidateFiles(spark: SparkSession, path: String,
      condition: Column): Seq[String] = {
    val st = replaySnapshot(spark, path, None)
    val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
    pruneCandidates(st, schema,
      DeltaStats.conjuncts(spark, schema, condition)).map(_._1)
  }

  /** TEST HOOK: active-path → stats JSON of the current snapshot. */
  /** TEST HOOK / reader: the current rows of a GUARANTEED
    * row-tracking table with `_row_id` / `_row_commit_version`
    * resolved per the protocol (materialized value when the file
    * carries one, else baseRowId + position / the add's default). */
  private[graft] def readDeltaWithRowIds(spark: SparkSession,
      path: String): DataFrame = {
    val root = new HPath(path)
    val st = replaySnapshot(spark, path, None)
    val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
    val partCols = st.partCols
    val dataSchema =
      StructType(schema.filterNot(f => partCols.contains(f.name)))
    def refuse(m: String): Nothing = throw new IllegalArgumentException(m)
    val (_, _, matScan) = rowIdMaterialization(spark, root, st, schema,
      partCols, dataSchema, refuse).getOrElse(
      refuse(s"table at $path does not guarantee row tracking"))
    matScan(st.active)
      .select(schema.fieldNames.map(col) ++ Seq(
        col("__rowid").as("_row_id"),
        col("__rowrcv").as("_row_commit_version")): _*)
  }

  /** TEST HOOK: the table's declared writer features. */
  private[graft] def deltaWriterFeatures(spark: SparkSession,
      path: String): Seq[String] =
    replaySnapshot(spark, path, None).writerFeatures

  /** TEST HOOK: active path → (baseRowId, defaultRowCommitVersion) +
    * the row-tracking high watermark. */
  private[graft] def deltaRowIds(spark: SparkSession, path: String)
      : (Map[String, (Option[Long], Option[Long])], Option[Long]) = {
    val st = replaySnapshot(spark, path, None)
    (st.rowIds, st.rowIdHighWaterMark)
  }

  private[graft] def deltaFileStats(spark: SparkSession,
      path: String): Map[String, String] =
    replaySnapshot(spark, path, None).stats

  private def liveMutationScan(spark: SparkSession, root: HPath,
      st: DeltaSnapshot, schema: StructType, partCols: Seq[String],
      dataSchema: StructType, withPos: Boolean = false)
      : Seq[(String, (Map[String, String],
        Option[DeletionVectors.Descriptor]))] => DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(p: String): String = fileMetaPath(p, conf)
    // column-mapped tables scan by PHYSICAL names (id mode: by field
    // id) and rename back to the declared schema AFTER the __file/
    // __pos/DV metadata ride — the detection predicates and rewrite
    // transforms downstream see logical names only. Extra non-table
    // columns in dataSchema (materialized row ids) carry no mapping
    // metadata and pass through physicalField unchanged.
    val mapped = st.colMapMode != "none"
    if (st.colMapMode == "id")
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val physDataSchema =
      if (mapped)
        StructType(dataSchema.fields.map(physicalField(_,
          st.colMapMode == "id")))
      else dataSchema
    val physPartName: Map[String, String] = partCols.map(pc =>
      pc -> (if (mapped) physicalField(schema(pc), withIds = false).name
             else pc)).toMap
    val bridge = org.apache.spark.sql.graftbridge.ColumnBridge
    val lookupMap = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String,
      DeletionVectors.Roaring64]()
    st.active.foreach { case (p, (_, dv)) =>
      dv.foreach(d => lookupMap.put(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          qualified(resolveFile(root, p))),
        DeletionVectors.load(conf, root, d)))
    }
    val dvLookup = new DvLookup(lookupMap)
    entries =>
      // ONE scan of the requested files (the old per-partition-group
      // unionByName assembly re-analyzed the accumulated plan per
      // group — quadratic driver cost in group count; see
      // [[FilePartValue]]). Partition values re-attach per-file from
      // the log via the __file metadata column; recursiveFileLookup
      // disables hive-path inference since the file list spans
      // partition directories.
      (if (entries.isEmpty) None else Some(entries)).map { es =>
        val base = spark.read.schema(physDataSchema)
          .option("recursiveFileLookup", "true")
          .parquet(es.map(e => resolveFile(root, e._1)): _*)
        val dvPred = bridge.column(DvDeleted(
          bridge.expression(col("_metadata.file_path")),
          bridge.expression(col("_metadata.row_index")), dvLookup))
        val withMeta =
          if (withPos)
            base.withColumn("__file", col("_metadata.file_path"))
              .withColumn("__pos", col("_metadata.row_index"))
          else base.withColumn("__file", col("_metadata.file_path"))
        val live = withMeta.where(!dvPred)
        val logical =
          if (!mapped) live
          else live.select(dataSchema.fields.zip(physDataSchema.fields)
            .map { case (lf, pf) =>
              col(pf.name).cast(lf.dataType).as(lf.name) }.toSeq ++
            (col("__file") +:
              (if (withPos) Seq(col("__pos")) else Nil)): _*)
        if (partCols.isEmpty) logical
        else {
          val m = new java.util.HashMap[
            org.apache.spark.unsafe.types.UTF8String,
            Array[org.apache.spark.unsafe.types.UTF8String]]()
          es.foreach { case (p, (pv, _)) =>
            m.put(org.apache.spark.unsafe.types.UTF8String.fromString(
              qualified(resolveFile(root, p))),
              partCols.map(pc => pv.get(physPartName(pc))
                .map(org.apache.spark.unsafe.types.UTF8String.fromString)
                .orNull).toArray)
          }
          val pvLookup = new FileValueLookup(m)
          partCols.zipWithIndex.foldLeft(logical) { case (d, (pc, i)) =>
            d.withColumn(pc,
              bridge.column(FilePartValue(
                bridge.expression(col("__file")), i, pvLookup))
                .cast(schema(pc).dataType))
          }
        }
      }.getOrElse(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(dataSchema.fields ++
            partCols.map(pc => schema(pc)) ++
            (StructField("__file", org.apache.spark.sql.types.StringType) +:
              (if (withPos)
                 Seq(StructField("__pos", org.apache.spark.sql.types.LongType))
               else Nil)))))
  }

  /** Row-tracking MATERIALIZATION support for rewrites on tables
    * where ids are GUARANTEED stable (`delta.enableRowTracking`):
    * returns the materialized column names and a scan producing
    * dataSchema + partCols + `__file`/`__pos` + each row's CURRENT
    * `__rowid`/`__rowrcv` (the file's materialized value when present,
    * else baseRowId + position / the add's defaultRowCommitVersion).
    * None when the table does not guarantee stability (a merely
    * SUPPORTED table rewrites with fresh ranges per the protocol).
    * Tables enabled by a foreign writer without recording the
    * materialized column names refuse loudly — writing under invented
    * names would hide the ids from that writer. */
  private def rowIdMaterialization(spark: SparkSession, root: HPath,
      st: DeltaSnapshot, schema: StructType, partCols: Seq[String],
      dataSchema: StructType, refuseW: String => Nothing)
      : Option[(String, String,
        Seq[(String, (Map[String, String],
          Option[DeletionVectors.Descriptor]))] => DataFrame)] = {
    if (!st.configuration.get("delta.enableRowTracking").contains("true"))
      return None
    val idName = st.configuration.getOrElse(
      "delta.rowTracking.materializedRowIdColumnName",
      refuseW("the table guarantees stable row ids but records no " +
        "delta.rowTracking.materializedRowIdColumnName — rewrite it " +
        "with the writer that enabled row tracking"))
    val rcvName = st.configuration.getOrElse(
      "delta.rowTracking.materializedRowCommitVersionColumnName",
      refuseW("the table guarantees stable row ids but records no " +
        "delta.rowTracking.materializedRowCommitVersionColumnName — " +
        "rewrite it with the writer that enabled row tracking"))
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(p: String): String = fileMetaPath(p, conf)
    val matSchema = StructType(dataSchema.fields ++ Seq(
      StructField(idName, org.apache.spark.sql.types.LongType),
      StructField(rcvName, org.apache.spark.sql.types.LongType)))
    val inner = liveMutationScan(spark, root, st, schema, partCols,
      matSchema, withPos = true)
    val scan = (entries: Seq[(String, (Map[String, String],
        Option[DeletionVectors.Descriptor]))]) => {
      val baseRows = entries.map { case (p, _) =>
        org.apache.spark.sql.Row(qualified(resolveFile(root, p)),
          st.rowIds.get(p).flatMap(_._1).map(Long.box).orNull,
          st.rowIds.get(p).flatMap(_._2).map(Long.box).orNull)
      }
      val baseMap = spark.createDataFrame(
        spark.sparkContext.parallelize(baseRows, 1),
        StructType(Seq(
          StructField("__file", org.apache.spark.sql.types.StringType),
          StructField("__brid", org.apache.spark.sql.types.LongType),
          StructField("__rcvd", org.apache.spark.sql.types.LongType))))
      import org.apache.spark.sql.functions.{broadcast, coalesce}
      inner(entries)
        .join(broadcast(baseMap), Seq("__file"), "left")
        .withColumn("__rowid",
          coalesce(col(idName), col("__brid") + col("__pos")))
        .withColumn("__rowrcv", coalesce(col(rcvName), col("__rcvd")))
        .drop(idName, rcvName, "__brid", "__rcvd")
    }
    Some((idName, rcvName, scan))
  }

  /** MERGE-ON-READ strike shared by DV-mode DELETE/UPDATE/MERGE: write
    * one merged deletion vector per entry covering (the file's old DV
    * positions ∪ `newlyStruck`), returning the dvAdds rows for
    * [[commitDelete]]. Payload ∝ struck rows — no data file is read
    * beyond the old-DV position recovery, none is rewritten. Written
    * DV files are registered with `pub` for cleanup. */
  private def writeMergedDvs(spark: SparkSession, root: HPath,
      dataSchema: StructType,
      entries: Seq[(String, (Map[String, String],
        Option[DeletionVectors.Descriptor]))],
      newlyStruck: DataFrame, pub: StagedPublish)
      : Seq[(String, Map[String, String], Long,
        DeletionVectors.Descriptor)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    def qualified(p: String): String = fileMetaPath(p, conf)
    // positions already struck by the OLD vectors must re-appear in
    // the merged ones: the old bitmaps ride a broadcast in SERIALIZED
    // form and union with the new strikes ON THE EXECUTORS — the
    // driver only ever holds roaring bytes, never O(deleted rows) of
    // row coordinates, and no data file is re-scanned to recover them
    val oldBitmaps: Map[String, Array[Byte]] = entries.flatMap {
      case (p, (_, dv)) =>
        dv.map(d => qualified(resolveFile(root, p)) ->
          DeletionVectors.loadData(conf, root, d))
    }.toMap
    val merged: Map[String, (Array[Byte], Long)] =
      DeletionVectors.serializeStruckBitmaps(
        newlyStruck.select(col("__file"), col("__pos")), oldBitmaps)
        .map { case (f, data, card) => f -> ((data, card)) }.toMap
    entries.map { case (p, (pv, _)) =>
      val q = qualified(resolveFile(root, p))
      // an entry can miss from `merged` only when no NEW row struck it
      // (callers pass matched files, so this is belt-and-braces): its
      // old bitmap, or an empty one, carries over
      val (data, card) = merged.getOrElse(q,
        oldBitmaps.get(q)
          .map(b => (b, DeletionVectors.deserialize(b).cardinality))
          .getOrElse((DeletionVectors.serialize(Nil), 0L)))
      val uuid = java.util.UUID.randomUUID()
      val ub = java.nio.ByteBuffer.allocate(16)
      ub.putLong(uuid.getMostSignificantBits)
      ub.putLong(uuid.getLeastSignificantBits)
      val (off, size) = DeletionVectors.writeDvFileData(conf,
        new HPath(root, s"deletion_vector_$uuid.bin"), data)
      pub.wrote(s"deletion_vector_$uuid.bin")
      val fileSize =
        fs.getFileStatus(new HPath(resolveFile(root, p))).getLen
      (p, pv, fileSize, DeletionVectors.Descriptor("u",
        DeletionVectors.z85Encode(ub.array()), Some(off), size, card))
    }
  }

  /** Single-attempt row-level-mutation commit (DELETE / UPDATE): cdc +
    * remove + add actions into the next version slot (throws
    * FileAlreadyExistsException on a lost race — the caller
    * recomputes). */
  /** The `deletionVector` suffix of an add action. */
  private def descriptorJson(d: DeletionVectors.Descriptor): String = {
    val off = d.offset.map(o => s""","offset":$o""").getOrElse("")
    s""","deletionVector":{"storageType":"${jsonEscape(d.storageType)}"""" +
      s""","pathOrInlineDv":"${jsonEscape(d.pathOrInlineDv)}"$off""" +
      s""","sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
  }

  /** A metaData action re-declaring the table with `schema` — id/
    * name/description/createdTime preserved from the replay collector
    * — the shape an identity-watermark advance commits alongside its
    * row changes. */
  private def metaDataActionJson(schema: StructType, partCols: Seq[String],
      configuration: Map[String, String],
      coll: Option[CheckpointCollector], now: Long): String = {
    val confJson = configuration.map { case (k, vv) =>
      "\"" + jsonEscape(k) + "\":\"" + jsonEscape(vv) + "\""
    }.mkString(",")
    val nameJson = coll.flatMap(_.metaName)
      .map(n => s""","name":"${jsonEscape(n)}"""").getOrElse("")
    val descJson = coll.flatMap(_.metaDescription)
      .map(d => s""","description":"${jsonEscape(d)}"""").getOrElse("")
    s"""{"metaData":{"id":"${jsonEscape(coll.flatMap(_.metaId).getOrElse(
      java.util.UUID.randomUUID().toString))}"$nameJson$descJson,"format":{"provider":"parquet","options":{}},"schemaString":"${jsonEscape(
      schema.json)}","partitionColumns":[${partCols.map(c =>
      "\"" + jsonEscape(c) + "\"").mkString(",")}],"configuration":{$confJson},"createdTime":${coll.flatMap(_.createdTime).getOrElse(now)}}}"""
  }

  private def commitDelete(io: TableIO, logDir: HPath, st: DeltaSnapshot,
      now: Long, predicate: String,
      removeWhole: Seq[(String, Map[String, String])],
      adds: Seq[(String, Long)], cdcAdds: Seq[(String, Long)],
      partCols: Seq[String], operation: String = "DELETE",
      dataChange: Boolean = true,
      dvAdds: Seq[(String, Map[String, String], Long,
        DeletionVectors.Descriptor)] = Nil,
      statsOf: String => Option[String] = _ => None,
      metaDataAction: Option[String] = None): Long = {
    val actions = Seq.newBuilder[String]
    actions += s"""{"commitInfo":{"timestamp":$now,"operation":"$operation","operationParameters":{"predicate":"${jsonEscape(predicate)}"},"engineInfo":"graft-${operation.toLowerCase}"}}"""
    metaDataAction.foreach(actions += _)
    def pvJson(pv: Seq[(String, String)]): String =
      pv.map { case (k, v) =>
        "\"" + jsonEscape(k) + "\":\"" + jsonEscape(v) + "\""
      }.mkString(",")
    cdcAdds.foreach { case (rel, size) =>
      val pv = hivePartitionValues(rel, partCols)
      actions += s"""{"cdc":{"path":"${jsonEscape(encodePath(s"_change_data/$rel"))}","partitionValues":{${pvJson(pv)}},"size":$size,"dataChange":false}}"""
    }
    removeWhole.foreach { case (p, pv) =>
      val pvSeq = pv.toSeq
      actions += s"""{"remove":{"path":"${jsonEscape(encodePath(p))}","deletionTimestamp":$now,"dataChange":$dataChange,"extendedFileMetadata":true,"partitionValues":{${pvJson(pvSeq)}}}}"""
    }
    def statsJson(rel: String): String = statsOf(rel)
      .map(s => s""","stats":"${jsonEscape(s)}"""").getOrElse("")
    val v = st.version + 1
    // row tracking: rewritten files take a FRESH contiguous id range
    // (stability through rewrites needs materialized ids; the callers
    // refuse the CoW shapes on `delta.enableRowTracking` tables), DV
    // re-adds carry the ORIGINAL file's fields — a deletion vector
    // only strikes rows, the surviving ids stand
    val rowTracking = st.writerFeatures.contains("rowTracking")
    var wm = st.rowIdHighWaterMark.getOrElse(-1L)
    def freshRowIds(rel: String): String =
      if (!rowTracking) ""
      else {
        val records = statsOf(rel).flatMap(DeltaStats.numRecordsOf)
          .getOrElse(throw new IllegalStateException(
            s"row tracking needs numRecords stats for $rel"))
        val base = wm + 1
        wm += records
        s""","baseRowId":$base,"defaultRowCommitVersion":$v"""
      }
    def carriedRowIds(rel: String): String =
      if (!rowTracking) ""
      else st.rowIds.get(rel) match {
        case Some((brid, rcv)) =>
          brid.map(b => s""","baseRowId":$b""").getOrElse("") +
            rcv.map(r => s""","defaultRowCommitVersion":$r""").getOrElse("")
        case None => ""
      }
    adds.foreach { case (rel, size) =>
      val pv = hivePartitionValues(rel, partCols)
      actions += s"""{"add":{"path":"${jsonEscape(encodePath(rel))}","partitionValues":{${pvJson(pv)}},"size":$size,"modificationTime":$now,"dataChange":$dataChange${statsJson(rel)}${freshRowIds(rel)}}}"""
    }
    // merge-on-read deletes: the SAME data file re-added with a fresh
    // deletion vector (its remove rides removeWhole above); stats —
    // when the caller carries the file's original ones forward — stay
    // VALID bounds (a DV only strikes rows, never widens min/max)
    dvAdds.foreach { case (rel, pv, size, d) =>
      actions += s"""{"add":{"path":"${jsonEscape(encodePath(rel))}","partitionValues":{${pvJson(pv.toSeq)}},"size":$size,"modificationTime":$now,"dataChange":$dataChange${descriptorJson(d)}${statsJson(rel)}${carriedRowIds(rel)}}}"""
    }
    if (rowTracking && adds.nonEmpty)
      actions += s"""{"domainMetadata":{"domain":"delta.rowTracking","configuration":"{\\"rowIdHighWaterMark\\":$wm}","removed":false}}"""
    val bytes = actions.result().mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8)
    OptimisticCommit.claim(io, new HPath(logDir, f"$v%020d.json"), bytes)
    v
  }

  /** Write a commit's cdc rows through a staging dir into
    * `_change_data/`; returns their (path under it, size). */
  private def writeCdc(pub: StagedPublish, cdc: DataFrame,
      partCols: Seq[String]): Seq[(String, Long)] = {
    val staging = pub.staging("cdc")
    (if (partCols.nonEmpty) cdc.write.partitionBy(partCols: _*)
     else cdc.write).parquet(staging.toString)
    pub.publish(staging, "_change_data/")
  }

  /** The files one Delta write attempt lands under the table root:
    * staged parquet published out of `_graft_<kind>_<uuid>` staging
    * dirs, plus deletion-vector files written in place. [[cleanup]]
    * removes them and every staging dir, so an attempt that loses its
    * version slot (or fails) leaves nothing behind. */
  private final class StagedPublish(fs: org.apache.hadoop.fs.FileSystem,
      root: HPath) {
    private val landed = scala.collection.mutable.Buffer[String]()
    private val dirs = scala.collection.mutable.Buffer[HPath]()

    def staging(kind: String): HPath = {
      val d = new HPath(root, s"_graft_${kind}_${java.util.UUID.randomUUID()}")
      dirs += d
      d
    }

    /** Record a file the attempt wrote straight into the root. */
    def wrote(rel: String): Unit = landed += rel

    /** Move every data parquet under `staging` (recursing through hive
      * `col=value` subdirectories) to the same relative path under
      * `root/<into>`, then drop the staging dir. Returns the relative
      * (path, size) of each. */
    def publish(staging: HPath, into: String = ""): Seq[(String, Long)] = {
      def rec(dir: HPath, rel: String): Seq[(String, Long)] =
        fs.listStatus(dir).toSeq.flatMap { stat =>
          val name = stat.getPath.getName
          val childRel = if (rel.isEmpty) name else s"$rel/$name"
          if ((name.startsWith("_") || name.startsWith(".")) && !name.contains("="))
            Nil
          else if (stat.isDirectory) rec(stat.getPath, childRel)
          else if (name.endsWith(".parquet")) Seq((childRel, stat.getLen))
          else Nil
        }
      val staged = rec(staging, "")
      staged.foreach { case (rel, _) =>
        val dst = new HPath(root, into + rel)
        fs.mkdirs(dst.getParent)
        if (!fs.rename(new HPath(staging, rel), dst))
          throw new java.io.IOException(
            s"could not move staged file $rel into $root")
        landed += into + rel
      }
      fs.delete(staging, true)
      staged
    }

    def cleanup(): Unit = {
      landed.foreach(p => fs.delete(new HPath(root, p), false))
      dirs.foreach(fs.delete(_, true))
    }
  }

  /** RESTORE a foreign Delta table to an earlier `version` — Delta's
    * `RESTORE TABLE ... TO VERSION AS OF v`: ONE commit whose remove
    * actions drop every file live now but absent at `version`, and
    * whose add actions re-surface every file live at `version` but
    * absent now, each with its original partitionValues and
    * deletionVector. Nothing is copied: a restore is O(|file diff|)
    * driver metadata, the cheapest possible undo, and the restored
    * history stays time-travelable (the undone versions are still in
    * the log until [[cleanupDeltaLog]]).
    *
    * Schema, partition-layout, and property changes since `version`
    * restore too: the commit re-declares the TARGET metaData with the
    * table identity preserved — Delta's own RESTORE reverts metadata
    * alongside data. Refusals, all loud: a re-added data or DV file
    * that VACUUM already deleted (named in the error); append-only
    * tables; unknown writer features.
    * CDF note: the restore commit carries plain dataChange
    * adds+removes, so a [[readDeltaChanges]] range crossing it refuses
    * as an ambiguous rewrite rather than fabricating row-level events.
    * Lost version races re-diff against the winner and retry. Returns
    * the committed version (or the current one when the diff is
    * empty). */
  def restoreDelta(spark: SparkSession, path: String, version: Long): Long = {
    val root = new HPath(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val io = new TableIO(path, conf)
    val logDir = new HPath(root, "_delta_log")
    require(fs.exists(logDir),
      s"no Delta log at $path — restoreDelta mutates existing tables")
    def refuseW(what: String): Nothing = throw new IllegalArgumentException(
      s"cannot restore Delta table at $path: $what — restore it with a " +
        "full Delta client")
    val HarmlessOnRestore = HarmlessWriterFeatures
    val target = replaySnapshot(spark, path, Some(version))
    require(target.version == version,
      s"version $version does not exist at $path (log ends at " +
        s"${target.version})")
    def dvJson(d: DeletionVectors.Descriptor): String = descriptorJson(d)
    def pvJson(pv: Map[String, String]): String =
      pv.map { case (k, v) =>
        "\"" + jsonEscape(k) + "\":\"" + jsonEscape(v) + "\""
      }.mkString(",")
    def key(p: String, dv: Option[DeletionVectors.Descriptor]) =
      (p, dv.map(d => (d.storageType, d.pathOrInlineDv, d.offset)))

    OptimisticCommit.retry("restoreDelta", path) { _ =>
      val coll = new CheckpointCollector()
      val cur = replaySnapshot(spark, path, None, Some(coll))
      if (cur.version < version)
        refuseW(s"version $version is ahead of the log (at ${cur.version})")
      if (cur.configuration.get("delta.appendOnly").contains("true"))
        refuseW("the table is append-only (delta.appendOnly=true)")
      if (cur.minWriter > 7)
        refuseW(s"the table requires writer protocol ${cur.minWriter}")
      if (cur.minWriter == 7) {
        val unknown = cur.writerFeatures.filterNot(HarmlessOnRestore.contains)
        if (unknown.nonEmpty)
          refuseW("the table requires writer features " +
            s"[${unknown.mkString(", ")}] this writer does not implement")
      }
      // schema / layout / property changes since `version` restore too:
      // the commit re-declares the TARGET metaData (identity preserved)
      val metaChanged = cur.schemaJson != target.schemaJson ||
        cur.partCols != target.partCols ||
        cur.configuration != target.configuration
      val curKeys = cur.active.map { case (p, (_, dv)) => key(p, dv) }.toSet
      val tgtKeys = target.active.map { case (p, (_, dv)) => key(p, dv) }.toSet
      val removes = cur.active.filterNot {
        case (p, (_, dv)) => tgtKeys(key(p, dv)) }
      val adds = target.active.filterNot {
        case (p, (_, dv)) => curKeys(key(p, dv)) }
      if (removes.isEmpty && adds.isEmpty && !metaChanged)
        cur.version
      else {
        // every re-surfaced file must still exist — VACUUM after the
        // target version makes the restore impossible, not silent
        val statted = adds.map { case (p, (pv, dv)) =>
          val hp = new HPath(resolveFile(root, p))
          val st = try fs.getFileStatus(hp) catch {
            case _: java.io.FileNotFoundException =>
              refuseW(s"data file $p of version $version was vacuumed")
          }
          dv.filter(_.storageType != "i").foreach { d =>
            val dvp = DeletionVectors.dvFilePath(root, d)
            if (!fs.exists(dvp))
              refuseW(s"deletion-vector file $dvp of version $version " +
                "was vacuumed")
          }
          (p, pv, dv, st.getLen, st.getModificationTime)
        }
        val now = System.currentTimeMillis()
        val actions = Seq.newBuilder[String]
        actions += s"""{"commitInfo":{"timestamp":$now,"operation":"RESTORE","operationParameters":{"version":"$version"},"engineInfo":"graft-restore"}}"""
        if (metaChanged) {
          val confJson = target.configuration.map { case (k, v) =>
            "\"" + jsonEscape(k) + "\":\"" + jsonEscape(v) + "\""
          }.mkString(",")
          val partJson = target.partCols.map(c =>
            "\"" + jsonEscape(c) + "\"").mkString(",")
          val nameJson = coll.metaName
            .map(n => s""","name":"${jsonEscape(n)}"""").getOrElse("")
          val descJson = coll.metaDescription
            .map(d => s""","description":"${jsonEscape(d)}"""").getOrElse("")
          actions += s"""{"metaData":{"id":"${jsonEscape(coll.metaId.getOrElse(
            java.util.UUID.randomUUID().toString))}"$nameJson$descJson,"format":{"provider":"parquet","options":{}},"schemaString":"${jsonEscape(target.schemaJson)}","partitionColumns":[$partJson],"configuration":{$confJson},"createdTime":${coll.createdTime.getOrElse(now)}}}"""
        }
        removes.foreach { case (p, (pv, _)) =>
          actions += s"""{"remove":{"path":"${jsonEscape(encodePath(p))}","deletionTimestamp":$now,"dataChange":true,"extendedFileMetadata":true,"partitionValues":{${pvJson(pv)}}}}"""
        }
        statted.foreach { case (p, pv, dv, size, mod) =>
          // the re-surfaced file's stats at the target version ride back
          val sj = target.stats.get(p)
            .map(s => s""","stats":"${jsonEscape(s)}"""").getOrElse("")
          // row tracking: the file's ORIGINAL ids ride back too (the
          // high watermark stays put — it is monotonic by protocol)
          val rj = target.rowIds.get(p).map { case (brid, rcv) =>
            brid.map(b => s""","baseRowId":$b""").getOrElse("") +
              rcv.map(r => s""","defaultRowCommitVersion":$r""").getOrElse("")
          }.getOrElse("")
          actions += s"""{"add":{"path":"${jsonEscape(encodePath(p))}","partitionValues":{${pvJson(pv)}},"size":$size,"modificationTime":$mod,"dataChange":true${dv.map(dvJson).getOrElse("")}$sj$rj}}"""
        }
        OptimisticCommit.claim(io,
          new HPath(logDir, f"${cur.version + 1}%020d.json"),
          actions.result().mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        cur.version + 1
      }
    }
  }

  /** SHALLOW CLONE of a Delta table — Delta's `CREATE TABLE … SHALLOW
    * CLONE src`: a NEW table at `target` whose version-0 commit
    * re-declares the source's protocol, schema, partitioning and
    * configuration (fresh table id) and adds every currently-live
    * source file BY ABSOLUTE URI — zero data copied, O(#files) driver
    * metadata. Deletion vectors ride along: on-disk descriptors are
    * rewritten to absolute `p` storage (they'd otherwise resolve
    * against the clone's root), inline `i` descriptors pass through.
    * The clone then evolves independently — appends/deletes/updates
    * write clone-local files (a CoW rewrite of a source-owned file
    * lands under the clone; the source is never touched), and a VACUUM
    * of either table cannot see the other's root (nested roots refuse
    * at clone time for exactly that reason). setTransaction watermarks
    * are NOT carried (Delta's CLONE drops them — the clone is a new
    * ingestion target); domainMetadata carriers refuse rather than
    * silently drop state. Returns the clone's version (0). */
  def cloneDelta(spark: SparkSession, source: String,
      target: String): Long = {
    val srcRoot = new HPath(source)
    val dstRoot = new HPath(target)
    val conf = spark.sparkContext.hadoopConfiguration
    val srcFs = srcRoot.getFileSystem(conf)
    val dstFs = dstRoot.getFileSystem(conf)
    require(srcFs.exists(new HPath(srcRoot, "_delta_log")),
      s"no Delta log at $source")
    require(!dstFs.exists(new HPath(dstRoot, "_delta_log")),
      s"a Delta table already exists at $target")
    val srcQ = srcFs.makeQualified(srcRoot).toString
    val dstQ = dstFs.makeQualified(dstRoot).toString
    require(!(dstQ + "/").startsWith(srcQ + "/") &&
        !(srcQ + "/").startsWith(dstQ + "/"),
      s"clone target $target nests with source $source — a VACUUM of " +
        "one root would destroy the other's files")
    def refuseW(what: String): Nothing = throw new IllegalArgumentException(
      s"cannot clone Delta table at $source: $what — clone it with a " +
        "full Delta client")
    val coll = new CheckpointCollector()
    val st = replaySnapshot(spark, source, None, Some(coll))
    // Domains carry into the clone's commit 0 — EXCEPT row tracking:
    // the clone synthesizes fresh add actions without the source's
    // baseRowId assignments, so carrying the high-watermark domain
    // would claim row ids the cloned files do not actually hold.
    if (coll.domains.exists { case (d, (_, removed)) =>
        !removed && d == "delta.rowTracking" })
      refuseW("the source tracks row ids (delta.rowTracking) — the " +
        "clone's synthesized adds would drop the id assignments")
    val now = System.currentTimeMillis()
    def strArr(xs: Seq[String]): String =
      xs.map(x => "\"" + jsonEscape(x) + "\"").mkString(",")
    val actions = Seq.newBuilder[String]
    actions += s"""{"commitInfo":{"timestamp":$now,"operation":"CLONE","operationParameters":{"source":"${jsonEscape(source)}"},"engineInfo":"graft-clone"}}"""
    val rf = if (coll.readerFeatures.nonEmpty)
      s""","readerFeatures":[${strArr(coll.readerFeatures)}]""" else ""
    val wf = if (st.writerFeatures.nonEmpty)
      s""","writerFeatures":[${strArr(st.writerFeatures)}]""" else ""
    actions += s"""{"protocol":{"minReaderVersion":${coll.minReader},"minWriterVersion":${st.minWriter}$rf$wf}}"""
    val confJson = st.configuration.map { case (k, v) =>
      "\"" + jsonEscape(k) + "\":\"" + jsonEscape(v) + "\"" }.mkString(",")
    actions += s"""{"metaData":{"id":"${java.util.UUID.randomUUID()}","format":{"provider":"parquet","options":{}},"schemaString":"${jsonEscape(st.schemaJson)}","partitionColumns":[${strArr(st.partCols)}],"configuration":{$confJson},"createdTime":$now}}"""
    coll.domains.foreach { case (d, (cfg, removed)) =>
      if (!removed)
        actions += s"""{"domainMetadata":{"domain":"${jsonEscape(d)}","configuration":"${jsonEscape(cfg)}","removed":false}}"""
    }
    st.active.foreach { case (p, (pv, dv)) =>
      val hp = new HPath(resolveFile(srcRoot, p))
      val hpFs = hp.getFileSystem(conf)
      val abs = hpFs.makeQualified(hp).toString
      val stt = try hpFs.getFileStatus(hp) catch {
        case _: java.io.FileNotFoundException =>
          refuseW(s"active file $p is missing from storage")
      }
      val dvj = dv.map { d =>
        val (sty, pidv) =
          if (d.storageType == "i") (d.storageType, d.pathOrInlineDv)
          else {
            val dvp = DeletionVectors.dvFilePath(srcRoot, d)
            if (!srcFs.exists(dvp))
              refuseW(s"deletion-vector file $dvp is missing from storage")
            (("p"), dvp.getFileSystem(conf).makeQualified(dvp).toString)
          }
        val off = d.offset.map(o => s""","offset":$o""").getOrElse("")
        s""","deletionVector":{"storageType":"${jsonEscape(sty)}","pathOrInlineDv":"${jsonEscape(pidv)}"$off,"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
      }.getOrElse("")
      val pvJson = pv.map { case (k, v) =>
        "\"" + jsonEscape(k) + "\":\"" + jsonEscape(v) + "\""
      }.mkString(",")
      actions += s"""{"add":{"path":"${jsonEscape(encodePath(abs))}","partitionValues":{$pvJson},"size":${stt.getLen},"modificationTime":${stt.getModificationTime},"dataChange":true$dvj}}"""
    }
    dstFs.mkdirs(new HPath(dstRoot, "_delta_log"))
    new TableIO(target, conf).writeExclusive(
      new HPath(new HPath(dstRoot, "_delta_log"), f"${0L}%020d.json"),
      actions.result().mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
    0L
  }

  /** One optimistic METADATA-ONLY commit to a foreign Delta log: edit
    * (schema, configuration) against the current state, preserve the
    * table identity (id / name / description / createdTime) from the
    * replayed metaData, and claim the next version slot. Lost races
    * re-replay and re-edit against the winner. */
  private def commitDeltaMetaData(spark: SparkSession, path: String,
      operation: String, params: Map[String, String],
      requireWriterFeatures: Seq[String] = Nil,
      extraActions: DeltaSnapshot => Seq[String] = _ => Nil)(
      edit: (StructType, Map[String, String]) =>
        (StructType, Map[String, String])): Long = {
    val root = new HPath(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val io = new TableIO(path, conf)
    val logDir = new HPath(root, "_delta_log")
    require(root.getFileSystem(conf).exists(logDir), s"no Delta log at $path")
    def refuseW(what: String): Nothing = throw new IllegalArgumentException(
      s"cannot alter Delta table at $path: $what — alter it with a full " +
        "Delta client")
    val Harmless = HarmlessWriterFeatures
    // the writer features a legacy minWriterVersion implies, per the
    // protocol's version-to-feature table — needed when an upgrade
    // moves a legacy table to explicit feature lists
    def impliedWriter(v: Int): Seq[String] = Seq(
      2 -> "appendOnly", 2 -> "invariants", 3 -> "checkConstraints",
      4 -> "changeDataFeed", 4 -> "generatedColumns", 5 -> "columnMapping",
      6 -> "identityColumns").collect { case (mv, f) if v >= mv => f }
    OptimisticCommit.retry(operation, path) { _ =>
      val coll = new CheckpointCollector()
      val st = replaySnapshot(spark, path, None, Some(coll))
      if (st.minWriter > 7)
        refuseW(s"the table requires writer protocol ${st.minWriter}")
      if (st.minWriter == 7) {
        val unknown = st.writerFeatures.filterNot(Harmless.contains)
        if (unknown.nonEmpty)
          refuseW("the table requires writer features " +
            s"[${unknown.mkString(", ")}] this writer does not implement")
      }
      val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
      val (newSchema, newConf0) = edit(schema, st.configuration)
      // enabling row tracking RECORDS the materialized column names in
      // the same commit (Delta's own enablement behavior) — rewrites
      // materialize preserved ids under them
      val newConf =
        if (!newConf0.get("delta.enableRowTracking").contains("true"))
          newConf0
        else newConf0 ++ Seq(
          "delta.rowTracking.materializedRowIdColumnName" ->
            newConf0.getOrElse(
              "delta.rowTracking.materializedRowIdColumnName",
              s"_row-id-col-${java.util.UUID.randomUUID()}"),
          "delta.rowTracking.materializedRowCommitVersionColumnName" ->
            newConf0.getOrElse(
              "delta.rowTracking.materializedRowCommitVersionColumnName",
              s"_row-commit-version-col-${java.util.UUID.randomUUID()}"))
      val now = System.currentTimeMillis()
      // properties that carry PROTOCOL obligations auto-upgrade the
      // protocol in the same commit (Delta's ALTER TBLPROPERTIES
      // behavior) — a CDF/DV flag without its feature would make
      // honest readers/writers ignore or reject the table's contract
      val needWriter = Seq(
        "delta.enableChangeDataFeed" -> "changeDataFeed",
        "delta.enableDeletionVectors" -> "deletionVectors",
        "delta.enableRowTracking" -> "rowTracking",
        // rowTracking's high watermark rides domainMetadata actions
        "delta.enableRowTracking" -> "domainMetadata",
        "delta.appendOnly" -> "appendOnly").collect {
        case (k, f) if newConf.get(k).contains("true") => f
      } ++ requireWriterFeatures
      val needReader: Seq[String] =
        if (newConf.get("delta.enableDeletionVectors").contains("true"))
          Seq("deletionVectors")
        else Nil
      val haveWriter =
        if (st.minWriter == 7) st.writerFeatures
        else impliedWriter(st.minWriter)
      val haveReader =
        if (coll.minReader >= 3) coll.readerFeatures
        else if (coll.minReader >= 2) Seq("columnMapping")
        else Nil
      val missingW = needWriter.filterNot(haveWriter.contains)
      val missingR = needReader.filterNot(haveReader.contains)
      val protocolAction: Option[String] =
        if (missingW.isEmpty && missingR.isEmpty) None
        else {
          val wf = (haveWriter ++ missingW).distinct.sorted
          val rf = ((if (coll.minReader >= 3) coll.readerFeatures
            else haveReader) ++ missingR).distinct.sorted
          val mr = if (rf.nonEmpty) 3 else math.max(coll.minReader, 1)
          val rfJson = if (rf.nonEmpty)
            s""","readerFeatures":[${rf.map(f =>
              "\"" + jsonEscape(f) + "\"").mkString(",")}]""" else ""
          Some(s"""{"protocol":{"minReaderVersion":$mr,"minWriterVersion":7$rfJson,"writerFeatures":[${wf.map(f =>
            "\"" + jsonEscape(f) + "\"").mkString(",")}]}}""")
        }
      val paramsJson = params.map { case (k, v) =>
        "\"" + jsonEscape(k) + "\":\"" + jsonEscape(v) + "\""
      }.mkString(",")
      val confJson = newConf.map { case (k, v) =>
        "\"" + jsonEscape(k) + "\":\"" + jsonEscape(v) + "\""
      }.mkString(",")
      val nameJson = coll.metaName
        .map(n => s""","name":"${jsonEscape(n)}"""").getOrElse("")
      val descJson = coll.metaDescription
        .map(d => s""","description":"${jsonEscape(d)}"""").getOrElse("")
      val actions = Seq(
        s"""{"commitInfo":{"timestamp":$now,"operation":"${jsonEscape(operation)}","operationParameters":{$paramsJson},"engineInfo":"graft-alter"}}""") ++
        protocolAction ++ Seq(
        s"""{"metaData":{"id":"${jsonEscape(coll.metaId.getOrElse(
          java.util.UUID.randomUUID().toString))}"$nameJson$descJson,"format":{"provider":"parquet","options":{}},"schemaString":"${jsonEscape(newSchema.json)}","partitionColumns":[${st.partCols.map(c =>
          "\"" + jsonEscape(c) + "\"").mkString(",")}],"configuration":{$confJson},"createdTime":${coll.createdTime.getOrElse(now)}}}""") ++
        extraActions(st)
      OptimisticCommit.claim(io,
        new HPath(logDir, f"${st.version + 1}%020d.json"),
        actions.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      st.version + 1
    }
  }

  /** SET TBLPROPERTIES on a foreign Delta table — one metadata-only
    * commit updating `configuration` (identity, schema, and layout
    * preserved). The live switchboard every engine respects:
    * `delta.appendOnly`, `delta.enableChangeDataFeed`,
    * retention knobs, … Returns the committed version. */
  def setDeltaProperties(spark: SparkSession, path: String,
      props: Map[String, String]): Long =
    commitDeltaMetaData(spark, path, "SET TBLPROPERTIES", props)(
      (s, c) => (s, c ++ props))

  /** UNSET TBLPROPERTIES — drops `keys` from `configuration`. */
  def unsetDeltaProperties(spark: SparkSession, path: String,
      keys: Seq[String]): Long =
    commitDeltaMetaData(spark, path, "UNSET TBLPROPERTIES",
      keys.map(k => k -> "").toMap)((s, c) => (s, c -- keys))

  /** DECLARE liquid clustering on an existing Delta table — the
    * `ALTER TABLE … CLUSTER BY (cols)` / clustered-`CREATE TABLE` verb
    * (Delta 3.2's clustered tables, which the reference writes through
    * delta-spark 3.2.0 — scripts/download-jars.sh:90): one metadata
    * commit writing the `delta.clustering` domainMetadata
    * (`{"clusteringColumns":[["c1"],…]}` per the protocol's
    * Clustered-Table feature) and auto-upgrading the protocol to carry
    * the `clusteredTable` + `domainMetadata` writer features. This is
    * the graft-side PRODUCER for the maintenance paths that already
    * exist: [[optimizeDelta]] with no explicit zorderBy re-clusters by
    * the declared columns, and [[checkpointDelta]]/[[cloneDelta]] carry
    * the domain. Clustered tables are unpartitioned per the spec;
    * columns must exist in the schema. Returns the committed version. */
  def clusterByDelta(spark: SparkSession, path: String,
      cols: Seq[String]): Long = {
    require(cols.nonEmpty, "CLUSTER BY needs at least one column")
    require(cols.distinct.size == cols.size,
      s"duplicate clustering columns: ${cols.mkString(", ")}")
    val cfg = s"""{"clusteringColumns":[${cols.map(c =>
      "[\"" + jsonEscape(c) + "\"]").mkString(",")}]}"""
    commitDeltaMetaData(spark, path, "CLUSTER BY",
      Map("clusterBy" -> cols.mkString("[", ", ", "]")),
      requireWriterFeatures = Seq("domainMetadata", "clusteredTable"),
      extraActions = st => {
        require(st.partCols.isEmpty,
          s"cannot CLUSTER BY a partitioned table (partitioned by " +
            s"[${st.partCols.mkString(", ")}]) — clustered Delta tables " +
            "are unpartitioned per the protocol")
        Seq(s"""{"domainMetadata":{"domain":"delta.clustering","configuration":"${jsonEscape(cfg)}","removed":false}}""")
      }) { (schema, conf) =>
      val missing = cols.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty, s"clustering columns " +
        s"[${missing.mkString(", ")}] not in the table schema " +
        s"[${schema.fieldNames.mkString(", ")}]")
      (schema, conf)
    }
  }

  /** ALTER TABLE … ADD COLUMN on a foreign Delta table: append a
    * NULLABLE column as one metadata-only commit — existing files
    * null-fill it on read (parquet schema evolution), appends must
    * then include it. Column-mapped tables (name AND id mode) get a
    * fresh mapping id + UUID physical name and a bumped
    * `delta.columnMapping.maxColumnId`, per the protocol's writer
    * requirements. Duplicate names (case-insensitive) refuse. */
  def addColumnToDelta(spark: SparkSession, path: String, name: String,
      dataType: DataType): Long =
    commitDeltaMetaData(spark, path, "ADD COLUMNS",
      Map("column" -> name)) { (schema, c) =>
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"column '$name' already exists at $path")
      appendSchemaField(schema, c, name, dataType)
    }

  /** Append one nullable column to a Delta schema, assigning a fresh
    * mapping id + UUID physical name (and bumping maxColumnId) when the
    * configuration declares column mapping. */
  private def appendSchemaField(schema: StructType, c: Map[String, String],
      name: String, dataType: DataType)
      : (StructType, Map[String, String]) =
    if (c.getOrElse("delta.columnMapping.mode", "none") == "none")
      (schema.add(StructField(name, dataType, nullable = true)), c)
    else {
      def fieldIds(st: StructType): Seq[Long] = st.fields.toSeq.flatMap {
        f =>
          val own =
            if (f.metadata.contains(ColMapIdKey))
              Seq(f.metadata.getLong(ColMapIdKey))
            else Nil
          own ++ (f.dataType match {
            case s: StructType => fieldIds(s)
            case _ => Nil
          })
      }
      val maxId = (c.get("delta.columnMapping.maxColumnId")
        .map(_.toLong).getOrElse(0L) +: fieldIds(schema)).max
      val id = maxId + 1
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong(ColMapIdKey, id)
        .putString(PhysNameKey, s"col-${java.util.UUID.randomUUID()}")
        .build()
      (schema.add(StructField(name, dataType, nullable = true, md)),
        c + ("delta.columnMapping.maxColumnId" -> id.toString))
    }

  /** (version, adjusted timestamp, operation, engineInfo) of every
    * RETAINED JSON commit, oldest first. `commitInfo.timestamp` is
    * preferred (every mainstream writer stamps it), the commit file's
    * modification time is the fallback, and the sequence is made
    * strictly MONOTONIC the way Delta's own time travel treats clock
    * skew: each commit's effective timestamp = max(prev + 1 ms, its
    * own). O(#retained commits) driver-side reads — the price every
    * engine's DESCRIBE HISTORY pays. */
  private def commitHistory(spark: SparkSession,
      path: String): Seq[(Long, Long, String, String)] = {
    val root = new HPath(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val logDir = new HPath(root, "_delta_log")
    require(fs.exists(logDir), s"no Delta log at $path")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val commits = fs.listStatus(logDir).toSeq
      .filter(_.getPath.getName.matches("\\d{20}\\.json"))
      .sortBy(_.getPath.getName)
    var prev = Long.MinValue
    commits.map { st =>
      val v = st.getPath.getName.take(20).toLong
      var ts = st.getModificationTime
      var op = ""
      var engine = ""
      readString(fs, st.getPath)
        .split("\n").find(_.contains("\"commitInfo\"")).foreach { line =>
          try {
            val ci = om.readTree(line).path("commitInfo")
            if (ci.has("timestamp")) ts = ci.get("timestamp").asLong()
            op = ci.path("operation").asText("")
            engine = ci.path("engineInfo").asText("")
          } catch { // an unparseable action line keeps the mtime
            case _: com.fasterxml.jackson.core.JacksonException => ()
          }
        }
      val adj = math.max(ts, prev + 1)
      prev = adj
      (v, adj, op, engine)
    }
  }

  /** DESCRIBE HISTORY of a foreign Delta table: one row per retained
    * commit, newest first — version, commit timestamp (monotonically
    * adjusted), operation, engineInfo. */
  def deltaHistory(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    commitHistory(spark, path).reverse
      .toDF("version", "timestamp_ms", "operation", "engine_info")
  }

  /** Resolve a wall-clock timestamp to the Delta version current at
    * that instant — the LAST retained commit at-or-before `tsMillis`
    * (Delta's `TIMESTAMP AS OF` contract). A timestamp before the
    * earliest retained commit refuses (cleaned history makes the
    * answer unknowable); one after the latest resolves to the latest
    * version. */
  def deltaVersionAtTimestamp(spark: SparkSession, path: String,
      tsMillis: Long): Long = {
    val hist = commitHistory(spark, path)
    require(hist.nonEmpty, s"no commits at $path")
    require(tsMillis >= hist.head._2,
      s"timestamp $tsMillis precedes the earliest retained commit " +
        s"(version ${hist.head._1} at ${hist.head._2}) at $path — " +
        "earlier history was cleaned")
    hist.takeWhile(_._2 <= tsMillis).last._1
  }

  /** `TIMESTAMP AS OF` read: the snapshot current at `tsMillis`. */
  def readDeltaAsOfTimestamp(spark: SparkSession, path: String,
      tsMillis: Long): DataFrame =
    readDelta(spark, path,
      Some(deltaVersionAtTimestamp(spark, path, tsMillis)))

  /** Change Data Feed read of a foreign Delta table: one row per
    * changed row per commit in [fromVersion, toVersion] (inclusive),
    * with Delta's CDF columns `_change_type` and `_commit_version` —
    * the batch complement of the [[graft.sources.v2.DeltaSource]]
    * stream (which tails appends only) and the Delta twin of
    * `GraftTable.readChangesBetween`.
    *
    *  - Commits carrying `cdc` actions (delta.enableChangeDataFeed
    *    writers) are AUTHORITATIVE: only their cdc files are read —
    *    the files carry `_change_type` (insert / delete /
    *    update_preimage / update_postimage) in the data, per the
    *    protocol's Change Data Files section.
    *  - Commits without cdc actions fall back to the protocol's
    *    add/remove interpretation: dataChange adds read as inserts,
    *    dataChange removes as deletes (the removed files must still
    *    exist — vacuumed history fails at the scan); a removed file
    *    whose latest add carried a deletion vector emits only its
    *    still-live rows (DV-struck rows were deleted before the
    *    range); a commit pairing dataChange adds AND removes without
    *    cdc is an ambiguous update rewrite and refuses.
    *  - dataChange=false actions (compaction/optimize) produce no
    *    rows. COLUMN-MAPPED tables (name and id mode) read correctly —
    *    cdc/data files scan under physical names (id mode by field id)
    *    and rename back to the declared schema; partitionValues keys
    *    resolve physically. A column-MAPPING change inside the range
    *    starts a new EPOCH (r16): the range re-plans per metaData
    *    epoch, each file scanning under the physical schema of the
    *    epoch that wrote it, and the renamed-back epochs union — one
    *    call serves the whole range. Logical schema changes inside
    *    the range still refuse. Commits cleaned below `fromVersion`'s
    *    base state refuse with a retention message.
    *
    * Scale shape: per-commit driver-side log parsing, data read as
    * pruned parquet scans of only the changed files. */
  def readDeltaChanges(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(0 <= fromVersion && fromVersion <= toVersion,
      s"invalid CDF range $fromVersion..$toVersion")
    val root = new HPath(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new HPath(root, "_delta_log")
    require(fs.exists(logDir), s"no Delta log at $path")
    // base state: the active (path -> partitionValues) map just BEFORE
    // the range, for removed-file partition lookup
    val base: Option[DeltaSnapshot] =
      if (fromVersion == 0) None
      else Some(replaySnapshot(spark, path, Some(fromVersion - 1)))
    // column-mapped tables (name and id mode) read fine: cdc/data
    // files carry PHYSICAL names (plus a literal _change_type) and the
    // scan below renames back to the declared schema. A mapping CHANGE
    // inside the range starts a NEW EPOCH (r16): the range is
    // segmented at each metaData that alters the physical fingerprint,
    // and every file scans under the physical schema of the epoch it
    // was ADDED in — one call serves the whole range, no
    // split-the-range refusal.
    final case class Epoch(mode: String, schemaJson: Option[String],
      partCols: Seq[String])
    val epochs = scala.collection.mutable.Buffer[Epoch](Epoch(
      base.map(_.colMapMode).getOrElse("none"),
      base.map(_.schemaJson), base.map(_.partCols).getOrElse(Nil)))
    // file -> the epoch whose mapping wrote it (base files: epoch 0)
    val epochOf = scala.collection.mutable.HashMap[String, Int]()
    val pvOf = scala.collection.mutable.HashMap[String, Map[String, String]]()
    // DV descriptors ride along: a dataChange remove of a DV-carrying
    // file must emit only the still-LIVE rows as deletes — rows struck
    // by the DV were deleted in earlier commits, outside this range
    val dvOf = scala.collection.mutable.HashMap[
      String, Option[DeletionVectors.Descriptor]]()
    base.foreach(_.active.foreach { case (p, (pv, dv)) =>
      pvOf(p) = pv; dvOf(p) = dv })

    // (version, commitTimestampMs, kind, files with pv + dv + epoch);
    // kind: cdc | insert | delete — only delete files can carry a DV
    val pieces = scala.collection.mutable.Buffer[(Long, Long, String,
      Seq[(String, Map[String, String],
        Option[DeletionVectors.Descriptor], Int)])]()
    (fromVersion to toVersion).foreach { v =>
      val commitPath = new HPath(logDir, f"$v%020d.json")
      if (!fs.exists(commitPath))
        throw new IllegalArgumentException(
          s"CDF read of $path: commit $v is not retained (log cleanup) — " +
            "a change feed needs the JSON commits of its range")
      val ts = fs.getFileStatus(commitPath).getModificationTime
      val text = readString(fs, commitPath)
      val cdc = scala.collection.mutable.Buffer[
        (String, Map[String, String],
          Option[DeletionVectors.Descriptor], Int)]()
      val ins = scala.collection.mutable.Buffer[
        (String, Map[String, String],
          Option[DeletionVectors.Descriptor], Int)]()
      val del = scala.collection.mutable.Buffer[
        (String, Map[String, String],
          Option[DeletionVectors.Descriptor], Int)]()
      var dvAdd = false
      text.split('\n').foreach { line =>
        def pvIn: Map[String, String] =
          PartVals.findFirstMatchIn(line).map(_.group(1)) match {
            case Some(body) if body.trim.nonEmpty =>
              PartEntry.findAllMatchIn(body)
                .map(mm => unq(mm.group(1)) -> unq(mm.group(2))).toMap
            case _ => Map.empty[String, String]
          }
        def dataChange: Boolean =
          DataChangeRe.findFirstMatchIn(line).forall(_.group(1) == "true")
        CdcPath.findFirstMatchIn(line).foreach(m =>
          cdc += ((decodePath(unq(m.group(1))), pvIn, None,
            epochs.size - 1)))
        SchemaStr.findFirstMatchIn(line).foreach { m =>
          val sj = unq(m.group(1))
          val modeNow = checkColumnMapping(path,
            ColMapMode.findFirstMatchIn(line)
              .map(mm => unq(mm.group(1))).getOrElse(""))
          // the physical fingerprint (names + ids at every level,
          // identity-watermark metadata stripped by physicalField):
          // a change means files on either side carry different
          // physical schemas → new epoch
          def physPrint(j: String): String =
            StructType(DataType.fromJson(j).asInstanceOf[StructType]
              .fields.map(physicalField(_, withIds = true))).json
          val cur = epochs.last
          val mappingChanged = cur.schemaJson.exists { prev =>
            modeNow != cur.mode ||
              (modeNow != "none" && physPrint(prev) != physPrint(sj))
          }
          cur.schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType]
            .fieldNames.toSet).foreach { prev =>
            val now = DataType.fromJson(sj).asInstanceOf[StructType]
              .fieldNames.toSet
            if (now != prev)
              throw new IllegalArgumentException(
                s"CDF read of $path: commit $v changes the table schema " +
                  "inside the requested range")
          }
          val pcNew = PartCols.findFirstMatchIn(line).map(_.group(1))
            .filter(_.trim.nonEmpty)
            .map(_.split(",").toSeq.map(_.trim.stripPrefix("\"")
              .stripSuffix("\"")).filter(_.nonEmpty))
            .getOrElse(cur.partCols)
          if (mappingChanged)
            epochs += Epoch(modeNow, Some(sj), pcNew)
          else
            epochs(epochs.size - 1) = Epoch(modeNow, Some(sj), pcNew)
        }
        if (!line.contains("\"cdc\"")) {
          AddPath.findFirstMatchIn(line).foreach { m =>
            val p = decodePath(unq(m.group(1)))
            val dvHere = parseDvDescriptor(line)
            pvOf(p) = pvIn
            dvOf(p) = dvHere
            epochOf(p) = epochs.size - 1
            if (dataChange) {
              if (dvHere.isDefined) dvAdd = true
              ins += ((p, pvIn, None, epochs.size - 1))
            }
          }
          RemovePath.findFirstMatchIn(line).foreach { m =>
            val p = decodePath(unq(m.group(1)))
            val pv = pvOf.remove(p).getOrElse(pvIn)
            val dv = dvOf.remove(p).getOrElse(None)
            // removed files scan under the epoch that WROTE them
            val ep = epochOf.remove(p).getOrElse(0)
            if (dataChange) del += ((p, pv, dv, ep))
          }
        }
      }
      if (cdc.nonEmpty) pieces += ((v, ts, "cdc", cdc.toSeq))
      else {
        if (dvAdd)
          throw new IllegalArgumentException(
            s"CDF read of $path: commit $v adds a deletion vector without " +
              "cdc files — the changed rows are not reconstructable from " +
              "the log alone")
        if (ins.nonEmpty && del.nonEmpty)
          throw new IllegalArgumentException(
            s"CDF read of $path: commit $v both adds and removes data " +
              "without cdc files — an ambiguous update rewrite; enable " +
              "delta.enableChangeDataFeed on the writer")
        if (ins.nonEmpty) pieces += ((v, ts, "insert", ins.toSeq))
        if (del.nonEmpty) pieces += ((v, ts, "delete", del.toSeq))
      }
    }

    val finalSchemaJson = epochs.last.schemaJson.getOrElse(
      throw new IllegalStateException(
        s"CDF read of $path: no metaData action at or before $fromVersion"))
    val schema = DataType.fromJson(finalSchemaJson).asInstanceOf[StructType]
    // per-epoch scan context: column-mapped epochs scan by PHYSICAL
    // names (id mode by field id) and rename back after the
    // DV-membership ride; logical column names are range-stable (the
    // schema-change guard above), so epoch outputs union cleanly
    if (epochs.exists(_.mode == "id"))
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    final case class EpCtx(mapped: Boolean, dataSchema: StructType,
      physDataSchema: StructType, cdcSchema: StructType,
      physPartName: Map[String, String], partCols: Seq[String])
    val epCtx: IndexedSeq[EpCtx] = epochs.toIndexedSeq.map { ep =>
      val epSchema = DataType.fromJson(
        ep.schemaJson.getOrElse(finalSchemaJson)).asInstanceOf[StructType]
      val dataSchema = StructType(
        epSchema.filterNot(f => ep.partCols.contains(f.name)))
      val mapped = ep.mode != "none"
      val phys =
        if (mapped)
          StructType(dataSchema.fields.map(physicalField(_, ep.mode == "id")))
        else dataSchema
      EpCtx(mapped, dataSchema, phys,
        StructType(phys.fields :+ StructField("_change_type",
          org.apache.spark.sql.types.StringType)),
        ep.partCols.map(pc => pc ->
          (if (mapped) physicalField(epSchema(pc), withIds = false).name
           else pc)).toMap,
        ep.partCols)
    }
    val outCols = schema.map(f => col(f.name)) ++ Seq(
      col("_change_type"), col("_commit_version"), col("_commit_timestamp"))

    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(p: String): String = fileMetaPath(p, conf)
    def emit(v: Long, ts: Long, kind: String,
             files: Seq[(String, Map[String, String],
               Option[DeletionVectors.Descriptor], Int)]): Seq[DataFrame] =
      files.groupBy(f => (f._2, f._4)).toSeq.map { case ((pv, ep), fsOfPart) =>
        val c = epCtx(ep)
        val resolved = fsOfPart.map { case (p, _, dv, _) =>
          (resolveFile(root, p), dv) }
        val (dvFiles, plain) = resolved.partition(_._2.isDefined)
        def scanOf(paths: Seq[String]): DataFrame =
          if (kind == "cdc")
            spark.read.schema(c.cdcSchema).parquet(paths: _*)
          else
            spark.read.schema(c.physDataSchema).parquet(paths: _*)
              .withColumn("_change_type", lit(kind))
        // physical -> declared rename (one positional cast per level);
        // applied AFTER the DV membership filter, which needs only
        // _metadata refs off the raw scan
        def toLogical(df: DataFrame): DataFrame =
          if (!c.mapped) df
          else df.select(c.dataSchema.fields.zip(c.physDataSchema.fields)
            .map { case (lf, pf) =>
              col(pf.name).cast(lf.dataType).as(lf.name)
            } :+ col("_change_type"): _*)
        // a removed DV-carrying file: its DV-struck rows were deleted
        // BEFORE this range — emit only the still-live rows as deletes
        // (same codegen'd membership filter the snapshot reader uses)
        val dvScan: Option[DataFrame] =
          if (dvFiles.isEmpty) None
          else Some {
            val lookupMap = new java.util.HashMap[
              org.apache.spark.unsafe.types.UTF8String,
              DeletionVectors.Roaring64]()
            dvFiles.foreach { case (p, dv) =>
              lookupMap.put(
                org.apache.spark.unsafe.types.UTF8String.fromString(qualified(p)),
                DeletionVectors.load(conf, root, dv.get))
            }
            val bridge = org.apache.spark.sql.graftbridge.ColumnBridge
            val pred = bridge.column(DvDeleted(
              bridge.expression(col("_metadata.file_path")),
              bridge.expression(col("_metadata.row_index")),
              new DvLookup(lookupMap)))
            scanOf(dvFiles.map(_._1)).where(!pred)
          }
        val plainScan: Option[DataFrame] =
          if (plain.isEmpty) None else Some(scanOf(plain.map(_._1)))
        val base0 = toLogical(
          (plainScan.toSeq ++ dvScan.toSeq).reduce(_.unionByName(_)))
        val withParts = c.partCols.foldLeft(base0) { (d, pc) =>
          val f = schema(pc)
          d.withColumn(pc,
            pv.get(c.physPartName(pc)).map(lit(_)).getOrElse(lit(null))
              .cast(f.dataType))
        }
        withParts
          .withColumn("_commit_version", lit(v))
          .withColumn("_commit_timestamp",
            lit(new java.sql.Timestamp(ts)))
          .select(outCols: _*)
      }

    val parts = pieces.toSeq.flatMap { case (v, ts, kind, files) =>
      emit(v, ts, kind, files)
    }
    if (parts.isEmpty) {
      val empty = StructType(schema.fields ++ Seq(
        StructField("_change_type", org.apache.spark.sql.types.StringType),
        StructField("_commit_version", org.apache.spark.sql.types.LongType,
          nullable = false),
        StructField("_commit_timestamp",
          org.apache.spark.sql.types.TimestampType)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty)
    } else
      // every branch ends in .select(outCols) — positionally aligned;
      // one n-ary Union avoids the chained-union quadratic (see
      // ColumnBridge.unionAll)
      org.apache.spark.sql.graftbridge.ColumnBridge.unionAll(parts)
  }
}
