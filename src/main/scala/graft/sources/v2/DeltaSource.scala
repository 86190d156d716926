package graft.sources.v2

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.Batch
import org.apache.spark.sql.execution.streaming.Source
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graftbridge.ParquetTableBridge
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.DeltaInterop

/** FOREIGN Delta tables as a Spark data source, dependency-free — the
  * streaming half of the Delta interop (reference behavior:
  * docker/spark-notebook/03_delta_demo.ipynb drives Delta tables;
  * production pipelines tail them with `spark.readStream`):
  *
  * {{{
  *   spark.read.format("graft.sources.v2.DeltaSource").load(path)        // = readDelta
  *   spark.readStream.format("graft.sources.v2.DeltaSource")
  *     .option("skipChangeCommits", "true").load(path)                   // tail the log
  * }}}
  *
  * The stream follows the graft source's (and Delta's own source's)
  * contract: batch 0 is the complete snapshot at stream start, every
  * later batch is exactly the files ADDED by the commits between two
  * offsets (offset = Delta version, durable in the checkpoint), change
  * commits (removes, or adds carrying deletion vectors — a DV add IS a
  * row-level change) fail loudly unless `skipChangeCommits=true` skips
  * the whole commit, and mid-stream schema changes refuse non-retryably
  * — a restarted stream plans with the new schema. Partition columns
  * are recovered from the hive-style directory layout under one
  * explicit `basePath` (the universal Spark writer layout; adds whose
  * paths don't encode every partition column refuse). COLUMN-MAPPED
  * tables (every table that ever ran RENAME COLUMN under Delta 3.x)
  * stream too: the scan runs under the pinned PHYSICAL schema in
  * planned field order — positionally identical rows, no rename
  * projection — relying on the protocol's physical-name immutability;
  * an assignment rewrite (REPLACE TABLE) refuses non-retryably.
  *
  * Scale shape: planning is O(#commits + #files) driver-side metadata;
  * the data path is the native vectorized parquet batch reader over
  * only the added files. */
class DeltaSource extends LogTailProvider("delta") {
  /** The snapshot [[schemaOf]] replayed, by path. Spark resolves a table
    * with `inferSchema` then `getTable` on one provider instance, so the
    * stream takes its column-mapping posture from the same version as
    * its schema instead of replaying the log again. */
  @volatile private var inferred: Option[(String, DeltaInterop.DeltaSnapshot)] = None

  protected def schemaOf(spark: SparkSession, path: String): StructType = {
    val st = DeltaInterop.replaySnapshot(spark, path, None)
    inferred = Some(path -> st)
    DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
  }

  protected def cdfSchema(base: StructType): StructType = DeltaSource.cdfSchema(base)

  protected def tail(spark: SparkSession, path: String, schema: StructType,
      options: CaseInsensitiveStringMap): LogTail =
    new DeltaTail(spark, path, schema, options,
      inferred.collect { case (`path`, st) => st })

  // batch CDF: startingVersion..endingVersion (ends default to the full
  // retained range)
  protected def batchRead(spark: SparkSession, path: String, cdf: Boolean,
      schema: StructType, options: CaseInsensitiveStringMap): DataFrame =
    if (!cdf) DeltaInterop.readDelta(spark, path)
    else DeltaInterop.readDeltaChanges(spark, path,
        Option(options.get("startingVersion")).map(_.toLong).getOrElse(0L),
        Option(options.get("endingVersion")).map(_.toLong)
          .getOrElse(DeltaSource.latestVersion(spark, path)))
      .select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)

  protected def cdfSource(spark: SparkSession,
      parameters: Map[String, String]): Source =
    new DeltaCdfStreamSource(spark, parameters)
}

object DeltaSource {
  /** The newest version in the table's `_delta_log` listing: commit
    * files and checkpoints (a cleaned-up log may start at a checkpoint). */
  private[v2] def latestVersion(spark: SparkSession, path: String): Long = {
    val logDir = new HPath(new HPath(path), "_delta_log")
    val names = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(logDir).toSeq.map(_.getPath.getName)
    val jsons = names.collect { case n if n.matches("\\d{20}\\.json") =>
      n.dropRight(5).toLong }
    val cps = names.flatMap(n =>
      "(\\d{20})\\.checkpoint.*\\.parquet".r.findFirstMatchIn(n)
        .map(_.group(1).toLong))
    (jsons ++ cps).maxOption.getOrElse(
      throw new IllegalArgumentException(s"empty Delta log at $path"))
  }

  /** The CDF read schema: table columns plus the protocol's change
    * metadata columns. */
  private[v2] def cdfSchema(base: StructType): StructType =
    StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("_commit_timestamp",
        org.apache.spark.sql.types.TimestampType)))
}

/** Streaming CDF over a foreign Delta log
  * (`option("readChangeFeed", "true")`): each micro-batch is the
  * row-level change feed of the commits between two versions, produced
  * by [[DeltaInterop.readDeltaChanges]] — `_change_type`-tagged rows
  * with `_commit_version`/`_commit_timestamp`. `startingVersion`
  * (number, or "latest" for only-new-changes) defaults to 0, i.e. the
  * full retained history; ranges whose commits were cleaned up refuse
  * loudly, exactly like the batch CDF read. Offsets are Delta versions
  * (durable in the checkpoint as a bare number, [[LongOffset]]); schema
  * changes inside a batch range refuse via the underlying reader. */
class DeltaCdfStreamSource(spark: SparkSession, parameters: Map[String, String])
    extends Source {
  private val params =
    parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
  private val path = params.getOrElse("path",
    throw new IllegalArgumentException(
      "delta CDF source needs a path: .load(<table root>)"))
  private def latestVersion(): Long = DeltaSource.latestVersion(spark, path)

  private val startingVersion: Long =
    params.get("startingversion") match {
      case Some("latest") => latestVersion() + 1
      case Some(v) => v.toLong
      case None => 0L
    }

  override val schema: StructType = DeltaSource.cdfSchema(
    DataType.fromJson(DeltaInterop.replaySnapshot(spark, path, None)
      .schemaJson).asInstanceOf[StructType])

  private def versionOf(
      o: org.apache.spark.sql.execution.streaming.Offset): Long =
    o.json.trim.toLong

  override def getOffset
      : Option[org.apache.spark.sql.execution.streaming.Offset] = {
    val latest = latestVersion()
    if (latest < startingVersion) None
    else Some(LongOffset(latest))
  }

  override def getBatch(
      start: Option[org.apache.spark.sql.execution.streaming.Offset],
      end: org.apache.spark.sql.execution.streaming.Offset)
      : DataFrame = {
    val from = start.map(versionOf(_) + 1).getOrElse(startingVersion)
    val to = versionOf(end)
    val df =
      if (from > to)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else DeltaInterop.readDeltaChanges(spark, path, from, to)
    org.apache.spark.sql.graftbridge.ColumnBridge.asStreamingDataFrame(
      df.select(schema.fieldNames.map(
        org.apache.spark.sql.functions.col).toSeq: _*))
  }

  override def stop(): Unit = ()
}


/** The Delta log as a [[LogTail]]: keys are versions, a commit's files
  * are its `dataChange` adds. See [[DeltaSource]] for the contract. */
private[v2] final class DeltaTail(spark: SparkSession, path: String,
    schema: StructType, options: CaseInsensitiveStringMap,
    inferred: Option[DeltaInterop.DeltaSnapshot]) extends LogTail {
  val label = s"delta stream over $path"
  val keyField = "version"
  val capOption = "maxCommitsPerTrigger"

  private val root = new HPath(path)
  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def commitFile(v: Long) = new HPath(root, f"_delta_log/$v%020d.json")

  /** `startingVersion` (Delta's own source option): skip the initial
    * snapshot and stream commits FROM this version on — the only way to
    * tail a 100 TB table without scanning it first. "latest" = future
    * commits only. The named commit must still be retained (the
    * per-commit catch-up path validates). */
  val initialKey: Long = Option(options.get("startingVersion")).map {
    case "latest" => DeltaSource.latestVersion(spark, path)
    case v =>
      val n = v.toLong
      require(n >= 1, s"startingVersion must be >= 1 (got $n) — " +
        "version 0 is the stream's default initial-snapshot behavior; " +
        "omit the option")
      n - 1
  }.getOrElse(-1L)

  /** The snapshot the stream's schema came from, which pins its
    * column-mapping posture ONCE per run: mapped tables scan their files
    * under PHYSICAL names in the PLANNED field order — rows come out
    * positionally identical to the declared schema, so no rename
    * projection rides the streaming scan. Pinning once is sound because
    * Delta physical names are immutable after assignment (PROTOCOL.md);
    * the per-commit metaData gate refuses the one illegal transition (an
    * assignment rewrite, e.g. REPLACE TABLE). */
  private lazy val pinned =
    inferred.getOrElse(DeltaInterop.replaySnapshot(spark, path, None))
  private lazy val physNames = DeltaInterop.physicalNamesOf(pinned.schemaJson)
  private lazy val scanSchema = if (pinned.colMapMode == "none") schema
    else DeltaInterop.physicalScanSchema(pinned.schemaJson, pinned.colMapMode, schema)
  private def physName(c: String): String = physNames.getOrElse(c, c)

  // Partition columns BY VERSION: seeded by one replay per (re)start,
  // then advanced from each commit's metaData as batches plan. Kept at
  // batch starts and ends, so a re-planned batch and the next trigger
  // (which starts where this one ended) hit the cache. A restart
  // catching up across a partition-layout change validates old commits'
  // files against the OLD layout, not the latest snapshot's.
  private val partColsAt = scala.collection.mutable.Map[Long, Seq[String]]()
  private def partColsOf(v: Long): Seq[String] =
    partColsAt.getOrElseUpdate(v,
      DeltaInterop.replaySnapshot(spark, path, Some(v)).partCols)

  /** Every partition column must be path-encoded (`…/col=value/…`), under
    * its physical name, for the hive-dir recovery to reconstruct it. */
  private def checked(partCols: Seq[String], p: String): String = {
    val file = DeltaInterop.resolveFile(root, p)
    partCols.map(physName).foreach { pc =>
      if (!file.contains(s"/$pc="))
        throw new IllegalStateException(
          s"$label: data file $file does not encode " +
            s"partition column '$pc' in its path — the stream recovers " +
            "partition values from the hive directory layout; read this " +
            "table batch-side via DeltaInterop.readDelta")
    }
    file
  }

  private def readText(p: HPath): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  def read(): TailLog = new TailLog {
    lazy val latest: Long = DeltaSource.latestVersion(spark, path)
    /** the version this view's commit walk last advanced to */
    private var walked = Option.empty[Long]

    /** add-action bytes — the size field every Delta writer records. */
    def bytes(v: Long): Long = {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      readText(commitFile(v)).split('\n').filter(_.contains("\"add\"")).map { line =>
        Option(om.readTree(line).get("add"))
          .map(_.path("size").asLong(0L)).getOrElse(0L)
      }.sum
    }

    // deterministic on checkpoint recovery: the version pins the state
    def snapshot(e: Long): Seq[String] = {
      val st = inferred.filter(_.version == e)
        .getOrElse(DeltaInterop.replaySnapshot(spark, path, Some(e)))
      if (st.colMapMode != pinned.colMapMode)
        throw new IllegalStateException(
          s"$label: column-mapping mode at version " +
            s"$e ('${st.colMapMode}') differs from the planned " +
            s"snapshot's ('${pinned.colMapMode}') — the table was replaced " +
            "under this stream; restart from a fresh checkpoint")
      st.active.foreach { case (p, (_, dv)) =>
        if (dv.isDefined)
          throw new IllegalStateException(
            s"$label: file $p carries a deletion " +
              "vector at stream start — a DV'd snapshot cannot stream " +
              "append-only; compact the table or read it batch-side")
      }
      partColsAt(e) = st.partCols
      st.active.map { case (p, _) => checked(st.partCols, p) }
    }

    def commit(v: Long): TailCommit = {
      if (!fs.exists(commitFile(v)))
        throw new IllegalStateException(
          s"$label: commit $v is no longer retained " +
            "(log cleanup outran this consumer) — restart the stream " +
            "from a fresh checkpoint")
      val a = DeltaInterop.parseCommitText(path, readText(commitFile(v)))
      var partCols = partColsOf(v - 1)
      a.meta.foreach { case (sj, pc, _) =>
        partCols = pc
        // column-mapping gate: physical names are IMMUTABLE once
        // assigned, so a replayed commit's assignment must agree with
        // the planned snapshot's for every shared column — including
        // the upgrade commit (upgraded columns take their logical name
        // as physical name, so pre-upgrade files and the pinned
        // physical scan schema agree). A disagreement means the
        // assignment was REWRITTEN under this stream (REPLACE TABLE) —
        // no restart can reconcile the range; re-sync.
        DeltaInterop.physicalNamesOf(sj).collectFirst {
          case (l, p) if physName(l) != p && schema.fieldNames.contains(l) =>
            throw new IllegalStateException(
              s"$label: commit $v maps column '$l' to " +
                s"physical name '$p' but the planned snapshot maps it " +
                s"to '${physName(l)}' — the column-" +
                "mapping assignment was rewritten under this stream; " +
                "re-sync from a fresh checkpoint")
        }
        // schema gate, the graft source's restart-safe rule: a commit
        // ADDING columns the plan lacks refuses, NARROWER metaData (a
        // restarted stream's catch-up) null-fills
        val added = DataType.fromJson(sj).asInstanceOf[StructType]
          .fieldNames.toSet -- schema.fieldNames.toSet
        if (added.nonEmpty)
          throw new IllegalStateException(
            s"$label: commit $v changes the table " +
              s"schema (added ${added.toSeq.sorted.mkString(", ")}) — " +
              "restart the stream to pick up the new schema")
      }
      partColsAt(v) = partCols
      walked.foreach(partColsAt.remove) // a version inside this batch
      walked = Some(v)
      // the Delta source contract: dataChange=false actions
      // (compaction/optimize rewrites) are INVISIBLE to streams — only
      // dataChange removes / DV'd adds make a change commit
      if (a.removeActions.exists(_._2) ||
          a.addActions.exists(ad => ad.dataChange && ad.dv.isDefined))
        TailCommit.Change(s"commit $v removes or rewrites " +
          "data (dataChange removes or deletion vectors)")
      else TailCommit.Append(
        a.addActions.filter(_.dataChange).map(ad => checked(partCols, ad.path)))
    }

    def scan(files: Seq[String]): Batch = {
      // basePath pins hive partition inference to the table root across
      // arbitrary file subsets. Copy via asCaseSensitiveMap — the
      // Map-interface copy of a CaseInsensitiveStringMap yields
      // LOWERCASED keys, and the file index looks "basePath" up
      // case-sensitively (a lowercased key silently disables inference
      // and null-fills every partition column).
      val m = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
      m.put("basePath", path)
      // column-mapped tables scan under the pinned PHYSICAL schema in
      // planned field order (id mode resolves by parquet field id)
      if (pinned.colMapMode == "id")
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      ParquetTableBridge.scanBuilder(spark, "delta-stream", files, scanSchema,
        new CaseInsensitiveStringMap(m)).build().toBatch
    }
  }
}
