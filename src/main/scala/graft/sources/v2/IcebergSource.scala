package graft.sources.v2

import org.apache.avro.generic.GenericRecord
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.Batch
import org.apache.spark.sql.execution.streaming.Source
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graftbridge.ParquetTableBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.IcebergInterop

/** FOREIGN (or mirrored) Iceberg tables as a Spark data source,
  * dependency-free — the streaming half of the Iceberg interop (the
  * reference's primary format: docker/spark-notebook/02_iceberg_demo
  * .ipynb; production pipelines tail such tables with
  * `spark.readStream`):
  *
  * {{{
  *   spark.read.format("graft.sources.v2.IcebergSource").load(path)   // = readIceberg
  *   spark.readStream.format("graft.sources.v2.IcebergSource")
  *     .option("skipChangeCommits", "true").load(path)                // tail snapshots
  * }}}
  *
  * Contract (the [[DeltaSource]] / graft-source shape over Iceberg
  * snapshots): offset = snapshot id, ordered by the metadata's
  * snapshots array (append-ordered by writers; the mirror appends one
  * per graft commit). Batch 0 is the complete snapshot at stream
  * start; every later batch is exactly the data files ADDED by the
  * `append`-operation snapshots in between — any other operation
  * (overwrite, delete, replace/compaction, or a snapshot carrying
  * delete manifests) fails loudly unless `skipChangeCommits=true`
  * skips that whole snapshot. Mid-stream schema changes refuse
  * non-retryably. Streaming scans read every declared column FROM the
  * data files (verified by a footer probe per batch) — tables whose
  * identity partition values live only in manifest metadata
  * (hive-migrated layouts) refuse toward batch `readIceberg`, which
  * implements the Column Projection rule. An expired start snapshot
  * (expire_snapshots outran the consumer) refuses with a restart
  * message.
  *
  * Scale shape: planning is O(#manifests + #files) driver-side
  * metadata per batch; the data path is the native vectorized parquet
  * reader over only the added files. */
class IcebergSource extends LogTailProvider("iceberg") {
  protected def schemaOf(spark: SparkSession, path: String): StructType = {
    val (_, md) = IcebergInterop.currentMetadata(spark, path)
    IcebergInterop.fromIcebergStruct(IcebergInterop.currentSchemaNode(md, path), path)
  }

  protected def cdfSchema(base: StructType): StructType = IcebergSource.cdfSchema(base)

  protected def tail(spark: SparkSession, path: String, schema: StructType,
      options: CaseInsensitiveStringMap): LogTail =
    new IcebergTail(spark, path, schema, options)

  // batch changelog: startingSnapshotId (exclusive, required) ..
  // endingSnapshotId (default current)
  protected def batchRead(spark: SparkSession, path: String, cdf: Boolean,
      schema: StructType, options: CaseInsensitiveStringMap): DataFrame =
    if (!cdf) IcebergInterop.readIceberg(spark, path)
    else IcebergInterop.readIcebergChangelog(spark, path,
      Option(options.get("startingSnapshotId")).getOrElse(
        throw new IllegalArgumentException(
          "batch readChangeFeed needs startingSnapshotId (exclusive)")).toLong,
      Option(options.get("endingSnapshotId")).map(_.toLong))

  protected def cdfSource(spark: SparkSession,
      parameters: Map[String, String]): Source =
    new IcebergCdfStreamSource(spark, parameters)
}

object IcebergSource {
  /** The changelog read schema: table columns plus the change
    * metadata columns [[IcebergInterop.readIcebergChangelog]] tags. */
  private[v2] def cdfSchema(base: StructType): StructType =
    StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_snapshot_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_change_ordinal",
        org.apache.spark.sql.types.IntegerType)))
}

/** Streaming CHANGELOG over an Iceberg table
  * (`option("readChangeFeed", "true")`) — the Iceberg twin of
  * [[DeltaCdfStreamSource]]: batch 0 is the complete snapshot at
  * stream start emitted as `insert` rows (ordinal 0), and every later
  * micro-batch is [[IcebergInterop.readIcebergChangelog]] over the
  * snapshots in between — appends as inserts, merge-on-read and
  * copy-on-write change snapshots DECODED into insert/delete rows
  * instead of refusing (compactions stay invisible).
  * `startingSnapshotId` (id, or "latest") skips batch 0 and streams
  * changes strictly after that snapshot. Offsets are snapshot ids
  * (durable in the checkpoint as a bare number, [[LongOffset]]); an
  * expired start refuses loudly with a restart message, like the batch
  * reader. */
class IcebergCdfStreamSource(spark: SparkSession, parameters: Map[String, String])
    extends Source {
  private val params =
    parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
  private val path = params.getOrElse("path",
    throw new IllegalArgumentException(
      "iceberg CDF source needs a path: .load(<table root>)"))

  /** The CURRENT branch head (main ref / current-snapshot-id) — after
    * a rollback the snapshots ARRAY still tails with abandoned
    * commits, which are not on the stream's branch. */
  private def headId(): Long = {
    val (_, md) = IcebergInterop.currentMetadata(spark, path)
    IcebergInterop.currentHeadId(md)
  }

  private val startingSnapshotId: Option[Long] =
    params.get("startingsnapshotid").map {
      case "latest" => headId()
      case v => v.toLong
    }

  override val schema: StructType = {
    val (_, md) = IcebergInterop.currentMetadata(spark, path)
    IcebergSource.cdfSchema(IcebergInterop.fromIcebergStruct(
      IcebergInterop.currentSchemaNode(md, path), path))
  }

  private def snapOf(
      o: org.apache.spark.sql.execution.streaming.Offset): Long =
    o.json.trim.toLong

  override def getOffset
      : Option[org.apache.spark.sql.execution.streaming.Offset] = {
    val latest = headId()
    if (latest < 0) None
    else if (startingSnapshotId.contains(latest)) None
    else Some(LongOffset(latest))
  }

  override def getBatch(
      start: Option[org.apache.spark.sql.execution.streaming.Offset],
      end: org.apache.spark.sql.execution.streaming.Offset)
      : DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val endId = snapOf(end)
    val df = start.map(snapOf).orElse(startingSnapshotId) match {
      case Some(s) if s >= 0 && s != endId =>
        IcebergInterop.readIcebergChangelog(spark, path, s, Some(endId))
      case Some(s) if s >= 0 => // s == endId: nothing new
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case _ =>
        // batch 0 (fresh stream, or "latest" pinned on a then-empty
        // table): the complete snapshot at `end` as inserts
        IcebergInterop.readIcebergInternal(spark, path, Some(endId), None,
            withLineage = false)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_snapshot_id", lit(endId))
          .withColumn("_change_ordinal", lit(0))
    }
    org.apache.spark.sql.graftbridge.ColumnBridge.asStreamingDataFrame(
      df.select(schema.fieldNames.map(col).toSeq: _*))
  }

  override def stop(): Unit = ()
}

/** The Iceberg snapshot history as a [[LogTail]]: keys are snapshot ids
  * along the current branch's parent-snapshot-id ancestor chain, a
  * snapshot's files are the data files its `append` ADDED. See
  * [[IcebergSource]] for the contract. */
private[v2] final class IcebergTail(spark: SparkSession, path: String,
    schema: StructType, options: CaseInsensitiveStringMap) extends LogTail {
  import IcebergInterop.{fieldOpt, longOf, readAvro, readBytes, refuse}
  import com.fasterxml.jackson.databind.JsonNode
  import scala.jdk.CollectionConverters._

  val label = s"iceberg stream over $path"
  val keyField = "snapshotId"
  val capOption = "maxSnapshotsPerTrigger"

  /** `startingSnapshotId`: skip the initial snapshot scan and stream
    * appends AFTER this retained snapshot (exclusive) — the Iceberg twin
    * of Delta's startingVersion. "latest" = future appends only. */
  val initialKey: Long = Option(options.get("startingSnapshotId")).map {
    case "latest" => read().latest
    case v => v.toLong
  }.getOrElse(-1L)

  private def fieldNames(schemaNode: JsonNode): Set[String] =
    schemaNode.path("fields").elements().asScala.map(_.path("name").asText()).toSet

  private def retainedOnly(id: Long): Nothing =
    throw new IllegalStateException(
      s"$label: snapshot $id is no longer retained (expire_snapshots " +
        "outran this consumer) — restart the stream from a fresh checkpoint")

  def read(): TailLog = new TailLog {
    private val (fs, md) = IcebergInterop.currentMetadata(spark, path)
    private lazy val byId = IcebergInterop.snapshotsById(md)
    /** the CURRENT branch's ancestor chain (oldest→newest) — never the
      * raw snapshots array, whose tail still carries commits abandoned by
      * a rollback */
    private lazy val chain =
      IcebergInterop.ancestorChainOf(md, IcebergInterop.currentHeadId(md))
    private def schemas: Seq[JsonNode] =
      if (md.path("schemas").isArray) md.get("schemas").elements().asScala.toSeq
      else Nil
    private def snap(id: Long): JsonNode = byId.getOrElse(id, retainedOnly(id))

    def latest: Long = chain.lastOption.getOrElse(-1L)

    override def keys(after: Long, upTo: Long): Seq[Long] = {
      val i = chain.indexOf(after)
      if (after >= 0 && i < 0) retainedOnly(after)
      val j = chain.indexOf(upTo)
      if (upTo < 0) Nil else chain.slice(i + 1, if (j < 0) chain.size else j + 1)
    }

    /** the `added-files-size` summary bytes every Iceberg writer stamps;
      * a snapshot without it admits as 0 bytes (toward progress) */
    def bytes(id: Long): Long =
      snap(id).path("summary").path("added-files-size").asLong(0L)

    // manifest-list records of one snapshot: (content, manifest path,
    // manifest added_snapshot_id)
    private def listRecords(id: Long): Seq[(Long, String, Long)] =
      readAvro(readBytes(fs, new HPath(snap(id).get("manifest-list").asText())))
        .map { r =>
          (fieldOpt(r, "content").map(longOf).getOrElse(0L),
            r.get("manifest_path").toString,
            fieldOpt(r, "added_snapshot_id").map(longOf).getOrElse(-1L))
        }
    private def dataFiles(manifest: String): Seq[(GenericRecord, GenericRecord)] =
      readAvro(readBytes(fs, new HPath(manifest))).map { e =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        val fmt = df.get("file_format").toString
        if (!fmt.equalsIgnoreCase("parquet")) refuse(path, s"has $fmt data files")
        (e, df)
      }

    def snapshot(id: Long): Seq[String] = {
      val recs = listRecords(id)
      if (recs.exists(_._1 != 0L))
        throw new IllegalStateException(
          s"$label: the table carries row-level " +
            "delete files — a merge-on-read state cannot stream " +
            "append-only; read it batch-side via readIceberg")
      recs.flatMap { case (_, mp, _) =>
        dataFiles(mp).collect { case (e, df) if longOf(e.get("status")) != 2L =>
          df.get("file_path").toString }
      }.distinct
    }

    def commit(id: Long): TailCommit = {
      val s = snap(id)
      // schema gate, the graft source's restart-safe rule: a snapshot
      // whose schema ADDS columns the plan lacks refuses (the fixed-schema
      // scan would silently drop them; a restarted stream plans with the
      // widened schema), a NARROWER one (a restarted stream's catch-up)
      // null-fills like additive evolution
      if (s.has("schema-id")) {
        val sid = s.get("schema-id").asInt()
        val added = schemas.filter(_.path("schema-id").asInt(-1) == sid)
          .flatMap(fieldNames).toSet -- schema.fieldNames.toSet
        if (added.nonEmpty)
          throw new IllegalStateException(
            s"$label: snapshot $id changes the " +
              s"table schema (added ${added.toSeq.sorted.mkString(", ")}) " +
              "— restart the stream to pick up the new schema")
      }
      val op = s.path("summary").path("operation").asText("")
      // `replace` (Iceberg's compaction operation) and the graft mirror's
      // `compact`/`cluster` rewrite the same rows into new files —
      // invisible to a stream by Iceberg's own source contract. Anything
      // else non-append is a row-level change. Delete manifests CARRIED
      // from older snapshots don't make an append a change: position
      // deletes reference files that existed before, and equality deletes
      // strike only LOWER data sequence numbers — neither can touch this
      // snapshot's added rows. Only a delete manifest it ADDED does.
      if (op == "replace" || op.startsWith("compact") || op.startsWith("cluster"))
        return TailCommit.Invisible
      lazy val recs = listRecords(id)
      if (op != "append" || recs.exists(r => r._1 != 0L && r._3 == id))
        return TailCommit.Change(s"snapshot $id is operation '$op'")
      // carried delete manifests contribute no streamed files (and may
      // hold non-parquet DV entries) — data only
      TailCommit.Append(recs.filter(_._1 == 0L).flatMap { case (_, mp, addedBy) =>
        dataFiles(mp).collect {
          case (e, df) if longOf(e.get("status")) == 1L &&
              fieldOpt(e, "snapshot_id").map(longOf).getOrElse(addedBy) == id =>
            df.get("file_path").toString
        }
      }.distinct)
    }

    def scan(files: Seq[String]): Batch = {
      val version = md.path("format-version").asInt(1)
      if (version > 3) refuse(path, "is format version 4+")
      // v3 streams like v2 (appends only; MoR states refuse at batch 0,
      // DV-writing snapshots are change snapshots) — except column
      // DEFAULT VALUES, which a fixed-schema scan would null-fill
      def hasDefault(node: JsonNode): Boolean =
        node.path("fields").elements().asScala.exists(f =>
          (f.has("initial-default") && !f.get("initial-default").isNull) ||
            (f.path("type").isObject && hasDefault(f.path("type"))))
      if (version == 3 && (schemas ++ Option(md.get("schema"))).exists(hasDefault))
        refuse(path, "declares Iceberg v3 column default values — a " +
          "fixed-schema stream would null-fill them")
      // Footer probe (the batch reader's stable-columns rule): columns
      // present in EVERY retained schema version must come FROM the files
      // — identity partition values living only in manifest metadata, or
      // renames, would null-fill through this fixed-schema scan. Columns
      // ADDED by schema evolution are legitimately absent from older
      // files (a restarted stream's catch-up batch spans them) and
      // null-fill by name, matching Iceberg's by-id semantics.
      val stableCols = schema.fieldNames.toSeq.filter(n =>
        schemas.forall(fieldNames(_).contains(n)))
      val conf = spark.sparkContext.hadoopConfiguration
      val missing = files.headOption.toSeq.flatMap { f =>
        val probe = graft.sources.FooterSchema.of(conf, f).fieldNames.toSet
        stableCols.filterNot(probe.contains)
      }
      val scanSchema = if (missing.isEmpty) schema else {
        // RENAMED tables whose files carry parquet FIELD IDS (real Iceberg
        // writers always stamp them) upgrade to id-resolution: the scan
        // schema annotates each column's Iceberg field id and Spark's
        // parquet readers match by id — old-name files read their real
        // data positionally, the batch reader's rename rule. Id-less
        // files (hive-migrated / graft exports) refuse toward
        // readIceberg's name-mapping path.
        val allIdStamped = files.forall { f =>
          val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new HPath(f), conf))
          try {
            val sc = rdr.getFooter.getFileMetaData.getSchema
            (0 until sc.getFieldCount).forall(i => sc.getType(i).getId != null)
          } finally rdr.close()
        }
        if (!allIdStamped)
          throw new IllegalStateException(
            s"$label: data files lack declared columns " +
              s"${missing.mkString(", ")} (identity partition values in " +
              "manifest metadata, or an id-less rename) — read this table " +
              "batch-side via readIceberg")
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        IcebergInterop.annotateFieldIds(schema, IcebergInterop.currentSchemaNode(md, path))
      }
      ParquetTableBridge.scanBuilder(spark, "iceberg-stream", files, scanSchema,
        options).build().toBatch
    }
  }
}
