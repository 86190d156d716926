package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.Source
import org.apache.spark.sql.graftbridge.ParquetTableBridge
import org.apache.spark.sql.sources.{BaseRelation, StreamSourceProvider, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.GraftTable

/** Stream offset = one log key: a commit version (graft, Delta) or an
  * Iceberg snapshot id, durable and human-readable in the checkpoint as
  * `{"version":N}` / `{"snapshotId":N}`. -1 = nothing processed. */
case class LogTailOffset(field: String, key: Long) extends Offset {
  override def json: String = s"""{"$field":$key}"""
}

object LogTailOffset {
  def fromJson(field: String, json: String): LogTailOffset =
    LogTailOffset(field, s""""$field"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(s"bad $field offset: $json"))
      .group(1).toLong)
}

/** One commit of a tailed log, as the stream sees it. */
sealed trait TailCommit
object TailCommit {
  /** Adds exactly these data files. */
  final case class Append(files: Seq[String]) extends TailCommit
  /** Removes or rewrites rows; `what` names the commit and the change. */
  final case class Change(what: String) extends TailCommit
  /** Rewrites the same rows into new files (compaction): never streamed,
    * never refused. */
  case object Invisible extends TailCommit
}

/** What a table format supplies to [[LogTailStream]]: how to name its
  * stream and its offsets, and a fresh view of its log per engine call. */
trait LogTail {
  /** Prefixes every refusal, e.g. "delta stream over <path>". */
  def label: String
  /** The offset JSON field: "version" or "snapshotId". */
  def keyField: String
  /** The read option capping keys per micro-batch. */
  def capOption: String
  /** The key a fresh stream starts after; -1 makes batch 0 the complete
    * snapshot at its end key. */
  def initialKey: Long
  /** Reads the log (listing, metadata) once: one view per engine call,
    * so a stream sees commits landed after it started. */
  def read(): TailLog
}

/** One engine call's view of a tailed log. */
trait TailLog {
  def latest: Long
  /** The ordered keys after `after` (-1 = from the first) up to `upTo`
    * or the latest, whichever comes first. Versions by default. */
  def keys(after: Long, upTo: Long): Seq[Long] = (after + 1) to upTo
  /** Data bytes the commit at `key` added. */
  def bytes(key: Long): Long
  /** Batch 0: every live data file of the snapshot at `key`. */
  def snapshot(key: Long): Seq[String]
  def commit(key: Long): TailCommit
  /** The parquet scan over `files` under the stream's planned schema. */
  def scan(files: Seq[String]): Batch
}

/** Micro-batch stream tailing a table's commit log — the Delta
  * streaming-source contract, shared by the graft, Delta and Iceberg
  * sources (Structured Streaming's replayable offsets plus admission
  * control):
  *
  *  - Batch 0 is the complete snapshot at its end key (unless the format
  *    starts after a given key), one indivisible batch whatever the
  *    limit, so a new consumer begins from a complete state.
  *  - Every later batch is exactly the files ADDED by the commits between
  *    two offsets, classified per commit, never as a net diff over the
  *    span: a net diff would misread a change commit's rewritten output
  *    as an append and duplicate its surviving rows.
  *  - A change commit fails the stream loudly unless read option
  *    `skipChangeCommits=true` skips the whole commit; consumers that
  *    need rewritten rows read the change feed batch-side.
  *  - Admission: at most `capOption` commits per batch (ReadLimit has no
  *    maxCommits flavor, so maxFiles carries the cap: one commit = one
  *    writer batch of files), and `maxBytesPerTrigger` bounds a batch by
  *    the commits' added bytes — commit count is a poor rate unit when
  *    writer batch sizes are skewed. At least one commit always admits.
  *  - `Trigger.AvailableNow` drains exactly the commits present at start,
  *    in admission-bounded batches, then stops.
  *
  * Offsets are log keys, so checkpoint recovery replans the same file
  * sets deterministically (data files are immutable). Planning is
  * O(#commits + #files) driver-side metadata; the data path is the
  * native vectorized parquet batch reader over the added files only. */
final class LogTailStream(tail: LogTail, options: CaseInsensitiveStringMap)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  private val skipChangeCommits =
    Option(options.get("skipChangeCommits")).exists(_.toBoolean)
  private val maxPerTrigger = Option(options.get(tail.capOption)).map(_.toInt)
  private val maxBytesPerTrigger =
    Option(options.get("maxBytesPerTrigger")).map(_.toLong)

  @volatile private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(tail.read().latest)

  private def offset(key: Long): Offset = LogTailOffset(tail.keyField, key)
  private def keyOf(o: Offset): Long = o.asInstanceOf[LogTailOffset].key

  override def initialOffset(): Offset = offset(tail.initialKey)
  override def latestOffset(): Offset = offset(tail.read().latest)
  override def reportLatestOffset(): Offset = latestOffset()
  override def deserializeOffset(json: String): Offset =
    LogTailOffset.fromJson(tail.keyField, json)

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  /** The commit cap implied by the ReadLimit the ENGINE passed — Spark
    * may hand back something other than our default (AvailableNow wraps,
    * composites compose), so honor it; the option is only the fallback
    * for allAvailable (and for row/byte caps, which don't map to
    * commits). A composite takes the tightest cap it holds. */
  private def commitCap(limit: ReadLimit): Option[Int] = limit match {
    case f: ReadMaxFiles => Some(f.maxFiles)
    case c: CompositeReadLimit =>
      c.getReadLimits.toSeq.flatMap(commitCap).minOption
    case _ => maxPerTrigger
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val log = tail.read()
    val s = keyOf(start)
    val keys = log.keys(s, availableNowEnd.getOrElse(log.latest))
    if (s < 0) return offset(keys.lastOption.getOrElse(-1L))
    val capped = commitCap(limit).fold(keys)(keys.take)
    val n = maxBytesPerTrigger.fold(capped.size)(admitBytes(capped, log, _))
    offset(if (n == 0) s else capped(n - 1))
  }

  /** How many of `keys` a batch admits under the byte budget: the first
    * always (progress), then each while the total stays within it. */
  private def admitBytes(keys: Seq[Long], log: TailLog, budget: Long): Int = {
    val it = keys.iterator
    var n = 0
    var acc = 0L
    while (it.hasNext && (n == 0 || acc < budget)) {
      val b = log.bytes(it.next())
      if (n > 0 && acc + b > budget) return n
      acc += b
      n += 1
    }
    n
  }

  // The reader factory must come from the SAME scan as the planned
  // partitions: a factory over an empty file index carries an empty
  // partition schema and would null-fill hive-recovered partition
  // columns. Only a batch that planned no files takes an empty scan's.
  @volatile private var planned: Batch = _

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (keyOf(start), keyOf(end))
    planned = null
    if (e == s || e < 0) return Array.empty
    val log = tail.read()
    val files =
      if (s < 0) log.snapshot(e)
      else {
        val keys = log.keys(s, e)
        require(keys.lastOption.contains(e),
          s"${tail.label}: end $e is not on the log after $s")
        keys.flatMap(k => log.commit(k) match {
          case TailCommit.Append(added) => added
          case TailCommit.Invisible => Nil
          case TailCommit.Change(_) if skipChangeCommits => Nil
          case TailCommit.Change(what) =>
            throw new IllegalStateException(s"${tail.label}: $what — the " +
              "source tails APPENDS; set read option skipChangeCommits=true " +
              "to skip change commits, or read the changes batch-side")
        })
      }
    if (files.isEmpty) return Array.empty
    planned = log.scan(files)
    planned.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    Option(planned).getOrElse(tail.read().scan(Nil)).createReaderFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The graft table's log: keys are commit versions, a commit's files are
  * the directories it added. Only unpartitioned tables stream (the
  * catalog refuses the others). */
private[v2] final class GraftTail(spark: SparkSession, path: String,
    schema: StructType, options: CaseInsensitiveStringMap) extends LogTail {
  val label = s"graft stream over $path"
  val keyField = "version"
  val capOption = "maxCommitsPerTrigger"
  val initialKey = -1L

  private def abs(dir: String): String = new HPath(new HPath(path), dir).toString

  def read(): TailLog = new TailLog {
    private val t = GraftTable.load(spark, path)
    def latest: Long = t.latestVersion()

    /** Sizes of the directories the commit added, statted driver-side
      * (the same listing the scan itself is about to do). */
    def bytes(v: Long): Long = {
      val prev = if (v == 0) Set.empty[String]
        else t.commitAt(v.toInt - 1).liveDirs.toSet
      val fs = new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      t.commitAt(v.toInt).liveDirs.filterNot(prev).map { d =>
        val dir = new HPath(abs(d))
        if (fs.exists(dir)) fs.listStatus(dir).filter(_.isFile).map(_.getLen).sum
        else 0L
      }.sum
    }

    def snapshot(v: Long): Seq[String] = t.commitAt(v.toInt).liveDirs.map(abs)

    def commit(v: Long): TailCommit = {
      val commit = t.commitAt(v.toInt)
      val prev = t.commitAt(v.toInt - 1)
      // A RENAME COLUMN landing mid-stream would make every later
      // directory's physical column names diverge from the schema this
      // stream was planned with — the fixed-schema scan would read the
      // renamed column as silent nulls. Schema changes require a stream
      // restart (the Delta source contract for column-mapping changes);
      // skipChangeCommits does NOT cover metadata changes.
      if (commit.renames.nonEmpty)
        throw new IllegalStateException(
          s"$label: commit $v renames columns " +
            s"(${commit.renames.map { case (o, nn) => s"$o->$nn" }.mkString(", ")}) — " +
            "restart the stream to pick up the new schema")
      // Same contract for ADD COLUMN / schema-merge appends (Delta's
      // additive-schema-change behavior): later appends carrying columns
      // the PLAN LACKS would stream with those columns silently dropped —
      // fail non-retryably; a restarted stream plans with the widened
      // schema. Commits NARROWER than the plan are the pre-change history
      // a RESTARTED stream replays while catching up, null-filled like
      // Delta's additive evolution (strict equality would wedge every
      // restart whose replayed batch spans the change). A commit that
      // DROPS columns relative to its predecessor refuses either way.
      def cols(c: GraftTable.Commit) =
        c.schemaStruct.fieldNames.filterNot(_.startsWith("__p_")).toSet
      val (commitCols, prevCols) = (cols(commit), cols(prev))
      val plannedCols = schema.fieldNames.filterNot(_.startsWith("__p_")).toSet
      if (commitCols.nonEmpty && (commitCols -- plannedCols).nonEmpty)
        throw new IllegalStateException(
          s"$label: commit $v changes the table schema " +
            s"(added ${(commitCols -- plannedCols).toSeq.sorted.mkString(", ")}) " +
            "— restart the stream to pick up the new schema")
      if (commitCols.nonEmpty && prevCols.nonEmpty && (prevCols -- commitCols).nonEmpty)
        throw new IllegalStateException(
          s"$label: commit $v changes the table schema " +
            s"(dropped ${(prevCols -- commitCols).toSeq.sorted.mkString(", ")}) " +
            "— a non-additive schema change; a fixed-schema stream " +
            "cannot continue across it")
      val removed = prev.liveDirs.filterNot(commit.liveDirs.toSet)
      if (removed.nonEmpty)
        TailCommit.Change(s"commit $v removes or rewrites data directories " +
          s"(${removed.mkString(", ")})")
      else TailCommit.Append(commit.liveDirs.filterNot(prev.liveDirs.toSet).map(abs))
    }

    def scan(files: Seq[String]): Batch =
      ParquetTableBridge.scanBuilder(spark, "graft-stream", files, schema, options)
        .build().toBatch
  }
}

/** The provider the foreign-format sources share: `spark.read` through a
  * V1 scan (the current snapshot, or with `readChangeFeed=true` the
  * change feed), `spark.readStream` through [[LogTailStream]], and
  * change-feed streams through the V1 `Source` fallback — their per-batch
  * data is an arbitrary composed DataFrame, which the V1 contract hands
  * the engine directly. */
abstract class LogTailProvider(format: String) extends TableProvider
    with StreamSourceProvider {
  /** The table's current schema. */
  protected def schemaOf(spark: SparkSession, path: String): StructType
  /** Table columns plus the change feed's metadata columns. */
  protected def cdfSchema(base: StructType): StructType
  protected def tail(spark: SparkSession, path: String, schema: StructType,
      options: CaseInsensitiveStringMap): LogTail
  /** The batch read, `schema` in hand: the table, or with `cdf` its
    * change feed over the range the options name. */
  protected def batchRead(spark: SparkSession, path: String, cdf: Boolean,
      schema: StructType, options: CaseInsensitiveStringMap): DataFrame
  protected def cdfSource(spark: SparkSession, parameters: Map[String, String]): Source

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      s"$format source needs a path: .load(<table root>)"))
  private def cdfOf(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("readChangeFeed")).exists(_.toBoolean)
  private def schemaFor(spark: SparkSession, options: CaseInsensitiveStringMap) = {
    val base = schemaOf(spark, pathOf(options))
    if (cdfOf(options)) cdfSchema(base) else base
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    schemaFor(SparkSession.active, options)

  override def getTable(tableSchema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val path = pathOf(options)
    val cdf = cdfOf(options)
    new Table with SupportsRead {
      override def name(): String = s"$format:$path"
      override def schema(): StructType = tableSchema
      // change-feed tables advertise NO micro-batch capability: their
      // streams ride the V1 fallback below
      override def capabilities(): util.Set[TableCapability] =
        if (cdf) util.EnumSet.of(TableCapability.BATCH_READ)
        else util.EnumSet.of(TableCapability.BATCH_READ,
          TableCapability.MICRO_BATCH_READ)
      override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
        () => new V1Scan {
          override def readSchema(): StructType = tableSchema
          override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
            new LogTailStream(tail(SparkSession.active, path, tableSchema, opts), opts)
          override def toV1TableScan[T <: BaseRelation with TableScan](
              context: SQLContext): T =
            new BaseRelation with TableScan {
              override def sqlContext: SQLContext = context
              override def schema: StructType = tableSchema
              override def buildScan(): RDD[Row] =
                batchRead(SparkSession.active, path, cdf, tableSchema, opts).rdd
            }.asInstanceOf[T]
        }
    }
  }

  // The analyzer builds the V1 StreamingRelation eagerly as the fallback
  // arm of StreamingRelationV2 even when the micro-batch scan will serve
  // the query, so sourceSchema must answer for BOTH modes without
  // constructing a Source; the change-feed-only gate lives in
  // createSource, which runs only when the V1 arm is chosen (the
  // change-feed table, which advertises no MICRO_BATCH_READ).
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val options = new CaseInsensitiveStringMap(parameters.asJava)
    (if (cdfOf(options)) s"$format-cdf" else format,
      schemaFor(sqlContext.sparkSession, options))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    require(cdfOf(new CaseInsensitiveStringMap(parameters.asJava)),
      s"the V1 streaming path of ${getClass.getSimpleName} serves only " +
        "readChangeFeed=true reads — plain streaming rides the " +
        "micro-batch scan")
    cdfSource(sqlContext.sparkSession, parameters)
  }

  override def supportsExternalMetadata(): Boolean = false
}
