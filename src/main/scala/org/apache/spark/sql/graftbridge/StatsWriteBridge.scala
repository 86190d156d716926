package org.apache.spark.sql.graftbridge

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker,
  FileFormatWriter, WriteJobStatsTracker, WriteTaskStats,
  WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.util.SerializableConfiguration

/** Distributed parquet write with IN-FLIGHT per-file statistics.
  *
  * The lakehouse write paths need per-file column statistics (Delta
  * add-action `stats` JSON, Iceberg manifest bounds) for every file
  * they commit. Re-reading footers AFTER the write serializes that
  * work on the driver — at a 1000-file commit against an object store
  * that is thousands of round-trips through one machine. This bridge
  * plugs a [[WriteJobStatsTracker]] into Spark's own write pipeline
  * (the hook `InsertIntoHadoopFsRelationCommand` wires its metrics
  * through): each write TASK derives its file's payload right after
  * closing it — the footer it just wrote, page-cache hot, read where
  * the data lives — and only the tiny (relPath → payload) strings
  * travel to the driver with the task-commit messages. Same bytes as
  * a post-write footer read, zero driver I/O, scales with the
  * cluster.
  *
  * Needs `org.apache.spark.sql`-internal access for
  * [[FileFormatWriter]], hence the bridge package (the
  * [[ParquetTableBridge]] pattern).
  */
object StatsWriteBridge {

  /** Per-file payload derivation, evaluated INSIDE the write task on
    * the just-closed file. Must be serializable; return None to record
    * nothing for the file (payloads are optimizations, never worth
    * failing a write). */
  trait FooterPayload extends Serializable {
    def apply(conf: Configuration, file: HPath): Option[String]
  }

  private case class FilePayloads(perFile: Map[String, String])
    extends WriteTaskStats

  /** Task-attempt path → path relative to the job output directory.
    * Committer staging shapes (`.../_temporary/<app>/_temporary/
    * <attempt>/<partdirs>/<name>`, or one `_temporary` level under
    * algorithm 2) all place the partition dirs + file name after the
    * LAST `_temporary/<segment>/` pair. A path with no `_temporary`
    * (direct-write committers) is already final: relativize below. */
  private def relOf(p: String): Option[String] = {
    val marker = "/_temporary/"
    val i = p.lastIndexOf(marker)
    if (i < 0) None
    else {
      val after = p.substring(i + marker.length)
      val slash = after.indexOf('/')
      if (slash < 0) None else Some(after.substring(slash + 1))
    }
  }

  private class TaskTracker(serConf: SerializableConfiguration,
      fn: FooterPayload) extends WriteTaskStatsTracker {
    private val perFile = mutable.Map[String, String]()
    override def newPartition(partitionValues: InternalRow): Unit = ()
    override def newFile(filePath: String): Unit = ()
    override def closeFile(filePath: String): Unit =
      relOf(filePath).foreach { rel =>
        fn(serConf.value, new HPath(filePath))
          .foreach(payload => perFile += rel -> payload)
      }
    override def newRow(filePath: String, row: InternalRow): Unit = ()
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      FilePayloads(perFile.toMap)
  }

  /** Parquet format whose writes stamp timestamps as INT64 MICROS
    * regardless of the session's `outputTimestampType` (stock
    * `prepareWrite` copies the session value into the job conf; this
    * re-sets it after). Reasons: the Iceberg spec REQUIRES int64
    * micros (an INT96 mirror file is non-conformant), Delta
    * recommends it, and INT96 footers carry no ordered statistics —
    * with them neither the in-flight Delta add-action stats nor the
    * GraftTable dir stats can bound a timestamp column, so every
    * time-range mutation scans every file. Scoped to bridge-routed
    * INTERNAL table writes: the session default stays INT96 because
    * the driver-contract result dumps (graft.Verify) must keep the
    * tz-naive shape the external oracle comparator reads. */
  private class MicrosParquetFileFormat extends ParquetFileFormat {
    override def prepareWrite(sparkSession: org.apache.spark.sql.SparkSession,
        job: org.apache.hadoop.mapreduce.Job,
        options: Map[String, String],
        dataSchema: org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.execution.datasources.OutputWriterFactory = {
      val w = super.prepareWrite(sparkSession, job, options, dataSchema)
      job.getConfiguration.set(
        SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
      w
    }
  }

  private class JobTracker(serConf: SerializableConfiguration,
      fn: FooterPayload) extends WriteJobStatsTracker {
    @transient lazy val collected: mutable.Map[String, String] =
      mutable.Map[String, String]()
    override def newTaskInstance(): WriteTaskStatsTracker =
      new TaskTracker(serConf, fn)
    override def processStats(stats: Seq[WriteTaskStats],
        jobCommitTime: Long): Unit =
      stats.foreach {
        case FilePayloads(m) => collected ++= m
        case _ => ()
      }
  }

  /** Run `fn` over PRE-EXISTING files on the EXECUTORS (one Spark map
    * job) — the convert paths register thousands of foreign parquet
    * files whose footers would otherwise be read through the driver
    * one connection pool at a time. Returns key → payload for every
    * file `fn` produced one for. */
  def mapFiles(spark: org.apache.spark.sql.SparkSession,
      conf: Configuration, files: Seq[(String, String)],
      fn: FooterPayload): Map[String, String] = {
    if (files.isEmpty) return Map.empty
    val sc = spark.sparkContext
    val serConf = new SerializableConfiguration(conf)
    val slices = math.min(files.size, sc.defaultParallelism * 2)
    sc.parallelize(files, slices)
      .flatMap { case (key, path) =>
        fn(serConf.value, new HPath(path)).map(key -> _)
      }
      .collect().toMap
  }

  /** Write `df` as parquet under `outputPath` (hive layout from
    * `partitionColumns`, exactly like
    * `df.write.partitionBy(...).parquet(...)`) and return
    * relPath → payload for every written file, collected in-flight by
    * the write tasks. Throws if a partition column is absent from the
    * output. */
  def writeWithPayloads(df: DataFrame, outputPath: String,
      partitionColumns: Seq[String], fn: FooterPayload)
      : Map[String, String] = {
    val ds = df.asInstanceOf[
      org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val spark = ds.sparkSession
    // NOTE: executing the caller's own QueryExecution flips its
    // AdaptiveSparkPlanExec to the final staged form (QueryStageExec
    // leaves). Consumers that walk executed plans must descend into
    // stages — Lineage.inputsOf does. (A fresh QueryExecution over the
    // logical plan would isolate the caller instead, but it RE-PLANS
    // and re-executes subtrees the caller already materialized —
    // measured 8.6 s -> 39 s on the DV update+merge gate — so the
    // shared execution stays.)
    val plan = ds.queryExecution.executedPlan
    val output = plan.output
    val partAttrs = partitionColumns.map { c =>
      output.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"partition column $c missing from write schema " +
            output.map(_.name).mkString("[", ", ", "]")))
    }
    val hadoopConf =
      spark.sessionState.newHadoopConfWithOptions(Map("path" -> outputPath))
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.getConf(SQLConf.FILE_COMMIT_PROTOCOL_CLASS),
      jobId = java.util.UUID.randomUUID().toString,
      outputPath = outputPath,
      dynamicPartitionOverwrite = false)
    val serConf = new SerializableConfiguration(hadoopConf)
    val tracker = new JobTracker(serConf, fn)
    FileFormatWriter.write(
      sparkSession = spark,
      plan = plan,
      fileFormat = new MicrosParquetFileFormat(),
      committer = committer,
      outputSpec = FileFormatWriter.OutputSpec(
        outputPath, Map.empty, output),
      hadoopConf = hadoopConf,
      partitionColumns = partAttrs,
      bucketSpec = None,
      // Spark's own tracker reports each task's output bytes and rows
      // to listeners (TaskMetrics.outputMetrics), as a DataFrame write
      // would
      statsTrackers = Seq(tracker, new BasicWriteJobStatsTracker(serConf,
        BasicWriteJobStatsTracker.metrics)),
      options = Map.empty)
    tracker.collected.toMap
  }
}
