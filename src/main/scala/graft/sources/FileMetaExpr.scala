package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Rendering of file paths exactly as the scan's `_metadata.file_path`
  * column yields them, so driver-built per-file lookup keys always
  * match. */
object FileMeta {
  /** Qualified + URL-ENCODED, with a null (not empty) authority — the
    * form Spark's `SparkPath` carries for listed files. Neither stock
    * rendering matches on its own: `Path.toString` DECODES
    * percent-escapes (a space-bearing path silently misses), and
    * `makeQualified(..).toUri.toString` renders the local FS's empty
    * authority as `file:///` where the scan yields `file:/`. The
    * multi-arg URI constructor re-encodes `getPath`'s decoded form
    * with the same quoting Hadoop's Path uses. */
  def path(p: String, conf: Configuration): String = {
    val hp = new HPath(p)
    val u = hp.getFileSystem(conf).makeQualified(hp).toUri
    val auth =
      if (u.getAuthority == null || u.getAuthority.isEmpty) null
      else u.getAuthority
    new java.net.URI(u.getScheme, auth, u.getPath, null, null).toString
  }
}

/** Driver-side parquet schema probes. `spark.read.parquet(f).schema`
  * costs a full DataSource resolution plus a 1-task SCHEMA-INFERENCE
  * JOB per call (~60–90 ms of driver constants at bench scale, one or
  * more per table-format DML phase); one footer read through the
  * parquet API is a KB-scale metadata fetch with no job at all. */
object FooterSchema {
  def of(conf: Configuration, file: String): StructType = {
    val p = new HPath(file)
    of(conf, p.getFileSystem(conf).getFileStatus(p))
  }

  def of(conf: Configuration, file: FileStatus): StructType = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromStatus(file, conf)
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val msg = try rdr.getFooter.getFileMetaData.getSchema
      finally rdr.close()
    new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter()
      .convert(msg)
  }
}

/** Driver-side parquet row walks for metadata-sized files (a Delta
  * checkpoint, its sidecars). Spark's own parquet reader is called in
  * this thread, so type conversion is exactly Spark's, and no
  * DataSource resolution, plan or job runs. Each file's footer schema
  * goes through `prune` (return an empty schema to skip the file), and
  * the rows stream through `f` as external rows whose nested structs
  * carry their schema; nothing is buffered. */
object DriverParquet {
  def foreach(spark: SparkSession, files: Seq[FileStatus],
      prune: StructType => StructType)(f: Row => Unit): Unit = {
    val format = new ParquetFileFormat()
    // one reader per distinct schema; each gets its own conf, because
    // building a reader writes the requested schema into the conf it
    // is handed
    val readers = scala.collection.mutable
      .HashMap[StructType, PartitionedFile => Iterator[InternalRow]]()
    files.foreach { st =>
      val schema = prune(FooterSchema.of(spark.sparkContext.hadoopConfiguration, st))
      if (schema.nonEmpty) {
        val read = readers.getOrElseUpdate(schema,
          format.buildReaderWithPartitionValues(spark, schema, new StructType(),
            schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
            new Configuration(spark.sparkContext.hadoopConfiguration)))
        val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        val rows = read(PartitionedFile(InternalRow.empty,
          SparkPath.fromPath(st.getPath), 0L, st.getLen, fileSize = st.getLen))
        try rows.foreach(r => f(toRow(r).asInstanceOf[Row]))
        finally rows match {
          case c: java.io.Closeable => c.close()
          case _ => ()
        }
      }
    }
  }
}

/** Per-file values attached to a MULTI-FILE scan, keyed by the
  * qualified path exactly as `_metadata.file_path` renders it — the
  * same shipped-hash-map pattern as [[DvLookup]].
  *
  * Why it exists: table-format snapshot reads must re-attach per-file
  * log metadata (a partitioned Delta/Iceberg file's partition values
  * live only in the log/manifest, never in the data file). The naive
  * assembly — one scan per partition-value group, chained through
  * `unionByName` — re-analyzes the accumulated plan on every union, so
  * driver-side analysis cost grows quadratically with the number of
  * partition groups (measured: the dominant cost of the sf0.1 Delta
  * DML gates, 25 groups each). One scan of every file plus this O(1)
  * lookup keeps the plan a constant ~10 nodes regardless of file or
  * partition count.
  *
  * Values are the log's canonical STRING forms (cast downstream, the
  * same cast the per-group `lit(value)` paths applied); a null slot or
  * an unknown file yields null, matching Delta's absent-key = null
  * partition-value rule. */
final class FileValueLookup(
    m: java.util.HashMap[UTF8String, Array[UTF8String]])
    extends Serializable {
  def value(file: UTF8String, idx: Int): UTF8String = {
    val a = m.get(file)
    if (a == null) null else a(idx)
  }
}

/** `lookup.value(file, idx)` as a codegen expression: rides the scan
  * inside whole-stage codegen — no join, no shuffle, no per-group plan
  * branch. */
case class FilePartValue(child: Expression, idx: Int,
    lookup: FileValueLookup)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"file_part_value requires a string file path, got $other")
  }
  override def nullable: Boolean = true
  override def dataType: DataType = StringType
  override def nullSafeEval(file: Any): Any =
    lookup.value(file.asInstanceOf[UTF8String], idx)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pvLookup", lookup,
      classOf[FileValueLookup].getName)
    nullSafeCodeGen(ctx, ev, f => s"""
       |${ev.value} = $ref.value($f, $idx);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)
  }
  override protected def withNewChildInternal(
      newChild: Expression): FilePartValue = copy(child = newChild)
}
