package graft.sources.v2

import java.util
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.graftbridge.ParquetTableBridge
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.GraftTable

/** SQL catalog plugin for GraftTable — the reference drives its lakehouse
  * tables entirely through SQL (CREATE TABLE … PARTITIONED BY, INSERT
  * INTO/OVERWRITE, DELETE FROM, ALTER TABLE, time travel; reference:
  * docker/spark-notebook/02_iceberg_demo.ipynb, 03_delta_demo.ipynb), so
  * the same surface works here:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.g", "graft.sources.v2.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.g.warehouse", "/path/wh")
  *   spark.sql("CREATE TABLE g.db.t (id BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts)) USING graft")
  *   spark.sql("INSERT INTO g.db.t SELECT …")
  *   spark.sql("DELETE FROM g.db.t WHERE id < 0")
  *   spark.sql("ALTER TABLE g.db.t RENAME COLUMN id TO uid")
  *   spark.sql("SELECT * FROM g.db.t VERSION AS OF 1")
  *   spark.table("g.db.t")
  * }}}
  *
  * Layout: one GraftTable per directory `warehouse/<ns…>/<table>`;
  * namespaces are plain directories. Reads delegate to Spark's native
  * DSv2 parquet scan over the snapshot's live directories (full
  * vectorized reader + pushdown, [[ParquetTableBridge]]); writes go
  * through the public V1Write escape hatch into the GraftTable commit
  * log, so SQL writes and the Scala API share one history.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with ProcedureCatalog with ViewCatalog {
  private var catalogName: String = _
  private var warehouse: String = _
  private def spark = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires option spark.sql.catalog.$name.warehouse"))
  }
  override def name(): String = catalogName

  /** Warehouse I/O goes through the Hadoop FileSystem of the warehouse
    * URI (local path, file://, hdfs://, s3a:// — mirroring GraftTable's
    * TableIO), so the SQL catalog is not local-disk-only either.
    * FileSystem.get caches per (scheme, authority), so resolving per
    * call is cheap. */
  private def fs = new HPath(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def whPath(segments: Seq[String]): HPath =
    segments.foldLeft(new HPath(warehouse))((p, s) => new HPath(p, s))

  private def tablePath(ident: Identifier): HPath =
    whPath(ident.namespace().toSeq :+ ident.name())
  private def isTable(p: HPath): Boolean =
    fs.exists(new HPath(p, "_graft_log"))
  private def isDir(p: HPath): Boolean =
    try fs.getFileStatus(p).isDirectory
    catch { case _: java.io.FileNotFoundException => false }

  private def listDir(p: HPath): Seq[FileStatus] = fs.listStatus(p).toSeq

  // ---- TableCatalog ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = whPath(namespace.toSeq)
    if (!isDir(dir)) throw new NoSuchNamespaceException(namespace)
    listDir(dir)
      .filter(st => isTable(st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean = isTable(tablePath(ident))

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) {
      // Iceberg-style metadata tables: `SELECT * FROM cat.db.t.snapshots`
      // parses as table "snapshots" under namespace [db, t] — if that
      // namespace IS a table, surface its metadata relation read-only.
      val ns = ident.namespace()
      if (ns.nonEmpty && MetadataTables.contains(ident.name())) {
        val parent = Identifier.of(ns.init, ns.last)
        if (tableExists(parent))
          return new GraftMetadataTable(spark, tablePath(parent).toString,
            ident, ident.name())
      }
      foreignPathTable(ident).foreach(t => return t)
      throw new NoSuchTableException(ident)
    }
    new GraftSparkTable(spark, tablePath(ident).toString, ident, None)
  }

  private val MetadataTables = Set("snapshots", "history", "files")

  /** Raw FOREIGN roots through SQL, no CALL procedures needed — the
    * reference notebooks' `DESCRIBE HISTORY` / `.snapshots` shapes on
    * path-addressed tables:
    * {{{
    * SELECT * FROM cat.delta.`/raw/root`             -- current state
    * SELECT * FROM cat.delta.`/raw/root`.history     -- DESCRIBE HISTORY
    * SELECT * FROM cat.iceberg.`/raw/root`.snapshots -- snapshot list
    * }}}
    * The `delta`/`iceberg` pseudo-namespaces resolve only when the
    * named directory really carries that format's metadata, so they
    * can never shadow a warehouse table. Reads are always available;
    * UPDATE/DELETE/MERGE on the base table dispatch to the interop
    * writers via [[graft.plans.ResolveForeignDml]] (metadata tables
    * stay read-only). */
  private def foreignPathTable(ident: Identifier): Option[Table] = {
    def isDelta(p: String) =
      isDir(new HPath(new HPath(p), "_delta_log"))
    def isIce(p: String) =
      isDir(new HPath(new HPath(p), "metadata"))
    def mk(df: () => org.apache.spark.sql.DataFrame) =
      Some(new GraftDataFrameTable(spark, ident, df))
    ident.namespace().toSeq match {
      case Seq("delta") if isDelta(ident.name()) =>
        Some(new ForeignRootTable(spark, ident, "delta", ident.name(),
          () => graft.sources.DeltaInterop.readDelta(spark, ident.name())))
      case Seq("iceberg") if isIce(ident.name()) =>
        Some(new ForeignRootTable(spark, ident, "iceberg", ident.name(),
          () => graft.sources.IcebergInterop.readIceberg(spark, ident.name())))
      case Seq("delta", p) if ident.name() == "history" && isDelta(p) =>
        mk(() => graft.sources.DeltaInterop.deltaHistory(spark, p))
      case Seq("iceberg", p)
          if Set("history", "snapshots")(ident.name()) && isIce(p) =>
        mk(() => graft.sources.IcebergInterop.icebergHistory(spark, p))
      case _ => None
    }
  }

  /** Time travel: SELECT … FROM t VERSION AS OF <v>. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new GraftSparkTable(spark, tablePath(ident).toString, ident, Some(version.toInt))
  }

  /** Time travel: SELECT … FROM t TIMESTAMP AS OF <ts> (micros). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val t = GraftTable.load(spark, tablePath(ident).toString)
    val tsMillis = timestamp / 1000L
    val v = (0 to t.latestVersion())
      .takeWhile(t.commitAt(_).timestampMs <= tsMillis).lastOption
      .getOrElse(throw new NoSuchTableException(ident))
    new GraftSparkTable(spark, tablePath(ident).toString, ident, Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val specs = partitions.map(GraftCatalog.transformToSpec).toSeq
    fs.mkdirs(tablePath(ident).getParent)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    GraftTable.create(spark, tablePath(ident).toString, empty, specs)
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val t = GraftTable.load(spark, tablePath(ident).toString)
    changes.foreach {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1, "nested rename not supported")
        t.renameColumn(r.fieldNames()(0), r.newName())
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1, "nested add not supported")
        t.addColumn(a.fieldNames()(0), a.dataType())
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change $other not supported")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!isTable(p)) false
    else { fs.delete(p, true); true }
  }

  override def renameTable(oldIdent: Identifier, newIdentRaw: Identifier): Unit = {
    // RENAME TO hands over the destination UNRESOLVED: empty namespace
    // (bare `RENAME TO t2`) or catalog-prefixed (`RENAME TO cat.db.t2`
    // keeps `cat` as a namespace segment) — normalize both, else the
    // table would silently relocate under a wrong warehouse dir
    val newIdent = {
      val ns = newIdentRaw.namespace()
      if (ns.isEmpty) Identifier.of(oldIdent.namespace(), newIdentRaw.name())
      else if (ns.head == catalogName)
        Identifier.of(ns.tail, newIdentRaw.name())
      else newIdentRaw
    }
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    fs.mkdirs(tablePath(newIdent).getParent)
    require(fs.rename(tablePath(oldIdent), tablePath(newIdent)),
      s"rename ${oldIdent} -> ${newIdent} failed")
  }

  // ---- ViewCatalog (CREATE/DROP/ALTER VIEW + SELECT through views;
  //      shares the versioned [[graft.sources.GraftView]] store with
  //      the REST catalog's /v1/…/views routes) ----

  private def isView(p: HPath): Boolean =
    graft.sources.GraftView.isView(fs, p)
  private def conf = spark.sparkContext.hadoopConfiguration

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    val dir = whPath(ns.toSeq)
    if (!isDir(dir)) throw new NoSuchNamespaceException(ns)
    listDir(dir).filter(st => isView(st.getPath))
      .map(st => Identifier.of(ns, st.getPath.getName)).toArray
  }

  override def viewExists(ident: Identifier): Boolean =
    isView(tablePath(ident))

  override def loadView(ident: Identifier): View = {
    val root = tablePath(ident).toString
    val meta = graft.sources.GraftView.load(conf, root).map(_._2)
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident))
    val cur = meta.current
    // a REST-created view may omit the schema; infer it by analyzing
    // the view text once (driver-only, no job)
    val viewSchema = cur.schemaJson
      .map(org.apache.spark.sql.types.DataType.fromJson(_)
        .asInstanceOf[StructType])
      .getOrElse(spark.sql(cur.sql).schema)
    val self = this
    new View {
      override def name(): String =
        (catalogName +: ident.namespace().toSeq :+ ident.name())
          .mkString(".")
      override def query(): String = cur.sql
      override def currentCatalog(): String =
        cur.defaultCatalog.getOrElse(self.name())
      override def currentNamespace(): Array[String] =
        if (cur.defaultNamespace.nonEmpty) cur.defaultNamespace.toArray
        else ident.namespace()
      override def schema(): StructType = viewSchema
      override def queryColumnNames(): Array[String] = Array.empty
      override def columnAliases(): Array[String] = Array.empty
      override def columnComments(): Array[String] = Array.empty
      override def properties(): util.Map[String, String] =
        meta.properties.asJava
    }
  }

  override def createView(info: ViewInfo): View = {
    import graft.sources.GraftView
    val ident = info.ident
    val p = tablePath(ident)
    if (isTable(p)) throw new TableAlreadyExistsException(ident)
    if (!isDir(whPath(ident.namespace().toSeq)))
      throw new NoSuchNamespaceException(ident.namespace())
    val now = GraftView.nowMs()
    val version = GraftView.Version(1, now, info.sql, "spark",
      Option(info.schema).map(_.json),
      Option(info.currentCatalog), info.currentNamespace.toSeq)
    val meta = GraftView.Meta(GraftView.newUuid(), p.toString, 1,
      Seq(version), info.properties.asScala.toMap, Seq((now, 1)))
    try GraftView.publish(conf, p.toString, 1, meta)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.spark.sql.catalyst.analysis
          .ViewAlreadyExistsException(ident)
    }
    loadView(ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    import graft.sources.GraftView
    val root = tablePath(ident).toString
    val (fileV, meta) = GraftView.load(conf, root)
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident))
    val props = changes.foldLeft(meta.properties) {
      case (acc, s: ViewChange.SetProperty) =>
        acc + (s.property() -> s.value())
      case (acc, r: ViewChange.RemoveProperty) => acc - r.property()
      case (_, other) => throw new IllegalArgumentException(
        s"ALTER VIEW change $other not supported")
    }
    GraftView.publish(conf, root, fileV + 1, meta.copy(properties = props))
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    graft.sources.GraftView.drop(conf, tablePath(ident).toString)

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!viewExists(oldIdent))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(oldIdent)
    if (viewExists(newIdent) || isTable(tablePath(newIdent)))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(newIdent)
    fs.mkdirs(tablePath(newIdent).getParent)
    require(fs.rename(tablePath(oldIdent), tablePath(newIdent)),
      s"rename $oldIdent -> $newIdent failed")
  }

  // ---- ProcedureCatalog (CALL cat.system.<proc>, the Iceberg
  //      maintenance-procedure surface) ----

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.Names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"procedures live under ${name()}.system")
    GraftProcedures.load(ident.name(), spark, warehouse)
  }

  // ---- SupportsNamespaces (namespace = directory) ----

  override def listNamespaces(): Array[Array[String]] = {
    val root = new HPath(warehouse)
    if (!isDir(root)) Array.empty
    else listDir(root)
      .filter(st => st.isDirectory && !isTable(st.getPath) &&
        !isView(st.getPath))
      .map(st => Array(st.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = whPath(namespace.toSeq)
    if (!isDir(dir)) throw new NoSuchNamespaceException(namespace)
    listDir(dir)
      .filter(st => st.isDirectory && !isTable(st.getPath) &&
        !isView(st.getPath))
      .map(st => namespace :+ st.getPath.getName).toArray
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    val dir = whPath(namespace.toSeq)
    if (!isDir(dir) || isTable(dir)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    fs.mkdirs(whPath(namespace.toSeq)); ()
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = whPath(namespace.toSeq)
    if (!isDir(dir)) false
    else if (!cascade && listDir(dir).nonEmpty)
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} not empty")
    else { fs.delete(dir, true); true }
  }
}

object GraftCatalog {
  /** DSv2 partition Transform → GraftTable layout-spec string (shared
    * with the REST catalog client, which ships the string form). */
  private[graft] def transformToSpec(t: Transform): String = t.name() match {
    case "identity" => t.references()(0).fieldNames().mkString(".")
    case n @ ("days" | "hours" | "months" | "years") =>
      s"$n(${t.references()(0).fieldNames().mkString(".")})"
    case n @ ("bucket" | "truncate") =>
      // single-column only: silently narrowing bucket(4, a, b) to
      // bucket(4, a) would hand back a table partitioned differently
      // than declared — reject like any other unsupported transform
      if (t.references().length != 1)
        throw new UnsupportedOperationException(
          s"multi-column $n transform not supported " +
            s"(got ${t.references().length} columns)")
      // arguments carry (literal, field-ref) in parser order; pull the
      // numeric literal regardless of position
      val num = t.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value().toString
      }.getOrElse(throw new UnsupportedOperationException(
        s"$n transform needs a numeric argument"))
      s"$n($num, ${t.references()(0).fieldNames().mkString(".")})"
    case other => throw new UnsupportedOperationException(
      s"partition transform $other not supported " +
        "(identity/days/hours/months/years/bucket/truncate)")
  }
}

/** A GraftTable surfaced through the DSv2 Table API: reads delegate to
  * the native parquet scan over the snapshot's live dirs; writes append
  * to / overwrite the commit log via V1Write; DELETE FROM maps to the
  * copy-on-write row-level delete. `pinnedVersion` carries VERSION AS
  * OF / TIMESTAMP AS OF reads (writes to a pinned snapshot are
  * rejected). */
class GraftSparkTable(spark: SparkSession, path: String, ident: Identifier,
                      pinnedVersion: Option[Int])
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with SupportsRowLevelOperations {
  // NOTE: streaming writes use the path-based sink
  // (`df.writeStream.format(GraftSource).start(table root)`). Wiring
  // `toTable` through Spark's V2TableWithV1Fallback was tried and
  // reverted: the fallback is also PREFERRED for streaming reads, which
  // would replace the DSv2 micro-batch source (admission control,
  // skipChangeCommits, schema-change refusal) with a legacy V1 source.

  // lazy vals, not defs: Spark calls schema()/partitioning() many
  // times during analysis, and a def would re-list the commit log and
  // re-parse commit JSON on every call (thousands of small metadata
  // reads per plan on a long-lived table) — worse, an unpinned
  // snapshot could shift mid-query if a writer lands between schema()
  // and scan build. One resolution per Table instance = one consistent
  // snapshot per query analysis (Spark loads a fresh Table per query).
  private lazy val table: GraftTable = GraftTable.load(spark, path)
  private lazy val snapshotVersion: Int =
    pinnedVersion.getOrElse(table.latestVersion())
  private lazy val commit = table.commitAt(snapshotVersion)

  override def name(): String = ident.toString
  override def schema(): StructType = commit.schemaStruct

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.MICRO_BATCH_READ)

  override def partitioning(): Array[Transform] =
    commit.partitionBy.map {
      case GraftTable.DaysSpec(c) => Expressions.days(c)
      case GraftTable.HoursSpec(c) => Expressions.hours(c)
      case GraftTable.MonthsSpec(c) => Expressions.months(c)
      case GraftTable.YearsSpec(c) => Expressions.years(c)
      case GraftTable.BucketSpec(n, c) => Expressions.bucket(n.toInt, c)
      case GraftTable.MBucketSpec(n, c) => Expressions.apply("mbucket",
        Expressions.literal(n.toInt), Expressions.column(c))
      case GraftTable.TruncSpec(w, c) => Expressions.apply("truncate",
        Expressions.literal(w.toInt), Expressions.column(c))
      case c => Expressions.identity(c)
    }.toArray

  override def properties(): util.Map[String, String] =
    Map("provider" -> "graft", "location" -> path,
      "snapshot-version" -> snapshotVersion.toString).asJava

  /** Does any live dir predate a rename? Those dirs carry the old
    * physical column name and need the per-dir mapping at read. */
  private def needsRenameMapping: Boolean = {
    val renameVersions = (0 to snapshotVersion)
      .filter(v => table.commitAt(v).renames.nonEmpty)
    renameVersions.nonEmpty &&
      // parse up to the '-': %04d stops PADDING at 4 digits, it does
      // not stop the number — substring(1, 5) would read version
      // 10000 as 1000 and mis-route post-rename dirs forever
      commit.liveDirs.exists(d =>
        renameVersions.exists(_ > d.drop(1).takeWhile(_.isDigit).toInt))
  }

  /** Identity partition specs (no transform): their hive layout splits
    * EACH data directory into its own `col=value` tree, and the
    * column's values live only in directory names. Spark's file index
    * cannot infer one partitioning across several such roots
    * (CONFLICTING_DIRECTORY_STRUCTURES), so snapshots holding more
    * than one data directory must read per-dir (own basePath) and
    * union — the Scala read path — not the single multi-root DSv2
    * parquet scan. Transform specs are unaffected: their hidden
    * `__p_*` layout columns are expanded to leaf subdir paths and
    * projected away. */
  private def identityPartitioned: Boolean =
    commit.partitionBy.exists(p => !p.contains("(")) &&
      commit.liveDirs.size > 1

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    if (needsRenameMapping || identityPartitioned) {
      // rename-bearing and multi-dir identity-partitioned snapshots
      // route through the per-dir Scala read path via the public
      // V1Scan escape hatch (pushdown happens inside that DataFrame's
      // own parquet scans; the relation here just adapts it to the
      // DSv2 contract).
      val df = table.readVersion(snapshotVersion)
      new ScanBuilder {
        override def build(): Scan = new V1Scan {
          override def readSchema(): StructType = GraftSparkTable.this.schema()
          // MICRO_BATCH_READ is a table-level capability; this branch
          // can't stream (old dirs need per-dir rename mapping) — say
          // so instead of the interface default's opaque error
          override def toMicroBatchStream(checkpointLocation: String)
              : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
            throw new UnsupportedOperationException(
              s"$ident needs the per-directory read path (live dirs " +
                "written before a column rename, or identity hive " +
                "partitioning across several dirs) — streaming reads " +
                "support unpartitioned rename-free tables")
          override def toV1TableScan[T <: BaseRelation with TableScan](
              context: SQLContext): T =
            new BaseRelation with TableScan {
              override def sqlContext: SQLContext = context
              override def schema: StructType = GraftSparkTable.this.schema()
              override def buildScan(): RDD[Row] = df.rdd
            }.asInstanceOf[T]
        }
      }
    } else {
      // stats-skipping scan: pushed filters drop whole directories by
      // their min/max metadata before the parquet scan ever lists files.
      // For time-transform-partitioned tables (days/hours/months/years)
      // the kept dirs are then expanded to their hive subdirs and pruned
      // again at TRANSFORM granularity: each `__p_<t>_<col>=<v>` subdir
      // implies exact grain bounds for the source column, so a time
      // predicate skips every other grain — finer than the whole-dir
      // stats (a dir spanning 30 days has a 30-day min/max) and decided
      // entirely from directory names, no file listing. Fused with, not
      // instead of, the stats skip. (bucket/truncate subdirs imply no
      // lexicographic bounds — point lookups go through
      // GraftTable.readWhereBucketOf / readWherePartition.)
      val live = commit.liveDirs
      val timeCols: Map[String, (String, String)] = commit.partitionBy.collect {
        case GraftTable.DaysSpec(c) => s"__p_days_$c" -> (c, "days")
        case GraftTable.HoursSpec(c) => s"__p_hours_$c" -> (c, "hours")
        case GraftTable.MonthsSpec(c) => s"__p_months_$c" -> (c, "months")
        case GraftTable.YearsSpec(c) => s"__p_years_$c" -> (c, "years")
      }.toMap
      // bucket/truncate subdirs carry no lexicographic bounds, but an
      // EQUALITY predicate on the source column pins the one subdir a
      // match can live in: the bucket ordinal from the writer's own
      // xxhash64 (seed 42), or the literal's width-truncation. Both are
      // evaluated driver-side from the pushed conjunct's literal;
      // anything but a top-level attr=literal conjunct keeps the subdir
      // (conservative).
      val bucketCols: Map[String, (String, Int)] = commit.partitionBy.collect {
        case GraftTable.BucketSpec(n, c) => s"__p_bucket_${n}_$c" -> (c, n.toInt)
      }.toMap
      val mbucketCols: Map[String, (String, Int)] = commit.partitionBy.collect {
        case GraftTable.MBucketSpec(n, c) => s"__p_mbucket_${n}_$c" -> (c, n.toInt)
      }.toMap
      val truncCols: Map[String, (String, Int)] = commit.partitionBy.collect {
        case GraftTable.TruncSpec(w, c) => s"__p_trunc_${w}_$c" -> (c, w.toInt)
      }.toMap
      val derivedCols = timeCols.keySet ++ bucketCols.keySet ++
        mbucketCols.keySet ++ truncCols.keySet
      val schemaTypes = schema().fields.map(f => f.name -> f.dataType).toMap
      // Grain bounds for the source column, rendered the way DirStats
      // stores that type's stats (timestamps carry a time-of-day; dates
      // are the bare day). Month/year highs use over-wide day numbers
      // (…-31) — a conservative lexicographic cover, never a miss.
      def grainBounds(kind: String, v: String, isTs: Boolean): (String, String) =
        kind match {
          case "days" => if (isTs) (s"$v 00:00:00", s"$v 23:59:59.999999") else (v, v)
          case "hours" => // layout value yyyy-MM-dd-HH
            if (isTs)
              (s"${v.take(10)} ${v.drop(11)}:00:00",
               s"${v.take(10)} ${v.drop(11)}:59:59.999999")
            else (v.take(10), v.take(10)) // DATE col: whole-day bounds
          case "months" =>
            if (isTs) (s"$v-01 00:00:00", s"$v-31 23:59:59.999999")
            else (s"$v-01", s"$v-31")
          case "years" =>
            if (isTs) (s"$v-01-01 00:00:00", s"$v-12-31 23:59:59.999999")
            else (s"$v-01-01", s"$v-12-31")
        }
      val statsBuilder = new org.apache.spark.sql.graftbridge.StatsPruningScanBuilder(
        spark, ident.toString, schema(), options,
        prune = filters => {
          val kept = live.filter { d =>
            GraftTable.loadStats(path, d) match {
              case Some(st) => filters.forall(f => graft.sources.DirStats.mayMatch(f, st))
              case None => true
            }
          }
          // top-level attr = literal conjuncts, for bucket/trunc pruning
          val eqLits: Map[String, org.apache.spark.sql.catalyst.expressions.Literal] =
            filters.collect {
              case org.apache.spark.sql.catalyst.expressions.EqualTo(
                  a: org.apache.spark.sql.catalyst.expressions.Attribute,
                  l: org.apache.spark.sql.catalyst.expressions.Literal) => a.name -> l
              case org.apache.spark.sql.catalyst.expressions.EqualTo(
                  l: org.apache.spark.sql.catalyst.expressions.Literal,
                  a: org.apache.spark.sql.catalyst.expressions.Attribute) => a.name -> l
            }.toMap
          // Per-subdir keep/skip decision for one hive level of a
          // derived-transform layout (true = the subdir may hold
          // matching rows; with no pushed filters everything keeps).
          def keepSubdir(k: String, v: String): Boolean = {
              if (timeCols.contains(k)) {
                val (src, kind) = timeCols(k)
                val isTs = schemaTypes.get(src)
                  .exists(_.isInstanceOf[org.apache.spark.sql.types.TimestampType])
                val (lo, hi) = grainBounds(kind, v, isTs)
                val pseudo = Map(src -> graft.sources.DirStats.ColStat("str", lo, hi))
                filters.forall(f => graft.sources.DirStats.mayMatch(f, pseudo))
              } else if (bucketCols.contains(k)) {
                val (src, n) = bucketCols(k)
                eqLits.get(src).forall { l =>
                  if (l.value == null) true
                  else {
                    val h = org.apache.spark.sql.catalyst.expressions
                      .XxHash64(Seq(l), 42L).eval(null).asInstanceOf[Long]
                    (((h % n) + n) % n).toString == v
                  }
                }
              } else if (mbucketCols.contains(k)) {
                val (src, n) = mbucketCols(k)
                eqLits.get(src).forall { l =>
                  if (l.value == null) true
                  else graft.functions.IcebergBucket(n, l)
                    .eval(null).asInstanceOf[Int].toString == v
                }
              } else {
                val (src, w) = truncCols(k)
                val raw = org.apache.spark.sql.catalyst.catalog
                  .ExternalCatalogUtils.unescapePathName(v)
                eqLits.get(src).forall { l =>
                  (l.value, l.dataType) match {
                    case (null, _) => true
                    // substringSQL, not String.take: the writer truncates
                    // by CODEPOINT (Spark substring), and a UTF-16
                    // code-unit prefix diverges on supplementary chars
                    case (s: org.apache.spark.unsafe.types.UTF8String, _) =>
                      s.substringSQL(1, w).toString == raw
                    // integral types only: a fractional literal's
                    // longValue-floor would mis-compare against the
                    // subdir rendering and wrongly prune — keep instead
                    case (x: java.lang.Number,
                          _: org.apache.spark.sql.types.ByteType |
                          _: org.apache.spark.sql.types.ShortType |
                          _: org.apache.spark.sql.types.IntegerType |
                          _: org.apache.spark.sql.types.LongType) =>
                      val xv = x.longValue
                      (xv - (((xv % w) + w) % w)).toString == raw
                    case _ => true
                  }
                }
              }
          }
          // Pure-transform tables ALWAYS expand each kept data dir to
          // its LEAF hive subdirs (depth = #specs): leaf dirs are flat
          // parquet directories, so the multi-root scan never asks
          // Spark to infer one partitioning across several `col=value`
          // trees — which it refuses to do
          // (CONFLICTING_DIRECTORY_STRUCTURES) the moment a second
          // commit lands. Expansion doubles as transform-grained
          // pruning when filters are pushed (keepSubdir). Identity and
          // mixed layouts never reach here: multi-dir snapshots route
          // through the per-dir V1 path, and a single-dir snapshot is
          // one root (inference works).
          val pureTransform = commit.partitionBy.nonEmpty &&
            commit.partitionBy.forall(_.contains("("))
          if (derivedCols.isEmpty || !pureTransform)
            kept.map(d => new HPath(new HPath(path), d).toString)
          else kept.flatMap { d =>
            val dirP = new HPath(new HPath(path), d)
            val pfs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
            def leaves(p: HPath, depth: Int): Seq[String] =
              if (depth == 0) Seq(p.toString)
              else {
                val isDir =
                  try pfs.getFileStatus(p).isDirectory
                  catch { case _: java.io.FileNotFoundException => false }
                if (!isDir) Nil
                else pfs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { c =>
                  c.getPath.getName.split("=", 2) match {
                    case Array(k, v) if derivedCols.contains(k) =>
                      if (keepSubdir(k, v)) leaves(c.getPath, depth - 1) else Nil
                    // unexpected layout level: keep the dir whole
                    // (conservative — never drop data on surprise)
                    case _ => Seq(c.getPath.toString)
                  }
                }
              }
            leaves(dirP, commit.partitionBy.size)
          }
        })
      // Wrap the built scan so the SAME table also serves micro-batch
      // streaming reads (spark.readStream.table) — toBatch keeps the
      // stats-pruned native parquet scan untouched; toMicroBatchStream
      // hands off to the commit-log tailing source.
      new ScanBuilder
        with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
        override def pushFilters(
            fs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
          statsBuilder.pushFilters(fs)
        override def pushedFilters() = statsBuilder.pushedFilters()
        override def pruneColumns(r: StructType): Unit = statsBuilder.pruneColumns(r)
        override def build(): Scan = {
          val delegate = statsBuilder.build()
          // the wrapper must keep reporting the delegate's statistics:
          // dropping SupportsReportStatistics would make every batch
          // read fall back to defaultSizeInBytes and lose
          // broadcast-join planning for small catalog tables
          new Scan
            with org.apache.spark.sql.connector.read.SupportsReportStatistics {
            override def readSchema(): StructType = delegate.readSchema()
            override def description(): String = delegate.description()
            override def toBatch: org.apache.spark.sql.connector.read.Batch =
              delegate.toBatch
            override def supportedCustomMetrics() = delegate.supportedCustomMetrics()
            override def reportDriverMetrics() = delegate.reportDriverMetrics()
            override def columnarSupportMode() = delegate.columnarSupportMode()
            override def estimateStatistics()
                : org.apache.spark.sql.connector.read.Statistics = delegate match {
              case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
                s.estimateStatistics()
              case _ => new org.apache.spark.sql.connector.read.Statistics {
                override def sizeInBytes() = java.util.OptionalLong.empty()
                override def numRows() = java.util.OptionalLong.empty()
              }
            }
            override def toMicroBatchStream(checkpointLocation: String)
                : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
              require(commit.partitionBy.isEmpty,
                s"graft streaming reads support unpartitioned tables; " +
                  s"${ident} is partitioned by ${commit.partitionBy.mkString(", ")}")
              require(pinnedVersion.isEmpty,
                "streaming reads tail the live table — drop VERSION/TIMESTAMP AS OF")
              new LogTailStream(new GraftTail(spark, path,
                GraftSparkTable.this.schema(), options), options)
            }
          }
        }
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsOverwrite {
      private var overwriteFilters: Option[Array[Filter]] = None
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        overwriteFilters = Some(filters); this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              require(pinnedVersion.isEmpty, "cannot write to a time-travel snapshot")
              overwriteFilters match {
                case Some(fs) if fs.forall(_.isInstanceOf[sources.AlwaysTrue]) =>
                  table.overwrite(data)
                case Some(fs) =>
                  // filtered overwrite: delete matching rows, then append
                  // (two commits; single-writer semantics make this safe)
                  table.delete(fs.map(V1Filters.toColumn).reduce(_ && _))
                  table.append(data)
                case None =>
                  if (overwrite) table.overwrite(data) else table.append(data)
              }
            }
          }
      }
    }

  /** SQL UPDATE / MERGE INTO (and DELETEs whose predicate the simple
    * filter path can't translate) — Spark's group-based row-level
    * rewrite. The scan is the normal table scan; the write delegates
    * the physical parquet write to Spark's native DSv2 file writer and
    * lands a graft snapshot-rewrite commit in BatchWrite.commit. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build(): org.apache.spark.sql.connector.write.RowLevelOperation =
        new org.apache.spark.sql.connector.write.RowLevelOperation {
          override def command() = info.command()

          // directories this operation's scan covered — the groups the
          // write replaces (copy-on-write group semantics)
          @volatile private var scannedDirs: Seq[String] = commit.liveDirs

          /** Group-semantics scan: pushed filters prune DIRECTORIES by
            * min/max stats but are never applied at row level — the
            * rewrite plan needs every row of each scanned group (the
            * unmatched rows carry forward through the plan's
            * conditional logic). Filters are reported fully consumed so
            * Spark does not re-filter rows above the scan. */
          override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
            new ScanBuilder
              with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {
              private var filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil
              override def pushFilters(
                  fs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) = {
                filters = fs
                Nil // groups are complete: nothing to re-apply per row
              }
              override def pushedFilters() = Array.empty[org.apache.spark.sql.connector.expressions.filter.Predicate]
              override def build(): Scan = {
                val live = commit.liveDirs
                scannedDirs = live.filter { d =>
                  GraftTable.loadStats(path, d) match {
                    case Some(st) =>
                      filters.forall(f => graft.sources.DirStats.mayMatch(f, st))
                    case None => true
                  }
                }
                ParquetTableBridge.scanBuilder(spark, ident.toString,
                  scannedDirs.map(d => new HPath(new HPath(path), d).toString),
                  GraftSparkTable.this.schema(), options).build()
              }
            }

          override def newWriteBuilder(wi: LogicalWriteInfo): WriteBuilder =
            new WriteBuilder {
              override def build(): Write = new Write {
                // the rewrite's LogicalWriteInfo schema carries the plan's
                // metadata attributes; the exec projects rows down to the
                // table schema before the writer sees them — hand the
                // delegate an info with the TABLE schema so arities match
                private val tableInfo = new LogicalWriteInfo {
                  override def options(): CaseInsensitiveStringMap = wi.options()
                  override def queryId(): String = wi.queryId()
                  override def schema(): StructType = GraftSparkTable.this.schema()
                  override def rowIdSchema(): java.util.Optional[StructType] =
                    java.util.Optional.empty()
                  override def metadataSchema(): java.util.Optional[StructType] =
                    java.util.Optional.empty()
                }
                private val dir =
                  f"d${table.latestVersion() + 1}%04d-${java.util.UUID.randomUUID().toString.take(8)}"
                override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
                  new org.apache.spark.sql.connector.write.BatchWrite {
                    private val delegate = ParquetTableBridge
                      .parquetWrite(spark,
                        new HPath(new HPath(path), dir).toString, tableInfo).toBatch
                    // the rewrite feeds the writer its full plan output —
                    // leading bookkeeping columns (__row_operation) then
                    // the data columns in table order (see Spark's
                    // buildReplaceDataPlan) — and applies no projection
                    // itself when there are no metadata attributes, so
                    // project down to the trailing table columns here
                    override def createBatchWriterFactory(
                        pi: org.apache.spark.sql.connector.write.PhysicalWriteInfo) =
                      new ProjectingWriterFactory(
                        delegate.createBatchWriterFactory(pi),
                        GraftSparkTable.this.schema())
                    override def commit(
                        messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
                      delegate.commit(messages)
                      table.commitRewrite(command().toString.toLowerCase, dir,
                        replaced = scannedDirs): Unit
                    }
                    override def abort(
                        messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
                      delegate.abort(messages)
                    override def useCommitCoordinator(): Boolean =
                      delegate.useCommitCoordinator()
                  }
              }
            }
        }
    }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(V1Filters.translatable)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(pinnedVersion.isEmpty, "cannot delete from a time-travel snapshot")
    table.delete(filters.map(V1Filters.toColumn)
      .reduceOption(_ && _).getOrElse(lit(true)))
  }
}

/** SQL maintenance procedures (`CALL cat.system.vacuum('db.t', 2)`) —
  * the Iceberg `CALL catalog.system.*` surface over GraftTable's
  * maintenance API: vacuum, compact, cluster, zorder. Each returns a
  * one-column/one-row result relation via LocalScan (driver-side,
  * metadata-sized); the heavy lifting (snapshot rewrites) runs as
  * normal distributed jobs inside the table operation. */
private[v2] object GraftProcedures {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
  import org.apache.spark.unsafe.types.UTF8String

  val Names: Seq[String] =
    Seq("vacuum", "vacuum_older_than", "compact", "cluster", "zorder",
      "restore", "export_delta", "export_iceberg", "mirror_delta",
      "mirror_iceberg", "expire_snapshots", "cleanup_delta_log",
      // FOREIGN-path maintenance: first arg is a raw table root (any
      // Hadoop-FS URI), not a warehouse name — the SQL face of the
      // Delta/Iceberg interop writers
      "delta_vacuum", "delta_optimize", "delta_checkpoint",
      "delta_restore", "delta_clone", "delta_cluster_by", "delta_to_iceberg",
      "iceberg_to_delta", "iceberg_expire_snapshots",
      "iceberg_compact", "iceberg_rollback", "iceberg_remove_orphans",
      "iceberg_tag", "iceberg_drop_ref",
      // row-level DML over raw roots: predicates and SET clauses are
      // SQL expression strings, merge sources are SQL queries or table
      // names (the reference notebooks' pure-SQL DML surface, no Scala)
      "delta_delete", "iceberg_delete",
      "delta_update", "iceberg_update",
      "delta_merge", "iceberg_merge")

  private def in(n: String, dt: org.apache.spark.sql.types.DataType) =
    ProcedureParameter.in(n, dt).build()

  /** `"col1 = expr1, col2 = expr2"` → assignment map; commas inside
    * parentheses or quotes stay inside their expression. */
  private[v2] def parseAssignments(setClause: String)
      : Map[String, org.apache.spark.sql.Column] = {
    val parts = Seq.newBuilder[String]
    var depth = 0
    var quote: Char = 0
    val cur = new StringBuilder
    setClause.foreach { c =>
      if (quote != 0) { if (c == quote) quote = 0; cur += c }
      else c match {
        case '\'' | '"' => quote = c; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case ',' if depth == 0 => parts += cur.result(); cur.clear()
        case _ => cur += c
      }
    }
    if (cur.nonEmpty) parts += cur.result()
    parts.result().map(_.trim).filter(_.nonEmpty).map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"malformed SET assignment '$a' — need col = expr")
      a.take(i).trim -> org.apache.spark.sql.functions.expr(a.drop(i + 1))
    }.toMap
  }

  /** A merge source argument: a `SELECT …` query, or a table name
    * resolvable in the session. */
  private[v2] def sourceDf(spark: SparkSession,
      source: String): org.apache.spark.sql.DataFrame =
    if (source.trim.toLowerCase.startsWith("select ") ||
        source.trim.toLowerCase.startsWith("with "))
      spark.sql(source)
    else spark.table(source)

  def load(proc: String, spark: SparkSession, warehouse: String): UnboundProcedure = {
    require(Names.contains(proc), s"unknown procedure $proc")
    new UnboundProcedure {
      override def name(): String = proc
      override def description(): String = s"graft maintenance: $proc"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = proc
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] = proc match {
          case "vacuum" =>
            Array(in("table", StringType), in("retain_from", IntegerType))
          case "vacuum_older_than" =>
            // epoch millis: timezone-free, so the retention cut is
            // deterministic across engines and session zones
            Array(in("table", StringType), in("older_than_millis", LongType))
          case "compact" =>
            Array(in("table", StringType), in("target_partitions", IntegerType))
          case "restore" =>
            Array(in("table", StringType), in("to_version", IntegerType))
          case "export_delta" | "export_iceberg" =>
            Array(in("table", StringType), in("target", StringType))
          case "mirror_delta" | "mirror_iceberg" =>
            Array(in("table", StringType))
          case "expire_snapshots" =>
            Array(in("table", StringType), in("keep_last", IntegerType))
          case "cleanup_delta_log" =>
            Array(in("table", StringType), in("keep_versions", IntegerType))
          case "delta_vacuum" =>
            Array(in("path", StringType), in("retention_ms", LongType))
          case "delta_optimize" =>
            Array(in("path", StringType), in("target_bytes", LongType),
              in("zorder_cols", StringType))
          case "delta_checkpoint" | "delta_to_iceberg" |
               "iceberg_to_delta" =>
            Array(in("path", StringType))
          case "delta_restore" =>
            Array(in("path", StringType), in("to_version", LongType))
          case "delta_clone" =>
            Array(in("source", StringType), in("target", StringType))
          case "delta_cluster_by" =>
            Array(in("path", StringType), in("cols", StringType))
          case "iceberg_expire_snapshots" =>
            Array(in("path", StringType), in("keep_last", IntegerType))
          case "iceberg_compact" =>
            Array(in("path", StringType), in("target_bytes", LongType))
          case "iceberg_rollback" =>
            Array(in("path", StringType), in("snapshot_id", LongType))
          case "iceberg_remove_orphans" =>
            Array(in("path", StringType), in("older_than_ms", LongType))
          case "iceberg_tag" | "iceberg_drop_ref" =>
            Array(in("path", StringType), in("name", StringType))
          case "delta_delete" | "iceberg_delete" =>
            Array(in("path", StringType), in("predicate", StringType))
          case "delta_update" | "iceberg_update" =>
            Array(in("path", StringType), in("predicate", StringType),
              in("set", StringType))
          case "delta_merge" | "iceberg_merge" =>
            Array(in("path", StringType), in("source", StringType),
              in("keys", StringType))
          case _ => // cluster / zorder
            Array(in("table", StringType), in("cols", StringType),
              in("num_dirs", IntegerType))
        }
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val arg0 = input.getUTF8String(0).toString
          // foreign procedures address raw roots, not warehouse names
          if (proc.startsWith("delta_") || proc.startsWith("iceberg_")) {
            val longSchema = (n: String) =>
              StructType(Seq(StructField(n, LongType)))
            val (schema, outRows): (StructType, Seq[InternalRow]) = proc match {
              case "delta_vacuum" =>
                (longSchema("deleted_files"), Seq(InternalRow(
                  graft.sources.DeltaInterop.vacuumDelta(spark, arg0,
                    input.getLong(1)))))
              case "delta_optimize" =>
                val z = Option(input.getUTF8String(2)).map(_.toString)
                  .filter(_.nonEmpty).map(_.split(",").map(_.trim).toSeq)
                  .getOrElse(Nil)
                (longSchema("version"), Seq(InternalRow(
                  graft.sources.DeltaInterop.optimizeDelta(spark, arg0,
                    input.getLong(1), z))))
              case "delta_checkpoint" =>
                (longSchema("version"), Seq(InternalRow(
                  graft.sources.DeltaInterop.checkpointDelta(spark, arg0))))
              case "delta_restore" =>
                (longSchema("version"), Seq(InternalRow(
                  graft.sources.DeltaInterop.restoreDelta(spark, arg0,
                    input.getLong(1)))))
              case "delta_clone" =>
                (longSchema("version"), Seq(InternalRow(
                  graft.sources.DeltaInterop.cloneDelta(spark, arg0,
                    input.getUTF8String(1).toString))))
              case "delta_cluster_by" =>
                (longSchema("version"), Seq(InternalRow(
                  graft.sources.DeltaInterop.clusterByDelta(spark, arg0,
                    input.getUTF8String(1).toString.split(",")
                      .map(_.trim).filter(_.nonEmpty).toSeq))))
              case "delta_to_iceberg" =>
                (longSchema("snapshot_id"), Seq(InternalRow(
                  graft.sources.IcebergInterop.convertDeltaToIceberg(
                    spark, arg0))))
              case "iceberg_to_delta" =>
                (longSchema("version"), Seq(InternalRow(
                  graft.sources.DeltaInterop.convertIcebergToDelta(
                    spark, arg0))))
              case "iceberg_expire_snapshots" =>
                (longSchema("deleted_files"), Seq(InternalRow(
                  graft.sources.IcebergInterop.expireIcebergSnapshots(
                    spark, arg0, input.getInt(1)).toLong)))
              case "iceberg_compact" =>
                (longSchema("snapshot_id"), Seq(InternalRow(
                  graft.sources.IcebergInterop.compactIceberg(spark, arg0,
                    input.getLong(1)))))
              case "iceberg_rollback" =>
                (longSchema("metadata_version"), Seq(InternalRow(
                  graft.sources.IcebergInterop.rollbackIceberg(spark, arg0,
                    input.getLong(1)).toLong)))
              case "iceberg_remove_orphans" =>
                (longSchema("deleted_files"), Seq(InternalRow(
                  graft.sources.IcebergInterop.removeOrphanIcebergFiles(
                    spark, arg0, input.getLong(1)))))
              case "iceberg_tag" =>
                (longSchema("snapshot_id"), Seq(InternalRow(
                  graft.sources.IcebergInterop.tagIceberg(spark, arg0,
                    input.getUTF8String(1).toString))))
              case "iceberg_drop_ref" =>
                graft.sources.IcebergInterop.dropIcebergRef(spark, arg0,
                  input.getUTF8String(1).toString)
                (longSchema("ok"), Seq(InternalRow(1L)))
              case "delta_delete" =>
                (longSchema("version"), Seq(InternalRow(
                  graft.sources.DeltaInterop.deleteFromDelta(spark, arg0,
                    org.apache.spark.sql.functions.expr(
                      input.getUTF8String(1).toString)))))
              case "iceberg_delete" =>
                (longSchema("snapshot_id"), Seq(InternalRow(
                  graft.sources.IcebergInterop.deleteFromIceberg(spark,
                    arg0, org.apache.spark.sql.functions.expr(
                      input.getUTF8String(1).toString)))))
              case "delta_update" =>
                (longSchema("version"), Seq(InternalRow(
                  graft.sources.DeltaInterop.updateDelta(spark, arg0,
                    org.apache.spark.sql.functions.expr(
                      input.getUTF8String(1).toString),
                    parseAssignments(input.getUTF8String(2).toString)))))
              case "iceberg_update" =>
                (longSchema("snapshot_id"), Seq(InternalRow(
                  graft.sources.IcebergInterop.updateIceberg(spark, arg0,
                    org.apache.spark.sql.functions.expr(
                      input.getUTF8String(1).toString),
                    parseAssignments(input.getUTF8String(2).toString)))))
              case "delta_merge" =>
                (longSchema("version"), Seq(InternalRow(
                  graft.sources.DeltaInterop.mergeDelta(
                    sourceDf(spark, input.getUTF8String(1).toString), arg0,
                    input.getUTF8String(2).toString
                      .split(",").map(_.trim).filter(_.nonEmpty).toSeq))))
              case "iceberg_merge" =>
                (longSchema("snapshot_id"), Seq(InternalRow(
                  graft.sources.IcebergInterop.mergeIceberg(
                    sourceDf(spark, input.getUTF8String(1).toString), arg0,
                    input.getUTF8String(2).toString
                      .split(",").map(_.trim).filter(_.nonEmpty).toSeq))))
            }
            val scan: Scan = new org.apache.spark.sql.connector.read.LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = outRows.toArray
            }
            return util.Collections.singletonList(scan).iterator()
          }
          val tblName = arg0
          val path = tblName.split("\\.")
            .foldLeft(new HPath(warehouse))((p, s) => new HPath(p, s)).toString
          val t = GraftTable.load(spark, path)
          val (schema, resultRows) = proc match {
            case "vacuum" =>
              val removed = t.vacuum(input.getInt(1))
              (StructType(Seq(StructField("removed_dir", StringType))),
                removed.map(d => InternalRow(UTF8String.fromString(d))))
            case "vacuum_older_than" =>
              val removed = t.vacuumOlderThan(input.getLong(1))
              (StructType(Seq(StructField("removed_dir", StringType))),
                removed.map(d => InternalRow(UTF8String.fromString(d))))
            case "compact" =>
              (versionSchema, Seq(InternalRow(t.compact(input.getInt(1)))))
            case "restore" =>
              (versionSchema, Seq(InternalRow(t.restore(input.getInt(1)))))
            case "cluster" =>
              (versionSchema, Seq(InternalRow(
                t.cluster(splitCols(input), input.getInt(2)))))
            case "zorder" =>
              (versionSchema, Seq(InternalRow(
                t.clusterZOrder(splitCols(input), input.getInt(2)))))
            // interop exports: snapshot out to an open table format
            case "export_delta" =>
              (filesSchema, Seq(InternalRow(graft.sources.DeltaInterop
                .exportSnapshot(t, input.getUTF8String(1).toString))))
            case "export_iceberg" =>
              (filesSchema, Seq(InternalRow(graft.sources.IcebergInterop
                .exportSnapshot(t, input.getUTF8String(1).toString))))
            // zero-copy in-place Delta publication (UniForm-style)
            case "mirror_delta" =>
              (StructType(Seq(StructField("delta_commits", IntegerType))),
                Seq(InternalRow(graft.sources.DeltaInterop.mirrorToDelta(t))))
            case "mirror_iceberg" =>
              (StructType(Seq(StructField("metadata_versions", IntegerType))),
                Seq(InternalRow(graft.sources.IcebergInterop.mirrorToIceberg(t))))
            // mirror metadata retention (Iceberg expire_snapshots /
            // Delta log-retention analogs)
            case "expire_snapshots" =>
              (StructType(Seq(StructField("deleted_files", IntegerType))),
                Seq(InternalRow(graft.sources.IcebergInterop
                  .expireSnapshots(t, input.getInt(1)))))
            case "cleanup_delta_log" =>
              (StructType(Seq(StructField("deleted_files", IntegerType))),
                Seq(InternalRow(graft.sources.DeltaInterop
                  .cleanupMirrorLog(t, input.getInt(1)))))
          }
          val scan: Scan = new org.apache.spark.sql.connector.read.LocalScan {
            override def readSchema(): StructType = schema
            override def rows(): Array[InternalRow] = resultRows.toArray
          }
          util.Collections.singletonList(scan).iterator()
        }
        private def splitCols(input: InternalRow): Seq[String] =
          input.getUTF8String(1).toString.split(",").map(_.trim).toSeq
      }
    }
  }

  private val versionSchema =
    StructType(Seq(StructField("version", IntegerType)))

  private val filesSchema =
    StructType(Seq(StructField("data_files", IntegerType)))
}

/** Read-only metadata relation (`t.snapshots` / `t.history`) — the
  * Iceberg metadata-table surface (02_iceberg_demo.ipynb queries
  * `.snapshots`) through the SQL catalog. Driver-side O(#commits) rows
  * by construction, served through the V1Scan escape hatch. */
class GraftMetadataTable(spark: SparkSession, path: String,
                         ident: Identifier, kind: String)
  extends GraftDataFrameTable(spark, ident, () => {
    val t = GraftTable.load(spark, path)
    if (kind == "snapshots") t.snapshots()
    else if (kind == "files") t.files()
    else t.history()
  })

/** A raw FOREIGN root (`cat.delta.`/root``/`cat.iceberg.`/root``)
  * surfaced as a table: scans are the read-only DataFrame path, and
  * carrying (format, root) here lets [[graft.plans.ResolveForeignDml]]
  * dispatch plain SQL `UPDATE`/`DELETE FROM`/`MERGE INTO` on the
  * identifier to the protocol-level interop writers — the reference
  * notebooks' DML cells (02_iceberg_demo.ipynb `UPDATE … SET`,
  * `DELETE FROM`, MERGE) run verbatim against any Delta/Iceberg
  * directory. */
class ForeignRootTable(spark: SparkSession, ident: Identifier,
                       val format: String, val root: String,
                       mkDf: () => DataFrame)
  extends GraftDataFrameTable(spark, ident, mkDf)

/** Read-only DSv2 table over a driver-built DataFrame — the metadata
  * relations and the raw foreign-root reads route through this. */
class GraftDataFrameTable(spark: SparkSession, ident: Identifier,
                          mkDf: () => DataFrame)
  extends Table with SupportsRead {

  private def df: DataFrame = mkDf()

  override def name(): String = ident.toString
  override def schema(): StructType = df.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val data = df
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = data.schema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = data.schema
            override def buildScan(): RDD[Row] = data.rdd
          }.asInstanceOf[T]
      }
    }
  }
}

/** Executor-side adapter for the row-level write path: projects each
  * incoming row down to the trailing table columns (Spark's rewrite
  * prepends bookkeeping columns like __row_operation and applies no
  * projection of its own when the operation declares no metadata
  * attributes) before handing it to the delegate parquet writer. */
private class ProjectingWriterFactory(
    delegate: org.apache.spark.sql.connector.write.DataWriterFactory,
    schema: StructType)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    val d = delegate.createWriter(partitionId, taskId)
    new org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      private var proj: org.apache.spark.sql.catalyst.ProjectingInternalRow = _
      override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        if (proj == null) {
          val offset = row.numFields - schema.length
          require(offset >= 0,
            s"row has ${row.numFields} fields for ${schema.length} table columns")
          proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
            schema, (offset until row.numFields).toIndexedSeq)
        }
        proj.project(row)
        d.write(proj)
      }
      override def commit() = d.commit()
      override def abort(): Unit = d.abort()
      override def close(): Unit = d.close()
    }
  }
}

/** DSv2 v1-Filter → Column translation for DELETE FROM / filtered
  * overwrite pushdown. */
object V1Filters {
  def translatable(f: Filter): Boolean =
    try { toColumn(f); true } catch { case _: UnsupportedOperationException => false }

  def toColumn(f: Filter): Column = f match {
    case sources.EqualTo(a, v) => col(a) === lit(v)
    case sources.EqualNullSafe(a, v) => col(a) <=> lit(v)
    case sources.GreaterThan(a, v) => col(a) > lit(v)
    case sources.GreaterThanOrEqual(a, v) => col(a) >= lit(v)
    case sources.LessThan(a, v) => col(a) < lit(v)
    case sources.LessThanOrEqual(a, v) => col(a) <= lit(v)
    case sources.In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
    case sources.IsNull(a) => col(a).isNull
    case sources.IsNotNull(a) => col(a).isNotNull
    case sources.StringStartsWith(a, v) => col(a).startsWith(v)
    case sources.StringEndsWith(a, v) => col(a).endsWith(v)
    case sources.StringContains(a, v) => col(a).contains(v)
    case sources.And(l, r) => toColumn(l) && toColumn(r)
    case sources.Or(l, r) => toColumn(l) || toColumn(r)
    case sources.Not(c) => !toColumn(c)
    case _: sources.AlwaysTrue => lit(true)
    case _: sources.AlwaysFalse => lit(false)
    case other => throw new UnsupportedOperationException(s"predicate $other")
  }
}
