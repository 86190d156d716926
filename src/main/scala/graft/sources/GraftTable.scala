package graft.sources

import java.nio.charset.StandardCharsets
import scala.util.chaining._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** GraftTable — a Spark-native versioned table format (commit log +
  * immutable parquet snapshots).
  *
  * Re-expresses the reference's lakehouse table surface — Delta/Iceberg
  * CREATE/INSERT/UPDATE/DELETE/MERGE, INSERT OVERWRITE, schema-merge
  * append, time travel, DESCRIBE HISTORY, VACUUM
  * (reference: docker/spark-notebook/02_iceberg_demo.ipynb,
  * 03_delta_demo.ipynb) — without any table-format dependency: the
  * commit log is a directory of tiny JSON files, one per version, each
  * recording the action, the schema, and the full set of live data
  * directories for that snapshot.
  *
  * Layout:
  * {{{
  *   <root>/_graft_log/00000000.json   // one commit per version
  *   <root>/d0000-<uuid>/part-*.parquet // immutable data directories
  * }}}
  *
  * Scale design: the log is O(#commits) driver-side metadata — data
  * moves only through distributed parquet writes. Appends add a
  * directory without touching existing data. Update/delete/merge are
  * copy-on-write snapshot rewrites here; the log structure already
  * carries per-directory granularity, so file-level pruning (rewrite
  * only directories whose key min/max overlap the predicate) is an
  * incremental upgrade, not a format change. Single-writer semantics
  * (the reference's notebooks are single-writer too); a conditional-put
  * on the next commit id is the standard multi-writer extension.
  */
class GraftTable private (val spark: SparkSession, val root: String) {
  import GraftTable._

  /** All table I/O routes through the Hadoop FileSystem of `root` (see
    * [[TableIO]]) — the root may be a local path, `file://`, `hdfs://`
    * or `s3a://` URI. */
  private val io = new TableIO(root, spark.sparkContext.hadoopConfiguration)

  private def logDir: HPath = io.path(LogDirName)

  // ---- commit log ----

  private def commitFiles(): Seq[HPath] =
    io.list(logDir).map(_.getPath)
      .filter(_.getName.endsWith(".json")).sortBy(_.getName)

  def latestVersion(): Int = commitFiles().size - 1

  /** Data directories live in the current snapshot (for tests/tools). */
  def liveDataDirs: Seq[String] = readCommit(latestVersion()).liveDirs

  private def readCommit(v: Int): Commit =
    Commit.fromJson(io.readString(new HPath(logDir, f"$v%08d.json")))

  /** Atomic conditional put of the commit file — exactly one writer can
    * land each version slot, and readers never observe partial content
    * (see [[TableIO.writeExclusive]] for the per-store mechanism: local
    * hard-link, rename-without-overwrite on HDFS-like stores, and the
    * documented S3 conditional-PUT requirement). */
  private def writeCommit(c: Commit): Unit =
    OptimisticCommit.claim(io, new HPath(logDir, f"${c.version}%08d.json"),
      c.toJson.getBytes(StandardCharsets.UTF_8))

  /** Partition spec for this table: plain column names, or a derived
    * transform — `days(col)` (the reference's `PARTITIONED BY (days(ts))`
    * — 02_iceberg_demo.ipynb) plus the rest of the Iceberg transform
    * family: `hours(col)`, `months(col)`, `years(col)`,
    * `bucket(n, col)`, `truncate(w, col)`. Set at create time, constant
    * across commits (modulo renames of identity partition columns). */
  def partitionColumns: Seq[String] = {
    val v = latestVersion()
    if (v < 0) Nil else readCommit(v).partitionBy
  }

  /** Physical layout column for one partition-spec entry: identity specs
    * partition on the column itself; derived transforms materialize a
    * hidden `__p_<transform>_<col>` column in the file layout (dropped
    * at read). */
  private def physicalPartCol(spec: String): String = spec match {
    case DaysSpec(c) => s"__p_days_$c"
    case HoursSpec(c) => s"__p_hours_$c"
    case MonthsSpec(c) => s"__p_months_$c"
    case YearsSpec(c) => s"__p_years_$c"
    case BucketSpec(n, c) => s"__p_bucket_${n}_$c"
    case MBucketSpec(n, c) => s"__p_mbucket_${n}_$c"
    case TruncSpec(w, c) => s"__p_trunc_${w}_$c"
    case c => c
  }

  /** The derived layout column for a transform spec, or None for
    * identity specs. Time transforms use sortable string grains (an
    * hours(ts) predicate prunes lexicographically); bucket hashes with
    * the same xxhash64 the point-lookup path derives; truncate is
    * width-prefix for strings and floor-to-multiple for integrals
    * (Iceberg truncate semantics — works for negatives because pmod is
    * non-negative). */
  private def derivedPartCol(spec: String, df: DataFrame)
      : Option[org.apache.spark.sql.Column] = spec match {
    case DaysSpec(c) => Some(to_date(col(c)))
    case HoursSpec(c) => Some(date_format(col(c), "yyyy-MM-dd-HH"))
    case MonthsSpec(c) => Some(date_format(col(c), "yyyy-MM"))
    case YearsSpec(c) => Some(date_format(col(c), "yyyy"))
    case BucketSpec(n, c) => Some(pmod(xxhash64(col(c)), lit(n.toInt)).cast("int"))
    case MBucketSpec(n, c) =>
      Some(graft.functions.IcebergHash.iceberg_bucket(n.toInt, col(c)))
    case TruncSpec(w, c) => df.schema(c).dataType match {
      case org.apache.spark.sql.types.StringType =>
        Some(substring(col(c), 1, w.toInt))
      case _ => Some(col(c) - pmod(col(c), lit(w.toInt)))
    }
    case _ => None
  }

  private def writeData(df: DataFrame, version: Int, partitionBy: Seq[String]): String = {
    val dir = f"d$version%04d-${java.util.UUID.randomUUID().toString.take(8)}"
    val withDerived = partitionBy.foldLeft(df) { (d, spec) =>
      derivedPartCol(spec, df) match {
        case Some(c) => d.withColumn(physicalPartCol(spec), c)
        case None => d
      }
    }
    val physParts = partitionBy.map(physicalPartCol)
    val statsEnabled =
      spark.conf.getOption("spark.graft.stats.enabled").forall(_.toBoolean)
    val bloomCols = spark.conf.getOption("spark.graft.table.bloomCols")
      .exists(_.split(",").exists(_.trim.nonEmpty))
    if (statsEnabled && !bloomCols) {
      // Hot path: stats ride the write tasks (parquet-footer payloads
      // merged driver-side) — ONE data pass per commit instead of the
      // write + re-read-aggregate pair. Blooms opt the table out: they
      // need the values, not just footer bounds.
      val dataSchema = StructType(withDerived.schema
        .filterNot(f => physParts.contains(f.name)).map(_.copy(nullable = true)))
      val payloads = org.apache.spark.sql.graftbridge.StatsWriteBridge
        .writeWithPayloads(withDerived, io.path(dir).toString, physParts,
          new DirStats.FooterStatFn(dataSchema))
      // repair: a file the task-side path mapping missed would silently
      // UNDERCOUNT the dir (an unsound zero-ish row count could prune a
      // live dir) — one driver footer read per missing file, usually none
      val hconf = spark.sparkContext.hadoopConfiguration
      val fs = io.path(dir).getFileSystem(hconf)
      def list(d: HPath, rel: String): Seq[String] =
        fs.listStatus(d).toSeq.flatMap { st =>
          val name = st.getPath.getName
          val childRel = if (rel.isEmpty) name else s"$rel/$name"
          if ((name.startsWith("_") || name.startsWith(".")) &&
              !name.contains("=")) Nil
          else if (st.isDirectory) list(st.getPath, childRel)
          else if (name.endsWith(".parquet")) Seq(childRel)
          else Nil
        }
      val all = list(io.path(dir), "")
      val repaired = payloads ++ all.filterNot(payloads.contains).flatMap { rel =>
        DirStats.footerFileJson(hconf, new HPath(io.path(dir), rel), dataSchema)
          .map(rel -> _)
      }
      DirStats.writeFromFooterPayloads(fs, io.path(dir), repaired,
        withDerived.schema, physParts)
    } else {
      val w = withDerived.write
      (if (partitionBy.nonEmpty) w.partitionBy(physParts: _*) else w)
        .parquet(io.path(dir).toString)
      if (statsEnabled) DirStats.write(spark, io.path(dir))
    }
    dir
  }

  /** Commit timestamps are wall-clock, bumped to stay strictly monotonic
    * per table so timestamp time travel is total-ordered. */
  private def nextTimestamp(v: Int): Long = {
    val prev = if (v == 0) 0L else readCommit(v - 1).timestampMs
    math.max(System.currentTimeMillis(), prev + 1)
  }

  /** Actions whose `live` transform does not depend on the previous
    * snapshot's contents — safe to retry under the optimistic commit
    * protocol when another writer wins the version slot. Mutations
    * (update/delete/merge/overwrite) analyzed a specific snapshot and
    * must fail instead (the caller re-runs against the new state). */
  private def retryable(action: String): Boolean =
    action == "append" || action == "appendMergeSchema" ||
      action.startsWith("stream-append")

  /** Commit with optimistic concurrency: the commit file is written
    * CREATE_NEW, so exactly one writer can land each version (a
    * conditional put). A losing append re-targets the next version —
    * its already-written data directory is renamed to carry the new
    * version prefix (a metadata move) and the commit retries, within
    * [[OptimisticCommit]]'s bound; a losing mutation raises
    * ConcurrentModificationException. */
  private def commit(action: String, df: Option[DataFrame],
                     live: Seq[String] => Seq[String],
                     partitionBy: Seq[String] = null): Int = {
    var v = latestVersion() + 1
    def parts(pv: Int) =
      if (partitionBy != null) partitionBy
      else if (pv == 0) Nil
      else readCommit(pv - 1).partitionBy
    // row-level mutations write COMPUTED survivor sets whose partition
    // fan-out is an accident of the joins that built them — size those
    // to the target file size; appends/overwrites keep the caller's
    // layout (an explicit repartition before append is intentional)
    val sized = df.map { d =>
      val distributable = action match {
        case "update" | "delete" | "merge" => true
        // a PARTITIONED create from a narrow source otherwise streams
        // every partition value's file sequentially through one
        // dynamic writer (~330 ms for 25 values at bench scale, ~60 ms
        // hash-distributed) — and hash distribution by partition value
        // is the layout a partitioned table wants at any scale
        // (Iceberg's write.distribution-mode=hash). Appends keep the
        // caller's layout: an explicit repartition before append is
        // intentional.
        case "create" => parts(v).nonEmpty
        case _ => false
      }
      if (distributable) {
        // identity partition columns only: transform specs (days(ts),
        // bucket(n,c)) are not columns of the survivor frame — those
        // tables keep the size-derived coalesce
        val idParts = parts(v).filter(d.columns.contains)
        if (idParts.nonEmpty && idParts.size == parts(v).size)
          Sizing.distributeForWrite(d, idParts)
        else if (action == "create") d
        else Sizing.coalesceForWrite(d)
      } else d
    }
    var (added, schema) = sized match {
      // table schemas are always nullable (Delta/Iceberg semantics):
      // a non-null batch must not forbid nulls from other commits
      case Some(d) => (Seq(writeData(d, v, parts(v))),
        StructType(d.schema.map(_.copy(nullable = true))))
      case None => (Nil: Seq[String],
        if (v == 0) new StructType() else readCommit(v - 1).schemaStruct)
    }
    // Append-family commits merge their batch schema with the LATEST
    // previous schema at every attempt — two reasons: (a) that is what
    // appendMergeSchema means (the batch's columns JOIN the table
    // schema; recording only d.schema would silently hide every table
    // column the batch happens not to carry), and (b) a retried append
    // that lost its version slot to a schema-evolving writer must not
    // overwrite the winner's wider schema with its own pre-race one (a
    // lost update under the very protocol the retry implements).
    def effectiveSchema(pv: Int): StructType =
      if (df.isEmpty || pv == 0 ||
          !(action == "appendMergeSchema" || retryable(action))) schema
      else {
        val base = readCommit(pv - 1).schemaStruct
        val baseNames = base.fieldNames.toSet
        schema.filter(f => baseNames(f.name)).foreach { f =>
          val bt = base(f.name).dataType
          require(bt == f.dataType,
            s"column ${f.name}: incompatible types $bt vs ${f.dataType}")
        }
        StructType(base.map(_.copy(nullable = true)) ++
          schema.filterNot(f => baseNames(f.name)).map(_.copy(nullable = true)))
      }
    // a commit that never lands leaves no data directory behind
    OptimisticCommit.cleaningUp(added.foreach(d => io.delete(io.path(d)))) {
      OptimisticCommit.retry(action, root) { lost =>
        if (lost > 0) {
          if (!retryable(action))
            throw new java.util.ConcurrentModificationException(
              s"concurrent commit beat $action at version $v")
          val nv = latestVersion() + 1
          added = added.map { d =>
            // keep the uuid suffix only (split on '-', not a fixed
            // width — 5-digit versions are longer than 'dNNNN')
            val renamed = f"d$nv%04d-${d.substring(d.indexOf('-') + 1)}"
            io.move(io.path(d), io.path(renamed))
            renamed
          }
          v = nv
        }
        val prev = if (v == 0) Nil else readCommit(v - 1).liveDirs
        writeCommit(Commit(v, action, effectiveSchema(v).json,
          live(prev) ++ added, parts(v), timestampMs = nextTimestamp(v)))
        v
      }
    }
  }

  // ---- write operations ----

  def append(df: DataFrame): Int = commit("append", Some(align(df)), prev => prev)

  /** Append committed under a caller-supplied action label. Streaming
    * ingest stamps `stream-append#<batchId>` so a replayed micro-batch
    * can be detected in `history()` and skipped — the Delta
    * txn-app-id/version idiom for exactly-once sinks. */
  def appendBatch(action: String, df: DataFrame): Int =
    commit(action, Some(align(df)), prev => prev)

  def overwrite(df: DataFrame): Int = commit("overwrite", Some(df), _ => Nil)

  /** Overwrite that also CHANGES the partition layout — the
    * partition-spec-evolution commit (Iceberg `REPLACE TABLE ...
    * PARTITIONED BY` / `ALTER TABLE ... WRITE ORDERED BY` family):
    * the snapshot is rewritten under `newPartitionBy` and every later
    * commit follows the new layout. History keeps each commit's own
    * spec — time travel and restore reproduce the old layout, and the
    * Iceberg mirror publishes the change as a real partition-spec
    * evolution (new spec-id; manifests resolve per their own spec). */
  def overwriteRepartition(df: DataFrame, newPartitionBy: Seq[String]): Int =
    commit("overwriteRepartition", Some(df), _ => Nil, newPartitionBy)

  /** Overwrite committed under a caller-supplied action label — the
    * Complete-mode streaming sink stamps `stream-complete#<batchId>`
    * for replay detection, like [[appendBatch]]. */
  def overwriteBatch(action: String, df: DataFrame): Int =
    commit(action, Some(df), _ => Nil)

  /** Append with schema evolution: new columns join the table schema,
    * old data reads them as null (mergeSchema semantics). */
  def appendMergeSchema(df: DataFrame): Int =
    commit("appendMergeSchema", Some(df), prev => prev)

  /** Directories of the current snapshot whose min/max stats cannot rule
    * out `condition` — a driver-side metadata decision, no data read. */
  private def pruneByStats(dirs: Seq[String], condition: Column): Seq[String] = {
    val e = DirStats.analyze(spark, readCommit(latestVersion()).schemaStruct, condition)
    dirs.filter { d =>
      DirStats.load(io.fs, io.path(d)) match {
        case Some(st) => DirStats.mayMatch(e, st)
        case None => true
      }
    }
  }

  /** Directories (of the current snapshot) containing at least one row
    * matching `condition`. Stats-pruned first (metadata only), then one
    * pushdown-friendly scan over just the surviving dirs; everything
    * else is untouched by a row-level mutation. */
  private def touchedDirs(condition: Column): Set[String] = {
    val candidates = pruneByStats(readCommit(latestVersion()).liveDirs, condition)
    if (candidates.isEmpty) Set.empty
    else readDirs(candidates)
      .filter(condition)
      .select(regexp_extract(input_file_name(), "(d\\d{4}-[0-9a-f]{8})", 1).as("d"))
      .distinct().collect().map(_.getString(0)).toSet
  }

  /** Mutation-path read of current-snapshot dirs — MUST go through the
    * rename- and transform-aware [[readDirsAs]]: a plain forced-schema
    * read would (a) null-fill a renamed column out of every dir written
    * before the rename, so the next copy-on-write rewrite destroys that
    * column's data, and (b) leak discovered __p_* hive layout columns
    * into the rewritten commit's schema. */
  private def readDirs(dirs: Seq[String]): DataFrame =
    readDirsAs(latestVersion(), dirs)

  /** Row-level mutation with directory-granular copy-on-write: only the
    * directories that contain matching rows are rewritten; the rest of
    * the snapshot is carried forward untouched. At 100 TB this is the
    * difference between rewriting the table and rewriting the few
    * files a predicate touches (Delta/Iceberg CoW semantics). */
  private def rewriteTouched(action: String, condition: Column,
                             transform: DataFrame => DataFrame): Int = {
    val touched = touchedDirs(condition)
    if (touched.isEmpty)
      commit(action, None, prev => prev)
    else
      commit(action, Some(transform(readDirs(touched.toSeq))),
        prev => prev.filterNot(touched))
  }

  /** Row-level UPDATE (directory-granular copy-on-write). All
    * assignment expressions evaluate against the PRE-update row (one
    * simultaneous projection, SQL UPDATE semantics) — a sequential
    * withColumn fold would let `a -> col("b"), b -> col("a")` see the
    * already-updated `a` and silently turn the swap into a copy. */
  def update(condition: Column, assignments: Map[String, Column]): Int =
    rewriteTouched("update", condition, cur => {
      val unknown = assignments.keySet -- cur.columns
      require(unknown.isEmpty,
        s"update: unknown column(s) ${unknown.mkString(", ")}")
      cur.select(cur.columns.toSeq.map { c =>
        assignments.get(c) match {
          case Some(v) => when(condition, v).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*)
    })

  /** Row-level DELETE (directory-granular copy-on-write). Only rows
    * where the predicate is TRUE are removed — `!condition` alone would
    * also drop NULL-condition rows (three-valued logic), diverging from
    * Delta/SQL DELETE semantics. */
  def delete(condition: Column): Int =
    rewriteTouched("delete", condition, _.filter(!coalesce(condition, lit(false))))

  /** Delta `replaceWhere` overwrite: atomically replace exactly the
    * rows matching `condition` with `df` — ONE commit (a separate
    * delete + append would expose the gap between them to readers).
    * Directory-granular like every mutation: untouched directories
    * carry forward, touched ones rewrite minus their matches, and the
    * new data lands alongside the remainder. The standard
    * partition-scoped backfill ("rewrite one day / one source")
    * without a full-table rewrite. With `validate` (the Delta default)
    * the new rows must themselves satisfy `condition` — a backfill
    * that would silently write outside its declared slice fails
    * instead. */
  def replaceWhere(condition: Column, df: DataFrame,
                   validate: Boolean = true): Int = {
    if (validate) {
      val violating = df.filter(!coalesce(condition, lit(false))).count()
      require(violating == 0,
        s"replaceWhere: $violating new rows violate the replace condition")
    }
    val touched = touchedDirs(condition)
    if (touched.isEmpty)
      commit("replaceWhere", Some(align(df)), prev => prev)
    else {
      // keep = NOT TRUE, not NOT(condition): a NULL condition row is
      // neither replaced nor matched by !condition — without the
      // coalesce it would silently vanish from touched directories
      // (Delta's replaceWhere only removes rows where the predicate is
      // TRUE; the validate branch above already coalesces the same way).
      val kept = readDirs(touched.toSeq).filter(!coalesce(condition, lit(false)))
      commit("replaceWhere", Some(align(df).unionByName(kept)),
        prev => prev.filterNot(touched))
    }
  }

  /** MERGE INTO (upsert): source rows update matching target rows by
    * key and insert the rest. Directory-granular copy-on-write: a
    * left-semi join against the source keys finds the directories
    * holding matched rows — every match necessarily lives in one — and
    * only those merge with the source; the rest carry forward.
    *
    * NULL keys follow SQL MERGE's ON-equality: a NULL never matches
    * (three-valued logic), so a NULL-key source row inserts and a
    * NULL-key target row survives untouched. The merge join, the
    * touched-directory detection, and the match test all share that
    * rule — the match flag is a marker column on the source, NOT a
    * key-isNotNull probe (which would mistake a NULL-key source row
    * for "no match" on its own full-outer row and emit target nulls). */
  def merge(source: DataFrame, keys: Seq[String]): Int = {
    val cols = read().columns.toSeq
    val src = source.select(cols.map(col): _*)
    val srcKeys = src.select(keys.map(col): _*).distinct()
    // stats pruning: dirs whose primary-key range misses the source's
    // key range can't contain a match — skipped without scanning
    val k = keys.head
    val kr = srcKeys.agg(min(col(k)).as("lo"), max(col(k)).as("hi")).collect()(0)
    val live = readCommit(latestVersion()).liveDirs
    val candidates =
      if (kr.isNullAt(0)) Nil
      else pruneByStats(live, col(k) >= lit(kr.get(0)) && col(k) <= lit(kr.get(1)))
    val touched =
      if (candidates.isEmpty) Set.empty[String]
      else readDirs(candidates)
        .withColumn("__dir",
          regexp_extract(input_file_name(), "(d\\d{4}-[0-9a-f]{8})", 1))
        .join(srcKeys, keys, "left_semi")
        .select(col("__dir")).distinct().collect().map(_.getString(0)).toSet
    val target =
      if (touched.isEmpty) null else readDirs(touched.toSeq)
    val merged =
      if (target == null) src
      else {
        val cond = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
        val srcM = src.withColumn("__sm", lit(true))
        val joined = target.as("t").join(srcM.as("s"), cond, "full_outer")
        // source wins on match (whole-row update), target rows survive
        // unmatched, unmatched source rows insert.
        joined.select(cols.map(c =>
          when(col("s.__sm").isNotNull, col(s"s.$c"))
            .otherwise(col(s"t.$c")).as(c)): _*)
      }
    commit("merge", Some(merged), prev => prev.filterNot(touched))
  }

  /** OPTIMIZE analog: rewrite the current snapshot as one fresh data
    * directory (small-file compaction after many appends). Contents are
    * unchanged; history keeps the old versions until vacuumed. */
  def compact(targetPartitions: Int = 0): Int = {
    val cur = read()
    val d = if (targetPartitions > 0) cur.coalesce(targetPartitions) else cur
    commit("compact", Some(d), _ => Nil)
  }

  /** OPTIMIZE … ZORDER analog: rewrite the snapshot as `numDirs`
    * range-clustered directories on `cols`. Contents are unchanged —
    * but each directory now covers a narrow, non-overlapping range of
    * the clustering key, so the per-directory min/max stats make
    * predicate pruning (mutations AND catalog reads) skip all but the
    * overlapping directories. The 100 TB story: clustering is the step
    * that turns stats from bookkeeping into I/O elimination.
    *
    * Implementation: range-partition the snapshot on the clustering
    * key (one shuffle, the same machinery as a global sort) and write
    * each range as its own directory under a single commit. */
  def cluster(cols: Seq[String], numDirs: Int): Int = {
    require(cols.nonEmpty && numDirs > 0)
    writeClustered(read().repartitionByRange(numDirs, cols.map(col): _*),
      "cluster")
  }

  /** OPTIMIZE … ZORDER with true multi-dimensional interleaving: each
    * numeric clustering column is quantized to a 2^bits-cell grid (via
    * its min/max — two driver scalars), the cell indices are
    * bit-interleaved into a Z-value, and the snapshot is range-clustered
    * on that Z-value. Unlike lexicographic `cluster(cols, …)` — where
    * only the leading column gets tight per-directory bounds — Z-order
    * tiles the space, so per-directory stats are narrow in EVERY
    * clustering dimension and a point/range predicate on any one of
    * them skips most directories. The quantize+interleave is a pure
    * scan-side codegen'd projection; the only shuffle is the range
    * partition itself (same cost as a global sort — the price any
    * OPTIMIZE job pays). */
  def clusterZOrder(cols: Seq[String], numDirs: Int): Int = {
    require(cols.size >= 2 && numDirs > 0, "zorder needs >= 2 columns")
    val cur = read()
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double").as(s"mn_$c"),
          max(col(c)).cast("double").as(s"mx_$c")))
    val row = cur.agg(aggs.head, aggs.tail: _*).collect()(0)
    val bits = math.min(16, 63 / cols.size)
    val nb = 1L << bits
    val cells = cols.zipWithIndex.map { case (c, i) =>
      val mn = row.getDouble(2 * i); val mx = row.getDouble(2 * i + 1)
      if (!(mx > mn)) lit(0L)
      else coalesce(
        least(greatest(
          width_bucket(col(c).cast("double"), lit(mn), lit(mx), lit(nb)) - 1,
          lit(0L)), lit(nb - 1)),
        lit(0L))
    }
    val z = (0 until bits).foldLeft(lit(0L)) { (acc, bit) =>
      cells.zipWithIndex.foldLeft(acc) { case (a, (cell, j)) =>
        a.bitwiseOR(shiftleft(
          shiftright(cell, bit).bitwiseAND(lit(1L)), bit * cols.size + j))
      }
    }
    writeClustered(
      cur.withColumn("__z", z).repartitionByRange(numDirs, col("__z"))
        .drop("__z"),
      "zorder")
  }

  /** Write an already-partitioned snapshot rewrite, one directory per
    * partition, under a single commit: tag rows with their partition id,
    * then write per id (numDirs small jobs over one cached shuffle
    * output). */
  private def writeClustered(cur: DataFrame, action: String): Int = {
    val v = latestVersion() + 1
    val parts = readCommit(v - 1).partitionBy
    val schema = readCommit(v - 1).schemaStruct
    val tagged = cur.withColumn("__range_id", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val ids = tagged.select(col("__range_id")).distinct()
        .collect().map(_.getInt(0)).sorted
      val added = ids.map { id =>
        writeData(tagged.filter(col("__range_id") === id).drop("__range_id"), v, parts)
      }
      writeCommit(Commit(v, action, schema.json, added.toIndexedSeq, parts,
        timestampMs = nextTimestamp(v)))
      v
    } finally { tagged.unpersist(); () }
  }

  private def align(df: DataFrame): DataFrame = {
    val v = latestVersion()
    if (v < 0) df
    else {
      val existing = readCommit(v).schemaStruct
      if (existing.isEmpty || existing == df.schema) df
      else {
        // union of schemas: existing order first, new columns appended
        val newCols = df.schema.filterNot(f => existing.exists(_.name == f.name))
        val all = existing ++ newCols
        df.select(all.map(f =>
          if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
          else lit(null).cast(f.dataType).as(f.name)): _*)
      }
    }
  }

  /** Commit metadata at `version` (for the SQL catalog integration). */
  private[sources] def commitAt(version: Int): Commit = readCommit(version)

  /** Commit a snapshot rewrite whose data directory was written by an
    * external engine (the SQL row-level operation path: Spark's native
    * parquet BatchWrite lands the files, this lands the table commit).
    * The new directory replaces the whole previous snapshot — SQL
    * UPDATE/MERGE are full-snapshot rewrites in this format version;
    * the Scala API keeps the directory-granular copy-on-write path.
    * Mutation semantics: a concurrent commit wins the version slot →
    * ConcurrentModificationException (analyzed snapshot is stale). */
  private[sources] def commitRewrite(action: String, dir: String,
                                     replaced: Seq[String] = null): Int = {
    if (spark.conf.getOption("spark.graft.stats.enabled").forall(_.toBoolean)) {
      // externally-written dir (Spark's parquet BatchWrite): derive the
      // stats from the files' footers — no second data scan
      val prev = latestVersion()
      val schema =
        if (prev < 0) new StructType() else readCommit(prev).schemaStruct
      DirStats.writeFromFooters(spark, io.path(dir), schema,
        if (prev < 0) Nil else readCommit(prev).partitionBy.map(physicalPartCol))
    }
    val v = latestVersion() + 1
    // the dir was named with a predicted version — fix the prefix so
    // rename-chain versioning stays exact
    val named = f"d$v%04d-${dir.drop(6)}"
    if (named != dir) io.move(io.path(dir), io.path(named))
    val cur = readCommit(v - 1)
    val live =
      if (replaced == null) Seq(named)
      else cur.liveDirs.filterNot(replaced.toSet) :+ named
    try writeCommit(Commit(v, action, cur.schemaJson, live, cur.partitionBy,
      timestampMs = nextTimestamp(v)))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit beat $action at version $v")
    }
    v
  }

  /** ALTER TABLE ADD COLUMN analog: a metadata-only commit; existing
    * data directories read the new column as null. */
  def addColumn(name: String, dataType: DataType): Int = {
    val v = latestVersion() + 1
    val cur = readCommit(v - 1)
    require(!cur.schemaStruct.exists(_.name == name), s"column $name exists")
    val schema = StructType(cur.schemaStruct.fields :+
      org.apache.spark.sql.types.StructField(name, dataType, nullable = true))
    writeCommit(Commit(v, "addColumn", schema.json, cur.liveDirs, cur.partitionBy,
      timestampMs = nextTimestamp(v)))
    v
  }

  /** ALTER TABLE RENAME COLUMN analog: a metadata-only commit. Existing
    * data directories keep the old physical column name; reads map them
    * to the new name per directory (each dir name encodes the version
    * that wrote it, so the applicable rename chain is known exactly). */
  def renameColumn(oldName: String, newName: String): Int = {
    val v = latestVersion() + 1
    val cur = readCommit(v - 1)
    require(cur.schemaStruct.exists(_.name == oldName), s"no column $oldName")
    require(!cur.schemaStruct.exists(_.name == newName), s"column $newName exists")
    val schema = StructType(cur.schemaStruct.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val parts = cur.partitionBy.map(p => if (p == oldName) newName else p)
    writeCommit(Commit(v, "renameColumn", schema.json, cur.liveDirs, parts,
      timestampMs = nextTimestamp(v), renames = Seq(oldName -> newName)))
    v
  }

  // ---- read operations ----

  def read(): DataFrame = readVersion(latestVersion())

  /** Version of the data directory name (dirs are immutable and named
    * d<version>-<uuid>, so the rename chain that applies to a dir is
    * exactly the renames committed after it was written). */
  // parse up to the '-', not a fixed width: %04d pads to AT LEAST 4
  // digits — version 10000 writes 'd10000-…' and substring(1, 5)
  // would misread it as 1000, mis-ordering dirs against renames
  private def dirVersion(d: String): Int =
    d.drop(1).takeWhile(_.isDigit).toInt

  /** Time travel: the snapshot exactly as of `version`. */
  def readVersion(version: Int): DataFrame =
    readDirsAs(version, readCommit(version).liveDirs)

  /** Read a SUBSET of a version's live directories under that version's
    * schema + rename view — the building block for both full snapshot
    * reads and incremental (changed-dirs-only) reads. */
  /** Does the data dir hold at least one parquet file? An empty CREATE
    * commit's dir carries only _SUCCESS — schema INFERENCE over it
    * throws, and it can contribute no rows, so inference-path readers
    * skip it. */
  private def hasParquetFiles(d: String): Boolean = {
    val p = io.path(d)
    io.isDir(p) && {
      val it = io.fs.listFiles(p, /*recursive=*/ true)
      var found = false
      while (!found && it.hasNext) found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
  }

  private def readDirsAs(version: Int, dirs0: Seq[String]): DataFrame = {
    val c = readCommit(version)
    val schema = c.schemaStruct
    val renamesUpTo: Seq[(Int, (String, String))] =
      (0 to version).flatMap(v => readCommit(v).renames.map(r => (v, r)))
    val hasDerivedParts = c.partitionBy.exists(p => physicalPartCol(p) != p)
    // the rename/transform branch below must INFER each dir's physical
    // schema, which throws on a file-less dir (the SQL catalog's empty
    // CREATE commit) — drop such dirs up front; they hold no rows
    val dirs =
      if (hasDerivedParts || renamesUpTo.nonEmpty) dirs0.filter(hasParquetFiles)
      else dirs0
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else if (c.partitionBy.isEmpty && renamesUpTo.isEmpty)
      spark.read.schema(schema)
        .parquet(dirs.map(d => io.path(d).toString): _*)
    else if (!hasDerivedParts && renamesUpTo.isEmpty)
      // partitioned commits: each data dir is its own hive-layout tree,
      // read per-dir (own basePath) and union — partition pruning still
      // applies per scan
      org.apache.spark.sql.graftbridge.ColumnBridge.unionAll(dirs.map { d =>
        val p = io.path(d).toString
        spark.read.schema(schema).option("basePath", p).parquet(p)
      })
    else
      // rename- or transform-bearing snapshots: read each dir under its
      // own (inferred) physical schema, apply the renames committed
      // after the dir was written, then project to the snapshot schema
      // (missing columns null-fill — mergeSchema semantics preserved).
      dirs.map { d =>
        val p = io.path(d).toString
        val raw = spark.read.option("basePath", p).parquet(p)
        val applicable = renamesUpTo.filter(_._1 > dirVersion(d)).map(_._2)
        val renamed = applicable.foldLeft(raw) { case (df, (o, n)) =>
          if (df.columns.contains(o)) df.withColumnRenamed(o, n) else df
        }
        renamed.select(schema.map(f =>
          if (renamed.columns.contains(f.name)) col(f.name).cast(f.dataType)
          else lit(null).cast(f.dataType).as(f.name)): _*)
      }.pipe(org.apache.spark.sql.graftbridge.ColumnBridge.unionAll)
  }

  /** Pruned read over a transform-partitioned table: filters the hidden
    * layout column of `spec` to `value` so only matching hive
    * partitions are scanned — the transform-aware partition pruning
    * Iceberg derives from metadata, surfaced as an explicit API.
    * `value` is the transform grain: `days(ts)` → "2024-01-07",
    * `hours(ts)` → "2024-01-07-13", `months(ts)` → "2024-01",
    * `years(ts)` → "2024", `bucket(n, c)` → the bucket ordinal (see
    * [[readWhereBucketOf]] for key-value point lookups),
    * `truncate(w, c)` → the truncated prefix/multiple. */
  def readWherePartition(spec: String, value: String): DataFrame = {
    val c = readCommit(latestVersion())
    require(c.partitionBy.contains(spec), s"table is not $spec-partitioned")
    val layout = physicalPartCol(spec)
    require(layout != spec,
      s"$spec is an identity partition — filter the column directly")
    val schema = c.schemaStruct
    // skip dirs with no hive subdir for this layout column (an empty
    // CREATE commit has no files — schema inference would fail, and it
    // can hold no matching rows anyway). The writer nests hive dirs in
    // partitionBy order, so a non-first spec's dirs sit below the other
    // specs' levels — walk to the partition depth, not just the top.
    // hive level for a non-first spec sits below the other specs'
    // levels — walk to the partition depth, not just the top
    def hasLayoutLevel(p: HPath, depth: Int): Boolean =
      io.list(p).exists { st =>
        st.getPath.getName.startsWith(layout + "=") ||
          (depth > 1 && st.isDirectory && hasLayoutLevel(st.getPath, depth - 1))
      }
    val parts = c.liveDirs.filter { d =>
      val dirP = io.path(d)
      io.isDir(dirP) && hasLayoutLevel(dirP, c.partitionBy.size)
    }.map { d =>
      val p = io.path(d).toString
      val raw = spark.read.option("basePath", p).parquet(p)
        .filter(col(layout) === lit(value))
      raw.select(schema.map(f =>
        if (raw.columns.contains(f.name)) col(f.name).cast(f.dataType)
        else lit(null).cast(f.dataType).as(f.name)): _*)
    }
    if (parts.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else org.apache.spark.sql.graftbridge.ColumnBridge.unionAll(parts)
  }

  /** Pruned read over a `days(col)`-partitioned table; `day` is an ISO
    * date (yyyy-MM-dd). */
  def readWhereDays(column: String, day: String): DataFrame =
    readWherePartition(s"days($column)", day)

  /** Bucket-key point lookup: scan only the hash bucket that can hold
    * `key` on a `bucket(n, column)`-partitioned table. The bucket
    * ordinal is derived with the SAME xxhash64 expression the writer
    * used — including a cast of the key literal to the COLUMN's type
    * (xxhash64 hashes an int and a long differently, so an uncast
    * `17` against a BIGINT column would probe the wrong bucket) — so
    * the lookup can never miss. */
  def readWhereBucketOf(column: String, key: Any): DataFrame = {
    val c = readCommit(latestVersion())
    val spec = c.partitionBy.collectFirst {
      case s @ BucketSpec(n, `column`) => (s, n.toInt, false)
      case s @ MBucketSpec(n, `column`) => (s, n.toInt, true)
    }.getOrElse(throw new IllegalArgumentException(
      s"table is not bucket(n, $column)-partitioned"))
    val keyT = c.schemaStruct(column).dataType
    val bucketCol =
      if (spec._3) graft.functions.IcebergHash.iceberg_bucket(
        spec._2, lit(key).cast(keyT))
      else pmod(xxhash64(lit(key).cast(keyT)), lit(spec._2)).cast("int")
    val ordinal = spark.range(1).select(bucketCol).first().getInt(0)
    readWherePartition(spec._1, ordinal.toString)
      .filter(col(column) === lit(key).cast(keyT))
  }

  /** Time travel by wall-clock: the latest snapshot committed at or
    * before `tsMillis` (Delta `timestampAsOf` / Iceberg
    * `as-of-timestamp` analog). */
  def readAsOfTimestamp(tsMillis: Long): DataFrame = {
    val v = (0 to latestVersion()).takeWhile(readCommit(_).timestampMs <= tsMillis).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot committed at or before $tsMillis"))
    readVersion(v)
  }

  /** Incremental change read between two snapshots (Delta Change Data
    * Feed / Iceberg incremental-read analog): every row net-inserted or
    * net-deleted after `fromVersion` up to and including `toVersion`,
    * tagged `_change_type` = insert | delete (an in-place update under
    * copy-on-write surfaces as delete + insert of the changed row).
    *
    * Scale shape: directories carried UNCHANGED between the two commits
    * contribute identical rows to both snapshots and are never read —
    * only the dirs removed or added between the versions are scanned,
    * so cost is proportional to the copy-on-write churn, not the table.
    * The exceptAll pair is one shuffle over those changed-dir rows;
    * downstream CDC consumers read changes instead of diffing full
    * snapshots. */
  def readChangesBetween(fromVersion: Int, toVersion: Int): DataFrame = {
    require(0 <= fromVersion && fromVersion <= toVersion &&
      toVersion <= latestVersion(),
      s"invalid version range $fromVersion..$toVersion")
    import org.apache.spark.sql.functions.{col, lit}
    val fromDirs = readCommit(fromVersion).liveDirs
    val toDirs = readCommit(toVersion).liveDirs
    val removed = fromDirs.filterNot(toDirs.toSet)
    val added = toDirs.filterNot(fromDirs.toSet)
    val schema = readCommit(toVersion).schemaStruct
    // old rows first follow any column renames committed BETWEEN the
    // endpoints (so a renamed column maps to its new name instead of
    // null-filling — without this, every carried-over row of a
    // renamed+rewritten dir would diff as a spurious insert+delete
    // pair), then project to the newer schema (true schema evolution
    // null-fills, mirroring snapshot reads)
    val beforeRaw0 = readDirsAs(fromVersion, removed)
    val midRenames = (fromVersion + 1 to toVersion)
      .flatMap(v => readCommit(v).renames)
    val beforeRaw = midRenames.foldLeft(beforeRaw0) { case (d, (o, n)) =>
      if (d.columns.contains(o)) d.withColumnRenamed(o, n) else d
    }
    val before = beforeRaw.select(schema.map(f =>
      if (beforeRaw.columns.contains(f.name)) col(f.name).cast(f.dataType)
      else lit(null).cast(f.dataType).as(f.name)): _*)
    val after = readDirsAs(toVersion, added)
    after.exceptAll(before).withColumn("_change_type", lit("insert"))
      .unionByName(before.exceptAll(after).withColumn("_change_type", lit("delete")))
  }

  /** DESCRIBE HISTORY analog: one row per commit, with its timestamp. */
  def history(): DataFrame = {
    import spark.implicits._
    (0 to latestVersion()).map { v =>
      val c = readCommit(v)
      (v, new java.sql.Timestamp(c.timestampMs), c.action, c.liveDirs.size)
    }.toDF("version", "timestamp", "operation", "n_live_dirs")
  }

  /** Iceberg `.files` metadata-table analog: one row per live data
    * directory of the CURRENT snapshot, surfacing the per-dir stats
    * (row count, min/max per column) that drive metadata pruning — the
    * observability view for "why did/didn't my predicate skip". Driver-
    * side O(#dirs) rows from the stats files alone; no data scan. */
  def files(): DataFrame = {
    import spark.implicits._
    readCommit(latestVersion()).liveDirs.map { d =>
      val st = DirStats.load(io.fs, io.path(d))
      val rows = st.flatMap(_.get(DirStats.RowCountKey)).map(_.max.toDouble.toLong)
      val cols = st.getOrElse(Map.empty)
        .filter { case (k, v) => k != DirStats.RowCountKey && v.kind != "bloom" }
      (d, rows.getOrElse(-1L),
        cols.map { case (c, s) => c -> s.min },
        cols.map { case (c, s) => c -> s.max })
    }.toDF("dir", "row_count", "min_values", "max_values")
  }

  /** Iceberg `.snapshots` metadata-table analog, including the
    * per-commit `summary` map the reference queries
    * (`SELECT committed_at, snapshot_id, operation, summary FROM
    * …snapshots` — 02_iceberg_demo.ipynb): added/removed directory and
    * record counts diffed from the previous commit's live set, record
    * counts from the per-dir stats files (metadata-only — no data
    * scan; a vacuumed dir whose stats are gone contributes 0). */
  def snapshots(): DataFrame = {
    import spark.implicits._
    def rowsOf(dirs: Seq[String]): Long = dirs.flatMap(d =>
      DirStats.load(io.fs, io.path(d)).flatMap(_.get(DirStats.RowCountKey))
        .map(_.max.toDouble.toLong)).sum
    (0 to latestVersion()).map { v =>
      val c = readCommit(v)
      val prev = if (v == 0) Nil else readCommit(v - 1).liveDirs
      val added = c.liveDirs.filterNot(prev.toSet)
      val removed = prev.filterNot(c.liveDirs.toSet)
      val summary = Map(
        "added-data-dirs" -> added.size.toString,
        "removed-data-dirs" -> removed.size.toString,
        "added-records" -> rowsOf(added).toString,
        "removed-records" -> rowsOf(removed).toString,
        "total-data-dirs" -> c.liveDirs.size.toString)
      (v.toLong, new java.sql.Timestamp(c.timestampMs), c.action,
        c.liveDirs.mkString(","), summary)
    }.toDF("snapshot_id", "committed_at", "operation", "live_dirs", "summary")
  }

  /** Retention-based VACUUM (the Delta `VACUUM … RETAIN` semantics,
    * reference 03_delta_demo.ipynb): snapshots committed at or before
    * `olderThanMillis` age out — their exclusively-referenced data
    * directories are removed and they stop being time-travelable. The
    * LATEST snapshot is always retained regardless of age (the current
    * table state must survive any retention window). Age is judged on
    * the commit timestamps already recorded in the log, so the cut is
    * deterministic and engine-independent. */
  /** Delta `RESTORE TABLE … TO VERSION AS OF` analog: commits a NEW
    * version whose live set, schema and partitioning are exactly the
    * target snapshot's. Data directories are immutable and shared
    * across commits, so restore is a metadata-only commit — no data
    * moves, and history is preserved (restore adds to it, never
    * rewrites it). Column renames committed after the target are
    * reversed inside the restore commit (appended to each older dir's
    * rename chain), so pre-existing directories read under the restored
    * names again. Fails if the target snapshot was vacuumed. */
  def restore(toVersion: Int): Int = {
    val latest = latestVersion()
    require(toVersion >= 0 && toVersion <= latest,
      s"no version $toVersion to restore (latest $latest)")
    val target = readCommit(toVersion)
    target.liveDirs.foreach(d =>
      require(io.exists(io.path(d)),
        s"cannot restore to vacuumed version $toVersion (missing $d)"))
    val undo = ((toVersion + 1) to latest)
      .flatMap(v => readCommit(v).renames)
      .reverse.map { case (o, n) => (n, o) }
    val v = latest + 1
    try {
      writeCommit(Commit(v, s"restore#$toVersion", target.schemaJson,
        target.liveDirs, target.partitionBy,
        timestampMs = nextTimestamp(v), renames = undo))
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit beat restore at version $v")
    }
    v
  }

  def vacuumOlderThan(olderThanMillis: Long): Seq[String] = {
    val latest = latestVersion()
    val retainFrom = (0 to latest)
      .find(v => readCommit(v).timestampMs > olderThanMillis)
      .getOrElse(latest)
    vacuum(retainFrom)
  }

  /** VACUUM: physically remove data directories referenced by no commit
    * ≥ `retainFromVersion` (history before that version stops being
    * time-travelable, like VACUUM breaking old snapshots). */
  def vacuum(retainFromVersion: Int): Seq[String] = {
    val keep = (retainFromVersion to latestVersion())
      .flatMap(v => readCommit(v).liveDirs).toSet
    val all = io.list(io.root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("d"))
      .map(_.getPath)
    val doomed = all.filterNot(p => keep.contains(p.getName))
    doomed.foreach(io.delete)
    doomed.map(_.getName)
  }

  /** [[vacuum]] returning a `java.util.List` for py4j callers —
    * converting the Scala Seq gateway-side would rely on py4j picking
    * the right of `CollectionConverters.asJava`'s ~10 overloads, which
    * is not guaranteed to select the list()-able one. */
  def vacuumAsJava(retainFromVersion: Int): java.util.List[String] = {
    val l = new java.util.ArrayList[String]()
    vacuum(retainFromVersion).foreach(l.add)
    l
  }
}

object GraftTable {
  private val LogDirName = "_graft_log"

  /** Partition-spec transform syntax — the Iceberg transform family
    * (reference: 02_iceberg_demo.ipynb PARTITIONED BY (days(ts));
    * hours/months/years/bucket/truncate complete the published
    * Iceberg partition-spec surface). */
  private[sources] val DaysSpec = """days\((\w+)\)""".r
  private[sources] val HoursSpec = """hours\((\w+)\)""".r
  private[sources] val MonthsSpec = """months\((\w+)\)""".r
  private[sources] val YearsSpec = """years\((\w+)\)""".r
  private[sources] val BucketSpec = """bucket\((\d+),\s*(\w+)\)""".r
  private[sources] val MBucketSpec = """mbucket\((\d+),\s*(\w+)\)""".r
  private[sources] val TruncSpec = """truncate\((\d+),\s*(\w+)\)""".r

  /** Directory stats for the catalog scan path (and specs). Resolves
    * the FileSystem from the active session's Hadoop conf, so the root
    * may be any supported URI. */
  private[graft] def loadStats(root: String, dir: String)
      : Option[Map[String, DirStats.ColStat]] = {
    val p = new HPath(new HPath(root), dir)
    DirStats.load(
      p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration), p)
  }

  /** Does a GraftTable exist at `path`? (streaming sinks probe before
    * their first-batch CREATE). */
  def exists(spark: SparkSession, path: String): Boolean = {
    val io = new TableIO(path, spark.sparkContext.hadoopConfiguration)
    io.exists(io.path(LogDirName))
  }

  /** Create a new table at `path` with `df` as version 0, optionally
    * hive-partitioned (partition pruning then applies to reads). */
  def create(spark: SparkSession, path: String, df: DataFrame,
             partitionBy: Seq[String] = Nil): GraftTable = {
    val io = new TableIO(path, spark.sparkContext.hadoopConfiguration)
    require(!io.exists(io.path(LogDirName)), s"GraftTable already exists at $path")
    io.mkdirs(io.path(LogDirName))
    val t = new GraftTable(spark, path)
    t.commit("create", Some(df), _ => Nil, partitionBy)
    t
  }

  def load(spark: SparkSession, path: String): GraftTable = {
    require(exists(spark, path), s"no GraftTable at $path")
    new GraftTable(spark, path)
  }

  /** Minimal commit record with hand-rolled JSON (schema json is emitted
    * by Spark and parsed back by DataType.fromJson — we only add a flat
    * envelope around it).
    *
    * `timestampMs` is the commit wall-clock (monotonic per table — equal
    * clock reads are bumped) enabling timestamp time travel, mirroring
    * the commit timestamps of DESCRIBE HISTORY / `.snapshots`.
    * `renames` records column renames applied AT this commit
    * (`old>new`): data directories written before the rename keep the
    * old physical name and are mapped at read time. */
  final case class Commit(version: Int, action: String, schemaJson: String,
                          liveDirs: Seq[String],
                          partitionBy: Seq[String] = Nil,
                          timestampMs: Long = 0L,
                          renames: Seq[(String, String)] = Nil) {
    def schemaStruct: StructType =
      if (schemaJson.isEmpty) new StructType()
      else DataType.fromJson(schemaJson).asInstanceOf[StructType]

    def toJson: String = {
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val ren = renames.map { case (o, n) => q(s"$o>$n") }.mkString(",")
      s"""{"version":$version,"ts":$timestampMs,"action":${q(action)},"schema":${q(schemaJson)},"liveDirs":[${liveDirs.map(q).mkString(",")}],"partitionBy":[${partitionBy.map(q).mkString(",")}],"renames":[$ren]}"""
    }
  }

  object Commit {
    def fromJson(s: String): Commit = {
      // envelope fields are flat; values contain no raw control chars
      def strField(name: String): String = {
        val m = ("\"" + name + "\":\"((?:[^\"\\\\]|\\\\.)*)\"").r
        m.findFirstMatchIn(s).map(_.group(1)
          .replace("\\\"", "\"").replace("\\\\", "\\")).getOrElse("")
      }
      val version = "\"version\":(\\d+)".r.findFirstMatchIn(s).get.group(1).toInt
      val ts = "\"ts\":(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(0L)
      def strList(name: String): Seq[String] = {
        val m = ("\"" + name + "\":\\[([^\\]]*)\\]").r
        m.findFirstMatchIn(s).map(_.group(1)) match {
          case Some(body) if body.trim.nonEmpty =>
            // split on the `","` element boundary, NOT on every comma —
            // partition specs like bucket(4, uid) contain commas inside
            // one quoted element
            body.trim.stripPrefix("\"").stripSuffix("\"")
              .split(java.util.regex.Pattern.quote("\",\""), -1).toSeq
          case _ => Nil
        }
      }
      val renames = strList("renames").map { r =>
        val i = r.indexOf('>')
        (r.substring(0, i), r.substring(i + 1))
      }
      Commit(version, strField("action"), strField("schema"),
        strList("liveDirs"), strList("partitionBy"), ts, renames)
    }
  }
}
