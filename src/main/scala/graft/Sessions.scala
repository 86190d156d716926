package graft

import org.apache.spark.sql.SparkSession

/** Session factory tuned for the graft engine.
  *
  * Local mode is a stand-in for a real cluster: shuffle-partition count and
  * AQE settings are chosen so the same plans scale to many executors
  * (runtime coalescing + skew splitting instead of hand-tuned counts).
  */
object Sessions {
  /** Fork-free local filesystem (see [[graft.sources.NioLocalFS]]):
    * without libhadoop, stock Hadoop forks a `stat`/`chmod` process
    * per getFileStatus/create/mkdirs — measured at ~2,300 forks for
    * one lifecycle query. java.nio replacements, identical semantics.
    * Harmless (and inert for perf) on clusters that ship libhadoop. */
  val localFsConfs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> "graft.sources.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.sources.NioLocalFs")
  // NOTE on timestamps: the SESSION keeps Spark's INT96 parquet default
  // — Verify dumps query results with it and the external oracle's
  // reader treats INT96 as tz-naive (a TIMESTAMP_MICROS dump reads
  // back tz-aware and breaks the comparator). Graft-INTERNAL table
  // writes (GraftTable data dirs, Delta/Iceberg interop files) go
  // through StatsWriteBridge, which forces INT64 micros per write —
  // spec-conformant interop files with usable footer statistics —
  // without touching the session default.

  /** Engine settings every graft session takes. All are static: read
    * once per JVM (the generated-class cache, when the first class is
    * generated) or when a session is created, so they must be set at
    * launch — here, `--conf` or `spark-defaults.conf` — and every JVM,
    * executors included, keeps its own cache.
    *
    *  - Generated-class cache: graft's lakehouse ops and curation
    *    stages are short calls that each plan many small queries; a
    *    perfbench lakehouse run generates ~210 distinct classes and a
    *    curation run ~250, against Spark's default cap of 100 — so with
    *    that cap one lakehouse round compiled ~220 classes and one
    *    curation pass ~260, nearly all of them rebuilt after eviction
    *    (and JIT-compiled by HotSpot again).
    *    The cap is sized from the largest working set measured:
    *    `graft.Bench`'s 156 queries at sf0.1 compile 1241 distinct classes
    *    (its `codegen_classes`), and 2560 is 2x that. Each entry pins
    *    its source and bytecode (~30 KB of heap, so ~75 MB when full)
    *    plus the loaded class in metaspace, so the cap stays bounded.
    *  - `useIdInClassName=false`: identical stages planned under
    *    different stage ids share one cache entry instead of one each.
    *  - Artifact isolation off: with it on, every session — including
    *    the clone Spark makes for each `cache()` — runs its tasks under
    *    its own executor class loader, and the class loader is part of
    *    the cache key, so a cached relation's classes compile again for
    *    every clone. graft adds no per-session artifacts (JARs, files).
    *  - Status-store retention: `spark.ui.enabled=false` hides the UI,
    *    but the status store still keeps 1000 SQL plan graphs, jobs and
    *    stages that nothing reads. Keeping fewer pays for the classes
    *    the larger cache retains: perfbench's retained heap did not
    *    rise on either workload. */
  val engineConfs: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> "2560",
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.ui.retainedExecutions" -> "50",
    "spark.ui.retainedJobs" -> "100",
    "spark.ui.retainedStages" -> "100")

  /** `SPARK_GRAFT_CPUS`, else 4: the local core count of the
    * driver-contract mains and `graft.tools.ExplainDump`. */
  def envCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** A local graft session on `cpus` cores. `overrides` replace (or
    * add to) the settings below — e.g. [[Bench]]'s AQE-off and
    * streaming-state confs — and are applied last. */
  def local(appName: String = "graft",
            cpus: Int = Runtime.getRuntime.availableProcessors(),
            overrides: Seq[(String, String)] = Nil): SparkSession = {
    val confs = localFsConfs ++ engineConfs ++ Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      // ObjectHashAggregate (the operator behind every
      // TypedImperativeAggregate: TopKAgg, MinHashAgg, ThetaSketchAgg)
      // falls back to SORT-based aggregation past this many in-memory
      // groups. The stock 128 is calibrated for unbounded per-group
      // state (collect_list); graft's typed aggregates carry bounded
      // buffers (k-heaps, 128-long signatures, <=32 KiB sketches), so
      // the fallback only adds a full sort of the candidate stream —
      // measured 3x on the sf1 kNN self-join (20k groups). 128k groups
      // x <=32 KiB is still executor-safe.
      //
      // CAVEAT — the threshold is session-wide, so collect_list
      // aggregations share it. The big ones are bounded by
      // construction (d5/s6 cell blocks cap at
      // spark.graft.ann.maxBlockRows rows per group); the per-document
      // shingle arrays (Dedup.shingleArrays / GraftOps.shingleArrs)
      // are bounded by document length — at 128k groups x a 500-token
      // doc's ~12 KiB array that is ~1.6 GiB per task, fine here, but
      // a corpus of multi-MB documents should lower this via
      // SPARK_GRAFT_AGG_FALLBACK (or trim documents first, which every
      // published pipeline does before shingling).
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
        sys.env.getOrElse("SPARK_GRAFT_AGG_FALLBACK", "131072"),
      "spark.ui.enabled" -> "false") ++ overrides
    val spark = confs.foldLeft(
        SparkSession.builder().master(s"local[$cpus]").appName(appName)) {
        case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sources.ConfSources.disableTracking(spark.sparkContext.hadoopConfiguration)
    spark
  }
}
