package graft
import org.apache.spark.sql.SparkSession
import graft.metrics.Codegen
object Bench {

  /** Bench's session: [[Sessions.local]] with these overrides.
    *  - AQE off at bench scale: runtime re-planning costs ~0.5 s/query
    *    in stage materialization, which dominates sub-second queries at
    *    sf0.1. On a real cluster (the 100 TB target) AQE is on.
    *  - State-store instances (not data volume) dominate streaming wall
    *    time at bench SFs — cap them; production uses the session
    *    shuffle-partition count (see Streams.drain).
    *  - HDFS-backed state store at bench SFs: with KB-scale state the
    *    per-batch store cost is pure instance overhead, and RocksDB's
    *    open + WAL/SST fsyncs per partition lose to the snapshot
    *    provider (measured r17: h-family 32-35 s RocksDB vs 23-24 s
    *    HDFS, reproduced A/B/A). Production keeps RocksDB (incremental
    *    checkpoints win once state outgrows the snapshot write) — see
    *    Streams.drain, which defaults RocksDB unless this is set. */
  val sessionOverrides: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.graft.streaming.statePartitions" -> "8",
    "spark.graft.streaming.stateProvider" -> "hdfs")

  /** A Bench-shaped session on `SPARK_GRAFT_CPUS` cores (default 4) —
    * also the session of `graft.tools.ExplainDump`, so its plans are
    * Bench's. */
  def session(appName: String): SparkSession =
    Sessions.local(appName, Sessions.envCpus, sessionOverrides)

  private[graft] final case class QResult(name: String, sec: Double,
    err: Option[String], codegen: Codegen.Compiles,
    contended: Boolean = false)

  /** Timing loop, factored out so failure handling is unit-testable: a
    * query that throws is recorded as FAILED (exception class + first
    * message line), never as a timing — a crashed query that "finishes"
    * in 0.001 s would otherwise read as a speedup and hide the crash
    * (exactly how the r4 relCache bug stayed invisible). */
  private[graft] def measure(qs: Seq[(String, () => Unit)]): Seq[QResult] =
    measureWithCanary(qs, () => 0.0, Int.MaxValue)._1

  private def runOne(name: String, run: () => Unit): QResult = {
    val c0 = Codegen.compiles()
    val t0 = System.nanoTime()
    val err = try { run(); None } catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(120)
        Some(s"${e.getClass.getSimpleName}: $msg")
    }
    QResult(name, (System.nanoTime() - t0) / 1e9, err, Codegen.compiles() - c0)
  }

  /** [[measure]] with a CANARY bracketing every `every`-query WINDOW
    * (opening + closing sample per window): the canary is a pinned,
    * SF-independent probe whose quiet-band timing is known, so a
    * co-tenant landing MID-RUN inflates a sample — the r14 gate
    * sampled host load only BEFORE the session started and stamped a
    * mid-run-contaminated bench "quiet". The canary runs BETWEEN
    * queries, when this bench's own Spark jobs are drained, so the
    * bench cannot trip itself.
    *
    * SELF-HEALING (r16): a window whose opening OR closing sample
    * trips `isContended` holds junk timings — instead of stamping the
    * whole artifact contended, wait for the canary to recover
    * (`awaitQuiet`, bounded) and RE-MEASURE just that window once. A
    * window that stays dirty (recovery timed out, re-run closed
    * contended, or the re-measure budget ran out) carries per-query
    * `contended` flags, so the artifact keeps clean timings for clean
    * windows and names exactly the queries whose numbers are junk. */
  private[graft] def measureWithCanary(qs: Seq[(String, () => Unit)],
      canary: () => Double, every: Int,
      isContended: Double => Boolean = _ => false,
      awaitQuiet: () => Boolean = () => true,
      maxRemeasuredWindows: Int = 3): (Seq[QResult], Seq[Double]) = {
    if (every == Int.MaxValue) return (qs.map((runOne _).tupled), Nil)
    val samples = Seq.newBuilder[Double]
    val out = Seq.newBuilder[QResult]
    var remeasuresLeft = maxRemeasuredWindows
    qs.grouped(every).foreach { w =>
      val open = canary(); samples += open
      var rs = w.map((runOne _).tupled)
      val close = canary(); samples += close
      if (isContended(open) || isContended(close)) {
        if (remeasuresLeft > 0 && awaitQuiet()) {
          remeasuresLeft -= 1
          rs = w.map((runOne _).tupled)
          val close2 = canary(); samples += close2
          if (isContended(close2))
            rs = rs.map(_.copy(contended = true))
        } else rs = rs.map(_.copy(contended = true))
      }
      out ++= rs
    }
    (out.result(), samples.result())
  }

  /** One canary pass: a fixed 8M-row hash aggregation over all local
    * cores — SF-independent, ~50 ms quiet on 32 threads, and
    * CPU-parallel enough that a co-tenant stealing cores inflates it
    * roughly proportionally. Returns seconds. */
  private[graft] def runCanary(spark: SparkSession, cpus: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 8000000L, 1L, cpus)
      .selectExpr("bit_xor(xxhash64(id)) AS h").collect(): Unit
    (System.nanoTime() - t0) / 1e9
  }

  /** Did any mid-run canary sample leave the pinned quiet band? The
    * band is generous (4× the calibrated base plus a 0.25 s absolute
    * floor) so GC jitter and page-cache misses never trip it — a
    * co-tenant saturating the cores does. */
  private[graft] def canaryContended(base: Double,
      samples: Seq[Double]): Boolean =
    samples.exists(_ > base * 4 + 0.25)

  /** HOST CPU busy fraction (user+sys+iowait+…, everything but idle)
    * over a short window in which THIS bench is idle — /proc/stat is
    * host-wide even inside a container, which is the point: a
    * co-tenant outside this cgroup is invisible to ps but not to the
    * kernel's aggregate counters, and iowait counts as busy so
    * disk-hogging neighbors (which inflate shuffle-heavy streaming
    * queries while leaving a CPU canary untouched) register too.
    * Sampled between queries, when the bench's own jobs are drained —
    * anything substantial in the window is somebody else. NaN when
    * /proc/stat is unreadable (non-Linux). */
  private[graft] def hostBusyFraction(windowMs: Long): Double = {
    def cpuLine(): Option[Array[Long]] =
      try {
        val l = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/stat")).get(0)
        if (!l.startsWith("cpu ")) None
        else Some(l.trim.split("\\s+").drop(1).map(_.toLong))
      } catch { case _: Throwable => None }
    (for {
      a <- cpuLine()
      _ = Thread.sleep(windowMs)
      b <- cpuLine()
    } yield {
      // first 8 fields only (user..steal): guest/guest_nice are already
      // folded into user/nice — summing them double-counts VM co-tenant
      // time and overstates busy
      val total = (b.take(8).sum - a.take(8).sum).toDouble
      val idle = (b(3) - a(3)).toDouble // pure idle; iowait stays busy
      if (total <= 0) Double.NaN else 1.0 - idle / total
    }).getOrElse(Double.NaN)
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // Quiet-band admission: a bench captured on a contended host is
    // junk data (observed: a load-4 start inflated even a bare scan
    // 20× and a whole round artifact read as a 5× regression). Wait —
    // untimed, before the session exists — for the 1-minute load to
    // drop under the threshold, up to SPARK_GRAFT_BENCH_LOAD_WAIT
    // seconds (default 300; 0 disables). If it never quiets, run
    // anyway and stamp load_label:"contended" so the artifact is
    // self-labeling rather than silently wrong. The band scales with
    // the core count but never drops below one busy core's worth: on
    // a few-core host 1.5 × nproc/32 is under the load of any other
    // single process.
    val quietLimit = math.max(1.0,
      1.5 * (Runtime.getRuntime.availableProcessors() / 32.0))
    val maxWaitSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_WAIT", "300").toInt
    val waitDeadline = System.nanoTime() + maxWaitSec * 1000000000L
    while (loadAvg > quietLimit && System.nanoTime() < waitDeadline) {
      System.err.println(f"bench: host load ${loadAvg}%.2f > $quietLimit%.2f, waiting for quiet band")
      Thread.sleep(15000)
    }
    val loadStart = loadAvg
    val spark = session("graft-bench")
    // temp-dir hygiene: reap graft_ dirs leaked by crashed earlier runs,
    // and (below, untimed, after all queries drain) this run's own roots
    TempRoots.sweepStale()
    // untimed warmup: session/codegen/parquet-footer init should not be
    // billed to whichever query happens to run first
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    spark.read.parquet(s"$sfDir/orders.parquet").count()
    // -quick mode for local iteration: skip whole families (usually
    // "g" — the lakehouse lifecycle gates, whose wall time is
    // sequential commit I/O already correctness-gated per round by
    // CORRECTNESS_r{N}, not engine performance). The default (driver)
    // run keeps everything so rounds stay comparable.
    val skipGroups = sys.env.getOrElse("SPARK_GRAFT_BENCH_SKIP_GROUPS", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // canary calibration: three quiet passes (post-warmup, pre-suite),
    // min = the pinned base; samples interleave every 10 queries and
    // once at the end, catching a co-tenant that lands MID-RUN (the
    // start-load gate above only sees contention that predates it)
    val nCpus = Sessions.envCpus
    val canaryBase = (1 to 3).map(_ => runCanary(spark, nCpus)).min
    // each sampling point also measures HOST busy over an idle window
    // (co-tenant detection the CPU canary can't give: IO hogs, and
    // constant contention that inflates the canary base itself)
    val idleBusy = scala.collection.mutable.Buffer[Double]()
    val canaryFn = () => {
      idleBusy += hostBusyFraction(150)
      runCanary(spark, nCpus)
    }
    // band shared by live flagging and the quiet-recovery poll
    def inBand(s: Double): Boolean = !canaryContended(canaryBase, Seq(s))
    // wait (bounded, bare canary — no host-busy sampling per poll) for
    // the co-tenant to leave before re-measuring a dirty window
    val recoverSec = sys.env.getOrElse("SPARK_GRAFT_CANARY_RECOVER_SEC",
      "60").toInt
    val awaitQuiet = () => {
      val deadline = System.nanoTime() + recoverSec * 1000000000L
      var quiet = inBand(runCanary(spark, nCpus))
      while (!quiet && System.nanoTime() < deadline) {
        Thread.sleep(2000)
        quiet = inBand(runCanary(spark, nCpus))
      }
      quiet
    }
    val codegen0 = Codegen.compiles()
    val (results, canarySamples) = measureWithCanary(
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot { case (name, _) =>
          skipGroups(name.takeWhile(!_.isDigit)) }
        .map {
          case (name, fn) => name -> (() => { fn(spark, sfDir).count(): Unit })
        },
      canaryFn, every = 10,
      isContended = s => !inBand(s), awaitQuiet = awaitQuiet)
    // Janino compiles of generated classes: per query (the last run of
    // a re-measured window), over the timed phase (canary included),
    // and since JVM start — the distinct-class working set as long as
    // that stays under the cache cap (a cache that never evicted
    // compiles each class once)
    val codegenRun = Codegen.compiles() - codegen0
    val codegenJvm = Codegen.compiles()
    val codegenCap = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    TempRoots.cleanup() // every result is materialized (count() above)
    val ok = results.collect { case QResult(n, s, None, _, _) => n -> s }
    val failed = results.collect { case QResult(n, _, Some(e), _, _) => n -> e }
    // total counts ONLY successful queries — a failure must never read
    // as a fast run
    val total = ok.map(_._2).sum
    def r3(v: Double): String = f"$v%.3f"
    def jmap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    def jcount(kvs: Seq[(String, Long)]): String =
      kvs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val codegenJson =
      s""""codegen_compiles_total":${codegenRun.count},"codegen_compile_ms_total":${r3(codegenRun.ms)},"codegen_classes":${codegenJvm.count},"codegen_cache_max_entries":$codegenCap"""
    def jerr(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => s"\"" + k + "\":" + jstr(v) }.mkString("{", ",", "}")
    // Ambient-load label: benches on this host have shown 4× per-query
    // swings when the 1-minute load average at start exceeds ~1.5 (32
    // cores); a "contended" run must not be read as a regression. The
    // end value includes this bench's own threads, so the start value is
    // the cleaner ambient signal.
    // ... and the mid-run canary: since r16 a dirty window RE-MEASURES
    // once the canary recovers, so only queries whose window stayed
    // dirty (recovery timeout / budget exhausted) carry the flag — the
    // global label trips only when flagged timings actually remain
    val contendedQueries = results.collect {
      case QResult(n, _, None, _, true) => n }
    val midRunContended = contendedQueries.nonEmpty
    // the canary detects contention ARRIVING mid-run; contention
    // present throughout inflates the calibrated base itself and slips
    // past both gates (host loadavg is machine-wide — a co-tenant in
    // another container is invisible to the start sample once it
    // predates the window). SPARK_GRAFT_CANARY_QUIET_SEC pins the
    // known quiet-host base (committed in BASELINE.md) so a run whose
    // calibration is already 2x off self-labels too.
    val baseContended = sys.env.get("SPARK_GRAFT_CANARY_QUIET_SEC")
      .map(_.toDouble).exists(q => canaryBase > q * 2 + 0.1)
    // a host more than half-busy while THIS bench idles is a co-tenant
    // (NaN samples — non-Linux — never trip; NaN > x is false)
    val hostBusyContended = idleBusy.exists(_ > 0.5)
    val loadLabel =
      if (loadStart > quietLimit || midRunContended || baseContended ||
          hostBusyContended)
        "contended"
      else "quiet"
    // Full per-query detail goes to a FILE: the harness that collects this
    // bench keeps only the last ~2000 chars of stdout, and a JSON line
    // carrying 80+ full-precision per-query timings overflows that window
    // (observed truncated/unparseable in earlier collected runs). The
    // printed line stays compact; the file has everything.
    // timestamped by default so verification/iteration runs never
    // clobber a committed artifact — copy the chosen run to
    // BENCH_DETAIL.json explicitly when committing a round's numbers
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      s"/tmp/graft-bench-detail-${System.currentTimeMillis()}.json")
    val contendedJson =
      contendedQueries.map(jstr).mkString("[", ",", "]")
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(ok)},"n_failed":${failed.size},"errors":${jerr(failed)},"sf":"$sfDir","load_avg_start":$loadStart,"load_avg_end":$loadAvg,"load_label":"$loadLabel","contended_queries":$contendedJson,"canary_base":${r3(canaryBase)},"canary_max":${r3(canarySamples.max)},"canary_samples":[${canarySamples.map(r3).mkString(",")}],"host_busy_max":${r3(if (idleBusy.exists(!_.isNaN)) idleBusy.filter(!_.isNaN).max else -1.0)},"codegen_compiles":${jcount(results.map(r => r.name -> r.codegen.count))},"codegen_compile_ms":${jmap(results.map(r => r.name -> r.codegen.ms))},$codegenJson}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (detail + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    // Compact stdout line: the BASELINE.md shared subset + the heaviest
    // queries individually, everything else as per-family subtotals.
    val headline = Set(
      "c1_null_profile", "c2_dedup_key", "c3_clean_fillna", "c5_medallion_gold",
      "q1_pricing_summary", "q5_local_supplier", "q7_window_running",
      "e1_tumbling_window", "e2_sessionize", "d1_dedup_exact",
      "d2_ngram_jaccard", "d3_minhash_lsh", "d5_embed_neardup",
      "s1_ann_brute", "t1_token_count", "p3_contamination",
      "d4_simhash", "d6_dedup_canonical", "d7_dedup_clusters",
      "s3_ann_ivf", "s4_ann_hnsw", "s5_ann_ivfpq",
      "h1_stream_window", "h5_stream_join", "h6_stream_cdc_merge",
      "p2_curation_pipeline", "p6_dedup_apply", "g1_merge_upsert",
      "g7_sql_catalog", "q3_shipping_priority", "e6_asof_custom")
    val groups = ok.groupBy { case (k, _) => k.takeWhile(!_.isDigit) }
      .toSeq.sortBy(_._1).map { case (g, rs) => g -> rs.map(_._2).sum }
    // analytic_total = everything but the g-lifecycle gates: the
    // engine-performance number to compare round-over-round and against
    // BASELINE.md (the gates' wall time is sequential commit I/O)
    val analyticTotal = ok.collect {
      case (k, s) if k.takeWhile(!_.isDigit) != "g" => s }.sum
    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","analytic_total":${r3(analyticTotal)},"queries":${jmap(ok.filter(r => headline(r._1)))},"groups":${jmap(groups)},"n_queries":${results.size},"n_failed":${failed.size},"errors":${jerr(failed)},"sf":"$sfDir","load_avg_start":$loadStart,"load_avg_end":$loadAvg,"load_label":"$loadLabel","contended_queries":$contendedJson,"canary_base":${r3(canaryBase)},"canary_max":${r3(canarySamples.max)},"host_busy_max":${r3(if (idleBusy.exists(!_.isNaN)) idleBusy.filter(!_.isNaN).max else -1.0)},$codegenJson,"detail":"$detailPath"}"""
    // 1-minute load averages around the run: flags benches taken on a
    // contended shared host (observed >4× per-query swings under load —
    // the end value includes this bench's own threads, so the start
    // value is the cleaner ambient signal)
    println(line)
    spark.stop()
  }
}
