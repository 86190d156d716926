package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.api.GraftOps
import graft.sources.{DeltaInterop, GraftTable, IcebergInterop}

/** A workload: untimed set-up (tables, warm-up), then `units` fixed rounds
  * or passes of timed public calls, then the outputs the checks read. */
trait Workload {
  def setup(): Unit
  def run(): Unit
  /** Outputs for the independent checks (untimed, after the timed phase). */
  def finish(out: Path): Map[String, Any]
}

object Workload {
  def writeRows(spark: SparkSession, rows: Seq[Row], schema: org.apache.spark.sql.types.StructType,
                dir: Path): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(dir.toString)
}

/** Read-only mix of registered queries over one star schema, repeated in one
  * warm session in a seed-shuffled order; each result is fully collected. */
class Analytics(spark: SparkSession, rec: Recorder, input: String, seed: Long, units: Int)
    extends Workload {
  val mix: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority", "q5_local_supplier",
    "q6_forecast_revenue", "c1_null_profile", "c2_dedup_key", "c4_error_rate",
    "c5_medallion_gold", "c6_outlier_zscore", "c7_histogram", "e1_tumbling_window",
    "e4_funnel", "e5_topk_users", "sql1_pricing", "sql2_star_join")
  private val queries = graft.SparkEntry.queries
  private val last = mutable.Map.empty[String, (Seq[Row], org.apache.spark.sql.types.StructType)]

  private def runOne(name: String): Unit = rec.op("query", name) {
    val df = queries(name)(spark, input)
    last(name) = (df.collect().toSeq, df.schema)
  }

  def setup(): Unit = mix.foreach(runOne)

  def run(): Unit = {
    val rnd = new scala.util.Random(seed)
    for (p <- 1 to units) rec.within(s"pass$p") {
      rnd.shuffle(mix).foreach(runOne)
    }
  }

  def finish(out: Path): Map[String, Any] = {
    last.foreach { case (n, (rows, schema)) =>
      Workload.writeRows(spark, rows, schema, out.resolve("results").resolve(n))
    }
    Map("mix" -> mix, "passes" -> units)
  }
}

/** One partitioned table per format (graft, Delta, Iceberg v2), mutated by
  * the same seeded op stream; snapshot reads, log-tailing drains and
  * maintenance after every round. */
class Lakehouse(spark: SparkSession, rec: Recorder, input: String, work: Path, units: Int)
    extends Workload {
  import spark.implicits._
  private val root = work.resolve("tables")
  private val formats = Seq("graft", "delta", "iceberg")
  private case class RoundOps(round: Int, delMod: Int, delK: Int, updMod: Int, updK: Int)
  private val ops: Seq[RoundOps] =
    Files.readAllLines(Paths.get(input, "ops.tsv")).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val f = l.split("\t").map(_.toInt)
      RoundOps(f(0), f(1), f(2), f(3), f(4))
    }
  private def src(name: String) = spark.read.parquet(s"$input/$name.parquet")

  /** Paths and current versions / snapshot ids of the three tables. */
  private class Tables(dir: Path) {
    val graftPath = dir.resolve("graft").toString
    val deltaPath = dir.resolve("delta").toString
    val icebergPath = dir.resolve("iceberg").toString
    var graft: GraftTable = _
    // version / snapshot id current at the start of the round, per format
    val before = mutable.Map.empty[String, Long]
    val latest = mutable.Map.empty[String, Long]

    def create(): Unit = {
      graft = GraftTable.create(spark, graftPath, src("base"), partitionBy = Seq("status"))
      DeltaInterop.exportSnapshot(graft, deltaPath)
      IcebergInterop.exportSnapshot(graft, icebergPath)
      promoteIcebergToV2(icebergPath)
      latest("graft") = graft.latestVersion().toLong
      latest("delta") = 0L
      latest("iceberg") = IcebergInterop.icebergHistory(spark, icebergPath)
        .filter($"is_current").select($"snapshot_id").as[Long].head()
    }
  }

  /** IcebergInterop writes format-v1 metadata and its row-level writers
    * refuse v1; the table is promoted the way graft's own lakehouse
    * queries do, by editing the first metadata file. */
  private def promoteIcebergToV2(path: String): Unit = {
    val md = Paths.get(path, "metadata", "v1.metadata.json")
    Files.write(md, new String(Files.readAllBytes(md), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 2").getBytes("UTF-8"))
    Files.deleteIfExists(Paths.get(path, "metadata", ".v1.metadata.json.crc"))
  }

  /** Materialised digest of one snapshot: every column is read. */
  private def digest(df: DataFrame): Seq[Long] = {
    val r = df.agg(
      count(lit(1)), countDistinct($"id"), sum($"id"),
      sum(pmod($"id" * lit(2654435761L), lit(1000000007L))),
      sum($"qty".cast("long")), sum($"cents"), sum($"ver".cast("long")),
      sum(when($"status" === "F", 1L).when($"status" === "O", 1000L).otherwise(1000000L)),
      sum(length($"note").cast("long"))).head()
    (0 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  private def read(t: Tables, f: String, version: Option[Long]): DataFrame = f match {
    case "graft" => version.fold(t.graft.read())(v => t.graft.readVersion(v.toInt))
    case "delta" => DeltaInterop.readDelta(spark, t.deltaPath, versionAsOf = version)
    case _ => IcebergInterop.readIceberg(spark, t.icebergPath, asOfSnapshotId = version)
  }

  /** A log-tailing stream drained with Trigger.AvailableNow; its checkpoint
    * carries the offset from one drain to the next. */
  private class Tail(format: String, path: String, ck: String) {
    val ids = ArrayBuffer.empty[Long]
    def drain(): Long = {
      val before = ids.size
      val q = spark.readStream.format(format).option("skipChangeCommits", "true").load(path)
        .writeStream.trigger(Trigger.AvailableNow()).option("checkpointLocation", ck)
        .foreachBatch { (df: DataFrame, _: Long) =>
          ids ++= df.select($"id").as[Long].collect()
          ()
        }.start()
      try q.awaitTermination() finally q.stop()
      (ids.size - before).toLong
    }
  }

  private val real = new Tables(root.resolve("real"))
  private var tails: Map[String, Tail] = Map.empty
  // outputs for the checks
  private val digests = ArrayBuffer.empty[Map[String, Any]]
  private val drains = ArrayBuffer.empty[Map[String, Any]]
  private val opLog = ArrayBuffer.empty[Map[String, Any]]
  private var filesBefore: Map[String, Long] = Map.empty
  private val icebergFiles = ArrayBuffer.empty[Int]

  private def round(t: Tables, r: RoundOps): Unit = {
    val merge = src(s"merge_${r.round}")
    val app = src(s"append_${r.round}")
    formats.foreach(f => t.before(f) = t.latest(f))
    def step(f: String, op: String)(body: => Long): Unit = {
      val res = rec.op(if (op == "maint") "maint" else "commit", s"$f.$op")(body)
      res.foreach(v => t.latest(f) = v)
      opLog += Map("round" -> r.round, "format" -> f, "op" -> op, "ok" -> res.isDefined)
    }
    for (f <- formats) {
      val delCond = pmod($"id", lit(r.delMod.toLong)) === r.delK
      val updCond = pmod($"id", lit(r.updMod.toLong)) === r.updK
      val assign = Map("qty" -> ($"qty" + 1), "cents" -> ($"cents" + 100L))
      f match {
        case "graft" =>
          step(f, "merge")(t.graft.merge(merge, Seq("id")).toLong)
          step(f, "delete")(t.graft.delete(delCond).toLong)
          step(f, "update")(t.graft.update(updCond, assign).toLong)
          step(f, "append")(t.graft.append(app).toLong)
        case "delta" =>
          step(f, "merge")(DeltaInterop.mergeDelta(merge, t.deltaPath, Seq("id")))
          step(f, "delete")(DeltaInterop.deleteFromDelta(spark, t.deltaPath, delCond))
          step(f, "update")(DeltaInterop.updateDelta(spark, t.deltaPath, updCond, assign))
          step(f, "append")(DeltaInterop.appendToDelta(app, t.deltaPath))
        case _ =>
          step(f, "merge")(IcebergInterop.mergeIceberg(merge, t.icebergPath, Seq("id")))
          step(f, "delete")(IcebergInterop.deleteFromIceberg(spark, t.icebergPath, delCond))
          step(f, "update")(IcebergInterop.updateIceberg(spark, t.icebergPath, updCond, assign))
          step(f, "append")(IcebergInterop.appendToIceberg(app, t.icebergPath))
      }
    }
    for (f <- formats; (label, v) <- Seq("current" -> None, "before" -> Some(t.before(f)))) {
      val d = rec.op("read", s"$f.read")(digest(read(t, f, v)))
      digests += Map("round" -> r.round, "format" -> f, "snapshot" -> label,
        "digest" -> d.orNull)
      if (f == "iceberg" && label == "current")
        scala.util.Try(read(t, f, None).inputFiles.length).foreach(icebergFiles += _)
    }
    for ((f, tail) <- tails) {
      val n = rec.op("tail", s"$f.tail")(tail.drain())
      drains += Map("round" -> r.round, "format" -> f, "rows" -> n.getOrElse(-1L),
        "ids" -> tail.ids.takeRight(n.getOrElse(0L).toInt).sorted)
    }
    step("graft", "maint")(t.graft.compact().toLong)
    step("delta", "maint")(DeltaInterop.optimizeDelta(spark, t.deltaPath))
    step("delta", "maint")(DeltaInterop.checkpointDelta(spark, t.deltaPath))
    step("iceberg", "maint")(IcebergInterop.compactIceberg(spark, t.icebergPath))
  }

  /** Round 1 is the warm-up: it runs untimed on the same tables, so the
    * timed rounds 2.. start from a table with history, like a live one. */
  def setup(): Unit = {
    real.create()
    tails = Map(
      "delta" -> new Tail("graft.sources.v2.DeltaSource", real.deltaPath,
        root.resolve("ck/delta").toString),
      "iceberg" -> new Tail("graft.sources.v2.IcebergSource", real.icebergPath,
        root.resolve("ck/iceberg").toString))
    tails.values.foreach(_.drain())    // batch 0: the initial snapshot
    tails.values.foreach(_.ids.clear())
    round(real, ops.head)
    filesBefore = Lakehouse.walk(root.resolve("real"))
  }

  def run(): Unit = ops.slice(1, units + 1).foreach(r =>
    rec.within(s"round${r.round}")(round(real, r)))

  def finish(out: Path): Map[String, Any] = {
    val added = Lakehouse.walk(root.resolve("real"))
      .filter { case (p, sz) => !filesBefore.get(p).contains(sz) }
    // commit logs: Delta's _delta_log, Iceberg's metadata, GraftTable's _graft_log
    def isLog(p: String) = Seq("/_delta_log/", "/metadata/", "/_graft_log/").exists(p.contains)
    val data = added.filter { case (p, _) => !isLog(p) && p.endsWith(".parquet") }
    Map("rounds" -> (units + 1), "digests" -> digests, "drains" -> drains, "ops" -> opLog,
      "store" -> Map(
        "files_added" -> added.size, "bytes_added" -> added.values.sum,
        "data_bytes" -> data.values.sum, "data_files" -> data.keys.toSeq.sorted,
        "log_bytes" -> added.filter { case (p, _) => isLog(p) }.values.sum),
      "iceberg_read_files" -> icebergFiles)
  }
}

object Lakehouse {
  /** Every regular file under `dir` with its size, keyed by path. */
  def walk(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
}

/** The LLM-data curation stages over one seeded corpus and one seeded
  * embedding table, all through graft.api.GraftOps. */
class Curation(spark: SparkSession, rec: Recorder, input: String, units: Int) extends Workload {
  import spark.implicits._
  private val P = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
  private var docs: DataFrame = _
  private var bench: DataFrame = _
  private var vecs: DataFrame = _
  val textStages = Seq("exact", "canonical", "jaccard", "minhash", "simhash", "clusters",
    "apply", "contam")
  val vectorStages = Seq("knn", "semdedup")
  private val results = mutable.Map.empty[String, (Seq[Row], org.apache.spark.sql.types.StructType)]

  /** Collects a stage's result and frees what the call left persisted. */
  private def keep(name: String, df: DataFrame): DataFrame = {
    results(name) = (df.collect().toSeq, df.schema)
    df
  }

  private def pass(docs: DataFrame, bench: DataFrame, vecs: DataFrame): Unit = {
    def stage[T](n: String)(f: => T): Option[T] = rec.op("stage", s"cur.$n")(f)
    stage("exact")(keep("exact", GraftOps.exactDedupe(docs, "id", "text").select($"id")))
    stage("canonical")(keep("canonical", GraftOps.canonicalDedupe(docs, "id", "text").select($"id")))
    val jac = stage("jaccard")(keep("jaccard", GraftOps.jaccardPairs(docs, "id", "text", 0.5)))
    stage("minhash")(keep("minhash", GraftOps.minhashPairs(docs, "id", "text", 0.8)).unpersist(false))
    stage("simhash")(keep("simhash", GraftOps.simHashPairs(docs, "id", "text", 3)).unpersist(false))
    val clusters = jac.flatMap(j => stage("clusters")(
      keep("clusters", GraftOps.nearDupClusters(j, "doc_a", "doc_b"))))
    clusters.foreach(c => stage("apply")(
      results("apply") = (Seq(Row(GraftOps.applyDedup(docs, "id", c).count())),
        org.apache.spark.sql.types.StructType.fromDDL("kept long"))))
    jac.foreach(_.unpersist(false))
    stage("contam")(keep("contam", GraftOps.ngramContamination(docs, bench, "id", "text", 13)))
    stage("knn")(keep("knn", GraftOps.knnJoin(vecs, "id", "vec", 5, 16)).unpersist(false))
    stage("semdedup")(keep("semdedup", GraftOps.semDedup(vecs, "id", "vec", 0.9, 16)).unpersist(false))
  }

  /** The warm-up pass runs every stage over a fifth of the corpus: the same
    * plans and code paths as the timed passes, at a fraction of their cost.
    * (A warm-up over the whole corpus costs 10 s more set-up and leaves as
    * much JIT compilation in the timed pass: Spark generates new classes
    * for every stage call.) */
  def setup(): Unit = {
    docs = spark.read.parquet(s"$input/docs.parquet").persist(P)
    bench = spark.read.parquet(s"$input/bench.parquet").persist(P)
    vecs = spark.read.parquet(s"$input/vectors.parquet").persist(P)
    Seq(docs, bench, vecs).foreach(_.count())
    val fifth = (df: DataFrame) => df.filter(pmod($"id", lit(5L)) === 0).persist(P)
    val (wd, wv) = (fifth(docs), fifth(vecs))
    pass(wd, bench, wv)
    Seq(wd, wv).foreach(_.unpersist(false))
  }

  def run(): Unit = for (p <- 1 to units) rec.within(s"pass$p")(pass(docs, bench, vecs))

  def finish(out: Path): Map[String, Any] = {
    results.foreach { case (n, (rows, schema)) =>
      Workload.writeRows(spark, rows, schema, out.resolve("results").resolve(n))
    }
    Map("passes" -> units, "docs" -> docs.count(), "vectors" -> vecs.count(),
      "text_stages" -> textStages, "vector_stages" -> vectorStages)
  }
}
