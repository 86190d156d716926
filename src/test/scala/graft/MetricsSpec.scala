package graft

import java.nio.file.Files
import graft.metrics._
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {
  import TestSpark._

  test("metric context writes task metrics and a completion record") {
    val dir = tmpDir("metrics").toString + "/activity_log"
    val ctx = new MetricContext(spark, dir, layer = "1", project = "demo",
      datasetYear = 2024, description = "bronze ingest", jobName = Some("job1"))
    ctx.run {
      ctx.logMetric("rows ingested", 42.0, "rows", "count",
        tableName = Some("bronze_customers"))
    }
    ctx.close()
    val log = ctx.logger.readAll()
    assert(log.count() == 2)
    val completion = log.filter(log("metric_function") === "completion").collect()
    assert(completion.length == 1)
    assert(completion(0).getAs[String]("status") == "success")
    assert(completion(0).getAs[Long]("duration_ms") >= 0)
    // one shared run_id across the context
    assert(log.select("run_id").distinct().count() == 1)
  }

  test("failure in run() records failure status") {
    val dir = tmpDir("metrics").toString + "/activity_log"
    val ctx = new MetricContext(spark, dir, "2", "demo", 2024, "silver clean")
    intercept[RuntimeException] { ctx.run { throw new RuntimeException("boom") } }
    val log = ctx.logger.readAll()
    val completion = log.filter(log("metric_function") === "completion").collect()
    assert(completion.length == 1 && completion(0).getAs[String]("status") == "failure")
  }

  test("activity log evolves schema: old and new records through one scan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tmpDir("metrics").toString + "/activity_log"
    val logger = new MetricsLogger(spark, dir)
    logger.log(MetricRecord.build("1", "demo", 2024, "old-style", 1.0,
      "rows", "count")): Unit
    // a later producer adds a column the log has never seen
    logger.append(Seq(MetricRecord.build("1", "demo", 2024, "new-style", 2.0,
      "rows", "count")).toDS().toDF()
      .withColumn("pipeline_version", lit("v2")))
    val all = logger.readAll()
    assert(all.count() == 2)
    assert(all.columns.contains("pipeline_version"))
    val byDesc = all.collect().map(r =>
      r.getAs[String]("description") -> r.getAs[String]("pipeline_version")).toMap
    assert(byDesc("old-style") == null) // evolved column is null on old rows
    assert(byDesc("new-style") == "v2")
  }

  test("openlineage event: one record carries run/job identity, inputs, output") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("metrics").toString + "/activity_log"
    val logger = new MetricsLogger(spark, dir)
    val q5 = SparkEntry.queries("q5_local_supplier")(spark, sf)
    val runId = Lineage.emitOpenLineage(logger, q5, "q5_local_supplier",
      "gold.local_supplier_revenue", layer = "gold", project = "demo",
      datasetYear = 2024)
    val rows = logger.readAll()
      .filter(col("metric_function") === "openlineage").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("ol_run_id") == runId)
    assert(r.getAs[String]("ol_job_name") == "q5_local_supplier")
    assert(r.getAs[String]("ol_event_type") == "COMPLETE")
    // q5 joins 6 tables — the physical plan must surface at least 3 inputs
    assert(r.getSeq[String](r.fieldIndex("ol_inputs")).size >= 3)
    assert(r.getSeq[String](r.fieldIndex("ol_outputs")).toSeq ==
      Seq("gold.local_supplier_revenue"))
  }

  test("automatic lineage listener: queries emit RunEvents with input/output facets, zero user code") {
    import graft.metrics.OpenLineageListener
    import scala.jdk.CollectionConverters._
    val received = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/v1/lineage", (x: com.sun.net.httpserver.HttpExchange) => {
      received.add(new String(x.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)): Unit
      x.sendResponseHeaders(200, -1)
      x.close()
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/api/v1/lineage"
    val l1 = OpenLineageListener.enable(spark, url, "testns")
    // idempotent: a second enable must reuse, not stack, the listener
    assert(OpenLineageListener.enable(spark) eq l1)
    def await(cond: => Boolean): Boolean = {
      val deadline = System.currentTimeMillis() + 20000
      while (!cond && System.currentTimeMillis() < deadline) {
        OpenLineageListener.flushAll(1000): Unit; Thread.sleep(50)
      }
      cond
    }
    try {
      // 1: a pure read action — inputs only, no user logger calls
      spark.read.parquet(s"$sf/customer.parquet").count(): Unit
      assert(await(received.asScala.exists(j =>
          j.contains("customer.parquet") && j.contains(""""outputs":[]"""))),
        s"no read event among ${received.size}: ${received.asScala.take(3)}")
      val readEvt = received.asScala
        .find(j => j.contains("customer.parquet") && j.contains(""""outputs":[]""")).get
      assert(readEvt.contains(""""eventType":"COMPLETE""""), readEvt)
      assert(readEvt.contains(""""job":{"namespace":"testns""""), readEvt)
      assert(readEvt.contains(""""namespace":"file""""), readEvt) // file dataset split
      // 2: a read → write — the event carries BOTH facets
      val out = tmpDir("graft_ol_").toString + "/t"
      spark.read.parquet(s"$sf/orders.parquet").limit(5).write.parquet(out)
      assert(await(received.asScala.exists(j =>
          j.contains("orders.parquet") && j.contains(out))),
        s"no write event among ${received.size}")
      val writeEvt = received.asScala
        .find(j => j.contains("orders.parquet") && j.contains(out)).get
      // the output dataset must be in outputs, not echoed as an input
      val inputsPart = writeEvt.substring(
        writeEvt.indexOf(""""inputs":"""), writeEvt.indexOf(""""outputs":"""))
      assert(!inputsPart.contains(out), writeEvt)
      // 3: schema + columnLineage dataset facets (the DataHub column-
      // level surface): the input carries its relation schema, the
      // output carries the written schema and per-column attribution
      assert(writeEvt.contains(""""schema":{"_producer":"graft/lineage""""), writeEvt)
      assert(writeEvt.contains("SchemaDatasetFacet.json"), writeEvt)
      assert(inputsPart.contains(""""name":"o_orderkey""""), writeEvt)
      assert(writeEvt.contains(""""columnLineage":{"""), writeEvt)
      assert(writeEvt.contains(""""o_orderkey":{"inputFields":[{"namespace":"file""""), writeEvt)
      assert(writeEvt.contains(""""field":"o_orderkey""""), writeEvt)
      // 4: a computed column's attribution traces through the
      // projection to the source column it was derived from
      val out2 = tmpDir("graft_ol_").toString + "/t2"
      spark.read.parquet(s"$sf/orders.parquet")
        .selectExpr("o_orderkey", "o_totalprice * 2 AS doubled")
        .limit(5).write.parquet(out2)
      assert(await(received.asScala.exists(_.contains(out2))),
        s"no derived write event among ${received.size}")
      val derivedEvt = received.asScala.find(_.contains(out2)).get
      assert(derivedEvt.contains(""""doubled":{"inputFields":[{"namespace":"file""""), derivedEvt)
      assert(derivedEvt.contains(""""field":"o_totalprice""""), derivedEvt)
      assert(derivedEvt.contains(""""name":"doubled","type":"""), derivedEvt)
    } finally {
      OpenLineageListener.disable(spark)
      spark.conf.unset("spark.graft.lineage.endpoint")
      spark.conf.unset("spark.graft.lineage.namespace")
      server.stop(0)
    }
    // disabled: no further events for new queries
    val before = received.size
    spark.read.parquet(s"$sf/customer.parquet").count(): Unit
    OpenLineageListener.flushAll(2000): Unit
    assert(received.size == before)
  }

  test("streaming lineage: START/RUNNING/COMPLETE events share the query runId") {
    import graft.metrics.OpenLineageListener
    import scala.jdk.CollectionConverters._
    val received = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/v1/lineage", (x: com.sun.net.httpserver.HttpExchange) => {
      received.add(new String(x.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)): Unit
      x.sendResponseHeaders(200, -1)
      x.close()
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/api/v1/lineage"
    OpenLineageListener.enable(spark, url, "streamns"): Unit
    def await(cond: => Boolean): Boolean = {
      val deadline = System.currentTimeMillis() + 20000
      while (!cond && System.currentTimeMillis() < deadline) {
        OpenLineageListener.flushAll(1000): Unit; Thread.sleep(50)
      }
      cond
    }
    try {
      val schema = spark.read.parquet(s"$sf/customer.parquet").schema
      // FileStreamSource wants a directory — stage the file into one
      val srcDir = tmpDir("ol_stream_src_")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/customer.parquet"),
        srcDir.resolve("customer.parquet")): Unit
      val q = spark.readStream.schema(schema).parquet(srcDir.toString)
        .writeStream.format("memory").queryName("ol_stream")
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop(); q.awaitTermination(20000): Unit
      val rid = q.runId.toString
      def evts = received.asScala.filter(_.contains(rid))
      assert(await(evts.exists(_.contains(""""eventType":"START""""))
          && evts.exists(_.contains(""""eventType":"RUNNING""""))
          && evts.exists(_.contains(""""eventType":"COMPLETE""""))),
        s"missing stream events for $rid among ${received.size}: ${received.asScala.take(5)}")
      val start = evts.find(_.contains(""""eventType":"START"""")).get
      assert(start.contains("ol_stream"), start)
      val running = evts.find(_.contains(""""eventType":"RUNNING"""")).get
      // the batch's source path is the input dataset; the memory sink
      // the output (description without brackets passes through whole)
      assert(running.contains("ol_stream_src_"), running)
      assert(running.contains("MemorySink"), running)
    } finally {
      OpenLineageListener.disable(spark)
      spark.conf.unset("spark.graft.lineage.endpoint")
      spark.conf.unset("spark.graft.lineage.namespace")
      server.stop(0)
    }
  }

  test("metric utils compute counts and averages") {
    import spark.implicits._
    val df = Seq((1, 2.0, true), (2, 4.0, false), (3, 6.0, true))
      .toDF("id", "v", "is_error")
    assert(MetricUtils.dfCount(df) == 3)
    assert(math.abs(MetricUtils.dfAvg(df, "v") - 4.0) < 1e-12)
    assert(MetricUtils.dfErrorCount(df) == 2)
    assert(MetricUtils.dfErrorCount(df.drop("is_error")) == 0)
  }

  test("configured sinks receive every logged record; sink failures are contained") {
    val dir = tmpDir("graft_sink_").toString
    TestMetricSink.received.clear()
    spark.conf.set("spark.graft.metrics.sinks",
      classOf[TestMetricSink].getName + "," +
        classOf[ThrowingMetricSink].getName + ",no.such.Class")
    try {
      val logger = new MetricsLogger(spark, dir)
      // the throwing sink and the unloadable class must not break the
      // parquet append or the healthy sink
      logger.log(graft.metrics.MetricRecord.build(
        "silver", "proj", 2024, "row-count", 42.0, "rows", "count"))
      assert(TestMetricSink.received.size == 1)
      assert(TestMetricSink.received.head.metric_value == 42.0)
      assert(logger.readAll().count() == 1)
    } finally spark.conf.unset("spark.graft.metrics.sinks")
  }

  test("HTTP sink posts OpenLineage-shaped events; endpoint-down never fails the job") {
    import graft.metrics.HttpMetricSink
    val received = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/lineage", (x: com.sun.net.httpserver.HttpExchange) => {
      received.add(new String(x.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)): Unit
      x.sendResponseHeaders(200, -1)
      x.close()
    })
    server.start()
    val dir = tmpDir("graft_http_sink_").toString
    spark.conf.set("spark.graft.metrics.sinks", classOf[HttpMetricSink].getName)
    spark.conf.set("spark.graft.metrics.http.endpoint",
      s"http://127.0.0.1:${server.getAddress.getPort}/lineage")
    try {
      val logger = new MetricsLogger(spark, dir)
      val runId = logger.log(graft.metrics.MetricRecord.build(
        "gold", "proj", 2024, "rows \"written\"", 42.0, "rows", "count",
        jobName = Some("job1")))
      assert(HttpMetricSink.flushAll(10000), "flush timed out")
      assert(received.size == 1, s"got ${received.size} requests")
      val json = received.get(0)
      assert(json.contains(s""""runId":"$runId""""), json)
      assert(json.contains(""""value":42.0"""), json)
      assert(json.contains(""""name":"job1""""), json)
      assert(json.contains(""""description":"rows \"written\""""), json)
      // endpoint down: the job's logging path must stay healthy — the
      // sink drops the record after its timeout, nothing propagates
      server.stop(0)
      val logger2 = new MetricsLogger(spark, dir)
      logger2.log(graft.metrics.MetricRecord.build(
        "gold", "proj", 2024, "late", 7.0, "rows", "count"))
      HttpMetricSink.flushAll(15000): Unit // drains by dropping; no throw
      assert(logger2.readAll().count() == 2) // the activity log kept both
    } finally {
      spark.conf.unset("spark.graft.metrics.sinks")
      spark.conf.unset("spark.graft.metrics.http.endpoint")
    }
  }
}

/** Spec sink: collects records statically so the reflective
  * instantiation path is what's under test. */
class TestMetricSink extends graft.metrics.MetricSink {
  override def emit(rec: graft.metrics.MetricRecord): Unit =
    TestMetricSink.received += rec
}
object TestMetricSink {
  val received = scala.collection.mutable.ArrayBuffer[graft.metrics.MetricRecord]()
}

class ThrowingMetricSink extends graft.metrics.MetricSink {
  override def emit(rec: graft.metrics.MetricRecord): Unit =
    throw new RuntimeException("sink down")
}
