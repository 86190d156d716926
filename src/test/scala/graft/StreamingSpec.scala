package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams
import graft.operators.Multimodal

class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  test("batch and stream event readers agree on the event-time range") {
    // The regression net for physical-ts-unit drift: when the testdata's
    // parquet layout changed from TIMESTAMP(NANOS) to TIMESTAMP(MICROS),
    // the old hard-coded stream schema read raw micros as nanos and
    // compressed event time 1000× — silently. Range parity between the
    // batch and streaming readers catches any such drift as a red test.
    val (smn, smx) = Streams.streamTsRange(spark, sf)
    val b = graft.sources.Tables.events(spark, sf)
      .agg(min(date_trunc("second", col("ts"))).as("mn"),
           max(date_trunc("second", col("ts"))).as("mx")).collect()(0)
    assert(smn == b.getTimestamp(0), "stream min ts != batch min ts")
    assert(smx == b.getTimestamp(1), "stream max ts != batch max ts")
  }

  test("multi-batch stream: windowed agg over time-split files equals batch") {
    // Every catalog stream reads ONE parquet file = one micro-batch, so
    // cross-batch semantics (watermark advance, state carry-over,
    // append-mode window closing) are never exercised there. Split the
    // events by time into several files, feed them one per micro-batch
    // (maxFilesPerTrigger=1) in event-time order, and the APPEND-mode
    // watermark path must still reproduce the batch answer for every
    // window the watermark closed.
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    val dir = tmpDir("graft_mb_").toString
    // 4 time-ordered slices, one file each (file order = arrival order)
    val (mn, mx) = ev.agg(min($"ts"), max($"ts")).as[(java.sql.Timestamp,
      java.sql.Timestamp)].collect()(0)
    val span = mx.getTime - mn.getTime
    (0 until 4).foreach { i =>
      val lo = mn.getTime + span * i / 4
      val hi = if (i == 3) mx.getTime + 1 else mn.getTime + span * (i + 1) / 4
      ev.filter($"ts" >= new java.sql.Timestamp(lo) &&
          $"ts" < new java.sql.Timestamp(hi))
        .coalesce(1).write.parquet(s"$dir/slice$i")
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/slice$i"))
        .iterator()
      while (f.hasNext) {
        val p = f.next()
        if (p.getFileName.toString.endsWith(".parquet"))
          // zero-pad so file listing order matches event-time order
          java.nio.file.Files.move(p,
            java.nio.file.Paths.get(dir, f"batch$i%02d.parquet"))
      }
    }
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "UTC")
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    val name = "mb_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = s2.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .option("pathGlobFilter", "batch*.parquet")
      .parquet(dir)
      .withWatermark("ts", "1 minute")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("h"), $"event_type", $"n")
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    val streamed = s2.table(name)
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.TIMESTAMP,
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong)).collect().toSet
    assert(streamed.nonEmpty, "append mode must have closed some windows")
    val batch = ev.groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("h"), $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map(t => (t._1, t._2, t._3)).toSet
    // every emitted (closed) window must match the batch value exactly;
    // unclosed tail windows are legitimately absent from append output
    assert(streamed.subsetOf(batch),
      "closed windows must equal the batch computation")
    // the watermark must have closed at least the windows that end
    // before the last slice began (proof cross-batch state closed)
    val closeBefore = new java.sql.Timestamp(mn.getTime + span * 3 / 4 - 3600000)
    val expectedClosed = batch.filter(_._1.before(closeBefore))
    assert(expectedClosed.subsetOf(streamed),
      "windows ended before the final batch's watermark must be emitted")
  }

  test("h1 streaming window equals the batch tumbling window") {
    val streamed = SparkEntry.queries("h1_stream_window")(spark, sf).collect()
    val batch = SparkEntry.queries("e1_tumbling_window")(spark, sf).collect()
    assert(streamed.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq)
  }

  test("h2 streaming dedup removes the injected duplicates") {
    val got = SparkEntry.queries("h2_stream_dedup")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = graft.sources.Tables.events(spark, sf)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("h4 checkpointed ingest lands every event exactly once in a GraftTable") {
    import spark.implicits._
    val got = SparkEntry.queries("h4_stream_ingest")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val want = graft.sources.Tables.events(spark, sf)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("h5 stream-stream interval join equals the batch interval join") {
    import spark.implicits._
    val streamed = SparkEntry.queries("h5_stream_join")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ev = graft.sources.Tables.events(spark, sf)
      .withColumn("ts", date_trunc("second", $"ts"))
    val v = ev.filter($"event_type" === "view").select($"user_id", $"ts".as("vts"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"ts".as("pts"))
    val batch = v.join(p, $"user_id" === $"pu" &&
        $"pts" > $"vts" && $"pts" <= $"vts" + expr("INTERVAL 60 SECONDS"))
      .groupBy($"user_id").count()
      .orderBy($"user_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamed == batch)
  }

  test("h3 stateful sessionization emits gap-closed sessions") {
    val sessions = Streams.h3_stream_sessionize(spark, sf).collect()
    assert(sessions.nonEmpty)
    assert(sessions.forall(_.n_events >= 1))
    // closed sessions must be a prefix of the batch sessionization (which
    // also includes each user's trailing open session)
    val batchSessions = SparkEntry.queries("e2_sessionize")(spark, sf)
      .select("user_id", "session_start", "n_events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    sessions.foreach { s0 =>
      assert(batchSessions.contains((s0.user_id, s0.session_start, s0.n_events.toLong)),
        s"stream session $s0 not found in batch sessionization")
    }
  }

  test("h9 stream-static decontamination equals the batch bloom result") {
    val stream = SparkEntry.queries("h9_stream_decontam")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = SparkEntry.queries("p8_bloom_decontam")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stream == batch)
    assert(stream.nonEmpty, "planted src0 overlap must flag at least one doc")
  }

  test("scalar simhashOfTokens equals the SimHashAgg aggregate per doc") {
    import spark.implicits._
    import graft.functions.{SimHashAgg, TextFunctions}
    val docs = graft.sources.Tables.documents(spark, sf)
    val viaAgg = docs
      .select($"doc_id", explode(array_distinct(TextFunctions.tokens($"text"))).as("tok"))
      .groupBy($"doc_id").agg(SimHashAgg.simhash(xxhash64($"tok")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaScalar = docs
      .select($"doc_id", SimHashAgg.simhashOfTokens(TextFunctions.tokens($"text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAgg.nonEmpty)
    viaAgg.foreach { case (id, sig) => assert(viaScalar(id) == sig, s"doc $id") }
  }

  test("h10 stream-static near-dup equals the batch base-vs-delta pairs") {
    import spark.implicits._
    import graft.operators.Dedup
    val stream = SparkEntry.queries("h10_stream_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val docs = graft.sources.Tables.documents(spark, sf)
    // batch twin built directly from the aggregate signatures
    val delta = docs.filter($"source".isin("src18", "src19")).select($"doc_id")
    val allSigs = Dedup.simHashSignatures(docs, "doc_id", "text")
    val baseB = Dedup.simHashBlocks(allSigs.join(delta, Seq("doc_id"), "left_anti"))
      .select($"doc_id".as("doc_a"), $"sig".as("sig_a"), $"blk_id", $"blk")
    val deltaB = Dedup.simHashBlocks(allSigs.join(delta, Seq("doc_id")))
      .select($"doc_id".as("doc_b"), $"sig".as("sig_b"), $"blk_id", $"blk")
    val batch = baseB.join(deltaB, Seq("blk_id", "blk"))
      .select($"doc_a", $"doc_b",
        bit_count($"sig_a".bitwiseXOR($"sig_b")).as("hamming"))
      .filter($"hamming" <= 3).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(stream == batch)
    assert(stream.nonEmpty, "sf corpus plants cross-source near-dups")
  }

  test("m2 batched feature extraction is deterministic with fixed shape") {
    val a = Multimodal.m2_feature_batch(spark, sf).collect()
      .sortBy(_.doc_id)
    val b = Multimodal.m2_feature_batch(spark, sf).collect().sortBy(_.doc_id)
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) =>
      assert(x.doc_id == y.doc_id && x.width == y.width && x.height == y.height)
      assert(x.feature.length == 4 && x.feature.sameElements(y.feature))
      assert(x.width >= 64 && x.width < 64 + 1024)
    }
  }
}
