package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.metrics.{Lineage, MetricsLogger}

class ExtensionsSpec extends AnyFunSuite {

  // a dedicated session so withExtensions is actually exercised —
  // create() (not getOrCreate) because another suite's extension-less
  // session may already be the default, and getOrCreate would silently
  // return it, dropping the extensions (order-dependent flake). It
  // takes Sessions' engine settings: when this suite runs first, its
  // session fixes the JVM's static confs (the generated-class cache
  // size among them) for every later suite.
  private lazy val extSpark: SparkSession = {
    val s = Sessions.engineConfs.foldLeft(SparkSession.builder()) {
        case (b, (k, v)) => b.config(k, v) }
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .create()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("custom expressions are callable from pure SQL") {
    val r = extSpark.sql(
      """SELECT fingerprint64('abc') AS fp,
        |  dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
        |  array_eq_fraction(array(1L, 2L, 3L, 4L), array(1L, 9L, 3L, 4L)) AS eqf,
        |  phash64('abcdefgh') AS ph,
        |  deflate_len('aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa') AS dl,
        |  iceberg_bucket(16, CAST(34 AS BIGINT)) AS ib
        |""".stripMargin).collect()(0)
    assert(r.getAs[Long]("fp") == 0xe71fa2190541574bL)
    // Iceberg spec Appendix B: murmur3(34L) = 2017239379
    assert(r.getAs[Int]("ib") == ((2017239379 & Int.MaxValue) % 16))
    assert(r.getAs[Double]("dp") == 11.0)
    assert(r.getAs[Double]("eqf") == 0.75)
    // phash64 SQL form matches the column-API expression
    import extSpark.implicits._
    val viaCol = Seq("abcdefgh").toDF("t")
      .select(graft.functions.PHash64.phash64($"t")).collect()(0).getLong(0)
    assert(r.getAs[Long]("ph") == viaCol)
    // 32 identical bytes deflate far below raw size
    assert(r.getAs[Int]("dl") > 0 && r.getAs[Int]("dl") < 16, r.getAs[Int]("dl"))
  }

  test("nfc_normalize: decomposed and composed forms converge; zero-copy on normalized input") {
    import graft.functions.NfcNormalize
    import org.apache.spark.unsafe.types.UTF8String
    // SQL surface: e + COMBINING ACUTE (U+0301) normalizes to the
    // composed form; idempotent; NULL passes through
    val r = extSpark.sql(
      "SELECT nfc_normalize('Caf' || 'é') AS a, " +
        "nfc_normalize(nfc_normalize('Caf' || 'é')) AS b, " +
        "nfc_normalize('Café') AS c, " +
        "nfc_normalize(CAST(NULL AS STRING)) AS d, " +
        "length('é') AS pre, length(nfc_normalize('é')) AS post")
      .collect()(0)
    assert(r.getAs[String]("a") == "Café", r.getAs[String]("a"))
    assert(r.getAs[String]("b") == "Café")
    assert(r.getAs[String]("c") == "Café")
    assert(r.isNullAt(r.fieldIndex("d")))
    assert(r.getAs[Int]("pre") == 2 && r.getAs[Int]("post") == 1)
    // already-normalized input returns the SAME buffer (no copy).
    // ASCII takes the byte-scan fast path (isFullAscii, no toString at
    // all); composed non-ASCII takes the isNormalized path — both must
    // be reference-identical to the input.
    val ascii = UTF8String.fromString("plain ascii text")
    assert(NfcNormalize.normalize(ascii) eq ascii)
    val composed = UTF8String.fromString("Café")
    assert(!composed.isFullAscii)
    assert(NfcNormalize.normalize(composed) eq composed)
    // interpreted path agrees with the generated one exercised above
    assert(NfcNormalize(org.apache.spark.sql.catalyst.expressions.Literal(
      UTF8String.fromString("é"), org.apache.spark.sql.types.StringType))
      .eval(null).toString == "é")
  }

  test("as-of strategy is injected by the extension") {
    import extSpark.implicits._
    val left = Seq((1L, 10L)).toDF("k", "t")
    val right = Seq((1L, 5L, "m")).toDF("rk", "rt", "v")
    val got = graft.plans.AsOf.leftJoin(left, right, "k", "rk", "t", "rt")
      .collect()
    assert(got.length == 1 && got(0).getAs[String]("v") == "m")
  }

  test("lineage extraction finds the real source tables of a derived frame") {
    import TestSpark._
    val df = SparkEntry.queries("c5_medallion_gold")(spark, sf)
    val inputs = Lineage.inputsOf(df)
    assert(inputs.exists(_.contains("orders.parquet")), s"inputs=$inputs")
    assert(inputs.exists(_.contains("customer.parquet")), s"inputs=$inputs")
    assert(inputs.size == 2)

    val log = TestSpark.tmpDir("lineage").toString + "/log"
    val logger = new MetricsLogger(spark, log)
    Lineage.record(logger, df, "gold_customer_summary", "3", "demo", 2024)
    val rec = logger.readAll().collect()(0)
    assert(rec.getAs[String]("metric_function") == "lineage")
    assert(rec.getAs[Map[String, String]]("extra").values
      .exists(_.contains("orders.parquet")))
  }
}
