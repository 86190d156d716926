package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.rest.RestCatalogServer

/** The REST catalog endpoint: one catalog SERVICE over a warehouse,
  * shared by independent sessions through `type=rest` + `uri` wiring
  * (the reference's Polaris deployment shape). Asserts the protocol at
  * two levels: through Spark SQL in two separate sessions, and at the
  * raw HTTP surface (status codes, error envelopes). */
class RestCatalogSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val warehouse =
    tmpDir("graft_rest_wh_").toString
  private lazy val server = new RestCatalogServer(spark, warehouse)
  private lazy val port = server.start()

  /** A fresh session wired to the endpoint the way the reference wires
    * Polaris: type=rest + uri, nothing filesystem-specific. */
  private def restSession(cat: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.rest.GraftRestCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.type", "rest")
    s.conf.set(s"spark.sql.catalog.$cat.uri", s"http://127.0.0.1:$port")
    s
  }

  private def httpGet(path: String): (Int, String) = httpReq("GET", path, None)

  private def httpReq(method: String, path: String,
                      body: Option[String]): (Int, String) = {
    val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod(method)
      body.foreach { b =>
        conn.setDoOutput(true)
        conn.getOutputStream.write(b.getBytes(StandardCharsets.UTF_8))
        conn.getOutputStream.close()
      }
      val code = conn.getResponseCode
      val st = if (code >= 400) conn.getErrorStream else conn.getInputStream
      (code, if (st == null) ""
             else new String(st.readAllBytes(), StandardCharsets.UTF_8))
    } finally conn.disconnect()
  }

  test("two sessions share one catalog through the endpoint") {
    val a = restSession("rca")
    val b = restSession("rcb")   // different catalog NAME, same service
    a.sql("CREATE NAMESPACE rca.db")
    a.sql("CREATE TABLE rca.db.t (id BIGINT, v DOUBLE) USING graft")
    a.sql("INSERT INTO rca.db.t VALUES (1, 1.5), (2, 2.5), (3, 3.5)")
    // CREATE in session A is SELECTable in session B — the catalog
    // service, not A's in-process state, answered B's lookup
    assert(b.table("rcb.db.t").count() == 3)
    assert(b.sql("SHOW TABLES IN rcb.db").collect().map(_.getString(1))
      .contains("t"))
    assert(b.sql("SHOW NAMESPACES IN rcb").collect().map(_.getString(0))
      .contains("db"))
    // and B's write is visible back in A (data plane: direct commit)
    b.sql("INSERT INTO rcb.db.t VALUES (4, 4.5)")
    assert(a.table("rca.db.t").count() == 4)
    // time travel through the REST catalog
    assert(a.sql("SELECT * FROM rca.db.t VERSION AS OF 1").count() == 3)
  }

  test("DDL races surface as 409 -> the typed AlreadyExists exceptions") {
    val a = restSession("rcc")
    val b = restSession("rcd")
    a.sql("CREATE NAMESPACE IF NOT EXISTS rcc.db")
    a.sql("CREATE TABLE rcc.db.dup (id BIGINT) USING graft")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      b.sql("CREATE TABLE rcd.db.dup (id BIGINT) USING graft")
    }
    assert(e.getCondition == "TABLE_OR_VIEW_ALREADY_EXISTS", e.getMessage)
    // IF NOT EXISTS swallows the conflict
    b.sql("CREATE TABLE IF NOT EXISTS rcd.db.dup (id BIGINT) USING graft")
    val en = intercept[org.apache.spark.sql.AnalysisException] {
      b.sql("CREATE NAMESPACE rcd.db")
    }
    assert(en.getCondition == "SCHEMA_ALREADY_EXISTS", en.getMessage)
    // raw surface: same create -> Iceberg-style 409 envelope
    val (code, body) = httpReq("POST", "/v1/namespaces/db/tables", Some(
      """{"name":"dup","schema-json":"{\"type\":\"struct\",\"fields\":[]}"}"""))
    assert(code == 409 && body.contains("AlreadyExistsException"), body)
  }

  test("missing namespaces/tables surface as 404 -> NoSuch* exceptions") {
    val a = restSession("rce")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      a.table("rce.db.never_created")
    }
    assert(e.getCondition == "TABLE_OR_VIEW_NOT_FOUND", e.getMessage)
    intercept[org.apache.spark.sql.AnalysisException] {
      a.sql("SHOW TABLES IN rce.no_such_ns")
    }
    assert(httpGet("/v1/namespaces/no_such_ns")._1 == 404)
    assert(httpGet("/v1/namespaces/db/tables/never_created")._1 == 404)
    assert(httpReq("HEAD", "/v1/namespaces/db/tables/never_created", None)._1 == 404)
    assert(httpReq("HEAD", "/v1/namespaces/db/tables/dup", None)._1 == 204)
    // malformed body -> 400, unknown route -> 404
    assert(httpReq("POST", "/v1/namespaces", Some("{not json"))._1 == 400)
    assert(httpReq("POST", "/v1/tables/rename", Some("{}"))._1 == 400)
    assert(httpGet("/v1/nope")._1 == 404)
  }

  test("rename, drop, and non-empty-namespace 409 through the endpoint") {
    val a = restSession("rcf")
    a.sql("CREATE NAMESPACE rcf.ops")
    a.sql("CREATE TABLE rcf.ops.t1 (id BIGINT) USING graft")
    a.sql("INSERT INTO rcf.ops.t1 VALUES (7)")
    a.sql("ALTER TABLE rcf.ops.t1 RENAME TO rcf.ops.t2")
    assert(a.table("rcf.ops.t2").count() == 1)
    assert(!a.sql("SHOW TABLES IN rcf.ops").collect()
      .map(_.getString(1)).contains("t1"))
    // dropping a non-empty namespace (no cascade) -> the server's 409
    val (code, body) = httpReq("DELETE", "/v1/namespaces/ops", None)
    assert(code == 409 && body.contains("NamespaceNotEmpty"), body)
    a.sql("DROP TABLE rcf.ops.t2")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      a.table("rcf.ops.t2")
    }
    assert(e.getCondition == "TABLE_OR_VIEW_NOT_FOUND")
    a.sql("DROP NAMESPACE rcf.ops")
    assert(httpGet("/v1/namespaces/ops")._1 == 404)
  }

  test("partition transforms and ALTER ride the REST create/load path") {
    val a = restSession("rcg")
    a.sql("CREATE NAMESPACE IF NOT EXISTS rcg.pt")
    a.sql("CREATE TABLE rcg.pt.ev (id BIGINT, ts TIMESTAMP) " +
      "USING graft PARTITIONED BY (days(ts))")
    a.sql("INSERT INTO rcg.pt.ev VALUES " +
      "(1, TIMESTAMP'2024-03-01 10:00:00'), (2, TIMESTAMP'2024-03-02 11:00:00')")
    assert(a.table("rcg.pt.ev").count() == 2)
    // the transform reached the table format: the day-grained pruned
    // read resolves (only a days(ts)-layouted table supports it)
    val t = graft.sources.GraftTable.load(spark, s"$warehouse/pt/ev")
    assert(t.readWhereDays("ts", "2024-03-01").count() == 1)
    a.sql("ALTER TABLE rcg.pt.ev ADD COLUMN note STRING")
    assert(a.table("rcg.pt.ev").columns.toSeq ==
      Seq("id", "ts", "note"))
  }

  test("concurrent writers from separate sessions: optimistic protocol holds") {
    val a = restSession("rch")
    val b = restSession("rci")
    a.sql("CREATE NAMESPACE IF NOT EXISTS rch.cw")
    a.sql("CREATE TABLE rch.cw.t (id BIGINT) USING graft")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new Runnable {
        def run(): Unit = (0 until 3).foreach(i =>
          a.sql(s"INSERT INTO rch.cw.t VALUES ($i)"))
      })
      val fb = pool.submit(new Runnable {
        def run(): Unit = (10 until 13).foreach(i =>
          b.sql(s"INSERT INTO rci.cw.t VALUES ($i)"))
      })
      fa.get(); fb.get()
    } finally pool.shutdown()
    // every commit landed exactly once: 6 rows, 6 distinct ids, and the
    // table history holds one version per insert (0 = create)
    assert(a.table("rch.cw.t").count() == 6)
    assert(b.table("rci.cw.t").select("id").distinct().count() == 6)
    val t = graft.sources.GraftTable.load(spark, s"$warehouse/cw/t")
    assert(t.latestVersion() == 6)
  }

  test("streaming reads ride the REST catalog table path") {
    val a = restSession("rcs")
    a.sql("CREATE NAMESPACE IF NOT EXISTS rcs.st")
    a.sql("CREATE TABLE rcs.st.ev (id BIGINT) USING graft")
    a.sql("INSERT INTO rcs.st.ev VALUES (1), (2)")
    val name = "rest_stream_mem"
    // the catalog service resolves the table; the stream then tails
    // the commit log directly at the returned location
    val q = a.readStream.table("rcs.st.ev")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(a.table(name).count() == 2)
      a.sql("INSERT INTO rcs.st.ev VALUES (3)")
      q.processAllAvailable()
      assert(a.table(name).count() == 3)
    } finally q.stop()
  }

  test("config handshake rejects a non-graft endpoint") {
    // a server that answers 200 but not the graft profile
    val other = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(
        java.net.InetAddress.getLoopbackAddress, 0), 0)
    other.createContext("/", (x: com.sun.net.httpserver.HttpExchange) => {
      val b = """{"ok":true}""".getBytes(StandardCharsets.UTF_8)
      x.sendResponseHeaders(200, b.length)
      x.getResponseBody.write(b)
      x.close()
    })
    other.start()
    try {
      val s = spark.newSession()
      s.conf.set("spark.sql.catalog.bad", "graft.sources.rest.GraftRestCatalog")
      s.conf.set("spark.sql.catalog.bad.type", "rest")
      s.conf.set("spark.sql.catalog.bad.uri",
        s"http://127.0.0.1:${other.getAddress.getPort}")
      val e = intercept[Exception] { s.sql("SHOW NAMESPACES IN bad") }
      assert(e.getMessage != null)
    } finally other.stop(0)
  }

  test("DROP NAMESPACE CASCADE recurses into child namespaces") {
    val s = restSession("rcc")
    s.sql("CREATE NAMESPACE rcc.top")
    s.sql("CREATE NAMESPACE rcc.top.mid")
    s.sql("CREATE TABLE rcc.top.mid.t (id BIGINT) USING graft")
    s.sql("CREATE TABLE rcc.top.u (id BIGINT) USING graft")
    s.sql("DROP NAMESPACE rcc.top CASCADE")
    assert(s.sql("SHOW NAMESPACES IN rcc").collect()
      .forall(_.getString(0) != "top"))
  }

  test("names with '+' and '%' survive routing (single decode of raw path)") {
    val s = restSession("rcd")
    s.sql("CREATE NAMESPACE rcd.enc")
    // '+' in a table name must stay a plus through the URL round-trip,
    // and '%' must not break percent-decoding of the path
    s.sql("CREATE TABLE rcd.enc.`a+b` (id BIGINT) USING graft")
    s.sql("INSERT INTO rcd.enc.`a+b` VALUES (7)")
    assert(s.sql("SELECT id FROM rcd.enc.`a+b`").collect()
      .map(_.getLong(0)).toSeq == Seq(7L))
    assert(s.sql("SHOW TABLES IN rcd.enc").collect()
      .exists(_.getString(1) == "a+b"))
    s.sql("DROP TABLE rcd.enc.`a+b`")
    assert(s.sql("SHOW TABLES IN rcd.enc").collect()
      .forall(_.getString(1) != "a+b"))
  }

  test("oauth: token handshake gates every route when credential is set") {
    val wh = tmpDir("graft_rest_auth_wh_").toString
    val authed = new RestCatalogServer(spark, wh,
      credential = Some("gid:gsecret"))
    val p = authed.start()
    def req(method: String, path: String, body: Option[String],
            headers: Map[String, String]): (Int, String) = {
      val conn = new java.net.URL(s"http://127.0.0.1:$p$path")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      try {
        conn.setRequestMethod(method)
        headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
        body.foreach { b =>
          conn.setDoOutput(true)
          conn.getOutputStream.write(b.getBytes(StandardCharsets.UTF_8))
          conn.getOutputStream.close()
        }
        val code = conn.getResponseCode
        val st = if (code >= 400) conn.getErrorStream else conn.getInputStream
        (code, if (st == null) ""
               else new String(st.readAllBytes(), StandardCharsets.UTF_8))
      } finally conn.disconnect()
    }
    try {
      // no token -> 401 with the catalog error envelope
      val (noTok, envelope) = req("GET", "/v1/config", None, Map.empty)
      assert(noTok == 401 && envelope.contains("NotAuthorizedException"))
      // wrong credentials -> RFC 6749 invalid_client
      val (bad, badBody) = req("POST", "/v1/oauth/tokens",
        Some("grant_type=client_credentials&client_id=gid&client_secret=nope"),
        Map.empty)
      assert(bad == 401 && badBody.contains("invalid_client"), badBody)
      // wrong grant type -> unsupported_grant_type
      val (gt, gtBody) = req("POST", "/v1/oauth/tokens",
        Some("grant_type=password&client_id=gid&client_secret=gsecret"),
        Map.empty)
      assert(gt == 400 && gtBody.contains("unsupported_grant_type"), gtBody)
      // the real handshake mints a token the routes accept
      val (ok, tokBody) = req("POST", "/v1/oauth/tokens",
        Some("grant_type=client_credentials&client_id=gid" +
          "&client_secret=gsecret&scope=PRINCIPAL_ROLE:ALL"), Map.empty)
      assert(ok == 200 && tokBody.contains("access_token"), tokBody)
      val token = tokBody.split("\"access_token\":\"")(1).split("\"")(0)
      val (cfg, _) = req("GET", "/v1/config", None,
        Map("Authorization" -> s"Bearer $token"))
      assert(cfg == 200)
      // a made-up bearer is rejected
      assert(req("GET", "/v1/config", None,
        Map("Authorization" -> "Bearer forged"))._1 == 401)
      // expires_in is honored: a token minted past its TTL 401s (and
      // the prune-on-access keeps the issued set bounded)
      authed.tokenTtlMs = -1000L
      val (_, deadBody) = req("POST", "/v1/oauth/tokens",
        Some("grant_type=client_credentials&client_id=gid" +
          "&client_secret=gsecret"), Map.empty)
      val deadTok = deadBody.split("\"access_token\":\"")(1).split("\"")(0)
      assert(req("GET", "/v1/config", None,
        Map("Authorization" -> s"Bearer $deadTok"))._1 == 401)
      authed.tokenTtlMs = 3600L * 1000L
      // the live token from the original handshake still works
      assert(req("GET", "/v1/config", None,
        Map("Authorization" -> s"Bearer $token"))._1 == 200)
      // and a full Spark session works through the credential option,
      // the reference's session wiring
      val s = spark.newSession()
      s.conf.set("spark.sql.catalog.rauth", "graft.sources.rest.GraftRestCatalog")
      s.conf.set("spark.sql.catalog.rauth.type", "rest")
      s.conf.set("spark.sql.catalog.rauth.uri", s"http://127.0.0.1:$p")
      s.conf.set("spark.sql.catalog.rauth.credential", "gid:gsecret")
      s.conf.set("spark.sql.catalog.rauth.scope", "PRINCIPAL_ROLE:ALL")
      s.sql("CREATE NAMESPACE rauth.db")
      s.sql("CREATE TABLE rauth.db.t (id BIGINT) USING graft")
      s.sql("INSERT INTO rauth.db.t VALUES (11)")
      assert(s.sql("SELECT id FROM rauth.db.t").collect()
        .map(_.getLong(0)).toSeq == Seq(11L))
      // a session with the wrong secret fails the handshake loudly
      val w = spark.newSession()
      w.conf.set("spark.sql.catalog.rbad", "graft.sources.rest.GraftRestCatalog")
      w.conf.set("spark.sql.catalog.rbad.type", "rest")
      w.conf.set("spark.sql.catalog.rbad.uri", s"http://127.0.0.1:$p")
      w.conf.set("spark.sql.catalog.rbad.credential", "gid:wrong")
      val e = intercept[Exception] { w.sql("SHOW NAMESPACES IN rbad") }
      assert(e.getMessage.contains("token exchange") ||
        String.valueOf(e.getCause).contains("token exchange"), e.getMessage)
    } finally authed.stop()
  }

  test("loadTable serves real Iceberg metadata for mirrored tables") {
    val s = restSession("rice")
    s.sql("CREATE NAMESPACE rice.icedb")
    s.sql("CREATE TABLE rice.icedb.m (id BIGINT, v DOUBLE) USING graft")
    s.sql("INSERT INTO rice.icedb.m VALUES (1, 1.5), (2, 2.5)")
    // pre-mirror: the graft-profile response has no metadata-location
    val before = httpGet("/v1/namespaces/icedb/tables/m")._2
    assert(!before.contains("metadata-location"))
    // mirror, then loadTable carries the Iceberg LoadTableResult fields
    val t = graft.sources.GraftTable.load(spark, s"$warehouse/icedb/m")
    graft.sources.IcebergInterop.mirrorToIceberg(t)
    val (code, body) = httpGet("/v1/namespaces/icedb/tables/m")
    assert(code == 200)
    assert(body.contains("\"metadata-location\""), body)
    assert(body.contains("\"format-version\""), body)
    assert(body.contains("\"current-snapshot-id\""), body)
    assert(body.contains("\"snapshots\""), body)
    // the embedded pointer names the hinted metadata file, and a stock
    // Iceberg client could equally fetch it from disk: spot-check the
    // pointed-at file parses as Iceberg table metadata
    val loc = body.split("\"metadata-location\":\"")(1).split("\"")(0)
    assert(loc.endsWith(".metadata.json"), loc)
    val onDisk = new String(Files.readAllBytes(
      java.nio.file.Paths.get(loc.stripPrefix("file:"))), StandardCharsets.UTF_8)
    assert(onDisk.contains("\"format-version\""))
    // and graft itself can read back through that metadata
    assert(graft.sources.IcebergInterop.readIceberg(spark, s"$warehouse/icedb/m")
      .count() == 2)
  }

  test("commitTable: a raw HTTP client lands an append snapshot") {
    val s = restSession("rcommit")
    s.sql("CREATE NAMESPACE rcommit.cdb")
    s.sql("CREATE TABLE rcommit.cdb.c (id BIGINT, v DOUBLE) USING graft")
    s.sql("INSERT INTO rcommit.cdb.c VALUES (1, 1.5), (2, 2.5)")
    val root = s"$warehouse/cdb/c"
    graft.sources.IcebergInterop.mirrorToIceberg(
      graft.sources.GraftTable.load(spark, root))
    // ---- the "foreign client" loads the table for uuid + ref state
    val load1 = httpGet("/v1/namespaces/cdb/tables/c")._2
    val uuid = load1.split("\"table-uuid\"\\s*:\\s*\"")(1).split("\"")(0)
    val curSnap = load1.split("\"current-snapshot-id\"\\s*:\\s*")(1)
      .split("[,}\\s]")(0).toLong
    // Prepare the append's storage files exactly as an Iceberg client
    // library would (data parquet + manifest + manifest list), then
    // REWIND the local metadata publication so the ONLY route to
    // visibility is the REST commit below.
    import spark.implicits._
    graft.sources.IcebergInterop.appendToIceberg(
      Seq((3L, 3.5), (4L, 4.5)).toDF("id", "v"), root)
    val metaDir = java.nio.file.Paths.get(root, "metadata")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val vNew = Files.list(metaDir).toArray.map(_.toString)
      .flatMap("v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(_))
      .map(_.group(1).toInt).max
    val published = om.readTree(
      Files.readAllBytes(metaDir.resolve(s"v$vNew.metadata.json")))
    val newSnapId = published.path("current-snapshot-id").asLong()
    assert(newSnapId != curSnap)
    val snapNode = {
      val it = published.path("snapshots").elements()
      var found: com.fasterxml.jackson.databind.JsonNode = null
      while (it.hasNext) {
        val n = it.next()
        if (n.path("snapshot-id").asLong() == newSnapId) found = n
      }
      found
    }
    assert(snapNode != null)
    Files.delete(metaDir.resolve(s"v$vNew.metadata.json"))
    Files.deleteIfExists(metaDir.resolve(s".v$vNew.metadata.json.crc"))
    Files.write(metaDir.resolve("version-hint.text"),
      String.valueOf(vNew - 1).getBytes(StandardCharsets.UTF_8))
    Files.deleteIfExists(metaDir.resolve(".version-hint.text.crc"))
    assert(graft.sources.IcebergInterop.readIceberg(spark, root)
      .count() == 2) // rewound: the append is invisible pre-commit
    // ---- raw HTTP Iceberg-spec commit: requirements + updates ----
    val payload = s"""{
      "requirements": [
        {"type": "assert-table-uuid", "uuid": "$uuid"},
        {"type": "assert-ref-snapshot-id", "ref": "main",
         "snapshot-id": $curSnap}
      ],
      "updates": [
        {"action": "add-snapshot",
         "snapshot": ${om.writeValueAsString(snapNode)}},
        {"action": "set-snapshot-ref", "ref-name": "main",
         "type": "branch", "snapshot-id": $newSnapId},
        {"action": "set-properties",
         "updates": {"committed-by": "raw-http"}}
      ]
    }"""
    val (code, resp) =
      httpReq("POST", "/v1/namespaces/cdb/tables/c", Some(payload))
    assert(code == 200, resp)
    assert(resp.contains("\"metadata-location\""), resp)
    // a graft read now sees the committed rows
    assert(graft.sources.IcebergInterop.readIceberg(spark, root)
      .count() == 4)
    val after = new String(Files.readAllBytes(
      metaDir.resolve(s"v$vNew.metadata.json")), StandardCharsets.UTF_8)
    assert(after.contains("committed-by"), after.take(200))
    // a STALE retry (same assert-ref-snapshot-id) 409s per the spec
    val (code2, resp2) =
      httpReq("POST", "/v1/namespaces/cdb/tables/c", Some(payload))
    assert(code2 == 409 && resp2.contains("CommitFailedException"), resp2)
    // unknown actions refuse with 400, not silent acceptance
    val (code3, resp3) = httpReq("POST", "/v1/namespaces/cdb/tables/c",
      Some("""{"updates":[{"action":"no-such-action"}]}"""))
    assert(code3 == 400 && resp3.contains("unsupported"), resp3)
  }

  test("paged listings: pageToken/pageSize server-side, page-size client-side") {
    val s = restSession("rpag")
    s.sql("CREATE NAMESPACE rpag.pg")
    (1 to 7).foreach(i =>
      s.sql(s"CREATE TABLE rpag.pg.t$i (id BIGINT) USING graft"))
    // raw pages of 3: 3 + 3 + 1, token chaining, no token on last page
    val (c1, p1) = httpGet("/v1/namespaces/pg/tables?pageSize=3")
    assert(c1 == 200 && p1.contains("next-page-token"), p1)
    assert(p1.split("\"name\"").length - 1 == 3, p1)
    val tok1 = p1.split("\"next-page-token\":\"")(1).split("\"")(0)
    val (_, p2) = httpGet(s"/v1/namespaces/pg/tables?pageSize=3&pageToken=$tok1")
    assert(p2.contains("next-page-token") &&
      p2.split("\"name\"").length - 1 == 3, p2)
    val tok2 = p2.split("\"next-page-token\":\"")(1).split("\"")(0)
    val (_, p3) = httpGet(s"/v1/namespaces/pg/tables?pageSize=3&pageToken=$tok2")
    assert(!p3.contains("next-page-token") &&
      p3.split("\"name\"").length - 1 == 1, p3)
    // namespaces page the same way
    val (_, n1) = httpGet("/v1/namespaces?pageSize=2")
    assert(n1.contains("namespaces"))
    // a client wired with page-size drains all pages transparently
    val pg = spark.newSession()
    pg.conf.set("spark.sql.catalog.rpg2", "graft.sources.rest.GraftRestCatalog")
    pg.conf.set("spark.sql.catalog.rpg2.type", "rest")
    pg.conf.set("spark.sql.catalog.rpg2.uri", s"http://127.0.0.1:$port")
    pg.conf.set("spark.sql.catalog.rpg2.page-size", "2")
    val names = pg.sql("SHOW TABLES IN rpg2.pg").collect()
      .map(_.getString(1)).toSet
    assert(names == (1 to 7).map(i => s"t$i").toSet, names.toString)
  }

  test("namespace and table properties CRUD") {
    val s = restSession("rprop")
    s.sql("CREATE NAMESPACE rprop.propdb WITH PROPERTIES ('team'='ana', 'tier'='gold')")
    // stored at create, served by loadNamespace
    val (_, load1) = httpGet("/v1/namespaces/propdb")
    assert(load1.contains("\"team\":\"ana\"") &&
      load1.contains("\"tier\":\"gold\""), load1)
    // the spec's updateProperties route reports updated/removed/missing
    val (uc, upd) = httpReq("POST", "/v1/namespaces/propdb/properties", Some(
      """{"removals":["tier","ghost"],"updates":{"team":"bo","region":"eu"}}"""))
    assert(uc == 200, upd)
    assert(upd.contains("\"updated\":[\"team\",\"region\"]"), upd)
    assert(upd.contains("\"removed\":[\"tier\"]"), upd)
    assert(upd.contains("\"missing\":[\"ghost\"]"), upd)
    // SQL surface: ALTER NAMESPACE SET/UNSET and DESCRIBE round-trip
    s.sql("ALTER NAMESPACE rprop.propdb SET PROPERTIES ('lake'='alpha')")
    val (_, load2) = httpGet("/v1/namespaces/propdb")
    assert(load2.contains("\"lake\":\"alpha\"") &&
      load2.contains("\"team\":\"bo\"") && !load2.contains("tier"), load2)
    // a key in both updates and removals is the spec's 400
    assert(httpReq("POST", "/v1/namespaces/propdb/properties", Some(
      """{"removals":["x"],"updates":{"x":"1"}}"""))._1 == 400)
    // the properties sidecar does not make an empty namespace non-empty
    s.sql("CREATE NAMESPACE rprop.scratch WITH PROPERTIES ('a'='1')")
    s.sql("DROP NAMESPACE rprop.scratch")
    assert(httpReq("HEAD", "/v1/namespaces/scratch", None)._1 == 404)
    // table properties commit through the commitTable route
    s.sql("CREATE TABLE rprop.propdb.t (id BIGINT) USING graft")
    s.sql("ALTER TABLE rprop.propdb.t SET TBLPROPERTIES ('retention'='30d')")
    val (_, tbl) = httpGet("/v1/namespaces/propdb/tables/t")
    assert(tbl.contains("\"retention\":\"30d\""), tbl)
    s.sql("ALTER TABLE rprop.propdb.t UNSET TBLPROPERTIES ('retention')")
    assert(!httpGet("/v1/namespaces/propdb/tables/t")._2.contains("retention"))
    // non-property commit actions refuse with 400
    assert(httpReq("POST", "/v1/namespaces/propdb/tables/t", Some(
      """{"updates":[{"action":"add-snapshot","snapshot":{}}]}"""))._1 == 400)
  }

  test("register-table adopts existing metadata; plan route equals graft's pruned plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // an Iceberg table OUTSIDE the warehouse: 4 range-disjoint appended
    // files (appends carry in-flight bounds) so pruning can drop files
    val src = graft.sources.GraftTable.create(spark,
      tmpDir("graft_reg_src_").toString + "/t",
      spark.range(0, 250).select($"id", ($"id" * 2).as("v")).coalesce(1))
    val ext = tmpDir("graft_reg_ice_").toString + "/t"
    graft.sources.IcebergInterop.exportSnapshot(src, ext)
    (1 to 3).foreach(i => graft.sources.IcebergInterop.appendToIceberg(
      spark.range(i * 250L, i * 250L + 250).select($"id", ($"id" * 2).as("v"))
        .coalesce(1), ext))
    val hint = new String(Files.readAllBytes(java.nio.file.Paths.get(
      ext, "metadata", "version-hint.text")), StandardCharsets.UTF_8).trim
    val mloc = s"$ext/metadata/v$hint.metadata.json"
    assert(httpReq("POST", "/v1/namespaces", Some(
      """{"namespace":["regdb"]}"""))._1 == 200)
    // register: the catalog adopts the table by metadata-location
    val (rc, rbody) = httpReq("POST", "/v1/namespaces/regdb/register",
      Some(s"""{"name":"adopted","metadata-location":"$mloc"}"""))
    assert(rc == 200, rbody)
    assert(rbody.contains("\"metadata-location\"") &&
      rbody.contains("\"format-version\""), rbody)
    // a second register of the same name is the spec's 409
    assert(httpReq("POST", "/v1/namespaces/regdb/register",
      Some(s"""{"name":"adopted","metadata-location":"$mloc"}"""))._1 == 409)
    // loadTable + HEAD + list see the adopted table
    val (lc, lbody) = httpGet("/v1/namespaces/regdb/tables/adopted")
    assert(lc == 200 && lbody.contains("\"snapshots\""), lbody)
    assert(httpReq("HEAD", "/v1/namespaces/regdb/tables/adopted", None)._1 == 204)
    assert(httpGet("/v1/namespaces/regdb/tables")._2.contains("adopted"))
    def plannedFiles(body: String): Set[String] =
      "\"file-path\":\"([^\"]+)\"".r.findAllMatchIn(body)
        .map(_.group(1)).toSet
    // unfiltered plan = every live data file
    val (pc, pbody) = httpReq("POST",
      "/v1/namespaces/regdb/tables/adopted/plan", Some("{}"))
    assert(pc == 200 && pbody.contains("\"status\":\"completed\""), pbody)
    val all = plannedFiles(pbody)
    assert(all.size == 4, s"expected 4 files, got $all")
    assert(graft.sources.IcebergInterop.readIceberg(spark, ext)
      .count() == 1000)
    assert(pbody.contains("\"record-count\"") &&
      pbody.contains("\"file-size-in-bytes\""), pbody)
    // filtered plan: the served file list EQUALS graft's own pruned
    // plan for the same predicate (the DML detection-scan pruning)
    val (fc, fbody) = httpReq("POST",
      "/v1/namespaces/regdb/tables/adopted/plan",
      Some("""{"filter":{"type":"lt","term":"id","value":100}}"""))
    assert(fc == 200, fbody)
    val pruned = plannedFiles(fbody)
    val own = graft.sources.IcebergInterop
      .icebergCandidateFiles(spark, ext, col("id") < 100L).toSet
    assert(pruned == own, s"served $pruned vs graft's own $own")
    assert(pruned.size < all.size, "filter should prune range-disjoint files")
    // the filter echoes back as each task's residual (client re-applies)
    assert(fbody.contains("\"residual-filter\""), fbody)
    // an unplannable filter shape plans unpruned (conservative), 200
    val (uc, ubody) = httpReq("POST",
      "/v1/namespaces/regdb/tables/adopted/plan",
      Some("""{"filter":{"type":"starts-with","term":"id","value":"1"}}"""))
    assert(uc == 200 && plannedFiles(ubody) == all, ubody)
    // the adopted table is read-WRITE through the catalog: a commit
    // publishes v<N+1> beside the external metadata and loadTable
    // serves the new current version
    val (cc, cbody) = httpReq("POST", "/v1/namespaces/regdb/tables/adopted",
      Some("""{"updates":[{"action":"set-properties",
              |"updates":{"owner":"adopted-writer"}}]}""".stripMargin))
    assert(cc == 200, cbody)
    val newV = hint.toInt + 1
    assert(cbody.contains(s"v$newV.metadata.json"), cbody.take(300))
    assert(Files.exists(java.nio.file.Paths.get(
      ext, "metadata", s"v$newV.metadata.json")))
    val reload = httpGet("/v1/namespaces/regdb/tables/adopted")._2
    assert(reload.contains(s"v$newV.metadata.json") &&
      reload.contains("adopted-writer"), reload.take(300))
    // a REST-wired session reads the adopted table through plain SQL
    // (the client serves the pointed-at Iceberg metadata read-only)
    val s = restSession("rreg")
    assert(s.sql("SELECT count(*) FROM rreg.regdb.adopted")
      .collect()(0).getLong(0) == 1000L)
    assert(s.sql("SELECT sum(v) FROM rreg.regdb.adopted WHERE id < 10")
      .collect()(0).getLong(0) == (0L until 10L).map(_ * 2).sum)
    // DROP removes only the catalog pointer — the adopted table stays
    assert(httpReq("DELETE", "/v1/namespaces/regdb/tables/adopted",
      None)._1 == 204)
    assert(httpReq("HEAD", "/v1/namespaces/regdb/tables/adopted",
      None)._1 == 404)
    assert(graft.sources.IcebergInterop.readIceberg(spark, ext).count() == 1000)
  }

  test("metrics route: scan reports accepted (204), retained per table, bad input typed") {
    val s = restSession("rcm")
    s.sql("CREATE NAMESPACE IF NOT EXISTS rcm.mdb")
    s.sql("CREATE TABLE rcm.mdb.mt (id BIGINT) USING graft")
    val scanReport =
      """{"report-type":"scan-report","table-name":"mdb.mt",
        |"snapshot-id":1,"filter":true,"schema-id":0,
        |"metrics":{"total-planning-duration":{"count":1,"time-unit":"nanoseconds","total-duration":100}}}"""
        .stripMargin.replace("\n", "")
    // accepted with 204 and retained in order
    assert(httpReq("POST", "/v1/namespaces/mdb/tables/mt/metrics",
      Some(scanReport))._1 == 204)
    val commitReport = scanReport.replace("scan-report", "commit-report")
    assert(httpReq("POST", "/v1/namespaces/mdb/tables/mt/metrics",
      Some(commitReport))._1 == 204)
    val kept = server.metricsReports(Seq("mdb"), "mt")
    assert(kept.size == 2)
    assert(kept.head.contains("scan-report") && kept.last.contains("commit-report"))
    // unknown table -> the catalog's typed 404 envelope
    val (c404, b404) = httpReq("POST",
      "/v1/namespaces/mdb/tables/nope/metrics", Some(scanReport))
    assert(c404 == 404 && b404.contains("NoSuchTableException"), b404)
    // a report without report-type is a 400, not a silent accept
    assert(httpReq("POST", "/v1/namespaces/mdb/tables/mt/metrics",
      Some("""{"snapshot-id":1}"""))._1 == 400)
  }

  test("plan route serves delete files for merge-on-read snapshots") {
    val s = restSession("rmor")
    s.sql("CREATE NAMESPACE rmor.ddb")
    s.sql("CREATE TABLE rmor.ddb.dt (id BIGINT, v DOUBLE) USING graft")
    s.sql("INSERT INTO rmor.ddb.dt VALUES (1, 1.5), (2, 2.5), (3, 3.5)")
    val root = s"$warehouse/ddb/dt"
    graft.sources.IcebergInterop.mirrorToIceberg(
      graft.sources.GraftTable.load(spark, root))
    // promote to v2 (merge-on-read needs it), then a MoR DELETE: the
    // snapshot now carries a position delete file the plan must
    // SERVE, not refuse
    val mdV = Files.list(java.nio.file.Paths.get(root, "metadata")).toArray
      .map(_.toString)
      .flatMap("v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(_))
      .map(_.group(1).toInt).max
    val mdP = java.nio.file.Paths.get(root, "metadata", s"v$mdV.metadata.json")
    Files.write(mdP, new String(Files.readAllBytes(mdP), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 2")
      .getBytes("UTF-8"))
    Files.deleteIfExists(java.nio.file.Paths.get(root, "metadata",
      s".v$mdV.metadata.json.crc"))
    graft.sources.IcebergInterop.deleteFromIceberg(spark, root,
      org.apache.spark.sql.functions.col("id") === 2L)
    val (code, resp) =
      httpReq("POST", "/v1/namespaces/ddb/tables/dt/plan", Some("{}"))
    assert(code == 200, resp)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val plan = om.readTree(resp)
    assert(plan.path("status").asText() == "completed", resp)
    val dels = plan.path("delete-files")
    assert(dels.isArray && dels.size() == 1, resp)
    assert(dels.get(0).path("content").asText() == "position-deletes", resp)
    assert(dels.get(0).path("file-path").asText().nonEmpty, resp)
    // every task references the position delete by index (path-keyed:
    // a foreign path matches nothing, so the superset is correct)
    val tasks = plan.path("file-scan-tasks")
    assert(tasks.size() > 0, resp)
    (0 until tasks.size()).foreach { i =>
      val refs = tasks.get(i).path("delete-file-references")
      assert(refs.size() == 1 && refs.get(0).asInt() == 0, resp)
    }
    // equality-delete a key, then RE-INSERT it: the re-inserting file
    // (newer sequence) must NOT reference the equality delete — a
    // conforming client applying it would drop the re-inserted row
    import spark.implicits._
    graft.sources.IcebergInterop.deleteFromIcebergByKey(
      Seq(1L).toDF("id"), root)
    graft.sources.IcebergInterop.appendToIceberg(
      Seq((1L, 9.9)).toDF("id", "v"), root)
    val resp2 =
      httpReq("POST", "/v1/namespaces/ddb/tables/dt/plan", Some("{}"))._2
    val plan2 = om.readTree(resp2)
    val dels2 = plan2.path("delete-files")
    val eqIdx = (0 until dels2.size()).find(i =>
      dels2.get(i).path("content").asText() == "equality-deletes")
    assert(eqIdx.isDefined, resp2)
    val tasks2 = plan2.path("file-scan-tasks")
    var sawScoped = false
    var sawUnscoped = false
    (0 until tasks2.size()).foreach { i =>
      val refs = (0 until tasks2.get(i).path("delete-file-references").size())
        .map(tasks2.get(i).path("delete-file-references").get(_).asInt())
      if (refs.contains(eqIdx.get)) sawScoped = true else sawUnscoped = true
    }
    // older files reference the equality delete, the re-insert does not
    assert(sawScoped && sawUnscoped, resp2)
  }

  test("plan route serves identity partition values on the data files") {
    import spark.implicits._
    val src = graft.sources.GraftTable.create(spark,
      tmpDir("graft_ppv_src_").toString + "/t",
      Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("id", "seg"),
      partitionBy = Seq("seg"))
    // the mirror publishes a REAL identity partition spec
    graft.sources.IcebergInterop.mirrorToIceberg(src)
    assert(httpReq("POST", "/v1/namespaces",
      Some("""{"namespace":["pdb"]}"""))._1 == 200)
    assert(httpReq("POST", "/v1/namespaces/pdb/register",
      Some(s"""{"name":"pt","metadata-location":"${src.root}/metadata/v1.metadata.json"}"""))._1 == 200)
    val (code, resp) =
      httpReq("POST", "/v1/namespaces/pdb/tables/pt/plan", Some("{}"))
    assert(code == 200, resp)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val tasks = om.readTree(resp).path("file-scan-tasks")
    assert(tasks.size() >= 2, resp) // one file per segment at least
    val segs = (0 until tasks.size()).map(i =>
      tasks.get(i).path("data-file").path("partition").path("seg").asText())
    assert(segs.toSet == Set("A", "B"), resp)
  }

  test("transactions/commit: multi-table atomic commit, all-or-nothing") {
    val s = restSession("rtxn")
    s.sql("CREATE NAMESPACE rtxn.xdb")
    s.sql("CREATE TABLE rtxn.xdb.t1 (id BIGINT) USING graft")
    s.sql("CREATE TABLE rtxn.xdb.t2 (id BIGINT) USING graft")
    s.sql("INSERT INTO rtxn.xdb.t1 VALUES (1)")
    s.sql("INSERT INTO rtxn.xdb.t2 VALUES (2)")
    import graft.sources.{GraftTable, IcebergInterop}
    IcebergInterop.mirrorToIceberg(GraftTable.load(spark, s"$warehouse/xdb/t1"))
    IcebergInterop.mirrorToIceberg(GraftTable.load(spark, s"$warehouse/xdb/t2"))
    def uuidOf(t: String): String = {
      val b = httpGet(s"/v1/namespaces/xdb/tables/$t")._2
      b.split("\"table-uuid\"\\s*:\\s*\"")(1).split("\"")(0)
    }
    def metaDir(t: String) =
      java.nio.file.Paths.get(s"$warehouse/xdb/$t/metadata")
    def maxV(t: String): Int =
      Files.list(metaDir(t)).toArray.map(_.toString)
        .flatMap("v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(_))
        .map(_.group(1).toInt).max
    val (u1, u2) = (uuidOf("t1"), uuidOf("t2"))
    val (v1, v2) = (maxV("t1"), maxV("t2"))
    def txn(uuid2: String) = s"""{
      "table-changes": [
        {"identifier": {"namespace": ["xdb"], "name": "t1"},
         "requirements": [{"type": "assert-table-uuid", "uuid": "$u1"}],
         "updates": [{"action": "set-properties",
                      "updates": {"txn-mark": "one"}}]},
        {"identifier": {"namespace": ["xdb"], "name": "t2"},
         "requirements": [{"type": "assert-table-uuid", "uuid": "$uuid2"}],
         "updates": [{"action": "set-properties",
                      "updates": {"txn-mark": "two"}}]}
      ]}"""
    // atomic success: 204, BOTH tables advance one version with the mark
    val (c, b) = httpReq("POST", "/v1/transactions/commit", Some(txn(u2)))
    assert(c == 204, b)
    assert(maxV("t1") == v1 + 1 && maxV("t2") == v2 + 1)
    assert(httpGet("/v1/namespaces/xdb/tables/t1")._2.contains("txn-mark"))
    assert(httpGet("/v1/namespaces/xdb/tables/t2")._2.contains("txn-mark"))
    // a requirement mismatch on the SECOND table: 409, NEITHER advances
    val (c2, b2) = httpReq("POST", "/v1/transactions/commit",
      Some(txn("not-the-uuid")))
    assert(c2 == 409 && b2.contains("CommitFailedException"), b2)
    assert(maxV("t1") == v1 + 1 && maxV("t2") == v2 + 1)
    // a publish race mid-transaction rolls the transaction back: a
    // "concurrent" writer (the race hook — the window is inside the
    // server's locked section, unreachable deterministically from
    // outside) claims t2's next slot after t1 already published, so
    // t1's published version must be withdrawn
    server.publishRaceHook = Some((ident, v) =>
      if (ident == "xdb.t2")
        Files.write(metaDir("t2").resolve(s"v$v.metadata.json"),
          "{}".getBytes(StandardCharsets.UTF_8)): Unit)
    try {
      val (c3, b3) = httpReq("POST", "/v1/transactions/commit", Some(txn(u2)))
      assert(c3 == 409 && b3.contains("rolled back"), b3)
      assert(maxV("t1") == v1 + 1, s"t1 not rolled back: v=${maxV("t1")}")
    } finally {
      server.publishRaceHook = None
      Files.delete(metaDir("t2").resolve(s"v${v2 + 2}.metadata.json"))
    }
    // malformed shapes are typed 400s
    assert(httpReq("POST", "/v1/transactions/commit",
      Some("""{"table-changes":[]}"""))._1 == 400)
    val dup = """{"table-changes":[
      {"identifier":{"namespace":["xdb"],"name":"t1"},"updates":[]},
      {"identifier":{"namespace":["xdb"],"name":"t1"},"updates":[]}]}"""
    val (c4, b4) = httpReq("POST", "/v1/transactions/commit", Some(dup))
    assert(c4 == 400 && b4.contains("twice"), b4)
    // unknown table -> 404 and nothing published anywhere
    val ghost = """{"table-changes":[
      {"identifier":{"namespace":["xdb"],"name":"nope"},"updates":[]}]}"""
    assert(httpReq("POST", "/v1/transactions/commit", Some(ghost))._1 == 404)
  }

  test("credential vending: header-gated storage credentials in loadTable") {
    val wh = tmpDir("graft_rest_vend_wh_").toString
    val vendServer = new RestCatalogServer(spark, wh,
      credentialVendor = Some(loc => Map(
        "s3.access-key-id" -> "AKTEST",
        "s3.secret-access-key" -> "SKTEST",
        "s3.session-token" -> s"tok:$loc")))
    val p = vendServer.start()
    def req(path: String, headers: Map[String, String]): (Int, String) = {
      val conn = new java.net.URL(s"http://127.0.0.1:$p$path")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      try {
        headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
        val code = conn.getResponseCode
        val st = if (code >= 400) conn.getErrorStream else conn.getInputStream
        (code, if (st == null) ""
               else new String(st.readAllBytes(), StandardCharsets.UTF_8))
      } finally conn.disconnect()
    }
    try {
      Files.createDirectories(java.nio.file.Paths.get(wh, "vdb"))
      import spark.implicits._
      graft.sources.GraftTable.create(spark, s"$wh/vdb/vt",
        Seq((1L, "a")).toDF("id", "v"))
      // no delegation header -> a plain response, no credentials leak
      val (c1, b1) = req("/v1/namespaces/vdb/tables/vt", Map.empty)
      assert(c1 == 200 && !b1.contains("AKTEST") &&
        !b1.contains("storage-credentials"), b1)
      // the spec header -> config carries the vended keys AND the
      // storage-credentials array scoped to the table location
      val (c2, b2) = req("/v1/namespaces/vdb/tables/vt",
        Map("X-Iceberg-Access-Delegation" -> "vended-credentials"))
      assert(c2 == 200, b2)
      assert(b2.contains(""""s3.access-key-id":"AKTEST""""), b2)
      assert(b2.contains(""""storage-credentials""""), b2)
      assert(b2.contains(s""""prefix":"$wh/vdb/vt""""), b2)
    } finally vendServer.stop()
  }
}
