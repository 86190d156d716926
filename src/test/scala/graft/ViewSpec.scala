package graft

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.rest.RestCatalogServer

/** SQL views over both catalog faces: the in-process GraftCatalog
  * (CREATE/ALTER/DROP VIEW + SELECT through views) and the REST
  * catalog's `/v1/…/views` route group (the reference's Polaris ships
  * views: k8s/polaris/, 01_polaris_demo.ipynb) — list/create/load/
  * commit/drop/rename with the spec's error envelopes, including the
  * 409 CommitFailedException on a conflicting replace. */
class ViewSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val warehouse =
    tmpDir("graft_view_wh_").toString
  private lazy val server = new RestCatalogServer(spark, warehouse)
  private lazy val port = server.start()

  private def restSession(cat: String) = {
    val s = spark.newSession()
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.rest.GraftRestCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.type", "rest")
    s.conf.set(s"spark.sql.catalog.$cat.uri", s"http://127.0.0.1:$port")
    s
  }

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

  test("SQL catalog: CREATE VIEW / SELECT / ALTER / SHOW / DROP") {
    val wh = tmpDir("graft_view_sql_").toString
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.vc", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.vc.warehouse", wh)
    s.sql("CREATE NAMESPACE vc.db")
    s.sql("CREATE TABLE vc.db.base (id BIGINT, v DOUBLE) USING graft")
    s.sql("INSERT INTO vc.db.base VALUES (1, 1.5), (2, 2.5), (3, 3.5)")
    s.sql("CREATE VIEW vc.db.top AS SELECT id, v FROM vc.db.base WHERE id > 1")
    // the view resolves through the catalog and stays current with data
    assert(s.table("vc.db.top").count() == 2)
    s.sql("INSERT INTO vc.db.base VALUES (4, 4.5)")
    assert(s.table("vc.db.top").count() == 3)
    assert(s.sql("SELECT sum(id) FROM vc.db.top").head().getLong(0) == 9L)
    // SHOW VIEWS lists it; tables listing does NOT absorb the view dir
    assert(s.sql("SHOW VIEWS IN vc.db").collect()
      .map(_.getString(1)).contains("top"))
    assert(!s.sql("SHOW TABLES IN vc.db").collect()
      .map(_.getString(1)).contains("top"))
    assert(!s.sql("SHOW NAMESPACES IN vc.db").collect()
      .map(_.getString(0)).contains("top"))
    // ALTER VIEW properties round-trip
    s.sql("ALTER VIEW vc.db.top SET TBLPROPERTIES ('k' = 'x')")
    assert(s.sql("SHOW TBLPROPERTIES vc.db.top").collect()
      .exists(r => r.getString(0) == "k" && r.getString(1) == "x"))
    s.sql("ALTER VIEW vc.db.top UNSET TBLPROPERTIES ('k')")
    assert(!s.sql("SHOW TBLPROPERTIES vc.db.top").collect()
      .exists(_.getString(0) == "k"))
    // duplicate create refuses; IF NOT EXISTS passes
    intercept[Exception] {
      s.sql("CREATE VIEW vc.db.top AS SELECT 1 AS one")
    }
    s.sql("CREATE VIEW IF NOT EXISTS vc.db.top AS SELECT 1 AS one")
    assert(s.table("vc.db.top").count() == 3) // original text kept
    s.sql("DROP VIEW vc.db.top")
    intercept[Exception] { s.table("vc.db.top").count() }
  }

  test("REST routes: raw create/load/list/commit/drop + SQL resolution") {
    val a = restSession("rcv")
    a.sql("CREATE NAMESPACE rcv.vdb")
    a.sql("CREATE TABLE rcv.vdb.base (id BIGINT, v DOUBLE) USING graft")
    a.sql("INSERT INTO rcv.vdb.base VALUES (1, 1.5), (2, 2.5), (3, 3.5)")
    // raw HTTP client creates the view (the spec's CreateViewRequest
    // shape, graft payload profile)
    val create = """{"name":"v1","view-version":{"version-id":1,
      |"schema-id":0,"representations":[{"type":"sql",
      |"sql":"SELECT id, v FROM rcv.vdb.base WHERE id > 1",
      |"dialect":"spark"}],"default-namespace":["vdb"]},
      |"properties":{"comment":"raw-created"}}""".stripMargin
      .replace("\n", "")
    val (cc, cbody) = httpReq("POST", "/v1/namespaces/vdb/views", Some(create))
    assert(cc == 200 && cbody.contains("view-uuid") &&
      cbody.contains("metadata-location"), (cc, cbody))
    // loads back with the SQL representation intact
    val (lc, lbody) = httpReq("GET", "/v1/namespaces/vdb/views/v1", None)
    assert(lc == 200 && lbody.contains("SELECT id, v FROM rcv.vdb.base"),
      (lc, lbody))
    // lists under the namespace; absent elsewhere; HEAD semantics
    val (ls, lsBody) = httpReq("GET", "/v1/namespaces/vdb/views", None)
    assert(ls == 200 && lsBody.contains("\"v1\""))
    assert(httpReq("HEAD", "/v1/namespaces/vdb/views/v1", None)._1 == 204)
    assert(httpReq("HEAD", "/v1/namespaces/vdb/views/nope", None)._1 == 404)
    // a graft SQL read resolves the view text through the REST catalog
    assert(a.table("rcv.vdb.v1").count() == 2)
    // replace: add-view-version + set-current-view-version (the spec's
    // commitView), guarded by assert-view-uuid
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val uuid = om.readTree(lbody).path("metadata").path("view-uuid").asText()
    val commit = s"""{"requirements":[{"type":"assert-view-uuid",
      |"uuid":"$uuid"}],"updates":[{"action":"add-view-version",
      |"view-version":{"version-id":2,"schema-id":0,
      |"representations":[{"type":"sql",
      |"sql":"SELECT id FROM rcv.vdb.base","dialect":"spark"}],
      |"default-namespace":["vdb"]}},
      |{"action":"set-current-view-version","view-version-id":-1}]}"""
      .stripMargin.replace("\n", "")
    val (rc, rbody) = httpReq("POST", "/v1/namespaces/vdb/views/v1", Some(commit))
    assert(rc == 200 && rbody.contains("\"current-version-id\":2"),
      (rc, rbody))
    assert(a.table("rcv.vdb.v1").columns.toSeq == Seq("id"))
    assert(a.table("rcv.vdb.v1").count() == 3)
    // conflicting replace: stale uuid -> the spec's 409 envelope
    val stale = commit.replace(uuid, "00000000-0000-0000-0000-000000000000")
    val (sc, sbody) = httpReq("POST", "/v1/namespaces/vdb/views/v1", Some(stale))
    assert(sc == 409 && sbody.contains("CommitFailedException"), (sc, sbody))
    // duplicate create -> 409 AlreadyExists
    val (dc, dbody) = httpReq("POST", "/v1/namespaces/vdb/views", Some(create))
    assert(dc == 409 && dbody.contains("AlreadyExistsException"), (dc, dbody))
    // rename, then drop through the routes
    val rename = """{"source":{"namespace":["vdb"],"name":"v1"},
      |"destination":{"namespace":["vdb"],"name":"v2"}}""".stripMargin
      .replace("\n", "")
    assert(httpReq("POST", "/v1/views/rename", Some(rename))._1 == 204)
    assert(a.table("rcv.vdb.v2").count() == 3)
    assert(httpReq("DELETE", "/v1/namespaces/vdb/views/v2", None)._1 == 204)
    assert(httpReq("GET", "/v1/namespaces/vdb/views/v2", None)._1 == 404)
  }

  test("REST SQL surface: CREATE/SHOW/ALTER/DROP VIEW through the client catalog") {
    val a = restSession("rcw")
    val b = restSession("rcx") // second session, same service
    a.sql("CREATE NAMESPACE rcw.wdb")
    a.sql("CREATE TABLE rcw.wdb.base (id BIGINT) USING graft")
    a.sql("INSERT INTO rcw.wdb.base VALUES (1), (2), (3)")
    a.sql("CREATE VIEW rcw.wdb.odd AS " +
      "SELECT id FROM rcw.wdb.base WHERE id % 2 = 1")
    // visible and evaluable from the OTHER session (catalog names
    // differ but the view text pins its own catalog... so re-create
    // with the shared name is the realistic shape: both sessions see
    // the same listing either way)
    assert(b.sql("SHOW VIEWS IN rcx.wdb").collect()
      .map(_.getString(1)).contains("odd"))
    assert(a.table("rcw.wdb.odd").count() == 2)
    a.sql("ALTER VIEW rcw.wdb.odd SET TBLPROPERTIES ('team' = 'data')")
    assert(a.sql("SHOW TBLPROPERTIES rcw.wdb.odd").collect()
      .exists(r => r.getString(0) == "team" && r.getString(1) == "data"))
    a.sql("DROP VIEW rcw.wdb.odd")
    assert(!a.sql("SHOW VIEWS IN rcw.wdb").collect()
      .map(_.getString(1)).contains("odd"))
  }
}
