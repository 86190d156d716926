package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.GraftOps
import graft.functions.TextFunctions
import graft.metrics.{Lineage, MetricContext}
import graft.sources.{GraftTable, Tables}

/** End-to-end composition: the full curation pipeline a library user
  * would run — filter → dedup (GraftOps) → versioned write (GraftTable)
  * → metrics + OpenLineage into the activity log — asserting the pieces
  * hand off to each other correctly, not just that each works alone. */
class IntegrationSpec extends AnyFunSuite {
  import TestSpark._

  test("curate -> dedup -> versioned write -> metrics/lineage round trip") {
    val wh = tmpDir("graft_e2e_").toString
    val logPath = s"$wh/activity"
    val ctx = new MetricContext(spark, logPath, "silver", "e2e", 2024,
      "corpus curation", jobName = Some("curation"))
    val table = ctx.run {
      val docs = Tables.documents(spark, sf)
      // stage 1: scan-side curation predicates
      val curated = docs
        .filter(col("lang").isin("en", "es", "fr", "de"))
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .filter(col("quality") >= 0.5)
      // stage 2: near-dup removal through the public API
      val pairs = GraftOps.minhashPairs(curated, "doc_id", "text", 0.8)
      val clusters = GraftOps.nearDupClusters(pairs, "doc_a", "doc_b")
      val deduped = GraftOps.applyDedup(curated, "doc_id", clusters)
        .select("doc_id", "lang", "source", "n_chars")
      // stage 3: versioned landing + bookkeeping
      val t = GraftTable.create(spark, s"$wh/corpus", deduped)
      ctx.logMetric("kept_docs", t.read().count().toDouble, "rows", "count",
        tableName = Some("corpus"))
      Lineage.emitOpenLineage(ctx.logger, deduped, "curation", "corpus",
        "silver", "e2e", 2024)
      (t, curated.count(), deduped.count(), clusters)
    }
    ctx.close()
    val (t, curatedN, dedupedN, clusters) = table

    // dedup dropped exactly the non-representative clustered rows
    val expectedDrops = clusters.filter(col("id") =!= col("cluster_rep")).count()
    assert(dedupedN == curatedN - expectedDrops)
    assert(dedupedN > 0 && expectedDrops > 0, "sf corpus plants near-dups")

    // the landed table is the deduped relation, versioned
    assert(t.read().count() == dedupedN)
    assert(t.history().count() == 1)
    t.append(t.read().limit(0)) // a no-op append still versions
    assert(t.readVersion(0).count() == dedupedN)

    // activity log: metric row, completion row, and the lineage event
    // sharing one evolving schema
    val log = ctx.logger.readAll()
    assert(log.filter(col("description") === "kept_docs").count() == 1)
    assert(log.filter(col("metric_function") === "completion" &&
      col("status") === "success").count() == 1)
    val ol = log.filter(col("metric_function") === "openlineage").collect()
    assert(ol.length == 1)
    assert(ol.head.getAs[scala.collection.Seq[String]]("ol_outputs")
      .toSeq == Seq("corpus"))
    assert(ol.head.getAs[scala.collection.Seq[String]]("ol_inputs")
      .exists(_.contains("documents")), "documents scan must appear as input")
  }
}
