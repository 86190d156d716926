package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters from Spark's own listeners, attached only in the
  * traced run. Every event is kept with its time and filtered to the timed
  * phase at the end, so set-up and warm-up never leak into the figures. */
class Trace(spark: SparkSession) {
  private case class Task(finishMs: Long, cpuNs: Long, runMs: Long, gcMs: Long, shW: Long,
                          shR: Long, spill: Long, in: Long, out: Long, outRows: Long)
  private case class Plan(atMs: Long, analysis: Long, optimization: Long, planning: Long,
                          candidates: Long, verified: Long)
  private case class Progress(atMs: Long, durations: Map[String, Long], rows: Long)

  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val jobs = ArrayBuffer.empty[(Long, Long)]
  private val stages = ArrayBuffer.empty[Long]
  private val tasks = ArrayBuffer.empty[Task]
  private val plans = ArrayBuffer.empty[Plan]
  private val progress = ArrayBuffer.empty[Progress]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStart(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.taskInfo.finishTime, m.executorCpuTime, m.executorRunTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten)
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val at = ph.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
      val (cand, ver) = pairYield(qe)
      Trace.this.synchronized {
        plans += Plan(at, ms("analysis"), ms("optimization"), ms("planning"), cand, ver)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      Trace.this.synchronized {
        progress += Progress(System.currentTimeMillis(), d, p.numInputRows)
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** Candidate and verified pair counts of an exact-Jaccard verification,
    * read from the plan's own row metrics: the operator that applies the
    * sorted-array intersection test (a filter, or a join condition once the
    * optimizer folds the filter in) emits the verified pairs, and its first
    * input the candidates. (0, 0) for every other plan. */
  private def pairYield(qe: QueryExecution): (Long, Long) = {
    def rows(p: SparkPlan) = p.metrics.get("numOutputRows").map(_.value)
    val all = try nodes(qe.executedPlan) catch { case _: Exception => Nil }
    val verifiers = all.filter(n => rows(n).isDefined && n.expressions.exists(e =>
      e.toString.toLowerCase.replace("_", "").contains("sortedintersectcount")))
    verifiers.foldLeft((0L, 0L)) { case ((c, v), n) =>
      val in = n.children.headOption.flatMap(ch => nodes(ch).flatMap(rows).headOption)
      (c + in.getOrElse(0L), v + rows(n).getOrElse(0L))
    }
  }

  /** Union of the job intervals inside [s, e], in ms. */
  private def jobUnionMs(s: Long, e: Long): Long = {
    val iv = jobs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    for ((a, b) <- iv) {
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per-layer figures for the timed phase [fromMs, toMs] of `rec`. */
  def metrics(rec: Recorder, fromMs: Long, toMs: Long): Map[String, Double] = synchronized {
    def in(t: Long) = t >= fromMs && t <= toMs
    val ts = tasks.filter(t => in(t.finishMs))
    val ps = plans.filter(p => in(p.atMs))
    val pr = progress.filter(p => in(p.atMs))
    val jobMs = rec.ops.map(o => jobUnionMs(o.startMs, o.endMs)).sum
    val opMs = rec.ops.map(_.ms).sum
    def dur(k: String) = pr.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val cand = ps.map(_.candidates).sum
    Map(
      "plan.analysis_ms" -> ps.map(_.analysis).sum.toDouble,
      "plan.optimization_ms" -> ps.map(_.optimization).sum.toDouble,
      "plan.planning_ms" -> ps.map(_.planning).sum.toDouble,
      "plan.executions" -> ps.size.toDouble,
      "spark.jobs" -> jobs.count { case (a, _) => in(a) }.toDouble,
      "spark.stages" -> stages.count(in).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.job_ms" -> jobMs.toDouble,
      "spark.gap_ms" -> math.max(0.0, opMs - jobMs),
      "exec.cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "exec.run_ms" -> ts.map(_.runMs).sum.toDouble,
      "exec.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "shuffle.write_bytes" -> ts.map(_.shW).sum.toDouble,
      "shuffle.read_bytes" -> ts.map(_.shR).sum.toDouble,
      "spill.bytes" -> ts.map(_.spill).sum.toDouble,
      "input.bytes" -> ts.map(_.in).sum.toDouble,
      "output.bytes" -> ts.map(_.out).sum.toDouble,
      "output.rows" -> ts.map(_.outRows).sum.toDouble,
      "stream.latest_offset_ms" -> dur("latestOffset"),
      "stream.get_batch_ms" -> dur("getBatch"),
      "stream.planning_ms" -> dur("queryPlanning"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.batches" -> pr.count(_.rows > 0).toDouble,
      "stream.rows" -> pr.map(_.rows).sum.toDouble,
      "cur.pair_candidates" -> cand.toDouble,
      "cur.pair_verified" -> ps.map(_.verified).sum.toDouble)
  }
}
