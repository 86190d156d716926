package graft.tools

/** Dev profiler: run one `SparkEntry.queries` entry and print wall
  * time, task counts, and per-stage wall times — the quickest way to
  * see whether a query's parallelism and stage shape survive a scale
  * bump (`runMain graft.tools.ProfileQuery <sfDir> <queryName>`).
  * Runs in [[graft.Bench.session]] (`SPARK_GRAFT_CPUS` cores; A/B the
  * aggregate fallback threshold with SPARK_GRAFT_AGG_FALLBACK). Set
  * GRAFT_DEBUG_EXPLAIN=1 to also dump plans where operators support
  * it. */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = if (args.length > 1) args(1) else "d5_embed_neardup"
    val spark = graft.Bench.session("graft-profile-query")
    val maxConc = new java.util.concurrent.atomic.AtomicInteger(0)
    val cur = new java.util.concurrent.atomic.AtomicInteger(0)
    val nTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskStart(t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit = {
        nTasks.incrementAndGet()
        val c = cur.incrementAndGet(); maxConc.updateAndGet(m => math.max(m, c))
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        cur.decrementAndGet(): Unit
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = for { a <- si.submissionTime; b <- si.completionTime } yield b - a
        println(f"STAGE ${si.stageId}%3d tasks=${si.numTasks}%3d wall=${ms.getOrElse(-1L)}%6d ms  ${si.name.takeWhile(_ != '\n').take(90)}")
      }
    })
    val t0 = System.nanoTime()
    val df = graft.SparkEntry.queries(name)(spark, dir)
    val n = df.count()
    println(s"$name rows=$n sec=${(System.nanoTime() - t0) / 1e9} tasks=${nTasks.get} maxConcurrent=${maxConc.get}")
    spark.stop()
  }
}
