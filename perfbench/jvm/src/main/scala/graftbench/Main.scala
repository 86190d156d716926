package graftbench

import java.nio.file.{Files, Paths}

/** One benchmark run in one JVM:
  * `--workload analytics|lakehouse|curation --seed N --units N --cpus N
  *  --trace 0|1 --input DIR --work DIR --out DIR`.
  * Writes `result.json` (end-to-end figures, op samples, check outputs,
  * per-layer counters when traced) and `spans.json` into `--out`. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val traced = a("trace") == "1"
    val units = a("units").toInt
    val t0 = System.nanoTime()
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] $what after ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val spark = graft.Sessions.local("graft-perfbench", cpus = a("cpus").toInt)
    mark("session")
    try {
      val rec = new Recorder
      val trace = if (traced) Some(new Trace(spark)) else None
      trace.foreach(_.attach())
      val w: Workload = a("workload") match {
        case "analytics" => new Analytics(spark, rec, a("input"), a("seed").toLong, units)
        case "lakehouse" => new Lakehouse(spark, rec, a("input"), Paths.get(a("work")), units)
        case "curation" => new Curation(spark, rec, a("input"), units)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      w.setup()
      mark("set-up")
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      rec.startTimed()
      w.run()
      rec.endTimed()
      mark("timed phase")
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      val layers = trace.map(_.metrics(rec, rec.timedStartMs, rec.timedEndMs)).getOrElse(Map.empty)
      val outputs = w.finish(out)
      val result = Map(
        "first_op_epoch_ms" -> rec.firstOpEpochMs,
        "wall_s" -> rec.wallS, "cpu_s" -> rec.cpuS, "retained_heap_mb" -> rec.retainedHeapMb,
        "gc_ms" -> rec.gcMs, "jit_ms" -> rec.jitMs,
        "attempted" -> rec.attempted, "failed" -> rec.failed, "errors" -> rec.errors,
        "ops" -> rec.ops.map(o => Map("kind" -> o.kind, "name" -> o.name, "ms" -> o.ms,
          "ok" -> o.ok)),
        "layers" -> layers, "outputs" -> outputs)
      Files.write(out.resolve("result.json"), Json(result).getBytes("UTF-8"))
      Files.write(out.resolve("spans.json"), Json(rec.ops.map(o => Map(
        "name" -> o.name, "start_ms" -> o.startMs, "end_ms" -> o.endMs,
        "parent" -> o.parent))).getBytes("UTF-8"))
    } finally spark.stop()
  }
}
