package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One timed public call: `kind` groups calls for the end-to-end
  * percentiles (query, commit, read, tail, stage), `name` is the
  * per-layer bucket (e.g. `delta.merge`). */
case class Op(kind: String, name: String, startMs: Long, startNs: Long, endNs: Long,
              ok: Boolean, parent: String) {
  def ms: Double = (endNs - startNs) / 1e6
  def endMs: Long = startMs + ((endNs - startNs) / 1000000L)
}

/** Times the operations of one run and holds the end-to-end figures of the
  * timed phase. Spans (one per public call, parented by the round or pass
  * that issued it) are kept in memory and written with the result. */
class Recorder {
  val ops = ArrayBuffer.empty[Op]
  val errors = ArrayBuffer.empty[String]
  private var timed = false
  private var parent = "setup"
  var firstOpEpochMs = 0L
  var timedStartMs = 0L
  var timedEndMs = 0L
  private var t0Ns = 0L
  private var cpu0Ns = 0L
  private var gc0Ms = 0L
  private var jit0Ms = 0L
  var wallS = 0.0
  var cpuS = 0.0
  var gcMs = 0.0
  var jitMs = 0.0
  var retainedHeapMb = 0.0

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcTotalMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private def jitTotalMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)

  def startTimed(): Unit = {
    timed = true
    firstOpEpochMs = System.currentTimeMillis()
    timedStartMs = firstOpEpochMs
    t0Ns = System.nanoTime()
    cpu0Ns = os.getProcessCpuTime
    gc0Ms = gcTotalMs
    jit0Ms = jitTotalMs
  }

  def endTimed(): Unit = {
    wallS = (System.nanoTime() - t0Ns) / 1e9
    cpuS = (os.getProcessCpuTime - cpu0Ns) / 1e9
    gcMs = (gcTotalMs - gc0Ms).toDouble
    jitMs = (jitTotalMs - jit0Ms).toDouble
    timedEndMs = System.currentTimeMillis()
    timed = false
    // A full collection leaves only what the session still references.
    // Blocks and broadcasts the program dropped are freed by Spark's
    // ContextCleaner only after a collection has enqueued them, so collect,
    // let the cleaner run, and collect again.
    System.gc()
    Thread.sleep(1000)
    System.gc()
    retainedHeapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed)
      .sum / (1024.0 * 1024.0)
  }

  /** Round / pass grouping for the spans. */
  def within[T](name: String)(f: => T): T = {
    val saved = parent
    parent = name
    try f finally parent = saved
  }

  /** Runs one public call. Outside the timed phase (set-up, warm-up) a
    * failure is fatal; inside it the failure is counted and the run goes
    * on. */
  def op[T](kind: String, name: String)(f: => T): Option[T] = {
    if (!timed) return Some(f)
    val startMs = System.currentTimeMillis()
    val s = System.nanoTime()
    try {
      val r = f
      ops += Op(kind, name, startMs, s, System.nanoTime(), ok = true, parent)
      Some(r)
    } catch {
      case NonFatal(e) =>
        ops += Op(kind, name, startMs, s, System.nanoTime(), ok = false, parent)
        errors += s"$name: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}"
        System.err.println(s"[perfbench] operation $name failed")
        e.printStackTrace()
        None
    }
  }
}

/** Minimal JSON writer for the result file (numbers, strings, seqs, maps). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => apply(other.toString)
  }
}
