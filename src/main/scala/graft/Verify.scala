package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name prefixes to dump
    // (fast single-operator iteration; the driver passes none)
    val only: Option[Seq[String]] =
      args.drop(2).headOption.map(_.split(",").toSeq)
    val spark = Sessions.local("graft-verify", Sessions.envCpus)
    TempRoots.sweepStale()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) =>
        only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      def dump(): Unit = fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      // One retry: a transiently failed dump (host memory pressure on a
      // shared machine) would otherwise drop a green query from the
      // driver's correctness gate. Deterministic queries make the retry
      // safe; a real bug fails both attempts and is still reported.
      try dump()
      catch { case e1: Throwable =>
        System.err.println(s"[verify] $name failed (retrying): ${e1.getMessage}")
        try dump()
        catch { case e2: Throwable =>
          System.err.println(s"[verify] $name failed: ${e2.getMessage}")
        }
      }
      // the dump materialized the result — temp table copies can go
      TempRoots.cleanup()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
