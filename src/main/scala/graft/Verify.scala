package graft
import graft.core.GraftSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Crash-resilient by construction (round-9 hardening): the driver's
  * correctness artifact arrived EMPTY 3 of 4 rounds, and the one failure
  * mode we could reproduce locally is this JVM dying mid-run (e.g. an OOM
  * under a small default --driver-memory on a loaded host; in local mode
  * Spark's uncaught-exception handler exits the whole process). So:
  *  - oracle_sql.json is written FIRST, before any query runs — a
  *    mid-run death leaves every completed query checkable instead of
  *    zeroing the round (the old end-of-run write made any crash
  *    indistinguishable from an empty surface);
  *  - queries run in SORTED name order (q01..q404), so a partial run is
  *    a deterministic prefix and the crash point is identifiable from
  *    the last directory written;
  *  - per-query wall-clock goes to stderr for post-mortems.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet // optional query-name filter for iteration
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession
      .builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
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
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        val t0 = System.nanoTime()
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        finally {
          GraftSession.release(spark)
          System.err.println(
            f"[verify] $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
      }
    }
    spark.stop()
  }
}
