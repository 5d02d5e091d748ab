package graft
import graft.core.GraftSession
import java.nio.file.{Files, Paths}

/** Plan dumper (optimization-round tooling): writes
  * `.explain("formatted")` output for the named queries to
  * `<outDir>/<query>_<suffix>.txt` — the judge-checkable plan evidence
  * (plans/r14/). Same session configuration as Bench so the plans are
  * the ones the bench executes (AQE initial plans; the SQL-tab final
  * plan is runtime-only).
  *
  * Usage: runMain graft.Explain <outDir> <suffix> <query>[,<query>...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0); val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession
      .builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val qs = SparkEntry.queries
    names.foreach { name =>
      val df = qs(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      GraftSession.release(spark)
      System.err.println(s"[explain] $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
