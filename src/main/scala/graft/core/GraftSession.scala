package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's only SparkSession factory: every main and the test
  * session build through [[builder]], passing their master and shuffle
  * partitions; a caller adds a `.config` on the returned builder only for
  * a setting that is specific to it, never a copy of the standard ones.
  *
  * Mirrors the reference's session conventions (UTC session timezone,
  * `gps-analytics/src/pipeline/geocode_stop_locations.scala:19`; shuffle
  * partition tuning, `compiled-bookdown/06-mobility.Rmd:227`) but sized for
  * this harness: `local[32]` unless `SPARK_GRAFT_CPUS` says otherwise, AQE
  * on, shuffle.partitions=32. On a real cluster the same builder is used
  * with `master` unset and `shufflePartitions` sized to ~2-3x total cores.
  *
  * The generated-code cache is process-wide: Spark sizes it once per JVM,
  * from the conf of whichever session first triggers codegen, so a session
  * built anywhere else can silently bring back the 100-entry default.
  */
object GraftSession {

  /** Generated-class cache entries (static conf, Spark's default is 100).
    * The cache is keyed by codegen source, and a multi-query run holds far
    * more than 100 distinct codegen units — at the default every pass
    * re-compiles (Janino) every query's whole-stage code and then runs
    * classes the JIT has never seen, which is pure fixed overhead in
    * steady state. Scale-independent: it caches compiled CODE, never data
    * or results.
    */
  private val CodegenCacheEntries = 10000

  def builder(
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      shufflePartitions: Int = 32,
      appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // testdata events.parquet uses TIMESTAMP(NANOS); see Tables.apply.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // Parquet scan sizing: at 100 TB this is the knob that keeps input
      // partitions ~128MB; harmless locally.
      .config("spark.sql.files.maxPartitionBytes", "128MB")
      // Runtime skew-join splitting (the AQE complement to the explicit
      // salting in SkewJoin/q93): oversized post-shuffle partitions are
      // split at runtime. On by default in Spark 4; pinned so a cluster's
      // site config can't silently turn the engine's skew story off.
      .config("spark.sql.adaptive.skewJoin.enabled", "true")

  /** Free what a finished query left cached: `persist()`ed frames in the
    * CacheManager and RDD-level storage (lineage-cut generations,
    * localCheckpoints), which the CacheManager does not track — so no
    * query's blocks leak into the next one's run.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  def local(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
