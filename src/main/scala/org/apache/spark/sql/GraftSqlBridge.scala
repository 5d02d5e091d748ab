package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Narrow bridge to the `private[sql]` seams the public API does not expose:
  * building a DataFrame from a custom LogicalPlan, extracting a Column's
  * Catalyst expression, and running a file write on the classic session.
  * Standard practice for Spark extension libraries (placed in the
  * org.apache.spark.sql package for access, nothing else).
  */
object GraftSqlBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Eager ColumnNode -> catalyst conversion. `ExpressionUtils.expression`
    * returns a lazy `ColumnNodeExpression` wrapper that still references
    * non-serializable internal nodes; custom plans need the real tree.
    */
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  def analyzed(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** Catalyst expression -> Column (the reverse seam): lets operators use
    * custom expressions without requiring the function registry, so the
    * DataFrame API works on sessions built without GraftExtensions.
    */
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  /** A session on the SAME SparkContext but WITHOUT any injected
    * extensions — `newSession()` carries the parent's
    * SparkSessionExtensions, so tests of "works on a vanilla session"
    * properties (e.g. PrefixScan's on-demand strategy registration) need
    * this seam to build a genuinely extension-free session.
    */
  def vanillaSession(spark: SparkSession): SparkSession = {
    // the constructor re-applies `spark.sql.extensions` from the
    // SparkContext conf (and the extension-taking constructor is not
    // accessible) — masking the conf key during construction is what
    // makes the session genuinely vanilla
    val sc = spark.asInstanceOf[classic.SparkSession].sparkContext
    val key = "spark.sql.extensions"
    val prev = sc.conf.getOption(key)
    sc.conf.remove(key)
    try new classic.SparkSession(sc)
    finally prev.foreach(sc.conf.set(key, _))
  }

  /** The storage handle behind a `checkpoint()`/`localCheckpoint()`-backed
    * frame. Those blocks are NOT registered in the CacheManager, so
    * `Dataset.unpersist` is a no-op on them — freeing a generation of an
    * iterative algorithm needs the underlying RDD (a `LogicalRDD` leaf in
    * the analyzed plan) to `unpersist()` directly.
    */
  def materializedRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: execution.LogicalRDD => l.rdd
    }

  /** Re-root a computed frame as a STREAMING DataFrame — the V1 streaming
    * `Source.getBatch` contract (the engine checks `isStreaming` on what a
    * source returns). Same seam Delta's pre-DSv2 source used:
    * `internalCreateDataFrame(toRdd, schema, isStreaming = true)`.
    */
  def asStreamingFrame(df: DataFrame): DataFrame = {
    val d = df.asInstanceOf[classic.Dataset[Row]]
    d.sparkSession.internalCreateDataFrame(
      d.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The frame's computed rows as `RDD[InternalRow]` — for `BaseRelation`s
    * that declare `needConversion = false` and hand Spark internal rows
    * directly (skips the external-Row round trip `df.rdd` would pay).
    */
  def internalRdd(df: DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd

  /** Re-root the micro-batch frame a V1 `Sink.addBatch` receives as a plain
    * BATCH DataFrame over the already-computed rows — the frame handed to a
    * sink carries an incremental (streaming) plan that batch writers refuse;
    * this is the same wrapping `foreachBatch` applies before handing the
    * user their batch.
    */
  def asBatchFrame(df: DataFrame): DataFrame = {
    val d = df.asInstanceOf[classic.Dataset[Row]]
    d.sparkSession.internalCreateDataFrame(
      d.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Write `df` as `format` files under `path` (hive-style `col=value/`
    * directories for `partitionBy`) through Spark's own `FileFormatWriter`
    * and the session's commit protocol — the machinery `df.write` runs —
    * with `trackers` attached next to Spark's basic write metrics. Each
    * tracker's task instances see every written row inside the write tasks,
    * and its `processStats` receives the reports of committed tasks only.
    */
  def writeFiles(df: DataFrame, format: execution.datasources.FileFormat,
      path: String, partitionBy: Seq[String],
      trackers: Seq[execution.datasources.WriteJobStatsTracker]): Unit = {
    import execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter}
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val committer = org.apache.spark.internal.io.FileCommitProtocol.instantiate(
      conf.fileCommitProtocolClass, java.util.UUID.randomUUID().toString, path)
    val basic = new BasicWriteJobStatsTracker(
      new org.apache.spark.util.SerializableConfiguration(hadoopConf),
      BasicWriteJobStatsTracker.metrics)
    execution.SQLExecution.withNewExecutionId(qe, Some("save")) {
      val plan = qe.executedPlan
      val out = plan.output
      util.SchemaUtils.checkColumnNameDuplication(out.map(_.name),
        conf.caseSensitiveAnalysis)
      FileFormatWriter.write(spark, plan, format, committer,
        FileFormatWriter.OutputSpec(path, Map.empty, out), hadoopConf,
        partitionBy.map(c => out.find(a => conf.resolver(a.name, c)).get),
        bucketSpec = None, statsTrackers = basic +: trackers, options = Map.empty)
    }
  }
}
