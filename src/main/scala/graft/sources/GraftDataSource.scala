package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider,
  DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** `format("graft")` — the Spark connector surface over [[TxTable]], so
  * the transactional table plugs into every standard entry point instead
  * of being a library-only API (the way the reference's pipelines consume
  * their Delta tables: `spark.read.format("delta")`, `readStream`,
  * `CREATE TABLE ... USING`; e.g. `gps-analytics/src/pipeline/
  * tz_offset.scala:28-48`):
  *
  *  - **Batch read** — `spark.read.format("graft").load(dir)`, with
  *    `option("versionAsOf", v)` time travel. Returns a
  *    `HadoopFsRelation` over [[GraftFileIndex]]: query predicates reach
  *    `listFiles` at planning time and prune files through the table's
  *    zone-map/Bloom sidecars, while the scan itself keeps Spark's
  *    vectorized parquet reader, column pruning, row-group pushdown and
  *    whole-stage codegen. Also serves pure SQL via
  *    `CREATE [TEMPORARY] VIEW/TABLE ... USING graft OPTIONS (path ...)`.
  *  - **Batch CDF read** — `option("readChangeFeed", true)` +
  *    `option("startingVersion", v)`: [[TxTable.readChanges]] as a
  *    relation (net per-commit row deltas with `_change_type` /
  *    `_commit_version`).
  *  - **Batch write** — `df.write.format("graft").mode(m).save(dir)`:
  *    Append → [[TxTable.append]] (optionally
  *    `option("bloomFor", "c1,c2")`), Overwrite → [[TxTable.overwrite]],
  *    ErrorIfExists / Ignore with their standard semantics; a
  *    `.partitionBy(cols)` writes (and thereafter inherits) the hive
  *    `col=value/` layout, which the read path prunes statically;
  *    ErrorIfExists / Ignore commit pinned at version -1 (a racing creator
  *    that loses raises / no-ops). All writes are the table's own atomic
  *    commits — a failed job publishes nothing.
  *  - **Streaming source** — `spark.readStream.format("graft")`: offsets
  *    ARE table versions, so replay is deterministic (a micro-batch is
  *    `readChanges(start, end]`, derived from the immutable log). Default
  *    mode emits net INSERTED rows (table schema); with
  *    `readChangeFeed=true` it emits the full CDF including deletes, and
  *    `maxVersionsPerBatch` bounds each micro-batch for backfills
  *    (admission control, maxFilesPerTrigger's shape).
  *  - **Streaming sink** — `ds.writeStream.format("graft")`: exactly-once
  *    appends, each a [[TxTable.append]] with `txn = (stream:<appId>:batch=,
  *    batchId)`; a micro-batch at or below the app's high-water mark is a
  *    no-op — the commit IS the marker, the same contract as
  *    [[graft.streaming.BatchSink.upsertBatchTx]].
  *
  * Scale shape: all planning decisions are O(files) driver-side metadata
  * (log replay is checkpoint-bounded); all data movement is distributed
  * parquet IO through Spark's own scan/write machinery.
  */
final class GraftDataSource extends RelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  import GraftDataSource._

  override def shortName(): String = "graft"

  // ---- batch read ----

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = pathOf(parameters)
    val asOf = parameters.get("versionAsOf").map(_.toLong)
    if (cdfRequested(parameters)) {
      // CDF is a derived (diffed) relation, not a file listing — serve it
      // computed; consumers are incremental appliers, not scan-heavy
      val from = parameters.get("startingVersion").map(_.toLong).getOrElse(0L) - 1
      ComputedRelation(sqlContext, TxTable.readChanges(spark, dir, from, asOf))
    } else {
      val snap = TxTable.snapshot(dir, asOf)
      if (snap.version < 0)
        throw new IllegalArgumentException(s"no TxTable at $dir")
      GraftFileIndex.relation(spark, snap, snap.files)
    }
  }

  // ---- batch write ----

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val dir = pathOf(parameters)
    val bloomFor = parameters.get("bloomFor").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    // `df.write.partitionBy(...)` arrives encoded under Spark's V1 key;
    // a plain "partitionBy" option is accepted as the SQL-friendly form
    val partitionBy = parameters
      .get(org.apache.spark.sql.execution.datasources.DataSourceUtils
        .PARTITIONING_COLUMNS_KEY)
      .map(org.apache.spark.sql.execution.datasources.DataSourceUtils
        .decodePartitioningColumns)
      .orElse(parameters.get("partitionBy").map(
        _.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
      .getOrElse(Nil)
    mode match {
      case SaveMode.Append =>
        TxTable.append(data, dir, bloomFor, partitionBy = partitionBy)
      case SaveMode.Overwrite =>
        TxTable.overwrite(data, dir, partitionBy = partitionBy)
      case SaveMode.ErrorIfExists | SaveMode.Ignore =>
        try TxTable.create(data, dir, bloomFor, partitionBy)
        catch { case e: java.util.ConcurrentModificationException =>
          if (mode == SaveMode.ErrorIfExists) throw new IllegalStateException(
            s"TxTable $dir already exists (mode=ErrorIfExists)", e) }
    }
    createRelation(sqlContext, parameters)
  }

  // ---- streaming source ----

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), sourceSchemaOf(pathOf(parameters), cdfRequested(parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val dir = pathOf(parameters)
    new GraftStreamSource(sqlContext.sparkSession, dir,
      cdf = cdfRequested(parameters),
      startingVersion =
        parameters.get("startingVersion").map(_.toLong).getOrElse(0L),
      maxVersionsPerBatch =
        parameters.get("maxVersionsPerBatch").map(_.toLong))
  }

  // ---- streaming sink ----

  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val dir = pathOf(parameters)
    // disambiguates two queries appending to one table; checkpoint path is
    // the natural per-query identity when the caller does not name one
    val appId = parameters.getOrElse("txnAppId",
      parameters.getOrElse("checkpointLocation", "default"))
      .hashCode.toHexString
    new GraftStreamSink(dir, appId, partitionColumns)
  }
}

object GraftDataSource {

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft: 'path' is required (load(dir)/save(dir))"))

  private def cdfRequested(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  /** The streaming source's schema: the committed one, plus the change
    * columns for a change-feed stream.
    */
  private[sources] def sourceSchemaOf(dir: String, cdf: Boolean): StructType = {
    val base = TxTable.schemaAt(dir, None).getOrElse(
      throw new IllegalArgumentException(
        s"no TxTable at $dir (the streaming source needs a committed schema)"))
    if (cdf) base.add("_change_type", "string").add("_commit_version", "long")
    else base
  }

  /** A fully-computed BaseRelation (the CDF read): Spark scans the frame
    * as-is; no file-level pruning applies to a diff. `needConversion =
    * false` hands the computed internal rows straight through — no
    * external-Row round trip.
    */
  private final case class ComputedRelation(sqlContext: SQLContext,
      df: DataFrame) extends BaseRelation
      with org.apache.spark.sql.sources.TableScan {
    override def schema: StructType = df.schema
    override def needConversion: Boolean = false
    override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
      org.apache.spark.sql.GraftSqlBridge.internalRdd(df)
        .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
  }
}

/** V1 streaming source over the TxTable log: offset n = "all commits up to
  * version n are consumed". `getOffset` is one driver-side log stat;
  * `getBatch((a, b])` is [[TxTable.readChanges]] over exactly the commits
  * in the range — deterministic under replay because the log and its data
  * files are immutable, which is what makes the engine's recovery
  * contract (re-run the last uncommitted batch) exactly-once end to end
  * when paired with an idempotent sink.
  */
private[graft] final class GraftStreamSource(spark: SparkSession,
    dir: String, cdf: Boolean, startingVersion: Long,
    maxVersionsPerBatch: Option[Long] = None) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  require(maxVersionsPerBatch.forall(_ > 0),
    "maxVersionsPerBatch must be positive")

  override val schema: StructType = GraftDataSource.sourceSchemaOf(dir, cdf)

  private def ver(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.toLong
    case other => other.json.toLong
  }

  /** Trigger.AvailableNow pins the run's end version at start — commits
    * landing mid-run are left for the next run, exactly the batch-bounded
    * semantics the trigger promises.
    */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(TxTable.currentVersion(dir))

  private def latestVersion: Long =
    availableNowCap.getOrElse(TxTable.currentVersion(dir))

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  /** The batch's end version: the table's latest (capped at the
    * AvailableNow pin), additionally capped `maxVersionsPerBatch` past
    * the consumed offset — the admission-control knob that turns a
    * 100k-commit backfill into bounded micro-batches instead of one
    * table-sized batch (FileStreamSource's maxFilesPerTrigger shape;
    * the engine keeps issuing batches until the cap stops binding).
    */
  private def nextOffset(consumed: Option[Long]): Option[Long] = {
    val v = latestVersion
    if (v < startingVersion) return None
    val capped = maxVersionsPerBatch match {
      case Some(m) =>
        math.min(v, consumed.getOrElse(startingVersion - 1) + m)
      case None => v
    }
    Some(capped).filter(c => c > consumed.getOrElse(Long.MinValue))
  }

  override def latestOffset(
      startOffset: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val consumed = Option(startOffset).map {
      case o: Offset => ver(o)
      case o => o.json.toLong
    }
    nextOffset(consumed).map(LongOffset(_)).orNull
  }

  override def getOffset: Option[Offset] = {
    // V1 entry point: no start offset is passed, so the per-batch cap
    // cannot be applied here — engines that support admission control
    // (all modern ones) call latestOffset instead
    val v = latestVersion
    if (v < startingVersion) None else Some(LongOffset(v))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(ver).getOrElse(startingVersion - 1)
    val changes = TxTable.readChanges(spark, dir, from, Some(ver(end)))
    val batch =
      if (cdf) changes
      else changes.where(col("_change_type") === "insert")
        .drop("_change_type", "_commit_version")
    org.apache.spark.sql.GraftSqlBridge.asStreamingFrame(batch)
  }

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"GraftStreamSource[$dir, cdf=$cdf]"
}

/** V1 streaming sink: exactly-once atomic appends. Each micro-batch is
  * the transaction `(stream:<appId>:batch=, batchId)` of [[TxTable.append]]:
  * a replay after crash-recovery, even one racing its own original, is at
  * or below the app's high-water mark and no-ops, so duplicates are
  * impossible however many times the engine re-runs the batch.
  */
private[graft] final class GraftStreamSink(dir: String,
    appId: String, partitionBy: Seq[String] = Nil) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the frame a V1 sink receives carries an incremental plan batch
    // writers refuse — re-root it over the computed rows (foreachBatch's
    // own wrapping)
    TxTable.append(org.apache.spark.sql.GraftSqlBridge.asBatchFrame(data), dir,
      txn = Some(s"stream:$appId:batch=" -> batchId), partitionBy = partitionBy)
    ()
  }

  override def toString: String = s"GraftStreamSink[$dir]"
}
