package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

/** Catalyst-integrated file listing for a [[TxTable]] snapshot — the one
  * way the table turns data files into a scan: [[TxTable.read]],
  * [[TxTable.readWhere]], the DML rewrites, the change feed and the
  * `format("graft")` connector all plan through it. It turns the table's
  * zone-map / Bloom sidecars into planning-time data skipping (the
  * architecture Delta's `TahoeFileIndex` uses on the same published
  * design, Armbrust et al., VLDB 2020; the reference's pipelines read
  * Delta tables through exactly this path,
  * `gps-analytics/src/pipeline/tz_offset.scala:32-70`).
  *
  * Spark's `FileSourceStrategy` hands `listFiles` the query's partition
  * and data filters AT PLANNING TIME:
  *
  *  - **partition filters** are evaluated against each hive directory's
  *    typed values (recovered from the `col=value/` path segments the
  *    table's own writer produced) — classic static partition pruning;
  *  - **data filters** are evaluated against the snapshot's zone maps
  *    per file ([[TxStats.prune]]), which are parsed only when a query
  *    hands the index a data filter — a plain snapshot read never
  *    touches the sidecars.
  *
  * Either way a plain `spark.read.format("graft").load(dir).where(p)` —
  * or the same query in pure SQL over a `USING graft` table — scans only
  * the files that can match, with the vectorized parquet reader,
  * whole-stage codegen, and parquet row-group pushdown all intact (they
  * come free from `HadoopFsRelation` + `ParquetFileFormat`; partition
  * values are re-attached by the scan from each `PartitionDirectory`).
  * Fail-open like every stats path: files without stats are kept, and
  * Spark re-applies the full predicate to every surviving row.
  *
  * The index lists `names`, a subset of the pinned snapshot `snap` (all
  * of its files for a read, the touched ones for a rewrite), so
  * concurrent commits never tear a scan.
  */
final class GraftFileIndex private[sources] (snap: TxTable.Snapshot,
    names: Seq[String]) extends FileIndex {

  /** Read-side schema: files written before a column evolved into the
    * table read it as null, so every column is nullable whatever the
    * writes declared.
    */
  private val schema: StructType =
    org.apache.spark.sql.GraftSqlBridge.asNullable(snap.schema)
  private val pcols: Seq[String] = snap.pcols
  private val partFields: Seq[StructField] = pcols.map(c => schema(c))
  private val statuses: Map[String, FileStatus] = names.map { n =>
    val f = new java.io.File(snap.dir, n)
    n -> new FileStatus(f.length, false, 1, 128L * 1024 * 1024,
      f.lastModified, new Path(f.toURI))
  }.toMap

  /** The columns the data files store: the schema minus partition columns. */
  private[sources] def dataSchema: StructType =
    StructType(schema.filterNot(f => pcols.contains(f.name)))

  /** One hive directory's typed partition values, in scan (internal)
    * form: UTF8String / int days / numerics / null.
    */
  private def internalValues(rel: String): InternalRow =
    if (pcols.isEmpty) InternalRow.empty
    else new GenericInternalRow(TxTable.partRaw(rel, pcols).zip(partFields).map {
      case (raw, f) => raw.map(TxTable.partValue(_, f.dataType)).orNull
    }.toArray[Any])

  /** Files grouped by partition directory (one group, empty values, for an
    * unpartitioned table).
    */
  private val groups: Seq[(InternalRow, Seq[String])] =
    if (pcols.isEmpty) Seq((InternalRow.empty, names))
    else names.groupBy(n => n.substring(0, n.lastIndexOf('/') + 1)).toSeq
      .sortBy(_._1)
      .map { case (rel, fs) => (internalValues(fs.head), fs) }

  /** (kept, skipped) of the most recent `listFiles` — observability seam
    * for specs and benchmarks (the driver-side twin of the scan's
    * `numFiles` metric).
    */
  @volatile var lastPrune: Option[(Int, Int)] = None

  override def rootPaths: Seq[Path] =
    Seq(new Path(new java.io.File(snap.dir).toURI))

  override def partitionSchema: StructType = StructType(partFields)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keptGroups =
      if (pcols.isEmpty || partitionFilters.isEmpty) groups
      else {
        // the PartitioningAwareFileIndex discipline: bind by name into the
        // partition schema, evaluate per directory
        val bound = Predicate.createInterpreted(
          partitionFilters.reduce(And).transform {
            case a: AttributeReference =>
              val i = partFields.indexWhere(_.name == a.name)
              BoundReference(i, partFields(i).dataType, nullable = true)
          })
        bound.initialize(0)
        groups.filter { case (values, _) => bound.eval(values) }
      }
    val keep: Seq[String] => Seq[String] = dataFilters.reduceOption(And) match {
      case None => identity // no data filter: the zone maps stay unparsed
      case Some(cond) => fs => TxStats.prune(cond, snap.stats, fs)._1
    }
    val dirs = keptGroups.map { case (values, fs) =>
      PartitionDirectory(values, keep(fs).map(statuses(_)).toArray)
    }
    val keptN = dirs.map(_.files.size).sum
    lastPrune = Some((keptN, names.size - keptN))
    dirs.filter(_.files.nonEmpty)
  }

  override def inputFiles: Array[String] =
    names.map(n => new java.io.File(snap.dir, n).getPath).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.values.map(_.getLen).sum
}

object GraftFileIndex {

  /** `files` of the snapshot as a `HadoopFsRelation`: the data schema
    * from the committed schema minus partition columns (data files do not
    * store them), the partition schema carried by the file index.
    */
  private[sources] def relation(spark: SparkSession, snap: TxTable.Snapshot,
      files: Seq[String]): HadoopFsRelation = {
    val index = new GraftFileIndex(snap, files)
    HadoopFsRelation(index, index.partitionSchema, index.dataSchema, None,
      new ParquetFileFormat(), Map.empty)(spark)
  }
}
