package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Minimal transactional table format — the ACID surface a user migrating
  * the reference's Delta tables expects (S7; `gps-analytics/src/pipeline/
  * tz_offset.scala:28-48` writes `saveAsTable` + `OPTIMIZE`, the append
  * pipeline `stop_locations_append.py` relies on atomic table appends),
  * rebuilt on the published log-structured design (Delta's protocol
  * paper, Armbrust et al., VLDB 2020): a table is a directory of
  * immutable parquet data files plus an append-only `_txlog/` of JSON
  * commits, each listing files ADDED and REMOVED at that version.
  *
  * Guarantees:
  *  - **Atomic commits.** Data files are staged under UUID names first;
  *    the commit publishes by HARD-LINKING the version's JSON into
  *    `_txlog/` — `link(2)` is the POSIX atomic create-if-absent (a
  *    rename would silently replace a concurrent winner's entry), so
  *    exactly ONE writer wins a version (optimistic concurrency; appends
  *    retry on collision, semantic writers raise). A crash before
  *    publish leaves only orphaned data files, invisible to every
  *    reader; `vacuum` reclaims them.
  *  - **Snapshot isolation + time travel.** Readers replay the log to
  *    the requested version (default: latest) and read exactly that
  *    file set — concurrent commits never tear a read.
  *  - **OPTIMIZE.** `compact` rewrites the live file set into few files
  *    in one commit (adds + removes together), leaving history intact.
  *  - **MERGE.** Copy-on-write upsert with FILE PRUNING: one semi-join
  *    over the snapshot tagged with `input_file_name()` finds the files
  *    that contain matched keys; only those are rewritten (anti-join
  *    survivors ∪ source), untouched files carry over. At 100 TB the
  *    rewrite cost is proportional to touched files, not table size —
  *    the same contract as the reference's Delta MERGE. `delete` /
  *    `update` complete the DML surface with the same copy-on-write
  *    shape, file-pruned through the zone maps below.
  *  - **Data skipping.** Every write records per-file min/max/nullCount
  *    zone maps, computed by the write tasks as they write each file
  *    ([[TxStats.WriteStats]]; an atomic `<v>.stats.tsv` sidecar next to
  *    the commit); [[readWhere]] evaluates the predicate against them
  *    driver-side and scans only files that can match. Advisory and
  *    fail-open: a file without stats is always read, and the full
  *    predicate is re-applied to whatever survives — pruning can only
  *    ever be a performance win, never a correctness risk.
  *  - **Z-ORDER.** `compact(zorderBy = ...)` rewrites the snapshot in
  *    Morton order over quantile-bucketed dimensions
  *    ([[graft.functions.ZOrder]]) before splitting into `targetFiles`
  *    range partitions, so the recorded zone maps are tight on EVERY
  *    listed column — the layout half of data skipping, same contract
  *    as Databricks `OPTIMIZE ... ZORDER BY`.
  *  - **Hive partitioning.** `append`/`overwrite` take `partitionBy`:
  *    files live under `col=value/` directories (Spark's own partitioned
  *    writer), the log keys them by relative path, and partition values
  *    are recovered TYPED from the path — synthesized into each file's
  *    zone map with lo == hi, so partition pruning is ordinary stats
  *    pruning and the whole DML/CDF surface works partitioned. A DELETE
  *    that provably covers a file ([[TxStats.mustMatchAll]]) drops it
  *    from the log WITHOUT reading it — partition drops and retention
  *    sweeps are metadata-only.
  *
  * Scale shape: the log is O(commits) driver-side JSON (the list-replay
  * is trivial next to any data pass; a checkpointed log is the known
  * extension); all data movement is distributed parquet IO. Atomic-move
  * publish needs a filesystem with atomic rename (POSIX, HDFS); S3-class
  * stores need a coordination service, exactly as the published design
  * notes.
  */
object TxTable {

  case class Commit(version: Long, op: String, adds: Seq[String],
      removes: Seq[String], schemaJson: String,
      partitionBy: Seq[String] = Nil)

  private def logDir(dir: String): Path = Paths.get(dir, "_txlog")
  private def entryPath(dir: String, v: Long): Path =
    logDir(dir).resolve(f"$v%020d.json")

  /** Latest committed version, or -1 for an empty/absent log. */
  def currentVersion(dir: String): Long = {
    val ld = logDir(dir)
    if (!Files.isDirectory(ld)) -1L
    else Files.list(ld).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && !n.endsWith(".checkpoint.json"))
      .map(_.stripSuffix(".json").toLong)
      .foldLeft(-1L)(math.max)
  }

  // hand-rolled JSON (the Verify.scala convention — no extra deps);
  // fields are file names (no control chars) and a schema JSON blob
  private def esc(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def render(c: Commit): String =
    s"""{"version":${c.version},"op":${esc(c.op)},""" +
      s""""adds":[${c.adds.map(esc).mkString(",")}],""" +
      s""""removes":[${c.removes.map(esc).mkString(",")}],""" +
      (if (c.partitionBy.isEmpty) ""
       else s""""partitionBy":[${c.partitionBy.map(esc).mkString(",")}],""") +
      s""""schema":${esc(c.schemaJson)}}"""

  private def parse(s: String): Commit = {
    // fields were written by `render` in fixed order — a shape-pinned
    // parse keeps the format dependency-free both ways
    def arrOpt(key: String): Option[Seq[String]] =
      (s"""\"$key\":\\[([^\\]]*)\\]""").r.findFirstMatchIn(s).map { m =>
        "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(m.group(1))
          .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toSeq
      }
    def arr(key: String): Seq[String] =
      arrOpt(key).getOrElse(sys.error(s"bad commit entry: $s"))
    val v = "\"version\":(\\d+)".r.findFirstMatchIn(s).get.group(1).toLong
    val op = "\"op\":\"([^\"]*)\"".r.findFirstMatchIn(s).get.group(1)
    val schema = "\"schema\":\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findFirstMatchIn(s).map(_.group(1)
        .replace("\\\"", "\"").replace("\\\\", "\\")).getOrElse("")
    Commit(v, op, arr("adds"), arr("removes"), schema,
      arrOpt("partitionBy").getOrElse(Nil))
  }

  private def readLog(dir: String, asOf: Option[Long]): Seq[Commit] = {
    val top = asOf.getOrElse(Long.MaxValue)
    (0L to currentVersion(dir)).takeWhile(_ <= top).map { v =>
      parse(Files.readString(entryPath(dir, v)))
    }
  }

  /** Commit interval for log checkpoints: at every multiple, publish
    * also writes `<v>.checkpoint.json` holding the FULL live file list
    * at that version, so readers replay at most `CheckpointEvery` JSON
    * entries instead of the whole history — the standard bounded-replay
    * extension for long-lived tables (a 100k-commit table replays 9
    * entries, not 100k).
    */
  val CheckpointEvery = 10L

  private def checkpointPath(dir: String, v: Long): Path =
    logDir(dir).resolve(f"$v%020d.checkpoint.json")

  /** Latest checkpoint at or before `top`, if any: (version, files). */
  private def latestCheckpoint(dir: String, top: Long): Option[(Long, Seq[String])] = {
    val ld = logDir(dir)
    if (!Files.isDirectory(ld)) return None
    val vs = Files.list(ld).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.endsWith(".checkpoint.json"))
      .map(_.stripSuffix(".checkpoint.json").toLong)
      .filter(_ <= top).toSeq
    vs.sorted.lastOption.map { v =>
      val c = parse(Files.readString(checkpointPath(dir, v)))
      (v, c.adds)
    }
  }

  /** Live file names at `asOf` (default latest): replay adds minus
    * removes in version order, starting from the newest checkpoint at or
    * before `asOf`.
    */
  def activeFiles(dir: String, asOf: Option[Long] = None): Seq[String] = {
    val top = asOf.getOrElse(currentVersion(dir))
    val (from, seed) = latestCheckpoint(dir, top)
      .map { case (v, fs) => (v + 1, fs) }.getOrElse((0L, Seq.empty[String]))
    val live = collection.mutable.LinkedHashSet.empty[String]
    live ++= seed
    (from to top).foreach { v =>
      val c = parse(Files.readString(entryPath(dir, v)))
      c.removes.foreach(live.remove); live ++= c.adds
    }
    live.toSeq
  }

  /** The commit at `asOf` (default latest; capped at the latest), if any.
    * Every commit carries the table's schema and partitioning, so this one
    * entry answers both without replaying the log.
    */
  private def commitAt(dir: String, asOf: Option[Long]): Option[Commit] = {
    val v = math.min(asOf.getOrElse(Long.MaxValue), currentVersion(dir))
    if (v < 0) None else Some(parse(Files.readString(entryPath(dir, v))))
  }

  /** Committed schema at `asOf` (default latest), if any commit exists. */
  def schemaAt(dir: String, asOf: Option[Long] = None): Option[StructType] =
    commitAt(dir, asOf).filter(_.schemaJson.nonEmpty).map(c =>
      org.apache.spark.sql.types.DataType.fromJson(c.schemaJson)
        .asInstanceOf[StructType])

  /** The table's partition columns at `asOf` (empty = unpartitioned):
    * the commit's own list; an overwrite may change it (it replaces the
    * file set wholly), an append may not.
    */
  def partitionColsAt(dir: String, asOf: Option[Long] = None): Seq[String] =
    commitAt(dir, asOf).map(_.partitionBy).getOrElse(Nil)

  /** Partition column types that path-encode with EXACT recoverable
    * bounds (the hive layout's value-in-the-directory-name contract).
    * Floats are refused (no stable canonical path form), timestamps are
    * refused (tz-ambiguous in paths) — partition on a date or a string
    * instead, both standard practice.
    */
  private[sources] def partTag(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         DateType => "l"
    case StringType => "s"
    case other => throw new IllegalArgumentException(
      s"partition column type ${other.simpleString} is not supported " +
        "(use integral, string, boolean, or date)")
  }

  /** Raw partition values of a file's relative path, in `pcols` order;
    * `None` = the hive null marker. Paths were written by Spark's own
    * writer, so unescaping is `ExternalCatalogUtils`' (its inverse).
    */
  private[sources] def partRaw(rel: String,
      pcols: Seq[String]): Seq[Option[String]] = {
    val segs = rel.split('/').dropRight(1).toSeq
    require(segs.length == pcols.length,
      s"file $rel does not carry the ${pcols.mkString("/")} partition dirs")
    segs.zip(pcols).map { case (seg, c) =>
      val i = seg.indexOf('=')
      require(i > 0 && ExternalCatalogUtils.unescapePathName(seg.take(i)) == c,
        s"unexpected partition segment $seg (want column $c)")
      val v = ExternalCatalogUtils.unescapePathName(seg.drop(i + 1))
      if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None else Some(v)
    }
  }

  /** A raw partition value normalized into zone-map space (the same
    * Long/String forms [[TxStats]] stores), so partition pruning IS
    * zone-map pruning with lo == hi.
    */
  private[sources] def partNorm(raw: String, dt: DataType): Any = dt match {
    case ByteType | ShortType | IntegerType | LongType => raw.toLong
    case BooleanType => if (raw.toBoolean) 1L else 0L
    case DateType => java.time.LocalDate.parse(raw).toEpochDay
    case StringType => raw
    case other => sys.error(s"unsupported partition type ${other.simpleString}")
  }

  /** Snapshot read (time travel with `asOf`). The scan is PINNED to the
    * snapshot's committed schema, which is what makes additive schema
    * evolution work: files written before a column existed read it as
    * null, exactly like the published log-structured design. An empty
    * snapshot still carries the committed schema.
    */
  def read(spark: SparkSession, dir: String, asOf: Option[Long] = None): DataFrame = {
    val pcols = partitionColsAt(dir, asOf)
    if (pcols.nonEmpty) {
      // partitioned: the file-source relation re-attaches partition values
      // from the directory names (data files do not store them); project
      // back to the committed column order
      val schema = schemaAt(dir, asOf).getOrElse(new StructType())
      return GraftFileIndex.frame(spark, dir, asOf)
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    }
    val files = activeFiles(dir, asOf)
    val schema = schemaAt(dir, asOf)
    if (files.nonEmpty)
      schema.map(s => spark.read.schema(s))
        .getOrElse(spark.read)
        .parquet(files.map(f => s"$dir/$f"): _*)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema.getOrElse(new StructType()))
  }

  private def statsPath(dir: String, v: Long): Path =
    logDir(dir).resolve(f"$v%020d.stats.tsv")

  private def statsCkptPath(dir: String, v: Long): Path =
    logDir(dir).resolve(f"$v%020d.stats.ckpt.tsv")

  /** Zone maps of every file that has them at `asOf` (keyed by file
    * name). O(CheckpointEvery) driver-side metadata — the per-commit
    * stats sidecars are folded into a consolidated checkpoint on the
    * same cadence as the file-list checkpoints, and reads replay only
    * the sidecars after the newest checkpoint at or before `asOf`.
    * Never data IO.
    */
  def fileStats(dir: String, asOf: Option[Long] = None): Map[String, TxStats.FileStats] = {
    val ld = logDir(dir)
    if (!Files.isDirectory(ld)) return Map.empty
    val top = asOf.getOrElse(currentVersion(dir))
    def versionsOf(suffix: String): Seq[Long] = Files.list(ld).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(suffix) &&
        n.stripSuffix(suffix).forall(_.isDigit))
      .map(_.stripSuffix(suffix).toLong)
      .filter(_ <= top).toSeq.sorted
    val ckptV = versionsOf(".stats.ckpt.tsv").lastOption
    val seed = ckptV
      .map(v => TxStats.parse(Files.readString(statsCkptPath(dir, v))))
      .getOrElse(Map.empty[String, TxStats.FileStats])
    val stored = versionsOf(".stats.tsv")
      .filter(v => ckptV.forall(_ < v))
      .foldLeft(seed) { (m, v) =>
        m ++ TxStats.parse(Files.readString(statsPath(dir, v)))
      }
    // partitioned table: each live file's partition values (from its
    // path) become per-file zone maps with lo == hi — partition pruning
    // is thereby ordinary stats pruning, sound for ANY predicate shape
    // the walker understands, including mixed partition+data conditions
    val pcols = partitionColsAt(dir, asOf)
    if (pcols.isEmpty) return stored
    schemaAt(dir, asOf) match {
      case None => stored
      case Some(schema) =>
        val fields = pcols.map(c => schema(c))
        stored ++ activeFiles(dir, asOf).map { f =>
          val base = stored.getOrElse(f,
            TxStats.FileStats(Long.MaxValue, Map.empty))
          val synth = fields.zip(partRaw(f, pcols)).map { case (fd, raw) =>
            val tag = partTag(fd.dataType)
            fd.name -> (raw match {
              case None => // hive null partition: all rows null here
                TxStats.ColStats(tag, base.rows, None, None)
              case Some(r) => partNorm(r, fd.dataType) match {
                case s: String =>
                  // the same truncation soundness rule stored stats use
                  val (lo, hi) = TxStats.strBounds(s, s)
                  TxStats.ColStats(tag, 0L, lo, hi)
                case v =>
                  TxStats.ColStats(tag, 0L, Some(v), Some(v))
              }
            })
          }
          f -> base.copy(cols = base.cols ++ synth)
        }.toMap
    }
  }

  /** Split the snapshot's live files into (kept, skipped) under
    * `predicate` using the recorded zone maps. Observability seam for
    * specs and benchmarks; [[readWhere]] is the consuming read path.
    */
  def pruneFiles(spark: SparkSession, dir: String, predicate: org.apache.spark.sql.Column,
      asOf: Option[Long] = None): (Seq[String], Seq[String]) = {
    val files = activeFiles(dir, asOf)
    schemaAt(dir, asOf) match {
      case None => (files, Nil)
      case Some(schema) =>
        val cond = TxStats.resolve(spark, schema, predicate)
        TxStats.prune(cond, fileStats(dir, asOf), files)
    }
  }

  /** Snapshot read that SKIPS files whose zone maps prove they cannot
    * contain a matching row, then applies the full predicate to the
    * survivors. Semantically identical to `read(...).where(predicate)`;
    * at 100 TB it is the difference between scanning the table and
    * scanning the slice the query touches.
    */
  def readWhere(spark: SparkSession, dir: String, predicate: org.apache.spark.sql.Column,
      asOf: Option[Long] = None): DataFrame = {
    if (partitionColsAt(dir, asOf).nonEmpty)
      // the relation prunes in listFiles (partition values + zone maps)
      // and re-attaches partition columns; Spark re-applies the predicate
      return read(spark, dir, asOf).where(predicate)
    val (kept, _) = pruneFiles(spark, dir, predicate, asOf)
    val schema = schemaAt(dir, asOf)
    val base =
      if (kept.nonEmpty)
        schema.map(s => spark.read.schema(s)).getOrElse(spark.read)
          .parquet(kept.map(f => s"$dir/$f"): _*)
      else
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schema.getOrElse(new StructType()))
    base.where(predicate)
  }

  /** Parquet whose timestamps are written as TIMESTAMP(MICROS), not
    * Spark's INT96 default, set on the write job's own Hadoop conf (never
    * the session's): INT64 timestamps carry ordered footer statistics, so
    * parquet row-group pushdown works on `ts`-range scans of the table,
    * and every Spark reader handles both encodings.
    */
  private final class MicrosParquet extends ParquetFileFormat {
    override def prepareWrite(spark: SparkSession, job: Job,
        options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
      val factory = super.prepareWrite(spark, job, options, dataSchema)
      job.getConfiguration.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
        SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString)
      factory
    }
  }

  /** Stage `df` as parquet under UUID-prefixed names in `dir` (with
    * `partitionBy` set: under hive-style `col=value/` subdirectories, the
    * layout Spark's own partitioned writer produces) and return the staged
    * file names relative to `dir` (not yet visible to any reader) with
    * their zone maps and `bloomFor` filters, computed by the write tasks
    * themselves ([[TxStats.WriteStats]]) — one Spark job. Partition
    * columns are not in the data files; their per-file stats are
    * synthesized from the path at read time ([[fileStats]]).
    */
  private def stage(df: DataFrame, dir: String, partitionBy: Seq[String] = Nil,
      bloomFor: Seq[String] = Nil): (Seq[String], Map[String, TxStats.FileStats]) = {
    val token = java.util.UUID.randomUUID().toString.take(12)
    val tmp = Paths.get(dir, s"_staging-$token")
    val tracker = new TxStats.WriteStats(
      StructType(df.schema.filterNot(f => partitionBy.contains(f.name))),
      bloomFor, partitionBy.size)
    org.apache.spark.sql.GraftSqlBridge.writeFiles(df, new MicrosParquet,
      tmp.toString, partitionBy, Seq(tracker))
    val parts = Files.walk(tmp).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
    val named = parts.zipWithIndex.map { case (p, i) =>
      val rel = tmp.relativize(p.getParent).toString
      val name = f"$token-part$i%05d.parquet"
      val target = if (rel.isEmpty) Paths.get(dir) else Paths.get(dir, rel)
      Files.createDirectories(target)
      Files.move(p, target.resolve(name))
      (if (rel.isEmpty) name else s"$rel/$name",
        tracker.result.get(tmp.relativize(p).toString))
    }
    // recursive cleanup (partitioned staging nests directories)
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.delete)
    (named.map(_._1), named.collect { case (n, Some(st)) => n -> st }.toMap)
  }

  /** Bloom columns of the files a rewrite replaces: a rewritten row keeps
    * the point-lookup index its file had.
    */
  private def bloomsOf(dir: String, base: Long, files: Seq[String]): Seq[String] = {
    val stats = fileStats(dir, Some(base))
    files.flatMap(f => stats.get(f).toSeq.flatMap(_.blooms.keys)).distinct.sorted
  }

  /** Publish a commit. Appends (`basedOn = None`) are order-independent:
    * they claim the next free version, retrying on collision. Semantic
    * commits (overwrite/merge/compact) pass the snapshot version their
    * content was derived from — the commit must land at EXACTLY
    * basedOn + 1, else another writer changed the table under them and
    * the derived file set is stale: raise, caller re-derives.
    */
  private def publish(dir: String, op: String, adds: Seq[String],
      removes: Seq[String], schemaJson: String,
      basedOn: Option[Long],
      stats: Map[String, TxStats.FileStats] = Map.empty,
      partitionBy: Seq[String] = Nil): Long = {
    Files.createDirectories(logDir(dir))
    var attempts = 0
    while (true) {
      val v = basedOn.map(_ + 1).getOrElse(currentVersion(dir) + 1)
      val tmp = logDir(dir).resolve(s".tmp-${java.util.UUID.randomUUID()}")
      Files.writeString(tmp,
        render(Commit(v, op, adds, removes, schemaJson, partitionBy)))
      // atomic CREATE-IF-ABSENT must be a hard link, not a rename: POSIX
      // rename(2) (what Files.move(ATOMIC_MOVE) compiles to) silently
      // REPLACES an existing target, so two writers racing to the same
      // version would clobber each other's commit — link(2) fails with
      // EEXIST instead, which is the loser's signal to retry (found by
      // the concurrent-appender stress test: 10 of 48 commits lost under
      // the rename scheme)
      val landed =
        try {
          Files.createLink(entryPath(dir, v), tmp)
          Files.delete(tmp)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            Files.delete(tmp)
            false
        }
      if (landed) {
        // zone-map sidecar AFTER the commit wins its version (a commit
        // without stats is merely unprunable — fail-open by design, so
        // a crash in this window cannot affect correctness)
        if (stats.nonEmpty) {
          val st = logDir(dir).resolve(s".stats-${java.util.UUID.randomUUID()}")
          Files.writeString(st, TxStats.render(stats))
          try Files.move(st, statsPath(dir, v), StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.nio.file.FileAlreadyExistsException =>
            Files.delete(st) }
        }
        // best-effort bounded-replay checkpoint; a crash before this
        // write only means readers replay from the previous checkpoint
        if (v > 0 && v % CheckpointEvery == 0) {
          val live = activeFiles(dir, Some(v))
          val ct = logDir(dir).resolve(s".ckpt-${java.util.UUID.randomUUID()}")
          Files.writeString(ct, render(Commit(v, "checkpoint", live, Nil,
            schemaAt(dir, Some(v)).map(_.json).getOrElse(""),
            partitionColsAt(dir, Some(v)))))
          try Files.move(ct, checkpointPath(dir, v),
            StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.nio.file.FileAlreadyExistsException =>
            Files.delete(ct) }
          // consolidated zone-map checkpoint on the same cadence, live
          // files only (bounds stats replay AND sheds dead entries)
          val liveSet = live.toSet
          val sct = logDir(dir).resolve(s".sckpt-${java.util.UUID.randomUUID()}")
          Files.writeString(sct, TxStats.render(
            fileStats(dir, Some(v)).filter(kv => liveSet(kv._1))))
          try Files.move(sct, statsCkptPath(dir, v),
            StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.nio.file.FileAlreadyExistsException =>
            Files.delete(sct) }
        }
        return v
      }
      if (basedOn.isDefined)
        throw new java.util.ConcurrentModificationException(
          s"TxTable $dir: version $v committed concurrently; " +
            s"re-validate and retry the $op")
      attempts += 1
      if (attempts > 100) sys.error(s"TxTable $dir: publish starved")
    }
    -1L // unreachable
  }

  /** Raise unless the table still sits at the version the caller derived
    * its write from — the CAS guard every semantic writer runs.
    */
  private def requireVersion(dir: String, expected: Option[Long],
      base: Long, op: String): Unit =
    expected.filter(_ != base).foreach { e =>
      throw new java.util.ConcurrentModificationException(
        s"TxTable $dir: $op expected version $e but table is at $base; " +
          "re-derive and retry")
    }

  /** Additive schema evolution: the committed snapshot schema is the
    * existing fields (order kept) plus any NEW fields of the write, so a
    * narrow late append can never drop columns from earlier files and a
    * wider one surfaces its columns as null over old files. A same-name
    * field with a different type is refused — that is a rewrite, not an
    * evolution.
    */
  private def evolve(dir: String, incoming: StructType): StructType =
    schemaAt(dir, None) match {
      case None => incoming
      case Some(old) =>
        val byName = incoming.fields.map(f => f.name -> f).toMap
        old.fields.foreach { f =>
          byName.get(f.name).filter(_.dataType != f.dataType).foreach { g =>
            throw new IllegalArgumentException(
              s"TxTable $dir: column ${f.name} type change " +
                s"${f.dataType.simpleString} -> ${g.dataType.simpleString} " +
                "is not additive evolution")
          }
        }
        val oldNames = old.fieldNames.toSet
        StructType(old.fields ++ incoming.fields.filterNot(f =>
          oldNames(f.name)))
    }

  /** Validate + resolve the partitioning a write runs under: inherit the
    * table's, or establish it on first commit. An append can never change
    * the layout; a write naming partition columns checks they exist with
    * a path-codable type.
    */
  private def resolvePartitioning(dir: String, df: DataFrame,
      requested: Seq[String], op: String, allowChange: Boolean): Seq[String] = {
    val existing =
      if (currentVersion(dir) < 0) Nil else partitionColsAt(dir, None)
    val pcols =
      if (allowChange) { if (requested.nonEmpty) requested else existing }
      else if (currentVersion(dir) < 0) requested
      else {
        require(requested.isEmpty || requested == existing,
          s"TxTable $dir: $op partitionBy ${requested.mkString(",")} does " +
            s"not match the table's layout ${existing.mkString(",")} — " +
            "only overwrite may re-partition a table")
        existing
      }
    pcols.foreach { c =>
      val f = df.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"TxTable $dir: partition column $c is not in the write schema"))
      partTag(f.dataType) // validates the type
    }
    pcols
  }

  /** Atomic append (order-independent — claims the next free version).
    *
    * `bloomFor` opts listed integral/string columns into per-file Bloom
    * filters alongside the zone maps — the point-lookup complement:
    * an equality probe on a high-cardinality key in arrival-order
    * layout passes every file's [min, max], but a Bloom "definitely
    * absent" prunes it (no false negatives, so always sound). Rewrites
    * (merge, update, delete, and compact without its own `bloomFor`)
    * keep the Bloom columns of the files they replace.
    */
  def append(df: DataFrame, dir: String, bloomFor: Seq[String] = Nil,
      opTag: Option[String] = None, partitionBy: Seq[String] = Nil): Long = {
    Files.createDirectories(Paths.get(dir))
    val pcols = resolvePartitioning(dir, df, partitionBy, "append",
      allowChange = false)
    val schema = evolve(dir, df.schema)
    val (names, stats) = stage(df, dir, pcols, bloomFor)
    publish(dir, "append" + opTag.map(":" + _).getOrElse(""), names, Nil,
      schema.json, basedOn = None, stats = stats, partitionBy = pcols)
  }

  /** Atomic full overwrite (snapshot replace). `expectedVersion` is the
    * optimistic-concurrency guard: pass the version your decision was
    * derived from and the write raises if the table moved (CAS).
    * `partitionBy` may differ from the table's current layout — an
    * overwrite replaces the file set wholly, so it is the one write that
    * can (re)partition a table.
    */
  def overwrite(df: DataFrame, dir: String,
      expectedVersion: Option[Long] = None,
      partitionBy: Seq[String] = Nil): Long = {
    Files.createDirectories(Paths.get(dir))
    val base = currentVersion(dir)
    requireVersion(dir, expectedVersion, base, "overwrite")
    val pcols = resolvePartitioning(dir, df, partitionBy, "overwrite",
      allowChange = true)
    val (names, stats) = stage(df, dir, pcols)
    publish(dir, "overwrite", names, activeFiles(dir, Some(base)),
      df.schema.json, basedOn = Some(base), stats = stats,
      partitionBy = pcols)
  }

  /** OPTIMIZE: rewrite the live file set into `targetFiles` files in one
    * commit; data is unchanged, history remains time-travelable.
    *
    * With `zorderBy` set, the rewrite range-partitions and sorts on the
    * Morton-interleaved quantile buckets of those columns
    * ([[graft.functions.ZOrder]]) — `OPTIMIZE ... ZORDER BY`. The
    * recorded zone maps then carry tight bounds on every listed column,
    * so [[readWhere]] prunes on ANY of them; a plain compact (or a
    * single-key sort) only ever serves one.
    */
  def compact(spark: SparkSession, dir: String, targetFiles: Int = 1,
      zorderBy: Seq[String] = Nil, bloomFor: Seq[String] = Nil,
      expectedVersion: Option[Long] = None): Long = {
    val base = currentVersion(dir)
    requireVersion(dir, expectedVersion, base, "compact")
    val pcols = partitionColsAt(dir, Some(base))
    val before = activeFiles(dir, Some(base))
    val snap = read(spark, dir, Some(base))
    val arranged =
      if (zorderBy.isEmpty) snap.coalesce(math.max(targetFiles, 1))
      else snap
        .withColumn("__z", graft.functions.ZOrder.zvalue(snap, zorderBy))
        .repartitionByRange(math.max(targetFiles, 1), col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    // a partitioned snapshot re-stages through the partitioned writer —
    // the layout survives OPTIMIZE; targetFiles bounds the write
    // parallelism, per-directory files follow from it
    val blooms = if (bloomFor.nonEmpty) bloomFor else bloomsOf(dir, base, before)
    val (names, stats) = stage(arranged, dir, pcols, blooms)
    publish(dir, if (zorderBy.isEmpty) "compact" else "zorder",
      names, before, snap.schema.json, basedOn = Some(base), stats = stats,
      partitionBy = pcols)
  }

  /** Snapshot slice of specific live files with partition columns
    * re-attached (typed, cast from each file's path values) — the read
    * the DML rewrites and the CDF diff run on a partitioned table. One
    * plain schema-pinned scan when unpartitioned; one scan per touched
    * partition DIRECTORY unioned otherwise — O(touched directories)
    * plan nodes, which the callers' file pruning already bounds.
    */
  private def readFilesAs(spark: SparkSession, dir: String,
      files: Seq[String], schema: StructType,
      pcols: Seq[String]): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    if (pcols.isEmpty)
      return spark.read.schema(schema).parquet(files.map(f => s"$dir/$f"): _*)
    val dataSchema = StructType(
      schema.filterNot(f => pcols.contains(f.name)))
    files.groupBy(f => f.take(f.lastIndexOf('/') + 1)).toSeq.sortBy(_._1)
      .map { case (_, fs) =>
        val raws = partRaw(fs.head, pcols)
        val base = spark.read.schema(dataSchema)
          .parquet(fs.map(f => s"$dir/$f"): _*)
        pcols.zip(raws).foldLeft(base) { case (df, (c, raw)) =>
          // hive path values cast exactly from their string form
          df.withColumn(c, raw.map(lit(_)).getOrElse(lit(null))
            .cast(schema(c).dataType))
        }.select(schema.fieldNames.map(col).toIndexedSeq: _*)
      }.reduce(_.unionByName(_))
  }

  /** DELETE WHERE: copy-on-write removal of rows matching `predicate`,
    * with ZONE-MAP FILE PRUNING — only files whose recorded stats say
    * they MAY contain a match are rewritten (kept rows re-staged, file
    * swapped in one commit); provably-unaffected files are never read.
    * At 100 TB this is the GDPR-delete shape: removing one key's rows
    * from a clustered (or Bloom-indexed) table touches O(matching
    * files), not the table. A delete that provably matches nothing is
    * a NO-OP (no new version). SQL semantics: a NULL predicate does
    * not delete the row.
    */
  def delete(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      expectedVersion: Option[Long] = None): Long = {
    val base = currentVersion(dir)
    requireVersion(dir, expectedVersion, base, "delete")
    if (base < 0) return base
    val (touched, _) = pruneFiles(spark, dir, predicate, Some(base))
    if (touched.isEmpty) return base
    val schema = schemaAt(dir, Some(base)).getOrElse(new StructType())
    val pcols = partitionColsAt(dir, Some(base))
    // ZERO-READ DROP: a file whose stats prove EVERY row matches the
    // delete predicate ([[TxStats.mustMatchAll]] — e.g. a whole dropped
    // partition's lo==hi value, or an expired retention range entirely
    // past the cutoff) is removed from the log WITHOUT being read. At
    // 100 TB this makes partition drops and retention sweeps
    // metadata-only; only boundary files are rewritten. Fail-open as
    // ever: stats-less or straddling files take the copy-on-write path.
    val cond = TxStats.resolve(spark, schema, predicate)
    val allStats = fileStats(dir, Some(base))
    val rewrite = touched.filterNot(f =>
      allStats.get(f).exists(TxStats.mustMatchAll(cond, _)))
    val kept = readFilesAs(spark, dir, rewrite, schema, pcols)
      .where(!coalesce(predicate, lit(false)))
    val (names, stats) = stage(kept, dir, pcols, bloomsOf(dir, base, rewrite))
    publish(dir, "delete", names, touched, schema.json,
      basedOn = Some(base), stats = stats, partitionBy = pcols)
  }

  /** UPDATE SET ... WHERE: copy-on-write in-place edit of matching rows,
    * same zone-map file pruning as [[delete]]. `set` maps column name →
    * new-value expression (evaluated against the row); non-matching
    * rows and provably-unaffected files are byte-carried. Column TYPES
    * must be preserved — a type-changing assignment is a rewrite, not
    * an update, and is refused.
    */
  def update(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      expectedVersion: Option[Long] = None): Long = {
    val base = currentVersion(dir)
    requireVersion(dir, expectedVersion, base, "update")
    if (base < 0) return base
    val (touched, _) = pruneFiles(spark, dir, predicate, Some(base))
    if (touched.isEmpty) return base
    val schema = schemaAt(dir, Some(base)).getOrElse(new StructType())
    val pcols = partitionColsAt(dir, Some(base))
    val unknown = set.keySet.diff(schema.fieldNames.toSet)
    require(unknown.isEmpty, s"UPDATE of unknown column(s): $unknown")
    val hit = coalesce(predicate, lit(false))
    // SET on a partition column is legal: the rewrite re-stages through
    // the partitioned writer, so moved rows land in their new directory
    val updated = readFilesAs(spark, dir, touched, schema, pcols)
      .withColumns(set.map { case (c, e) =>
        c -> when(hit, e.cast(schema(c).dataType)).otherwise(col(c))
      })
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    require(updated.schema.fields.map(f => (f.name, f.dataType)).sameElements(
      schema.fields.map(f => (f.name, f.dataType))),
      "UPDATE must preserve column types")
    val (names, stats) = stage(updated, dir, pcols, bloomsOf(dir, base, touched))
    publish(dir, "update", names, touched, schema.json,
      basedOn = Some(base), stats = stats, partitionBy = pcols)
  }

  /** MERGE (upsert): rows of `source` replace same-key rows, new keys
    * insert. Copy-on-write with file pruning — only files containing a
    * matched key are rewritten; the rest carry over untouched.
    */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
      keys: Seq[String], expectedVersion: Option[Long] = None,
      opTag: Option[String] = None): Long = {
    Files.createDirectories(Paths.get(dir))
    val base = currentVersion(dir)
    val op = "merge" + opTag.map(":" + _).getOrElse("")
    requireVersion(dir, expectedVersion, base, op)
    if (base < 0) { // first commit: MERGE into an empty table is an insert
      val (names0, stats0) = stage(source, dir)
      return publish(dir, op, names0, Nil,
        evolve(dir, source.schema).json, basedOn = Some(base),
        stats = stats0)
    }
    val pcols = partitionColsAt(dir, Some(base))
    // bare file NAME (the URI-independent token) mapped back to the log's
    // relative path; basenames are UUID-token-unique across the table
    val baseOf = activeFiles(dir, Some(base))
      .map(f => f.split('/').last -> f).toMap
    val snap = read(spark, dir, Some(base)).withColumn("__name",
      element_at(split(input_file_name(), "/"), -1))
    val srcKeys = source.select(keys.map(col): _*).distinct()
    val touchedBases = snap
      .join(broadcast(srcKeys), keys, "left_semi")
      .select("__name").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val touched = touchedBases.map(baseOf).sorted
    val kept =
      if (touched.isEmpty) read(spark, dir).where(lit(false)) // pure insert
      else snap.where(col("__name").isin(touchedBases: _*)).drop("__name")
        .join(srcKeys, keys, "left_anti")
    val newData = kept.unionByName(source)
    val (names, stats) = stage(newData, dir, pcols, bloomsOf(dir, base, touched))
    publish(dir, op, names, touched,
      evolve(dir, source.schema).json, basedOn = Some(base), stats = stats,
      partitionBy = pcols)
  }

  /** Change data feed: NET row-level changes committed in versions
    * (`fromVersion`, `toVersion`] — the incremental-consumption read
    * (Delta's CDF shape): a downstream pipeline applies the delta
    * instead of rescanning the table. Returns the table's columns plus
    * `_change_type` ('insert' | 'delete'; an update surfaces as its
    * delete+insert pair — net-diff semantics, no preimage tracking) and
    * `_commit_version`.
    *
    * Derivation is per commit from the log's add/remove file lists:
    * rows of added files `EXCEPT ALL` rows of removed files are the
    * inserts, the reverse are the deletes — copy-on-write carry-over
    * rows (rewritten unchanged by MERGE) cancel out, so the feed is the
    * minimal delta. Layout-only commits (compact / zorder) produce no
    * changes by construction. Invariant (spec-pinned): applying the
    * feed commit by commit — the net-diff feed is ORDERED; an
    * insert@v and delete@v' of the same row do not commute —
    * `snapshot(from) − deletes(v) + inserts(v)` per version reproduces
    * `snapshot(to)` exactly.
    *
    * Scale shape: each version's diff reads ONLY that commit's
    * added/removed files — O(delta), never O(table); the `exceptAll` is
    * one shuffle over the touched slice. Pure appends and overwrites
    * skip the diff entirely (one side is empty).
    */
  def readChanges(spark: SparkSession, dir: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val top = math.min(toVersion.getOrElse(Long.MaxValue), currentVersion(dir))
    val allCommits = readLog(dir, Some(top))
    val layoutOf: Map[Long, Seq[String]] =
      allCommits.map(c => c.version -> c.partitionBy).toMap
    val commits = allCommits.filter(_.version > fromVersion)
    val layoutOnly = Set("compact", "zorder", "checkpoint")
    val parts = commits.filterNot(c => layoutOnly(c.op)).flatMap { c =>
      if (c.adds.isEmpty && c.removes.isEmpty) None
      else {
        val schema = Option(c.schemaJson).filter(_.nonEmpty)
          .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[StructType])
        // partitioned files re-attach partition values per path. Adds
        // carry the commit's own layout; removes were live at v-1, so
        // they carry the PREVIOUS layout (an overwrite may differ).
        def rd(files: Seq[String], pcols: Seq[String]): DataFrame =
          if (files.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              schema.getOrElse(new StructType()))
          else if (pcols.nonEmpty)
            readFilesAs(spark, dir, files, schema.getOrElse(sys.error(
              s"partitioned commit ${c.version} lacks a schema")), pcols)
          else schema.map(s => spark.read.schema(s)).getOrElse(spark.read)
            .parquet(files.map(f => s"$dir/$f"): _*)
        val added = rd(c.adds, c.partitionBy)
        val removed = rd(c.removes,
          layoutOf.getOrElse(c.version - 1, Nil))
        // Net diff in ONE pass: the textbook `added EXCEPT ALL removed` /
        // `removed EXCEPT ALL added` pair costs two full
        // union+aggregate+replicate shuffles over the SAME file sets
        // (Spark rewrites each ExceptAll exactly that way). One signed
        // count per distinct row gives both directions at once: net > 0
        // is an insert with multiplicity net, net < 0 a delete with
        // multiplicity -net, net = 0 a carried row — identical multiset
        // semantics (NULLs group equal here and in ExceptAll), half the
        // shuffles and half the file reads per commit. One-sided commits
        // (pure appends / pure drops) keep the scan-only fast path.
        val net =
          if (c.removes.isEmpty) added.withColumn("_change_type", lit("insert"))
          else if (c.adds.isEmpty)
            removed.withColumn("_change_type", lit("delete"))
          else {
            val dataCols = added.columns.toSeq
            added.withColumn("__w", lit(1L))
              .unionByName(removed.withColumn("__w", lit(-1L)))
              .groupBy(dataCols.map(col): _*).agg(sum("__w").as("__w"))
              .where(col("__w") =!= 0L)
              .withColumn("_change_type",
                when(col("__w") > 0L, lit("insert")).otherwise(lit("delete")))
              .withColumn("__i",
                explode(sequence(lit(1L), abs(col("__w")))))
              .drop("__w", "__i")
          }
        Some(net.withColumn("_commit_version", lit(c.version)))
      }
    }
    if (parts.isEmpty) {
      val base = schemaAt(dir, Some(top)).getOrElse(new StructType())
        .add("_change_type", "string").add("_commit_version", "long")
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], base)
    } else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Publish a replication apply (TxSync's seam): `newData` replaces
    * the `removes` files in one commit whose op carries the sync tag
    * (`sync:<tag>`) — the idempotence marker the replicator's
    * high-water-mark scan reads back. An empty apply (layout-only or
    * fully-cancelled source commit) stages nothing but still records
    * the tag.
    */
  private[sources] def publishForSync(dir: String, newData: DataFrame,
      removes: Seq[String], basedOn: Long, tag: String): Long = {
    Files.createDirectories(Paths.get(dir))
    // the replica keeps its OWN layout; the apply re-stages through it
    val pcols = partitionColsAt(dir, Some(basedOn))
    // Stage FIRST and decide emptiness from the staged row counts (free —
    // they are in the zone maps the stage just collected): the old
    // `newData.isEmpty` pre-check was a separate action that recomputed
    // the apply's whole delta lineage before the write action ran it
    // again (guide §1.2: don't compute things twice). A fully-cancelled
    // or layout-only apply stages only empty files — dropped here, so the
    // published commit is adds-free exactly as before.
    val (adds0, stats0) = stage(newData, dir, pcols)
    val staged = adds0.map(n => stats0.get(n).map(_.rows).getOrElse(1L)).sum
    val (adds, stats) =
      if (staged == 0L) {
        // delete the staged files AND any partition subdirectories the
        // stage created for them — a replica receiving many cancelled /
        // layout-only syncs must not accumulate empty col=value/ dirs
        val root = Paths.get(dir)
        def dirEmpty(p: java.nio.file.Path): Boolean = {
          val s = Files.list(p)
          try !s.iterator().hasNext finally s.close()
        }
        adds0.foreach { n =>
          val p = Paths.get(dir, n)
          Files.deleteIfExists(p)
          var parent = p.getParent
          while (parent != null && parent != root &&
              Files.isDirectory(parent) && dirEmpty(parent)) {
            Files.delete(parent)
            parent = parent.getParent
          }
        }
        (Seq.empty[String], Map.empty[String, TxStats.FileStats])
      } else (adds0, stats0)
    publish(dir, s"sync:$tag", adds, removes,
      evolve(dir, newData.schema).json, basedOn = Some(basedOn),
      stats = stats, partitionBy = pcols)
  }

  /** True if some commit carries `opTag` (idempotence lookup for sinks). */
  def hasCommitTag(dir: String, opTag: String): Boolean =
    readLog(dir, None).exists(_.op.endsWith(":" + opTag))

  /** Commit ops in version order — the driver-side view [[TxSync]]'s
    * high-water-mark scan reads (the log IS driver metadata; wrapping it
    * in a DataFrame just to `collect` it back was one Spark job per
    * replicate call for nothing).
    */
  private[sources] def commitOps(dir: String): Seq[String] =
    readLog(dir, None).map(_.op)

  /** Commit history as a DataFrame: (version, op, n_adds, n_removes). */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    readLog(dir, None)
      .map(c => (c.version, c.op, c.adds.size.toLong, c.removes.size.toLong))
      .toDF("version", "op", "n_adds", "n_removes")
  }

  /** Reclaim data files no snapshot at or after `retainFrom` can reach:
    * orphans from crashed writers, and files removed before the horizon.
    * Time travel earlier than `retainFrom` stops working — the standard
    * retention trade.
    */
  def vacuum(dir: String, retainFrom: Long = Long.MaxValue): Long = {
    val horizon = math.min(retainFrom, currentVersion(dir))
    val reachable = (horizon to currentVersion(dir))
      .flatMap(v => activeFiles(dir, Some(v))).toSet
    val root = Paths.get(dir)
    // recursive: partitioned tables nest data files under col=value/ dirs
    // (the log keys them by relative path); staging and log dirs excluded
    val onDisk = Files.walk(root).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .filterNot { p =>
        val rel = root.relativize(p).toString
        rel.startsWith("_txlog/") || rel.startsWith("_staging-")
      }
      .toSeq
    val victims = onDisk.filterNot(p => reachable(root.relativize(p).toString))
    victims.foreach(Files.delete)
    victims.size.toLong
  }
}
