package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.InSet
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
  *    exactly ONE writer wins a version (optimistic concurrency). Every
  *    writer derives its commit from one snapshot and publishes at
  *    exactly the next version; a semantic writer that loses it raises,
  *    an append takes the new snapshot and, if the layout is unchanged,
  *    re-derives its schema and retries with the same staged files. A
  *    crash before publish leaves only orphaned data files, invisible to
  *    every reader; `vacuum` reclaims them.
  *  - **Snapshot isolation + time travel.** Readers replay the log to
  *    the requested version (default: latest) and read exactly that
  *    file set — concurrent commits never tear a read.
  *  - **OPTIMIZE.** `compact` rewrites the live file set into few files
  *    in one commit (adds + removes together), leaving history intact.
  *  - **MERGE.** Copy-on-write upsert with FILE PRUNING, driven by the
  *    source's key set, collected once: the zone maps and Bloom
  *    filters below pick the candidate files, one shuffle-free
  *    scan of the candidates finds the files that hold a key, and only
  *    those are rewritten (their rows without a source key ∪ source);
  *    untouched files carry over. At 100 TB the rewrite cost is
  *    proportional to touched files, not table size — the same contract
  *    as the reference's Delta MERGE. `delete` / `update` complete the
  *    DML surface with the same copy-on-write shape, file-pruned through
  *    the zone maps below.
  *  - **Data skipping.** Every write records per-file min/max/nullCount
  *    zone maps, computed by the write tasks as they write each file
  *    ([[TxStats.WriteStats]]; an atomic `<v>.stats.tsv` sidecar next to
  *    the commit). Every read is one scan over [[GraftFileIndex]], so
  *    [[readWhere]] (and any filter over [[read]] or `format("graft")`)
  *    has its predicate evaluated against them at planning time, in
  *    `listFiles`, and scans only files that can match. Advisory and
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
  *    whose predicate can only be TRUE on a file's rows (the same
  *    three-valued zone-map walk that prunes scans, read through
  *    [[TxStats.mustMatchAll]]) drops the file from the log WITHOUT
  *    reading it — partition drops, their negations and retention sweeps
  *    are metadata-only.
  *
  * Scale shape: the log is O(commits) driver-side JSON (the list-replay
  * is trivial next to any data pass; a checkpointed log is the known
  * extension); all data movement is distributed parquet IO. Publish needs
  * an atomic create-if-absent (`link(2)` on POSIX; HDFS's exclusive
  * create); S3-class stores need a coordination service, exactly as the
  * published design notes.
  */
object TxTable {

  case class Commit(version: Long, op: String, adds: Seq[String],
      removes: Seq[String], schemaJson: String,
      partitionBy: Seq[String] = Nil)

  private def logDir(dir: String): Path = Paths.get(dir, "_txlog")
  /** The `_txlog/` file `<v><suffix>`: a commit entry by default. */
  private def logFile(dir: String, v: Long, suffix: String = ".json"): Path =
    logDir(dir).resolve(f"$v%020d$suffix")

  /** Versions `v` of the `_txlog/` files named `<v><suffix>`, ascending
    * (none for an absent log). The listing is closed before it returns: a
    * directory handle left open per call runs a busy writer out of file
    * descriptors.
    */
  private def logVersions(dir: String, suffix: String): Seq[Long] = {
    val ld = logDir(dir)
    if (!Files.isDirectory(ld)) Nil
    else {
      val listing = Files.list(ld)
      try listing.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(suffix) && n.stripSuffix(suffix).forall(_.isDigit))
        .map(_.stripSuffix(suffix).toLong).toSeq.sorted
      finally listing.close()
    }
  }

  /** Latest committed version, or -1 for an empty/absent log. */
  def currentVersion(dir: String): Long =
    logVersions(dir, ".json").lastOption.getOrElse(-1L)

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

  private def entry(dir: String, v: Long): Commit =
    parse(Files.readString(logFile(dir, v)))

  /** Commit interval for log checkpoints: at every multiple, publish
    * also writes `<v>.checkpoint.json` holding the FULL live file list
    * at that version, so readers replay at most `CheckpointEvery` JSON
    * entries instead of the whole history — the standard bounded-replay
    * extension for long-lived tables (a 100k-commit table replays 9
    * entries, not 100k).
    */
  val CheckpointEvery = 10L

  /** Live file names at version `top` and the entry that describes that
    * version (its schema and layout): replay adds minus removes in version
    * order, starting from the newest checkpoint at or before `top` (an
    * entry whose adds are the full live file list at its version).
    */
  private def replay(dir: String, top: Long): (Seq[String], Option[Commit]) = {
    val ckpt = logVersions(dir, ".checkpoint.json").filter(_ <= top).lastOption
      .map(v => parse(Files.readString(logFile(dir, v, ".checkpoint.json"))))
    val live = collection.mutable.LinkedHashSet.empty[String]
    ckpt.foreach(live ++= _.adds)
    var last = ckpt
    (ckpt.map(_.version + 1).getOrElse(0L) to top).foreach { v =>
      val c = entry(dir, v)
      c.removes.foreach(live.remove); live ++= c.adds
      last = Some(c)
    }
    (live.toSeq, last)
  }

  /** One resolved snapshot: a version with its live files, committed
    * schema and partition columns, pinned together so a read never pairs
    * one version's files with another's schema or layout. Every scan of
    * the table is built from one ([[scan]]), and every writer derives its
    * commit from one ([[commit]]). The zone maps parse on first
    * use only: [[GraftFileIndex]] asks for them when a query hands it a
    * data filter, DML when it prunes or carries Bloom columns over.
    */
  private[sources] final case class Snapshot(dir: String, version: Long,
      files: Seq[String], schema: StructType, pcols: Seq[String]) {
    lazy val stats: Map[String, TxStats.FileStats] = zoneMaps(this)
  }

  /** The snapshot at `asOf` (default latest), its version resolved once.
    * An absent table is version -1 with no files and an empty schema.
    */
  private[sources] def snapshot(dir: String, asOf: Option[Long] = None): Snapshot = {
    val v = asOf.getOrElse(currentVersion(dir))
    val (files, c) = replay(dir, v)
    Snapshot(dir, v, files, c.flatMap(schemaOf).getOrElse(new StructType()),
      c.map(_.partitionBy).getOrElse(Nil))
  }

  private def schemaOf(c: Commit): Option[StructType] =
    Some(c.schemaJson).filter(_.nonEmpty)
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  /** Live file names at `asOf` (default latest). */
  def activeFiles(dir: String, asOf: Option[Long] = None): Seq[String] =
    snapshot(dir, asOf).files

  /** Committed schema at `asOf` (default latest), if any commit exists. */
  def schemaAt(dir: String, asOf: Option[Long] = None): Option[StructType] =
    Some(snapshot(dir, asOf)).filter(_.version >= 0).map(_.schema)

  /** The table's partition columns at `asOf` (empty = unpartitioned):
    * the commit's own list; an overwrite may change it (it replaces the
    * file set wholly), an append may not.
    */
  def partitionColsAt(dir: String, asOf: Option[Long] = None): Seq[String] =
    snapshot(dir, asOf).pcols

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

  /** A raw partition value in Catalyst's internal form (UTF8String, int
    * days, the integral or boolean itself): what the scan re-attaches, and
    * what [[zoneMaps]] normalizes into each file's lo == hi zone map.
    */
  private[sources] def partValue(raw: String, dt: DataType): Any = dt match {
    case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(raw)
    case ByteType => raw.toByte
    case ShortType => raw.toShort
    case IntegerType => raw.toInt
    case LongType => raw.toLong
    case BooleanType => raw.toBoolean
    case DateType => java.time.LocalDate.parse(raw).toEpochDay.toInt
    case other => sys.error(s"unsupported partition type ${other.simpleString}")
  }

  /** Snapshot read (time travel with `asOf`). The scan is PINNED to the
    * snapshot's committed schema, which is what makes additive schema
    * evolution work: files written before a column existed read it as
    * null, exactly like the published log-structured design. An empty
    * snapshot still carries the committed schema.
    */
  def read(spark: SparkSession, dir: String, asOf: Option[Long] = None): DataFrame = {
    val s = snapshot(dir, asOf)
    scan(spark, s, s.files)
  }

  /** The one way the table turns data files into a scan: `files` of `s`
    * through a [[GraftFileIndex]] pinned to `s`, in committed column
    * order. The file-source relation re-attaches partition values from the
    * directory names (data files do not store them) after the data
    * columns; a partitioned scan projects back.
    */
  private[sources] def scan(spark: SparkSession, s: Snapshot,
      files: Seq[String]): DataFrame = {
    val df = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(GraftFileIndex.relation(spark, s, files))
    if (s.pcols.isEmpty) df
    else df.select(s.schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Zone maps of every file that has them at `asOf` (keyed by file
    * name). O(CheckpointEvery) driver-side metadata — the per-commit
    * stats sidecars are folded into a consolidated checkpoint on the
    * same cadence as the file-list checkpoints, and reads replay only
    * the sidecars after the newest checkpoint at or before `asOf`.
    * Never data IO.
    */
  def fileStats(dir: String, asOf: Option[Long] = None): Map[String, TxStats.FileStats] =
    snapshot(dir, asOf).stats

  private def zoneMaps(s: Snapshot): Map[String, TxStats.FileStats] = {
    def versionsOf(suffix: String): Seq[Long] =
      logVersions(s.dir, suffix).filter(_ <= s.version)
    val ckptV = versionsOf(".stats.ckpt.tsv").lastOption
    val seed = ckptV
      .map(v => TxStats.parse(Files.readString(logFile(s.dir, v, ".stats.ckpt.tsv"))))
      .getOrElse(Map.empty[String, TxStats.FileStats])
    val stored = versionsOf(".stats.tsv")
      .filter(v => ckptV.forall(_ < v))
      .foldLeft(seed) { (m, v) =>
        m ++ TxStats.parse(Files.readString(logFile(s.dir, v, ".stats.tsv")))
      }
    // partitioned table: each live file's partition values (from its
    // path) become per-file zone maps with lo == hi — partition pruning
    // is thereby ordinary stats pruning, sound for ANY predicate shape
    // the walker understands, including mixed partition+data conditions
    if (s.pcols.isEmpty) stored
    else {
      val fields = s.pcols.map(c => s.schema(c))
      stored ++ s.files.map { f =>
        val base = stored.getOrElse(f,
          TxStats.FileStats(Long.MaxValue, Map.empty))
        val synth = fields.zip(partRaw(f, s.pcols)).map { case (fd, raw) =>
          val tag = partTag(fd.dataType)
          fd.name -> (raw match {
            case None => // hive null partition: all rows null here
              TxStats.ColStats(tag, base.rows, None, None)
            case Some(r) => TxStats.normLit(partValue(r, fd.dataType), fd.dataType) match {
              case str: String =>
                // the same truncation soundness rule stored stats use
                val (lo, hi) = TxStats.strBounds(str, str)
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
    * specs, benchmarks and DML; a scan prunes the same way at planning
    * time in [[GraftFileIndex]].
    */
  def pruneFiles(spark: SparkSession, dir: String, predicate: org.apache.spark.sql.Column,
      asOf: Option[Long] = None): (Seq[String], Seq[String]) =
    prune(spark, snapshot(dir, asOf), predicate)

  private def prune(spark: SparkSession, s: Snapshot,
      predicate: org.apache.spark.sql.Column): (Seq[String], Seq[String]) =
    if (s.files.isEmpty) (Nil, Nil)
    else TxStats.prune(TxStats.resolve(spark, s.schema, predicate), s.stats, s.files)

  /** Snapshot read that SKIPS files whose zone maps prove they cannot
    * contain a matching row: `read(...).where(predicate)`, whose data
    * filters reach [[GraftFileIndex]]'s `listFiles` at planning time
    * (partition values and zone maps), and Spark applies the full
    * predicate to the survivors. At 100 TB it is the difference between
    * scanning the table and scanning the slice the query touches.
    */
  def readWhere(spark: SparkSession, dir: String, predicate: org.apache.spark.sql.Column,
      asOf: Option[Long] = None): DataFrame =
    read(spark, dir, asOf).where(predicate)

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
  private def stage(df: DataFrame, dir: String, partitionBy: Seq[String],
      bloomFor: Seq[String]): (Seq[String], Map[String, TxStats.FileStats]) = {
    val token = java.util.UUID.randomUUID().toString.take(12)
    val tmp = Paths.get(dir, s"_staging-$token")
    val tracker = new TxStats.WriteStats(
      StructType(df.schema.filterNot(f => partitionBy.contains(f.name))),
      bloomFor, partitionBy.size)
    GraftSqlBridge.writeFiles(df, new MicrosParquet,
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
  private def bloomsOf(s: Snapshot, files: Seq[String]): Seq[String] =
    files.flatMap(f => s.stats.get(f).toSeq.flatMap(_.blooms.keys)).distinct.sorted

  /** Claim version `c.version` with `c`: true if this writer won it. */
  private def publish(dir: String, c: Commit): Boolean = {
    Files.createDirectories(logDir(dir))
    val tmp = logDir(dir).resolve(s".tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, render(c))
    // atomic CREATE-IF-ABSENT must be a hard link, not a rename: POSIX
    // rename(2) (what Files.move(ATOMIC_MOVE) compiles to) silently
    // REPLACES an existing target, so two writers racing to the same
    // version would clobber each other's commit — link(2) fails with
    // EEXIST instead, which is the loser's signal (found by the
    // concurrent-appender stress test: 10 of 48 commits lost under the
    // rename scheme)
    try { Files.createLink(logFile(dir, c.version), tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.delete(tmp)
  }

  /** The sidecars of a published version `v`: its zone maps, and at
    * every [[CheckpointEvery]] the file-list and zone-map checkpoints.
    */
  private def record(dir: String, v: Long,
      stats: Map[String, TxStats.FileStats]): Unit = {
    def put(target: Path, content: String): Unit = {
      val tmp = logDir(dir).resolve(s".tmp-${java.util.UUID.randomUUID()}")
      Files.writeString(tmp, content)
      try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        Files.delete(tmp) }
    }
    // zone-map sidecar AFTER the commit wins its version (a commit
    // without stats is merely unprunable — fail-open by design, so
    // a crash in this window cannot affect correctness)
    if (stats.nonEmpty) put(logFile(dir, v, ".stats.tsv"), TxStats.render(stats))
    // best-effort bounded-replay checkpoint; a crash before this
    // write only means readers replay from the previous checkpoint
    if (v > 0 && v % CheckpointEvery == 0) {
      val snap = snapshot(dir, Some(v))
      put(logFile(dir, v, ".checkpoint.json"), render(Commit(v, "checkpoint", snap.files,
        Nil, snap.schema.json, snap.pcols)))
      // consolidated zone-map checkpoint on the same cadence, live
      // files only (bounds stats replay AND sheds dead entries)
      val liveSet = snap.files.toSet
      put(logFile(dir, v, ".stats.ckpt.tsv"),
        TxStats.render(snap.stats.filter(kv => liveSet(kv._1))))
    }
  }

  /** The snapshot a writer derives its whole commit from, taken once.
    * `expected` is the optimistic-concurrency guard: raise unless the
    * table still sits at that version.
    */
  private[sources] def pinned(dir: String, expected: Option[Long], op: String): Snapshot = {
    val s = snapshot(dir)
    expected.filter(_ != s.version).foreach { e =>
      throw new java.util.ConcurrentModificationException(
        s"TxTable $dir: $op expected version $e but table is at " +
          s"${s.version}; re-derive and retry")
    }
    s
  }

  /** The version and `n` of `app`'s newest transaction in the entries
    * `[lo, hi]`: one backward scan that stops at the app's newest entry,
    * so a writer that commits every batch reads back to its previous one.
    * The text after the op's kind must be exactly `app` and digits.
    */
  private[sources] def lastTxn(dir: String, app: String, hi: Long,
      lo: Long = 0L): Option[(Long, Long)] = {
    val Recorded = s"[^:]*:${java.util.regex.Pattern.quote(app)}(\\d+)".r
    (hi to lo by -1).iterator.map(v => v -> entry(dir, v).op)
      .collectFirst { case (v, Recorded(n)) => v -> n.toLong }
  }

  /** The one commit path every writer ends in. Stages `data` in layout
    * `pcols`, drops the zero-row staged files (an empty write commits its
    * schema and no data file) and publishes at exactly `s.version + 1`,
    * removing `removes` (files of `s`) under the schema `schemaFor(s)`.
    *
    * An idempotent write `txn = (app, n)` (Delta's per-application
    * transaction id) records the op `<kind>:<app><n>`; `app` ends in a
    * non-digit, so the op reads back as one `(app, n)`. The high-water
    * rule: the write is a no-op, returning the version of the app's newest
    * entry, when that entry records `n' >= n` — in `s`, or among the
    * entries that won the version the write tried; then it deletes its
    * staged files, so a replay racing its own original never publishes.
    *
    * Otherwise a semantic writer that loses its version raises: the table
    * changed under the snapshot its file set was derived from. An append
    * (`rebase`) is order-independent instead: it takes the new snapshot
    * and, if the layout is still `pcols`, re-derives the schema from it
    * (so a column another writer added survives, and a clashing type
    * raises) and publishes the same staged files one version later; if
    * the table was re-partitioned, it raises. A commit that raises
    * deletes its staged files.
    */
  private def commit(s: Snapshot, kind: String, data: DataFrame,
      removes: Seq[String], pcols: Seq[String], bloomFor: Seq[String],
      rebase: Boolean = false, txn: Option[(String, Long)] = None)(
      schemaFor: Snapshot => StructType): Long = {
    val op = txn.fold(kind) { case (app, n) =>
      require(app.nonEmpty && !app.last.isDigit && n >= 0, s"txn ($app, $n)")
      s"$kind:$app$n"
    }
    def recorded(hi: Long, lo: Long): Option[Long] = txn.flatMap { case (app, n) =>
      lastTxn(s.dir, app, hi, lo).collect { case (v, m) if m >= n => v }
    }
    val replay = recorded(s.version, 0L)
    if (replay.nonEmpty) return replay.get
    val schema = schemaFor(s) // a refused schema fails before any data moves
    Files.createDirectories(Paths.get(s.dir))
    val (staged, stats0) = stage(data, s.dir, pcols, bloomFor)
    // the row counts are in the zone maps the stage just collected
    val (empty, adds) = staged.partition(n => stats0.get(n).exists(_.rows == 0L))
    val stats = stats0 -- empty
    def drop(files: Seq[String]): Unit =
      files.foreach(n => Files.deleteIfExists(Paths.get(s.dir, n)))
    drop(empty)
    def conflict(why: String) = new java.util.ConcurrentModificationException(
      s"TxTable ${s.dir}: $why; re-derive and retry the $op")
    // Right(v): published at v; Left(w): entry w already records the txn
    @annotation.tailrec
    def from(at: Snapshot, schema: StructType, attempts: Int): Either[Long, Long] = {
      val v = at.version + 1
      if (publish(s.dir, Commit(v, op, adds, removes, schema.json, pcols))) Right(v)
      else {
        val top = currentVersion(s.dir)
        val replayed = recorded(top, v)
        if (replayed.nonEmpty) Left(replayed.get)
        else if (!rebase) throw conflict(s"version $v committed concurrently")
        else if (attempts >= 100) sys.error(s"TxTable ${s.dir}: publish starved")
        else {
          // pinned at `top`: the versions the rule just read
          val next = snapshot(s.dir, Some(top))
          if (next.pcols != pcols) throw conflict(
            s"re-partitioned by ${next.pcols.mkString(",")} concurrently")
          from(next, schemaFor(next), attempts + 1)
        }
      }
    }
    val won = try from(s, schema, 0) catch { case e: Throwable => drop(adds); throw e }
    won.fold({ w => drop(adds); w }, { v => record(s.dir, v, stats); v })
  }

  /** Additive schema evolution: the committed snapshot schema is the
    * existing fields (order kept) plus any NEW fields of the write, so a
    * narrow late append can never drop columns from earlier files and a
    * wider one surfaces its columns as null over old files. A same-name
    * field with a different type is refused — that is a rewrite, not an
    * evolution.
    */
  private def evolve(s: Snapshot, incoming: StructType): StructType = {
    val byName = incoming.fields.map(f => f.name -> f).toMap
    s.schema.fields.foreach { f =>
      byName.get(f.name).filter(_.dataType != f.dataType).foreach { g =>
        throw new IllegalArgumentException(
          s"TxTable ${s.dir}: column ${f.name} type change " +
            s"${f.dataType.simpleString} -> ${g.dataType.simpleString} " +
            "is not additive evolution")
      }
    }
    val oldNames = s.schema.fieldNames.toSet
    StructType(s.schema.fields ++ incoming.fields.filterNot(f =>
      oldNames(f.name)))
  }

  /** The partitioning a write of `df` over `s` runs under: inherit the
    * table's, or establish it on first commit. Only an overwrite
    * (`allowChange`) may change the layout; every partition column must
    * exist in the write with a path-codable type.
    */
  private def resolvePartitioning(s: Snapshot, df: DataFrame,
      requested: Seq[String], allowChange: Boolean): Seq[String] = {
    val pcols =
      if (s.version < 0 || (allowChange && requested.nonEmpty)) requested
      else {
        require(allowChange || requested.isEmpty || requested == s.pcols,
          s"TxTable ${s.dir}: append partitionBy ${requested.mkString(",")} " +
            s"does not match the table's layout ${s.pcols.mkString(",")} — " +
            "only overwrite may re-partition a table")
        s.pcols
      }
    pcols.foreach { c =>
      val f = df.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"TxTable ${s.dir}: partition column $c is not in the write schema"))
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
    *
    * `txn = (app, n)`, recorded as `append:<app><n>`, makes it exactly-once:
    * a no-op, returning the version of the app's newest entry, when that
    * entry records `n' >= n` (the high-water rule of [[commit]]).
    */
  def append(df: DataFrame, dir: String, bloomFor: Seq[String] = Nil,
      txn: Option[(String, Long)] = None, partitionBy: Seq[String] = Nil): Long = {
    val s = snapshot(dir)
    commit(s, "append", df, Nil,
      resolvePartitioning(s, df, partitionBy, allowChange = false), bloomFor,
      rebase = true, txn)(evolve(_, df.schema))
  }

  /** The first commit of a table, op `append`: pinned at version -1 and
    * never rebased, so it raises `ConcurrentModificationException` when
    * the table exists or another writer creates it first.
    */
  private[sources] def create(df: DataFrame, dir: String,
      bloomFor: Seq[String], partitionBy: Seq[String]): Long = {
    val s = pinned(dir, Some(-1L), "create")
    commit(s, "append", df, Nil, resolvePartitioning(s, df, partitionBy,
      allowChange = false), bloomFor)(_ => df.schema)
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
    val s = pinned(dir, expectedVersion, "overwrite")
    commit(s, "overwrite", df, s.files,
      resolvePartitioning(s, df, partitionBy, allowChange = true), Nil)(
      _ => df.schema)
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
    val s = pinned(dir, expectedVersion, "compact")
    val snap = scan(spark, s, s.files)
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
    val blooms = if (bloomFor.nonEmpty) bloomFor else bloomsOf(s, s.files)
    commit(s, if (zorderBy.isEmpty) "compact" else "zorder", arranged,
      s.files, s.pcols, blooms)(_ => snap.schema)
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
    val s = pinned(dir, expectedVersion, "delete")
    if (s.files.isEmpty) return s.version
    val cond = TxStats.resolve(spark, s.schema, predicate)
    val (touched, _) = TxStats.prune(cond, s.stats, s.files)
    if (touched.isEmpty) return s.version
    // ZERO-READ DROP: a file whose stats prove EVERY row matches the
    // delete predicate ([[TxStats.mustMatchAll]] — e.g. a whole dropped
    // partition's lo==hi value, or an expired retention range entirely
    // past the cutoff) is removed from the log WITHOUT being read. At
    // 100 TB this makes partition drops and retention sweeps
    // metadata-only; only boundary files are rewritten. Fail-open as
    // ever: stats-less or straddling files take the copy-on-write path.
    val lists = new TxStats.ValueLists
    val rewrite = touched.filterNot(f =>
      s.stats.get(f).exists(TxStats.mustMatchAll(cond, _, lists)))
    val kept = scan(spark, s, rewrite).where(!coalesce(predicate, lit(false)))
    commit(s, "delete", kept, touched, s.pcols, bloomsOf(s, rewrite))(_.schema)
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
    val s = pinned(dir, expectedVersion, "update")
    val (touched, _) = prune(spark, s, predicate)
    if (touched.isEmpty) return s.version
    val schema = s.schema
    val unknown = set.keySet.diff(schema.fieldNames.toSet)
    require(unknown.isEmpty, s"UPDATE of unknown column(s): $unknown")
    val hit = coalesce(predicate, lit(false))
    // SET on a partition column is legal: the rewrite re-stages through
    // the partitioned writer, so moved rows land in their new directory
    val updated = scan(spark, s, touched)
      .withColumns(set.map { case (c, e) =>
        c -> when(hit, e.cast(schema(c).dataType)).otherwise(col(c))
      })
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    require(updated.schema.fields.map(f => (f.name, f.dataType)).sameElements(
      schema.fields.map(f => (f.name, f.dataType))),
      "UPDATE must preserve column types")
    commit(s, "update", updated, touched, s.pcols, bloomsOf(s, touched))(_.schema)
  }

  /** MERGE (upsert): rows of `source` replace same-key rows, new keys
    * insert. Copy-on-write with file pruning — only files containing a
    * matched key are rewritten; the rest carry over untouched. `txn =
    * (app, n)` makes it exactly-once under the same high-water rule as
    * [[append]], recorded as `merge:<app><n>`; a MERGE never rebases, so
    * it raises on a lost version unless the winner records the txn.
    */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
      keys: Seq[String], expectedVersion: Option[Long] = None,
      txn: Option[(String, Long)] = None): Long =
    upsert(spark, pinned(dir, expectedVersion, "merge"), keys, source, source,
      "merge", txn)

  /** The keyed upsert MERGE and the sync apply share: in one commit over
    * `s`, rows whose `keys` appear in `keyRows` leave the table and
    * `rows` go in. Copy-on-write with file pruning, driven by one key set:
    *  - the keys of `keyRows` are collected once, in one job (cast to
    *    the table's key types; rows with a null key are dropped, since an
    *    equi-join never matches them) and deduplicated there;
    *  - one predicate, `key INSET keys` (`key` a struct for composite
    *    keys), holds them as one hash set; like join equality, it treats
    *    -0.0 as 0.0 and NaN as NaN;
    *  - the candidate files are those whose zone maps and Bloom filters
    *    admit some key of every key column ([[TxStats.prune]]);
    *  - one scan of the candidates, filtered by the predicate, finds the
    *    files holding a key, their names deduplicated inside each task and
    *    again after the collect — no shuffle and no broadcast;
    *  - those files' other rows carry over (the same predicate, negated)
    *    with `rows`, and every other file stays untouched.
    * An empty snapshot has no such files, so its upsert stages `rows`
    * alone. `keyRows` is evaluated once for the keys, `rows` once by the
    * write.
    */
  private[sources] def upsert(spark: SparkSession, s: Snapshot,
      keys: Seq[String], keyRows: DataFrame, rows: DataFrame, kind: String,
      txn: Option[(String, Long)]): Long = {
    val found = if (s.files.isEmpty) Nil else keySet(spark, s, keys, keyRows)
    def inSet(key: Column, values: Seq[Any]): Column =
      GraftSqlBridge.column(InSet(GraftSqlBridge.expression(key), values.toSet))
    val hit =
      if (keys.size == 1) inSet(col(keys.head), found.map(_.head))
      else inSet(struct(keys.map(col): _*), found.map(InternalRow.fromSeq))
    val (candidates, _) =
      if (found.isEmpty) (Nil, Nil)
      else prune(spark, s, keys.indices.map(i => inSet(col(keys(i)), found.map(_(i))))
        .reduce(_ && _))
    // bare file NAME (the URI-independent token) mapped back to the log's
    // relative path; basenames are UUID-token-unique across the table
    val baseOf = s.files.map(f => f.split('/').last -> f).toMap
    val touched =
      if (candidates.isEmpty) Nil
      else scan(spark, s, candidates).where(hit)
        .select(element_at(split(input_file_name(), "/"), -1))
        .as(Encoders.STRING)
        .mapPartitions((names: Iterator[String]) => names.toSet.iterator)(Encoders.STRING)
        .collect().distinct.map(baseOf).toSeq.sorted
    val data =
      if (s.version < 0) rows
      else if (touched.isEmpty) scan(spark, s, Nil).unionByName(rows) // pure insert
      else scan(spark, s, touched).where(!coalesce(hit, lit(false))).unionByName(rows)
    commit(s, kind, data, touched, s.pcols, bloomsOf(s, touched), txn = txn)(
      evolve(_, rows.schema))
  }

  /** The distinct keys of `keyRows` with no null column, in Catalyst form
    * (one value per key column) and cast to the key types of `s`: one Spark
    * job. Floats are canonicalized (-0.0 to 0.0, one NaN), so the dedup and
    * the key set's hashing see join equality.
    */
  private def keySet(spark: SparkSession, s: Snapshot, keys: Seq[String],
      keyRows: DataFrame): Seq[Seq[Any]] = {
    val types = scan(spark, s, Nil).select(keys.map(col): _*).schema.map(_.dataType)
    val toCatalyst = types.map(CatalystTypeConverters.createToCatalystConverter)
    def canon(v: Any): Any = v match {
      case d: Double => if (d.isNaN) Double.NaN else if (d == 0.0) 0.0 else d
      case f: Float => if (f.isNaN) Float.NaN else if (f == 0.0f) 0.0f else f
      case o => o
    }
    // java.util equality is equals(): canonical NaNs are equal there
    val distinct = new java.util.LinkedHashSet[java.util.List[Any]]()
    keyRows.select(keys.zip(types).map { case (k, t) => col(k).cast(t) }: _*)
      .collect().foreach { r =>
        if (!r.anyNull) distinct.add(java.util.Arrays.asList(
          types.indices.map(i => canon(toCatalyst(i)(r.get(i)))): _*))
      }
    distinct.asScala.map(_.asScala.toSeq).toSeq
  }

  /** Change data feed: NET row-level changes committed in versions
    * (`fromVersion`, `toVersion`] — the incremental-consumption read
    * (Delta's CDF shape): a downstream pipeline applies the delta
    * instead of rescanning the table. Returns the table's columns plus
    * `_change_type` ('insert' | 'delete'; an update surfaces as its
    * delete+insert pair — net-diff semantics, no preimage tracking) and
    * `_commit_version`.
    *
    * Derivation is per commit from the log's add/remove file lists: one
    * signed count per distinct row (+1 per copy in an added file, −1 per
    * copy in a removed one) — a positive net is an insert of that
    * multiplicity, a negative one a delete, zero a copy-on-write
    * carry-over row (rewritten unchanged by MERGE), so the feed is the
    * minimal delta. Layout-only commits (compact / zorder) produce no
    * changes by construction. Invariant (spec-pinned): applying the
    * feed commit by commit — the net-diff feed is ORDERED; an
    * insert@v and delete@v' of the same row do not commute —
    * `snapshot(from) − deletes(v) + inserts(v)` per version reproduces
    * `snapshot(to)` exactly.
    *
    * Scale shape: each version's diff reads ONLY that commit's
    * added/removed files — O(delta), never O(table); the signed count is
    * one aggregate shuffle over the touched slice. One-sided commits
    * (pure appends, pure drops) skip it and only scan. Memory bound: a
    * distinct row with net count n is rebuilt from one `sequence(1, |n|)`
    * array, 8 bytes per copy, held while the row explodes. Spark's own
    * `EXCEPT ALL` rewrite is no lighter: its `ReplicateRows` builds a
    * strict collection of the copies of each row (`NumericRange.map`).
    */
  def readChanges(spark: SparkSession, dir: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val top = math.min(toVersion.getOrElse(Long.MaxValue), currentVersion(dir))
    // the entries the diff reads: the window and the one before it (the
    // layout its first removes were written in), never the whole log
    val allCommits = (math.max(math.min(fromVersion, top), 0L) to top).map(entry(dir, _))
    val layoutOf: Map[Long, Seq[String]] =
      allCommits.map(c => c.version -> c.partitionBy).toMap
    val commits = allCommits.filter(_.version > fromVersion)
    val layoutOnly = Set("compact", "zorder", "checkpoint")
    val parts = commits.filterNot(c => layoutOnly(c.op)).flatMap { c =>
      if (c.adds.isEmpty && c.removes.isEmpty) None
      else {
        val schema = schemaOf(c).getOrElse(new StructType())
        // Adds carry the commit's own layout; removes were live at v-1, so
        // they carry the PREVIOUS layout (an overwrite may differ).
        def rd(v: Long, files: Seq[String], pcols: Seq[String]): DataFrame =
          scan(spark, Snapshot(dir, v, files, schema, pcols), files)
        val added = rd(c.version, c.adds, c.partitionBy)
        val removed = rd(c.version - 1, c.removes,
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
            // helper names no data column uses (resolution ignores case)
            val taken = dataCols.map(_.toLowerCase).toSet
            val Seq(w, i) = Seq("__w", "__i").map(base =>
              Iterator.iterate(base)(_ + "_").find(n => !taken(n.toLowerCase)).get)
            added.withColumn(w, lit(1L))
              .unionByName(removed.withColumn(w, lit(-1L)))
              .groupBy(dataCols.map(col): _*).agg(sum(w).as(w))
              .where(col(w) =!= 0L)
              .withColumn("_change_type",
                when(col(w) > 0L, lit("insert")).otherwise(lit("delete")))
              .withColumn(i,
                explode(sequence(lit(1L), abs(col(w)))))
              .drop(w, i)
          }
        Some(net.withColumn("_commit_version", lit(c.version)))
      }
    }
    if (parts.isEmpty) {
      val schema = allCommits.lastOption.flatMap(schemaOf)
        .getOrElse(new StructType())
      scan(spark, Snapshot(dir, top, Nil, schema, Nil), Nil)
        .withColumn("_change_type", lit(null).cast(StringType))
        .withColumn("_commit_version", lit(null).cast(LongType))
    } else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Commit history as a DataFrame: (version, op, n_adds, n_removes). */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    (0L to currentVersion(dir)).map(entry(dir, _))
      .map(c => (c.version, c.op, c.adds.size.toLong, c.removes.size.toLong))
      .toDF("version", "op", "n_adds", "n_removes")
  }

  /** Reclaim data files no snapshot at or after `retainFrom` can reach:
    * orphans from crashed writers, and files removed before the horizon.
    * Time travel earlier than `retainFrom` stops working — the standard
    * retention trade.
    */
  def vacuum(dir: String, retainFrom: Long = Long.MaxValue): Long = {
    val top = currentVersion(dir)
    val horizon = math.max(math.min(retainFrom, top), -1L)
    // every snapshot in [horizon, top]: the horizon's files, later adds
    val reachable = (snapshot(dir, Some(horizon)).files ++
      (horizon + 1 to top).flatMap(entry(dir, _).adds)).toSet
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
