package graftbench

import graft.sources.TxTable
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The table lifecycle through the public TxTable API. One cold block and
  * `WarmBlocks` warm blocks, a fixed amount of work so every run ends on
  * the same table shape; a block is five seed-sliced appends (Bloom
  * filter on `event_id`), five pruned lookups (ts range and Bloom point
  * lookups alternate), one DML (merge, update, delete in turn) and one
  * snapshot-metadata read. The run closes with readChanges over the last
  * two blocks, a z-ordered compact and a vacuum.
  *
  * Check (untimed): the final snapshot and seed-chosen time-travel
  * versions against a replay of the same operations over plain rows.
  * With `--cold-only 1`: one set-up, the cold block and the check of its
  * last version.
  */
object TxWorkload {

  sealed trait Op
  final case class Append(lo: Long, hi: Long) extends Op
  /** Upsert: `existing` keys get value + 1.0; `fresh` (newId, srcId) insert. */
  final case class Merge(existing: Seq[Long], fresh: Seq[(Long, Long)]) extends Op
  final case class Update(user: Long, tsLo: Long, tsHi: Long) extends Op
  final case class Delete(lo: Long, hi: Long) extends Op
  case object Compact extends Op

  val AppendsPerBlock = 5
  val WarmBlocks = 3
  val FreshIdBase = 10000000L

  private val timeLayers = Seq("tx.append_s", "tx.dml_s", "tx.snapshot_s",
    "tx.prune_s", "tx.read_where_s", "tx.changes_s", "tx.compact_s", "tx.vacuum_s")
  private val countLayers = Seq("tx.commits", "tx.files_written", "tx.log_files",
    "tx.bytes_written", "tx.bytes_rewritten", "tx.files_active", "tx.files_kept",
    "tx.skip_ratio", "tx.write_amp")
  val zeroLayers: Map[String, Double] = (timeLayers ++ countLayers).map(_ -> 0.0).toMap

  private def micros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
  private def instant(us: Long): java.time.Instant =
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L)

  private def bytesUnder(p: Path, keep: Path => Boolean): (Long, Long) = {
    if (!Files.exists(p)) return (0L, 0L)
    val fs = Files.walk(p).iterator().asScala.filter(f => Files.isRegularFile(f) && keep(f)).toSeq
    (fs.size.toLong, fs.map(f => Files.size(f)).sum)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(f => Files.delete(f))

  def run(h: Harness, dir: String): Map[String, Any] = {
    val c = h.c
    h.setup(Seq(dir -> "events"))
    val spark = h.spark
    val table = Paths.get(c.work, "txtable")
    deleteTree(table)
    val tdir = table.toString

    // the source rows, held in the JVM for key choices and the replay
    val pool = graft.core.Tables(spark, dir, "events")
    val schema = pool.schema
    val byId: Map[Long, Row] = pool.collect().map(r => r.getLong(0) -> r).toMap
    val poolIds = byId.keys.toVector.sorted
    // a cold-only run makes the same slices and keys as the full run's cold block
    val planned = 1 + (if (c.smoke) 1 else WarmBlocks)
    val blocks = if (c.coldOnly) 1 else planned
    val chunk = byId.size / (planned * AppendsPerBlock)
    val rnd = h.rng(7)
    val chunkOrder = rnd.shuffle((0 until planned * AppendsPerBlock).toVector)
    val appended = mutable.ArrayBuffer.empty[Long]
    val log = mutable.ArrayBuffer.empty[(Long, Op)]
    var kept, skipped = 0L
    def anyId(): Long = appended(rnd.nextInt(appended.size))
    // an update or delete whose zone maps rule out every file commits nothing
    def logCommit(v: Long, op: Op): Unit =
      if (log.isEmpty || v > log.last._1) log += v -> op

    def dml(b: Int): Unit = b % 3 match {
      case 0 =>
        val existing = Iterator.continually(anyId()).distinct.take(30).toSeq
        val fresh = Iterator.continually(poolIds(rnd.nextInt(poolIds.size)))
          .distinct.take(20).toSeq.map(s => (FreshIdBase + b * 100000L + s, s))
        h.timed(s"merge-$b", "dml", {
          val up = pool.where(col("event_id").isin(existing: _*))
            .withColumn("value", col("value") + 1.0)
            .withColumn("event_type", lit("merged"))
          val ins = pool.where(col("event_id").isin(fresh.map(_._2): _*))
            .withColumn("event_id", col("event_id") + lit(FreshIdBase + b * 100000L))
            .withColumn("event_type", lit("merged"))
          up.unionByName(ins)
        }) { src =>
          val v = h.rec.span("tx.dml")(TxTable.merge(spark, tdir, src, Seq("event_id")))
          logCommit(v, Merge(existing, fresh))
        }
      case 1 =>
        val r = byId(anyId())
        val (u, t) = (r.getLong(2), micros(r.getTimestamp(1)))
        val (lo, hi) = (t - 6 * 3600000000L, t + 6 * 3600000000L)
        h.timed(s"update-$b", "dml",
          col("user_id") === u && col("ts") >= lit(instant(lo)) && col("ts") < lit(instant(hi))) { p =>
          val v = h.rec.span("tx.dml")(
            TxTable.update(spark, tdir, p, Map("value" -> (col("value") + 1000.0))))
          logCommit(v, Update(u, lo, hi))
        }
      case _ =>
        val lo = anyId()
        h.timed(s"delete-$b", "dml", col("event_id") >= lo && col("event_id") < lo + 50) { p =>
          val v = h.rec.span("tx.dml")(TxTable.delete(spark, tdir, p))
          logCommit(v, Delete(lo, lo + 50))
        }
    }

    def lookup(b: Int, j: Int): Unit = {
      val p =
        if (j % 2 == 0) {
          val t = micros(byId(anyId()).getTimestamp(1))
          col("ts") >= lit(instant(t)) && col("ts") < lit(instant(t + 3600000000L))
        } else col("event_id") === anyId()
      val (k, s) = h.rec.span("tx.prune")(TxTable.pruneFiles(spark, tdir, p))
      kept += k.size; skipped += s.size
      h.timed(s"lookup-$b-$j", "lookup", p) { pred =>
        val df = h.rec.span("tx.read_where")(TxTable.readWhere(spark, tdir, pred))
        h.consume(df)
      }
    }

    var changesFrom = -1L
    (0 until blocks).foreach { b =>
      val phase = if (b == 0) "cold" else s"warm${b - 1}"
      h.pass(phase, c.trace && (b == 0 || b % 2 == 0)) {
        (0 until AppendsPerBlock).foreach { j =>
          val k = chunkOrder(b * AppendsPerBlock + j).toLong
          val (lo, hi) = (k * chunk, (k + 1) * chunk)
          h.timed(s"append-$b-$j", "append",
            pool.where(col("event_id") >= lo && col("event_id") < hi)) { df =>
            val v = h.rec.span("tx.append")(TxTable.append(df, tdir, bloomFor = Seq("event_id")))
            log += v -> Append(lo, hi)
          }
          appended ++= (lo until hi)
          if (j == AppendsPerBlock / 2 - 1) dml(b)
          lookup(b, j)
        }
        h.timed(s"snapshot-$b", "snapshot", ()) { _ =>
          h.rec.span("tx.snapshot") {
            val v = TxTable.currentVersion(tdir)
            TxTable.activeFiles(tdir, Some(v)); TxTable.fileStats(tdir, Some(v))
          }
        }
      }
      if (b == blocks - 3) changesFrom = TxTable.currentVersion(tdir)
    }
    def replay(upTo: Long): Seq[Row] = {
      val state = mutable.LinkedHashMap.empty[Long, Row]
      def set(r: Row, i: Int, x: Any): Row = Row.fromSeq(r.toSeq.updated(i, x))
      log.filter(_._1 <= upTo).sortBy(_._1).foreach {
        case (_, Append(lo, hi)) => (lo until hi).foreach(id => state(id) = byId(id))
        case (_, Merge(existing, fresh)) =>
          existing.foreach { id =>
            val r = byId(id)
            state(id) = set(set(r, 4, r.getDouble(4) + 1.0), 3, "merged")
          }
          fresh.foreach { case (nid, sid) =>
            state(nid) = set(set(byId(sid), 0, nid), 3, "merged")
          }
        case (_, Update(u, lo, hi)) =>
          state.foreach { case (id, r) =>
            val t = micros(r.getTimestamp(1))
            if (r.getLong(2) == u && t >= lo && t < hi)
              state(id) = set(r, 4, r.getDouble(4) + 1000.0)
          }
        case (_, Delete(lo, hi)) => state.keys.filter(id => id >= lo && id < hi).toSeq
          .foreach(state.remove)
        case (_, Compact) =>
      }
      state.values.toSeq
    }
    def check(v: Option[Long]): (String, Boolean) = {
      val got = OutputHash.of(TxTable.read(spark, tdir, v)).render
      val rows = replay(v.getOrElse(Long.MaxValue))
      val want = OutputHash.of(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, h.c.cpus), schema)).render
      (v.map(_.toString).getOrElse("latest"), got == want)
    }
    if (c.coldOnly) {
      val ok = check(None)
      return Map("checks" -> Seq(Seq(ok._1, ok._2)), "check_failures" -> (if (ok._2) 0 else 1))
    }
    val warmTop = TxTable.currentVersion(tdir)
    val filesActive = TxTable.activeFiles(tdir).size

    h.rec.phase = "finale"; h.rec.enabled = c.trace
    h.timed("changes", "changes", ()) { _ =>
      h.consume(h.rec.span("tx.changes")(TxTable.readChanges(spark, tdir, changesFrom)))
    }
    h.timed("compact", "compact", ()) { _ =>
      val v = h.rec.span("tx.compact")(
        TxTable.compact(spark, tdir, targetFiles = 4, zorderBy = Seq("user_id", "ts")))
      log += v -> Compact
    }
    h.rec.enabled = false
    val top = TxTable.currentVersion(tdir)

    // untimed: what every commit wrote, and the time-travel checks, before
    // vacuum makes old versions unreadable
    h.rec.query = "check"
    val opAt = log.toMap
    val live = (-1L to top).map(v => v -> (if (v < 0) Set.empty[String]
      else TxTable.activeFiles(tdir, Some(v)).toSet)).toMap
    def size(f: String): Long = Files.size(table.resolve(f))
    val adds = (0L to top).map(v => v -> (live(v) -- live(v - 1)).toSeq)
    val bytesWritten = adds.flatMap(_._2).map(size).sum
    val bytesRewritten = adds.filter { case (v, _) => !opAt.get(v).exists(_.isInstanceOf[Append]) }
      .flatMap(_._2).map(size).sum

    val sample = rnd.shuffle((0L until top).toVector).take(3).sorted
    val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
    checks ++= sample.map(v => check(Some(v)))

    h.rec.phase = "finale"; h.rec.enabled = c.trace
    h.timed("vacuum", "vacuum", ()) { _ => h.rec.span("tx.vacuum")(TxTable.vacuum(tdir)) }
    h.rec.enabled = false
    checks += check(None)

    val (_, tableBytes) = bytesUnder(table, _ => true)
    val snapDir = Paths.get(c.work, "txsnapshot")
    deleteTree(snapDir)
    TxTable.read(spark, tdir).coalesce(4).write.parquet(snapDir.toString)
    val (_, snapBytes) = bytesUnder(snapDir, _.getFileName.toString.endsWith(".parquet"))
    val (logFiles, _) = bytesUnder(table.resolve("_txlog"), _ => true)

    val traced = h.passes.filter(_.traced).map(_.phase).toSet
    val n = math.max(traced.size, 1).toDouble
    def perPass(name: String) = h.rec.seconds(name, traced) / n
    def lat(kind: String) = h.ops.filter(o => o.kind == kind && o.phase.startsWith("warm")).map(_.ms).toSeq
    val failedChecks = checks.count(!_._2)
    Map(
      "checks" -> checks.map { case (v, ok) => Seq(v, ok) }.toSeq,
      "check_failures" -> failedChecks,
      "tx_end_to_end" -> Map(
        "append_p50_ms" -> Stats.quantile(lat("append"), 0.5),
        "append_p90_ms" -> Stats.quantile(lat("append"), 0.9),
        "dml_p50_ms" -> Stats.quantile(lat("dml"), 0.5),
        "lookup_p50_ms" -> Stats.quantile(lat("lookup"), 0.5),
        "lookup_p90_ms" -> Stats.quantile(lat("lookup"), 0.9),
        "space_amp" -> tableBytes.toDouble / math.max(snapBytes, 1L)),
      "tx_layers" -> Map(
        "tx.append_s" -> perPass("tx.append"),
        "tx.dml_s" -> perPass("tx.dml"),
        "tx.snapshot_s" -> perPass("tx.snapshot"),
        "tx.prune_s" -> perPass("tx.prune"),
        "tx.read_where_s" -> perPass("tx.read_where"),
        "tx.changes_s" -> h.rec.seconds("tx.changes", Set("finale")),
        "tx.compact_s" -> h.rec.seconds("tx.compact", Set("finale")),
        "tx.vacuum_s" -> h.rec.seconds("tx.vacuum", Set("finale")),
        "tx.commits" -> (top + 1).toDouble,
        "tx.files_written" -> adds.map(_._2.size).sum.toDouble,
        "tx.log_files" -> logFiles.toDouble,
        "tx.bytes_written" -> bytesWritten.toDouble,
        "tx.bytes_rewritten" -> bytesRewritten.toDouble,
        "tx.files_active" -> filesActive.toDouble,
        "tx.files_kept" -> kept.toDouble,
        "tx.skip_ratio" -> skipped.toDouble / math.max(kept + skipped, 1L),
        "tx.write_amp" -> bytesWritten.toDouble / math.max(snapBytes, 1L)),
      "tx_versions" -> Map("changes_from" -> changesFrom, "warm_top" -> warmTop, "top" -> top))
  }
}
