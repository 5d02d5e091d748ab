package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental table replication over the change data feed — the CDF
  * consumer contract as an operator: keep a downstream copy (another
  * cluster, a serving store's staging table, a mirror) in sync by
  * applying each source commit's NET row delta, never rescanning the
  * source. The reference's pipelines do this rescan-shaped today
  * (`gps-analytics`'s append jobs re-derive tables to extend them); at
  * 100 TB the delta apply is the only affordable shape.
  *
  * Contract:
  *  - **Version-ordered.** Source commits apply ONE AT A TIME (a
  *    net-diff feed is ordered — an insert and a later delete of the
  *    same key do not commute), each as one atomic target commit.
  *  - **Idempotent / resumable.** Each applied source version rides
  *    the target commit's op as `:v<N>`; a re-run (crash recovery,
  *    cron overlap) resumes after the newest tag — exactly-once
  *    APPLICATION with no state outside the two logs. The high-water
  *    mark IS the target log, read backwards from its newest entry to
  *    the first tag, so a catch-up never replays the whole log. Each
  *    apply is pinned to the target version before it: a racing
  *    replicator raises `ConcurrentModificationException`, as every
  *    other semantic writer does, instead of applying a version twice.
  *  - **File-pruned apply.** Each apply is MERGE's keyed upsert: the
  *    changed keys, collected once, pick candidate target files from
  *    their zone maps and Bloom filters, and only the files a scan finds
  *    holding a changed key are rewritten; layout-only source commits
  *    (compact/zorder) produce empty feeds and move no data.
  *
  * Keys must be unique per row in both tables (the usual replication
  * precondition); the feed's delete+insert update pairs then collapse
  * naturally — the key leaves the kept slice and the post-image
  * re-inserts.
  */
object TxSync {

  /** Apply one version's change-set (rows + `_change_type`) to the
    * target snapshot `at` as a single keyed upsert tagged `sync:v<N>`:
    * every changed key leaves the target, the inserts go in. Returns the
    * target's new version.
    */
  private def applyChanges(spark: SparkSession, at: TxTable.Snapshot,
      changes: DataFrame, keys: Seq[String], tag: String): Long = {
    val cols = changes.columns.filterNot(c =>
      c == "_change_type" || c == "_commit_version")
    val inserts = changes.where(col("_change_type") === "insert")
      .select(cols.map(col).toIndexedSeq: _*)
    TxTable.upsert(spark, at, keys, changes, inserts, s"sync:$tag")
  }

  /** Bring `dstDir` up to the source's current version: find the last
    * applied `:v<N>` tag in the target's log (applies go in version
    * order, so the newest tag is the highest), apply each newer source
    * commit in order. Returns the number of source commits applied
    * (0 = already in sync).
    */
  def replicate(spark: SparkSession, srcDir: String, dstDir: String,
      keys: Seq[String]): Long = {
    val top = TxTable.currentVersion(srcDir)
    if (top < 0) return 0L
    val at = TxTable.currentVersion(dstDir)
    val Tagged = ".*:v(\\d+)".r
    val from = TxTable.opsNewestFirst(dstDir, at)
      .collectFirst { case Tagged(n) => n.toLong }.getOrElse(-1L)
    ((from + 1) to top).foldLeft(at) { (prev, v) =>
      applyChanges(spark, TxTable.pinned(dstDir, Some(prev), s"sync:v$v"),
        TxTable.readChanges(spark, srcDir, v - 1, Some(v)), keys, s"v$v")
    }
    math.max(top - from, 0L)
  }
}
