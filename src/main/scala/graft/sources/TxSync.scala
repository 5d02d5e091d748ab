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
  *    cron overlap) finds the tag and skips — exactly-once APPLICATION
  *    with no state outside the two logs. The high-water mark IS the
  *    target log.
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
    * target as a single keyed upsert tagged `sync:v<N>`: every changed key
    * leaves the target, the inserts go in.
    */
  private def applyChanges(spark: SparkSession, dstDir: String,
      changes: DataFrame, keys: Seq[String], tag: String): Long = {
    val cols = changes.columns.filterNot(c =>
      c == "_change_type" || c == "_commit_version")
    val inserts = changes.where(col("_change_type") === "insert")
      .select(cols.map(col).toIndexedSeq: _*)
    TxTable.upsert(spark, TxTable.snapshot(dstDir), keys, changes, inserts,
      s"sync:$tag")
  }

  /** Bring `dstDir` up to the source's current version: find the last
    * applied `:v<N>` tag in the target's log, apply each newer source
    * commit in order. Returns the number of source commits applied
    * (0 = already in sync).
    */
  def replicate(spark: SparkSession, srcDir: String, dstDir: String,
      keys: Seq[String]): Long = {
    val top = TxTable.currentVersion(srcDir)
    if (top < 0) return 0L
    val applied = TxTable.commitOps(dstDir).flatMap { op =>
      ":v(\\d+)$".r.findFirstMatchIn(op).map(_.group(1).toLong)
    }
    val from = if (applied.isEmpty) -1L else applied.max
    var n = 0L
    ((from + 1) to top).foreach { v =>
      val tag = s"v$v"
      if (!TxTable.hasCommitTag(dstDir, tag)) {
        applyChanges(spark, dstDir,
          TxTable.readChanges(spark, srcDir, v - 1, Some(v)), keys, tag)
        n += 1
      }
    }
    n
  }
}
