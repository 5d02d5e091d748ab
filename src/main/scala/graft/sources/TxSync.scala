package graft.sources

import org.apache.spark.sql.SparkSession
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
  *  - **Idempotent / resumable.** Applying source version N is the
  *    target transaction `(v, N)`, recorded as `sync:v<N>`; a re-run
  *    (crash recovery, cron overlap) resumes after the app's high-water
  *    mark — exactly-once APPLICATION with no state outside the two logs.
  *    The mark is read backwards from the target's newest entry to its
  *    newest sync, so a catch-up never replays the whole log. Each apply
  *    is pinned to the target version before it: a racing replicator
  *    no-ops on a version the other applied, and raises
  *    `ConcurrentModificationException` otherwise, never applying twice.
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

  /** Bring `dstDir` up to the source's current version: apply each source
    * commit above the target's high-water mark for app `v`, in version
    * order, each as one keyed upsert of its change-set (rows +
    * `_change_type`): every changed key leaves the target, the inserts go
    * in. Returns the number of source commits applied (0 = in sync).
    */
  def replicate(spark: SparkSession, srcDir: String, dstDir: String,
      keys: Seq[String]): Long = {
    val top = TxTable.currentVersion(srcDir)
    if (top < 0) return 0L
    val at = TxTable.currentVersion(dstDir)
    val from = TxTable.lastTxn(dstDir, "v", at).fold(-1L)(_._2)
    ((from + 1) to top).foldLeft(at) { (prev, v) =>
      val changes = TxTable.readChanges(spark, srcDir, v - 1, Some(v))
      val inserts = changes.where(col("_change_type") === "insert")
        .drop("_change_type", "_commit_version")
      TxTable.upsert(spark, TxTable.pinned(dstDir, Some(prev), "sync"), keys,
        changes, inserts, "sync", Some("v" -> v))
    }
    math.max(top - from, 0L)
  }
}
