package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exactly-once `foreachBatch` sink: idempotent per-micro-batch MERGE into
  * a keyed `TxTable`.
  *
  * Structured Streaming's `foreachBatch` gives at-least-once delivery — on
  * recovery a batch can be REPLAYED with the same `batchId`, and the sink
  * itself must make the replay a no-op. Here each batch is the MERGE
  * transaction `(batch=, batchId)` ([[graft.sources.TxTable.merge]]), so
  * the COMMIT IS THE MARKER: no separate marker file and no directory
  * swap. A batchId at or below the app's high-water mark no-ops, also
  * when the replay loses its version to its original; a crash after
  * staging leaves invisible orphans (vacuum reclaims); a new batchId
  * carrying rows already stored is absorbed, since upserting the same
  * rows twice is a fixpoint. The file-pruned MERGE keeps the rewrite
  * proportional to touched files at any table size. Batch rows win over stored rows; a batch must carry
  * one row per key (checked) so last-writer-wins is well defined.
  */
object BatchSink {

  def upsertBatchTx(batch: DataFrame, batchId: Long, dir: String,
      key: String): Unit = {
    val b = batch.persist()
    try {
      require(b.groupBy(key).count().where(col("count") > 1).isEmpty,
        s"batch $batchId carries duplicate keys — last-writer-wins undefined")
      graft.sources.TxTable.merge(
        b.sparkSession, dir, b, Seq(key), txn = Some("batch=" -> batchId))
      ()
    } finally { b.unpersist(); () }
  }
}
