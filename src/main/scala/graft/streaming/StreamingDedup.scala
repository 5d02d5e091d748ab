package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.Dedup

/** Streaming near-duplicate detection — the continuous-ingestion form of
  * the MinHash+LSH batch path (`Dedup.lshCandidatePairs`): as documents
  * arrive, each is flagged against everything seen BEFORE it, with state
  * bounded to one long per occupied LSH bucket.
  *
  * Shape: band keys are computed MAP-SIDE per row (no stateful aggregation
  * before the keyed state) by the batch path's own `Dedup.bandKeysRows`,
  * whose MinHash kernel hashes each shingle once. Each (band, key) group
  * then keeps only the MINIMUM doc id ever
  * seen in that bucket (`flatMapGroupsWithState`), and a later arrival in
  * an occupied bucket emits a candidate (doc, rep = that minimum).
  *
  * Contract (spec-pinned): when documents arrive in id order (any
  * micro-batch split), every doc that shares a bucket with a smaller-id
  * doc emits at least one candidate, and every emitted candidate is a
  * batch `lshCandidatePairs` pair — detection is exactly the batch
  * verdict. Under arbitrary arrival order, detection is eventual: the
  * smaller id must be seen first (the standard streaming caveat; the
  * batch path is the backfill). At 100 TB the state is one long per
  * OCCUPIED bucket, partitioned by (band, key); production would add a
  * state TTL for buckets cold past the dedup horizon.
  */
object StreamingDedup {

  case class BandRow(band: Int, key: String, docId: Long)
  case class Candidate(docId: Long, band: Int, repId: Long)

  /** Map-side band keys for a (doc_id, text) frame: `Dedup.bandKeysRows`
    * itself (one kernel pass per row, no aggregation, so streaming-safe),
    * so candidates line up with the batch path.
    */
  def bandRows(docs: DataFrame, p: Dedup.MinHashParams = Dedup.MinHashParams()): DataFrame =
    Dedup.bandKeysRows(docs, "doc_id", "text", p)
      .select(col("band"), col("key"), col("doc").as("docId"))

  /** Keyed state step: per (band, key) bucket, remember the min doc id;
    * later arrivals emit (doc, band, rep). Within a micro-batch the
    * bucket's rows are processed in doc-id order, so same-batch
    * duplicates resolve exactly like sequential arrival.
    */
  def candidates(bands: Dataset[BandRow]): Dataset[Candidate] = {
    import bands.sparkSession.implicits._
    bands
      .groupByKey(r => (r.band, r.key))
      .flatMapGroupsWithState[Long, Candidate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (bk: (Int, String), rows: Iterator[BandRow], state: GroupState[Long]) =>
          val ids = rows.map(_.docId).toSeq.sorted
          var minSeen = state.getOption.getOrElse(Long.MaxValue)
          val out = Seq.newBuilder[Candidate]
          ids.foreach { id =>
            if (minSeen < id) out += Candidate(id, bk._1, minSeen)
            if (id < minSeen) minSeen = id
          }
          state.update(minSeen)
          out.result().iterator
      }
  }
}
