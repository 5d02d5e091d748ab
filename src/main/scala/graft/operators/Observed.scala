package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Piggy-backed data-quality metrics via Spark's `observe` API: the q213
  * constraint aggregates collected DURING whatever job consumes the frame
  * — a write, a downstream aggregate — instead of a second full scan.
  *
  * At 100 TB the difference is a whole pass over the corpus: a separate
  * Deequ-style verification job re-reads everything, while an observation
  * rides the already-running task iterators for free (accumulator-backed,
  * exactly-once per row for actions that scan the data once). The metrics
  * surface on the returned [[Observation]] after the FIRST action on the
  * returned frame; gate on them before publishing the output (write to
  * staging → check → promote; a TxTable commit is the atomic promote,
  * as in `BatchSink`).
  *
  * The metric set mirrors q213 minus distinct-uniqueness (observe requires
  * accumulator-style aggregates — no countDistinct; at scale the HLL
  * sketch q99 band-checks is the uniqueness substitute and IS observable).
  */
object Observed {

  /** Attach corpus-quality metrics to `docs` (the documents schema).
    * Returns the same frame (pass-through) and the pending observation.
    */
  def corpusMetrics(docs: DataFrame, name: String = "corpus_metrics")
      : (DataFrame, Observation) = {
    val obs = Observation(name)
    val observed = docs.observe(obs,
      count(lit(1)).as("n"),
      count(col("text")).as("n_text"),
      sum(when(col("n_chars").between(1L, 100000L), 1L).otherwise(0L))
        .as("n_chars_ok"),
      sum(when(col("lang").isin("en", "es", "fr", "de", "zh"), 1L)
        .otherwise(0L)).as("n_lang_ok"),
      min(col("n_chars")).as("min_chars"),
      approx_count_distinct(col("doc_id"), 0.05).as("approx_ids"))
    (observed, obs)
  }
}
