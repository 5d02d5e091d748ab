package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions (SURVEY §2.8/§2.10 F8/F9 + the
  * training-data-pipeline surface: language-ID, quality scoring, token
  * counting, fingerprinting).
  *
  * Everything here is composed from built-ins (split, transform, filter,
  * aggregate, regexp) or is a native Catalyst expression with generated
  * code — no UDFs — so whole-stage codegen keeps these fused with scans at
  * 100 TB, and every function has an exact ANSI-SQL mirror for the DuckDB
  * oracle.
  */
object TextFunctions {

  /** Word tokens of lower-cased text (single-space separator). */
  def tokens(text: Column): Column = split(lower(text), " ")

  /** Alnum token count — the "BPE-ish" regex tokenizer of the pipeline
    * surface; whitespace counting is `size(tokens)`.
    */
  def alnumTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+"), lit(0)))

  /** Unicode NFC normalization (native expression, stays in codegen).
    * Run before any fingerprint/shingle op on corpora of mixed provenance
    * — combining-mark and precomposed encodings of the same glyph must
    * dedup together.
    */
  def nfc(text: Column): Column =
    kernel(NfcNormalizeExpr(_, java.text.Normalizer.Form.NFC), text)

  /** Jaro-Winkler similarity (native expression, stays in codegen) —
    * byte-level, bit-identical to DuckDB's builtin; see [[JaroWinkler]].
    */
  def jaroWinkler(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.JaroWinklerExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b)))

  /** Accent folding via translate (F9, `build_random_sets.py:52-62`). */
  def foldAccents(text: Column): Column =
    translate(text, "áéíóúàèìòùâêîôûäëïöüãõñç", "aeiouaeiouaeiouaeiouaonc")

  /** Canonical normalization for fingerprinting: lower, strip non-alnum to
    * single spaces, trim.
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9]+", " "), " +", " "))

  /** 128-bit content fingerprint of normalized text (md5 — stable across
    * engines, unlike murmur).
    */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Deterministic 60-bit integer hash of a string, identical in DuckDB:
    * first 15 hex chars of md5 parsed base-16
    * (`conv(substring(md5(s), 1, 15), 16, 10)`), from the digest's bits
    * by a native expression ([[TextKernels.hash60]]).
    */
  def hash60(s: Column): Column = kernel(Hash60Expr(_, low = false), s)

  /** The LOW 60 bits of the same md5 (last 15 hex chars): pairing it with
    * `hash60` gives a 120-bit identity from ONE digest — used where a
    * hash keys content REWRITING (span excision) rather than measurement,
    * so a 60-bit collision must not silently merge distinct content.
    * Equally DuckDB-replayable (substr(md5, 18, 15)).
    */
  def hash60lo(s: Column): Column = kernel(Hash60Expr(_, low = true), s)

  /** The 62-bit k-gram hashes of a per-token hash array `ht` (each
    * element `hash60 mod 2^30`): the engine side of
    * `TrainingShared.gramHash62`, whose SQL the DuckDB oracles replay.
    * Empty when `ht` has fewer than `k` elements. See
    * [[TextKernels.gramHashes]].
    */
  def gramHashes(ht: Column, k: Int): Column = kernel(GramHashesExpr(_, k), ht)

  /** `(mx, sgl)` of a bigint array: its longest run of equal values and
    * its number of values that occur once ([[TextKernels.sortedRunStats]]).
    */
  def sortedRunStats(arr: Column): Column = kernel(SortedRunStatsExpr(_), arr)

  private def kernel(f: org.apache.spark.sql.catalyst.expressions.Expression =>
      org.apache.spark.sql.catalyst.expressions.Expression, c: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      f(org.apache.spark.sql.GraftSqlBridge.expression(c)))

  /** Fraction of tokens found in `words` (stopword ratio and friends). */
  def tokenRatio(text: Column, words: Seq[String]): Column = {
    val toks = tokens(text)
    val hits = size(filter(toks, t => array_contains(lit(words.toArray), t)))
    when(size(toks) > 0, hits.cast("double") / size(toks)).otherwise(0.0)
  }

  /** Stopword hit *count* per language list. */
  def stopwordHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => array_contains(lit(words.toArray), t)))

  /** Tiny n-gram-free language-ID heuristic: argmax of per-language stopword
    * hit counts; `und` when nothing matches. Deterministic tie-break by list
    * order.
    *
    * NULL contract (applies to [[langId]], [[qualityScore]] and
    * [[tonalScore]] alike): NULL text yields NULL — `aggregate` over a
    * null array is null. The pre-r14 shapes returned 'und' / a non-null
    * struct for NULL input, and the DuckDB oracle SQL's CASE chains
    * would resolve a NULL argmax differently again — none of which has
    * ever been observable, because no driver fixture ships null text.
    * The contract is therefore: null-text behavior is UNSPECIFIED
    * cross-engine; callers feeding user data with possible nulls must
    * normalize first (`coalesce(text, lit(""))` restores the old
    * sentinel shapes exactly).
    */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht"))

  def langId(text: Column): Column = {
    // ONE tokenize and ONE pass over the tokens. Higher-order functions
    // are CodegenFallback (interpreted per element), so the old
    // per-language `filter` passes cost 4 interpreted sweeps — and the
    // argmax fold then duplicated each count subtree through its `when`
    // chain, which codegen subexpression elimination does not reach
    // inside conditional branches. All four counters ride one aggregate
    // accumulator; the argmax lives in the FINISH lambda, where each
    // count is a bound variable reference, evaluated once. Same values
    // bit for bit: same token list, same hit predicate, same
    // first-listed tie-break, same 'und' fallback.
    val zero = struct(langStopwords.map { case (l, _) => lit(0L).as(l) }: _*)
    aggregate(tokens(text), zero,
      (acc, tk) => struct(langStopwords.map { case (l, words) =>
        (acc.getField(l) +
          when(array_contains(lit(words.toArray), tk), 1L).otherwise(0L)).as(l)
      }: _*),
      acc => {
        val scored = langStopwords.map { case (l, _) => (l, acc.getField(l)) }
        val best = scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
          case ((bl, bs), (lang, sc)) =>
            (when(sc > bs, lit(lang)).otherwise(bl),
              when(sc > bs, sc).otherwise(bs))
        }
        when(best._2 > 0, best._1).otherwise(lit("und"))
      })
  }

  /** Quality heuristics for a training-data filter: lengths, alpha ratio,
    * stopword ratio, mean token length — plus a keep/drop verdict.
    */
  def qualityScore(text: Column): Column = {
    // Single-pass form (the langId lesson): token count, stopword hits
    // and total token length ride ONE aggregate accumulator — the old
    // shape re-tokenized and re-swept the array once per metric through
    // interpreted HOF passes. Alpha chars count via a length diff
    // instead of materializing an array of every single-char match.
    // The output struct is built in the FINISH lambda so each metric is
    // one bound-variable read; every field's value is unchanged.
    val nChars = length(text)
    val alpha = (nChars - length(regexp_replace(text, "[A-Za-z]", "")))
    val stopList = langStopwords.flatMap(_._2)
    aggregate(tokens(text),
      struct(lit(0L).as("n"), lit(0L).as("sh"), lit(0L).as("tl")),
      (acc, tk) => struct(
        (acc.getField("n") + 1L).as("n"),
        (acc.getField("sh") +
          when(array_contains(lit(stopList.toArray), tk), 1L).otherwise(0L))
          .as("sh"),
        (acc.getField("tl") + length(tk)).as("tl")),
      acc => {
        val nToks = acc.getField("n")
        val stop = when(nToks > 0,
          acc.getField("sh").cast("double") / nToks).otherwise(0.0)
        val meanTokLen = when(nToks > 0,
          acc.getField("tl").cast("double") / nToks).otherwise(0.0)
        struct(
          nChars.cast("long").as("n_chars"),
          nToks.cast("long").as("n_tokens"),
          round(alpha.cast("double") / greatest(nChars, lit(1)), 6).as("alpha_ratio"),
          round(stop, 6).as("stop_ratio"),
          round(meanTokLen, 6).as("mean_token_len"),
          (nToks >= 10 && nToks <= 100000 && stop > 0.001).as("keep"))
      })
  }

  /** Bag-of-words tonal scoring (F8, news sentiment — formulas
    * `compiled-bookdown/16-news_sentiment.Rmd:42-48`): per tone
    * tf = hits/T; sentiment = positive tf - negative tf.
    */
  def tonalScore(text: Column, positive: Seq[String], negative: Seq[String]): Column = {
    // single-pass form (the langId lesson): count + both tone hit
    // counters in one aggregate sweep, fields derived in the finish
    // lambda — values unchanged
    aggregate(tokens(text),
      struct(lit(0L).as("t"), lit(0L).as("p"), lit(0L).as("n")),
      (acc, tk) => struct(
        (acc.getField("t") + 1L).as("t"),
        (acc.getField("p") +
          when(array_contains(lit(positive.toArray), tk), 1L).otherwise(0L))
          .as("p"),
        (acc.getField("n") +
          when(array_contains(lit(negative.toArray), tk), 1L).otherwise(0L))
          .as("n")),
      acc => {
        val t = acc.getField("t")
        val pos = acc.getField("p")
        val neg = acc.getField("n")
        struct(
          t.cast("long").as("n_tokens"),
          round(when(t > 0, pos.cast("double") / t).otherwise(0.0), 6).as("tf_pos"),
          round(when(t > 0, neg.cast("double") / t).otherwise(0.0), 6).as("tf_neg"),
          round(when(t > 0, (pos - neg).cast("double") / t).otherwise(0.0), 6)
            .as("sentiment"))
      })
  }
}
