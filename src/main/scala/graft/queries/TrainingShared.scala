package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{TextFunctions, TextKernels}
import graft.operators.{Dedup, Similarity}

/** Shared builders for the Training* query files: table access, the
  * seedlist/fingerprint/gramHash62 Scala-side helpers, and every
  * oracle-SQL CTE builder (dot products, MinHash/LSH chains, kmeans,
  * margin pairs, retrieval fixtures). Engine-side and oracle-side twins
  * of the same construction live here together so they can only change
  * together (see each builder's scaladoc).
  */
private[queries] object TrainingShared {
  def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  val posWords = Seq("fast", "big", "spark")
  val negWords = Seq("slow", "small", "filter")

  /** Seedlist in the reference's mixed shape
    * (`twitter-analytics/code/3-model_evaluation/preliminary/
    * check_presence_seedlist_keyword.py:44-75`): plain n-gram substrings
    * plus gap regexes (`[\w\s]*` between anchor words), matched over the
    * lowercased text, regexes first. Patterns are drawn from the corpus
    * vocabulary; the reference's are labor-market phrases.
    */
  val seedNgrams = Seq("slow query", "hash join", "big table")
  val seedRegexes =
    Seq("fast[\\w\\s]* scan", "(^|\\W)sort[\\w\\s]* merge", "stream[\\w\\s]* batch")

  /** (n_regex_hits, n_ngram_hits, flag) columns of the seedlist match —
    * shared by q210 (tagging) and q211 (recall along the rank cut).
    */
  def seedlistCols: (Column, Column, Column) = {
    val tl = lower(col("text"))
    val rx = seedRegexes.map(p => tl.rlike(p).cast("long")).reduce(_ + _)
    val ng = seedNgrams.map(p => tl.contains(p).cast("long")).reduce(_ + _)
    (rx, ng, ((rx > 0) || (ng > 0)).cast("long"))
  }

  /** Winnowing fingerprint frame (doc_id, n_grams, fp) shared by q284 /
    * q302 — word 4-grams, window-of-4 minima (Schleimer et al. 2003).
    * Gram hashing is a 64-bit-safe polynomial over per-TOKEN hashes
    * instead of one md5 per gram string: each token is md5'd ONCE
    * (hash60 mod 2^30) and the 4 grams spanning it reuse that value
    * through Horner's rule mod p = 2^31-1 (B = 1000003; intermediates
    * bound by ~2^52 — exact BIGINT in both engines, so the oracle
    * replays it as plain integer arithmetic). Cuts the dominant hash
    * cost ~4x in hashed bytes vs md5-per-gram; selection stays per-row
    * HOF expressions (map-side, no shuffle).
    */
  def winnowFingerprints(s: SparkSession, d: String): DataFrame = {
    val kG = 4; val wWin = 4
    val toks = TextFunctions.tokens(col("text"))
    t(s, d, "documents")
      // ≥ k + w - 1 tokens ⇔ at least one window of w gram hashes
      .where(size(toks) >= kG + wWin - 1)
      .select(col("doc_id"),
        (size(toks) - (kG - 1)).cast("long").as("n_grams"),
        transform(toks,
          tk => pmod(TextFunctions.hash60(tk), lit(1073741824L))).as("ht"))
      // ht[] is 0-based in Spark SQL exprs; gram i (1-based) = tokens
      // i-1 .. i+2
      .withColumn("hs", expr(s"""transform(sequence(1, size(ht) - 3),
          i -> ((((ht[i-1] * $WinnowB + ht[i]) % $WinnowP) * $WinnowB
                 + ht[i+1]) % $WinnowP * $WinnowB + ht[i+2]) % $WinnowP)"""))
      .select(col("doc_id"), col("n_grams"),
        explode(array_distinct(transform(
          sequence(lit(1), size(col("hs")) - (wWin - 1)),
          i => array_min(slice(col("hs"), i, lit(wWin)))))).as("fp"))
  }
  val WinnowP = TextKernels.GramP // 2^31 - 1
  val WinnowB = TextKernels.GramB
  val WinnowP2 = TextKernels.GramP2 // the next 31-bit prime down

  /** 62-bit polynomial k-gram hash expr over a per-token hash array
    * `ht` (hash60 mod 2^30 — ONE md5 per token): two Horner chains mod
    * distinct 31-bit primes packed into one BIGINT (intermediates
    * ≤ ~2^52, the pack ≤ ~2^62 — exact in both engines). `i0` is the
    * first token index of the gram in SQL (`"i"` over DuckDB's 1-based
    * lists). Collision odds over 62 bits at 10^8 distinct grams are
    * ~10^-3 per corpus: the standard hashed-shingle identity for
    * dedup/contamination work at scale, replacing per-gram md5 AND
    * gram-string materialization/shuffle. The engine computes the same
    * values with the native `TextFunctions.gramHashes`; this SQL form is
    * for the DuckDB oracles.
    */
  def gramHash62(i0: String, k: Int, arr: String = "ht"): String = {
    def chain(p: Long) = (1 until k).foldLeft(s"$arr[$i0]")((acc, j) =>
      s"(($acc) * $WinnowB + $arr[$i0 + $j]) % $p")
    s"(${chain(WinnowP)}) * 2147483648 + (${chain(WinnowP2)})"
  }

  /** Spark-side (doc_id, source, ht) stage: tokens → per-token hashes. */
  def tokenHashes(df: DataFrame, minToks: Int): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    df.where(size(toks) >= minToks)
      .select(col("doc_id"), col("source"),
        transform(toks,
          tk => pmod(TextFunctions.hash60(tk), lit(1073741824L))).as("ht"))
  }

  /** The matching DuckDB token-hash list expr. */
  val tokenHashesSql: String =
    s"""list_transform(string_split(lower(text), ' '),
        t -> ${h60("t")} % 1073741824)"""

  /** The matching DuckDB CTE chain (base → ht → hs → fps) for the
    * winnowing oracles; DuckDB lists are 1-based.
    */
  val winnowFpsCtes: String =
    s"""base AS (
         SELECT doc_id, string_split(lower(text), ' ') AS w
         FROM documents
         WHERE len(string_split(lower(text), ' ')) >= 7),
       tokh AS (
         SELECT doc_id, CAST(len(w) - 3 AS BIGINT) AS n_grams,
           list_transform(w, t ->
             CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
               % 1073741824) AS ht
         FROM base),
       hs AS (
         SELECT doc_id, n_grams,
           list_transform(range(1, len(ht) - 2),
             i -> ((((ht[i] * $WinnowB + ht[i+1]) % $WinnowP) * $WinnowB
                    + ht[i+2]) % $WinnowP * $WinnowB + ht[i+3]) % $WinnowP)
             AS h
         FROM tokh),
       fps AS (
         SELECT doc_id, n_grams, unnest(list_distinct(
           list_transform(range(1, len(h) - 2),
             i -> list_min(h[i:i+3])))) AS fp
         FROM hs)"""

  /** Fixture logistic-model weights for q342 (model_id, per-pattern
    * w_e6 — 3 regex then 3 ngram features, in seedlist order — b_e6).
    * Values are arbitrary but fixed; the spec plants its own.
    */
  val lrModelRows: Seq[(Long, Seq[Long], Long)] = Seq(
    (0L, Seq(900000L, 750000L, 600000L, 450000L, 300000L, 150000L), -500000L),
    (1L, Seq(-300000L, 800000L, -200000L, 700000L, 100000L, 400000L), -250000L),
    (2L, Seq(120000L, -340000L, 560000L, -780000L, 910000L, -130000L), 50000L))

  def seedlistSql: (String, String, String) = {
    val rx = seedRegexes
      .map(p => s"CAST(regexp_matches(lower(text), '$p') AS BIGINT)")
      .mkString("(", " + ", ")")
    val ng = seedNgrams
      .map(p => s"CAST(contains(lower(text), '$p') AS BIGINT)")
      .mkString("(", " + ", ")")
    (rx, ng, s"CAST($rx > 0 OR $ng > 0 AS BIGINT)")
  }

  // ---- oracle SQL ----

  /** NLL CTE chain over a relation `rel` exposing (doc_id, w): tok →
    * uni → tot → j → agg → nll(doc_id, n_tok, avg_nll_e6). Mirror of
    * `Mixture.docNll` (pinned position-order IEEE fold).
    */
  def nllChain(rel: String): String =
    s"""tok AS (
           SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos,
             unnest(w) AS term
           FROM $rel),
         uni AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens_total FROM uni),
         j AS (
           SELECT doc_id, pos,
             ln(CAST(n_tokens_total AS DOUBLE) / c) AS lnp
           FROM tok JOIN uni USING (term), tot),
         agg AS (
           SELECT doc_id, count(*) AS n_tok, list(lnp ORDER BY pos) AS ls
           FROM j GROUP BY 1),
         nll AS (
           SELECT doc_id, n_tok,
             CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ls),
               (acc, x) -> acc + x) / n_tok * 1000000.0) AS BIGINT) AS avg_nll_e6
           FROM agg)"""

  /** Shared oracle CTEs for the per-doc unigram NLL over the whole
    * documents table (q127, q198, q249).
    */
  val nllCtes: String =
    s"""dw0 AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents),
         ${nllChain("dw0")}"""

  /** Per-doc unigram-LM negative log likelihood (q127's score; also the
    * input to the q198 CCNet partition): NLL terms are summed in pinned
    * position order (collect_list sorted by pos) so the IEEE fold matches
    * the oracle's ORDER BY pos list fold exactly.
    */
  def docNll(s: SparkSession, d: String): DataFrame =
    graft.operators.Mixture.docNll(t(s, d, "documents"))

  def hitsSql(words: Seq[String]) = {
    val list = words.map(w => s"'$w'").mkString("[", ",", "]")
    s"len(list_filter(string_split(lower(text), ' '), t -> list_contains($list, t)))"
  }

  /** SQL twin of `TextFunctions.fingerprint`'s normalization over a
    * caller-chosen text expression — q548's oracle passes
    * `coalesce(text, '')` so its exact-dedup canonical stage sees the
    * same NULL-coalesced text as Spark's `curate` (md5(NULL) is NULL and
    * would group NULL-text docs separately from ''-text docs).
    */
  def normSqlFor(textExpr: String): String =
    s"trim(regexp_replace(regexp_replace(lower($textExpr), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))"

  val normSql = normSqlFor("text")

  /** SQL twin of `TextFunctions.qualityScore(text).keep` (the q53 rule)
    * as a BIGINT 0/1 — evaluates against a row exposing `text` and the
    * pre-split `w = string_split(lower(text), ' ')`. One definition for
    * the agreement/shrinkage oracles (q423/q425/q426/q429) so the rater
    * cannot drift per-oracle.
    */
  def keepRuleSql: String = {
    val stopAll = hitsSql(TextFunctions.langStopwords.flatMap(_._2))
    s"""CAST(CASE WHEN len(w) >= 10 AND len(w) <= 100000 AND
               (CASE WHEN len(w) > 0 THEN CAST($stopAll AS DOUBLE) / len(w)
                 ELSE 0.0 END) > 0.001 THEN 1 ELSE 0 END AS BIGINT)"""
  }

  /** 60-bit md5 hash of a SQL string expression (mirror of hash60). */
  def h60(e: String) = s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

  /** LOW 60 bits of the same md5 (mirror of hash60lo — the second half
    * of the 120-bit span identity q547/q548 excise on).
    */
  def h60lo(e: String) = s"CAST(concat('0x', substr(md5($e), 18, 15)) AS BIGINT)"

  def dotSql(a: String, b: String): String =
    (1 to Similarity.Dim).map(i =>
      s"(CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE))").mkString(" + ")

  /** Unrolled INTEGER squared-L2 between two BIGINT list columns —
    * exact, so any association order agrees with Spark's zip_with fold.
    */
  def il2Sql(a: String, b: String, n: Int): String =
    (1 to n).map(i => s"(($a[$i] - $b[$i]) * ($a[$i] - $b[$i]))")
      .mkString(" + ")

  /** Full PQ replay — codebook training (one integer Lloyd round from
    * the vec_id % 16 seeding), code assignment, per-query ADC lookup
    * sums, and the exact integer-L2 brute-force hit check. Mirrors
    * Similarity.pqTopK + q263 bit for bit.
    */
  def pqOracle: String =
    s"""WITH ve AS MATERIALIZED (
         SELECT vec_id, list_transform(embedding,
           v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS ve
         FROM embeddings),
       flat AS (
         SELECT vec_id, (dim - 1) // 16 AS b, (dim - 1) % 16 AS bd, v,
           vec_id % 16 AS c0
         FROM (SELECT vec_id, unnest(ve) AS v,
                 generate_subscripts(ve, 1) AS dim FROM ve)),
       cm AS (
         SELECT b, c0 AS c, bd, CAST(sum(v) AS BIGINT) // count(*) AS cv
         FROM flat GROUP BY 1, 2, 3),
       centv AS (SELECT b, c, list(cv ORDER BY bd) AS ce FROM cm GROUP BY 1, 2),
       bvs AS MATERIALIZED (
         SELECT vec_id, b, list(v ORDER BY bd) AS bv FROM flat GROUP BY 1, 2),
       asg AS (
         SELECT vec_id, b, c FROM (
           SELECT bvs.vec_id, bvs.b, cv.c,
             row_number() OVER (PARTITION BY bvs.vec_id, bvs.b
               ORDER BY ${il2Sql("bv", "ce", 16)}, cv.c) AS rn
           FROM bvs JOIN centv cv USING (b)) WHERE rn = 1),
       lut AS (
         SELECT q.vec_id AS query_id, q.b, cv.c,
           ${il2Sql("q.bv", "cv.ce", 16)} AS dd
         FROM bvs q JOIN centv cv USING (b) WHERE q.vec_id IN (100, 200)),
       adc AS (
         SELECT l.query_id, a.vec_id, CAST(sum(l.dd) AS BIGINT) AS adc_dist
         FROM asg a JOIN lut l ON a.b = l.b AND a.c = l.c
           AND a.vec_id <> l.query_id
         GROUP BY 1, 2),
       topk AS (
         SELECT query_id, vec_id AS neighbor_id, rnk, adc_dist FROM (
           SELECT query_id, vec_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
               ORDER BY adc_dist, vec_id) AS rnk
           FROM adc) WHERE rnk <= 10),
       q2 AS (SELECT vec_id AS query_id, ve AS qve FROM ve
              WHERE vec_id IN (100, 200)),
       bf AS (
         SELECT query_id, vec_id FROM (
           SELECT q2.query_id, ve.vec_id,
             row_number() OVER (PARTITION BY q2.query_id
               ORDER BY ${il2Sql("ve.ve", "q2.qve", 64)}, ve.vec_id) AS rn
           FROM ve, q2 WHERE ve.vec_id <> q2.query_id) WHERE rn <= 10)
       SELECT t.query_id, t.neighbor_id, t.rnk, t.adc_dist,
         bf.vec_id IS NOT NULL AS exact_hit
       FROM topk t LEFT JOIN bf ON bf.query_id = t.query_id
         AND bf.vec_id = t.neighbor_id"""

  /** Integer dot product of floor(x*64)-quantized vectors (q160): BIGINT
    * products summed — exact, so any association order matches Spark's
    * zip_with/aggregate loop.
    */
  def iDotSql(a: String, b: String): String =
    (1 to Similarity.Dim).map(i =>
      s"(CAST(floor(CAST($a[$i] AS DOUBLE) * 64) AS BIGINT)" +
        s" * CAST(floor(CAST($b[$i] AS DOUBLE) * 64) AS BIGINT))")
      .mkString(" + ")

  /** Shared CTE prelude (toks -> bands) of the MinHash oracles. */
  def minhashCtes: String = minhashCtesFor("doc_id < 300")

  /** The MinHash band prelude over a parameterized doc population —
    * `minhashCtes` (doc_id < 300) is the shared graph-query instance;
    * q259 probes the full population split into corpus and batch.
    * `textExpr` lets a caller whose Spark twin normalizes NULL text up
    * front (q548's curate coalesces NULL -> '' before every stage) feed
    * the SAME coalesced text to the shingle scan — the default stays raw
    * `text` for the oracles whose Spark twins also read it raw.
    */
  def minhashCtesFor(pred: String, textExpr: String = "text"): String = {
    val p = Dedup.MinHashParams()
    val sigs = (0 until p.numPerms).map { i =>
      val a = 2L * i + 1; val b = 98765L * i + 12345L
      s"list_min(list_transform(hs, x -> (x * $a + $b) % ${p.prime})) AS sig$i"
    }.mkString(",\n             ")
    val rows = p.numPerms / p.bands
    val bandSelects = (0 until p.bands).map { bnd =>
      val key = (0 until rows).map(r => s"sig${bnd * rows + r}").mkString(", '_', ")
      s"SELECT doc_id, $bnd AS band, concat($key) AS key FROM sig"
    }.mkString("\n           UNION ALL ")
    s"""toks AS (
           SELECT doc_id, string_split(lower($textExpr), ' ') AS w
           FROM documents WHERE $pred),
         sh AS (
           SELECT doc_id,
             list_transform(range(1, len(w) - 1),
               i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])) AS shingles
           FROM toks WHERE len(w) >= ${p.shingleSize}),
         base AS (
           SELECT doc_id,
             list_transform(shingles, s -> ${h60("s")} % ${p.baseMod}) AS hs
           FROM sh),
         sig AS (
           SELECT doc_id,
             $sigs
           FROM base),
         bands AS (
           $bandSelects)"""
  }

  def minhashOracle: String =
    s"""WITH $minhashCtes
         SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id"""

  /** Shared CTE prelude (sims → sbanded → scapped → spairs) of the
    * SimHash Hamming-band pairing oracles — mirrors
    * `Dedup.hammingBandPairs(Dedup.simhashRows(...), nBands=4,
    * bandBits=15, cap=64, maxHamming=6)`. Extracted from q365's inline
    * block so the recapture audit (q428) reuses IDENTICAL pairing
    * semantics (the minhashCtes anti-drift pattern).
    */
  def simhashPairCtes(pred: String = "doc_id < 300"): String =
    s"""sims AS (
           SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 60), j ->
               (CASE WHEN list_sum(list_transform(shs,
                      h -> ((h >> j) % 2) * 2 - 1)) > 0
                     THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)
               << j)) AS BIGINT) AS sim
           FROM (
             SELECT doc_id,
               list_transform(string_split(lower(text), ' '),
                 t -> ${h60("t")}) AS shs
             FROM documents WHERE $pred)),
         sbanded AS (
           SELECT doc_id, sim, band,
             (sim >> CAST(band * 15 AS INT)) & 32767 AS key
           FROM sims, (SELECT unnest(range(0, 4)) AS band)),
         scapped AS (
           SELECT doc_id, sim, band, key,
             row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS rn
           FROM sbanded QUALIFY rn <= 64),
         spairs AS (
           SELECT id1, id2 FROM (
             SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
               a.sim AS h1, b.sim AS h2
             FROM scapped a JOIN scapped b
               ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
           WHERE bit_count(xor(h1, h2)) <= 6)"""

  /** Components of the LSH pair graph via recursive transitive closure:
    * rep = least reachable id. Mirrors Dedup.connectedComponents exactly
    * (both compute the component minimum).
    */
  /** Shared connected-components closure CTEs (pairs -> edges -> reach ->
    * rep) over the MinHash band prelude — one definition feeding the
    * dedup-keep and cluster-size oracles so closure semantics cannot
    * drift between them (the minhashCtes pattern).
    */
  def componentCtes: String =
    s"""pairs AS (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         edges AS (
           SELECT id1 AS src, id2 AS dst FROM pairs
           UNION SELECT id2, id1 FROM pairs),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e
             ON r.dst = e.src WHERE e.dst <> r.src),
         rep AS (
           SELECT src AS doc_id, least(src, min(dst)) AS rep_id
           FROM reach GROUP BY src)"""

  def dedupKeepOracle: String =
    s"""WITH RECURSIVE $minhashCtes,
         $componentCtes
       SELECT d.doc_id, coalesce(r.rep_id, d.doc_id) AS rep_id,
         coalesce(r.rep_id, d.doc_id) = d.doc_id AS is_kept
       FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
       LEFT JOIN rep r USING (doc_id)"""

  def simhashOracle: String =
    s"""SELECT doc_id,
         CAST(list_sum(list_transform(range(0, 60), j ->
           (CASE WHEN list_sum(list_transform(hs, h -> ((h >> j) % 2) * 2 - 1)) > 0
                 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) << j)) AS BIGINT) AS sim
       FROM (
         SELECT doc_id,
           list_transform(string_split(lower(text), ' '), t -> ${h60("t")}) AS hs
         FROM documents WHERE doc_id < 300)"""

  /** q193's oracle: replay the 8 BPE training rounds in SQL. Each round =
    * argmax pair (freq-weighted, (cnt desc, l, r) tiebreak — the trainer's
    * exact order) + greedy left-to-right merge done POSITIONALLY: for
    * l ≠ r adjacent candidates never overlap, so all merge; for l = r a
    * run of k identical tokens merges at the 1st, 3rd, … candidate — the
    * run-parity rule (row_number within the gaps-and-islands group must
    * be odd), which is exactly what the greedy fold produces.
    */
  def bpeEncodeOracle: String = {
    val rounds = 8
    def round(i: Int): String = {
      val prev = s"v${i - 1}"
      s"""p$i AS MATERIALIZED (
         SELECT l, r FROM (
           SELECT tl[j] AS l, tl[j + 1] AS r, CAST(sum(f) AS BIGINT) AS cnt
           FROM (SELECT f, tl, unnest(range(1, len(tl))) AS j FROM $prev)
           GROUP BY 1, 2)
         ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
       c$i AS MATERIALIZED (
         SELECT w, f, pos, tok,
           (tok = (SELECT l FROM p$i) AND
            lead(tok) OVER (PARTITION BY w ORDER BY pos)
              = (SELECT r FROM p$i)) AS cand
         FROM (SELECT w, f, j AS pos, tl[j] AS tok
               FROM (SELECT w, f, tl, unnest(range(1, len(tl) + 1)) AS j
                     FROM $prev))),
       s$i AS (
         SELECT w, pos,
           (row_number() OVER (PARTITION BY w, isl ORDER BY pos) % 2 = 1) AS sel
         FROM (
           SELECT w, pos,
             pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS isl
           FROM c$i WHERE cand)),
       m$i AS (
         SELECT c.w, c.f, c.pos, c.tok, coalesce(s.sel, FALSE) AS sel,
           coalesce(lag(coalesce(s.sel, FALSE))
             OVER (PARTITION BY c.w ORDER BY c.pos), FALSE) AS prev_sel
         FROM c$i c LEFT JOIN s$i s ON c.w = s.w AND c.pos = s.pos),
       v$i AS MATERIALIZED (
         SELECT w, f,
           list(CASE WHEN sel THEN tok || (SELECT r FROM p$i) ELSE tok END
                ORDER BY pos) FILTER (WHERE NOT prev_sel) AS tl
         FROM m$i GROUP BY w, f)"""
    }
    s"""WITH words AS MATERIALIZED (
         SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
         FROM documents),
       vocab AS MATERIALIZED (SELECT w, count(*) AS f FROM words GROUP BY 1),
       v0 AS MATERIALIZED (
         SELECT w, f, list_transform(range(1, length(w) + 1),
           i -> substr(w, CAST(i AS INT), 1)) AS tl
         FROM vocab),
       ${(1 to rounds).map(round).mkString(",\n       ")},
       wt AS (SELECT w, len(tl) AS ntok FROM v$rounds)
       SELECT doc_id, count(*) AS n_words,
         CAST(sum(ntok) AS BIGINT) AS n_tokens,
         CAST(max(ntok) AS BIGINT) AS max_word_toks
       FROM words JOIN wt USING (w) GROUP BY 1"""
  }

  def cosineTopkOracle: String =
    s"""WITH q AS (
           SELECT vec_id AS query_id, embedding AS qemb
           FROM embeddings WHERE vec_id IN (10, 20, 30)),
         c AS (
           SELECT q.query_id, e.vec_id,
             (${dotSql("e.embedding", "q.qemb")})
               / (sqrt(${dotSql("e.embedding", "e.embedding")})
                  * sqrt(${dotSql("q.qemb", "q.qemb")})) AS cos
           FROM embeddings e, q WHERE e.vec_id <> q.query_id),
         r AS (
           SELECT query_id, vec_id AS neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id ASC) AS rnk
           FROM c)
         SELECT query_id, neighbor_id, rnk,
           CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_e6
         FROM r WHERE rnk <= 10"""

  def annLshOracle: String =
    s"""WITH b AS (
           SELECT e.vec_id,
             sum(CASE WHEN (${dotSql("e.embedding", "p.embedding")}) > 0
                 THEN (CAST(1 AS BIGINT) << CAST(p.vec_id AS INT)) ELSE 0 END) AS bucket
           FROM embeddings e, embeddings p WHERE p.vec_id < 8
           GROUP BY e.vec_id),
         q AS (
           SELECT e.vec_id AS query_id, e.embedding AS qemb, b.bucket AS qbucket
           FROM embeddings e JOIN b ON e.vec_id = b.vec_id
           WHERE e.vec_id IN (100, 200)),
         c AS (
           SELECT q.query_id, e.vec_id,
             (${dotSql("e.embedding", "q.qemb")})
               / (sqrt(${dotSql("e.embedding", "e.embedding")})
                  * sqrt(${dotSql("q.qemb", "q.qemb")})) AS cos
           FROM embeddings e JOIN b ON e.vec_id = b.vec_id
           JOIN q ON b.bucket = q.qbucket AND e.vec_id <> q.query_id),
         r AS (
           SELECT query_id, vec_id AS neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id ASC) AS rnk
           FROM c)
         SELECT query_id, neighbor_id, rnk,
           CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_e6
         FROM r WHERE rnk <= 10"""

  /** IVF ANN oracle: centroid codebook, nearest-cell assignment, 2-probe
    * search — all via the explicit 64-term dot chains.
    */
  def ivfOracle: String = {
    def cos(a: String, b: String) =
      s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
    s"""WITH cent AS (
           SELECT label, list(c_e6 ORDER BY dim) AS cvec
           FROM (SELECT label, dim,
                   CAST(floor(avg(CAST(v AS DOUBLE)) * 1000000.0) AS BIGINT) AS c_e6
                 FROM (SELECT label, unnest(embedding) AS v,
                         generate_subscripts(embedding, 1) AS dim
                       FROM embeddings)
                 GROUP BY 1, 2)
           GROUP BY label),
         assign AS (
           SELECT vec_id, cell FROM (
             SELECT e.vec_id, c.label AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${cos("e.embedding", "c.cvec")} DESC, c.label ASC) AS rn
             FROM embeddings e, cent c) WHERE rn = 1),
         qc AS (
           SELECT query_id, qemb, cell FROM (
             SELECT e.vec_id AS query_id, e.embedding AS qemb, c.label AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${cos("e.embedding", "c.cvec")} DESC, c.label ASC) AS rn
             FROM embeddings e, cent c WHERE e.vec_id IN (100, 200)) WHERE rn <= 2),
         cand AS (
           SELECT q.query_id, e.vec_id, ${cos("e.embedding", "q.qemb")} AS cos
           FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id
           JOIN qc q ON a.cell = q.cell AND e.vec_id <> q.query_id),
         r AS (
           SELECT query_id, vec_id AS neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id ASC) AS rnk
           FROM cand)
         SELECT query_id, neighbor_id, rnk,
           CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_e6
         FROM r WHERE rnk <= 10"""
  }

  /** Mutual-NN oracle: the q98 IVF centroid/assignment replay, then the
    * within-cell pairwise top-1 and the reciprocity filter — mirrors
    * Similarity.mutualTop1 stage for stage.
    */
  def mutualNnOracle: String = {
    def cos(a: String, b: String) =
      s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
    s"""WITH cent AS (
           SELECT label, list(c_e6 ORDER BY dim) AS cvec
           FROM (SELECT label, dim,
                   CAST(floor(avg(CAST(v AS DOUBLE)) * 1000000.0) AS BIGINT) AS c_e6
                 FROM (SELECT label, unnest(embedding) AS v,
                         generate_subscripts(embedding, 1) AS dim
                       FROM embeddings)
                 GROUP BY 1, 2)
           GROUP BY label),
         assign AS (
           SELECT vec_id, cell FROM (
             SELECT e.vec_id, c.label AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${cos("e.embedding", "c.cvec")} DESC, c.label ASC) AS rn
             FROM embeddings e, cent c) WHERE rn = 1),
         wc AS MATERIALIZED (
           SELECT e.vec_id, e.embedding, a.cell
           FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id),
         scored AS (
           SELECT x.cell, x.vec_id, y.vec_id AS nid,
             ${cos("x.embedding", "y.embedding")} AS cos
           FROM wc x JOIN wc y
             ON x.cell = y.cell AND x.vec_id <> y.vec_id),
         top1 AS MATERIALIZED (
           SELECT cell, vec_id, nid,
             CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_e6
           FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, nid ASC) AS rn
                 FROM scored)
           WHERE rn = 1)
         SELECT t.cell, t.vec_id AS id_a, t.nid AS id_b, t.cos_e6
         FROM top1 t JOIN top1 r ON r.vec_id = t.nid AND r.nid = t.vec_id
         WHERE t.vec_id < t.nid"""
  }

  /** q347: the mutual-NN replay with the corpus-scaled bin refinement —
    * cells are (IVF label, first-coordinate bin), nb = max(1,
    * n/(10·target)); DuckDB lists are 1-based so embedding[1] mirrors
    * Spark's embedding[0].
    */
  /** q405 banding-tuner grid: every (bands b, rows r) factorization of a
    * 120-permutation MinHash signature. */
  val lshTunerGrid: Seq[(Int, Int)] =
    Seq(1, 2, 3, 4, 5, 6, 8, 10, 12, 15, 20, 24, 30, 40, 60, 120)
      .map(b => (b, 120 / b))

  /** x^e as a product of the named square columns `x2, x4, … x64` (plus
    * `x` itself), highest power first, left-associated — every term is
    * one IEEE-exact double multiply, so the SAME generated text replays
    * bit-identically in Spark and DuckDB where pow() would not.
    */
  def powProd(base: String, e: Int): String = {
    require(e >= 1 && e <= 127, s"exponent $e")
    val terms = (6 to 0 by -1).collect {
      case k if (e & (1 << k)) != 0 =>
        if (k == 0) base else s"$base${1 << k}"
    }
    terms.reduceLeft((a, b) => s"($a * $b)")
  }

  /** CASE over the data-side exponent column selecting the pinned
    * power-product chain for each exponent in `values`. */
  def powCase(base: String, expCol: String, values: Seq[Int]): String =
    s"CASE $expCol " + values.distinct.sorted
      .map(v => s"WHEN $v THEN ${powProd(base, v)}").mkString(" ") + " END"

  /** q410 replay: 10 unrolled greedy k-center rounds — per round, the
    * (d2min DESC, vec_id) LIMIT-1 argmax pick, the accumulated chosen
    * set, and the incremental least(d2min, d2-to-new-center) update.
    * MATERIALIZED throughout (the q406 lesson — non-materialized
    * round CTEs re-evaluate exponentially).
    */
  def kcenterOracle: String = {
    def il2(a: String, b: String) = il2Sql(a, b, Similarity.Dim)
    val rounds = (2 to 10).map { k =>
      val upd = if (k < 10)
        s""",
         d$k AS MATERIALIZED (
           SELECT v.vec_id, least(p.d2min, ${il2("v.ve", "c.ve")}) AS d2min
           FROM ve v JOIN d${k - 1} p ON v.vec_id = p.vec_id,
             (SELECT ve FROM ve
              WHERE vec_id = (SELECT cid FROM c$k)) c)"""
      else ""
      s"""c$k AS MATERIALIZED (
           SELECT vec_id AS cid, d2min AS sel_d2 FROM d${k - 1}
           WHERE vec_id NOT IN (SELECT cid FROM cs${k - 1})
           ORDER BY d2min DESC, vec_id LIMIT 1),
         cs$k AS MATERIALIZED (
           SELECT cid FROM cs${k - 1} UNION ALL SELECT cid FROM c$k)$upd"""
    }.mkString(",\n         ")
    val sel = (2 to 10).map(k =>
      s"SELECT CAST($k AS BIGINT) AS round, cid AS vec_id, sel_d2 FROM c$k")
      .mkString("\n         UNION ALL ")
    s"""WITH ve AS MATERIALIZED (
           SELECT vec_id, list_transform(embedding,
             v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS ve
           FROM embeddings),
         c1 AS MATERIALIZED (SELECT min(vec_id) AS cid FROM ve),
         cs1 AS MATERIALIZED (SELECT cid FROM c1),
         d1 AS MATERIALIZED (
           SELECT v.vec_id, ${il2("v.ve", "c.ve")} AS d2min
           FROM ve v,
             (SELECT ve FROM ve
              WHERE vec_id = (SELECT cid FROM c1)) c),
         $rounds
         SELECT CAST(1 AS BIGINT) AS round, cid AS vec_id,
           CAST(-1 AS BIGINT) AS sel_d2 FROM c1
         UNION ALL $sel"""
  }

  /** q406 replay: histogram-derived pairwise wins, e6 normalization, and
    * the 6 unrolled Bradley–Terry MM rounds (the doremi pattern — every
    * trunc division replays in SQL).
    */
  def bradleyTerryOracle: String = {
    val rounds = (1 to 6).map { rd =>
      s"""s$rd AS MATERIALIZED (
           SELECT n.i,
             CAST(sum(n.n_e6 * 1000000000000 // (pi.p + pj.p))
               AS BIGINT) AS sden
           FROM nij n JOIN r${rd - 1} pi ON n.i = pi.i
             JOIN r${rd - 1} pj ON n.j = pj.i
           GROUP BY n.i),
         pr$rd AS MATERIALIZED (
           SELECT w.i,
             least(1000000000000, greatest(1,
               w.wi_e6 * 1000000000000 // greatest(s.sden, 1))) AS praw
           FROM wi w JOIN s$rd s ON w.i = s.i),
         r$rd AS MATERIALIZED (
           SELECT pr.i,
             pr.praw * 1000000 // greatest(tt.tp // kk.k, 1) AS p
           FROM pr$rd pr,
             (SELECT CAST(sum(praw) AS BIGINT) AS tp FROM pr$rd) tt, kk)"""
    }.mkString(",\n         ")
    s"""WITH docs2 AS (
           SELECT source, n_chars // 100 AS bkt FROM documents),
         h AS (
           SELECT source, bkt, CAST(count(*) AS BIGINT) AS c
           FROM docs2 GROUP BY 1, 2),
         winsord AS (
           SELECT a.source AS i, b.source AS j,
             CAST(sum(a.c * b.c) AS BIGINT) AS w
           FROM h a JOIN h b
             ON a.source <> b.source AND a.bkt > b.bkt
           GROUP BY 1, 2),
         srcs AS MATERIALIZED (SELECT DISTINCT source AS i FROM documents),
         kk AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS k FROM srcs),
         ntot AS (SELECT CAST(sum(w) AS BIGINT) AS n_tot FROM winsord),
         gij AS (
           SELECT a.i, b.i AS j FROM srcs a CROSS JOIN srcs b
           WHERE a.i <> b.i),
         wij AS (
           SELECT g.i, g.j,
             coalesce(w.w, 0) * 1000000 // greatest(n_tot, 1) AS w_e6
           FROM gij g LEFT JOIN winsord w ON g.i = w.i AND g.j = w.j, ntot),
         nij AS MATERIALIZED (
           SELECT x.i, x.j, x.w_e6, x.w_e6 + y.w_e6 AS n_e6
           FROM wij x JOIN wij y ON x.i = y.j AND x.j = y.i),
         wi AS MATERIALIZED (
           SELECT i, CAST(sum(w_e6) AS BIGINT) AS wi_e6
           FROM nij GROUP BY 1),
         r0 AS (SELECT i, CAST(1000000 AS BIGINT) AS p FROM srcs),
         $rounds
         SELECT r.i AS source, w.wi_e6 AS win_share_e6,
           r.p AS bt_strength_e6
         FROM r6 r JOIN wi w ON r.i = w.i"""
  }

  /** q405 replay: the q366 shingle/all-pairs CTEs, the (b, r) grid, the
    * SAME powProd/powCase generated chains, and the workload-weighted
    * caught/missed/fp aggregate with the argmin flag.
    */
  def lshTunerOracle: String = {
    val jsq = Seq(2, 4, 8, 16, 32, 64).zipWithIndex.map { case (k, i) =>
      val src = if (i == 0) "pj0" else s"pj$i"
      val prev = if (k == 2) "j" else s"j${k / 2}"
      s"pj${i + 1} AS (SELECT *, $prev * $prev AS j$k FROM $src)"
    }.mkString(",\n         ")
    val tsq = Seq(2, 4, 8, 16, 32, 64).zipWithIndex.map { case (k, i) =>
      val src = if (i == 0) "pt0" else s"pt$i"
      val prev = if (k == 2) "tt" else s"tt${k / 2}"
      s"pt${i + 1} AS (SELECT *, $prev * $prev AS tt$k FROM $src)"
    }.mkString(",\n         ")
    s"""WITH sh100 AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS shs
           FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
                 FROM documents WHERE doc_id < 300)
           WHERE len(w) >= 3),
         allp AS (
           SELECT a.doc_id AS id1, b.doc_id AS id2,
             CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT) AS inter,
             CAST(len(a.shs) + len(b.shs)
               - len(list_intersect(a.shs, b.shs)) AS BIGINT) AS uni
           FROM sh100 a JOIN sh100 b ON a.doc_id < b.doc_id),
         jt AS (
           SELECT id1, id2, inter, uni,
             CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS j,
             inter * 1000000 // uni AS j_e6
           FROM allp),
         grid AS (
           SELECT b, 120 // b AS r FROM (SELECT unnest([${
             lshTunerGrid.map(_._1).mkString(", ")}]) AS b)),
         pj0 AS (SELECT * FROM jt CROSS JOIN grid),
         $jsq,
         pr AS (SELECT *, ${powCase("j", "r", lshTunerGrid.map(_._2))} AS jr
                FROM pj6),
         pt0 AS (SELECT *, 1.0 - jr AS tt FROM pr),
         $tsq,
         pp AS (SELECT *, ${powCase("tt", "b", lshTunerGrid.map(_._1))} AS tb
                FROM pt6),
         pe AS (SELECT *,
             CAST(floor((1.0 - tb) * 1000000.0) AS BIGINT) AS p_e6
           FROM pp),
         ag AS (
           SELECT b, r, count(*) AS n_pairs,
             CAST(sum(CASE WHEN j_e6 >= 500000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_true,
             CAST(sum(CASE WHEN j_e6 >= 500000 THEN p_e6 ELSE 0 END)
               AS BIGINT) AS caught_e6,
             CAST(sum(CASE WHEN j_e6 >= 500000 THEN 1000000 - p_e6
               ELSE 0 END) AS BIGINT) AS missed_e6,
             CAST(sum(CASE WHEN j_e6 < 500000 THEN p_e6 ELSE 0 END)
               AS BIGINT) AS fp_e6
           FROM pe GROUP BY b, r),
         agc AS (SELECT *, missed_e6 + fp_e6 // 10 AS cost_e6 FROM ag),
         best AS (SELECT min(cost_e6) AS min_cost FROM agc)
         SELECT CAST(b AS BIGINT) AS b, CAST(r AS BIGINT) AS r, n_pairs,
           n_true, caught_e6, missed_e6, fp_e6, cost_e6,
           cost_e6 = min_cost AS is_chosen
         FROM agc, best"""
  }

  /** q113 SemDeDup replay: the mutualNnScaledOracle cell/bin CTEs, an
    * in-group cosine-threshold pair set, recursive-CTE connected
    * components (componentCtes' reach pattern), and the per-component
    * keep-outlier pick (min centroid-cosine, vec_id tiebreak).
    */
  def semdedupOracle(target: Long, tauE6: Long): String = {
    def cos(a: String, b: String) =
      s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
    val nb = s"greatest(1, (SELECT count(*) FROM embeddings) // (10 * $target))"
    s"""WITH RECURSIVE cent AS (
           SELECT label, list(c_e6 ORDER BY dim) AS cvec
           FROM (SELECT label, dim,
                   CAST(floor(avg(CAST(v AS DOUBLE)) * 1000000.0) AS BIGINT) AS c_e6
                 FROM (SELECT label, unnest(embedding) AS v,
                         generate_subscripts(embedding, 1) AS dim
                       FROM embeddings)
                 GROUP BY 1, 2)
           GROUP BY label),
         assign AS (
           SELECT vec_id, cell FROM (
             SELECT e.vec_id, c.label AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${cos("e.embedding", "c.cvec")} DESC, c.label ASC) AS rn
             FROM embeddings e, cent c) WHERE rn = 1),
         wc AS MATERIALIZED (
           SELECT e.vec_id, e.embedding, a.cell,
             least($nb - 1, greatest(0, CAST(floor(
               (CAST(e.embedding[1] AS DOUBLE) + 1.0) / 2.0 * $nb)
               AS BIGINT))) AS bin
           FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id),
         dup AS (
           SELECT x.vec_id AS id1, y.vec_id AS id2
           FROM wc x JOIN wc y
             ON x.cell = y.cell AND x.bin = y.bin AND x.vec_id < y.vec_id
           WHERE CAST(floor((${cos("x.embedding", "y.embedding")})
             * 1000000.0) AS BIGINT) >= $tauE6),
         edges AS (
           SELECT id1 AS src, id2 AS dst FROM dup
           UNION SELECT id2, id1 FROM dup),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e
             ON r.dst = e.src WHERE e.dst <> r.src),
         comp AS (
           SELECT src AS vec_id, least(src, min(dst)) AS comp_id
           FROM reach GROUP BY src),
         ccs AS (
           SELECT w.vec_id, w.cell,
             CAST(floor((${cos("w.embedding", "c.cvec")}) * 1000000.0)
               AS BIGINT) AS cc_e6
           FROM wc w JOIN cent c ON w.cell = c.label),
         members AS (
           SELECT p.vec_id, p.comp_id, s.cell, s.cc_e6
           FROM comp p JOIN ccs s ON p.vec_id = s.vec_id),
         keeper AS (
           SELECT comp_id, vec_id AS keep_id FROM (
             SELECT comp_id, vec_id, row_number() OVER (
               PARTITION BY comp_id ORDER BY cc_e6 ASC, vec_id ASC) AS rn
             FROM members) WHERE rn = 1)
         SELECT m.vec_id, m.comp_id, m.cell, m.cc_e6,
           m.vec_id = k.keep_id AS is_kept
         FROM members m JOIN keeper k ON m.comp_id = k.comp_id"""
  }

  def mutualNnScaledOracle(target: Long): String = {
    def cos(a: String, b: String) =
      s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
    val nb = s"greatest(1, (SELECT count(*) FROM embeddings) // (10 * $target))"
    s"""WITH cent AS (
           SELECT label, list(c_e6 ORDER BY dim) AS cvec
           FROM (SELECT label, dim,
                   CAST(floor(avg(CAST(v AS DOUBLE)) * 1000000.0) AS BIGINT) AS c_e6
                 FROM (SELECT label, unnest(embedding) AS v,
                         generate_subscripts(embedding, 1) AS dim
                       FROM embeddings)
                 GROUP BY 1, 2)
           GROUP BY label),
         assign AS (
           SELECT vec_id, cell FROM (
             SELECT e.vec_id, c.label AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${cos("e.embedding", "c.cvec")} DESC, c.label ASC) AS rn
             FROM embeddings e, cent c) WHERE rn = 1),
         wc AS MATERIALIZED (
           SELECT e.vec_id, e.embedding, a.cell,
             least($nb - 1, greatest(0, CAST(floor(
               (CAST(e.embedding[1] AS DOUBLE) + 1.0) / 2.0 * $nb)
               AS BIGINT))) AS bin
           FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id),
         scored AS (
           SELECT x.cell, x.bin, x.vec_id, y.vec_id AS nid,
             ${cos("x.embedding", "y.embedding")} AS cos
           FROM wc x JOIN wc y
             ON x.cell = y.cell AND x.bin = y.bin AND x.vec_id <> y.vec_id),
         top1 AS MATERIALIZED (
           SELECT cell, bin, vec_id, nid,
             CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_e6
           FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, nid ASC) AS rn
                 FROM scored)
           WHERE rn = 1)
         SELECT t.cell, t.bin, t.vec_id AS id_a, t.nid AS id_b, t.cos_e6
         FROM top1 t JOIN top1 r ON r.vec_id = t.nid AND r.nid = t.vec_id
         WHERE t.vec_id < t.nid"""
  }

  /** q348: the in-cell pair replay with per-anchor same-label and
    * different-label top-1 picks and the margin. Cells carry the
    * corpus-scaled first-coordinate bin (mutualNnScaledOracle's nb
    * scheme) mirroring Similarity.hardNegatives.
    */
  def hardNegativesOracle(target: Long): String = {
    def cos(a: String, b: String) =
      s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
    val nb = s"greatest(1, (SELECT count(*) FROM embeddings) // (10 * $target))"
    s"""WITH cent AS (
           SELECT label, list(c_e6 ORDER BY dim) AS cvec
           FROM (SELECT label, dim,
                   CAST(floor(avg(CAST(v AS DOUBLE)) * 1000000.0) AS BIGINT) AS c_e6
                 FROM (SELECT label, unnest(embedding) AS v,
                         generate_subscripts(embedding, 1) AS dim
                       FROM embeddings)
                 GROUP BY 1, 2)
           GROUP BY label),
         assign AS (
           SELECT vec_id, cell FROM (
             SELECT e.vec_id, c.label AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${cos("e.embedding", "c.cvec")} DESC, c.label ASC) AS rn
             FROM embeddings e, cent c) WHERE rn = 1),
         wc AS MATERIALIZED (
           SELECT e.vec_id, e.label, e.embedding, a.cell,
             least($nb - 1, greatest(0, CAST(floor(
               (CAST(e.embedding[1] AS DOUBLE) + 1.0) / 2.0 * $nb)
               AS BIGINT))) AS bin
           FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id),
         scored AS MATERIALIZED (
           SELECT x.vec_id, x.label, y.vec_id AS nid, y.label AS nlabel,
             ${cos("x.embedding", "y.embedding")} AS cos
           FROM wc x JOIN wc y
             ON x.cell = y.cell AND x.bin = y.bin AND x.vec_id <> y.vec_id),
         pos AS (
           SELECT vec_id, nid AS pos_id,
             CAST(floor(cos * 1000000.0) AS BIGINT) AS pos_cos_e6
           FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, nid ASC) AS rn
                 FROM scored WHERE nlabel = label)
           WHERE rn = 1),
         neg AS (
           SELECT vec_id, nid AS neg_id,
             CAST(floor(cos * 1000000.0) AS BIGINT) AS neg_cos_e6
           FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, nid ASC) AS rn
                 FROM scored WHERE nlabel <> label)
           WHERE rn = 1)
         SELECT vec_id, pos_id, pos_cos_e6, neg_id, neg_cos_e6,
           pos_cos_e6 - neg_cos_e6 AS margin_e6
         FROM pos JOIN neg USING (vec_id)"""
  }

  /** q354: the (cell, bin) occupancy replay — populations, skew, and
    * the exact pair workload Σ pop·(pop−1).
    */
  def cellBalanceOracle: String = {
    def cos(a: String, b: String) =
      s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
    val nb = "greatest(1, (SELECT count(*) FROM embeddings) // 2000)"
    s"""WITH cent AS (
           SELECT label, list(c_e6 ORDER BY dim) AS cvec
           FROM (SELECT label, dim,
                   CAST(floor(avg(CAST(v AS DOUBLE)) * 1000000.0) AS BIGINT) AS c_e6
                 FROM (SELECT label, unnest(embedding) AS v,
                         generate_subscripts(embedding, 1) AS dim
                       FROM embeddings)
                 GROUP BY 1, 2)
           GROUP BY label),
         assign AS (
           SELECT vec_id, cell FROM (
             SELECT e.vec_id, c.label AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${cos("e.embedding", "c.cvec")} DESC, c.label ASC) AS rn
             FROM embeddings e, cent c) WHERE rn = 1),
         pops AS (
           SELECT a.cell,
             least($nb - 1, greatest(0, CAST(floor(
               (CAST(e.embedding[1] AS DOUBLE) + 1.0) / 2.0 * $nb)
               AS BIGINT))) AS bin,
             count(*) AS pop
           FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id
           GROUP BY 1, 2),
         agg AS (
           SELECT CAST(sum(pop) AS BIGINT) AS n_total,
             count(*) AS n_groups,
             CAST(max(pop) AS BIGINT) AS max_pop,
             CAST(sum(pop * (pop - 1)) AS BIGINT) AS pair_work
           FROM pops)
         SELECT n_total, n_groups, max_pop,
           n_total // n_groups AS avg_pop,
           max_pop * 1000 // (n_total // n_groups) AS skew_e3,
           pair_work
         FROM agg"""
  }

  /** q350's oracle, shared verbatim with q378's provenance rollup. */
  def rrfFusionOracle: String =
    s"""WITH qd AS (
           SELECT doc_id AS query_id,
             list_distinct(string_split(lower(text), ' ')) AS qtok
           FROM documents WHERE doc_id IN (10, 20, 30)),
         cd AS (
           SELECT doc_id AS cand_id,
             list_distinct(string_split(lower(text), ' ')) AS ctok
           FROM documents),
         sp0 AS (
           SELECT query_id, cand_id,
             CAST(len(list_intersect(ctok, qtok)) AS BIGINT) AS ov
           FROM qd, cd WHERE cand_id <> query_id),
         sp AS (
           SELECT query_id, cand_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY ov DESC, cand_id) AS r_sparse
           FROM sp0 WHERE ov >= 1
           QUALIFY r_sparse <= 50),
         q AS (
           SELECT vec_id AS query_id, embedding AS qemb
           FROM embeddings WHERE vec_id IN (10, 20, 30)),
         dn0 AS (
           SELECT q.query_id, e.vec_id AS cand_id,
             (${dotSql("e.embedding", "q.qemb")})
               / (sqrt(${dotSql("e.embedding", "e.embedding")})
                  * sqrt(${dotSql("q.qemb", "q.qemb")})) AS cos
           FROM embeddings e, q WHERE e.vec_id <> q.query_id),
         dn AS (
           SELECT query_id, cand_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, cand_id) AS r_dense
           FROM dn0 QUALIFY r_dense <= 50),
         f AS (
           SELECT coalesce(dn.query_id, sp.query_id) AS query_id,
             coalesce(dn.cand_id, sp.cand_id) AS cand_id,
             CAST(dn.r_dense AS BIGINT) AS r_dense,
             CAST(sp.r_sparse AS BIGINT) AS r_sparse
           FROM dn FULL OUTER JOIN sp
             ON dn.query_id = sp.query_id AND dn.cand_id = sp.cand_id),
         g AS (
           SELECT query_id, cand_id, r_dense, r_sparse,
             coalesce(1000000 // (60 + r_dense), 0)
               + coalesce(1000000 // (60 + r_sparse), 0) AS rrf_e6
           FROM f)
         SELECT query_id, cand_id, r_dense, r_sparse,
           CAST(rrf_e6 AS BIGINT) AS rrf_e6,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf_e6 DESC, cand_id) AS BIGINT)
             AS pos
         FROM g
         QUALIFY pos <= 10"""

  /** q383: the JL projection replay — ±1 signs from md5('jl:i:j')
    * literals (constant-folded both engines), quantized-e6 vectors,
    * corpus-scaled (cell, bin) pairs, exact integer squared distances.
    */
  def jlDistortionOracle: String = {
    def cos(a: String, b: String) =
      s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
    val nb = "greatest(1, (SELECT count(*) FROM embeddings) // 2000)"
    val projCols = (0 until 16).map { j =>
      val terms = (0 until 64).map { i =>
        val h = s"CAST(concat('0x', substr(md5('jl:$i:$j'), 1, 15)) AS BIGINT)"
        s"(CASE WHEN $h % 2 = 0 THEN ve[${i + 1}] ELSE -ve[${i + 1}] END)"
      }.mkString(" + ")
      s"($terms) AS p$j"
    }.mkString(",\n             ")
    val dp2 = (0 until 16)
      .map(j => s"(a.p$j - b.p$j) * (a.p$j - b.p$j)").mkString(" + ")
    s"""WITH cent AS (
           SELECT label, list(c_e6 ORDER BY dim) AS cvec
           FROM (SELECT label, dim,
                   CAST(floor(avg(CAST(v AS DOUBLE)) * 1000000.0) AS BIGINT) AS c_e6
                 FROM (SELECT label, unnest(embedding) AS v,
                         generate_subscripts(embedding, 1) AS dim
                       FROM embeddings)
                 GROUP BY 1, 2)
           GROUP BY label),
         assign AS (
           SELECT vec_id, cell FROM (
             SELECT e.vec_id, c.label AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${cos("e.embedding", "c.cvec")} DESC, c.label ASC) AS rn
             FROM embeddings e, cent c) WHERE rn = 1),
         vq AS (
           SELECT vec_id,
             list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS ve
           FROM embeddings),
         pr AS MATERIALIZED (
           SELECT vq.vec_id, vq.ve, a.cell,
             least($nb - 1, greatest(0, CAST(floor(
               (CAST(vq.ve[1] AS DOUBLE) / 1000000.0 + 1.0) / 2.0 * $nb)
               AS BIGINT))) AS bin,
             $projCols
           FROM vq JOIN assign a ON vq.vec_id = a.vec_id),
         pairs AS (
           SELECT (${il2Sql("a.ve", "b.ve", 64)}) AS do2, ($dp2) AS dp2
           FROM pr a JOIN pr b
             ON a.cell = b.cell AND a.bin = b.bin AND a.vec_id < b.vec_id
             AND (a.vec_id + b.vec_id) % 4 = 0)
         SELECT (dp2 // 16) * 10 // do2 AS bkt, count(*) AS n_pairs
         FROM pairs WHERE do2 > 0
         GROUP BY 1"""
  }

  /** Shared margin-ratio CTE prelude (cent → assign → wc → pairs → hood)
    * — one definition feeding the q352 acceptance oracle and the q363
    * calibration oracle so the pair/neighborhood semantics cannot drift.
    */
  def marginPairsCtes(target: Long, k: Int): String = {
    def cos(a: String, b: String) =
      s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
    val nb = s"greatest(1, (SELECT count(*) FROM embeddings) // (10 * $target))"
    s"""cent AS (
           SELECT label, list(c_e6 ORDER BY dim) AS cvec
           FROM (SELECT label, dim,
                   CAST(floor(avg(CAST(v AS DOUBLE)) * 1000000.0) AS BIGINT) AS c_e6
                 FROM (SELECT label, unnest(embedding) AS v,
                         generate_subscripts(embedding, 1) AS dim
                       FROM embeddings)
                 GROUP BY 1, 2)
           GROUP BY label),
         assign AS (
           SELECT vec_id, cell FROM (
             SELECT e.vec_id, c.label AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${cos("e.embedding", "c.cvec")} DESC, c.label ASC) AS rn
             FROM embeddings e, cent c) WHERE rn = 1),
         wc AS MATERIALIZED (
           SELECT e.vec_id, e.embedding, a.cell,
             least($nb - 1, greatest(0, CAST(floor(
               (CAST(e.embedding[1] AS DOUBLE) + 1.0) / 2.0 * $nb)
               AS BIGINT))) AS bin
           FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id),
         pairs AS MATERIALIZED (
           SELECT x.vec_id, y.vec_id AS nid,
             CAST(floor(${cos("x.embedding", "y.embedding")} * 1000000.0)
               AS BIGINT) AS cos_e6
           FROM wc x JOIN wc y
             ON x.cell = y.cell AND x.bin = y.bin AND x.vec_id <> y.vec_id),
         hood AS (
           SELECT vec_id, CAST(sum(cos_e6) // count(*) AS BIGINT) AS avg_e6
           FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos_e6 DESC, nid ASC) AS rn
                 FROM pairs)
           WHERE rn <= $k GROUP BY vec_id),
         scored_pairs AS (
           SELECT p.vec_id AS id_a, p.nid AS id_b, p.cos_e6,
             ha.avg_e6 AS avg_a_e6, hb.avg_e6 AS avg_b_e6,
             CAST(p.cos_e6 * 2000000 // (ha.avg_e6 + hb.avg_e6) AS BIGINT)
               AS margin_e6
           FROM pairs p
           JOIN hood ha ON p.vec_id = ha.vec_id
           JOIN hood hb ON p.nid = hb.vec_id
           WHERE p.vec_id < p.nid AND p.cos_e6 >= 0
             AND ha.avg_e6 + hb.avg_e6 > 0)"""
  }

  def marginRatioOracle(target: Long, k: Int): String =
    s"""WITH ${marginPairsCtes(target, k)}
         SELECT id_a, id_b, cos_e6, avg_a_e6, avg_b_e6, margin_e6
         FROM scored_pairs WHERE margin_e6 >= 1000000"""

  /** Recall@10 oracle: brute-force, LSH (8 planes) and IVF (2 probes)
    * top-10 chains — the same CTE shapes as q61/q62/q98's oracles, query
    * ids 100/200 — each ANN joined against brute force per neighbor.
    */
  def annRecallOracle: String = {
    def cos(a: String, b: String) =
      s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
    def recallSelect(method: String, annCte: String) =
      s"""SELECT '$method' AS method, bfr.query_id, count(*) AS k,
           CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hit,
           CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) * 1000000 // count(*) AS recall_e6
         FROM bfr LEFT JOIN $annCte l
           ON bfr.query_id = l.query_id AND bfr.neighbor_id = l.neighbor_id
         GROUP BY bfr.query_id"""
    s"""WITH b AS (
           SELECT e.vec_id,
             sum(CASE WHEN (${dotSql("e.embedding", "p.embedding")}) > 0
                 THEN (CAST(1 AS BIGINT) << CAST(p.vec_id AS INT)) ELSE 0 END) AS bucket
           FROM embeddings e, embeddings p WHERE p.vec_id < 8
           GROUP BY e.vec_id),
         q AS (
           SELECT e.vec_id AS query_id, e.embedding AS qemb, b.bucket AS qbucket
           FROM embeddings e JOIN b ON e.vec_id = b.vec_id
           WHERE e.vec_id IN (100, 200)),
         lshr AS (
           SELECT query_id, vec_id AS neighbor_id FROM (
             SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 ${cos("e.embedding", "q.qemb")} DESC, e.vec_id ASC) AS rnk
             FROM embeddings e JOIN b ON e.vec_id = b.vec_id
             JOIN q ON b.bucket = q.qbucket AND e.vec_id <> q.query_id)
           WHERE rnk <= 10),
         cent AS (
           SELECT label, list(c_e6 ORDER BY dim) AS cvec
           FROM (SELECT label, dim,
                   CAST(floor(avg(CAST(v AS DOUBLE)) * 1000000.0) AS BIGINT) AS c_e6
                 FROM (SELECT label, unnest(embedding) AS v,
                         generate_subscripts(embedding, 1) AS dim
                       FROM embeddings)
                 GROUP BY 1, 2)
           GROUP BY label),
         assign AS (
           SELECT vec_id, cell FROM (
             SELECT e.vec_id, c.label AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${cos("e.embedding", "c.cvec")} DESC, c.label ASC) AS rn
             FROM embeddings e, cent c) WHERE rn = 1),
         qc AS (
           SELECT query_id, qemb, cell FROM (
             SELECT e.vec_id AS query_id, e.embedding AS qemb, c.label AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${cos("e.embedding", "c.cvec")} DESC, c.label ASC) AS rn
             FROM embeddings e, cent c WHERE e.vec_id IN (100, 200)) WHERE rn <= 2),
         ivfr AS (
           SELECT query_id, vec_id AS neighbor_id FROM (
             SELECT qq.query_id, e.vec_id,
               row_number() OVER (PARTITION BY qq.query_id ORDER BY
                 ${cos("e.embedding", "qq.qemb")} DESC, e.vec_id ASC) AS rnk
             FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id
             JOIN qc qq ON a.cell = qq.cell AND e.vec_id <> qq.query_id)
           WHERE rnk <= 10),
         bfr AS (
           SELECT query_id, vec_id AS neighbor_id FROM (
             SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 ${cos("e.embedding", "q.qemb")} DESC, e.vec_id ASC) AS rnk
             FROM embeddings e, q WHERE e.vec_id <> q.query_id)
           WHERE rnk <= 10)
         ${recallSelect("lsh8", "lshr")}
         UNION ALL
         ${recallSelect("ivf2", "ivfr")}"""
  }

  def trianglesOracle: String =
    s"""WITH $minhashCtes,
         pairs AS (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
         SELECT count(*) AS n_wedges,
           CAST(sum(CASE WHEN e3.id1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_triangles
         FROM pairs e1
         JOIN pairs e2 ON e1.id2 = e2.id1
         LEFT JOIN pairs e3 ON e3.id1 = e1.id1 AND e3.id2 = e2.id2"""

  /** Common-neighbor / Resource-Allocation link prediction over the LSH
    * pair graph — mirrors q256 (same per-term `//` fixed-point floor).
    */
  def linkPredictionOracle: String =
    s"""WITH $minhashCtes,
         pairs AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         edges AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM pairs
                   UNION ALL SELECT id2, id1 FROM pairs),
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         cand AS (
           SELECT zu.dst AS u, zw.dst AS w, count(*) AS cn,
             CAST(sum(1000000 // d.deg) AS BIGINT) AS ra_e6
           FROM edges zu JOIN edges zw ON zu.src = zw.src AND zu.dst < zw.dst
           JOIN deg d ON d.src = zu.src
           GROUP BY 1, 2)
         SELECT u AS id1, w AS id2, cn, ra_e6
         FROM cand c
         WHERE NOT EXISTS (SELECT 1 FROM pairs p
                           WHERE p.id1 = c.u AND p.id2 = c.w)
         ORDER BY cn DESC, ra_e6 DESC, u, w LIMIT 50"""

  /** 3 unrolled integer-PageRank iterations over the LSH pair graph —
    * mirrors q132 exactly (same `//` truncations, same 85/100 damping).
    */
  def pagerankOracle: String = {
    def iter(prev: String, cur: String) =
      s"""$cur AS (
           SELECT e.dst AS id,
             150000 + (85 * CAST(sum(r.r // d.d) AS BIGINT)) // 100 AS r
           FROM edges e JOIN deg d ON e.src = d.src
           JOIN $prev r ON r.id = e.src
           GROUP BY e.dst)"""
    s"""WITH $minhashCtes,
         pairs AS (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         edges AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM pairs
                   UNION ALL SELECT id2, id1 FROM pairs),
         deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
         r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
         ${iter("r0", "r1")},
         ${iter("r1", "r2")},
         ${iter("r2", "r3")}
       SELECT id AS doc_id, r AS rank_e6 FROM r3"""
  }

  /** Two unrolled Lloyd iterations in exact integer micro-units —
    * mirrors q145 (floor-divided centroid means, argmin with centroid
    * tie-break, assignments always recomputed from the original vectors).
    */
  /** The 2-round exact-integer Lloyd chain (mirror of `Similarity.lloyd`):
    * ve → cent0 → a1 → cent1 → a2 → cent2. Shared by q145 and q251.
    */
  /** q398 oracle: the full 5-round Fellegi–Sunter EM replay on the
    * 16-pattern frame — trunc-div chains mirror the Spark expr exactly.
    */
  def fsEmOracle: String = {
    def ppSql(p: String, cs: Seq[String]) = cs.zipWithIndex.foldLeft(p) {
      case (acc, (c, i)) =>
        s"(($acc * (CASE WHEN x${i + 1} = 1 THEN $c " +
          s"ELSE 1000000 - $c END)) // 1000000)"
    }
    val rounds = (1 to 5).map { i =>
      val fits = (1 to 4).map { k =>
        s"""CASE WHEN CAST(sum(npat * w) AS BIGINT) = 0 THEN 0
             ELSE (CAST(sum(CASE WHEN x$k = 1 THEN npat * w ELSE 0 END)
               AS BIGINT) * 1000000)
               // CAST(sum(npat * w) AS BIGINT) END AS m$k,
           CASE WHEN CAST(sum(npat * (1000000 - w)) AS BIGINT) = 0 THEN 0
             ELSE (CAST(sum(CASE WHEN x$k = 1
               THEN npat * (1000000 - w) ELSE 0 END) AS BIGINT) * 1000000)
               // CAST(sum(npat * (1000000 - w)) AS BIGINT) END AS u$k"""
      }.mkString(",\n           ")
      s"""e$i AS (
           SELECT x1, x2, x3, x4, npat,
             ${ppSql("p", Seq("m1", "m2", "m3", "m4"))} AS pm,
             ${ppSql("(1000000 - p)", Seq("u1", "u2", "u3", "u4"))} AS pu
           FROM pat CROSS JOIN st${i - 1}),
         w$i AS (
           SELECT *, CASE WHEN pm + pu = 0 THEN 0
             ELSE (pm * 1000000) // (pm + pu) END AS w FROM e$i),
         st$i AS (
           SELECT CAST(sum(npat * w) AS BIGINT)
               // CAST(sum(npat) AS BIGINT) AS p,
             $fits
           FROM w$i)"""
    }.mkString(",\n         ")
    s"""WITH $minhashCtes,
         prs AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         side AS (
           SELECT doc_id, source, lang, n_chars,
             string_split(lower(text), ' ')[1] AS tok1
           FROM documents WHERE doc_id < 300),
         pat AS (
           SELECT x1, x2, x3, x4, count(*) AS npat FROM (
             SELECT
               CASE WHEN s1.source = s2.source THEN 1 ELSE 0 END AS x1,
               CASE WHEN s1.lang = s2.lang THEN 1 ELSE 0 END AS x2,
               CASE WHEN abs(s1.n_chars - s2.n_chars) < 100 THEN 1 ELSE 0 END
                 AS x3,
               CASE WHEN s1.tok1 = s2.tok1 THEN 1 ELSE 0 END AS x4
             FROM prs p JOIN side s1 ON p.id1 = s1.doc_id
             JOIN side s2 ON p.id2 = s2.doc_id)
           GROUP BY 1, 2, 3, 4),
         st0 AS (
           SELECT CAST(100000 AS BIGINT) AS p,
             CAST(900000 AS BIGINT) AS m1, CAST(900000 AS BIGINT) AS m2,
             CAST(800000 AS BIGINT) AS m3, CAST(700000 AS BIGINT) AS m4,
             CAST(500000 AS BIGINT) AS u1, CAST(300000 AS BIGINT) AS u2,
             CAST(400000 AS BIGINT) AS u3, CAST(100000 AS BIGINT) AS u4),
         $rounds
         SELECT f.feature, f.m_e6, f.u_e6, s.p AS p_e6, t.n_pairs,
           CASE WHEN f.m_e6 = 0 OR f.u_e6 = 0 THEN 0
             ELSE CAST(floor(ln(CAST(f.m_e6 AS DOUBLE) / f.u_e6)
               * 1000000.0) AS BIGINT) END AS lambda_e6
         FROM (
           SELECT 'source' AS feature, m1 AS m_e6, u1 AS u_e6 FROM st5
           UNION ALL SELECT 'lang', m2, u2 FROM st5
           UNION ALL SELECT 'len', m3, u3 FROM st5
           UNION ALL SELECT 'tok1', m4, u4 FROM st5) f
         CROSS JOIN st5 s
         CROSS JOIN (SELECT CAST(sum(npat) AS BIGINT) AS n_pairs
                     FROM pat) t"""
  }

  def kmeansCtes: String = {
    val sq = "(v.ve[i] - ct.ce[i]) * (v.ve[i] - ct.ce[i])"
    def cent(src: String, name: String) =
      s"""$name AS (
           SELECT c, list(cv ORDER BY dim) AS ce FROM (
             SELECT c, dim, CAST(sum(v) AS BIGINT) // count(*) AS cv
             FROM (SELECT c, generate_subscripts(ve, 1) AS dim, unnest(ve) AS v
                   FROM $src)
             GROUP BY c, dim)
           GROUP BY c)"""
    def assign(cents: String, name: String) =
      s"""$name AS MATERIALIZED (
           SELECT vec_id, ve, c FROM (
             SELECT v.vec_id, v.ve, ct.c,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
                   i -> $sq)), ct.c) AS rn
             FROM ve v CROSS JOIN $cents ct)
           WHERE rn = 1)"""
    s"""ve AS (
           SELECT vec_id,
             list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS ve,
             CAST(label AS BIGINT) AS c
           FROM embeddings),
         ${cent("ve", "cent0")},
         ${assign("cent0", "a1")},
         ${cent("a1", "cent1")},
         ${assign("cent1", "a2")},
         ${cent("a2", "cent2")}"""
  }

  def kmeansOracle: String =
    s"""WITH $kmeansCtes
       SELECT a.c, a.n_assigned,
         md5(array_to_string(list_transform(ct.ce,
           x -> CAST(x AS VARCHAR)), ',')) AS cfp
       FROM (SELECT c, count(*) AS n_assigned FROM a2 GROUP BY c) a
       JOIN cent2 ct USING (c)"""

  /** q251 oracle: the trained-codebook IVF — Lloyd chain, 4-probe by
    * integer L2, float-cosine rank inside the probed cells, recall@10
    * against the brute-force truth.
    */
  def annIvfKmeansOracle: String = {
    val sq = "(q.qve[i] - ct.ce[i]) * (q.qve[i] - ct.ce[i])"
    s"""WITH $kmeansCtes,
         qv AS (SELECT vec_id AS query_id, ve AS qve FROM ve
                WHERE vec_id IN (100, 200)),
         probe AS (
           SELECT query_id, c FROM (
             SELECT q.query_id, ct.c,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
                   i -> $sq)), ct.c) AS rn
             FROM qv q CROSS JOIN cent2 ct)
           WHERE rn <= 4),
         qe AS (SELECT vec_id AS query_id, embedding AS qemb
                FROM embeddings WHERE vec_id IN (100, 200)),
         sc AS (
           SELECT cd.query_id, cd.vec_id,
             (${dotSql("e.embedding", "q.qemb")})
               / (sqrt(${dotSql("e.embedding", "e.embedding")})
                  * sqrt(${dotSql("q.qemb", "q.qemb")})) AS cos
           FROM (SELECT p.query_id, a.vec_id
                 FROM probe p JOIN a2 a ON a.c = p.c
                 WHERE a.vec_id <> p.query_id) cd
           JOIN embeddings e ON e.vec_id = cd.vec_id
           JOIN qe q ON q.query_id = cd.query_id),
         ann AS (
           SELECT query_id, vec_id AS neighbor_id FROM (
             SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id ASC) AS rnk
             FROM sc)
           WHERE rnk <= 10),
         bfs AS (
           SELECT q.query_id, e.vec_id,
             (${dotSql("e.embedding", "q.qemb")})
               / (sqrt(${dotSql("e.embedding", "e.embedding")})
                  * sqrt(${dotSql("q.qemb", "q.qemb")})) AS cos
           FROM embeddings e, qe q WHERE e.vec_id <> q.query_id),
         bf AS (
           SELECT query_id, vec_id AS neighbor_id FROM (
             SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id ASC) AS rnk
             FROM bfs)
           WHERE rnk <= 10)
         SELECT 'ivfkm4' AS method, b.query_id, count(*) AS k,
           CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hit,
           CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             * 1000000 // count(*) AS BIGINT) AS recall_e6
         FROM bf b LEFT JOIN ann a
           ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
         GROUP BY b.query_id"""
  }

  /** Shared CTEs for the q246/q247 retrieval stages: queries (10/20/30),
    * per-candidate dp + cos (explicit 64-term IEEE chains, mirror of
    * `Similarity.dot`/`cosineWithNorms`).
    */
  def retrievalCtes: String =
    s"""q AS (
           SELECT vec_id AS query_id, embedding AS qemb
           FROM embeddings WHERE vec_id IN (10, 20, 30)),
         c AS MATERIALIZED (
           SELECT q.query_id, e.vec_id,
             (${dotSql("e.embedding", "q.qemb")}) AS dp,
             (${dotSql("e.embedding", "q.qemb")})
               / (sqrt(${dotSql("e.embedding", "e.embedding")})
                  * sqrt(${dotSql("q.qemb", "q.qemb")})) AS cos
           FROM embeddings e, q WHERE e.vec_id <> q.query_id)"""

  def rrfOracle: String =
    s"""WITH $retrievalCtes,
         r AS (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id ASC) AS r_cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dp DESC, vec_id ASC) AS r_dot
           FROM c),
         f AS (
           SELECT query_id, vec_id,
             CAST(CASE WHEN r_cos <= 50 THEN 1000000000 // (60 + r_cos)
                       ELSE 0 END
                + CASE WHEN r_dot <= 50 THEN 1000000000 // (60 + r_dot)
                       ELSE 0 END AS BIGINT) AS rrf_e9
           FROM r WHERE r_cos <= 50 OR r_dot <= 50),
         o AS (
           SELECT query_id, vec_id AS neighbor_id, rrf_e9,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY rrf_e9 DESC, vec_id ASC) AS rnk
           FROM f)
         SELECT query_id, neighbor_id, rnk, rrf_e9 FROM o WHERE rnk <= 10"""

  /** q247 oracle: the greedy MMR walk unrolled as 10 per-step CTE blocks
    * (the q193 macro-generation pattern — aggregates per step, so no
    * recursive-CTE aggregate restriction applies). Each step scores the
    * remaining pool rel − max(sim to selected) and picks max score, ties
    * to the lower vec_id; all quantities integer micro-units.
    */
  def mmrOracle: String = {
    val steps = (2 to 10).map { st =>
      s"""rem$st AS MATERIALIZED (
           SELECT p.* FROM pool p
           WHERE NOT EXISTS (SELECT 1 FROM sel${st - 1} s
                             WHERE s.query_id = p.query_id
                               AND s.vec_id = p.vec_id)),
         sc$st AS MATERIALIZED (
           SELECT r.query_id, r.vec_id,
             r.rel_e6 - max(pr.sim_e6) AS score
           FROM rem$st r
           JOIN pairs pr ON pr.query_id = r.query_id AND pr.a = r.vec_id
           JOIN sel${st - 1} s ON s.query_id = pr.query_id
             AND s.vec_id = pr.b
           GROUP BY r.query_id, r.vec_id, r.rel_e6),
         pk$st AS (
           SELECT s.query_id, $st AS pos, min(s.vec_id) AS vec_id,
             m.m AS score
           FROM sc$st s
           JOIN (SELECT query_id, max(score) AS m FROM sc$st GROUP BY 1) m
             ON m.query_id = s.query_id AND s.score = m.m
           GROUP BY s.query_id, m.m),
         sel$st AS MATERIALIZED (
           SELECT * FROM sel${st - 1}
           UNION ALL SELECT query_id, pos, vec_id, score FROM pk$st)"""
    }.mkString(",\n         ")
    s"""WITH $retrievalCtes,
         pool AS MATERIALIZED (
           SELECT query_id, vec_id,
             CAST(floor(cos * 1000000.0) AS BIGINT) AS rel_e6
           FROM (SELECT query_id, vec_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, vec_id ASC) AS rnk
                 FROM c)
           WHERE rnk <= 20),
         pe AS MATERIALIZED (
           SELECT p.query_id, p.vec_id, p.rel_e6, e.embedding
           FROM pool p JOIN embeddings e USING (vec_id)),
         pairs AS MATERIALIZED (
           SELECT x.query_id, x.vec_id AS a, y.vec_id AS b,
             CAST(floor((${dotSql("x.embedding", "y.embedding")})
               / (sqrt(${dotSql("x.embedding", "x.embedding")})
                  * sqrt(${dotSql("y.embedding", "y.embedding")}))
               * 1000000.0) AS BIGINT) AS sim_e6
           FROM pe x JOIN pe y ON x.query_id = y.query_id
             AND x.vec_id <> y.vec_id),
         sel1 AS MATERIALIZED (
           SELECT s.query_id, 1 AS pos, min(s.vec_id) AS vec_id, m.m AS score
           FROM pool s
           JOIN (SELECT query_id, max(rel_e6) AS m FROM pool GROUP BY 1) m
             ON m.query_id = s.query_id AND s.rel_e6 = m.m
           GROUP BY s.query_id, m.m),
         $steps
         SELECT query_id, pos, vec_id, CAST(score AS BIGINT) AS score_e6
         FROM sel10"""
  }

  def budgetFillOracle: String =
    """WITH dv AS (
           SELECT doc_id, source, string_split(lower(text), ' ') AS w
           FROM documents),
         d2 AS (
           SELECT doc_id, source, CAST(len(w) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq
           FROM dv),
         d3 AS (SELECT *, n_uniq * 1000000 // n_tok AS prio_e6 FROM d2),
         r AS (
           SELECT *, row_number() OVER (ORDER BY prio_e6 DESC, doc_id ASC)
             AS rnk
           FROM d3),
         cm AS (
           SELECT doc_id, source, rnk, n_tok, prio_e6,
             CAST(sum(n_tok) OVER (ORDER BY rnk) AS BIGINT) AS cum_tok
           FROM r)
         SELECT doc_id, source, CAST(rnk AS BIGINT) AS rnk, n_tok,
           CAST(prio_e6 AS BIGINT) AS prio_e6, cum_tok
         FROM cm WHERE cum_tok <= 20000"""

  /** The 3 damped multiplicative-weights rounds unrolled (t0 → t3) —
    * every operand non-negative, so DuckDB `//` (floor) and Spark `div`
    * (trunc) agree; every sum CAST to BIGINT before it divides. Expects
    * a CTE `loss` (source, loss_e6); yields t0..t3 with (source,
    * loss_e6, excess_e6, w). Shared by q249 and q250.
    */
  def doremiRoundCtes: String = {
    val rounds = (1 to 3).map { rd =>
      s"""t$rd AS (
           SELECT source, loss_e6, excess_e6,
             (w * (1000000
                + ((excess_e6 * (1000000 - (w * 1000000 // tw))) // 1000000)
                  // 10)) // 1000000 AS w
           FROM t${rd - 1},
             (SELECT CAST(sum(w) AS BIGINT) AS tw FROM t${rd - 1}))"""
    }.mkString(",\n         ")
    s"""base AS (SELECT min(loss_e6) AS b FROM loss),
         t0 AS (
           SELECT source, loss_e6, loss_e6 - b AS excess_e6,
             CAST(1000000 AS BIGINT) AS w
           FROM loss, base),
         $rounds"""
  }

  def doremiOracle: String =
    s"""WITH $nllCtes,
         src AS (SELECT doc_id, source FROM documents),
         loss AS (
           SELECT source,
             CAST(sum(avg_nll_e6) // count(*) AS BIGINT) AS loss_e6
           FROM nll JOIN src USING (doc_id) GROUP BY 1),
         $doremiRoundCtes
         SELECT source, loss_e6, excess_e6, w AS w_final,
           CAST(w * 1000000 // tw AS BIGINT) AS share_e6
         FROM t3, (SELECT CAST(sum(w) AS BIGINT) AS tw FROM t3)"""

  /** q250 oracle: the composed mix — q53 keep gate, NLL over the KEPT
    * corpus, the 3 mixture rounds, per-source budget fill by keyed
    * windows. One SQL chain, every stage integer-exact.
    */
  def trainingMixOracle: String = {
    val stopAll = hitsSql(TextFunctions.langStopwords.flatMap(_._2))
    s"""WITH dv AS (
           SELECT doc_id, source, text,
             string_split(lower(text), ' ') AS w
           FROM documents),
         kept AS MATERIALIZED (
           SELECT doc_id, source, w FROM dv
           WHERE len(w) >= 10 AND len(w) <= 100000
             AND (CASE WHEN len(w) > 0
                  THEN CAST($stopAll AS DOUBLE) / len(w)
                  ELSE 0.0 END) > 0.001),
         ${nllChain("kept")},
         loss AS (
           SELECT source,
             CAST(sum(avg_nll_e6) // count(*) AS BIGINT) AS loss_e6
           FROM nll JOIN (SELECT doc_id, source FROM kept) sk USING (doc_id)
           GROUP BY 1),
         $doremiRoundCtes,
         shares AS (
           SELECT source, CAST(w * 1000000 // tw AS BIGINT) AS share_e6
           FROM t3, (SELECT CAST(sum(w) AS BIGINT) AS tw FROM t3)),
         toks AS (
           SELECT doc_id, source, CAST(len(w) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq
           FROM kept),
         pr AS (
           SELECT doc_id, source, n_tok,
             n_uniq * 1000000 // n_tok AS prio_e6
           FROM toks),
         budg AS (
           SELECT source, share_e6 * 10000 // 1000000 AS src_budget
           FROM shares),
         r AS (
           SELECT p.doc_id, p.source, p.n_tok, p.prio_e6, b.src_budget,
             row_number() OVER (PARTITION BY p.source
                                ORDER BY p.prio_e6 DESC, p.doc_id ASC)
               AS rnk_in_src,
             CAST(sum(p.n_tok) OVER (PARTITION BY p.source
                                     ORDER BY p.prio_e6 DESC, p.doc_id ASC)
               AS BIGINT) AS cum_tok
           FROM pr p JOIN budg b USING (source))
         SELECT doc_id, source, n_tok, CAST(prio_e6 AS BIGINT) AS prio_e6,
           CAST(src_budget AS BIGINT) AS src_budget,
           CAST(rnk_in_src AS BIGINT) AS rnk_in_src, cum_tok
         FROM r WHERE cum_tok <= src_budget"""
  }
}
