package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFunctions

/** Analysis-layer query shapes (SURVEY §3.2, §2.11): active-user selection,
  * migration detection, wealth percentiles, news index rollup.
  */
object Analysis {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  /** First-order Markov transition counts of the user journey — the
    * keyed lag window + groupBy shared by q292 (stationary) and q435
    * (entropy rate). Returns (from_s, to_s, c).
    */
  private def markovCounts(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    t(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("to_s"))
      .withColumn("from_s", lag("to_s", 1).over(w))
      .where(col("from_s").isNotNull)
      .groupBy("from_s", "to_s").agg(count(lit(1)).as("c"))
  }

  /** Stationary distribution by 3 power iterations in exact integer
    * micro-units (trunc divisions — the doremiShares convention, so the
    * oracle replays every round bit-for-bit). Returns (st, c_out, v_e6).
    * `markovCtes` is the oracle twin.
    */
  private def markovStationary(trans: DataFrame): DataFrame = {
    val rowTot = trans.groupBy("from_s").agg(sum("c").as("c_out"))
    val p = trans.join(rowTot, "from_s")
      .select(col("from_s"), col("to_s"),
        expr("(c * 1000000) div c_out").as("p_e6"))
    val states = rowTot.select(col("from_s").as("s0"), col("c_out"))
    val nStates = states.agg(count(lit(1)).as("k"))
    var v = states.crossJoin(broadcast(nStates))
      .select(col("s0").as("st"), expr("1000000 div k").as("v_e6"))
    for (_ <- 1 to 3) {
      v = v.join(p, col("st") === col("from_s"))
        .groupBy(col("to_s"))
        .agg(sum(col("v_e6") * col("p_e6")).as("num"))
        .select(col("to_s").as("st"), expr("num div 1000000").as("v_e6"))
    }
    states.select(col("s0").as("st"), col("c_out"))
      .join(v, Seq("st"), "left")
      .na.fill(0L, Seq("v_e6"))
  }

  /** Oracle twin of markovCounts+markovStationary: CTEs ev → tr → cnt →
    * rowt → p → kk → v0..v3 (v3 = the 3-iteration stationary vector).
    */
  private def markovCtes: String =
    """ev AS (
           SELECT user_id, epoch_us(ts) AS tm, event_id,
             event_type AS to_s
           FROM events),
         tr AS (
           SELECT lag(to_s) OVER (PARTITION BY user_id
             ORDER BY tm, event_id) AS from_s, to_s
           FROM ev),
         cnt AS (SELECT from_s, to_s, count(*) AS c
                 FROM tr WHERE from_s IS NOT NULL GROUP BY 1, 2),
         rowt AS (SELECT from_s, CAST(sum(c) AS BIGINT) AS c_out
                  FROM cnt GROUP BY 1),
         p AS (SELECT cnt.from_s, to_s, (c * 1000000) // c_out AS p_e6
               FROM cnt JOIN rowt USING (from_s)),
         kk AS (SELECT count(*) AS k FROM rowt),
         v0 AS (SELECT from_s AS st, 1000000 // k AS v_e6 FROM rowt, kk),
         v1 AS (SELECT to_s AS st,
                  CAST(sum(v_e6 * p_e6) AS BIGINT) // 1000000 AS v_e6
                FROM v0 JOIN p ON v0.st = p.from_s GROUP BY 1),
         v2 AS (SELECT to_s AS st,
                  CAST(sum(v_e6 * p_e6) AS BIGINT) // 1000000 AS v_e6
                FROM v1 JOIN p ON v1.st = p.from_s GROUP BY 1),
         v3 AS (SELECT to_s AS st,
                  CAST(sum(v_e6 * p_e6) AS BIGINT) // 1000000 AS v_e6
                FROM v2 JOIN p ON v2.st = p.from_s GROUP BY 1)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Active users (wbgps/analysis.py:89-130): per-user distinct active days
    // pre-period and overall, thresholded against the global maxima. The
    // global max is a broadcast scalar — the reference's driver round-trip
    // (toPandas at :111-117) becomes a crossJoin(broadcast(_)) here.
    "q69_active_users" -> ((s, d) => {
      val days = t(s, d, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      val perUser = days.groupBy("user_id").agg(
        countDistinct(when(col("day") < lit("2024-03-01"), col("day"))).as("n_days_pre"),
        countDistinct("day").as("n_days_all"))
      val maxes = perUser.agg(max("n_days_pre").as("max_pre"), max("n_days_all").as("max_all"))
      perUser.crossJoin(broadcast(maxes))
        .where(col("n_days_pre") >= col("max_pre") * 0.5 &&
          col("n_days_all") >= col("max_all") * 0.5)
        .select("user_id", "n_days_pre", "n_days_all")
    }),

    // Migration transitions (wbgps/analysis.py:392-415): per-user monthly
    // "home geom" sequence, lag-detect changes, count transitions by pair.
    "q70_migration" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("m")
      t(s, d, "events")
        .select(col("user_id"),
          ((unix_timestamp(col("ts")) / (30L * 86400)).cast("long")).as("m"))
        .distinct()
        .withColumn("geom", (col("user_id") + col("m")) % 4)
        .withColumn("prev_geom", lag("geom", 1).over(w))
        .where(col("prev_geom").isNotNull && col("prev_geom") =!= col("geom"))
        .groupBy("prev_geom", "geom")
        .agg(count(lit(1)).as("n_moves"))
    }),

    // Wealth percentile by cumulative population share (analysis.py:73-81)
    // + fixed-bin regrouping (pd.cut, analysis.py:194-196). Scale shape:
    // the global cumulative count runs through the two-phase distributed
    // PrefixScan (range-sort + broadcast per-partition offsets), never a
    // single-partition window; the population total rides a broadcast
    // 1-row aggregate, not a driver count() action; and the 40%/80%
    // boundaries compare in integers (cum*5 vs n*2 / n*4) so there is no
    // float knife-edge at an exact quantile boundary.
    "q71_wealth_percentile" -> ((s, d) => {
      val cust = t(s, d, "customer").select("c_custkey", "c_acctbal")
      val scanned = graft.operators.PrefixScan.scanLong(
        cust.withColumn("one", lit(1L)), "cum", "one", "sum",
        inclusive = true, desc("c_acctbal"), asc("c_custkey"))
      val nDf = cust.agg(count(lit(1)).as("n_total"))
      scanned.crossJoin(broadcast(nDf))
        .withColumn("wealth_group",
          when(col("cum") * 5 <= col("n_total") * 2, "top")
            .when(col("cum") * 5 <= col("n_total") * 4, "mid")
            .otherwise("bottom"))
        .groupBy("wealth_group")
        .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 2).as("sum_bal"))
    }),

    // News-style index (A10+A11): per-doc tonal sentiment in integer
    // micro-units (floor of an identically-ordered double formula — exact
    // across engines, unlike rounding a mean), summed per (lang, source),
    // then z-scored across sources within lang.
    "q72_news_index" -> ((s, d) => {
      val pos = TextFunctions.stopwordHits(col("text"), Seq("fast", "big", "spark"))
      val neg = TextFunctions.stopwordHits(col("text"), Seq("slow", "small", "filter"))
      val nTok = size(TextFunctions.tokens(col("text")))
      val sc = t(s, d, "documents")
        .select(col("lang"), col("source"),
          when(nTok > 0,
            floor((pos - neg).cast("double") / nTok * 1e6)).otherwise(0.0)
            .cast("long").as("s_e6"))
      val bySource = sc.groupBy("lang", "source")
        .agg(sum("s_e6").as("s_sum_e6"), count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("lang")
      bySource
        .withColumn("z",
          (col("s_sum_e6") - avg("s_sum_e6").over(w)) / stddev_samp("s_sum_e6").over(w))
        .select(col("lang"), col("source"), col("s_sum_e6"), col("n_docs"),
          round(col("z"), 4).as("z"))
    }),

    // W6: centered moving average (ma window, wbgps/analysis.py:283-285) —
    // daily event counts per type, rows frame (-3, +3).
    "q73_centered_ma" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
      daily
        .withColumn("ma7_e6", floor(avg("n").over(w) * 1e6).cast("long"))
        .withColumn("n_in_win", count(lit(1)).over(w))
        .select(col("event_type"), unix_timestamp(col("day")).as("day_s"),
          col("n"), col("ma7_e6"), col("n_in_win"))
    }),

    // The composed active-learning SELECT step (ActiveLearning.select):
    // the reference's three per-iteration strategies — exploitation
    // top-k, uncertainty band around the decision threshold, hash-seeded
    // exploration — each anti-joined against the already-labeled set
    // (5-active_learning/{exploitation,uncertainty_sampling,exploration},
    // discard_already_labelled_tweets). The iterate() loop around it is
    // spec-gated in ActiveLearningSpec (param recovery under a planted
    // boundary); this entry oracle-checks the selection semantics.
    "q244_active_learning_select" -> ((s, d) => {
      val pool = t(s, d, "events").select(col("event_id").as("id"),
        floor(col("value") * 1e6).cast("long").as("score_e6"))
      val labeled = pool.where(col("id") % 7 === 0).select("id")
      graft.operators.ActiveLearning.select(pool, labeled,
        graft.operators.ActiveLearning.Config(
          kExploit = 25, kUncertain = 25, kExplore = 25),
        1000000L)
    }),

    // O3: uncertainty sampling around a threshold
    // (retrieve_tweets_around_threshold.py:154-155): 25 closest above ∪
    // 25 closest below.
    "q74_threshold_sample" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_id"), col("value"))
      val above = ev.where(col("value") >= 1.0)
        .orderBy(asc("value"), asc("event_id")).limit(25)
      val below = ev.where(col("value") < 1.0)
        .orderBy(desc("value"), asc("event_id")).limit(25)
      above.withColumn("side", lit("above"))
        .union(below.withColumn("side", lit("below")))
        .select(col("event_id"), floor(col("value") * 1e6).cast("long").as("value_e6"),
          col("side"))
    }),

    // Approximate sketches with an ORACLE-CHECKED error contract: at
    // 100 TB, HyperLogLog and t-digest replace the giant exact-distinct /
    // sort shuffles (single-pass, mergeable, fixed memory). Exact values
    // aren't cross-engine comparable, so the query outputs the exact
    // answer (checkable) plus booleans asserting the sketch landed inside
    // its error band — the oracle expects TRUE, so sketch drift turns the
    // row red.
    "q99_approx_sketches" -> ((s, d) => {
      t(s, d, "events")
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("exact_users"),
          count(lit(1)).as("n_rows"),
          approx_count_distinct("user_id", 0.02).as("hll"),
          expr("approx_percentile(value, 0.5, 1000)").as("ap50"),
          expr("percentile(value, 0.4)").as("p40"),
          expr("percentile(value, 0.6)").as("p60"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("hll") - col("exact_users")).cast("double")
            <= col("exact_users") * 0.05).as("hll_ok"),
          // the p40..p60 band is only a sound invariant once the group is
          // big enough for rank-vs-interpolation effects to wash out
          (col("n_rows") < 20 ||
            (col("ap50") >= col("p40") && col("ap50") <= col("p60"))).as("p50_ok"))
    }),

    // P9: na.fill / na.drop over join-produced nulls (no source nulls in the
    // testdata; ref stop_locations.py:84, wbgps/analysis.py:123,217).
    "q75_na_handling" -> ((s, d) => {
      val best = t(s, d, "orders").groupBy("o_custkey")
        .agg(round(max("o_totalprice"), 2).as("best_price"))
        .withColumnRenamed("o_custkey", "c_custkey")
      val joined = t(s, d, "customer").select("c_custkey").join(best, Seq("c_custkey"), "left")
      val filled = joined.na.fill(Map("best_price" -> 0.0))
      val dropped = joined.na.drop(Seq("best_price"))
      filled.withColumn("branch", lit("filled"))
        .union(dropped.withColumn("branch", lit("dropped")))
    }),

    // As-of join: latest 'purchase' value at or before each 'click', per
    // user — union + last(ignoreNulls) window, one shuffle.
    "q80_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "t")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("t"), col("event_id").as("pid"),
          floor(col("value") * 1e6).cast("long").as("v_e6"))
      graft.operators.TemporalJoin.asOf(
          clicks, purchases, "user_id", "t", "pid", "v_e6")
        .select(col("event_id"), col("asof_value").as("last_purchase_e6"))
    }),

    // Custom physical operator (LogicalPlan + SparkStrategy + SparkPlan):
    // top-3 orders per customer via bounded per-key heaps — partial
    // map-side top-k, shuffle of <= k rows per (key, partition), final
    // merge; no sort anywhere. Oracle = the window row_number form.
    "q95_topk_per_key" -> ((s, d) => {
      graft.plans.TopKPerKey(
          t(s, d, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
          Seq("o_custkey"), Seq(desc("o_totalprice"), asc("o_orderkey")), 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"))
    }),

    // collect_list with deterministic ordering (sorted before join).
    "q92_collect_sorted" -> ((s, d) => {
      t(s, d, "events")
        .groupBy("user_id")
        .agg(array_join(sort_array(collect_list(col("event_type"))), ",").as("types"),
          count(lit(1)).as("n"))
    }),

    // Skew pattern: salted two-phase aggregation — partial agg on
    // (key, salt), then merge on key. Result must equal the plain agg
    // (which IS the oracle), proving the rewrite is safe for skewed keys.
    "q93_salted_agg" -> ((s, d) => {
      // value is 2-dp data: sum in decimal so partial-order can't move the
      // result off the exact grid
      val salted = t(s, d, "events")
        .withColumn("salt", col("event_id") % 8)
        .groupBy("event_type", "salt")
        .agg(sum(col("value").cast("decimal(18,2)")).as("part_sum"),
          count(lit(1)).as("part_n"))
      salted.groupBy("event_type")
        .agg(sum("part_sum").cast("double").as("sum_val"), sum("part_n").as("n"))
    }),

    // Skew pattern, join twin of q93: salted big-big equi-join — hot keys
    // spread over 8 sub-keys, the other side replicated 8x. Result must
    // equal the plain join (which IS the oracle). NOTE: full-side salting
    // is the DEMO of the technique, not the production choice — the
    // repo's own skew rung (BENCH_SCALE.md, "Round 10 — skew-stress
    // rung") measured it 4× WORSE than the plain join when build ≈
    // probe, because the salt× replication shuffle swamps the straggler
    // it saves. For real
    // big-big skew use SkewJoin.hotKeySplitJoin (q546): cold slice plain,
    // hot slice broadcast, nothing replicated.
    "q100_salted_join" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(col("l_orderkey").as("okey"),
        col("l_quantity"))
      val ords = t(s, d, "orders").select(col("o_orderkey").as("okey"),
        col("o_orderstatus"))
      graft.operators.SkewJoin.saltedJoin(li, ords, "okey", 8)
        .groupBy("o_orderstatus")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n"))
    }),

    // The PRODUCTION big-big skew join: hot-key split (detect → cold
    // plain + hot broadcast), the shape that beat plain 3.1× on the sf10
    // hot-key fixture while q100's full-side salting lost 4×. Skew is
    // deterministic: every 4th order key folds onto key 0, piling ~25%
    // of lineitem onto one key; the dim side aggregates to ONE row per
    // key, so the hot build rows are few and broadcastable — exactly the
    // "probe piles onto a celebrity key" production case. hotKeys
    // detects key 0 at any SF (≥1.5k rows at sf0.001 vs threshold 100;
    // non-hot keys hold ≤ 7 lineitems). Result must equal the plain
    // join (which IS the oracle).
    "q546_hot_split_join" -> ((s, d) => {
      def skew(c: Column) = when(c % 4 === 0, lit(0L)).otherwise(c)
      val big = t(s, d, "lineitem").select(
        skew(col("l_orderkey")).as("k"), col("l_quantity"))
      val rep = t(s, d, "orders")
        .groupBy(skew(col("o_orderkey")).as("k"))
        .agg(min(col("o_orderstatus")).as("status"))
      val hot = graft.operators.SkewJoin.hotKeys(big, "k", 100L)
      graft.operators.SkewJoin.hotKeySplitJoin(big, rep, "k", hot)
        .groupBy("status")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n"))
    }),

    // regexp group extraction.
    "q94_regexp_extract" -> ((s, d) => {
      t(s, d, "customer").where(col("c_custkey") <= 200)
        .select(col("c_custkey"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"))
    }),

    // W4 at scale: global ranking via range-partitioned sort + zipWithIndex
    // (no single-partition window). Same answer as q17's window form.
    "q91_global_rank_scalable" -> ((s, d) => {
      graft.operators.Ranking.globalRank(
          t(s, d, "events").select(col("event_id"), col("value")),
          "rnk", desc("value"), asc("event_id"))
        .where(col("rnk") <= 100)
        .select(col("event_id"), col("value"), col("rnk"))
    }),

    // Bounded range join: same-user event pairs within 1 hour, via
    // time-bucket candidates + exact refine (two-phase, no cross product).
    "q81_range_join" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), unix_timestamp(col("ts")).as("t"), col("event_id"))
      graft.operators.TemporalJoin.rangePairs(ev, "user_id", "t", "event_id", 3600L)
        .groupBy("k").agg(count(lit(1)).as("n_pairs"))
        .select(col("k").as("user_id"), col("n_pairs"))
    }),

    // Rolling-median spike detection on the daily panel: a day is a spike
    // when its count exceeds twice the trailing 7-day median. The median
    // stays in INTEGERS via the twice-median trick — med_x2 = lo+hi
    // middle elements of the sorted window, so odd/even windows need no
    // fractional interpolation and the comparison n > med is exact in
    // both engines. Per-type window over the (type, day) panel: one
    // keyed shuffle, 7-element sorted arrays per row.
    "q182_spike_detection" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-7, -1)
      daily
        .withColumn("arr", array_sort(collect_list("n").over(w)))
        .where(size(col("arr")) >= 4)
        .withColumn("med_x2",
          expr("element_at(arr, cast((size(arr) + 1) div 2 as int))" +
            " + element_at(arr, cast(size(arr) div 2 + 1 as int))"))
        .select(col("event_type"), col("day"), col("n"), col("med_x2"),
          (col("n") > col("med_x2")).as("is_spike"))
    }),

    // Funnel timing: quartiles of view -> purchase conversion time per
    // converting user (first view, first purchase strictly after it) —
    // the "how long does conversion take" companion to q119's "how many
    // convert". Integer epoch seconds; quartiles interpolate to exact
    // quarter units (the q156 dyadic-median rule).
    "q180_conversion_time" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("t"))
      val firstView = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("t").as("t_view"))
      val conv = ev.where(col("event_type") === "purchase")
        .join(firstView, "user_id")
        .where(col("t") > col("t_view"))
        .groupBy("user_id").agg((min("t") - min("t_view")).as("delta_s"))
      conv.agg(count(lit(1)).as("n_converted"),
        expr("percentile(delta_s, 0.25)").as("p25_s"),
        expr("percentile(delta_s, 0.5)").as("p50_s"),
        expr("percentile(delta_s, 0.75)").as("p75_s"))
    }),

    // Cohort lifetime value: cumulative monetary value by signup-week
    // cohort over weeks-since-signup — q120's retention grid with value
    // instead of distinct actives, plus a running cumsum per cohort.
    // Centi-unit integers end-to-end.
    "q181_cohort_ltv" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 604800000000").as("week"),
          floor(col("value") * 100).cast("long").as("v_e2"))
      val cohort = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
      val grid = ev.join(cohort, "user_id")
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("weeks_since"))
        .agg(sum("v_e2").as("week_value_e2"))
      val w = Window.partitionBy("cohort_week").orderBy("weeks_since")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.withColumn("cum_value_e2", sum("week_value_e2").over(w))
    }),

    // RFM customer segmentation: recency (days since last order at a
    // fixed asof day), frequency, monetary (centi-units) per customer,
    // each scored into quintiles over a total order (metric + custkey
    // tiebreak) and combined into the classic 3-digit segment code.
    // Scale shape: each quintile score is a two-phase distributed global
    // rank (Ranking.globalRank range-sort, no single-partition window)
    // plus the exact ntile(5) allocation formula from (rank, n) — the
    // first n%5 buckets get ceil(n/5) rows, the rest floor(n/5) — so the
    // DuckDB ntile oracle is reproduced bit-for-bit; n rides a broadcast
    // 1-row aggregate, and the three scores re-join on the customer key
    // (keyed shuffles only).
    "q176_rfm" -> ((s, d) => {
      val asofDay = lit(20000L) // fixed epoch-day after the data window
      val rfm = t(s, d, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        // Tables.apply pre-normalizes the parquet's TIMESTAMP_NTZ columns
        // to TimestampType on load, so the cast here is a no-op kept for
        // robustness against a raw-read caller
        .agg((asofDay - max(expr(
            "unix_micros(cast(o_orderdate as timestamp)) div 86400000000")))
            .as("recency"),
          count(lit(1)).as("frequency"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("monetary_e2"))
      // classic convention: 5 = best. ntile bucket 1 goes to the FIRST
      // rows of the order, so the worst values must sort first — largest
      // recency (least recent), lowest frequency, lowest spend.
      val rfmP = rfm.persist() // 3 rank passes + final join share one agg
      val nDf = rfmP.agg(count(lit(1)).as("n_total"))
      // exact ntile(5) from a 1-based total-order rank: with q = n div 5
      // and rem = n % 5, ranks 1..rem*(q+1) land in buckets of size q+1,
      // the rest in buckets of size q (guarded for the n<5 edge, where
      // the first branch always fires).
      val ntileFromRank =
        """CASE WHEN rnk <= (n_total % 5) * (n_total div 5 + 1)
                THEN (rnk - 1) div (n_total div 5 + 1) + 1
                ELSE (n_total % 5) + 1 +
                     (rnk - 1 - (n_total % 5) * (n_total div 5 + 1))
                       div greatest(n_total div 5, 1)
           END"""
      def score(c: String, asc0: Boolean, out: String): DataFrame =
        graft.operators.Ranking.globalRank(rfmP.select("custkey", c), "rnk",
            if (asc0) asc(c) else desc(c), asc("custkey"))
          .crossJoin(broadcast(nDf))
          .select(col("custkey"), expr(ntileFromRank).cast("long").as(out))
      rfmP
        .join(score("recency", asc0 = false, "r_score"), "custkey")
        .join(score("frequency", asc0 = true, "f_score"), "custkey")
        .join(score("monetary_e2", asc0 = true, "m_score"), "custkey")
        .select(col("custkey"), col("recency"), col("frequency"),
          col("monetary_e2"),
          (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
            .cast("long").as("segment"))
    }),

    // Market-basket affinity: lift of part pairs co-occurring in an
    // order. The pair join keys on the order — fan-in bounded by basket
    // size (~7 lineitems), never corpus size — and lift compares the
    // observed pair rate to the independence expectation in one pinned
    // double, floored to e6. Output bounded to lifts over a support
    // floor, top pairs by count.
    "q177_basket_affinity" -> ((s, d) => {
      val items = t(s, d, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
        .distinct()
      // order total rides along as a broadcast 1-row aggregate, NOT a
      // driver-side count() (which would be an extra full scan + action —
      // the q83 lesson)
      val tot = items.agg(countDistinct("okey").as("n_orders"))
      val pairs = items.as("a").join(items.as("b"),
          col("a.okey") === col("b.okey") && col("a.part") < col("b.part"))
        .groupBy(col("a.part").as("p1"), col("b.part").as("p2"))
        .agg(count(lit(1)).as("n_ab"))
        .where(col("n_ab") >= 3)
      val freq = items.groupBy(col("part")).agg(count(lit(1)).as("n"))
      pairs
        .join(freq.select(col("part").as("p1"), col("n").as("n_a")), "p1")
        .join(freq.select(col("part").as("p2"), col("n").as("n_b")), "p2")
        .crossJoin(broadcast(tot))
        .select(col("p1"), col("p2"), col("n_ab"),
          floor(col("n_ab").cast("double") * col("n_orders").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")) * 1e6)
            .cast("long").as("lift_e6"))
        .orderBy(desc("n_ab"), asc("p1"), asc("p2"))
        .limit(100)
    }),

    // Behavioral similarity: Levenshtein distance between users' ordered
    // event-type sequences (each event contributes its type's initial
    // letter). Sequences build with one sort-within-group aggregation;
    // the pairwise compare is bounded to the 10 lowest user ids — the
    // full-corpus path blocks by LSH over sequence shingles (q59's
    // machinery), noted not duplicated.
    "q173_behavior_distance" -> ((s, d) => {
      val seqs = t(s, d, "events").where(col("user_id") < 10)
        .groupBy("user_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            substring(col("event_type"), 1, 1).as("c")))),
          x => x.getField("c")), "").as("sig"))
      val a = seqs.select(col("user_id").as("u1"), col("sig").as("s1"))
      val b = seqs.select(col("user_id").as("u2"), col("sig").as("s2"))
      a.join(b, col("u1") < col("u2"))
        .select(col("u1"), col("u2"),
          levenshtein(col("s1"), col("s2")).cast("long").as("ed"),
          length(col("s1")).cast("long").as("l1"),
          length(col("s2")).cast("long").as("l2"))
    }),

    // First-order Markov transition counts over each user's event-type
    // sequence: P(next | current) as integer micro-probabilities. One
    // lag window per user (the sessionize shuffle shape) feeding a
    // transition-pair aggregation — the product-analytics "what happens
    // after a click" matrix.
    "q174_markov_transitions" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = t(s, d, "events")
        .withColumn("nxt", lead("event_type", 1).over(w))
        .where(col("nxt").isNotNull)
        .groupBy(col("event_type").as("cur"), col("nxt"))
        .agg(count(lit(1)).as("n"))
      val totals = pairs.groupBy("cur").agg(sum("n").as("n_cur"))
      pairs.join(totals, "cur")
        .select(col("cur"), col("nxt"), col("n"),
          expr("(n * 1000000) div n_cur").as("p_e6"))
    }),

    // Day-of-week seasonal adjustment: subtract each (type, dow)'s mean
    // from the daily counts — the de-seasonalization the reference's news
    // index runs in Stata before the factor model. The mean divides by
    // the CALENDAR occurrences of that weekday in the panel span (a
    // scaffold of every day, the q124 gap-fill move), not by observed
    // days — a sparse type's zero-count days must pull its mean down, or
    // the adjustment is biased high exactly where data is thin. Means
    // stay exact as e6-integer truncated divisions.
    "q175_seasonal_adjust" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("dow", expr("(day + 4) % 7"))
      val span = daily.agg(min("day").as("mn"), max("day").as("mx"))
      val calDow = span
        .select(explode(sequence(col("mn"), col("mx"))).as("day"))
        .groupBy(expr("(day + 4) % 7").as("dow"))
        .agg(count(lit(1)).as("n_cal"))
      val dowMean = daily.groupBy("event_type", "dow")
        .agg(sum("n").as("sum_n"))
        .join(broadcast(calDow), "dow")
        .select(col("event_type"), col("dow"),
          expr("(sum_n * 1000000) div n_cal").as("mean_e6"))
      daily.join(dowMean, Seq("event_type", "dow"))
        .select(col("event_type"), col("day"), col("n"),
          (col("n") * 1000000L - col("mean_e6")).as("adj_e6"))
    }),

    // Exponentially weighted moving average (alpha = 1/2) over each user's
    // last 8 events: the classic smoother made oracle-exact by choosing a
    // dyadic alpha — every intermediate s' = (s + v)/2 has <= 7 fraction
    // bits on centi-unit ints, so Spark and DuckDB compute IDENTICAL
    // doubles and the x128 output is an exact integer. The fold runs over
    // a bounded 8-row window frame (collect_list in frame order, reduce
    // seeded with the oldest element — mirrors DuckDB list_reduce), so
    // state per row is constant and the window shuffles once on user_id.
    "q157_ewma" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-7, Window.currentRow)
      t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value") * 100).cast("long").as("v_e2"))
        .withColumn("win", collect_list("v_e2").over(w))
        .select(col("event_id"), col("user_id"),
          (aggregate(
            expr("slice(win, 2, size(win) - 1)"),
            element_at(col("win"), 1).cast("double"),
            (acc, v) => (acc + v.cast("double")) * 0.5) * 128.0)
            .cast("long").as("ewma_e2_x128"))
    }),

    // Holt double-exponential smoothing (level + trend) per series with a
    // 3-step-ahead forecast — the next rung above q241's seasonal-naive
    // baseline. α = β = 1/2 (dyadic, the q157 rule): every update is
    // adds and a *0.5, so both engines produce IDENTICAL doubles and the
    // x4096 floors are exact. The recurrence folds LEFT over each
    // series' collected daily array (bounded by the observation window,
    // not row count); the distributed work is the daily aggregation.
    "q267_holt_forecast" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("y"))
      daily.groupBy("event_type")
        .agg(array_sort(collect_list(struct(col("day"), col("y")))).as("arr"))
        .select(col("event_type"), size(col("arr")).cast("long").as("n_days"),
          expr("""aggregate(slice(arr, 2, size(arr) - 1),
            named_struct('l', cast(element_at(arr, 1).y as double),
                         'b', cast(0.0 as double)),
            (acc, p) -> named_struct(
              'l', (cast(p.y as double) + (acc.l + acc.b)) * 0.5d,
              'b', (acc.b + ((cast(p.y as double) + (acc.l + acc.b)) * 0.5d
                     - acc.l)) * 0.5d))""").as("st"))
        .select(col("event_type"), col("n_days"),
          floor(col("st.l") * 4096).cast("long").as("level_x4096"),
          floor(col("st.b") * 4096).cast("long").as("trend_x4096"),
          floor((col("st.l") + col("st.b")) * 4096).cast("long").as("fc1_x4096"),
          floor((col("st.l") + col("st.b") * 2.0) * 4096).cast("long")
            .as("fc2_x4096"),
          floor((col("st.l") + col("st.b") * 3.0) * 4096).cast("long")
            .as("fc3_x4096"))
    }),

    // Banded dynamic-time-warping distance between every pair of daily
    // event-type series (Sakoe-Chiba band w=7) — "which metrics move
    // together allowing small phase shifts", the alignment question
    // plain correlation (q147) can't answer. The DP is EXACT INTEGER
    // (|Δcents| cell costs, 1e15 as the out-of-band sentinel) and runs
    // as a row-by-row fold in HOF expressions over the two collected
    // series arrays — O(n·m) per pair but n, m are bounded by the
    // observation window, and the pair grid is #series², not rows.
    // Distributed work = the daily aggregation; no UDF.
    "q268_dtw" -> ((s, d) => {
      val daily = t(s, d, "events").groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("y"))
      val series = daily.groupBy("event_type")
        .agg(transform(array_sort(collect_list(struct(col("day"), col("y")))),
          x => x.getField("y")).as("ys"))
      val a = series.select(col("event_type").as("type_a"), col("ys").as("ya"))
      val b = series.select(col("event_type").as("type_b"), col("ys").as("yb"))
      a.join(b, col("type_a") < col("type_b"))
        .withColumn("dtw_dist", expr(
          """element_at(
               aggregate(sequence(1, size(ya)),
                 transform(sequence(1, size(yb)),
                   x -> cast(1000000000000000 as bigint)),
                 (prev, i) -> aggregate(sequence(1, size(yb)),
                   cast(array() as array<bigint>),
                   (st, j) -> concat(st, array(
                     if(abs(i - j) > 7, cast(1000000000000000 as bigint),
                       abs(element_at(ya, i) - element_at(yb, j)) + least(
                         element_at(prev, j),
                         if(j > 1, element_at(st, j - 1),
                           cast(1000000000000000 as bigint)),
                         if(j > 1, element_at(prev, j - 1),
                           if(i = 1 and j = 1, cast(0 as bigint),
                             cast(1000000000000000 as bigint))))))))),
               size(yb))"""))
        .select(col("type_a"), col("type_b"),
          size(col("ya")).cast("long").as("n_a"),
          size(col("yb")).cast("long").as("n_b"), col("dtw_dist"))
    }),

    // Gaps-and-islands: longest consecutive-day activity streak per user.
    // The island key is day - row_number() within user (consecutive days
    // share it); a per-user partitioned window plus two grouped
    // aggregations — no self-join, everything keyed on user_id so the
    // shuffle is one exchange. Ties on length resolve to the earliest
    // streak. Epoch-day integers end-to-end.
    "q154_streaks" -> ((s, d) => {
      val days = t(s, d, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      val streaks = days
        .withColumn("island", col("day") - row_number().over(w))
        .groupBy("user_id", "island")
        .agg(count(lit(1)).as("len"), min("day").as("start_day"))
      val best = streaks.groupBy("user_id").agg(max("len").as("best_len"))
      streaks.join(best, Seq("user_id"))
        .where(col("len") === col("best_len"))
        .groupBy("user_id", "best_len")
        .agg(min("start_day").as("start_day"))
    }),

    // Ordered funnel per user (view -> click -> purchase, each stage
    // strictly after the previous): three conditional-min aggregations
    // over the same shuffle key — no self-join explosion, no window; the
    // stage timestamps chain through two broadcast-sized per-user joins.
    // Epoch integers end-to-end (cross-engine safe).
    "q119_funnel" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
      val v = ev.groupBy("user_id")
        .agg(min(when(col("event_type") === "view", col("t"))).as("t_view"))
      val c = ev.join(v, "user_id")
        .groupBy("user_id", "t_view")
        .agg(min(when(col("event_type") === "click" && col("t") > col("t_view"),
          col("t"))).as("t_click"))
      val p = ev.join(c, "user_id")
        .groupBy("user_id", "t_view", "t_click")
        .agg(min(when(col("event_type") === "purchase" && col("t") > col("t_click"),
          col("t"))).as("t_purchase"))
      p.agg(count(lit(1)).as("n_users"),
        count(col("t_view")).as("n_view"),
        count(col("t_click")).as("n_view_click"),
        count(col("t_purchase")).as("n_full_funnel"))
    }),

    // Retention cohorts: users bucketed by first-seen week x active week,
    // in integer epoch-week arithmetic (no tz functions — the engine's
    // standing rule for cross-engine time parity). The cohort matrix is
    // the product of two shuffles on user_id, both linear.
    "q120_retention" -> ((s, d) => {
      // Plain `div` is the PARITY-correct choice for any sign: measured on
      // this DuckDB build, integer `//` truncates toward zero exactly like
      // Spark's `div` (SELECT -7 // 2 = -3, not -4) — the "DuckDB floors"
      // divergence claim only applies to float `//`. Truncated epoch weeks
      // are off-by-one semantically for pre-1970 data, identically in both
      // engines; q145's centroid means rely on the same equivalence.
      val ev = t(s, d, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 604800000000").as("week"))
      val first = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
      ev.distinct().join(first, "user_id")
        .groupBy("cohort_week", "week")
        .agg(countDistinct("user_id").as("n_active"))
        .withColumn("weeks_since", col("week") - col("cohort_week"))
    }),

    // Z-order (Morton) clustering key: interleave the bits of two
    // dimensions so rows close in BOTH land close in the sort order —
    // the data-layout move behind multi-column file skipping at 100 TB
    // (sort by zkey before writing; min/max footer stats then prune scans
    // on either dimension). Shift amounts are lambda variables, so the
    // interleave is a SQL HOF expression (the simhash lesson: the Scala
    // shiftleft helper only takes literal counts).
    "q122_zorder" -> ((s, d) => {
      t(s, d, "orders")
        .select(col("o_orderkey"),
          (col("o_custkey") % 256).as("x"), (col("o_orderkey") % 256).as("y"))
        .withColumn("zkey", expr(
          """aggregate(sequence(0, 7), cast(0 as bigint), (acc, i) ->
               acc + shiftleft((shiftright(x, i) % 2), 2*i)
                   + shiftleft((shiftright(y, i) % 2), 2*i+1))"""))
        // Plain `div` is safe HERE (unlike q120's epoch weeks): x,y are
        // pmod-style non-negative (% of positive keys), so zkey >= 0 and
        // truncation == floor == DuckDB `//`. Negative domains need the
        // q120 floor-div form.
        .withColumn("zbucket", expr("zkey div 1024"))
    }),

    // TPC-H Q5-shaped star join: two big facts (lineitem, orders) with
    // three dims (customer, nation, region) and a selective region
    // filter. Catalyst's job here: push r_name into the region scan,
    // broadcast all three dims (only the fact-fact join shuffles), and
    // let AQE size the exchanges — the canonical multi-way join shape a
    // warehouse query planner must get right at 100 TB. Decimal revenue
    // sum for cross-engine exactness.
    "q118_star_join" -> ((s, d) => {
      t(s, d, "lineitem")
        .join(t(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA" &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy("n_name")
        .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n"))
    }),

    // TPC-H Q3 shape (shipping priority): selective filters on BOTH fact
    // inputs before the join — Catalyst pushes the date predicates into
    // each scan, the customer dim broadcasts, and the top-10 is a bounded
    // TakeOrderedAndProject (never a global sort). Decimal revenue for
    // cross-engine exactness, ties broken on the group keys.
    // TPC-H Q7 shape (volume shipping): revenue between two nations by
    // direction and ship year — a 5-table join where BOTH nation dims
    // broadcast (so the two big fact joins are the only shuffles), the
    // date range pushes into the lineitem scan, and the symmetric
    // nation-pair predicate applies after the cheap dim joins. Decimal
    // money arithmetic as in q141.
    "q206_tpch_q7" -> ((s, d) => {
      val vol = sum((col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)")))).cast("double")
      val n1 = broadcast(t(s, d, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(t(s, d, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
      t(s, d, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(n1, col("s_nationkey") === col("s_nk"))
        .join(n2, col("c_nationkey") === col("c_nk"))
        .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate").cast("timestamp")).cast("long").as("l_year"))
        .agg(vol.as("revenue"), count(lit(1)).as("n"))
    }),

    "q141_tpch_q3" -> ((s, d) => {
      val rev = sum((col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)")))).cast("double")
      t(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .where(col("o_orderdate") < lit("1997-06-01").cast("timestamp"))
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .where(col("l_shipdate") > lit("1997-03-01").cast("timestamp"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(rev.as("revenue"), count(lit(1)).as("n"))
        // Tables.apply pre-normalizes the parquet's TIMESTAMP_NTZ columns
        // to TimestampType on load, so the cast here is a no-op kept for
        // robustness against a raw-read caller
        .withColumn("odate_us", unix_micros(col("o_orderdate").cast("timestamp")))
        .drop("o_orderdate")
        .orderBy(desc("revenue"), asc("o_orderkey"))
        .limit(10)
    }),

    // TPC-H Q12 shape (shipmode priority classes): one pass over the
    // fact with conditional-count aggregation (no join needed on the
    // priority split — the CASE runs map-side inside the partial agg).
    "q142_tpch_q12" -> ((s, d) => {
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
            .as("high_line_count"),
          count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
            .as("low_line_count"))
    }),

    // TPC-H Q17 (small-quantity-order revenue): the classic correlated
    // scalar subquery — l_quantity < 0.2 * avg(l_quantity) over the same
    // part — decorrelated into a per-part aggregate joined back to the
    // fact, the rewrite every engine's optimizer race is about. The
    // brand/size dim filter rides a broadcast BEFORE the per-part agg,
    // so only matching parts' lineitems are aggregated; the avg
    // comparison is exact integer cross-multiplication (quantities are
    // integral: qty * 5 * cnt < sum_qty sidesteps the 0.2 double); both
    // the agg and the join back shuffle on l_partkey only. The filtered
    // fact is persisted — it feeds the threshold agg and the final join.
    "q214_tpch_q17" -> ((s, d) => {
      val parts = t(s, d, "part")
        .where(col("p_brand") === "Brand#23" && col("p_size") <= 5)
        .select("p_partkey")
      val lf = t(s, d, "lineitem")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .persist()
      val pq = lf.groupBy("l_partkey").agg(
        sum(col("l_quantity")).cast("long").as("sum_q"),
        count(lit(1)).as("cnt_q"))
      lf.join(pq, Seq("l_partkey"))
        .where(col("l_quantity").cast("long") * lit(5L) * col("cnt_q") <
          col("sum_q"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .select(col("n_rows"), col("sum_price"),
          (col("sum_price") / 7.0).as("avg_yearly"))
    }),

    // Equi-DEPTH histogram of order totals — the ANALYZE-stats companion
    // to q231's equi-width buckets: B=10 buckets of equal ROW count via
    // the scalable global rank (range-sort + zipWithIndex, no
    // single-partition window), bucket = (rnk−1)·B div n. Per bucket:
    // population and exact [min, max] cent bounds — the boundary list a
    // cost-based optimizer stores.
    "q252_equidepth_hist" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val ranked = graft.operators.Ranking.globalRank(
        o, "rnk", asc("cents"), asc("o_orderkey"))
      val tot = o.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(tot))
        .withColumn("bucket", expr("(rnk - 1) * 10 div n"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"), min("cents").as("min_cents"),
          max("cents").as("max_cents"))
    }),

    // TPC-H Q18 (large-volume customers): the HAVING-subquery shape —
    // qualifying orders (total quantity > 250) found by ONE per-order
    // aggregate whose small survivor set broadcasts back onto orders,
    // then the customer dim joins; bounded top-100 by order value plans
    // TakeOrderedAndProject. Quantities cast to long BEFORE the sum so
    // the threshold compare is integer-exact.
    "q253_tpch_q18" -> ((s, d) => {
      val qual = t(s, d, "lineitem").groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
        .where(col("sum_qty") > 250L)
      t(s, d, "orders").join(broadcast(qual), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("odate_us"),
          floor(col("o_totalprice") * 100).cast("long").as("total_cents"),
          col("sum_qty"))
        .orderBy(desc("total_cents"), asc("o_orderkey"))
        .limit(100)
    }),

    // TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    // this schema (no commitdate/receiptdate: a line is LATE when it
    // ships > 60 days after the order date). For finished multi-supplier
    // orders, find the supplier who was the ONLY late one — the classic
    // EXISTS / NOT-EXISTS double lineitem self-join collapsed into ONE
    // per-order aggregate (supplier count, late-supplier count, the late
    // supplier's id): lineitem shuffles once on l_orderkey instead of
    // three self-join passes, and the supplier dim broadcasts.
    "q255_tpch_q21" -> ((s, d) => {
      val l = t(s, d, "lineitem").join(
          t(s, d, "orders").where(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
            .as("late"))
      val perOrder = l.groupBy("l_orderkey").agg(
          countDistinct("l_suppkey").as("n_supp"),
          countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supp"),
          max(when(col("late"), col("l_suppkey"))).as("late_supp"))
        .where(col("n_supp") >= 2 && col("n_late_supp") === 1)
      perOrder.groupBy(col("late_supp").as("s_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(t(s, d, "supplier").select("s_suppkey", "s_name")),
          "s_suppkey")
        .orderBy(desc("numwait"), asc("s_suppkey"))
        .limit(20)
        .select("s_suppkey", "s_name", "numwait")
    }),

    // Multi-touch attribution, linear model: each purchase's value is
    // split EQUALLY across the user's clicks in the preceding 24 h (the
    // credit rule marketing warehouses default to; last-touch is q80's
    // as-of join). One bounded range join per (user, purchase) — the
    // q81/StreamJoin.interval condition — then credit = value/k via
    // integer micro-units divided ONCE per purchase (trunc div, so the
    // rounding residue is identical in the oracle's arithmetic); per-click
    // credit sums roll up map-side. Range-bounded join keys on user_id —
    // no window over the full event stream.
    "q227_attribution" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("tm"), col("value"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"), col("tm").as("pt"),
          floor(col("value") * 1e6).cast("long").as("v_e6"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("cid"), col("tm").as("ct"))
      val touched = purchases.join(clicks, Seq("user_id"))
        .where(col("ct") <= col("pt") &&
          col("ct") > col("pt") - lit(86400000000L))
        .persist()
      val k = touched.groupBy("pid").agg(count(lit(1)).as("n_touch"))
      touched.join(k, Seq("pid"))
        .select(col("cid"), expr("v_e6 div n_touch").as("credit_e6"))
        .groupBy("cid")
        .agg(count(lit(1)).as("n_conversions"),
          sum("credit_e6").as("credit_sum_e6"))
    }),

    // Bloom-filter semi-join reduction: probe a Bloom of the small side's
    // keys BEFORE the join shuffles the big side (runtime-filter move,
    // here as a library op). False positives are cleaned by the exact
    // semi join, so the oracle is the PLAIN semi join — equality, not an
    // error band.
    "q109_bloom_semijoin" -> ((s, d) => {
      val cust = t(s, d, "customer")
        .where(col("c_nationkey") === 5).select(col("c_custkey"))
      graft.operators.BloomJoin.semiJoinReduced(
          t(s, d, "orders"), cust, "o_custkey", "c_custkey", 10000L, 0.01)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
    }),

    // TPC-H Q5 shape (local supplier volume): the 6-table join where the
    // revenue only counts when the supplier sits in the CUSTOMER's
    // nation (c_nationkey = s_nationkey) inside one region. Both dims of
    // the nation/region subtree broadcast, the region + date filters
    // prune before the fact joins, and the only shuffles are the two
    // big-fact equi-joins. Decimal money arithmetic as in q141; no
    // global sort — the result is #nations rows, hashed unordered.
    "q279_tpch_q5" -> ((s, d) => {
      val rev = sum((col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)")))).cast("double")
      val asiaNations = broadcast(t(s, d, "nation")
        .join(broadcast(t(s, d, "region").where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name")))
      t(s, d, "customer")
        .join(t(s, d, "orders")
            .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(asiaNations, col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(rev.as("revenue"), count(lit(1)).as("n"))
    }),

    // TPC-H Q10 shape (returned-item reporting): revenue lost to 'R'
    // returns per customer in one quarter, top 20. The returnflag and
    // date filters push into the two fact scans, nation broadcasts, and
    // the top-20 plans TakeOrderedAndProject — never a global sort.
    // acctbal is carried as exact cents (both engines floor the
    // identical IEEE product).
    "q280_tpch_q10" -> ((s, d) => {
      val rev = sum((col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)")))).cast("double")
      t(s, d, "lineitem").where(col("l_returnflag") === "R")
        .join(t(s, d, "orders")
            .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1996-04-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"),
          floor(col("c_acctbal") * 100).cast("long").as("acctbal_cents"),
          col("n_name"))
        .agg(rev.as("revenue"), count(lit(1)).as("n"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q16 shape (parts/supplier relationship): distinct suppliers
    // per (brand, type, size) bucket, excluding a brand, a type prefix,
    // and a supplier denylist. partsupp doesn't exist in this schema —
    // lineitem IS the part↔supplier relationship (same join algebra).
    // The part dim filter broadcasts BEFORE the fact scan, the denylist
    // is a broadcast anti-join, and the exact distinct-supplier count
    // shuffles once on the 3-part group key.
    "q281_tpch_q16" -> ((s, d) => {
      val parts = broadcast(t(s, d, "part")
        .where(col("p_brand") =!= "Brand#9" &&
          !col("p_type").startsWith("PROMO") && col("p_size") <= 25)
        .select("p_partkey", "p_brand", "p_type", "p_size"))
      val badSupp = broadcast(t(s, d, "supplier")
        .where(col("s_acctbal") < 0).select("s_suppkey"))
      t(s, d, "lineitem").select("l_partkey", "l_suppkey")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(badSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
    }),

    // TPC-H Q8 shape (national market share): NATION_1's share of ASIA's
    // STANDARD-part import volume by order year. Shares stay EXACT: the
    // decimal volume has scale 4, so vol·10⁴ is an integer — numerator
    // and denominator are exact BIGINT e4-cents and the share is one
    // integer e6 division (no double division to knife-edge). Dims
    // (part filter, both nation maps, region) all broadcast; the two
    // fact joins are the only shuffles.
    "q282_tpch_q8" -> ((s, d) => {
      val volE4 = sum((col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))))
      val parts = broadcast(t(s, d, "part")
        .where(col("p_type") === "STANDARD").select("p_partkey"))
      val asiaCust = broadcast(t(s, d, "nation")
        .join(broadcast(t(s, d, "region").where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cust_nk")))
      val suppNation = broadcast(t(s, d, "nation")
        .select(col("n_nationkey").as("supp_nk"), col("n_name").as("supp_nation")))
      t(s, d, "lineitem")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(t(s, d, "orders")
            .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(asiaCust, col("c_nationkey") === col("cust_nk"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(suppNation, col("s_nationkey") === col("supp_nk"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((volE4 * lit(10000)).cast("long").as("den_e4"),
          (sum(when(col("supp_nation") === "NATION_1",
              col("l_extendedprice").cast("decimal(18,2)") *
                (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
                  col("l_discount").cast("decimal(18,2)")))
            .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(18,2)")))
            * lit(10000)).cast("long").as("num_e4"))
        .withColumn("share_e6", expr("(num_e4 * 1000000) div den_e4"))
    }),

    // Propensity-score 1-NN matching with an ATT readout — the causal
    // companion to q235's DiD and q233's CUPED: per event_type, each
    // TREATED user (odd user_id) matches the nearest CONTROL by
    // propensity (mean engagement, exact centi-units), found via two
    // keyed ignore-nulls neighbor windows (last control ≤ score, next
    // control ≥ score) with the closer one winning (control id breaks
    // exact ties). Output per type: matched count and the exact summed
    // treated-minus-matched-control outcome gap. No pairwise product —
    // matching is two window passes over the per-type score order.
    "q311_psm_att" -> ((s, d) => {
      val users = t(s, d, "events")
        .groupBy("event_type", "user_id")
        .agg(expr("sum(cast(floor(value * 100) as bigint)) div count(1)")
            .as("score_e2"),
          sum(floor(col("value") * 100).cast("long")).as("outcome_e2"))
        .withColumn("treated", col("user_id") % 2 === 1)
      val ctl = when(!col("treated"), struct(col("score_e2"), col("user_id"),
        col("outcome_e2")))
      // BOTH neighbor passes as RUNNING (unboundedPreceding → −1) frames
      // — the next-control side traverses in reversed order, because a
      // shrinking (1 → unboundedFollowing) frame is recomputed from
      // scratch per row in Spark's WindowExec: O(n²) per partition,
      // measured 30 s at sf1 vs 1.5 s with the reversal.
      val prev = last(ctl, ignoreNulls = true)
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy(asc("score_e2"), asc("user_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
      val next = last(ctl, ignoreNulls = true)
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy(desc("score_e2"), desc("user_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
      users
        .withColumn("prevc", prev).withColumn("nextc", next)
        .where(col("treated"))
        .withColumn("pick",
          when(col("prevc").isNull, col("nextc"))
            .when(col("nextc").isNull, col("prevc"))
            .when(abs(col("prevc.score_e2") - col("score_e2")) <
              abs(col("nextc.score_e2") - col("score_e2")), col("prevc"))
            .when(abs(col("nextc.score_e2") - col("score_e2")) <
              abs(col("prevc.score_e2") - col("score_e2")), col("nextc"))
            .otherwise(when(col("prevc.user_id") < col("nextc.user_id"),
              col("prevc")).otherwise(col("nextc"))))
        .where(col("pick").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_matched"),
          sum(col("outcome_e2") - col("pick.outcome_e2")).as("att_sum_e2"))
    }),

    // windowFunnel (the ClickHouse sequence-match aggregate): per user,
    // the deepest prefix of view → click → purchase completed IN ORDER
    // within 1 h of the first step — per-user greedy fold over the
    // time-sorted event list (bounded by the user's own events, the
    // q116 order-pinned-list rule), then a funnel histogram per level.
    "q312_window_funnel" -> ((s, d) => {
      val ev = t(s, d, "events")
        .where(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), unix_micros(col("ts")).as("tm"),
          col("event_type"), col("event_id"))
      val folded = ev.groupBy("user_id")
        .agg(transform(array_sort(collect_list(struct(col("tm"),
          col("event_id"), col("event_type")))),
          x => struct(x.getField("tm").as("tm"),
            x.getField("event_type").as("et"))).as("seq"))
        // fold state: (level, t0) — t0 pins the 1-hour deadline to the
        // FIRST step's time; a step counts only in order and in window
        .withColumn("level", expr(
          """aggregate(seq,
               named_struct('lvl', 0L, 't0', -1L),
               (acc, e) -> CASE
                 WHEN acc.lvl = 0 AND e.et = 'view'
                   THEN named_struct('lvl', 1L, 't0', e.tm)
                 WHEN acc.lvl = 1 AND e.et = 'click'
                      AND e.tm <= acc.t0 + 3600000000
                   THEN named_struct('lvl', 2L, 't0', acc.t0)
                 WHEN acc.lvl = 2 AND e.et = 'purchase'
                      AND e.tm <= acc.t0 + 3600000000
                   THEN named_struct('lvl', 3L, 't0', acc.t0)
                 ELSE acc END,
               acc -> acc.lvl)"""))
      folded.groupBy("level").agg(count(lit(1)).as("n_users"))
    }),

    // Interval-union coverage per user (gaps-and-islands): each event
    // opens an interval [ts, ts + value minutes]; overlapping intervals
    // merge into islands (an island starts where st exceeds the running
    // max end of everything BEFORE it), and the user's covered time is
    // the exact integer sum of island spans — the de-overlapped "time on
    // site" every warehouse computes. Scale shape: two keyed windows and
    // one keyed aggregate, all partitioned by user_id.
    "q291_interval_union" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("st", "en", "event_id")
      val wPrev = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val wRun = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val iv = t(s, d, "events").select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("st"),
        (unix_micros(col("ts")) +
          floor(col("value")).cast("long") * 60000000L).as("en"))
      iv.withColumn("new_island",
          // first row per user: no preceding max → st > st−1 is TRUE,
          // avoiding a MinValue literal the oracle can't parse as BIGINT
          when(col("st") > coalesce(max("en").over(wPrev), col("st") - 1L),
            1L).otherwise(0L))
        .withColumn("island", sum("new_island").over(wRun))
        .groupBy("user_id", "island")
        .agg(min("st").as("i_st"), max("en").as("i_en"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("i_en") - col("i_st")).as("covered_us"))
    }),

    // First-order Markov user-journey model: transition counts between
    // consecutive event_types per user (lag over the user's time line),
    // the row-stochastic matrix in exact e6 integers, and the stationary
    // distribution by 3 power iterations replayed in integer micro-units
    // (trunc divisions — the doremiShares convention, so the oracle
    // replays every round bit-for-bit). Scale shape: the corpus-scale
    // work is one keyed lag window + one groupBy; the iteration runs on
    // the #states² aggregate frame with tiny joins.
    "q292_markov_stationary" -> ((s, d) =>
      markovStationary(markovCounts(s, d))),

    // Session gap-parameter sweep — the tuning table behind q66's
    // 30-minute sessionization: for gap thresholds of 15/30/60/120
    // minutes, how many sessions exist and how long is the mean
    // session? Computed WITHOUT re-sessionizing per threshold: one
    // keyed lag pass yields every inter-event gap, and each
    // threshold's session count is n_users + #(gaps > t) — session
    // starts are exactly the threshold-exceeding gaps. Exact integer
    // microsecond arithmetic. Scale: one keyed window pass + one
    // 4-row conditional aggregate.
    "q474_session_gap_sweep" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("tm", "event_id")
      val ev = t(s, d, "events")
        .select(col("user_id"), expr("unix_micros(ts)").as("tm"),
          col("event_id"))
        .withColumn("gap", col("tm") - lag("tm", 1).over(w))
      val users = ev.agg(countDistinct("user_id").as("n_users"),
        count(lit(1)).as("n_events"),
        (max("tm") - min("tm")).as("span_us"))
      val gaps = ev.where(col("gap").isNotNull)
        .select(explode(expr(
          """array(named_struct('t_min', 15L, 'g', gap),
                   named_struct('t_min', 30L, 'g', gap),
                   named_struct('t_min', 60L, 'g', gap),
                   named_struct('t_min', 120L, 'g', gap))""")).as("x"))
        .select(col("x.t_min").as("t_min"), col("x.g").as("g"))
        .groupBy("t_min")
        .agg(sum(when(col("g") > col("t_min") * 60000000L, 1L)
          .otherwise(0L)).as("n_breaks"))
      gaps.crossJoin(broadcast(users))
        .select(col("t_min"), (col("n_users") + col("n_breaks"))
            .as("n_sessions"),
          expr("n_events * 1000000 div (n_users + n_breaks)")
            .as("events_per_session_e6"))
    }),

    // Retention-policy simulator — the storage-governance table a
    // 100 TB event store prices before setting TTLs: for retention
    // windows of 30/90/180/365 days back from the newest event, the
    // rows and users retained and the share dropped. One scan + one
    // 4-row conditional aggregate (no per-policy re-scan). Exact
    // integer day arithmetic.
    "q475_retention_policy" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      val mx = ev.agg(max("day").as("mx"), count(lit(1)).as("n_total"))
      val tagged = ev.crossJoin(broadcast(mx))
        .select(col("user_id"), (col("mx") - col("day")).as("age"),
          col("n_total"))
      tagged.select(explode(expr(
          """array(named_struct('win', 30L, 'age', age, 'u', user_id,
                     'n', n_total),
                   named_struct('win', 90L, 'age', age, 'u', user_id,
                     'n', n_total),
                   named_struct('win', 180L, 'age', age, 'u', user_id,
                     'n', n_total),
                   named_struct('win', 365L, 'age', age, 'u', user_id,
                     'n', n_total))""")).as("x"))
        .select(col("x.win").as("win"), col("x.age").as("age"),
          col("x.u").as("u"), col("x.n").as("n_total"))
        .where(col("age") < col("win"))
        .groupBy("win")
        .agg(count(lit(1)).as("rows_kept"),
          countDistinct("u").as("users_kept"),
          max("n_total").as("n_total"))
        .select(col("win"), col("rows_kept"), col("users_kept"),
          expr("(n_total - rows_kept) * 1000000 div n_total")
            .as("dropped_e6"))
    }),

    // Audience-overlap matrix — for every event-type pair, the Jaccard
    // of their USER sets (do the same people trigger both?): the
    // co-usage readout behind bundling/funnel hypotheses, and the
    // user-set analogue of q229's content overlap. Exact: distinct
    // (type, user) frame once, one keyed self-join on user, k²-bounded
    // output. Scale: the self-join is keyed by user (no cross
    // product); type cardinality bounds the result.
    "q476_audience_overlap" -> ((s, d) => {
      val tu = t(s, d, "events").select(col("event_type"), col("user_id"))
        .distinct().persist() // sizes + the pair join read it
      val sizes = tu.groupBy("event_type").agg(count(lit(1)).as("n"))
      val inter = tu.select(col("event_type").as("t1"), col("user_id"))
        .join(tu.select(col("event_type").as("t2"), col("user_id")),
          "user_id")
        .where(col("t1") < col("t2"))
        .groupBy("t1", "t2").agg(count(lit(1)).as("n_both"))
      inter.join(broadcast(sizes.select(col("event_type").as("t1"),
          col("n").as("n1"))), "t1")
        .join(broadcast(sizes.select(col("event_type").as("t2"),
          col("n").as("n2"))), "t2")
        .select(col("t1"), col("t2"), col("n1"), col("n2"), col("n_both"),
          expr("n_both * 1000000 div (n1 + n2 - n_both)").as("jaccard_e6"))
    }),

    // Least-squares changepoint (the single-breakpoint segmented-mean
    // fit — Hinkley 1970; the SSE-optimal cousin of q208/q413's CUSUM
    // alarms, which locate drift but not the BEST split): choose the
    // day boundary minimizing SSE_left + SSE_right of the daily value
    // series, both sides priced from cumulative (n, Σy, Σy²) — no
    // per-candidate re-scan. Exact replay: integer cums ride PrefixScan
    // over the bounded day frame; each candidate's SSE is ONE pinned
    // double chain floored to e2 BEFORE the argmin, so the argmin is an
    // integer min(struct) with day tiebreak. Scale: one scan to the
    // day histogram; everything after is day-bounded.
    "q444_sse_changepoint" -> ((s, d) => {
      import graft.operators.PrefixScan
      def dd(c: Column): Column = c.cast("double")
      val daily = t(s, d, "events").select(
          expr("unix_micros(ts) div 86400000000").as("day"),
          floor(col("value") * 100).cast("long").as("v"))
        .groupBy("day").agg(count(lit(1)).as("nd"), sum("v").as("sy"),
          sum(col("v") * col("v")).as("syy"))
      val cum = PrefixScan.scanLong(
        PrefixScan.scanLong(
          PrefixScan.scanLong(daily, "cn", "nd", "sum",
            inclusive = true, col("day")),
          "cy", "sy", "sum", inclusive = true, col("day")),
        "cyy", "syy", "sum", inclusive = true, col("day"))
      val totals = daily.agg(sum("nd").as("tn"), sum("sy").as("ty"),
        sum("syy").as("tyy"))
      val scored = cum.crossJoin(broadcast(totals))
        .where(col("cn") < col("tn"))
        .withColumn("ssl", dd(col("cyy")) -
          dd(col("cy")) * dd(col("cy")) / dd(col("cn")))
        .withColumn("ssr", (dd(col("tyy")) - dd(col("cyy"))) -
          (dd(col("ty")) - dd(col("cy"))) * (dd(col("ty")) - dd(col("cy"))) /
          (dd(col("tn")) - dd(col("cn"))))
        .withColumn("sse_e2",
          floor((col("ssl") + col("ssr")) * 100.0d).cast("long"))
      scored.agg(min(struct(col("sse_e2"), col("day"), col("cn"))).as("m"))
        .crossJoin(broadcast(totals))
        .select(col("m.day").as("split_day"), col("m.cn").as("n_left"),
          (col("tn") - col("m.cn")).as("n_right"),
          col("m.sse_e2").as("sse_split_e2"),
          floor((dd(col("tyy")) -
            dd(col("ty")) * dd(col("ty")) / dd(col("tn"))) * 100.0d)
            .cast("long").as("sse_total_e2"))
    }),

    // Entropy rate of the user-journey Markov chain (Shannon):
    // H = Σ_s π_s · H_s with H_s = −Σ_t p_st·ln p_st — the
    // bits-per-step unpredictability of the journey process, the
    // single-number complement to q292's stationary distribution and
    // q174's raw matrix (a near-zero rate means journeys are scripted;
    // high means exploratory). π replays q292's exact integer power
    // iterations via the SHARED markovStationary helper (no drift);
    // each state's row entropy folds its transition terms in sorted
    // target order (q116 rule) and floors to e6 BEFORE the π-weighted
    // combination, which is then pure integer products. Scale: the
    // corpus work is one keyed lag window + one groupBy; everything
    // after runs on the #states² frame.
    "q435_markov_entropy_rate" -> ((s, d) => {
      val cnt = markovCounts(s, d)
      val pi = markovStationary(cnt)
      val hs = cnt
        .withColumn("c_out", sum("c").over(
          org.apache.spark.sql.expressions.Window.partitionBy("from_s")))
        .groupBy("from_s")
        .agg(array_sort(collect_list(struct(col("to_s"), col("c"),
          col("c_out")))).as("ps"))
        .withColumn("h", aggregate(transform(col("ps"),
          x => -(x.getField("c").cast("double") /
            x.getField("c_out").cast("double")) *
            log(x.getField("c").cast("double") /
              x.getField("c_out").cast("double"))),
          lit(0.0d), (acc, x) => acc + x))
        .select(col("from_s").as("st"),
          floor(col("h") * 1e6).cast("long").as("h_e6"))
      pi.join(hs, "st")
        .select(col("st"), col("v_e6").as("pi_e6"), col("h_e6"),
          expr("v_e6 * h_e6 div 1000000").as("contrib_e6"))
    }),

    // Markov removal-effect attribution (Anderl et al. 2016 — the
    // data-driven alternative to q227's rule-based credit): model each
    // user journey as start → channels → conv/null (truncated at the
    // first purchase), estimate the transition matrix in exact e6
    // integers, and compute each channel's removal effect — how much the
    // start→conv absorption probability drops when that channel is made
    // non-traversable (its value pinned to 0). Absorption probs by 12
    // value-iteration rounds in integer micro-units (Σ p_e6·y_e6 is an
    // exact int sum, ONE trunc div per state per round — the q292
    // convention, so the oracle replays bit-for-bit; 12 rounds settle
    // e6 units for sub-0.5 transition masses). Scale shape: corpus-scale
    // work is one keyed journey window + one groupBy; the iteration runs
    // on the (#variants × #states) aggregate frame (dozens of rows) with
    // broadcast joins — per-round localCheckpoint keeps lineage flat.
    "q392_removal_attribution" -> ((s, d) => {
      val wU = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("tm", "event_id")
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      val ev = t(s, d, "events")
        .select(col("user_id"), expr("unix_micros(ts)").as("tm"),
          col("event_id"), col("event_type"))
        .withColumn("rn", row_number().over(wU).cast("long"))
      val fp = ev.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("rn").as("prn"))
      val seq0 = ev.join(fp, Seq("user_id"), "left")
        .where(col("prn").isNull || col("rn") <= col("prn"))
        .withColumn("node", when(col("event_type") === "purchase", "conv")
          .otherwise(col("event_type")))
      val seq = seq0
        .withColumn("prev", coalesce(lag("node", 1).over(wU), lit("start")))
        .withColumn("mx", max("rn").over(wAll))
      val trans = seq.select(col("prev").as("from_s"), col("node").as("to_s"))
        .unionByName(seq.where(col("rn") === col("mx") && col("prn").isNull)
          .select(col("node").as("from_s"), lit("null").as("to_s")))
        .groupBy("from_s", "to_s").agg(count(lit(1)).as("c"))
      val p = trans
        .withColumn("c_out", sum("c").over(
          org.apache.spark.sql.expressions.Window.partitionBy("from_s")))
        .select(col("from_s"), col("to_s"),
          expr("(c * 1000000) div c_out").as("p_e6"))
        .localCheckpoint(true)
      val channels = t(s, d, "events")
        .where(col("event_type") =!= "purchase")
        .select(col("event_type").as("vnt")).distinct()
      val variants = channels.unionByName(
        channels.sparkSession.range(1).select(lit("full").as("vnt")))
        .localCheckpoint(true)
      def convRows = variants.select(col("vnt"), lit("conv").as("st"),
        lit(1000000L).as("y_e6"))
      var y = convRows
      val rounds = 12
      for (_ <- 1 to rounds) {
        val next = y.join(broadcast(p), col("st") === col("to_s"))
          .groupBy(col("vnt"), col("from_s"))
          .agg(expr("sum(p_e6 * y_e6) div 1000000").as("y_e6"))
          .select(col("vnt"), col("from_s").as("st"), col("y_e6"))
          .where(col("st") =!= col("vnt"))
          .unionByName(convRows)
        // the q324 lazy-final rule does NOT apply here: the last round
        // is read TWICE downstream (the `full` broadcast build and the
        // eff probe side), so skipping the cut replays the final
        // broadcast-join round per reader — measured a wash at best
        // (r15 A/B inside the noise band); the eager cut stays
        y = next.localCheckpoint(true)
      }
      val atStart = y.where(col("st") === "start")
      val full = atStart.where(col("vnt") === "full")
        .select(col("y_e6").as("v_full_e6"))
      val eff = atStart.where(col("vnt") =!= "full")
        .select(col("vnt").as("channel"), col("y_e6").as("v_removed_e6"))
        .crossJoin(broadcast(full))
        .withColumn("effect_e6", col("v_full_e6") - col("v_removed_e6"))
      eff
        .withColumn("tot_eff", sum("effect_e6").over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(lit(1)).rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.unboundedFollowing)))
        .select(col("channel"), col("v_full_e6"), col("v_removed_e6"),
          col("effect_e6"),
          expr("CASE WHEN tot_eff = 0 THEN 0 " +
            "ELSE (effect_e6 * 1000000) div tot_eff END").as("share_e6"))
    }),

    // Histogram split-finder — the distributed-GBDT primitive (the
    // XGBoost/LightGBM "hist" algorithm's inner loop, Chen & Guestrin
    // 2016): bin each feature, build per-bin (count, positives)
    // histograms in ONE map-combinable groupBy, then score every split
    // boundary by weighted Gini purity from cumulative sums. The purity
    // objective is kept as exact integers — maximizing
    // Σ_side (pos²+neg²)·1e6 div n_side is equivalent to minimizing
    // weighted Gini impurity (int64-exact while n ≤ ~3M per the
    // pos²·1e6 bound; production scales to e4 or per-side shares).
    // Label: mktsegment = 'BUILDING'. Scale shape: the histogram groupBy
    // is the only corpus-scale pass (map-side combinable, the hist
    // algorithm's point); the split scan is a per-FEATURE window over
    // the DOMAIN-sized bin frame.
    "q400_histogram_split" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = t(s, d, "customer").select(
        (col("c_mktsegment") === "BUILDING").cast("long").as("y"),
        floor(col("c_acctbal") / 500.0).cast("long").as("f_bal"),
        col("c_nationkey").cast("long").as("f_nation"),
        expr("length(c_name) div 3").cast("long").as("f_clen"))
      val un = base.select(explode(array(
          struct(lit("bal_band").as("feature"), col("f_bal").as("bin"),
            col("y")),
          struct(lit("nation").as("feature"), col("f_nation").as("bin"),
            col("y")),
          struct(lit("name_len").as("feature"), col("f_clen").as("bin"),
            col("y")))).as("r"))
        .select(col("r.feature"), col("r.bin"), col("r.y"))
      val wcum = Window.partitionBy("feature").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wall = Window.partitionBy("feature")
      un.groupBy("feature", "bin")
        .agg(count(lit(1)).as("n"), sum("y").as("pos"))
        .withColumn("nl", sum("n").over(wcum))
        .withColumn("posl", sum("pos").over(wcum))
        .withColumn("nt", sum("n").over(wall))
        .withColumn("post", sum("pos").over(wall))
        .where(col("nl") < col("nt"))
        .withColumn("score_e6", expr(
          """(posl * posl + (nl - posl) * (nl - posl)) * 1000000 div nl
             + ((post - posl) * (post - posl)
                + ((nt - nl) - (post - posl)) * ((nt - nl) - (post - posl)))
               * 1000000 div (nt - nl)"""))
        .withColumn("base_e6", expr(
          "(post * post + (nt - post) * (nt - post)) * 1000000 div nt"))
        .withColumn("rn", row_number().over(Window.partitionBy("feature")
          .orderBy(desc("score_e6"), asc("bin"))))
        .where(col("rn") === 1)
        .select(col("feature"), col("bin").as("split_bin"),
          col("nl").as("n_l"), (col("nt") - col("nl")).as("n_r"),
          col("posl").as("pos_l"), (col("post") - col("posl")).as("pos_r"),
          col("score_e6"), col("base_e6"),
          (col("score_e6") - col("base_e6")).as("gain_e6"))
    }),

    // TPC-H Q19 shape (discounted revenue, disjunctive predicates): an
    // OR of three (brand, size-range, quantity-range) conjunctions —
    // the predicate form that breaks naive pushdown. The part dim
    // filter (union of the brand clauses) broadcasts; the residual OR
    // evaluates after the join; revenue in exact e4 integer decimals.
    "q305_tpch_q19" -> ((s, d) => {
      val volE4 = (sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))) * lit(10000)).cast("long")
      val parts = broadcast(t(s, d, "part")
        .where(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34"))
        .select("p_partkey", "p_brand", "p_size"))
      t(s, d, "lineitem")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity") >= 1 && col("l_quantity") <= 11) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity") >= 10 && col("l_quantity") <= 20) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("l_quantity") >= 20 && col("l_quantity") <= 30))
        .agg(count(lit(1)).as("n"), volE4.as("revenue_e4"))
    }),

    // TPC-H Q22 shape (global sales opportunity): customers with
    // above-average positive balance and NO orders — a scalar-subquery
    // threshold (1-row broadcast) plus a broadcast ANTI join, counted
    // per balance decile band. Exact: the avg threshold is compared in
    // cross-multiplied integers (cents·n vs sum·1), never a float mean.
    "q306_tpch_q22" -> ((s, d) => {
      val cust = t(s, d, "customer").select(col("c_custkey"),
        floor(col("c_acctbal") * 100).cast("long").as("cents"))
      val thr = cust.where(col("cents") > 0)
        .agg(sum("cents").as("s"), count(lit(1)).as("n"))
      val active = t(s, d, "orders").select(col("o_custkey")).distinct()
      cust.crossJoin(broadcast(thr))
        .where(col("cents") * col("n") > col("s")) // cents > s/n, exact
        .join(broadcast(active), col("c_custkey") === col("o_custkey"),
          "left_anti")
        .groupBy(expr("cents div 100000").as("bal_band"))
        .agg(count(lit(1)).as("numcust"), sum("cents").as("totacctbal_cents"))
    }),

    // TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    // keep the max-revenue supplier(s) — the view + scalar-max pattern,
    // decorrelated to one aggregate and a 1-row broadcast probe. Exact
    // e4 integer revenue so the max comparison cannot knife-edge.
    "q307_tpch_q15" -> ((s, d) => {
      val volE4 = (sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))) * lit(10000)).cast("long")
      val rev = t(s, d, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy("l_suppkey").agg(volE4.as("total_e4"))
        .persist() // feeds the max AND the probe
      val mx = rev.agg(max("total_e4").as("mx"))
      rev.crossJoin(broadcast(mx)).where(col("total_e4") === col("mx"))
        .join(broadcast(t(s, d, "supplier").select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_e4"))
    }),

    // TPC-H Q13 shape (customer order-count distribution): LEFT join
    // customers to their order counts, then the histogram of counts —
    // the two-level aggregate (count per customer, then count per
    // count) with zero-order customers kept by the outer join.
    "q308_tpch_q13" -> ((s, d) => {
      val perCust = t(s, d, "orders")
        .where(!col("o_orderpriority").startsWith("4"))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("c_count"))
      t(s, d, "customer").select(col("c_custkey"))
        .join(perCust, col("c_custkey") === col("o_custkey"), "left")
        .na.fill(0L, Seq("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
    }),

    // TPC-H Q14 shape (promo revenue share): one month's revenue split
    // by PROMO part type — the CASE-inside-aggregate share, exact via
    // e4 integer decimal sums and one e6 integer division (the q282
    // convention; no 100.0·x/y float).
    "q309_tpch_q14" -> ((s, d) => {
      def volE4(c: Column) = (sum(when(c,
        col("l_extendedprice").cast("decimal(18,2)") *
          (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)")))
        .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(18,2)")))
        * lit(10000)).cast("long")
      t(s, d, "lineitem")
        .where(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .join(broadcast(t(s, d, "part").select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(volE4(col("p_type") === "PROMO").as("promo_e4"),
          volE4(lit(true)).as("total_e4"))
        .select(col("promo_e4"), col("total_e4"),
          expr("(promo_e4 * 1000000) div total_e4").as("promo_share_e6"))
    }),

    // TPC-H Q6 shape (forecasting revenue change): the pure single-table
    // conditional aggregate — every predicate pushes into the scan, no
    // join at all; revenue = Σ price·discount in exact e4 integer
    // decimals. With q305/q306/q307/q308/q309 this completes the TPC-H
    // suite minus the four partsupp-dependent queries (no partsupp
    // table in this schema).
    // TPC-H Q1 — the canonical lineitem pricing summary: the date
    // predicate pushes into the parquet scan, then ONE map-side partial
    // + final hash aggregate over the 6-value (returnflag, linestatus)
    // key — the textbook fully-distributed shape (no join, no window,
    // combine-heavy shuffle of 6 rows per partition). Money math in
    // narrow decimals (triple product stays well under both engines'
    // 38-digit cap), scaled to integer units; the three averages are
    // integer trunc divisions of the scaled sums, so every output cell
    // is engine-independent BIGINT. e2-sum × 1e4 bounds: safe to ~1e12
    // filtered rows per group (sum_base_e2 ~1e15 at TPC-H SF10k).
    "q341_tpch_q1" -> ((s, d) => {
      val qty = col("l_quantity").cast("decimal(12,2)")
      val price = col("l_extendedprice").cast("decimal(14,2)")
      val disc = col("l_discount").cast("decimal(4,2)")
      val tax = col("l_tax").cast("decimal(4,2)")
      val one = lit(1).cast("decimal(4,2)")
      t(s, d, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          (sum(qty) * 100).cast("long").as("sum_qty_e2"),
          (sum(price) * 100).cast("long").as("sum_base_e2"),
          (sum(price * (one - disc)) * 10000).cast("long").as("sum_disc_e4"),
          (sum(price * (one - disc) * (one + tax)) * 1000000).cast("long")
            .as("sum_charge_e6"),
          (sum(disc) * 100).cast("long").as("sum_discount_e2"),
          count(lit(1)).as("n"))
        .withColumn("avg_qty_e6", expr("sum_qty_e2 * 10000 div n"))
        .withColumn("avg_price_e6", expr("sum_base_e2 * 10000 div n"))
        .withColumn("avg_disc_e6", expr("sum_discount_e2 * 10000 div n"))
    }),

    "q310_tpch_q6" -> ((s, d) => {
      t(s, d, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(count(lit(1)).as("n"),
          (sum(col("l_extendedprice").cast("decimal(18,2)") *
            col("l_discount").cast("decimal(18,2)")) * lit(10000))
            .cast("long").as("revenue_e4"))
    }),

    // Rolling 7-day OLS slope per daily series — the trend detector a
    // monitoring stack runs next to q182's spike screen: all four
    // regression sums (n, Σx, Σy, Σxy, Σx²) accumulate as EXACT
    // integers inside one keyed rolling window, and the slope is a
    // single pinned double division floored to e6. Windows partition by
    // event_type; guarded to full 7-day windows (shorter prefixes have
    // unstable slopes and would differ only in noise).
    "q300_rolling_slope" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("c").orderBy("day").rowsBetween(-6, 0)
      val daily = t(s, d, "events").select(col("event_type").as("c"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          floor(col("value") * 100).cast("long").as("v_e2"))
        .groupBy("c", "day")
        .agg(expr("sum(v_e2) div count(1)").as("y"))
      val n = count(lit(1)).over(w)
      val sx = sum("day").over(w)
      val sy = sum("y").over(w)
      val sxy = sum(col("day") * col("y")).over(w)
      val sxx = sum(col("day") * col("day")).over(w)
      daily
        .withColumn("n", n).withColumn("sx", sx).withColumn("sy", sy)
        .withColumn("sxy", sxy).withColumn("sxx", sxx)
        .where(col("n") === 7 &&
          col("n") * col("sxx") - col("sx") * col("sx") > 0)
        .select(col("c"), col("day"),
          floor((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") * 1e6)
            .cast("long").as("slope_e6"))
    }),

    // Day-of-week seasonality profile per event_type: each weekday's
    // mean value as an e6 index against the series' overall mean —
    // exact integers end to end (sums cross-multiplied instead of
    // divided: index = (sum_dow · n_all · 10⁶) div (n_dow · sum_all)).
    // One groupBy cube-free pass plus a broadcast of per-type totals.
    "q301_dow_seasonality" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_type").as("c"),
        expr("(unix_micros(ts) div 86400000000 + 4) % 7").as("dow"),
        floor(col("value") * 100).cast("long").as("v_e2"))
      val byDow = ev.groupBy("c", "dow")
        .agg(count(lit(1)).as("n_dow"), sum("v_e2").as("s_dow"))
      val tot = ev.groupBy("c")
        .agg(count(lit(1)).as("n_all"), sum("v_e2").as("s_all"))
      byDow.join(broadcast(tot), "c")
        .where(col("s_all") > 0)
        .select(col("c"), col("dow"), col("n_dow"), col("s_dow"),
          // two-stage: truncated e6 means first, then one e6 ratio —
          // s_dow·n_all·10⁶ in one term would outgrow int64 at scale
          expr("(((s_dow * 1000000) div n_dow) * 1000000) " +
            "div ((s_all * 1000000) div n_all)").as("index_e6"))
    }),

    // Skyline (Pareto frontier) over (price, order day), minimizing
    // both: an order survives iff nothing is both cheaper-or-equal and
    // earlier-or-equal (one strictly). On DISTINCT (price, day) pairs
    // sorted by (price, day), dominance collapses to one comparison
    // against the EXCLUSIVE running min of day — computed by the
    // distributed two-phase PrefixScan, never a single-partition
    // window. Output: frontier pairs with their order counts.
    "q297_skyline" -> ((s, d) => {
      val pairs = t(s, d, "orders").select(
          floor(col("o_totalprice") * 100).cast("long").as("price_cents"),
          expr("unix_micros(o_orderdate) div 86400000000").as("day"))
        .groupBy("price_cents", "day").agg(count(lit(1)).as("n_orders"))
      graft.operators.PrefixScan.scanLong(pairs, "prefmin", "day", "min",
          inclusive = false, asc("price_cents"), asc("day"))
        .where(col("prefmin") > col("day"))
        .select("price_cents", "day", "n_orders")
    }),

    // Scalable global cumulative revenue — the q91-style twin of a
    // running total ordered over the WHOLE table (q19's cumsum is
    // keyed; the unkeyed form would single-partition the window). The
    // two-phase PrefixScan ranges the sort in parallel and stitches
    // per-partition offsets; identical to the window form by totality
    // of the (day, o_orderkey) order.
    "q298_cumsum_scalable" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"),
        expr("unix_micros(o_orderdate) div 86400000000").as("day"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      graft.operators.PrefixScan.scanLong(o, "cum_cents", "cents", "sum",
        inclusive = true, asc("day"), asc("o_orderkey"))
    }),

    // TPC-H Q4 shape (order-priority checking): orders in one quarter
    // with at least one "late" line (shipped > 30 days after the order
    // date — this schema's stand-in for commitdate < receiptdate),
    // counted per priority. The EXISTS is a LEFT SEMI join with an
    // equi-key plus a residual date condition — the fact never
    // duplicates, no distinct needed.
    "q283_tpch_q4" -> ((s, d) => {
      val o = t(s, d, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      o.join(t(s, d, "lineitem").select("l_orderkey", "l_shipdate"),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    }),

    // OHLC candlestick bars per (event_type, hour): open/close by the
    // total (ts, event_id) order, high/low/volume/n as plain min/max/
    // sum/count — the time-bucketed first/last aggregation every
    // market-data or metrics warehouse emits. Spark's first()/last()
    // aggregates are shuffle-order-nondeterministic, so open and close
    // ride two row_number windows over the TOTAL order instead (exact
    // and cross-engine). Integer e2 cents throughout. Scale shape: the
    // windows and the groupBy share one (type, hour) key — a single
    // shuffle, and bar count is bounded by #types × #hours, not rows.
    "q317_ohlc_bars" -> ((s, d) => {
      val base = t(s, d, "events").select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hr"),
        col("ts"), col("event_id"),
        floor(col("value") * 100).cast("long").as("v_e2"))
      val wa = Window.partitionBy("event_type", "hr")
        .orderBy(asc("ts"), asc("event_id"))
      val wd = Window.partitionBy("event_type", "hr")
        .orderBy(desc("ts"), desc("event_id"))
      base.withColumn("ra", row_number().over(wa))
        .withColumn("rd", row_number().over(wd))
        .groupBy("event_type", "hr")
        .agg(max(when(col("ra") === 1, col("v_e2"))).as("open_e2"),
          max("v_e2").as("high_e2"),
          min("v_e2").as("low_e2"),
          max(when(col("rd") === 1, col("v_e2"))).as("close_e2"),
          sum("v_e2").as("volume_e2"),
          count(lit(1)).as("n"))
    }),

    // Maximum drawdown per user over a signed equity curve (event parity
    // as the buy/sell sign — a deterministic random walk both engines
    // share): running cumsum, running peak, drawdown = peak − equity,
    // report the deepest trough plus the peak and final equity — the
    // risk statistic any portfolio/metrics layer computes next to q238's
    // TWAP. Exact BIGINT end to end (no float touches the curve).
    // Scale shape: two stacked windows and the final groupBy all key on
    // user_id with one (ts, event_id) order — a single shuffle, state
    // bounded per user.
    "q318_max_drawdown" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          (when(col("event_id") % 2 === 0, 1L).otherwise(-1L) *
            floor(col("value") * 100).cast("long")).as("delta_e2"))
        .withColumn("equity", sum("delta_e2").over(w))
        .withColumn("peak", max("equity").over(w))
        .groupBy("user_id")
        .agg(max(col("peak") - col("equity")).as("max_drawdown_e2"),
          max("peak").as("peak_e2"),
          sum("delta_e2").as("final_e2"),
          count(lit(1)).as("n_events"))
    }),

    // Item-item collaborative-filtering similarity: cosine between
    // event_types' user-interaction count vectors — the classic
    // neighborhood-CF scorer (Sarwar et al. 2001), distinct from q177's
    // basket lift (co-occurrence counts) in that it compares FULL
    // engagement profiles. The dot products and squared norms are exact
    // BIGINT sums; only the final cosine is one pinned double floored
    // to e6. Scale shape: the self-join keys on user_id with fan-in
    // bounded by the item cardinality per user, the norms frame is tiny
    // and broadcast — no all-pairs structure over users.
    "q325_item_cf" -> ((s, d) => {
      val c = t(s, d, "events")
        .groupBy(col("user_id").as("u"), col("event_type").as("it"))
        .agg(count(lit(1)).as("c"))
        .persist() // both sides of the user-keyed self-join + norms
      val dots = c.select(col("u"), col("it").as("i1"), col("c").as("c1"))
        .join(c.select(col("u"), col("it").as("i2"), col("c").as("c2")), "u")
        .where(col("i1") < col("i2"))
        .groupBy("i1", "i2")
        .agg(sum(col("c1") * col("c2")).as("dot"), count(lit(1)).as("n_users"))
      val norms = c.groupBy("it").agg(sum(col("c") * col("c")).as("nn"))
      dots
        .join(broadcast(norms.select(col("it").as("i1"), col("nn").as("nn1"))), "i1")
        .join(broadcast(norms.select(col("it").as("i2"), col("nn").as("nn2"))), "i2")
        .select(col("i1"), col("i2"), col("dot"), col("n_users"),
          // sqrt(nn1)·sqrt(nn2), NOT sqrt(nn1*nn2): the BIGINT product
          // of two sum-of-squares can pass int64 at scale, where Spark
          // (non-ANSI) wraps silently while DuckDB raises — the split
          // keeps every factor in range and both sqrts are IEEE
          // correctly rounded, so the pinned double chain stays exact
          // cross-engine (same posture as q319/q340).
          floor(col("dot").cast("double") /
            (sqrt(col("nn1").cast("double")) * sqrt(col("nn2").cast("double"))) * 1e6)
            .cast("long").as("cos_e6"))
    }),

    // SAX symbolic approximation (Lin et al. 2003) of each event_type's
    // daily series: PAA-compress days into 7-day segment means, then map
    // each segment onto a 4-symbol alphabet by min/max-normalized
    // integer bucketing — the dimensionality reduction that turns a time
    // series into a short string for indexing/motif search (the q268 DTW
    // companion). Everything is trunc-div integer arithmetic: daily
    // means, segment means, and the bucket ((m−mn)·4) div (mx−mn+1) —
    // no z-normalization float in sight, so the SAX strings are
    // cross-engine exact. Scale shape: two keyed groupBys and one tiny
    // broadcast of per-type min/max; the per-type string assembles from
    // a sorted bounded segment list (weeks, not rows).
    "q327_sax" -> ((s, d) => {
      val daily = t(s, d, "events").select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          floor(col("value") * 100).cast("long").as("v_e2"))
        .groupBy("event_type", "day")
        .agg(expr("sum(v_e2) div count(1)").as("v"))
      val paa = daily.groupBy(col("event_type"), expr("day div 7").as("seg"))
        .agg(expr("sum(v) div count(1)").as("m"))
      val mm = paa.groupBy("event_type").agg(min("m").as("mn"), max("m").as("mx"))
      paa.join(broadcast(mm), "event_type")
        .withColumn("sym", expr("((m - mn) * 4) div (mx - mn + 1)"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_segments"),
          array_join(
            transform(array_sort(collect_list(struct(col("seg"), col("sym")))),
              x => x.getField("sym").cast("string")), "").as("sax"))
    }),

    // Top-20 frequent 3-step user journeys: sliding event-type trigrams
    // over each user's (ts, event_id)-ordered stream via two stacked
    // lags — the sequence-mining readout (flows into a Sankey) that
    // extends q174's Markov bigrams one step deeper. Exact counts, and
    // the bounded top-k plans TakeOrderedAndProject (the q24 invariant),
    // never a global sort. Scale shape: one keyed lag window + one hash
    // groupBy on the trigram (domain ≤ #types³).
    "q330_journey_trigrams" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("e3"))
        .withColumn("e2", lag("e3", 1).over(w))
        .withColumn("e1", lag("e3", 2).over(w))
        .where(col("e1").isNotNull)
        .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("e1"), asc("e2"), asc("e3")).limit(20)
    }))

  /** 12 unrolled value-iteration CTE rounds for the q392 oracle. */
  private val removalRounds: String = (1 to 12).map { i =>
    s"""y$i AS (
           SELECT vnt, st, y_e6 FROM (
             SELECT y.vnt, p.from_s AS st,
               CAST(sum(p_e6 * y_e6) AS BIGINT) // 1000000 AS y_e6
             FROM y${i - 1} y JOIN p ON y.st = p.to_s
             GROUP BY y.vnt, p.from_s)
           WHERE st <> vnt
           UNION ALL
           SELECT vnt, 'conv', CAST(1000000 AS BIGINT) FROM variants)"""
  }.mkString(",\n         ")

  val oracles: Map[String, String] = Map(
    "q400_histogram_split" ->
      """WITH base AS (
           SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS y,
             CAST(floor(c_acctbal / 500.0) AS BIGINT) AS f_bal,
             CAST(c_nationkey AS BIGINT) AS f_nation,
             CAST(length(c_name) // 3 AS BIGINT) AS f_clen
           FROM customer),
         un AS (
           SELECT 'bal_band' AS feature, f_bal AS bin, y FROM base
           UNION ALL
           SELECT 'nation', f_nation, y FROM base
           UNION ALL
           SELECT 'name_len', f_clen, y FROM base),
         hist AS (
           SELECT feature, bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
           FROM un GROUP BY 1, 2),
         cum AS (
           SELECT feature, bin,
             CAST(sum(n) OVER (PARTITION BY feature ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS nl,
             CAST(sum(pos) OVER (PARTITION BY feature ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS posl,
             CAST(sum(n) OVER (PARTITION BY feature) AS BIGINT) AS nt,
             CAST(sum(pos) OVER (PARTITION BY feature) AS BIGINT) AS post
           FROM hist),
         sc AS (
           SELECT *,
             (posl * posl + (nl - posl) * (nl - posl)) * 1000000 // nl
               + ((post - posl) * (post - posl)
                  + ((nt - nl) - (post - posl))
                    * ((nt - nl) - (post - posl)))
                 * 1000000 // (nt - nl) AS score_e6,
             (post * post + (nt - post) * (nt - post)) * 1000000 // nt
               AS base_e6
           FROM cum WHERE nl < nt)
         SELECT feature, bin AS split_bin, nl AS n_l, nt - nl AS n_r,
           posl AS pos_l, post - posl AS pos_r, score_e6, base_e6,
           score_e6 - base_e6 AS gain_e6
         FROM (SELECT *, row_number() OVER (PARTITION BY feature
             ORDER BY score_e6 DESC, bin) AS rn FROM sc)
         WHERE rn = 1""",

    "q392_removal_attribution" ->
      s"""WITH ev AS (
           SELECT user_id, epoch_us(ts) AS tm, event_id, event_type,
             CAST(row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS BIGINT) AS rn
           FROM events),
         fp AS (
           SELECT user_id, min(rn) AS prn FROM ev
           WHERE event_type = 'purchase' GROUP BY 1),
         kept AS (
           SELECT e.user_id, e.rn, f.prn,
             CASE WHEN e.event_type = 'purchase' THEN 'conv'
                  ELSE e.event_type END AS node
           FROM ev e LEFT JOIN fp f USING (user_id)
           WHERE f.prn IS NULL OR e.rn <= f.prn),
         seq AS (
           SELECT user_id, rn, prn, node,
             coalesce(lag(node) OVER (PARTITION BY user_id ORDER BY rn),
               'start') AS prev,
             max(rn) OVER (PARTITION BY user_id) AS mx
           FROM kept),
         trans AS (
           SELECT from_s, to_s, count(*) AS c FROM (
             SELECT prev AS from_s, node AS to_s FROM seq
             UNION ALL
             SELECT node, 'null' FROM seq WHERE rn = mx AND prn IS NULL)
           GROUP BY 1, 2),
         rowt AS (
           SELECT from_s, CAST(sum(c) AS BIGINT) AS c_out
           FROM trans GROUP BY 1),
         p AS (
           SELECT t.from_s, t.to_s, (t.c * 1000000) // r.c_out AS p_e6
           FROM trans t JOIN rowt r USING (from_s)),
         variants AS (
           SELECT DISTINCT event_type AS vnt FROM events
           WHERE event_type <> 'purchase'
           UNION ALL SELECT 'full'),
         y0 AS (
           SELECT vnt, 'conv' AS st, CAST(1000000 AS BIGINT) AS y_e6
           FROM variants),
         $removalRounds,
         starts AS (SELECT vnt, y_e6 FROM y12 WHERE st = 'start'),
         fullv AS (SELECT y_e6 AS v_full_e6 FROM starts WHERE vnt = 'full'),
         eff AS (
           SELECT s.vnt AS channel, f.v_full_e6, s.y_e6 AS v_removed_e6,
             f.v_full_e6 - s.y_e6 AS effect_e6
           FROM starts s CROSS JOIN fullv f WHERE s.vnt <> 'full'),
         tot AS (SELECT CAST(sum(effect_e6) AS BIGINT) AS tot_eff FROM eff)
         SELECT channel, v_full_e6, v_removed_e6, effect_e6,
           CASE WHEN tot_eff = 0 THEN 0
                ELSE (effect_e6 * 1000000) // tot_eff END AS share_e6
         FROM eff CROSS JOIN tot""",
    "q317_ohlc_bars" ->
      """WITH base AS (
           SELECT event_type, epoch_us(ts) // 3600000000 AS hr, ts, event_id,
             CAST(floor(value * 100) AS BIGINT) AS v_e2
           FROM events),
         rn AS (
           SELECT *,
             row_number() OVER (PARTITION BY event_type, hr
               ORDER BY ts, event_id) AS ra,
             row_number() OVER (PARTITION BY event_type, hr
               ORDER BY ts DESC, event_id DESC) AS rd
           FROM base)
         SELECT event_type, hr,
           max(CASE WHEN ra = 1 THEN v_e2 END) AS open_e2,
           max(v_e2) AS high_e2,
           min(v_e2) AS low_e2,
           max(CASE WHEN rd = 1 THEN v_e2 END) AS close_e2,
           CAST(sum(v_e2) AS BIGINT) AS volume_e2,
           count(*) AS n
         FROM rn GROUP BY 1, 2""",

    "q318_max_drawdown" ->
      """WITH base AS (
           SELECT user_id, ts, event_id,
             (CASE WHEN event_id % 2 = 0 THEN 1 ELSE -1 END)
               * CAST(floor(value * 100) AS BIGINT) AS delta_e2
           FROM events),
         eq AS (
           SELECT user_id, ts, event_id, delta_e2,
             CAST(sum(delta_e2) OVER (PARTITION BY user_id
               ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS equity
           FROM base),
         pk AS (
           SELECT user_id, delta_e2, equity,
             max(equity) OVER (PARTITION BY user_id
               ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS peak
           FROM eq)
         SELECT user_id,
           CAST(max(peak - equity) AS BIGINT) AS max_drawdown_e2,
           CAST(max(peak) AS BIGINT) AS peak_e2,
           CAST(sum(delta_e2) AS BIGINT) AS final_e2,
           count(*) AS n_events
         FROM pk GROUP BY 1""",

    "q325_item_cf" ->
      """WITH c AS (
           SELECT user_id AS u, event_type AS it, count(*) AS c
           FROM events GROUP BY 1, 2),
         dots AS (
           SELECT a.it AS i1, b.it AS i2,
             CAST(sum(a.c * b.c) AS BIGINT) AS dot,
             count(*) AS n_users
           FROM c a JOIN c b ON a.u = b.u AND a.it < b.it
           GROUP BY 1, 2),
         norms AS (
           SELECT it, CAST(sum(c * c) AS BIGINT) AS nn
           FROM c GROUP BY 1)
         SELECT i1, i2, dot, n_users,
           CAST(floor(CAST(dot AS DOUBLE)
             / (sqrt(CAST(n1.nn AS DOUBLE)) * sqrt(CAST(n2.nn AS DOUBLE)))
             * 1000000.0) AS BIGINT) AS cos_e6
         FROM dots
         JOIN norms n1 ON dots.i1 = n1.it
         JOIN norms n2 ON dots.i2 = n2.it""",

    "q327_sax" ->
      """WITH daily AS (
           SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               // count(*) AS v
           FROM events GROUP BY 1, 2),
         paa AS (
           SELECT event_type, day // 7 AS seg,
             CAST(sum(v) AS BIGINT) // count(*) AS m
           FROM daily GROUP BY 1, 2),
         mm AS (
           SELECT event_type, min(m) AS mn, max(m) AS mx
           FROM paa GROUP BY 1),
         sym AS (
           SELECT p.event_type, p.seg,
             ((p.m - mn) * 4) // (mx - mn + 1) AS sym
           FROM paa p JOIN mm ON p.event_type = mm.event_type)
         SELECT event_type, count(*) AS n_segments,
           string_agg(CAST(sym AS VARCHAR), '' ORDER BY seg) AS sax
         FROM sym GROUP BY 1""",

    "q330_journey_trigrams" ->
      """WITH seq AS (
           SELECT user_id,
             lag(event_type, 2) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS e1,
             lag(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS e2,
             event_type AS e3
           FROM events)
         SELECT e1, e2, e3, count(*) AS n
         FROM seq WHERE e1 IS NOT NULL
         GROUP BY 1, 2, 3
         ORDER BY n DESC, e1 ASC, e2 ASC, e3 ASC
         LIMIT 20""",

    "q182_spike_detection" ->
      """WITH daily AS (
           SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS n
           FROM events GROUP BY 1, 2),
         win AS (
           SELECT event_type, day, n,
             list_sort(list(n) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) AS arr
           FROM daily)
         SELECT event_type, day, n,
           arr[CAST((len(arr) + 1) // 2 AS INT)]
             + arr[CAST(len(arr) // 2 + 1 AS INT)] AS med_x2,
           n > arr[CAST((len(arr) + 1) // 2 AS INT)]
             + arr[CAST(len(arr) // 2 + 1 AS INT)] AS is_spike
         FROM win WHERE len(arr) >= 4""",
    "q180_conversion_time" ->
      """WITH ev AS (
           SELECT user_id, event_type,
             CAST(floor(date_part('epoch', ts)) AS BIGINT) AS t
           FROM events),
         fv AS (
           SELECT user_id, min(t) AS t_view FROM ev
           WHERE event_type = 'view' GROUP BY 1),
         conv AS (
           SELECT e.user_id, min(e.t) - min(f.t_view) AS delta_s
           FROM ev e JOIN fv f USING (user_id)
           WHERE e.event_type = 'purchase' AND e.t > f.t_view
           GROUP BY 1)
         SELECT count(*) AS n_converted,
           quantile_cont(delta_s, 0.25) AS p25_s,
           quantile_cont(delta_s, 0.5) AS p50_s,
           quantile_cont(delta_s, 0.75) AS p75_s
         FROM conv""",
    "q181_cohort_ltv" ->
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) // 604800000000 AS week,
             CAST(floor(value * 100) AS BIGINT) AS v_e2
           FROM events),
         cohort AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1),
         grid AS (
           SELECT cohort_week, week - cohort_week AS weeks_since,
             CAST(sum(v_e2) AS BIGINT) AS week_value_e2
           FROM ev JOIN cohort USING (user_id)
           GROUP BY 1, 2)
         SELECT cohort_week, weeks_since, week_value_e2,
           CAST(sum(week_value_e2) OVER (PARTITION BY cohort_week
             ORDER BY weeks_since ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_value_e2
         FROM grid""",
    "q176_rfm" ->
      """WITH rfm AS (
           SELECT o_custkey AS custkey,
             20000 - max(epoch_us(o_orderdate) // 86400000000) AS recency,
             count(*) AS frequency,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_e2
           FROM orders GROUP BY 1),
         scored AS (
           SELECT custkey, recency, frequency, monetary_e2,
             ntile(5) OVER (ORDER BY recency DESC, custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency, custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary_e2, custkey) AS m_score
           FROM rfm)
         SELECT custkey, recency, frequency, monetary_e2,
           CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS segment
         FROM scored""",
    "q177_basket_affinity" ->
      """WITH items AS (
           SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
         tot AS (SELECT count(DISTINCT okey) AS n_orders FROM items),
         pairs AS (
           SELECT a.part AS p1, b.part AS p2, count(*) AS n_ab
           FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
           GROUP BY 1, 2 HAVING count(*) >= 3),
         freq AS (SELECT part, count(*) AS n FROM items GROUP BY 1)
         SELECT p.p1, p.p2, p.n_ab,
           CAST(floor(CAST(p.n_ab AS DOUBLE) * CAST(t.n_orders AS DOUBLE)
             / (CAST(fa.n AS DOUBLE) * CAST(fb.n AS DOUBLE)) * 1000000.0) AS BIGINT) AS lift_e6
         FROM pairs p
         JOIN freq fa ON p.p1 = fa.part
         JOIN freq fb ON p.p2 = fb.part, tot t
         ORDER BY n_ab DESC, p1, p2 LIMIT 100""",
    "q173_behavior_distance" ->
      """WITH seqs AS (
           SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS sig
           FROM events WHERE user_id < 10 GROUP BY 1)
         SELECT a.user_id AS u1, b.user_id AS u2,
           CAST(levenshtein(a.sig, b.sig) AS BIGINT) AS ed,
           CAST(length(a.sig) AS BIGINT) AS l1,
           CAST(length(b.sig) AS BIGINT) AS l2
         FROM seqs a JOIN seqs b ON a.user_id < b.user_id""",
    "q174_markov_transitions" ->
      """WITH p AS (
           SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
           FROM events),
         pairs AS (
           SELECT cur, nxt, count(*) AS n FROM p WHERE nxt IS NOT NULL
           GROUP BY 1, 2),
         totals AS (SELECT cur, CAST(sum(n) AS BIGINT) AS n_cur FROM pairs GROUP BY 1)
         SELECT cur, nxt, n, (n * 1000000) // n_cur AS p_e6
         FROM pairs JOIN totals USING (cur)""",
    "q175_seasonal_adjust" ->
      """WITH daily AS (
           SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS n
           FROM events GROUP BY 1, 2),
         d2 AS (SELECT event_type, day, n, (day + 4) % 7 AS dow FROM daily),
         span AS (SELECT min(day) AS mn, max(day) AS mx FROM daily),
         cal AS (
           SELECT (CAST(d AS BIGINT) + 4) % 7 AS dow, count(*) AS n_cal
           FROM (SELECT unnest(range(mn, mx + 1)) AS d FROM span)
           GROUP BY 1),
         dm AS (
           SELECT event_type, d2.dow,
             (CAST(sum(n) AS BIGINT) * 1000000) // any_value(n_cal) AS mean_e6
           FROM d2 JOIN cal ON d2.dow = cal.dow
           GROUP BY event_type, d2.dow)
         SELECT event_type, day, n, n * 1000000 - mean_e6 AS adj_e6
         FROM d2 JOIN dm USING (event_type, dow)""",
    "q268_dtw" ->
      """WITH daily AS (
           SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
           FROM events GROUP BY 1, 2),
         series AS (
           SELECT event_type, list(y ORDER BY day) AS ys
           FROM daily GROUP BY 1),
         pairs AS (
           SELECT a.event_type AS type_a, a.ys AS ya,
                  b.event_type AS type_b, b.ys AS yb
           FROM series a JOIN series b ON a.event_type < b.event_type)
         SELECT type_a, type_b,
           CAST(len(ya) AS BIGINT) AS n_a, CAST(len(yb) AS BIGINT) AS n_b,
           list_reduce(
             list_prepend(
               list_transform(range(1, len(yb) + 1),
                 x -> CAST(1000000000000000 AS BIGINT)),
               list_transform(range(1, len(ya) + 1), i -> [CAST(i AS BIGINT)])),
             (prev, ib) -> list_reduce(
               list_prepend(CAST([] AS BIGINT[]),
                 list_transform(range(1, len(yb) + 1),
                   j -> [CAST(j AS BIGINT)])),
               (st, jb) -> list_append(st,
                 CASE WHEN abs(ib[1] - jb[1]) > 7
                   THEN CAST(1000000000000000 AS BIGINT)
                   ELSE abs(ya[ib[1]] - yb[jb[1]]) + least(
                     prev[jb[1]],
                     CASE WHEN jb[1] > 1 THEN st[jb[1] - 1]
                       ELSE CAST(1000000000000000 AS BIGINT) END,
                     CASE WHEN jb[1] > 1 THEN prev[jb[1] - 1]
                       WHEN ib[1] = 1 AND jb[1] = 1 THEN CAST(0 AS BIGINT)
                       ELSE CAST(1000000000000000 AS BIGINT) END)
                 END)))[len(yb)] AS dtw_dist
         FROM pairs""",
    "q267_holt_forecast" ->
      """WITH daily AS (
           SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
           FROM events GROUP BY 1, 2),
         arrs AS (
           SELECT event_type, list({'day': day, 'y': y} ORDER BY day) AS arr
           FROM daily GROUP BY 1),
         st AS (
           -- LIST accumulator, not a struct: this DuckDB build's
           -- list_reduce mis-evaluates per-field struct construction in
           -- the lambda when folding > 1 step (second field sees a
           -- half-updated accumulator); list element construction is
           -- sound and matches Spark's fold exactly
           SELECT event_type, len(arr) AS n_days,
             list_reduce(
               list_prepend(
                 [CAST(arr[1].y AS DOUBLE), CAST(0.0 AS DOUBLE)],
                 list_transform(arr[2:len(arr)],
                   p -> [CAST(p.y AS DOUBLE), CAST(0.0 AS DOUBLE)])),
               (acc, p) -> [
                 (p[1] + (acc[1] + acc[2])) * 0.5,
                 (acc[2] + ((p[1] + (acc[1] + acc[2])) * 0.5 - acc[1])) * 0.5])
               AS s
           FROM arrs)
         SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           CAST(floor(s[1] * 4096) AS BIGINT) AS level_x4096,
           CAST(floor(s[2] * 4096) AS BIGINT) AS trend_x4096,
           CAST(floor((s[1] + s[2]) * 4096) AS BIGINT) AS fc1_x4096,
           CAST(floor((s[1] + s[2] * 2.0) * 4096) AS BIGINT) AS fc2_x4096,
           CAST(floor((s[1] + s[2] * 3.0) * 4096) AS BIGINT) AS fc3_x4096
         FROM st""",
    "q157_ewma" ->
      """WITH ev AS (
           SELECT event_id, user_id, ts,
             CAST(floor(value * 100) AS BIGINT) AS v_e2
           FROM events),
         win AS (
           SELECT event_id, user_id,
             list(CAST(v_e2 AS DOUBLE)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS w
           FROM ev)
         SELECT event_id, user_id,
           CAST(list_reduce(w, (acc, x) -> (acc + x) * 0.5) * 128.0 AS BIGINT)
             AS ewma_e2_x128
         FROM win""",
    "q154_streaks" ->
      """WITH days AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
           FROM events),
         isl AS (
           SELECT user_id, day,
             day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
           FROM days),
         streaks AS (
           SELECT user_id, island, count(*) AS len, min(day) AS start_day
           FROM isl GROUP BY 1, 2),
         best AS (SELECT user_id, max(len) AS best_len FROM streaks GROUP BY 1)
         SELECT s.user_id, b.best_len, min(s.start_day) AS start_day
         FROM streaks s JOIN best b ON s.user_id = b.user_id AND s.len = b.best_len
         GROUP BY 1, 2""",
    "q99_approx_sketches" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
           TRUE AS hll_ok, TRUE AS p50_ok
         FROM events GROUP BY 1""",
    "q100_salted_join" ->
      """SELECT o_orderstatus,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           count(*) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",
    "q546_hot_split_join" ->
      """WITH big AS (
           SELECT CASE WHEN l_orderkey % 4 = 0 THEN 0 ELSE l_orderkey END AS k,
                  l_quantity
           FROM lineitem),
         rep AS (
           SELECT CASE WHEN o_orderkey % 4 = 0 THEN 0 ELSE o_orderkey END AS k,
                  min(o_orderstatus) AS status
           FROM orders GROUP BY 1)
         SELECT status,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           count(*) AS n
         FROM big JOIN rep USING (k)
         GROUP BY 1""",
    "q122_zorder" ->
      """SELECT o_orderkey, x, y,
           CAST(list_sum(list_transform(range(0, 8), i ->
             (((x >> i) % 2) << (2*i)) + (((y >> i) % 2) << (2*i+1))))
             AS BIGINT) AS zkey,
           CAST(list_sum(list_transform(range(0, 8), i ->
             (((x >> i) % 2) << (2*i)) + (((y >> i) % 2) << (2*i+1))))
             AS BIGINT) // 1024 AS zbucket
         FROM (SELECT o_orderkey, o_custkey % 256 AS x, o_orderkey % 256 AS y
               FROM orders)""",
    "q119_funnel" ->
      """WITH ev AS (
           SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
         v AS (
           SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN t END) AS t_view
           FROM ev GROUP BY 1),
         c AS (
           SELECT ev.user_id, v.t_view,
             min(CASE WHEN event_type = 'click' AND t > t_view THEN t END)
               AS t_click
           FROM ev JOIN v USING (user_id) GROUP BY 1, 2),
         p AS (
           SELECT ev.user_id, c.t_view, c.t_click,
             min(CASE WHEN event_type = 'purchase' AND t > t_click THEN t END)
               AS t_purchase
           FROM ev JOIN c USING (user_id) GROUP BY 1, 2, 3)
         SELECT count(*) AS n_users, count(t_view) AS n_view,
           count(t_click) AS n_view_click, count(t_purchase) AS n_full_funnel
         FROM p""",
    "q120_retention" ->
      """WITH ev AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week
           FROM events),
         first AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1)
         SELECT cohort_week, week, count(DISTINCT user_id) AS n_active,
           week - cohort_week AS weeks_since
         FROM ev JOIN first USING (user_id)
         GROUP BY 1, 2""",
    "q206_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
             AS DOUBLE) AS revenue,
           count(*) AS n
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
           AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         GROUP BY 1, 2, 3""",
    "q141_tpch_q3" ->
      """SELECT o_orderkey, o_orderpriority,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
             AS DOUBLE) AS revenue,
           count(*) AS n,
           epoch_us(o_orderdate) AS odate_us
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1997-06-01'
           AND l_shipdate > TIMESTAMP '1997-03-01'
         GROUP BY o_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q214_tpch_q17" ->
      """WITH parts AS (
           SELECT p_partkey FROM part
           WHERE p_brand = 'Brand#23' AND p_size <= 5),
         lf AS (
           SELECT l_partkey, l_quantity, l_extendedprice
           FROM lineitem JOIN parts ON l_partkey = p_partkey),
         pq AS (
           SELECT l_partkey, CAST(sum(l_quantity) AS BIGINT) AS sum_q,
             count(*) AS cnt_q
           FROM lf GROUP BY 1)
         SELECT count(*) AS n_rows,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             AS avg_yearly
         FROM lf JOIN pq USING (l_partkey)
         WHERE CAST(l_quantity AS BIGINT) * 5 * cnt_q < sum_q""",
    "q252_equidepth_hist" ->
      """WITH o AS (
           SELECT o_orderkey,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         r AS (
           SELECT cents,
             row_number() OVER (ORDER BY cents, o_orderkey) AS rnk
           FROM o),
         n AS (SELECT count(*) AS n FROM o)
         SELECT (rnk - 1) * 10 // n AS bucket, count(*) AS n_rows,
           min(cents) AS min_cents, max(cents) AS max_cents
         FROM r, n GROUP BY 1""",
    "q253_tpch_q18" ->
      """WITH qual AS (
           SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
           FROM lineitem GROUP BY 1
           HAVING CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) > 250)
         SELECT c_name, c_custkey, o_orderkey,
           epoch_us(o_orderdate) AS odate_us,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents, sum_qty
         FROM orders JOIN qual ON o_orderkey = l_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY total_cents DESC, o_orderkey LIMIT 100""",
    "q255_tpch_q21" ->
      """WITH l AS (
           SELECT l_orderkey, l_suppkey,
             l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderstatus = 'F'),
         per_order AS (
           SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp,
             max(CASE WHEN late THEN l_suppkey END) AS late_supp
           FROM l GROUP BY 1),
         waits AS (
           SELECT late_supp AS s_suppkey, count(*) AS numwait
           FROM per_order
           WHERE n_supp >= 2 AND n_late_supp = 1
           GROUP BY 1)
         SELECT s_suppkey, s_name, numwait
         FROM waits JOIN supplier USING (s_suppkey)
         ORDER BY numwait DESC, s_suppkey LIMIT 20""",
    "q227_attribution" ->
      """WITH ev AS (
           SELECT event_id, user_id, event_type, epoch_us(ts) AS tm, value
           FROM events),
         p AS (
           SELECT user_id, event_id AS pid, tm AS pt,
             CAST(floor(value * 1000000.0) AS BIGINT) AS v_e6
           FROM ev WHERE event_type = 'purchase'),
         c AS (
           SELECT user_id, event_id AS cid, tm AS ct
           FROM ev WHERE event_type = 'click'),
         touched AS (
           SELECT p.pid, p.v_e6, c.cid
           FROM p JOIN c ON p.user_id = c.user_id
           WHERE c.ct <= p.pt AND c.ct > p.pt - 86400000000),
         k AS (SELECT pid, count(*) AS n_touch FROM touched GROUP BY 1)
         SELECT cid, count(*) AS n_conversions,
           CAST(sum(v_e6 // n_touch) AS BIGINT) AS credit_sum_e6
         FROM touched JOIN k USING (pid)
         GROUP BY cid""",
    "q142_tpch_q12" ->
      """SELECT l_returnflag,
           count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 END) AS high_line_count,
           count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                 THEN 1 END) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
         GROUP BY 1""",
    "q118_star_join" ->
      """SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
             AS DOUBLE) AS revenue,
           count(*) AS n
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY 1""",
    "q109_bloom_semijoin" ->
      """SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = 5)
         GROUP BY 1""",
    "q69_active_users" ->
      """WITH per_user AS (
           SELECT user_id,
             count(DISTINCT CASE WHEN date_trunc('day', ts) < TIMESTAMP '2024-03-01'
                   THEN date_trunc('day', ts) END) AS n_days_pre,
             count(DISTINCT date_trunc('day', ts)) AS n_days_all
           FROM events GROUP BY 1),
         m AS (SELECT max(n_days_pre) AS max_pre, max(n_days_all) AS max_all FROM per_user)
         SELECT user_id, n_days_pre, n_days_all
         FROM per_user, m
         WHERE n_days_pre >= max_pre * 0.5 AND n_days_all >= max_all * 0.5""",
    "q70_migration" ->
      """WITH um AS (
           SELECT DISTINCT user_id,
             CAST(floor(date_part('epoch', ts)) AS BIGINT) // 2592000 AS m
           FROM events),
         g AS (
           SELECT user_id, m, (user_id + m) % 4 AS geom,
             lag((user_id + m) % 4, 1) OVER (PARTITION BY user_id ORDER BY m) AS prev_geom
           FROM um)
         SELECT prev_geom, geom, count(*) AS n_moves
         FROM g WHERE prev_geom IS NOT NULL AND prev_geom <> geom
         GROUP BY 1, 2""",
    "q71_wealth_percentile" ->
      """WITH ranked AS (
           SELECT c_acctbal,
             count(*) OVER (ORDER BY c_acctbal DESC, c_custkey ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             count(*) OVER () AS n
           FROM customer)
         SELECT CASE WHEN cum * 5 <= n * 2 THEN 'top'
                     WHEN cum * 5 <= n * 4 THEN 'mid'
                     ELSE 'bottom' END AS wealth_group,
           count(*) AS n, round(sum(c_acctbal), 2) AS sum_bal
         FROM ranked GROUP BY 1""",
    "q72_news_index" -> {
      val pos = "len(list_filter(string_split(lower(text), ' '), t -> list_contains(['fast','big','spark'], t)))"
      val neg = "len(list_filter(string_split(lower(text), ' '), t -> list_contains(['slow','small','filter'], t)))"
      s"""WITH sc AS (
           SELECT lang, source,
             CAST(CASE WHEN len(string_split(lower(text), ' ')) > 0
               THEN floor(CAST($pos - $neg AS DOUBLE)
                          / len(string_split(lower(text), ' ')) * 1000000.0)
               ELSE 0.0 END AS BIGINT) AS s_e6
           FROM documents),
         by_source AS (
           SELECT lang, source, CAST(sum(s_e6) AS BIGINT) AS s_sum_e6,
             count(*) AS n_docs
           FROM sc GROUP BY 1, 2)
         SELECT lang, source, s_sum_e6, n_docs,
           round((s_sum_e6 - avg(s_sum_e6) OVER (PARTITION BY lang))
             / stddev_samp(s_sum_e6) OVER (PARTITION BY lang), 4) AS z
         FROM by_source"""
    },
    "q73_centered_ma" ->
      """WITH daily AS (
           SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT event_type,
           CAST(floor(date_part('epoch', day)) AS BIGINT) AS day_s, n,
           CAST(floor(avg(n) OVER w * 1000000.0) AS BIGINT) AS ma7_e6,
           count(*) OVER w AS n_in_win
         FROM daily
         WINDOW w AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)""",
    "q244_active_learning_select" ->
      """WITH pool AS (
           SELECT event_id AS id,
             CAST(floor(value * 1000000.0) AS BIGINT) AS score_e6
           FROM events WHERE event_id % 7 <> 0)
         (SELECT id, score_e6, 'exploit' AS strategy FROM pool
          ORDER BY score_e6 DESC, id ASC LIMIT 25)
         UNION ALL
         (SELECT id, score_e6, 'uncertain' AS strategy FROM pool
          WHERE score_e6 >= 1000000
          ORDER BY score_e6 ASC, id ASC LIMIT 25)
         UNION ALL
         (SELECT id, score_e6, 'uncertain' AS strategy FROM pool
          WHERE score_e6 < 1000000
          ORDER BY score_e6 DESC, id ASC LIMIT 25)
         UNION ALL
         (SELECT id, score_e6, 'explore' AS strategy FROM pool
          ORDER BY CAST(concat('0x', substr(md5(CAST(id AS VARCHAR)), 1, 15))
            AS BIGINT) ASC, id ASC LIMIT 25)""",
    "q74_threshold_sample" ->
      """(SELECT event_id, CAST(floor(value * 1000000.0) AS BIGINT) AS value_e6,
           'above' AS side
         FROM events WHERE value >= 1.0 ORDER BY value ASC, event_id ASC LIMIT 25)
         UNION ALL
         (SELECT event_id, CAST(floor(value * 1000000.0) AS BIGINT) AS value_e6,
           'below' AS side
         FROM events WHERE value < 1.0 ORDER BY value DESC, event_id ASC LIMIT 25)""",
    "q75_na_handling" ->
      """WITH best AS (
           SELECT o_custkey AS c_custkey, round(max(o_totalprice), 2) AS best_price
           FROM orders GROUP BY 1),
         joined AS (
           SELECT c.c_custkey, best_price
           FROM customer c LEFT JOIN best USING (c_custkey))
         SELECT c_custkey, coalesce(best_price, 0.0) AS best_price, 'filled' AS branch
         FROM joined
         UNION ALL
         SELECT c_custkey, best_price, 'dropped' AS branch
         FROM joined WHERE best_price IS NOT NULL""",
    "q80_asof_join" ->
      """WITH clicks AS (
           SELECT event_id, user_id, epoch_us(ts) AS t
           FROM events WHERE event_type = 'click'),
         purchases AS (
           SELECT user_id, epoch_us(ts) AS t,
             CAST(floor(value * 1000000.0) AS BIGINT) AS v_e6
           FROM events WHERE event_type = 'purchase')
         SELECT c.event_id, p.v_e6 AS last_purchase_e6
         FROM clicks c ASOF LEFT JOIN purchases p
           ON c.user_id = p.user_id AND c.t >= p.t""",
    "q95_topk_per_key" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
               FROM orders)
         WHERE rn <= 3""",
    "q92_collect_sorted" ->
      """SELECT user_id,
           array_to_string(list_sort(list(event_type)), ',') AS types,
           count(*) AS n
         FROM events GROUP BY 1""",
    "q93_salted_agg" ->
      """SELECT event_type,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val, count(*) AS n
         FROM events GROUP BY 1""",
    "q94_regexp_extract" ->
      """SELECT c_custkey, regexp_extract(c_name, '([0-9]+)', 1) AS digits
         FROM customer WHERE c_custkey <= 200""",
    "q91_global_rank_scalable" ->
      """SELECT event_id, value, rnk FROM
         (SELECT event_id, value,
            row_number() OVER (ORDER BY value DESC, event_id ASC) AS rnk FROM events)
         WHERE rnk <= 100""",
    "q81_range_join" ->
      """SELECT a.user_id, count(*) AS n_pairs
         FROM (SELECT user_id, CAST(floor(date_part('epoch', ts)) AS BIGINT) AS t,
                 event_id FROM events) a
         JOIN (SELECT user_id, CAST(floor(date_part('epoch', ts)) AS BIGINT) AS t,
                 event_id FROM events) b
           ON a.user_id = b.user_id AND a.event_id < b.event_id
              AND abs(a.t - b.t) <= 3600
         GROUP BY 1""",

    "q341_tpch_q1" ->
      """WITH a AS (
           SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT)
               AS sum_qty_e2,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) * 100 AS BIGINT)
               AS sum_base_e2,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) *
               (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
               * 10000 AS BIGINT) AS sum_disc_e4,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) *
               (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) *
               (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2))))
               * 1000000 AS BIGINT) AS sum_charge_e6,
             CAST(sum(CAST(l_discount AS DECIMAL(4,2))) * 100 AS BIGINT)
               AS sum_discount_e2,
             count(*) AS n
           FROM lineitem
           WHERE l_shipdate <= TIMESTAMP '1998-09-02'
           GROUP BY 1, 2)
         SELECT l_returnflag, l_linestatus, sum_qty_e2, sum_base_e2,
           sum_disc_e4, sum_charge_e6, sum_discount_e2, n,
           sum_qty_e2 * 10000 // n AS avg_qty_e6,
           sum_base_e2 * 10000 // n AS avg_price_e6,
           sum_discount_e2 * 10000 // n AS avg_disc_e6
         FROM a""",

    "q310_tpch_q6" ->
      """SELECT count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT)
             AS revenue_e4
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24""",

    "q305_tpch_q19" ->
      """SELECT count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
             * 10000 AS BIGINT) AS revenue_e4
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                AND l_quantity >= 1 AND l_quantity <= 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                AND l_quantity >= 10 AND l_quantity <= 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                AND l_quantity >= 20 AND l_quantity <= 30)""",

    "q306_tpch_q22" ->
      """WITH cust AS (
           SELECT c_custkey,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
           FROM customer),
         thr AS (
           SELECT CAST(sum(cents) AS BIGINT) AS s, count(*) AS n
           FROM cust WHERE cents > 0),
         active AS (SELECT DISTINCT o_custkey FROM orders)
         SELECT cents // 100000 AS bal_band, count(*) AS numcust,
           CAST(sum(cents) AS BIGINT) AS totacctbal_cents
         FROM cust, thr
         WHERE cents * n > s
           AND c_custkey NOT IN (SELECT o_custkey FROM active)
         GROUP BY 1""",

    "q307_tpch_q15" ->
      """WITH rev AS (
           SELECT l_suppkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
               (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
               * 10000 AS BIGINT) AS total_e4
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, total_e4
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_e4 = (SELECT max(total_e4) FROM rev)""",

    "q308_tpch_q13" ->
      """WITH per_cust AS (
           SELECT o_custkey, count(*) AS c_count
           FROM orders WHERE o_orderpriority NOT LIKE '4%'
           GROUP BY 1)
         SELECT coalesce(c_count, 0) AS c_count, count(*) AS custdist
         FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
         GROUP BY 1""",

    "q309_tpch_q14" ->
      """SELECT
           CAST(sum(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
               (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
             ELSE CAST(0 AS DECIMAL(18,2)) END) * 10000 AS BIGINT)
             AS promo_e4,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
             * 10000 AS BIGINT) AS total_e4,
           (CAST(sum(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
               (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
             ELSE CAST(0 AS DECIMAL(18,2)) END) * 10000 AS BIGINT) * 1000000)
             // CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
               (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
               * 10000 AS BIGINT) AS promo_share_e6
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1996-03-01'
           AND l_shipdate < TIMESTAMP '1996-04-01'""",

    "q300_rolling_slope" ->
      """WITH daily AS (
           SELECT event_type AS c, epoch_us(ts) // 86400000000 AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               // count(*) AS y
           FROM events GROUP BY 1, 2),
         wsum AS (
           SELECT c, day,
             count(*) OVER w AS n,
             CAST(sum(day) OVER w AS BIGINT) AS sx,
             CAST(sum(y) OVER w AS BIGINT) AS sy,
             CAST(sum(day * y) OVER w AS BIGINT) AS sxy,
             CAST(sum(day * day) OVER w AS BIGINT) AS sxx
           FROM daily
           WINDOW w AS (PARTITION BY c ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         SELECT c, day,
           CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0) AS BIGINT)
             AS slope_e6
         FROM wsum
         WHERE n = 7 AND n * sxx - sx * sx > 0""",

    "q301_dow_seasonality" ->
      """WITH ev AS (
           SELECT event_type AS c,
             (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
             CAST(floor(value * 100) AS BIGINT) AS v_e2
           FROM events),
         by_dow AS (
           SELECT c, dow, count(*) AS n_dow,
             CAST(sum(v_e2) AS BIGINT) AS s_dow
           FROM ev GROUP BY 1, 2),
         tot AS (
           SELECT c, count(*) AS n_all, CAST(sum(v_e2) AS BIGINT) AS s_all
           FROM ev GROUP BY 1)
         SELECT c, dow, n_dow, s_dow,
           (((s_dow * 1000000) // n_dow) * 1000000)
             // ((s_all * 1000000) // n_all) AS index_e6
         FROM by_dow JOIN tot USING (c)
         WHERE s_all > 0""",

    "q297_skyline" ->
      """WITH pairs AS (
           SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
             epoch_us(o_orderdate) // 86400000000 AS day,
             count(*) AS n_orders
           FROM orders GROUP BY 1, 2),
         sc AS (
           SELECT price_cents, day, n_orders,
             min(day) OVER (ORDER BY price_cents, day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prefmin
           FROM pairs)
         SELECT price_cents, day, n_orders
         FROM sc WHERE prefmin IS NULL OR prefmin > day""",

    "q298_cumsum_scalable" ->
      """SELECT o_orderkey, epoch_us(o_orderdate) // 86400000000 AS day,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
             OVER (ORDER BY epoch_us(o_orderdate) // 86400000000, o_orderkey
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
         FROM orders""",

    "q311_psm_att" ->
      """WITH users AS (
           SELECT event_type, user_id,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               // count(*) AS score_e2,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS outcome_e2,
             user_id % 2 = 1 AS treated
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT *,
             last_value(CASE WHEN NOT treated THEN score_e2 END IGNORE NULLS)
               OVER wp AS p_score,
             last_value(CASE WHEN NOT treated THEN user_id END IGNORE NULLS)
               OVER wp AS p_uid,
             last_value(CASE WHEN NOT treated THEN outcome_e2 END IGNORE NULLS)
               OVER wp AS p_out,
             first_value(CASE WHEN NOT treated THEN score_e2 END IGNORE NULLS)
               OVER wn AS n_score,
             first_value(CASE WHEN NOT treated THEN user_id END IGNORE NULLS)
               OVER wn AS n_uid,
             first_value(CASE WHEN NOT treated THEN outcome_e2 END IGNORE NULLS)
               OVER wn AS n_out
           FROM users
           WINDOW wp AS (PARTITION BY event_type ORDER BY score_e2, user_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             wn AS (PARTITION BY event_type ORDER BY score_e2, user_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
         sel AS (
           SELECT event_type, outcome_e2,
             CASE WHEN p_uid IS NULL THEN n_out
                  WHEN n_uid IS NULL THEN p_out
                  WHEN abs(p_score - score_e2) < abs(n_score - score_e2)
                    THEN p_out
                  WHEN abs(n_score - score_e2) < abs(p_score - score_e2)
                    THEN n_out
                  ELSE CASE WHEN p_uid < n_uid THEN p_out ELSE n_out END
             END AS m_out
           FROM w WHERE treated)
         SELECT event_type, count(*) AS n_matched,
           CAST(sum(outcome_e2 - m_out) AS BIGINT) AS att_sum_e2
         FROM sel WHERE m_out IS NOT NULL GROUP BY 1""",

    "q312_window_funnel" ->
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) AS tm, event_type AS et,
             event_id AS eid
           FROM events
           WHERE event_type IN ('view', 'click', 'purchase')),
         v AS (
           SELECT user_id, tm AS vt, eid AS vid FROM (
             SELECT user_id, tm, eid, row_number() OVER
               (PARTITION BY user_id ORDER BY tm, eid) AS rn
             FROM ev WHERE et = 'view') x WHERE rn = 1),
         c AS (
           SELECT user_id, tm AS ct, eid AS cid FROM (
             SELECT e.user_id, e.tm, e.eid, row_number() OVER
               (PARTITION BY e.user_id ORDER BY e.tm, e.eid) AS rn
             FROM ev e JOIN v ON e.user_id = v.user_id
             WHERE e.et = 'click'
               AND (e.tm > v.vt OR (e.tm = v.vt AND e.eid > v.vid))
               AND e.tm <= v.vt + 3600000000) x WHERE rn = 1),
         p AS (
           SELECT user_id FROM (
             SELECT e.user_id, row_number() OVER
               (PARTITION BY e.user_id ORDER BY e.tm, e.eid) AS rn
             FROM ev e
             JOIN v ON e.user_id = v.user_id
             JOIN c ON e.user_id = c.user_id
             WHERE e.et = 'purchase'
               AND (e.tm > c.ct OR (e.tm = c.ct AND e.eid > c.cid))
               AND e.tm <= v.vt + 3600000000) x WHERE rn = 1),
         lv AS (
           SELECT u.user_id,
             CASE WHEN p.user_id IS NOT NULL THEN 3
                  WHEN c.user_id IS NOT NULL THEN 2
                  WHEN v.user_id IS NOT NULL THEN 1
                  ELSE 0 END AS level
           FROM (SELECT DISTINCT user_id FROM ev) u
           LEFT JOIN v ON u.user_id = v.user_id
           LEFT JOIN c ON u.user_id = c.user_id
           LEFT JOIN p ON u.user_id = p.user_id)
         SELECT CAST(level AS BIGINT) AS level, count(*) AS n_users
         FROM lv GROUP BY 1""",

    "q291_interval_union" ->
      """WITH iv AS (
           SELECT user_id, event_id, epoch_us(ts) AS st,
             epoch_us(ts) + CAST(floor(value) AS BIGINT) * 60000000 AS en
           FROM events),
         m AS (
           SELECT user_id, event_id, st, en,
             CASE WHEN st > coalesce(max(en) OVER (PARTITION BY user_id
                 ORDER BY st, en, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               st - 1) THEN 1 ELSE 0 END AS new_island
           FROM iv),
         isl AS (
           SELECT user_id, st, en,
             CAST(sum(new_island) OVER (PARTITION BY user_id
               ORDER BY st, en, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
           FROM m),
         g AS (
           SELECT user_id, island, min(st) AS i_st, max(en) AS i_en
           FROM isl GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_islands,
           CAST(sum(i_en - i_st) AS BIGINT) AS covered_us
         FROM g GROUP BY 1""",

    "q474_session_gap_sweep" ->
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) AS tm, event_id FROM events),
         g AS (
           SELECT user_id, tm - lag(tm) OVER (PARTITION BY user_id
             ORDER BY tm, event_id) AS gap
           FROM ev),
         users AS (
           SELECT count(DISTINCT user_id) AS n_users,
             count(*) AS n_events
           FROM ev),
         th AS (SELECT unnest([15, 30, 60, 120]) AS t_min),
         breaks AS (
           SELECT t_min,
             CAST(sum(CASE WHEN gap > CAST(t_min AS BIGINT) * 60000000
               THEN 1 ELSE 0 END) AS BIGINT) AS n_breaks
           FROM g, th WHERE gap IS NOT NULL GROUP BY 1)
         SELECT CAST(t_min AS BIGINT) AS t_min,
           n_users + n_breaks AS n_sessions,
           n_events * 1000000 // (n_users + n_breaks)
             AS events_per_session_e6
         FROM breaks, users""",

    "q475_retention_policy" ->
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) // 86400000000 AS day
           FROM events),
         mx AS (SELECT max(day) AS mx, count(*) AS n_total FROM ev),
         tagged AS (
           SELECT user_id, mx - day AS age, n_total FROM ev, mx),
         th AS (SELECT unnest([30, 90, 180, 365]) AS win)
         SELECT CAST(win AS BIGINT) AS win, count(*) AS rows_kept,
           count(DISTINCT user_id) AS users_kept,
           (max(n_total) - count(*)) * 1000000 // max(n_total)
             AS dropped_e6
         FROM tagged, th WHERE age < win GROUP BY 1""",

    "q476_audience_overlap" ->
      """WITH tu AS (
           SELECT DISTINCT event_type, user_id FROM events),
         sizes AS (
           SELECT event_type, count(*) AS n FROM tu GROUP BY 1),
         inter AS (
           SELECT a.event_type AS t1, b.event_type AS t2,
             count(*) AS n_both
           FROM tu a JOIN tu b
             ON a.user_id = b.user_id AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT t1, t2, s1.n AS n1, s2.n AS n2,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(n_both AS BIGINT) * 1000000 // (s1.n + s2.n - n_both)
             AS jaccard_e6
         FROM inter
         JOIN sizes s1 ON s1.event_type = t1
         JOIN sizes s2 ON s2.event_type = t2""",

    "q444_sse_changepoint" ->
      """WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(floor(value * 100) AS BIGINT) AS v
           FROM events),
         dd AS (
           SELECT day, count(*) AS nd, CAST(sum(v) AS BIGINT) AS sy,
             CAST(sum(v * v) AS BIGINT) AS syy
           FROM daily GROUP BY 1),
         cum AS (
           SELECT day, CAST(sum(nd) OVER w AS BIGINT) AS cn,
             CAST(sum(sy) OVER w AS BIGINT) AS cy,
             CAST(sum(syy) OVER w AS BIGINT) AS cyy
           FROM dd
           WINDOW w AS (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         tot AS (
           SELECT CAST(sum(nd) AS BIGINT) AS tn,
             CAST(sum(sy) AS BIGINT) AS ty,
             CAST(sum(syy) AS BIGINT) AS tyy
           FROM dd),
         sc AS (
           SELECT day, cn,
             CAST(floor(((CAST(cyy AS DOUBLE)
               - CAST(cy AS DOUBLE) * CAST(cy AS DOUBLE)
                 / CAST(cn AS DOUBLE))
               + ((CAST(tyy AS DOUBLE) - CAST(cyy AS DOUBLE))
                 - (CAST(ty AS DOUBLE) - CAST(cy AS DOUBLE))
                   * (CAST(ty AS DOUBLE) - CAST(cy AS DOUBLE))
                   / (CAST(tn AS DOUBLE) - CAST(cn AS DOUBLE))))
               * 100.0) AS BIGINT) AS sse_e2
           FROM cum, tot WHERE cn < tn),
         best AS (
           SELECT day, cn, sse_e2 FROM sc ORDER BY sse_e2, day LIMIT 1)
         SELECT best.day AS split_day, best.cn AS n_left,
           tot.tn - best.cn AS n_right, best.sse_e2 AS sse_split_e2,
           CAST(floor((CAST(tyy AS DOUBLE)
             - CAST(ty AS DOUBLE) * CAST(ty AS DOUBLE)
               / CAST(tn AS DOUBLE)) * 100.0) AS BIGINT) AS sse_total_e2
         FROM best, tot""",

    "q292_markov_stationary" ->
      s"""WITH $markovCtes
         SELECT rowt.from_s AS st, c_out, coalesce(v3.v_e6, 0) AS v_e6
         FROM rowt LEFT JOIN v3 ON rowt.from_s = v3.st""",

    "q435_markov_entropy_rate" ->
      s"""WITH $markovCtes,
         hs AS (
           SELECT cnt.from_s AS st,
             CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(-(CAST(c AS DOUBLE) / CAST(c_out AS DOUBLE))
                 * ln(CAST(c AS DOUBLE) / CAST(c_out AS DOUBLE))
                 ORDER BY to_s)), (acc, x) -> acc + x) * 1000000.0)
               AS BIGINT) AS h_e6
           FROM cnt JOIN rowt USING (from_s) GROUP BY 1)
         SELECT rowt.from_s AS st, coalesce(v3.v_e6, 0) AS pi_e6, h_e6,
           coalesce(v3.v_e6, 0) * h_e6 // 1000000 AS contrib_e6
         FROM rowt
         LEFT JOIN v3 ON rowt.from_s = v3.st
         JOIN hs ON hs.st = rowt.from_s""",

    "q279_tpch_q5" ->
      """SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
             AS DOUBLE) AS revenue,
           count(*) AS n
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
           AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY 1""",

    "q280_tpch_q10" ->
      """SELECT c_custkey, c_name,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
           n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
             AS DOUBLE) AS revenue,
           count(*) AS n
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue DESC, c_custkey LIMIT 20""",

    "q281_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#9'
           AND p_type NOT LIKE 'PROMO%'
           AND p_size <= 25
           AND l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3""",

    "q282_tpch_q8" ->
      """WITH f AS (
           SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2)) *
               (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
               AS vol,
             n2.n_name AS supp_nation
           FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n1 ON c_nationkey = n1.n_nationkey
           JOIN region ON n1.n_regionkey = r_regionkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
           WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
             AND o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1998-01-01')
         SELECT o_year,
           CAST(sum(vol) * 10000 AS BIGINT) AS den_e4,
           CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN vol
                         ELSE CAST(0 AS DECIMAL(18,2)) END) * 10000
             AS BIGINT) AS num_e4,
           (CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN vol
                          ELSE CAST(0 AS DECIMAL(18,2)) END) * 10000
              AS BIGINT) * 1000000)
             // CAST(sum(vol) * 10000 AS BIGINT) AS share_e6
         FROM f GROUP BY 1""",

    "q283_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders o
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
           AND EXISTS (
             SELECT 1 FROM lineitem
             WHERE l_orderkey = o.o_orderkey
               AND l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
         GROUP BY 1""")
}
