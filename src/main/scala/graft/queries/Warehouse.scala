package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFunctions

/** Warehouse/ELT query shapes a user of the reference's batch pipelines
  * needs around the analytics themselves: native session windows, time
  * scaffolding (gap fill), forward fill, MERGE-style upsert, CDC snapshot
  * diff, grouping sets, and schema-evolution reads.
  *
  * Time arithmetic follows the engine's standing cross-engine rule:
  * integer epoch microseconds, bucketed with truncating division — Spark
  * `div` and DuckDB integer `//` both truncate toward zero (see
  * `epochBucket`), so parity holds for any sign.
  */
object Warehouse {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  /** Truncating division of epoch micros by a positive bucket width:
    * Spark `div` and DuckDB integer `//` BOTH truncate toward zero
    * (measured: SELECT -7 // 2 = -3 on this DuckDB build — its `//` only
    * floors for floats), so plain div is exact parity for any sign.
    */
  private def epochBucket(x: String, y: Long): Column =
    expr(s"$x div ${y}L")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ABC (Pareto) classification — split customers into the classic
    // A/B/C revenue classes (cumulative share ≤ 80% / ≤ 95% / rest)
    // and report each class's size and share: the inventory-management
    // 80/20 discipline applied to revenue concentration, with exact
    // boundaries instead of folklore. Exact: revenue cents, descending
    // ranks via globalRank, cumulative via PrefixScan, class by
    // integer threshold. One scan + two rank passes.
    "q540_abc_analysis" -> ((s, d) => {
      val rev = t(s, d, "orders")
        .select(col("o_custkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("o_custkey").agg(sum("cents").as("rev"))
      val rk = graft.operators.Ranking.globalRank(rev, "r",
        col("rev").desc, col("o_custkey").asc)
      val cum = graft.operators.PrefixScan.scanLong(
        rk, "crev", "rev", "sum", inclusive = true, col("r"))
      val tot = rev.agg(sum("rev").as("trev"), count(lit(1)).as("nc"))
      cum.crossJoin(broadcast(tot))
        .withColumn("cls",
          when(col("crev") * 100L <= col("trev") * 80L, "A")
            .when(col("crev") * 100L <= col("trev") * 95L, "B")
            .otherwise("C"))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_customers"), sum("rev").as("class_rev"),
          max("nc").as("nc"), max("trev").as("trev"))
        .select(col("cls"), col("n_customers"),
          expr("n_customers * 1000000 div nc").as("customer_share_e6"),
          // class_rev*1e6 overflows int64 at sf1 revenue totals (found
          // by the sf1 rung, the q430 lesson) -> pinned double share
          floor(col("class_rev").cast("double") * 1e6 /
            col("trev").cast("double")).cast("long")
            .as("revenue_share_e6"))
    }),

    // Top-share inequality kit — the concentration numbers a revenue
    // review opens with: top-1% and top-10% customers' revenue shares
    // and the p99/p50 quantile ratio, all exact (rank lookups +
    // PrefixScan cumulative revenue). The headline complement to
    // q237's Gini (one number) and q540's classes.
    "q541_top_share" -> ((s, d) => {
      val rev = t(s, d, "orders")
        .select(col("o_custkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("o_custkey").agg(sum("cents").as("rev"))
      val rk = graft.operators.Ranking.globalRank(rev, "r",
        col("rev").desc, col("o_custkey").asc)
      val cum = graft.operators.PrefixScan.scanLong(
        rk, "crev", "rev", "sum", inclusive = true, col("r"))
        .persist() // three rank lookups + shares read it
      val tot = cum.agg(max("crev").as("trev"), count(lit(1)).as("nc"))
      cum.crossJoin(broadcast(tot))
        .where(col("r") === expr("greatest(nc div 100, 1L)") ||
          col("r") === expr("greatest(nc div 10, 1L)") ||
          col("r") === expr("greatest(nc div 2, 1L)"))
        .agg(max("nc").as("n_customers"),
          max(when(col("r") === expr("greatest(nc div 100, 1L)"),
            col("crev"))).as("top1_rev"),
          max(when(col("r") === expr("greatest(nc div 10, 1L)"),
            col("crev"))).as("top10_rev"),
          // descending rank: r = nc div 100 is the 99th revenue
          // percentile customer, r = nc div 2 the median customer
          max(when(col("r") === expr("greatest(nc div 100, 1L)"),
            col("rev"))).as("p99_rev"),
          max(when(col("r") === expr("greatest(nc div 2, 1L)"),
            col("rev"))).as("p50_rev"),
          max("trev").as("trev"))
        .select(col("n_customers"),
          floor(col("top1_rev").cast("double") * 1e6 /
            col("trev").cast("double")).cast("long").as("top1_share_e6"),
          floor(col("top10_rev").cast("double") * 1e6 /
            col("trev").cast("double")).cast("long").as("top10_share_e6"),
          expr("p99_rev * 1000000 div greatest(p50_rev, 1L)")
            .as("p99_p50_ratio_e6"))
    }),

    // Referential-integrity (FK orphan) audit — the cross-table
    // data-quality gate q213's single-table constraints cannot see:
    // for every foreign-key edge of the star schema, how many child
    // rows point at a missing parent. Broadcast anti-joins against the
    // dim sides; the fact-fact edge (lineitem→orders) is the only
    // shuffle. Exact integer counts; one verdict row per edge.
    "q480_fk_integrity" -> ((s, d) => {
      def edge(name: String, child: DataFrame, key: String,
          parent: DataFrame, pkey: String, bcast: Boolean): DataFrame = {
        val p = parent.select(col(pkey).as(key)).distinct()
        val orphans = child.select(col(key))
          .join(if (bcast) broadcast(p) else p, Seq(key), "left_anti")
        child.agg(count(lit(1)).as("n_child"))
          .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
          .select(lit(name).as("fk_edge"), col("n_child"), col("n_orphans"),
            expr("n_orphans * 1000000 div n_child").as("orphan_e6"))
      }
      edge("orders->customer", t(s, d, "orders"), "o_custkey",
          t(s, d, "customer").select(col("c_custkey").as("o_custkey")),
          "o_custkey", bcast = true)
        .unionByName(edge("lineitem->orders", t(s, d, "lineitem"),
          "l_orderkey", t(s, d, "orders").select(col("o_orderkey")
            .as("l_orderkey")), "l_orderkey", bcast = false))
        .unionByName(edge("lineitem->part", t(s, d, "lineitem"),
          "l_partkey", t(s, d, "part").select(col("p_partkey")
            .as("l_partkey")), "l_partkey", bcast = true))
        .unionByName(edge("lineitem->supplier", t(s, d, "lineitem"),
          "l_suppkey", t(s, d, "supplier").select(col("s_suppkey")
            .as("l_suppkey")), "l_suppkey", bcast = true))
        .unionByName(edge("customer->nation", t(s, d, "customer"),
          "c_nationkey", t(s, d, "nation").select(col("n_nationkey")
            .as("c_nationkey")), "c_nationkey", bcast = true))
    }),

    // Key-continuity audit — are the surrogate id sequences dense?
    // Missing ids mean silently dropped ingestion batches; the audit
    // reports missing count and the largest gap for documents.doc_id
    // and orders.o_orderkey. Gaps via the two-phase globalRank +
    // consecutive self-join (window-free). Exact integers.
    "q481_id_continuity" -> ((s, d) => {
      def audit(name: String, df: DataFrame, key: String): DataFrame = {
        val ids = df.select(col(key).as("id")).distinct()
        val rk = graft.operators.Ranking.globalRank(ids, "r", col("id").asc)
          .persist() // both sides of the consecutive join read it
        val gaps = rk.select((col("r") + 1L).as("r"), col("id").as("prev"))
          .join(rk, "r")
          .agg(sum(when(col("id") - col("prev") > 1L, 1L).otherwise(0L))
            .as("n_gaps"),
            max(col("id") - col("prev") - 1L).as("max_gap"))
        ids.agg(count(lit(1)).as("n"), min("id").as("id_min"),
            max("id").as("id_max"))
          .crossJoin(gaps)
          .select(lit(name).as("sequence"), col("n"), col("id_min"),
            col("id_max"), (col("id_max") - col("id_min") + 1L - col("n"))
              .as("n_missing"),
            col("n_gaps"), col("max_gap"))
      }
      audit("documents.doc_id", t(s, d, "documents"), "doc_id")
        .unionByName(audit("orders.o_orderkey", t(s, d, "orders"),
          "o_orderkey"))
    }),

    // Small-files compaction planner — the OPTIMIZE planning step a
    // log-structured table (TxTable) runs before rewriting: pack the
    // per-day row counts into target-size files (2000 rows) by walking
    // the cumulative row line; a day joins the file its starting
    // offset falls in, so files land within one day's rows of target.
    // Exact: cum counts ride PrefixScan, the file id is one trunc-div.
    // Reports each planned file's day range, day count and rows — the
    // rewrite manifest. Scale: one scan + the two-phase prefix scan.
    "q473_compaction_planner" -> ((s, d) => {
      val daily = t(s, d, "events").select(
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("rows"))
      graft.operators.PrefixScan.scanLong(daily, "cb", "rows", "sum",
          inclusive = false, col("day"))
        .withColumn("file_id", expr("cb div 2000"))
        .groupBy("file_id")
        .agg(count(lit(1)).as("n_days"), sum("rows").as("n_rows"),
          min("day").as("day_lo"), max("day").as("day_hi"))
    }),

    // Zone-map (min/max) data-skipping audit — the measured version of
    // the layout decision every 100 TB table owner makes: split orders
    // into 64 contiguous row groups under three physical orders
    // (orderkey-sorted, custkey-sorted, Z-order interleaving BOTH keys
    // quantized to 8 bits) and count, over 16 equality probes per
    // dimension, the row groups a min/max zone map skips. Shows the
    // classic trade: single-key sort is perfect on its own key and
    // useless on the other; Z-order buys partial skipping on BOTH.
    // Exact: integer ranks (Ranking.globalRank), trunc-div group ids,
    // integer probes. Scale: three rank passes + bounded 64×16 frames.
    "q452_zonemap_skipping" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val nn = o.agg(count(lit(1)).as("n"), max("o_custkey").as("mc"),
        max("o_orderkey").as("mo"))
      def zones(name: String, df: DataFrame): DataFrame =
        graft.operators.Ranking.globalRank(
            df.select(col("o_orderkey"), col("o_custkey"), col("sk")),
            "r", col("sk").asc, col("o_orderkey").asc)
          .crossJoin(broadcast(nn))
          .withColumn("g", expr("(r - 1) * 64 div n"))
          .groupBy("g")
          .agg(min("o_custkey").as("minc"), max("o_custkey").as("maxc"),
            min("o_orderkey").as("mino"), max("o_orderkey").as("maxo"))
          .withColumn("layout", lit(name))
      val byKey = zones("bykey", o.withColumn("sk", col("o_orderkey")))
      val byCust = zones("bycust", o.withColumn("sk", col("o_custkey")))
      val byZ = zones("zorder", o.crossJoin(broadcast(nn))
        .withColumn("x", expr("o_custkey * 256 div (mc + 1)"))
        .withColumn("y", expr("o_orderkey * 256 div (mo + 1)"))
        .withColumn("sk", expr(
          """aggregate(sequence(0, 7), cast(0 as bigint), (acc, i) ->
               acc + shiftleft((shiftright(x, i) % 2), 2*i)
                   + shiftleft((shiftright(y, i) % 2), 2*i+1))"""))
        .select(col("o_orderkey"), col("o_custkey"), col("sk")))
      val probes = nn
        .select(explode(sequence(lit(0), lit(15))).as("i0"), col("mc"),
          col("mo"))
        .select(expr("cast(i0 as bigint) * (mc + 1) div 16").as("pc"),
          expr("cast(i0 as bigint) * (mo + 1) div 16").as("po"))
      byKey.unionByName(byCust).unionByName(byZ)
        .crossJoin(broadcast(probes))
        .groupBy("layout")
        .agg(count(lit(1)).as("cells"),
          sum(when(col("pc") < col("minc") || col("pc") > col("maxc"), 1L)
            .otherwise(0L)).as("skip_c"),
          sum(when(col("po") < col("mino") || col("po") > col("maxo"), 1L)
            .otherwise(0L)).as("skip_o"))
        .select(col("layout"), col("cells"), col("skip_c"), col("skip_o"),
          expr("skip_c * 1000000 div cells").as("skip_cust_e6"),
          expr("skip_o * 1000000 div cells").as("skip_key_e6"))
    }),

    // Bloom-filter false-positive audit — the measured-vs-predicted
    // check a 100 TB semi-join planner needs before trusting a filter
    // size: build a 4096-bit, k=3 Bloom over one segment's customer
    // keys, probe with every OTHER segment's keys (true non-members),
    // and compare the measured FP rate to the load-factor prediction
    // ρ³ (ρ = fraction of bits set — measured, so no e^{-kn/m}
    // transcendental is needed). Exact: bit positions are hash60 mods,
    // ρ³ a staged integer trunc-div. Scale: build = explode ×3 +
    // distinct (the set is m-bounded); probe = broadcast join of the
    // 4096-entry bit set.
    "q453_bloom_fpr" -> ((s, d) => {
      val cust = t(s, d, "customer").select(col("c_custkey"),
        col("c_mktsegment"))
      def positions(df: DataFrame): DataFrame = df
        .select(col("c_custkey"), explode(sequence(lit(0), lit(2))).as("j"))
        .select(col("c_custkey"), col("j"),
          (TextFunctions.hash60(concat(lit("bf"), col("j").cast("string"),
            lit(":"), col("c_custkey").cast("string"))) % 4096L).as("pos"))
      val members = cust.where(col("c_mktsegment") === "BUILDING")
      val bits = positions(members).select(col("pos")).distinct()
        .persist() // load factor + the probe join both read it
      val loadF = bits.agg(count(lit(1)).as("bits_set"))
      val probes = positions(cust.where(col("c_mktsegment") =!= "BUILDING"))
        .join(broadcast(bits.withColumn("hit", lit(1L))), Seq("pos"), "left")
        .na.fill(0L, Seq("hit"))
        .groupBy("c_custkey").agg(sum("hit").as("hits"))
      probes.agg(count(lit(1)).as("n_probes"),
          sum(when(col("hits") === 3L, 1L).otherwise(0L)).as("fp"))
        .crossJoin(broadcast(loadF))
        .select(col("n_probes"), col("fp"), col("bits_set"),
          expr("fp * 1000000 div n_probes").as("fpr_e6"),
          expr("bits_set * 1000000 div 4096").as("rho_e6"),
          expr("""((bits_set * 1000000 div 4096)
            * (bits_set * 1000000 div 4096) div 1000000)
            * (bits_set * 1000000 div 4096) div 1000000""")
            .as("pred_fpr_e6"))
    }),

    // Rendezvous (highest-random-weight) sharding audit (Thaler &
    // Ravishankar 1998) — the shard-assignment scheme whose resharding
    // cost a 100 TB store actually pays: each doc goes to the shard
    // with the highest hash60(doc:shard); growing 32 → 33 shards moves
    // EXACTLY the docs whose new shard wins (expected 1/33 — measured
    // here against that expectation, vs mod-hashing's ~97% reshuffle).
    // Also reports 32-shard occupancy spread. Exact: pure integer
    // hashes and counts. Scale: one scan × 33 (bounded explode), one
    // per-doc argmax aggregate, one shard-sized rollup.
    "q440_rendezvous_sharding" -> ((s, d) => {
      val h = t(s, d, "documents")
        .select(col("doc_id"), explode(sequence(lit(0), lit(32))).as("shi"))
        .select(col("doc_id"), col("shi").cast("long").as("sh"))
        .withColumn("hv", TextFunctions.hash60(concat(
          col("doc_id").cast("string"), lit(":"), col("sh").cast("string"))))
      h.groupBy("doc_id").agg(
          max(when(col("sh") < 32L,
            struct(col("hv"), (-col("sh")).as("ns")))).as("m32"),
          max(struct(col("hv"), (-col("sh")).as("ns"))).as("m33"))
        .select(col("doc_id"), (-col("m32.ns")).as("shard32"),
          (-col("m33.ns")).as("shard33"))
        .groupBy("shard32")
        .agg(count(lit(1)).as("n"),
          sum(when(col("shard32") =!= col("shard33"), 1L).otherwise(0L))
            .as("mv"))
        .agg(count(lit(1)).as("n_shards"), sum("n").as("n_docs"),
          sum("mv").as("n_moved"), min("n").as("min_shard_n"),
          max("n").as("max_shard_n"))
        .select(col("n_shards"), col("n_docs"), col("n_moved"),
          expr("n_moved * 1000000 div n_docs").as("moved_e6"),
          expr("cast(1000000 div 33 as bigint)").as("expected_e6"),
          col("min_shard_n"), col("max_shard_n"))
    }),

    // KMV (bottom-k / k-minimum-values) distinct sketch audit (Bar-
    // Yossef et al. 2002; the theta-sketch core): per source keep the
    // 32 smallest 60-bit token hashes and estimate the distinct
    // vocabulary as (k−1)·M / h₍ₖ₎ — the mergeable sketch a federated
    // 100 TB vocabulary count would ship instead of exact distincts.
    // Audited against the exact per-source distinct (signed e6 error).
    // Exact replay: hashes are integers; the estimate is ONE pinned
    // double chain ((k−1)·M is 5 significant bits — exactly
    // representable); sources with < 32 distinct tokens fall back to
    // the sketch's exact count. Scale: one scan + the TopKPerKey
    // bottom-k (map-side heap, no global sort).
    "q441_kmv_sketch" -> ((s, d) => {
      val th = t(s, d, "documents")
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .distinct()
        .select(col("source"), TextFunctions.hash60(col("tok")).as("hv"))
        .persist() // exact count + bottom-k both read it
      val exact = th.groupBy("source").agg(count(lit(1)).as("exact_distinct"))
      val kth = graft.plans.TopKPerKey(th, Seq("source"), Seq(col("hv").asc), 32)
        .groupBy("source").agg(max("hv").as("hk"), count(lit(1)).as("kk"))
      exact.join(kth, "source")
        .select(col("source"), col("exact_distinct"), col("kk"), col("hk"),
          when(col("kk") === 32L,
            floor((lit(31.0d) * lit(1152921504606846976.0d)) /
              col("hk").cast("double")).cast("long"))
            .otherwise(col("kk")).as("est_distinct"))
        .withColumn("err_e6",
          expr("(est_distinct - exact_distinct) * 1000000 div exact_distinct"))
    }),
    // SCD Type-2 dimension build — the warehouse-history classic the
    // MERGE/CDC family (q219/q245) was still missing: collapse each
    // user's ordered event stream into versioned attribute rows
    // (value, effective-from, effective-to, is_current), keeping a row
    // only where the tracked attribute CHANGES. Timestamps stay integer
    // epoch micros; eff_to is the NEXT version's eff_from (half-open
    // intervals, -1 sentinel for the open current row). Scale shape:
    // two keyed windows over (user_id) — lag to detect changes,
    // lead for the closing bound — and nothing global; the output is
    // the compressed history, ~#changes rows not #events.
    "q407_scd2_history" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("tm", "event_id")
      val ev = t(s, d, "events").select(col("user_id"),
        expr("unix_micros(ts)").as("tm"), col("event_id"), col("event_type"))
      val chg = ev.withColumn("prev", lag("event_type", 1).over(w))
        .where(col("prev").isNull || col("prev") =!= col("event_type"))
      val w2 = Window.partitionBy("user_id").orderBy("tm", "event_id")
      chg.withColumn("ver", row_number().over(w2).cast("long"))
        .withColumn("eff_to", coalesce(lead("tm", 1).over(w2), lit(-1L)))
        .select(col("user_id"), col("ver"), col("event_type"),
          col("tm").as("eff_from"), col("eff_to"),
          (col("eff_to") === -1L).as("is_current"))
    }),

    // Data-quality constraint verification in the Deequ shape (the
    // public Spark library's Check/VerificationSuite pattern): ONE scan
    // computes every metric in a single aggregate row — completeness,
    // uniqueness, range compliance, set containment, min bound, size —
    // then a stack() generator unpivots it into the per-constraint
    // verdict table a pipeline gates on. Metric units follow each
    // constraint (fractions in e6 micro-units, size/min raw). The exact
    // countDistinct is the oracle-parity choice; at 100 TB the HLL
    // sketch (q99) is the drop-in uniqueness metric.
    "q213_constraints" -> ((s, d) => {
      t(s, d, "documents").agg(
        count(lit(1)).as("n"),
        count(col("text")).as("n_text"),
        countDistinct(col("doc_id")).as("n_ids"),
        sum(when(col("n_chars").between(1L, 100000L), 1L).otherwise(0L))
          .as("n_chars_ok"),
        sum(when(col("lang").isin("en", "es", "fr", "de", "zh"), 1L)
          .otherwise(0L)).as("n_lang_ok"),
        min(col("n_chars")).as("min_chars"))
        .select(expr("""stack(6,
          'size_gte_100',         n,                           cast(n >= 100 as bigint),
          'completeness_text',    n_text * 1000000 div n,      cast(n_text = n as bigint),
          'uniqueness_doc_id',    n_ids * 1000000 div n,       cast(n_ids = n as bigint),
          'compliance_n_chars',   n_chars_ok * 1000000 div n,  cast(n_chars_ok = n as bigint),
          'containment_lang',     n_lang_ok * 1000000 div n,   cast(n_lang_ok * 100 >= n * 99 as bigint),
          'min_n_chars_positive', min_chars,                   cast(min_chars > 0 as bigint)
          ) as (check_name, metric, passed)"""))
    }),

    // Incremental aggregate maintenance (the materialized-view MERGE
    // shape, q128's upsert applied to rollups): a per-user aggregate
    // materialized over the base window is REFRESHED by merging a delta
    // batch's partial aggregate — full outer on the key, coalesce-summed
    // — instead of recomputing history. The ORACLE is the full recompute
    // over all events, so the check IS the IVM invariant
    // (merge(agg(base), agg(delta)) == agg(base ∪ delta)). Count and
    // integer-micro-unit sum are the self-maintainable aggregates; the
    // split day rides a 1-row broadcast. At 100 TB the base agg is a
    // stored table and only the delta shuffles — this query keeps both
    // sides' plans (two key-shuffles + merge) honest.
    // S7 made real: the log-structured transactional table (TxTable —
    // atomic commits, snapshot isolation, time travel, file-pruned MERGE,
    // OPTIMIZE) driven through its full lifecycle: two appends, a
    // copy-on-write upsert, a compaction — then EVERY version read back
    // via time travel and aggregated. The oracle derives each snapshot
    // directly from `orders`, so the check proves the log replay: a torn
    // commit, a mis-pruned merge, or a lossy compaction all break a row.
    // ACID edge cases (crash orphans, CAS conflicts, vacuum) are
    // spec-gated in TxTableSpec.
    "q245_txtable_lifecycle" -> ((s, d) => {
      import s.implicits._
      val dir = s"/root/repo/target/tmp/txtable_q245_sf${d.hashCode.abs}"
      def del(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles.foreach(del); p.delete()
      }
      del(new java.io.File(dir))
      val o = t(s, d, "orders").select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        (col("o_orderkey") % 10).as("r"))
      graft.sources.TxTable.append(o.where(col("r") <= 3).drop("r"), dir)
      graft.sources.TxTable.append(
        o.where(col("r").between(4, 7)).drop("r"), dir)
      graft.sources.TxTable.merge(s, dir,
        o.where(col("r") >= 6).select(col("k"),
          (col("cents") + 1L).as("cents")), Seq("k"))
      graft.sources.TxTable.compact(s, dir)
      (0L to 3L).map { v =>
        graft.sources.TxTable.read(s, dir, Some(v))
          .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
          .withColumn("version", lit(v))
      }.reduce(_ unionByName _)
        .select("version", "n_rows", "sum_cents")
    }),

    "q218_incremental_agg" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("user_id"),
        epochBucket("unix_micros(ts)", 86400000000L).as("day"),
        floor(col("value") * 1e6).cast("long").as("v_e6"))
      val split = ev.agg((min("day") + lit(5L)).as("cut"))
      val tagged = ev.crossJoin(broadcast(split)).persist()
      def agg(df: DataFrame) = df.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("v_e6").as("s"))
      val base = agg(tagged.where(col("day") < col("cut")))
        .withColumnRenamed("n", "n_b").withColumnRenamed("s", "s_b")
      val delta = agg(tagged.where(col("day") >= col("cut")))
        .withColumnRenamed("n", "n_d").withColumnRenamed("s", "s_d")
      base.join(delta, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L)))
            .as("n_events"),
          (coalesce(col("s_b"), lit(0L)) + coalesce(col("s_d"), lit(0L)))
            .as("sum_v_e6"))
    }),

    // Table reconciliation at scale (the anti-entropy / merkle shape
    // replication checkers use): compare two table versions by
    // per-bucket fingerprint summaries FIRST — count + sum of row
    // hashes per key-range bucket — then run the row-level full-outer
    // diff ONLY inside mismatched buckets (broadcast of the tiny
    // mismatch list). At 100 TB the bucket pass is a pair of cheap
    // aggregates and the expensive key-join touches only the drifted
    // slices. The second version is derived in-query by deterministic
    // mutations (delete / update / insert per key residue); the ORACLE
    // is the direct unpruned full diff, so the check proves the pruned
    // path loses nothing. Money is compared in integer cents (the q02
    // cross-engine rule); the row fingerprint is the hash60 of the
    // canonical field concat.
    "q219_table_reconcile" -> ((s, d) => {
      val base = t(s, d, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("st"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderpriority").as("pr")).persist()
      val mx = base.agg(max("k").as("mxk"))
      val v1 = base.where(col("k") % 1000 =!= 7)
        .withColumn("cents",
          when(col("k") % 1000 === 13, col("cents") + 1L).otherwise(col("cents")))
        .unionByName(base.where(col("k") % 1000 === 21)
          .crossJoin(broadcast(mx))
          .select((col("k") + col("mxk")).as("k"), col("st"), col("cents"),
            col("pr")))
      def fp(df: DataFrame) = df.select(col("k"),
        expr("k div 256").as("bkt"),
        TextFunctions.hash60(concat_ws("|", col("st"),
          col("cents").cast("string"), col("pr"))).as("h"))
      val f0 = fp(base).persist()
      val f1 = fp(v1).persist()
      // bit_xor, not sum: the fold over 60-bit hashes must be associative
      // AND overflow-free under ANSI arithmetic
      def summary(df: DataFrame) = df.groupBy("bkt")
        .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("hs"))
      val badBkts = summary(f0).toDF("bkt", "n0", "hs0")
        .join(summary(f1).toDF("bkt", "n1", "hs1"), Seq("bkt"), "full_outer")
        .where(col("n0").isNull || col("n1").isNull ||
          col("n0") =!= col("n1") || col("hs0") =!= col("hs1"))
        .select("bkt")
      val a = f0.join(broadcast(badBkts), Seq("bkt"))
        .select(col("k").as("k0"), col("h").as("h0"))
      val b = f1.join(broadcast(badBkts), Seq("bkt"))
        .select(col("k").as("k1"), col("h").as("h1"))
      a.join(b, col("k0") === col("k1"), "full_outer")
        .select(coalesce(col("k0"), col("k1")).as("o_orderkey"),
          when(col("k1").isNull, "deleted")
            .when(col("k0").isNull, "inserted")
            .when(col("h0") =!= col("h1"), "changed").as("status"))
        .where(col("status").isNotNull)
    }),

    // Statistical-disclosure-control release (the k-anonymity posture
    // any public release of the reference's mobility aggregates runs
    // through): per-cell distinct-user counts with small cells
    // SUPPRESSED (n < k → null + flag; k=50 sits inside this panel's
    // 42..67 cell range so both branches carry rows) and released
    // counts ROUNDED to
    // base 5 — primary suppression and controlled rounding, the two
    // standard SDC treatments. One keyed exact-distinct aggregate plus
    // map-side arithmetic; the release table is what crosses the trust
    // boundary, so the suppression must be in the engine, not the
    // presentation layer.
    "q221_sdc_release" -> ((s, d) => {
      t(s, d, "events")
        .select(col("event_type"),
          epochBucket("unix_micros(ts)", 86400000000L).as("day"),
          col("user_id"))
        .groupBy("event_type", "day")
        .agg(countDistinct("user_id").as("n_users"))
        .select(col("event_type"), col("day"),
          (col("n_users") < 50L).as("suppressed"),
          when(col("n_users") < 50L, lit(null).cast("long"))
            .otherwise(expr("(n_users + 2) div 5 * 5")).as("released"))
    }),

    // Differentially-private count release (Laplace mechanism, ε = 0.5,
    // sensitivity 1) — q221's suppression sibling for when the trust
    // model wants calibrated noise instead of cell suppression. The
    // Laplace draw is DETERMINISTIC per release cell: u comes from the
    // md5-based hash of a salted cell key (seeded DP — reproducible
    // releases, and the oracle replays the identical inverse-CDF chain
    // noise = −(1/ε)·sign(u−½)·ln(1−2|u−½|)). Everything is map-side
    // after one keyed count.
    "q289_dp_release" -> ((s, d) => {
      val h = TextFunctions.hash60(concat(lit("dp1|"), col("event_type")))
      val u = ((h % 1000000L).cast("double") + 0.5) / 1000000.0
      val noise = lit(-2.0) * signum(u - 0.5) *
        log(lit(1.0) - lit(2.0) * abs(u - 0.5))
      t(s, d, "events").groupBy("event_type")
        .agg(count(lit(1)).as("n_true"))
        .select(col("event_type"), col("n_true"),
          floor(noise * 1e6).cast("long").as("noise_e6"),
          (col("n_true") * 1000000L + floor(noise * 1e6).cast("long"))
            .as("released_e6"))
    }),

    // DAU/WAU stickiness: daily actives over trailing-7-day actives per
    // day — the engagement ratio product teams track. Reuses q138's
    // bounded slot-explode for the window distinct (each user-day feeds
    // at most 7 slots, never corpus-sized state) and joins the daily
    // distinct on the slot; ratio in integer micro-units. Output is
    // gated to slot >= mn+6 so every reported WAU window covers a FULL
    // 7 days — the panel's first 6 days have truncated windows that
    // would bias the ratio high.
    "q183_stickiness" -> ((s, d) => {
      val ud = t(s, d, "events")
        .select(col("user_id"),
          epochBucket("unix_micros(ts)", 86400000000L).as("day"))
        .distinct()
      val span = ud.agg(min("day").as("mn"), max("day").as("mx"))
      val wau = ud.crossJoin(broadcast(span))
        .select(col("user_id"), col("mn"),
          explode(sequence(col("day"),
            least(col("day") + 6, col("mx")))).as("slot"))
        .where(col("slot") >= col("mn") + 6)
        .groupBy("slot").agg(countDistinct("user_id").as("wau"))
      val dau = ud.groupBy(col("day").as("slot"))
        .agg(countDistinct("user_id").as("dau"))
      dau.join(wau, "slot")
        .select(col("slot").as("day"), col("dau"), col("wau"),
          expr("(dau * 1000000) div wau").as("stickiness_e6"))
    }),

    // Column profiling (the warehouse "ANALYZE TABLE" surface): one pass
    // computes n/nulls/min/max/exact-NDV per profiled column, unpivoted to
    // one row per column. Money columns profile in centi-units so min/max
    // are integers. NDV is exact count_distinct — at 100 TB swap in the
    // HLL sketch (q99) per column; the plan shape (single scan, partial
    // aggs) is the same.
    "q170_profile" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(
        col("l_quantity").cast("long").as("quantity"),
        floor(col("l_extendedprice") * 100).cast("long").as("price_e2"),
        floor(col("l_discount") * 100).cast("long").as("disc_e2"),
        col("l_orderkey").as("orderkey"))
      val cols = Seq("quantity", "price_e2", "disc_e2", "orderkey")
      val aggs = cols.flatMap { c =>
        Seq(count(col(c)).as(s"${c}_n"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
          min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
          countDistinct(col(c)).as(s"${c}_ndv"))
      }
      val one = li.agg(aggs.head, aggs.tail: _*)
      val rows = cols.map { c =>
        struct(lit(c).as("column"), col(s"${c}_n").as("n"),
          col(s"${c}_nulls").as("n_nulls"), col(s"${c}_min").as("min_v"),
          col(s"${c}_max").as("max_v"), col(s"${c}_ndv").as("ndv"))
      }
      one.select(explode(array(rows: _*)).as("p")).select("p.*")
    }),

    // Native session windows (Spark's session_window, the batch twin of
    // the Structured Streaming session operator): per-user events gapped
    // by MORE than 30 min start a new session (an exact-gap event still
    // merges — verified empirically, and the oracle mirrors `>` not
    // `>=`); a session's end is last event + gap. One shuffle on the grouping key; Spark merges overlapping
    // per-event windows with its dedicated session-window exec, no
    // quadratic self-join. q66 builds the same sessions by hand
    // (lag + cumsum) — this is the operator form.
    "q123_session_window" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), min("event_id").as("first_event"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("s_start"),
          unix_micros(col("session_window.end")).as("s_end"),
          col("n_events"), col("first_event"))
    }),

    // Calendar scaffolding / gap fill: per-user daily counts with missing
    // days materialized as zero rows — the step every per-day index or
    // retention series needs before a rolling window (a window over a
    // gappy series silently spans the holes). The scaffold is generated
    // per key with sequence+explode (rows ∝ users × span, no driver
    // loop, no cross join against a global calendar).
    "q124_gapfill" -> ((s, d) => {
      val counts = t(s, d, "events")
        .select(col("user_id"),
          epochBucket("unix_micros(ts)", 86400000000L).as("day"))
        .groupBy("user_id", "day").agg(count(lit(1)).as("n"))
      val scaffold = counts.groupBy("user_id")
        .agg(min("day").as("mn"), max("day").as("mx"))
        .select(col("user_id"), explode(sequence(col("mn"), col("mx"))).as("day"))
      scaffold.join(counts, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
    }),

    // Forward fill (last observation carried forward): treat click events'
    // value as missing and carry the previous non-null value per user in
    // (t, event_id) order — the unique tie-break makes the fill
    // deterministic, and the carried doubles are MOVED, never recomputed,
    // so parity is bit-exact. One shuffle on user_id; running-frame
    // window, no self-join.
    "q125_forward_fill" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"),
          when(col("event_type") =!= "click", col("value")).as("v"))
        .withColumn("v_filled", last("v", ignoreNulls = true).over(w))
        .select(col("user_id"), col("event_id"), col("t"), col("v_filled"))
    }),

    // Linear interpolation of missing days (the fill between q124's
    // zero-fill and q125's carry-forward): per user's daily value-sum
    // series, a missing day gets the exact integer linear blend of the
    // PREVIOUS and NEXT observed days — v_prev + (v_next - v_prev) *
    // (d - d_prev) div (d_next - d_prev), every term integer, so both
    // engines land the same micro-unit. Neighbors come from two keyed
    // running windows (last/first ignoreNulls), no self-join; scaffold
    // ends are always observed so no extrapolation case exists.
    "q240_interpolate" -> ((s, d) => {
      val daily = t(s, d, "events")
        .select(col("user_id"),
          epochBucket("unix_micros(ts)", 86400000000L).as("day"),
          floor(col("value") * 1e6).cast("long").as("v_e6"))
        .groupBy("user_id", "day").agg(sum("v_e6").as("v"))
        // thin the series so gaps exist to interpolate: keep even days
        .where(col("day") % 2L === 0L)
        .persist()
      val scaffold = daily.groupBy("user_id")
        .agg(min("day").as("mn"), max("day").as("mx"))
        .select(col("user_id"), explode(sequence(col("mn"), col("mx"))).as("day"))
      val joined = scaffold.join(daily, Seq("user_id", "day"), "left")
      val back = Window.partitionBy("user_id").orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // next-neighbor pass on the REVERSED sort with a running frame —
      // a currentRow→unboundedFollowing frame is recomputed per row in
      // WindowExec (the q311 O(n²) lesson); same values by symmetry
      val fwdR = Window.partitionBy("user_id").orderBy(col("day").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      joined
        .withColumn("v_prev", last("v", ignoreNulls = true).over(back))
        .withColumn("d_prev",
          last(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(back))
        .withColumn("v_next", last("v", ignoreNulls = true).over(fwdR))
        .withColumn("d_next",
          last(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(fwdR))
        .select(col("user_id"), col("day"),
          col("v").isNotNull.as("observed"),
          coalesce(col("v"), expr(
            "v_prev + (v_next - v_prev) * (day - d_prev) div (d_next - d_prev)"))
            .as("v_e6"))
    }),

    // Seasonal-naive forecast backtest — forecast(d) = actual(d - 7),
    // the baseline every real forecast must beat, scored by MAE per
    // series: daily totals self-joined on (event_type, day - 7) (an
    // equi-join, gap-safe where a row-lag would misalign), absolute
    // errors in integer micro-units, one trunc div per series.
    "q241_snaive_backtest" -> ((s, d) => {
      val daily = t(s, d, "events")
        .select(col("event_type"),
          epochBucket("unix_micros(ts)", 86400000000L).as("day"),
          floor(col("value") * 1e6).cast("long").as("v_e6"))
        .groupBy("event_type", "day").agg(sum("v_e6").as("v"))
        .persist()
      val fc = daily.select(col("event_type"),
        (col("day") + 7L).as("day"), col("v").as("v_hat"))
      daily.join(fc, Seq("event_type", "day"))
        .select(col("event_type"), abs(col("v") - col("v_hat")).as("ae"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          expr("sum(ae) div count(1)").as("mae_e6"))
    }),

    // MERGE-style upsert (Delta MERGE re-expressed as a plan): target
    // full-outer-joined with an updates frame on the key; matched rows
    // take the update, unmatched updates insert, unmatched target rows
    // pass through. The updates here are derived deterministically from
    // the same table so the oracle can replay them. Equi-join on the
    // merge key — broadcastable when updates are small, AQE-sized
    // otherwise.
    "q128_merge_upsert" -> ((s, d) => {
      val target = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val updates = t(s, d, "customer").where(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 100.0).as("u_bal"))
        .unionAll(t(s, d, "customer").where(col("c_custkey") % 97 === 0)
          .select((col("c_custkey") + 10000000L).as("c_custkey"),
            col("c_acctbal").as("u_bal")))
      target.join(updates, Seq("c_custkey"), "full_outer")
        .select(col("c_custkey"),
          coalesce(col("c_name"), lit("(new)")).as("name"),
          coalesce(col("u_bal"), col("c_acctbal")).as("balance"),
          when(col("c_name").isNull, lit("inserted"))
            .when(col("u_bal").isNull, lit("unchanged"))
            .otherwise(lit("updated")).as("change_type"))
    }),

    // CDC snapshot diff: two snapshots of a table full-outer-joined on the
    // key, rows classified added/removed/changed (unchanged rows are
    // dropped — at 100 TB the diff is the small output, the join is the
    // work). The "after" snapshot is derived deterministically: every
    // 11th key deleted, every 3rd price bumped, every 13th key re-added
    // under a new id.
    "q129_snapshot_diff" -> ((s, d) => {
      val before = t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val after = t(s, d, "orders").where(col("o_orderkey") % 11 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")).as("p_after"))
        .unionAll(t(s, d, "orders").where(col("o_orderkey") % 13 === 0)
          .select((col("o_orderkey") + 50000000L).as("o_orderkey"),
            col("o_totalprice").as("p_after")))
      before.join(after, Seq("o_orderkey"), "full_outer")
        .withColumn("change_type",
          when(col("o_totalprice").isNull, lit("added"))
            .when(col("p_after").isNull, lit("removed"))
            .when(col("o_totalprice") =!= col("p_after"), lit("changed"))
            .otherwise(lit("unchanged")))
        .where(col("change_type") =!= "unchanged")
        .select(col("o_orderkey"), col("o_totalprice").as("price_before"),
          col("p_after").as("price_after"), col("change_type"))
    }),

    // GROUPING SETS with grouping_id — the explicit-sets cousin of q34's
    // rollup / q87's cube: arbitrary aggregation levels in ONE pass over
    // the fact (Spark expands to a union-free Expand node, one shuffle).
    "q130_grouping_sets" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("graft_l_gs")
      s.sql("""SELECT l_returnflag, l_linestatus,
                 CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                 sum(l_quantity) AS sum_qty, count(*) AS n
               FROM graft_l_gs
               GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                       (l_returnflag), ())""")
    }),

    // SCD2 history build from a change stream: keep only rows whose value
    // DIFFERS from the user's previous row (IS DISTINCT FROM, so null
    // transitions count as changes; a user's first row always opens a
    // version), then close each version with the next version's start.
    // Two window passes over ONE shuffle+sort on (user_id; t, event_id) —
    // Spark reuses the sort, no self-join, and versions-per-user state is
    // never materialized beyond the window frame.
    "q135_scd2" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
      val versions = t(s, d, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("t"), col("value"))
        .withColumn("prev_v", lag("value", 1).over(w))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1 || !(col("value") <=> col("prev_v")))
      versions
        .withColumn("valid_to", lead("t", 1).over(w))
        .select(col("user_id"), col("event_id"), col("t").as("valid_from"),
          col("valid_to"), col("valid_to").isNull.as("is_current"), col("value"))
    }),

    // Point-in-time (AS OF) dimension join — what q135's SCD2 history is
    // FOR: each purchase fact picks up the dimension version that was
    // valid at its timestamp. Versions build from the user's CLICK value
    // changes (q135's two-window pass); the temporal probe is an
    // equi-join on user_id plus the half-open validity predicate, so the
    // shuffle is keyed and per-user version fan-in is bounded by change
    // count — never a range-shuffle. Purchases before any click survive
    // with a NULL dimension (left join): silent fact loss is the classic
    // PIT-join bug.
    "q269_pit_join" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
      val clicks = t(s, d, "events").where(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("t"),
          floor(col("value") * 100).cast("long").as("v_e2"))
      val versions = clicks
        .withColumn("prev_v", lag("v_e2", 1).over(w))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1 || !(col("v_e2") <=> col("prev_v")))
        .withColumn("valid_to", lead("t", 1).over(
          Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))))
        .select(col("user_id"), col("t").as("valid_from"), col("valid_to"),
          col("v_e2").as("dim_v_e2"))
      val purchases = t(s, d, "events").where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"),
          unix_micros(col("ts")).as("pt"))
      purchases.join(versions,
          purchases("user_id") === versions("user_id") &&
            col("valid_from") <= col("pt") &&
            (col("valid_to").isNull || col("pt") < col("valid_to")), "left")
        .select(col("pid"), purchases("user_id").as("user_id"), col("pt"),
          col("dim_v_e2"), col("dim_v_e2").isNotNull.as("matched"))
    }),

    // Correlated EXISTS / NOT EXISTS subqueries — the SQL-surface form of
    // semi/anti joins. Catalyst decorrelates both into joins (the plan
    // should carry LeftSemi and LeftAnti, never a per-row subquery loop),
    // so the 100 TB story is the same as q07/q06.
    "q143_exists_subquery" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("graft_c_ex")
      t(s, d, "orders").createOrReplaceTempView("graft_o_ex")
      s.sql("""SELECT c_mktsegment,
                 count(*) AS n_customers,
                 count(CASE WHEN has_urgent THEN 1 END) AS n_with_urgent
               FROM (
                 SELECT c.c_mktsegment,
                   EXISTS (SELECT 1 FROM graft_o_ex o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT') AS has_urgent
                 FROM graft_c_ex c
                 WHERE NOT EXISTS (SELECT 1 FROM graft_o_ex o2
                                   WHERE o2.o_custkey = c.c_custkey
                                     AND o2.o_orderstatus = 'F'))
               GROUP BY c_mktsegment""")
    }),

    // LATERAL correlated subquery — SQL's per-row "top-1 related row"
    // idiom. Catalyst plans the correlated aggregate as a join, not a
    // per-row re-scan; the DataFrame twin is the argmax shape (q13).
    "q144_lateral" -> ((s, d) => {
      t(s, d, "nation").createOrReplaceTempView("graft_n_lat")
      t(s, d, "customer").createOrReplaceTempView("graft_c_lat")
      s.sql("""SELECT n.n_name, t.top_bal, t.n_cust
               FROM graft_n_lat n,
               LATERAL (SELECT max(c_acctbal) AS top_bal,
                               count(*) AS n_cust
                        FROM graft_c_lat c
                        WHERE c.c_nationkey = n.n_nationkey) t""")
    }),

    // Unpivot (melt): wide measure columns to long (measure, value) rows —
    // the reshape every per-metric pipeline does before a generic groupBy
    // over metric name. Spark's native unpivot is a Generate (map-side,
    // no shuffle); value columns must share a type.
    "q137_unpivot" -> ((s, d) => {
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "value")
    }),

    // Sliding-window count-distinct: distinct active users over the
    // trailing 7 days, per day. Window functions cannot COUNT DISTINCT
    // over a frame, so the scalable form is: dedup to (user, day) grain,
    // expand each user-day into the <= 7 day-slots it contributes to
    // (map-side generator, bounded 7x fan-out), then an exact distinct
    // count per slot — shuffles scale with user-days, never user-pairs.
    "q138_sliding_distinct" -> ((s, d) => {
      val ud = t(s, d, "events")
        .select(col("user_id"),
          epochBucket("unix_micros(ts)", 86400000000L).as("day"))
        .distinct()
      val span = ud.agg(min("day").as("mn"), max("day").as("mx"))
      ud.crossJoin(broadcast(span))
        .select(col("user_id"),
          explode(sequence(greatest(col("day"), col("mn")),
            least(col("day") + 6, col("mx")))).as("slot"))
        .groupBy("slot")
        .agg(countDistinct("user_id").as("n_active_7d"))
    }),

    // Schema-evolution read: two parquet generations with different
    // schemas under one root (gen=1 lacks n_regionkey), read back with
    // mergeSchema + hive partition discovery — the "old files never get
    // rewritten" contract a 100 TB table lives by. Missing columns
    // surface as NULL, the partition column comes from the path.
    "q131_schema_evolution" -> ((s, d) => {
      val root = "/root/repo/target/tmp/evolve_parquet"
      val nation = t(s, d, "nation")
      nation.select(col("n_nationkey"), col("n_name"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/gen=1")
      nation.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/gen=2")
      s.read.option("mergeSchema", "true").parquet(root)
        .select(col("gen").cast("long").as("gen"),
          col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
    }),

    // Largest-remainder (Hare quota) proportional allocation: split a
    // fixed budget of B=1000 sample slots across nations exactly
    // proportionally to their customer populations — the exact
    // stratified allocator (q108's hash split hits strata only in
    // expectation; this hits Σalloc = B exactly). base = (c·B) div tot;
    // the B − Σbase leftover slots go to the largest integer remainders
    // (ties by nation key). Exact integers end-to-end. Scale shape: one
    // corpus groupBy; everything after runs on the #strata-row frame —
    // the remainder-rank window is a deliberately bounded single
    // partition (dozens of rows), the Mixture convention.
    "q322_quota_split" -> ((s, d) => {
      val b = 1000L
      val counts = t(s, d, "customer")
        .groupBy(col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("c"))
      val tot = counts.agg(sum("c").as("tot"))
      val withBase = counts.crossJoin(broadcast(tot))
        .withColumn("base", expr(s"(c * ${b}L) div tot"))
        .withColumn("rem", expr(s"(c * ${b}L) % tot"))
      val left = withBase.agg((lit(b) - sum("base")).as("l"))
      val w = Window.orderBy(desc("rem"), asc("nation"))
      withBase.crossJoin(broadcast(left))
        .withColumn("rr", row_number().over(w).cast("long"))
        .select(col("nation"), col("c"), col("base"), col("rem"),
          (col("base") + when(col("rr") <= col("l"), 1L).otherwise(0L))
            .as("alloc"))
    }),

    // k-anonymity audit over the quasi-identifier (nation, market
    // segment, balance band): group sizes k, the re-identification risk
    // 1/k, and the suppression verdict for k < 5 — the privacy gate a
    // release pipeline runs before q221's cell suppression and q289's
    // DP noise. Exact integers (risk as a trunc e6 division). Scale
    // shape: one hash groupBy on the QI tuple; group count is bounded
    // by the QI domain, not rows.
    "q323_k_anonymity" -> ((s, d) => {
      t(s, d, "customer")
        .select(col("c_nationkey").as("nation"), col("c_mktsegment").as("segment"),
          floor(col("c_acctbal") / 2000.0).cast("long").as("bal_band"))
        .groupBy("nation", "segment", "bal_band")
        .agg(count(lit(1)).as("k"))
        .select(col("nation"), col("segment"), col("bal_band"), col("k"),
          expr("1000000 div k").as("risk_e6"),
          (col("k") < 5L).as("suppressed"))
    }),

    // l-diversity audit — k-anonymity's necessary refinement (Machanavajjhala
    // et al. 2007): a group can be k-large yet reveal everyone's sensitive
    // value if it is homogeneous. QI = (nation, balance band); sensitive =
    // market segment; l = distinct sensitive values per group, diverse at
    // l ≥ 3. Same bounded QI-domain groupBy as q323.
    "q379_l_diversity" -> ((s, d) => {
      t(s, d, "customer")
        .select(col("c_nationkey").as("nation"),
          floor(col("c_acctbal") / 2000.0).cast("long").as("bal_band"),
          col("c_mktsegment").as("segment"))
        .groupBy("nation", "bal_band")
        .agg(count(lit(1)).as("k"), countDistinct("segment").as("l"))
        .select(col("nation"), col("bal_band"), col("k"), col("l"),
          (col("l") >= 3L).as("l_diverse"))
    }),

    // t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    // rung of the release-audit ladder after q323 k-anonymity and q379
    // l-diversity: a group can be k-large AND l-diverse yet still leak
    // if its sensitive-value DISTRIBUTION diverges from the table's.
    // For the categorical sensitive attribute (mktsegment) the EMD
    // reduces to total-variation distance, which is exact integer:
    // tvd = Σ_s |c_gs·N − c_s·N_g| / (2·N_g·N), e6-scaled with one trunc
    // div per group (int64-safe while N_g·N ≤ 9.2e12; beyond, per-side
    // e6 shares). Zero cells count (the |0 − p_s| term), so the group
    // grid crosses the bounded segment domain. Scale shape: two keyed
    // groupBys + a bounded segment×total broadcast; one row per group.
    "q397_t_closeness" -> ((s, d) => {
      val base = t(s, d, "customer").select(col("c_nationkey").as("nation"),
        floor(col("c_acctbal") / 2000.0).cast("long").as("bal_band"),
        col("c_mktsegment").as("segment"))
      val cell = base.groupBy("nation", "bal_band", "segment")
        .agg(count(lit(1)).as("c_gs"))
      val grp = base.groupBy("nation", "bal_band").agg(count(lit(1)).as("n_g"))
      val seg = base.groupBy("segment").agg(count(lit(1)).as("c_s"))
      val tot = base.agg(count(lit(1)).as("n"))
      grp.crossJoin(broadcast(seg)).crossJoin(broadcast(tot))
        .join(cell, Seq("nation", "bal_band", "segment"), "left")
        .withColumn("c_gs", coalesce(col("c_gs"), lit(0L)))
        .groupBy("nation", "bal_band", "n_g", "n")
        .agg(sum(abs(col("c_gs") * col("n") - col("c_s") * col("n_g")))
          .as("num"))
        .select(col("nation"), col("bal_band"), col("n_g").as("k"),
          expr("num * 1000000 div (2 * n_g * n)").as("tvd_e6"))
        .withColumn("t_close", col("tvd_e6") <= 200000L)
    }),

    // Columnar encoding cost model: delta + zigzag + varint size of each
    // event_type's value stream in the (ts, event_id) total order — the
    // what-if a storage engine answers before picking an encoding
    // (Parquet DELTA_BINARY_PACKED's cousin, sized in exact bytes).
    // zigzag(d) = 2d for d ≥ 0 else −2d−1 maps small signed deltas to
    // small unsigned ints; varint bytes follow the 7-bit-per-byte CASE
    // ladder. Everything is integer CASE arithmetic — cross-engine
    // exact, no floats. Scale shape: event_type has ~10 values, so a
    // lag-over-partitionBy(event_type) window would stream the whole
    // fact table through ~10 tasks; the keyed distributed lag
    // (PrefixScan.lagLongKeyed) range-sorts by (type, ts, event_id)
    // and carries each type's boundary value between partitions —
    // the same per-row-group locality a real columnar encoder has.
    "q329_delta_encoding" -> ((s, d) => {
      val vz = graft.operators.PrefixScan.lagLongKeyed(
          t(s, d, "events")
            .select(col("event_type"), col("ts"), col("event_id"),
              floor(col("value") * 100).cast("long").as("v")),
          "v_prev", "v", Seq("event_type"), asc("ts"), asc("event_id"))
        .withColumn("delta", coalesce(col("v") - col("v_prev"), col("v")))
        .withColumn("z", when(col("delta") >= 0, col("delta") * 2)
          .otherwise(-col("delta") * 2 - 1))
        .withColumn("vb",
          when(col("z") < 128L, 1L)
            .when(col("z") < 16384L, 2L)
            .when(col("z") < 2097152L, 3L)
            .when(col("z") < 268435456L, 4L)
            .when(col("z") < 34359738368L, 5L)
            .otherwise(10L))
      vz.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (count(lit(1)) * 8L).as("raw_bytes"),
          sum("vb").as("varint_bytes"))
        .select(col("event_type"), col("n"), col("raw_bytes"),
          col("varint_bytes"),
          expr("((raw_bytes - varint_bytes) * 1000000) div raw_bytes")
            .as("savings_e6"))
    }),

    // Zone-map data skipping made PHYSICAL (the engine-level successor
    // of q452's simulated audit): ingest lineitem into a TxTable in
    // four contiguous key-range appends — the arrival-order layout a
    // real ingest produces — then read through `readWhere`, whose
    // predicate GraftFileIndex evaluates at planning time against the
    // recorded per-file min/max sidecars, scanning ONLY files that can
    // match (here: 1 of 4; TxStatsSpec pins the pruning soundness
    // property). At 100 TB this is the difference between scanning the
    // table and scanning the slice — O(files) metadata, zero data IO,
    // before any task launches. The oracle replays the filter over the
    // raw parquet, so a mis-pruned file breaks the hash.
    "q549_stats_skipping" -> ((s, d) => {
      val dir = s"/root/repo/target/tmp/txtable_q549_sf${d.hashCode.abs}"
      def del(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles.foreach(del); p.delete()
      }
      del(new java.io.File(dir))
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        col("l_quantity"), col("l_returnflag"), col("l_extendedprice"))
      val mo = li.agg(max("l_orderkey")).collect()(0).getLong(0) // 1 value
      (0L until 4L).foreach { i =>
        val lo = // first chunk is unbounded below (keys may start at 0)
          if (i == 0L) lit(true) else col("l_orderkey") > lit(mo * i / 4L)
        graft.sources.TxTable.append(
          li.where(lo && col("l_orderkey") <= lit(mo * (i + 1) / 4L)), dir)
      }
      graft.sources.TxTable.readWhere(s, dir,
          col("l_orderkey") <= lit(mo / 4L) && col("l_returnflag") === "R")
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("l_extendedprice") * 100).cast("long"))
            .as("sum_price_cents"),
          sum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
          min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key"))
    }),

    // OPTIMIZE ... ZORDER BY, end to end (the layout half of skipping;
    // ref's pipelines lean on Delta OPTIMIZE, `gps-analytics/src/
    // pipeline/tz_offset.scala:32-70`): append events in arrival order,
    // rewrite the table in Morton order over (user_id, value) quantile
    // buckets into 16 range-partitioned files, then answer one probe on
    // EACH dimension through the stats-pruned read path — the property
    // a single-key sort cannot provide (ZOrderSpec pins the both-
    // dimensions pruning; this row pins the data contract end to end).
    "q550_zorder_clustering" -> ((s, d) => {
      val dir = s"/root/repo/target/tmp/txtable_q550_sf${d.hashCode.abs}"
      def del(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles.foreach(del); p.delete()
      }
      del(new java.io.File(dir))
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        col("value"))
      graft.sources.TxTable.append(ev, dir)
      graft.sources.TxTable.compact(s, dir, targetFiles = 16,
        zorderBy = Seq("user_id", "value"))
      val mu = ev.agg(max("user_id")).collect()(0).getLong(0) // 1 value
      def probe(name: String, pred: Column): DataFrame =
        graft.sources.TxTable.readWhere(s, dir, pred)
          .agg(count(lit(1)).as("n_rows"), sum("event_id").as("sum_eid"),
            sum(floor(col("value") * 1000000).cast("long")).as("sum_ve6"))
          .withColumn("dim", lit(name))
      probe("by_user", col("user_id") <= lit(mu / 8L))
        .unionByName(probe("by_value",
          col("value") >= 100.0 && col("value") < 200.0))
        .select("dim", "n_rows", "sum_eid", "sum_ve6")
    }),

    // Per-file BLOOM skipping (Delta's Bloom index shape) — the
    // point-lookup case zone maps cannot serve: events ingested in four
    // id-interleaved appends (every file spans ~the whole event_id
    // range, so min/max pruning keeps all of them) with a Bloom on the
    // key; a lookup of an EXISTING id reads ~1 file, a lookup of an
    // ABSENT id reads zero (no false negatives, so pruning on a
    // negative is sound — FileBloomSpec pins it against brute force).
    // The provenance query this models — find ONE document in a 100 TB
    // corpus by id — is O(1 file) instead of O(table).
    "q551_bloom_skipping" -> ((s, d) => {
      val dir = s"/root/repo/target/tmp/txtable_q551_sf${d.hashCode.abs}"
      def del(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles.foreach(del); p.delete()
      }
      del(new java.io.File(dir))
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        floor(col("value") * 100).cast("long").as("v_e2"))
      (0L until 4L).foreach { r =>
        graft.sources.TxTable.append(ev.where(pmod(col("event_id"), lit(4L)) === r),
          dir, bloomFor = Seq("event_id"))
      }
      val me = ev.agg(max("event_id")).collect()(0).getLong(0) // 1 value
      def probe(name: String, id: Long): DataFrame =
        graft.sources.TxTable.readWhere(s, dir, col("event_id") === lit(id))
          .agg(count(lit(1)).as("n_rows"), sum("user_id").as("sum_uid"),
            sum("v_e2").as("sum_ve2"))
          .withColumn("probe", lit(name))
      probe("present", me).unionByName(probe("absent", me + 12345L))
        .select("probe", "n_rows", "sum_uid", "sum_ve2")
    }),

    // Change data feed (Delta CDF shape) — incremental consumption:
    // drive a TxTable through append / append / MERGE / overwrite /
    // ZORDER-compact, then read the NET row-level delta of every
    // commit (insert|delete per row; updates surface as their
    // delete+insert pair; layout-only commits produce nothing) and
    // aggregate per (version, change_type). The oracle derives each
    // commit's expected delta directly from `orders`, so a feed that
    // leaks a carried-over MERGE row, misses an overwrite cancellation,
    // or lets a compaction fabricate changes breaks the hash. At
    // 100 TB the feed reads only each commit's touched files — a
    // downstream consumer applies O(delta), never O(table)
    // (TxChangesSpec pins the apply-commit-by-commit invariant).
    "q552_change_data_feed" -> ((s, d) => {
      val dir = s"/root/repo/target/tmp/txtable_q552_sf${d.hashCode.abs}"
      def del(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles.foreach(del); p.delete()
      }
      del(new java.io.File(dir))
      val o = t(s, d, "orders").select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        (col("o_orderkey") % 10).as("r"))
      graft.sources.TxTable.append(o.where(col("r") <= 3).drop("r"), dir)
      graft.sources.TxTable.append(
        o.where(col("r").between(4, 7)).drop("r"), dir)
      graft.sources.TxTable.merge(s, dir,
        o.where(col("r") >= 6).select(col("k"),
          (col("cents") + 1L).as("cents")), Seq("k"))
      graft.sources.TxTable.overwrite(o.where(col("r") <= 1).drop("r"), dir)
      graft.sources.TxTable.compact(s, dir, targetFiles = 1,
        zorderBy = Seq("k"))
      graft.sources.TxTable.readChanges(s, dir, -1L)
        .groupBy("_commit_version", "_change_type")
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
        .select(col("_commit_version").as("version"),
          col("_change_type").as("change_type"),
          col("n_rows"), col("sum_cents"))
    }),

    // Copy-on-write DELETE + UPDATE (the DML half of S7, file-pruned
    // through the zone maps): delete one residue class, update another
    // in place, then pin BOTH the final snapshot and each commit's CDF
    // delta — a delete that leaks a row, an update that touches a
    // non-matching row, or a rewrite that loses a carried row all break
    // the hash. At 100 TB the write cost is O(files that may match) —
    // the GDPR-delete shape (TxDmlSpec pins the 1-of-3-files rewrite).
    "q553_delete_update" -> ((s, d) => {
      val dir = s"/root/repo/target/tmp/txtable_q553_sf${d.hashCode.abs}"
      def del(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles.foreach(del); p.delete()
      }
      del(new java.io.File(dir))
      val o = t(s, d, "orders").select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        (col("o_orderkey") % 10).as("r"))
      graft.sources.TxTable.append(o, dir) // v0
      graft.sources.TxTable.delete(s, dir, col("r") === 5L) // v1
      graft.sources.TxTable.update(s, dir, col("r") === 7L,
        Map("cents" -> (col("cents") + 10L))) // v2
      val feed = graft.sources.TxTable.readChanges(s, dir, 0L)
        .groupBy("_commit_version", "_change_type")
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
        .select(col("_commit_version").as("version"),
          col("_change_type").as("change_type"),
          col("n_rows"), col("sum_cents"))
      val fin = graft.sources.TxTable.read(s, dir)
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
        .select(lit(99L).as("version"), lit("snapshot").as("change_type"),
          col("n_rows"), col("sum_cents"))
      feed.unionByName(fin)
    }),

    // CDF-driven incremental replication (TxSync): drive a source table
    // through append/append, sync, then MERGE/DELETE/UPDATE/ZORDER,
    // sync again — the REPLICA is read back and must equal the
    // SQL-derived source state exactly, and the second sync must have
    // applied exactly the 4 pending commits (the layout-only ZORDER
    // rides the feed as an empty apply). The 100 TB shape this pins:
    // a downstream copy stays current by applying each commit's net
    // delta with file-pruned writes — never by rescanning the source
    // (TxSyncSpec pins idempotence, resume, and target file pruning).
    "q554_incremental_replication" -> ((s, d) => {
      val srcDir = s"/root/repo/target/tmp/txtable_q554s_sf${d.hashCode.abs}"
      val dstDir = s"/root/repo/target/tmp/txtable_q554d_sf${d.hashCode.abs}"
      def del(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles.foreach(del); p.delete()
      }
      del(new java.io.File(srcDir)); del(new java.io.File(dstDir))
      val o = t(s, d, "orders").select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        (col("o_orderkey") % 10).as("r"))
      graft.sources.TxTable.append(o.where(col("r") <= 4), srcDir) // v0
      graft.sources.TxTable.append(o.where(col("r") >= 5), srcDir) // v1
      graft.sources.TxSync.replicate(s, srcDir, dstDir, Seq("k"))
      graft.sources.TxTable.merge(s, srcDir,
        o.where(col("r") >= 8).select(col("k"),
          (col("cents") + 1L).as("cents"), col("r")), Seq("k")) // v2
      graft.sources.TxTable.delete(s, srcDir, col("r") === 0L) // v3
      graft.sources.TxTable.update(s, srcDir, col("r") === 3L,
        Map("cents" -> (col("cents") + 5L))) // v4
      graft.sources.TxTable.compact(s, srcDir, targetFiles = 1,
        zorderBy = Seq("k")) // v5: layout-only, empty feed
      val applied = graft.sources.TxSync.replicate(s, srcDir, dstDir, Seq("k"))
      graft.sources.TxTable.read(s, dstDir)
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
        .withColumn("applied_commits", lit(applied))
        .select("n_rows", "sum_cents", "applied_commits")
    }),

    // The transactional table as a Spark CONNECTOR (`format("graft")`,
    // GraftDataSource): ingest events through the standard
    // DataFrameWriter in four key-range appends, then answer two reads
    // through the standard DataFrameReader — a filtered read whose WHERE
    // reaches `GraftFileIndex.listFiles` at planning time and prunes
    // files through the zone maps (GraftConnectorSpec pins numFiles=1),
    // and a `versionAsOf` time-travel read of the first commit. This is
    // the entry point a reference user migrating `spark.read
    // .format("delta")` actually types; the oracle replays both reads
    // from the raw table, so a mis-pruned or mis-versioned file breaks
    // the hash.
    "q555_connector_read" -> ((s, d) => {
      val dir = s"/root/repo/target/tmp/txtable_q555_sf${d.hashCode.abs}"
      def del(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles.foreach(del); p.delete()
      }
      del(new java.io.File(dir))
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        floor(col("value") * 100).cast("long").as("v_e2"))
      val me = ev.agg(max("event_id")).collect()(0).getLong(0) // 1 value
      (0L until 4L).foreach { i =>
        val lo = if (i == 0L) lit(true) else col("event_id") > lit(me * i / 4L)
        ev.where(lo && col("event_id") <= lit(me * (i + 1) / 4L))
          .write.format("graft").mode("append").save(dir)
      }
      def agg(df: DataFrame, name: String): DataFrame =
        df.agg(count(lit(1)).as("n_rows"), sum("user_id").as("sum_uid"),
          sum("v_e2").as("sum_ve2")).withColumn("probe", lit(name))
      agg(s.read.format("graft").load(dir)
          .where(col("event_id") <= lit(me / 4L)), "pruned")
        .unionByName(agg(s.read.format("graft")
          .option("versionAsOf", 0).load(dir), "time_travel"))
        .select("probe", "n_rows", "sum_uid", "sum_ve2")
    }),

    // Pure SQL over the connector: `CREATE TEMPORARY VIEW ... USING
    // graft` then a plain SELECT with a WHERE — no graft API in the
    // query path at all. The filter still prunes files (the view
    // resolves to the same HadoopFsRelation; GraftConnectorSpec pins
    // numFiles=1 for this shape) and the scan keeps parquet pushdown +
    // codegen. The reference's SQL-first users (`CREATE TABLE ... USING
    // delta`, `spark.sql` pipelines) migrate to exactly this.
    "q556_connector_sql" -> ((s, d) => {
      val dir = s"/root/repo/target/tmp/txtable_q556_sf${d.hashCode.abs}"
      def del(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles.foreach(del); p.delete()
      }
      del(new java.io.File(dir))
      val o = t(s, d, "orders").select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        (col("o_orderkey") % 10).as("r"))
      val mo = o.agg(max("k")).collect()(0).getLong(0) // 1 value
      (0L until 2L).foreach { i =>
        val lo = if (i == 0L) lit(true) else col("k") > lit(mo / 2L)
        o.where(lo && col("k") <= lit(mo * (i + 1) / 2L))
          .write.format("graft").mode("append").save(dir)
      }
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW q556_orders " +
        s"USING graft OPTIONS (path '$dir')")
      s.sql(s"""SELECT r, count(*) AS n_rows, sum(cents) AS sum_cents
                FROM q556_orders WHERE k <= ${mo / 2L} GROUP BY r""")
    }),

    // The TxTable log as a STRUCTURED STREAMING SOURCE (`readStream
    // .format("graft")`, CDF mode): offsets are table versions, a
    // micro-batch is `readChanges(start, end]`. Build a table through
    // inserts, a MERGE and a DELETE, then stream its change feed with
    // Trigger.AvailableNow through a streaming aggregation into a memory
    // sink — per-version net delta counts and sums, oracle-derived
    // straight from orders (the q552 discipline, now arriving as a
    // stream). GraftStreamSpec pins offset resume and delete delivery.
    "q557_streaming_cdf" -> ((s, d) => {
      val dir = s"/root/repo/target/tmp/txtable_q557_sf${d.hashCode.abs}"
      val ckpt = s"/root/repo/target/tmp/txtable_q557ck_sf${d.hashCode.abs}"
      def del(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles.foreach(del); p.delete()
      }
      del(new java.io.File(dir)); del(new java.io.File(ckpt))
      val o = t(s, d, "orders").select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        (col("o_orderkey") % 10).as("r"))
      o.where(col("r") <= 3L).write.format("graft").mode("append").save(dir)
      o.where(col("r").between(4L, 7L)).write.format("graft")
        .mode("append").save(dir)
      graft.sources.TxTable.merge(s, dir,
        o.where(col("r") >= 6L).select(col("k"),
          (col("cents") + 1L).as("cents"), col("r")), Seq("k"))
      graft.sources.TxTable.delete(s, dir, col("r") === 2L)
      val q = s.readStream.format("graft")
        .option("readChangeFeed", "true").load(dir)
        .groupBy(col("_commit_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
        .writeStream.format("memory").queryName("q557_feed")
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("q557_feed")
        .select("version", "change_type", "n_rows", "sum_cents")
    }),

    // End-to-end STREAMING REPLICATION through the connector: readStream
    // from a source TxTable (insert mode), transform in flight, and
    // writeStream format("graft") into a replica — the sink's appends
    // are exactly-once (batchId rides the commit op tag; GraftStreamSpec
    // replays a batch and pins the no-op). The stream runs TWICE off one
    // checkpoint with a source commit in between, so the second run
    // provably consumes only the delta — the streaming twin of q554's
    // batch TxSync, and the shape a 100 TB ingest actually deploys
    // (continuous table-to-table pipelines, offsets in the checkpoint,
    // idempotent commits in the log).
    "q558_streaming_replication" -> ((s, d) => {
      val srcDir = s"/root/repo/target/tmp/txtable_q558s_sf${d.hashCode.abs}"
      val dstDir = s"/root/repo/target/tmp/txtable_q558d_sf${d.hashCode.abs}"
      val ckpt = s"/root/repo/target/tmp/txtable_q558ck_sf${d.hashCode.abs}"
      def del(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles.foreach(del); p.delete()
      }
      Seq(srcDir, dstDir, ckpt).foreach(p => del(new java.io.File(p)))
      val o = t(s, d, "orders").select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        (col("o_orderkey") % 10).as("r"))
      def sync(): Unit = {
        val q = s.readStream.format("graft").load(srcDir)
          .where(col("cents") % 2L === 0L)
          .withColumn("cents2", col("cents") * 2L)
          .writeStream.format("graft")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(dstDir)
        q.awaitTermination()
      }
      o.where(col("r") <= 4L).write.format("graft").mode("append").save(srcDir)
      o.where(col("r").between(5L, 7L)).write.format("graft")
        .mode("append").save(srcDir)
      sync() // replicates versions 0..1
      o.where(col("r") >= 8L).write.format("graft").mode("append").save(srcDir)
      sync() // consumes ONLY version 2 off the checkpointed offset
      s.read.format("graft").load(dstDir)
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"),
          sum("cents2").as("sum_cents2"))
    }),

    // Hive-PARTITIONED TxTable through the connector (`partitionBy` on
    // the standard DataFrameWriter): orders land under r=<value>/
    // directories, partition values live in the path (not the data
    // files), and the scan re-attaches them per PartitionDirectory. A
    // probe on the partition key alone is static partition pruning; a
    // mixed partition+data probe prunes on BOTH (the partition value is
    // synthesized into each file's zone map with lo == hi, the data
    // bound comes from the recorded sidecars) — PartitionedTxSpec pins
    // the numFiles shrinkage and null-partition handling. At 100 TB the
    // partition prune is the coarse O(files) cut ingest layouts give for
    // free; the zone maps refine inside each partition.
    "q559_partitioned_table" -> ((s, d) => {
      val dir = s"/root/repo/target/tmp/txtable_q559_sf${d.hashCode.abs}"
      def del(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles.foreach(del); p.delete()
      }
      del(new java.io.File(dir))
      val o = t(s, d, "orders").select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        (col("o_orderkey") % 10).as("r"))
      val mo = o.agg(max("k")).collect()(0).getLong(0) // 1 value
      o.write.format("graft").partitionBy("r").mode("append").save(dir)
      def agg(df: DataFrame, name: String): DataFrame =
        df.agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
          .withColumn("probe", lit(name))
      agg(s.read.format("graft").load(dir).where(col("r") === 3L), "one_r")
        .unionByName(agg(s.read.format("graft").load(dir)
          .where(col("r") === 5L && col("k") <= lit(mo / 2L)), "mixed"))
        .select("probe", "n_rows", "sum_cents")
    }),

    // Copy-on-write DML + change data feed ON a partitioned table (the
    // q552/q553 discipline, now with partition values living in paths):
    // DELETE of a whole partition drops its directory without reading
    // it; UPDATE rewrites only the predicate's files and re-attaches
    // the partition value through the copy; MERGE carries untouched
    // directories byte-identical; OPTIMIZE preserves the layout and
    // feeds nothing. Every per-version net delta AND the final snapshot
    // replay from raw orders in the oracle, so a wrong re-attachment,
    // a mis-pruned rewrite, or a leaked carried row breaks the hash.
    "q560_partitioned_dml" -> ((s, d) => {
      val dir = s"/root/repo/target/tmp/txtable_q560_sf${d.hashCode.abs}"
      def del(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles.foreach(del); p.delete()
      }
      del(new java.io.File(dir))
      val o = t(s, d, "orders").select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        (col("o_orderkey") % 10).as("r"))
      val mo = o.agg(max("k")).collect()(0).getLong(0) // 1 value
      graft.sources.TxTable.append(o, dir, partitionBy = Seq("r")) // v0
      graft.sources.TxTable.delete(s, dir, col("r") === 5L) // v1: drop dir
      graft.sources.TxTable.update(s, dir,
        col("r") === 7L && col("k") <= lit(mo / 2L),
        Map("cents" -> (col("cents") + 10L))) // v2
      graft.sources.TxTable.merge(s, dir,
        o.where(col("r") === 9L).select(col("k"),
          (col("cents") + 1L).as("cents"), col("r")), Seq("k")) // v3
      graft.sources.TxTable.compact(s, dir, targetFiles = 4) // v4: no feed
      val feed = graft.sources.TxTable.readChanges(s, dir, -1L)
        .groupBy(col("_commit_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
      val snap = graft.sources.TxTable.read(s, dir)
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
        .select(lit(99L).as("version"), lit("snapshot").as("change_type"),
          col("n_rows"), col("sum_cents"))
      feed.unionByName(snap)
        .select("version", "change_type", "n_rows", "sum_cents")
    }))

  val oracles: Map[String, String] = Map(
    "q540_abc_analysis" ->
      """WITH rev AS (
           SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS rev
           FROM orders GROUP BY 1),
         rk AS (
           SELECT rev,
             CAST(row_number() OVER (ORDER BY rev DESC, o_custkey)
               AS BIGINT) AS r
           FROM rev),
         cum AS (
           SELECT r, rev,
             CAST(sum(rev) OVER (ORDER BY r
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS crev
           FROM rk),
         tot AS (
           SELECT CAST(sum(rev) AS BIGINT) AS trev, count(*) AS nc
           FROM rev),
         cls AS (
           SELECT CASE WHEN crev * 100 <= trev * 80 THEN 'A'
             WHEN crev * 100 <= trev * 95 THEN 'B' ELSE 'C' END AS cls,
             rev, nc, trev
           FROM cum, tot)
         SELECT cls, count(*) AS n_customers,
           count(*) * 1000000 // max(nc) AS customer_share_e6,
           CAST(floor(CAST(sum(rev) AS DOUBLE) * 1000000.0
             / CAST(max(trev) AS DOUBLE)) AS BIGINT) AS revenue_share_e6
         FROM cls GROUP BY 1""",

    "q541_top_share" ->
      """WITH rev AS (
           SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS rev
           FROM orders GROUP BY 1),
         rk AS (
           SELECT rev,
             CAST(row_number() OVER (ORDER BY rev DESC, o_custkey)
               AS BIGINT) AS r
           FROM rev),
         cum AS (
           SELECT r, rev,
             CAST(sum(rev) OVER (ORDER BY r
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS crev
           FROM rk),
         tot AS (
           SELECT CAST(sum(rev) AS BIGINT) AS trev, count(*) AS nc
           FROM rev)
         SELECT max(nc) AS n_customers,
           CAST(floor(CAST(max(CASE WHEN r = greatest(nc // 100, 1)
             THEN crev END) AS DOUBLE) * 1000000.0
             / CAST(max(trev) AS DOUBLE)) AS BIGINT) AS top1_share_e6,
           CAST(floor(CAST(max(CASE WHEN r = greatest(nc // 10, 1)
             THEN crev END) AS DOUBLE) * 1000000.0
             / CAST(max(trev) AS DOUBLE)) AS BIGINT) AS top10_share_e6,
           max(CASE WHEN r = greatest(nc // 100, 1) THEN rev END)
             * 1000000 // greatest(max(CASE WHEN r = greatest(nc // 2, 1)
               THEN rev END), 1) AS p99_p50_ratio_e6
         FROM cum, tot
         WHERE r = greatest(nc // 100, 1) OR r = greatest(nc // 10, 1)
           OR r = greatest(nc // 2, 1)""",

    "q480_fk_integrity" -> {
      def e(name: String, child: String, ckey: String, parent: String,
          pkey: String) =
        s"""SELECT fk_edge, n_child, n_orphans,
             n_orphans * 1000000 // n_child AS orphan_e6
           FROM (SELECT '$name' AS fk_edge,
             (SELECT count(*) FROM $child) AS n_child,
             (SELECT count(*) FROM $child x WHERE NOT EXISTS
               (SELECT 1 FROM $parent p WHERE p.$pkey = x.$ckey))
               AS n_orphans)"""
      Seq(
        e("orders->customer", "orders", "o_custkey", "customer",
          "c_custkey"),
        e("lineitem->orders", "lineitem", "l_orderkey", "orders",
          "o_orderkey"),
        e("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        e("lineitem->supplier", "lineitem", "l_suppkey", "supplier",
          "s_suppkey"),
        e("customer->nation", "customer", "c_nationkey", "nation",
          "n_nationkey")).mkString("\n         UNION ALL ")
    },

    "q481_id_continuity" -> {
      def a(name: String, tbl: String, key: String) =
        s"""SELECT '$name' AS sequence, count(*) AS n,
             min(id) AS id_min, max(id) AS id_max,
             max(id) - min(id) + 1 - count(*) AS n_missing,
             CAST(sum(CASE WHEN gap > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gaps,
             max(gap - 1) AS max_gap
           FROM (SELECT id, id - lag(id) OVER (ORDER BY id) AS gap
                 FROM (SELECT DISTINCT $key AS id FROM $tbl))"""
      a("documents.doc_id", "documents", "doc_id") +
        "\n         UNION ALL " +
        a("orders.o_orderkey", "orders", "o_orderkey")
    },

    "q473_compaction_planner" ->
      """WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS rows
           FROM events GROUP BY 1),
         cum AS (
           SELECT day, rows,
             CAST(COALESCE(sum(rows) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cb
           FROM daily)
         SELECT cb // 2000 AS file_id, count(*) AS n_days,
           CAST(sum(rows) AS BIGINT) AS n_rows,
           min(day) AS day_lo, max(day) AS day_hi
         FROM cum GROUP BY 1""",

    "q452_zonemap_skipping" ->
      """WITH o AS (SELECT o_orderkey, o_custkey FROM orders),
         nn AS (
           SELECT count(*) AS n, max(o_custkey) AS mc,
             max(o_orderkey) AS mo
           FROM o),
         zsrc AS (
           SELECT o_orderkey, o_custkey,
             CAST(list_sum(list_transform(range(0, 8), i ->
               (((x >> i) % 2) << (2*i)) + (((y >> i) % 2) << (2*i+1))))
               AS BIGINT) AS sk
           FROM (SELECT o_orderkey, o_custkey,
                   o_custkey * 256 // (mc + 1) AS x,
                   o_orderkey * 256 // (mo + 1) AS y
                 FROM o, nn)),
         rk AS (
           SELECT 'bykey' AS layout, o_orderkey, o_custkey,
             row_number() OVER (ORDER BY o_orderkey, o_orderkey) AS r
           FROM o
           UNION ALL
           SELECT 'bycust', o_orderkey, o_custkey,
             row_number() OVER (ORDER BY o_custkey, o_orderkey)
           FROM o
           UNION ALL
           SELECT 'zorder', o_orderkey, o_custkey,
             row_number() OVER (ORDER BY sk, o_orderkey)
           FROM zsrc),
         z AS (
           SELECT layout, (r - 1) * 64 // n AS g,
             o_custkey, o_orderkey
           FROM rk, nn),
         gm AS (
           SELECT layout, g, min(o_custkey) AS minc, max(o_custkey) AS maxc,
             min(o_orderkey) AS mino, max(o_orderkey) AS maxo
           FROM z GROUP BY 1, 2),
         probes AS (
           SELECT CAST(i0 AS BIGINT) * (mc + 1) // 16 AS pc,
             CAST(i0 AS BIGINT) * (mo + 1) // 16 AS po
           FROM (SELECT unnest(range(0, 16)) AS i0), nn)
         SELECT layout, count(*) AS cells,
           CAST(sum(CASE WHEN pc < minc OR pc > maxc THEN 1 ELSE 0 END)
             AS BIGINT) AS skip_c,
           CAST(sum(CASE WHEN po < mino OR po > maxo THEN 1 ELSE 0 END)
             AS BIGINT) AS skip_o,
           CAST(sum(CASE WHEN pc < minc OR pc > maxc THEN 1 ELSE 0 END)
             AS BIGINT) * 1000000 // count(*) AS skip_cust_e6,
           CAST(sum(CASE WHEN po < mino OR po > maxo THEN 1 ELSE 0 END)
             AS BIGINT) * 1000000 // count(*) AS skip_key_e6
         FROM gm CROSS JOIN probes
         GROUP BY layout""",

    "q453_bloom_fpr" -> {
      val pos = graft.queries.TrainingShared.h60(
        "concat('bf', CAST(j AS VARCHAR), ':', CAST(c_custkey AS VARCHAR))")
      s"""WITH mem AS (
           SELECT DISTINCT ($pos) % 4096 AS pos
           FROM customer, (SELECT unnest(range(0, 3)) AS j)
           WHERE c_mktsegment = 'BUILDING'),
         lf AS (SELECT count(*) AS bits_set FROM mem),
         pr AS (
           SELECT c_custkey, ($pos) % 4096 AS pos
           FROM customer, (SELECT unnest(range(0, 3)) AS j)
           WHERE c_mktsegment <> 'BUILDING'),
         hits AS (
           SELECT pr.c_custkey,
             CAST(sum(CASE WHEN mem.pos IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS hits
           FROM pr LEFT JOIN mem ON pr.pos = mem.pos
           GROUP BY 1),
         ag AS (
           SELECT count(*) AS n_probes,
             CAST(sum(CASE WHEN hits = 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS fp
           FROM hits)
         SELECT n_probes, fp, bits_set,
           fp * 1000000 // n_probes AS fpr_e6,
           bits_set * 1000000 // 4096 AS rho_e6,
           ((bits_set * 1000000 // 4096)
             * (bits_set * 1000000 // 4096) // 1000000)
             * (bits_set * 1000000 // 4096) // 1000000 AS pred_fpr_e6
         FROM ag, lf"""
    },

    "q440_rendezvous_sharding" -> {
      val h60 = graft.queries.TrainingShared.h60(
        "concat(CAST(doc_id AS VARCHAR), ':', CAST(sh AS VARCHAR))")
      s"""WITH h AS (
           SELECT doc_id, sh, $h60 AS hv
           FROM documents, (SELECT unnest(range(0, 33)) AS sh)),
         a32 AS (
           SELECT doc_id, sh AS shard32,
             row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, sh)
               AS rn
           FROM h WHERE sh < 32 QUALIFY rn = 1),
         a33 AS (
           SELECT doc_id, sh AS shard33,
             row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, sh)
               AS rn
           FROM h QUALIFY rn = 1),
         j AS (
           SELECT a32.doc_id, shard32, shard33
           FROM a32 JOIN a33 USING (doc_id)),
         g AS (
           SELECT shard32, count(*) AS n,
             CAST(sum(CASE WHEN shard32 <> shard33 THEN 1 ELSE 0 END)
               AS BIGINT) AS mv
           FROM j GROUP BY 1)
         SELECT count(*) AS n_shards, CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(sum(mv) AS BIGINT) AS n_moved,
           CAST(sum(mv) AS BIGINT) * 1000000 // CAST(sum(n) AS BIGINT)
             AS moved_e6,
           CAST(1000000 // 33 AS BIGINT) AS expected_e6,
           CAST(min(n) AS BIGINT) AS min_shard_n,
           CAST(max(n) AS BIGINT) AS max_shard_n
         FROM g"""
    },

    "q441_kmv_sketch" -> {
      val h60 = graft.queries.TrainingShared.h60("tok")
      s"""WITH th AS (
           SELECT DISTINCT source, tok
           FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS tok
                 FROM documents)),
         hv AS (SELECT source, $h60 AS hv FROM th),
         ex AS (SELECT source, count(*) AS exact_distinct
                FROM hv GROUP BY 1),
         bk AS (
           SELECT source, hv,
             row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
           FROM hv QUALIFY rn <= 32),
         kth AS (
           SELECT source, CAST(max(hv) AS BIGINT) AS hk,
             count(*) AS kk
           FROM bk GROUP BY 1),
         j AS (
           SELECT ex.source, exact_distinct, kk, hk,
             CASE WHEN kk = 32
               THEN CAST(floor((31.0 * 1152921504606846976.0)
                 / CAST(hk AS DOUBLE)) AS BIGINT)
               ELSE kk END AS est_distinct
           FROM ex JOIN kth USING (source))
         SELECT source, exact_distinct, kk, hk, est_distinct,
           (est_distinct - exact_distinct) * 1000000 // exact_distinct
             AS err_e6
         FROM j"""
    },
    "q407_scd2_history" ->
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) AS tm, event_id, event_type
           FROM events),
         chg AS (
           SELECT * FROM (
             SELECT user_id, tm, event_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY tm, event_id) AS prev
             FROM ev)
           WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id,
           CAST(row_number() OVER w AS BIGINT) AS ver,
           event_type, tm AS eff_from,
           coalesce(lead(tm) OVER w, -1) AS eff_to,
           coalesce(lead(tm) OVER w, -1) = -1 AS is_current
         FROM chg
         WINDOW w AS (PARTITION BY user_id ORDER BY tm, event_id)""",

    "q322_quota_split" ->
      """WITH counts AS (
           SELECT c_nationkey AS nation, count(*) AS c
           FROM customer GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM counts),
         wb AS (
           SELECT nation, c,
             (c * 1000) // tot AS base,
             (c * 1000) % tot AS rem
           FROM counts, tot),
         lf AS (SELECT 1000 - CAST(sum(base) AS BIGINT) AS l FROM wb),
         rk AS (
           SELECT wb.*, l,
             row_number() OVER (ORDER BY rem DESC, nation ASC) AS rr
           FROM wb, lf)
         SELECT nation, c, base, rem,
           base + (CASE WHEN rr <= l THEN 1 ELSE 0 END) AS alloc
         FROM rk""",

    "q397_t_closeness" ->
      """WITH base AS (
           SELECT c_nationkey AS nation,
             CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
             c_mktsegment AS segment
           FROM customer),
         cell AS (
           SELECT nation, bal_band, segment, count(*) AS c_gs
           FROM base GROUP BY 1, 2, 3),
         grp AS (
           SELECT nation, bal_band, count(*) AS n_g
           FROM base GROUP BY 1, 2),
         seg AS (SELECT segment, count(*) AS c_s FROM base GROUP BY 1),
         tot AS (SELECT count(*) AS n FROM base),
         grid AS (
           SELECT g.nation, g.bal_band, g.n_g, s.segment, s.c_s, t.n,
             coalesce(c.c_gs, 0) AS c_gs
           FROM grp g CROSS JOIN seg s CROSS JOIN tot t
           LEFT JOIN cell c ON c.nation = g.nation
             AND c.bal_band = g.bal_band AND c.segment = s.segment)
         SELECT nation, bal_band, n_g AS k,
           CAST(sum(abs(c_gs * n - c_s * n_g)) AS BIGINT) * 1000000
             // (2 * n_g * n) AS tvd_e6,
           CAST(sum(abs(c_gs * n - c_s * n_g)) AS BIGINT) * 1000000
             // (2 * n_g * n) <= 200000 AS t_close
         FROM grid GROUP BY nation, bal_band, n_g, n""",

    "q323_k_anonymity" ->
      """WITH qi AS (
           SELECT c_nationkey AS nation, c_mktsegment AS segment,
             CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_band
           FROM customer),
         g AS (
           SELECT nation, segment, bal_band, count(*) AS k
           FROM qi GROUP BY 1, 2, 3)
         SELECT nation, segment, bal_band, k,
           1000000 // k AS risk_e6,
           k < 5 AS suppressed
         FROM g""",

    "q379_l_diversity" ->
      """WITH qi AS (
           SELECT c_nationkey AS nation,
             CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
             c_mktsegment AS segment
           FROM customer)
         SELECT nation, bal_band, count(*) AS k,
           CAST(count(DISTINCT segment) AS BIGINT) AS l,
           count(DISTINCT segment) >= 3 AS l_diverse
         FROM qi GROUP BY 1, 2""",

    "q329_delta_encoding" ->
      """WITH base AS (
           SELECT event_type, ts, event_id,
             CAST(floor(value * 100) AS BIGINT) AS v
           FROM events),
         dz AS (
           SELECT event_type,
             coalesce(v - lag(v, 1) OVER (PARTITION BY event_type
               ORDER BY ts, event_id), v) AS delta
           FROM base),
         z AS (
           SELECT event_type,
             CASE WHEN delta >= 0 THEN delta * 2
                  ELSE -delta * 2 - 1 END AS z
           FROM dz),
         vb AS (
           SELECT event_type,
             CASE WHEN z < 128 THEN 1
                  WHEN z < 16384 THEN 2
                  WHEN z < 2097152 THEN 3
                  WHEN z < 268435456 THEN 4
                  WHEN z < 34359738368 THEN 5
                  ELSE 10 END AS vb
           FROM z)
         SELECT event_type, count(*) AS n,
           count(*) * 8 AS raw_bytes,
           CAST(sum(vb) AS BIGINT) AS varint_bytes,
           ((count(*) * 8 - CAST(sum(vb) AS BIGINT)) * 1000000)
             // (count(*) * 8) AS savings_e6
         FROM vb GROUP BY 1""",

    "q221_sdc_release" ->
      """WITH c AS (
           SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             count(DISTINCT user_id) AS n_users
           FROM events GROUP BY 1, 2)
         SELECT event_type, day, (n_users < 50) AS suppressed,
           CASE WHEN n_users < 50 THEN NULL
                ELSE (n_users + 2) // 5 * 5 END AS released
         FROM c""",
    "q289_dp_release" ->
      """WITH c AS (
           SELECT event_type, count(*) AS n_true FROM events GROUP BY 1),
         n AS (
           SELECT event_type, n_true,
             CAST(floor(
               -2.0 * sign((CAST(CAST(concat('0x', substr(md5(
                   concat('dp1|', event_type)), 1, 15)) AS BIGINT)
                   % 1000000 AS DOUBLE) + 0.5) / 1000000.0 - 0.5)
               * ln(1.0 - 2.0 * abs((CAST(CAST(concat('0x', substr(md5(
                   concat('dp1|', event_type)), 1, 15)) AS BIGINT)
                   % 1000000 AS DOUBLE) + 0.5) / 1000000.0 - 0.5))
               * 1000000.0) AS BIGINT) AS noise_e6
           FROM c)
         SELECT event_type, n_true, noise_e6,
           n_true * 1000000 + noise_e6 AS released_e6
         FROM n""",
    // deliberately the UNPRUNED direct diff: equality with the engine's
    // bucket-fingerprint-pruned path proves the pruning loses nothing
    "q219_table_reconcile" ->
      """WITH base AS (
           SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderpriority AS pr
           FROM orders),
         mx AS (SELECT max(k) AS mxk FROM base),
         v1 AS (
           SELECT k, st,
             CASE WHEN k % 1000 = 13 THEN cents + 1 ELSE cents END AS cents,
             pr
           FROM base WHERE k % 1000 <> 7
           UNION ALL
           SELECT k + mxk, st, cents, pr FROM base, mx WHERE k % 1000 = 21),
         d AS (
           SELECT coalesce(a.k, b.k) AS o_orderkey,
             CASE WHEN b.k IS NULL THEN 'deleted'
                  WHEN a.k IS NULL THEN 'inserted'
                  WHEN a.st <> b.st OR a.cents <> b.cents OR a.pr <> b.pr
                    THEN 'changed' END AS status
           FROM base a FULL JOIN v1 b ON a.k = b.k)
         SELECT o_orderkey, status FROM d WHERE status IS NOT NULL""",
    // deliberately the FULL-RECOMPUTE form: equality with the engine's
    // base+delta merge is the incremental-maintenance invariant
    "q245_txtable_lifecycle" ->
      """WITH o AS (
           SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey % 10 AS r
           FROM orders)
         SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents FROM o WHERE r <= 3
         UNION ALL
         SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE r <= 7
         UNION ALL
         SELECT 2, count(*),
           CAST(sum(CASE WHEN r >= 6 THEN cents + 1 ELSE cents END) AS BIGINT)
         FROM o
         UNION ALL
         SELECT 3, count(*),
           CAST(sum(CASE WHEN r >= 6 THEN cents + 1 ELSE cents END) AS BIGINT)
         FROM o""",
    "q218_incremental_agg" ->
      """SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
             AS sum_v_e6
         FROM events GROUP BY user_id""",
    "q213_constraints" ->
      """WITH m AS (
           SELECT count(*) AS n, count(text) AS n_text,
             count(DISTINCT doc_id) AS n_ids,
             sum(CASE WHEN n_chars BETWEEN 1 AND 100000 THEN 1 ELSE 0 END)
               AS n_chars_ok,
             sum(CASE WHEN lang IN ('en','es','fr','de','zh') THEN 1
                 ELSE 0 END) AS n_lang_ok,
             min(n_chars) AS min_chars
           FROM documents)
         SELECT 'size_gte_100' AS check_name, CAST(n AS BIGINT) AS metric,
           CAST(n >= 100 AS BIGINT) AS passed FROM m
         UNION ALL SELECT 'completeness_text',
           CAST(n_text * 1000000 // n AS BIGINT),
           CAST(n_text = n AS BIGINT) FROM m
         UNION ALL SELECT 'uniqueness_doc_id',
           CAST(n_ids * 1000000 // n AS BIGINT),
           CAST(n_ids = n AS BIGINT) FROM m
         UNION ALL SELECT 'compliance_n_chars',
           CAST(n_chars_ok * 1000000 // n AS BIGINT),
           CAST(n_chars_ok = n AS BIGINT) FROM m
         UNION ALL SELECT 'containment_lang',
           CAST(n_lang_ok * 1000000 // n AS BIGINT),
           CAST(n_lang_ok * 100 >= n * 99 AS BIGINT) FROM m
         UNION ALL SELECT 'min_n_chars_positive', CAST(min_chars AS BIGINT),
           CAST(min_chars > 0 AS BIGINT) FROM m""",
    "q183_stickiness" ->
      """WITH ud AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
           FROM events),
         span AS (SELECT min(day) AS mn, max(day) AS mx FROM ud),
         slots AS (
           SELECT user_id, unnest(range(day, least(day + 6, mx) + 1)) AS slot
           FROM ud, span),
         wau AS (SELECT slot, count(DISTINCT user_id) AS wau FROM slots GROUP BY 1),
         dau AS (SELECT day AS slot, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1)
         -- full-window gate applied at output (WHERE on the unnest alias
         -- inside the slots CTE trips a DuckDB binder bug; gating here is
         -- equivalent since it only drops rows, never changes a WAU value)
         SELECT d.slot AS day, d.dau, w.wau, (d.dau * 1000000) // w.wau AS stickiness_e6
         FROM dau d JOIN wau w USING (slot), span
         WHERE d.slot >= mn + 6""",
    "q170_profile" ->
      """WITH li AS (
           SELECT CAST(l_quantity AS BIGINT) AS quantity,
             CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_e2,
             CAST(floor(l_discount * 100) AS BIGINT) AS disc_e2,
             l_orderkey AS orderkey
           FROM lineitem)
         SELECT 'quantity' AS "column", count(quantity) AS n,
           CAST(sum(CASE WHEN quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           min(quantity) AS min_v, max(quantity) AS max_v,
           count(DISTINCT quantity) AS ndv FROM li
         UNION ALL
         SELECT 'price_e2', count(price_e2),
           CAST(sum(CASE WHEN price_e2 IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           min(price_e2), max(price_e2), count(DISTINCT price_e2) FROM li
         UNION ALL
         SELECT 'disc_e2', count(disc_e2),
           CAST(sum(CASE WHEN disc_e2 IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           min(disc_e2), max(disc_e2), count(DISTINCT disc_e2) FROM li
         UNION ALL
         SELECT 'orderkey', count(orderkey),
           CAST(sum(CASE WHEN orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           min(orderkey), max(orderkey), count(DISTINCT orderkey) FROM li""",
    "q123_session_window" ->
      """WITH ev AS (
           SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
         m AS (
           SELECT user_id, event_id, t,
             CASE WHEN lag(t) OVER w IS NULL
                    OR t - lag(t) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
         s AS (
           SELECT user_id, event_id, t,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
           FROM m)
         SELECT user_id, min(t) AS s_start, max(t) + 1800000000 AS s_end,
           count(*) AS n_events, min(event_id) AS first_event
         FROM s GROUP BY user_id, sid""",
    "q240_interpolate" ->
      """WITH daily AS (
           SELECT user_id, day, CAST(sum(v_e6) AS BIGINT) AS v FROM (
             SELECT user_id, epoch_us(ts) // 86400000000 AS day,
               CAST(floor(value * 1000000.0) AS BIGINT) AS v_e6
             FROM events)
           GROUP BY 1, 2 HAVING day % 2 = 0),
         scaffold AS (
           SELECT user_id, unnest(ds) AS day FROM (
             SELECT user_id, range(min(day), max(day) + 1) AS ds
             FROM daily GROUP BY user_id)),
         j AS (
           SELECT s.user_id, s.day, d.v
           FROM scaffold s LEFT JOIN daily d
             ON s.user_id = d.user_id AND s.day = d.day),
         w AS (
           SELECT user_id, day, v,
             last_value(v IGNORE NULLS) OVER back AS v_prev,
             last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER back AS d_prev,
             first_value(v IGNORE NULLS) OVER fwd AS v_next,
             first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER fwd AS d_next
           FROM j
           WINDOW back AS (PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           fwd AS (PARTITION BY user_id ORDER BY day
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT user_id, day, (v IS NOT NULL) AS observed,
           COALESCE(v, v_prev + (v_next - v_prev) * (day - d_prev)
             // (d_next - d_prev)) AS v_e6
         FROM w""",
    "q241_snaive_backtest" ->
      """WITH daily AS (
           SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
               AS v
           FROM events GROUP BY 1, 2)
         SELECT a.event_type, count(*) AS n_days,
           CAST(sum(abs(a.v - f.v)) AS BIGINT) // count(*) AS mae_e6
         FROM daily a JOIN daily f
           ON a.event_type = f.event_type AND a.day = f.day + 7
         GROUP BY 1""",
    "q124_gapfill" ->
      """WITH c AS (
           SELECT user_id, epoch_us(ts) // 86400000000 AS day, count(*) AS n
           FROM events GROUP BY 1, 2),
         scaffold AS (
           SELECT user_id, unnest(ds) AS day FROM (
             SELECT user_id, range(min(day), max(day) + 1) AS ds
             FROM c GROUP BY user_id))
         SELECT s.user_id, s.day, COALESCE(c.n, 0) AS n
         FROM scaffold s LEFT JOIN c ON s.user_id = c.user_id AND s.day = c.day""",
    "q125_forward_fill" ->
      """SELECT user_id, event_id, epoch_us(ts) AS t,
           last_value(CASE WHEN event_type <> 'click' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
         FROM events""",
    "q128_merge_upsert" ->
      """WITH updates AS (
           SELECT c_custkey, c_acctbal + 100.0 AS u_bal
           FROM customer WHERE c_custkey % 7 = 0
           UNION ALL
           SELECT c_custkey + 10000000 AS c_custkey, c_acctbal AS u_bal
           FROM customer WHERE c_custkey % 97 = 0)
         SELECT COALESCE(t.c_custkey, u.c_custkey) AS c_custkey,
           COALESCE(t.c_name, '(new)') AS name,
           COALESCE(u.u_bal, t.c_acctbal) AS balance,
           CASE WHEN t.c_name IS NULL THEN 'inserted'
                WHEN u.u_bal IS NULL THEN 'unchanged'
                ELSE 'updated' END AS change_type
         FROM customer t FULL OUTER JOIN updates u ON t.c_custkey = u.c_custkey""",
    "q129_snapshot_diff" ->
      """WITH after AS (
           SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS p_after
           FROM orders WHERE o_orderkey % 11 <> 0
           UNION ALL
           SELECT o_orderkey + 50000000 AS o_orderkey, o_totalprice AS p_after
           FROM orders WHERE o_orderkey % 13 = 0)
         SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS o_orderkey,
           b.o_totalprice AS price_before, a.p_after AS price_after,
           CASE WHEN b.o_totalprice IS NULL THEN 'added'
                WHEN a.p_after IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type
         FROM orders b FULL OUTER JOIN after a ON b.o_orderkey = a.o_orderkey
         WHERE b.o_totalprice IS NULL OR a.p_after IS NULL
            OR b.o_totalprice <> a.p_after""",
    "q130_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           sum(l_quantity) AS sum_qty, count(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                 (l_returnflag), ())""",
    "q143_exists_subquery" ->
      """SELECT c_mktsegment,
           count(*) AS n_customers,
           count(CASE WHEN has_urgent THEN 1 END) AS n_with_urgent
         FROM (
           SELECT c.c_mktsegment,
             EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_orderpriority = '1-URGENT') AS has_urgent
           FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM orders o2
                             WHERE o2.o_custkey = c.c_custkey
                               AND o2.o_orderstatus = 'F'))
         GROUP BY c_mktsegment""",
    "q144_lateral" ->
      """SELECT n.n_name, t.top_bal, t.n_cust
         FROM nation n,
         LATERAL (SELECT max(c_acctbal) AS top_bal, count(*) AS n_cust
                  FROM customer c
                  WHERE c.c_nationkey = n.n_nationkey) t""",
    "q137_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure, value
         FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                 l_discount FROM lineitem)
         UNPIVOT (value FOR measure
                  IN (l_quantity, l_extendedprice, l_discount))""",
    "q138_sliding_distinct" ->
      """WITH ud AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
           FROM events),
         span AS (SELECT min(day) AS mn, max(day) AS mx FROM ud),
         sl AS (
           SELECT user_id,
             unnest(range(greatest(day, mn), least(day + 6, mx) + 1)) AS slot
           FROM ud, span)
         SELECT slot, count(DISTINCT user_id) AS n_active_7d
         FROM sl GROUP BY 1""",
    "q269_pit_join" ->
      """WITH clicks AS (
           SELECT user_id, event_id, epoch_us(ts) AS t,
             CAST(floor(value * 100) AS BIGINT) AS v_e2
           FROM events WHERE event_type = 'click'),
         marked AS (
           SELECT user_id, event_id, t, v_e2,
             lag(v_e2) OVER (PARTITION BY user_id ORDER BY t, event_id)
               AS prev_v,
             row_number() OVER (PARTITION BY user_id ORDER BY t, event_id)
               AS rn
           FROM clicks),
         vers0 AS (
           SELECT user_id, event_id, t, v_e2 FROM marked
           WHERE rn = 1 OR v_e2 IS DISTINCT FROM prev_v),
         versions AS (
           SELECT user_id, t AS valid_from,
             lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
               AS valid_to,
             v_e2 AS dim_v_e2
           FROM vers0),
         p AS (
           SELECT user_id, event_id AS pid, epoch_us(ts) AS pt
           FROM events WHERE event_type = 'purchase')
         SELECT p.pid, p.user_id, p.pt, v.dim_v_e2,
           v.dim_v_e2 IS NOT NULL AS matched
         FROM p LEFT JOIN versions v ON p.user_id = v.user_id
           AND v.valid_from <= p.pt
           AND (v.valid_to IS NULL OR p.pt < v.valid_to)""",
    "q135_scd2" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS t, value,
             lag(value) OVER w AS prev_v,
             row_number() OVER w AS rn
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
         ch AS (
           SELECT user_id, event_id, t, value FROM e
           WHERE rn = 1 OR value IS DISTINCT FROM prev_v)
         SELECT user_id, event_id, t AS valid_from,
           lead(t) OVER w2 AS valid_to,
           lead(t) OVER w2 IS NULL AS is_current, value
         FROM ch
         WINDOW w2 AS (PARTITION BY user_id ORDER BY t, event_id)""",
    "q131_schema_evolution" ->
      """SELECT CAST(gen AS BIGINT) AS gen,
           CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
         FROM read_parquet('/root/repo/target/tmp/evolve_parquet/*/*.parquet',
           union_by_name = true, hive_partitioning = true)""",
    // replays the PREDICATE over the raw table: the engine's stats-
    // pruned file subset must produce exactly the unpruned answer
    "q549_stats_skipping" ->
      """WITH m AS (SELECT max(l_orderkey) // 4 AS cut FROM lineitem)
         SELECT count(*) AS n_rows,
           CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_price_cents,
           CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
         FROM lineitem, m
         WHERE l_orderkey <= m.cut AND l_returnflag = 'R'""",
    "q550_zorder_clustering" ->
      """WITH m AS (SELECT max(user_id) // 8 AS cut FROM events)
         SELECT 'by_user' AS dim, count(*) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS sum_eid,
           CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_ve6
         FROM events, m WHERE user_id <= m.cut
         UNION ALL
         SELECT 'by_value', count(*), CAST(sum(event_id) AS BIGINT),
           CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
         FROM events WHERE value >= 100.0 AND value < 200.0""",
    "q551_bloom_skipping" ->
      """WITH m AS (SELECT max(event_id) AS top FROM events)
         SELECT 'present' AS probe, count(*) AS n_rows,
           CAST(sum(user_id) AS BIGINT) AS sum_uid,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_ve2
         FROM events, m WHERE event_id = m.top
         UNION ALL
         SELECT 'absent', count(*), CAST(sum(user_id) AS BIGINT),
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
         FROM events, m WHERE event_id = m.top + 12345""",
    // each commit's expected NET delta derived directly from orders:
    // v0/v1 pure inserts; v2 MERGE = updated 6,7 (+1) and new 8,9 as
    // inserts, old 6,7 as deletes (carried 4,5 cancel); v3 overwrite
    // keeps identical r<=1 rows (cancel) and deletes the rest at their
    // POST-merge values; v4 zorder-compact contributes nothing
    "q552_change_data_feed" ->
      """WITH o AS (SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey % 10 AS r
           FROM orders)
         SELECT CAST(0 AS BIGINT) AS version, 'insert' AS change_type,
           count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM o WHERE r <= 3
         UNION ALL SELECT 1, 'insert', count(*), CAST(sum(cents) AS BIGINT)
         FROM o WHERE r BETWEEN 4 AND 7
         UNION ALL SELECT 2, 'insert', count(*),
           CAST(sum(cents + 1) AS BIGINT)
         FROM o WHERE r >= 6
         UNION ALL SELECT 2, 'delete', count(*), CAST(sum(cents) AS BIGINT)
         FROM o WHERE r IN (6, 7)
         UNION ALL SELECT 3, 'delete', count(*),
           CAST(sum(CASE WHEN r >= 6 THEN cents + 1 ELSE cents END) AS BIGINT)
         FROM o WHERE r >= 2""",
    // v1 = DELETE r=5 (net deletes only — carried rows cancel);
    // v2 = UPDATE r=7 (pre-image deletes + post-image inserts);
    // 99 = the final snapshot
    "q553_delete_update" ->
      """WITH o AS (SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey % 10 AS r
           FROM orders)
         SELECT CAST(1 AS BIGINT) AS version, 'delete' AS change_type,
           count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM o WHERE r = 5
         UNION ALL SELECT 2, 'delete', count(*), CAST(sum(cents) AS BIGINT)
         FROM o WHERE r = 7
         UNION ALL SELECT 2, 'insert', count(*),
           CAST(sum(cents + 10) AS BIGINT)
         FROM o WHERE r = 7
         UNION ALL SELECT 99, 'snapshot', count(*),
           CAST(sum(CASE WHEN r = 7 THEN cents + 10 ELSE cents END) AS BIGINT)
         FROM o WHERE r <> 5""",
    // the REPLICA's final state, derived straight from orders: rows
    // r<>0 survive the delete; +1 for the merged r>=8, +5 for the
    // updated r=3; exactly 4 source commits were pending at sync #2
    "q554_incremental_replication" ->
      """WITH o AS (SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey % 10 AS r
           FROM orders)
         SELECT count(*) AS n_rows,
           CAST(sum(cents + CASE WHEN r >= 8 THEN 1 ELSE 0 END
                          + CASE WHEN r = 3 THEN 5 ELSE 0 END) AS BIGINT)
             AS sum_cents,
           CAST(4 AS BIGINT) AS applied_commits
         FROM o WHERE r <> 0""",
    // both probes replay the same slice from the raw table: the pruned
    // connector read and the versionAsOf read of commit 0 (the first
    // quarter) must both equal the unpruned filter
    "q555_connector_read" ->
      """WITH m AS (SELECT max(event_id) // 4 AS cut FROM events),
         f AS (SELECT user_id,
             CAST(floor(value * 100) AS BIGINT) AS ve2
           FROM events, m WHERE event_id <= m.cut)
         SELECT 'pruned' AS probe, count(*) AS n_rows,
           CAST(sum(user_id) AS BIGINT) AS sum_uid,
           CAST(sum(ve2) AS BIGINT) AS sum_ve2
         FROM f
         UNION ALL
         SELECT 'time_travel', count(*), CAST(sum(user_id) AS BIGINT),
           CAST(sum(ve2) AS BIGINT)
         FROM f""",
    "q556_connector_sql" ->
      """WITH o AS (SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey % 10 AS r
           FROM orders),
         m AS (SELECT max(k) // 2 AS cut FROM o)
         SELECT r, count(*) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM o, m WHERE k <= m.cut GROUP BY r""",
    // each streamed micro-batch row is a commit's net delta, derived
    // straight from orders: v0/v1 pure inserts; v2 MERGE = r>=6 at
    // cents+1 as inserts (8,9 are new keys) with old 6,7 as deletes;
    // v3 DELETE r=2
    "q557_streaming_cdf" ->
      """WITH o AS (SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey % 10 AS r
           FROM orders)
         SELECT CAST(0 AS BIGINT) AS version, 'insert' AS change_type,
           count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM o WHERE r <= 3
         UNION ALL SELECT 1, 'insert', count(*), CAST(sum(cents) AS BIGINT)
         FROM o WHERE r BETWEEN 4 AND 7
         UNION ALL SELECT 2, 'insert', count(*),
           CAST(sum(cents + 1) AS BIGINT)
         FROM o WHERE r >= 6
         UNION ALL SELECT 2, 'delete', count(*), CAST(sum(cents) AS BIGINT)
         FROM o WHERE r IN (6, 7)
         UNION ALL SELECT 3, 'delete', count(*), CAST(sum(cents) AS BIGINT)
         FROM o WHERE r = 2""",
    // the replica's final state: every orders row reached the source
    // across the three appends; the stream kept even cents and derived
    // cents2 = 2*cents in flight
    "q558_streaming_replication" ->
      """WITH o AS (SELECT
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders)
         SELECT count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(sum(cents * 2) AS BIGINT) AS sum_cents2
         FROM o WHERE cents % 2 = 0""",
    "q559_partitioned_table" ->
      """WITH o AS (SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey % 10 AS r
           FROM orders),
         m AS (SELECT max(k) // 2 AS cut FROM o)
         SELECT 'one_r' AS probe, count(*) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM o WHERE r = 3
         UNION ALL
         SELECT 'mixed', count(*), CAST(sum(cents) AS BIGINT)
         FROM o, m WHERE r = 5 AND k <= m.cut""",
    // v0 full insert; v1 = the dropped r=5 partition; v2 UPDATE nets to
    // its delete+insert pair over exactly the matching rows; v3 MERGE
    // updates every r=9 row (+1); v4 compact feeds nothing; 99 = the
    // final snapshot with both edits applied and r=5 gone
    "q560_partitioned_dml" ->
      """WITH o AS (SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey % 10 AS r
           FROM orders),
         m AS (SELECT max(k) // 2 AS cut FROM o)
         SELECT CAST(0 AS BIGINT) AS version, 'insert' AS change_type,
           count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM o
         UNION ALL SELECT 1, 'delete', count(*), CAST(sum(cents) AS BIGINT)
         FROM o WHERE r = 5
         UNION ALL SELECT 2, 'delete', count(*), CAST(sum(cents) AS BIGINT)
         FROM o, m WHERE r = 7 AND k <= m.cut
         UNION ALL SELECT 2, 'insert', count(*),
           CAST(sum(cents + 10) AS BIGINT)
         FROM o, m WHERE r = 7 AND k <= m.cut
         UNION ALL SELECT 3, 'delete', count(*), CAST(sum(cents) AS BIGINT)
         FROM o WHERE r = 9
         UNION ALL SELECT 3, 'insert', count(*), CAST(sum(cents + 1) AS BIGINT)
         FROM o WHERE r = 9
         UNION ALL SELECT 99, 'snapshot', count(*),
           CAST(sum(cents
             + CASE WHEN r = 7 AND k <= m.cut THEN 10 ELSE 0 END
             + CASE WHEN r = 9 THEN 1 ELSE 0 END) AS BIGINT)
         FROM o, m WHERE r <> 5""")
}
