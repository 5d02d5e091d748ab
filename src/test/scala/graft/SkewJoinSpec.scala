package graft

import org.apache.spark.sql.functions._
import graft.operators.SkewJoin

/** Salted-join equivalence: both variants must return exactly the plain
  * inner join's multiset, including on duplicate-heavy hot keys — the case
  * the collapse-dupes variant exists for.
  */
class SkewJoinSpec extends SparkSpec {

  // hot key 1 with many rows (some byte-identical), cold keys 2..4
  private def big() = {
    import spark.implicits._
    (Seq.fill(40)((1L, "dup-payload")) ++
      (1 to 20).map(i => (1L, s"p$i")) ++
      (2L to 4L).map(k => (k, s"cold$k"))).toDF("k", "v")
  }

  private def rep() = {
    import spark.implicits._
    Seq((1L, "one"), (2L, "two"), (3L, "three"), (9L, "unmatched"))
      .toDF("k", "name")
  }

  private def assertSameMultiset(a: org.apache.spark.sql.DataFrame,
                                 b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.count() == b.count())
    assert(a.exceptAll(b).count() == 0L)
    assert(b.exceptAll(a).count() == 0L)
  }

  test("saltedJoin equals plain inner join") {
    val plain = big().join(rep(), Seq("k"))
    assertSameMultiset(SkewJoin.saltedJoin(big(), rep(), "k", 4), plain)
  }

  test("saltedJoinCollapseDupes equals plain inner join on duplicate-heavy keys") {
    val plain = big().join(rep(), Seq("k"))
    assertSameMultiset(SkewJoin.saltedJoinCollapseDupes(big(), rep(), "k", 4), plain)
  }

  test("hotKeySplitJoin equals plain inner join; hotKeys finds the hot key") {
    val plain = big().join(rep(), Seq("k"))
    val hot = SkewJoin.hotKeys(big(), "k", 10L)
    assert(hot == Seq(1L), hot)
    assertSameMultiset(SkewJoin.hotKeySplitJoin(big(), rep(), "k", hot), plain)
    // the hot slice rides a broadcast join — no shuffle of the hot rows
    val p = SkewJoin.hotKeySplitJoin(big(), rep(), "k", hot)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("hotKeySplitJoin with a non-hot key in the list still equals the plain join") {
    val plain = big().join(rep(), Seq("k"))
    assertSameMultiset(
      SkewJoin.hotKeySplitJoin(big(), rep(), "k", Seq(5L)), plain)
  }

  test("hotKeySplitJoin with an EMPTY hot list is exactly the plain join") {
    val plain = big().join(rep(), Seq("k"))
    val out = SkewJoin.hotKeySplitJoin(big(), rep(), "k", Seq.empty)
    assertSameMultiset(out, plain)
    // and it short-circuits: no union, no broadcast of an empty hot slice
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Union"), p)
  }

  test("hotKeys is null-safe: null keys never reach the hot list") {
    import spark.implicits._
    val withNulls = (Seq.fill(30)((Option.empty[Long], "null-pile")) ++
      Seq.fill(15)((Some(1L), "hot")) ++
      Seq((Some(2L), "cold"))).toDF("k", "v")
    // the null pile is above threshold but must be excluded — a null in
    // the list would poison hotKeySplitJoin's isin predicates
    val hot = SkewJoin.hotKeys(withNulls, "k", 10L)
    assert(hot == Seq(1L), hot)
    val plain = withNulls.join(rep(), Seq("k"))
    assertSameMultiset(
      SkewJoin.hotKeySplitJoin(withNulls, rep(), "k", hot), plain)
  }

  test("hotKeys fails fast on a hot key that does not cast to Long") {
    import spark.implicits._
    val strKeys = (Seq.fill(20)(("celebrity", "x")) ++ Seq(("7", "y")))
      .toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      SkewJoin.hotKeys(strKeys, "k", 10L)
    }
    assert(e.getMessage.contains("celebrity"), e.getMessage)
    assert(e.getMessage.contains("does not cast to Long"), e.getMessage)
  }

  test("skew rung, spec-pinned: split join and salted join agree with plain, " +
      "and their plan shapes show WHY split wins on big-big") {
    val plain = big().join(rep(), Seq("k"))
    val hot = SkewJoin.hotKeys(big(), "k", 10L)
    val split = SkewJoin.hotKeySplitJoin(big(), rep(), "k", hot)
    val salted = SkewJoin.saltedJoin(big(), rep(), "k", 4)
    assertSameMultiset(split, plain)
    assertSameMultiset(salted, plain)
    val ps = split.queryExecution.executedPlan.toString
    val pb = salted.queryExecution.executedPlan.toString
    // salted replicates the ENTIRE build side salt× (the explode Generate)
    // — the shuffle volume that measured 4× WORSE than plain when
    // build ≈ probe on the sf10 fixture (BENCH_SCALE.md, "Round 10 —
    // skew-stress rung");
    // the split join never replicates: hot rides a broadcast, cold is a
    // plain shuffle join with the straggler keys removed
    assert(pb.contains("Generate"), pb)
    assert(!ps.contains("Generate"), ps)
    assert(ps.contains("BroadcastHashJoin"), ps)
  }

  test("collapse variant re-inflates duplicates after the join (map-side generator)") {
    val out = SkewJoin.saltedJoinCollapseDupes(big(), rep(), "k", 4)
    // the 40 byte-identical hot rows must come back 40 times
    assert(out.where(col("v") === "dup-payload").count() == 40L)
    // and the generator sits ABOVE the join in the physical plan — the
    // duplicates never travel through a shuffle
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("Generate"), p)
  }
}
