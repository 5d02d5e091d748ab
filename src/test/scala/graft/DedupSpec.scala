package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Behavioral checks the oracle can't express: LSH recall on planted
  * near-duplicates, SimHash locality, signature determinism.
  */
class DedupSpec extends SparkSpec {

  val base = "the quick brown fox jumps over the lazy dog and runs far away " +
    "into the green forest while birds sing songs above the tall trees"

  def docs() = {
    import spark.implicits._
    Seq(
      (1L, base),
      (2L, base.replace("lazy", "sleepy")), // near-dup of 1
      (3L, base), // exact dup of 1
      (4L, "completely different content about spark sql query planning " +
        "catalyst optimizer rules partitions shuffles joins aggregates windows"),
      (5L, "yet another unrelated text mentioning neither foxes nor dogs " +
        "just database engines columnar storage vectorized execution batches")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical normalized texts") {
    val groups = Dedup.exactDupGroups(docs(), "doc_id", "text")
      .where(col("n_dups") > 1).collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("keep_id") == 1L)
    assert(groups.head.getAs[Long]("n_dups") == 2L)
  }

  test("LSH candidate pairs find planted near-dup and exact dup, not unrelated") {
    val pairs = Dedup.lshCandidatePairs(docs(), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L))) // identical -> all bands collide
    assert(pairs.contains((1L, 2L))) // 1-word edit -> some band collides
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash signature is deterministic and length numPerms") {
    val sigs = Dedup.signatures(docs(), "doc_id", "text", Dedup.MinHashParams())
      .collect().map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)).toMap
    assert(sigs(1L).length == Dedup.MinHashParams().numPerms)
    assert(sigs(1L) == sigs(3L)) // identical text -> identical signature
    assert(sigs(1L) != sigs(4L))
  }

  test("minhash and shingle kernels equal the composed SQL form") {
    import spark.implicits._
    val p = Dedup.MinHashParams()
    val rnd = new scala.util.Random(7)
    val long = Seq.fill(5000)(rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString)
      .mkString(" ")
    val texts = Seq(
      base,
      "double  spaces  make   empty tokens",
      "a trailing space ",
      "exactly three tokens",
      "Ünïcödé straße 東京 タワー naïve café — ok",
      long)
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val want = d.select(col("doc_id"), MinHashReference.minhashSignature(col("text"), p))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = Dedup.signatures(d, "doc_id", "text", p)
      .collect().map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, sig) => assert(got(id) == sig, s"doc $id") }
    for (n <- Seq(1, 3, 8)) {
      val rows = d.where(size(split(lower(col("text")), " ")) >= n)
        .select(MinHashReference.shingles(col("text"), n), Dedup.shingles(col("text"), n))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach(r => assert(r.getSeq[String](1) == r.getSeq[String](0), s"n=$n"))
    }
    // fewer tokens than the shingle size: no shingle and no signature
    val short = Seq((9L, "two words"), (10L, null)).toDF("doc_id", "text")
    assert(short.select(Dedup.shingles(col("text"), 3)).collect()
      .map(r => Option(r.getSeq[String](0))).toSeq == Seq(Some(Nil), None))
    assert(Dedup.signatures(short, "doc_id", "text", p).isEmpty)
  }

  test("shingles split each text once: no split inside a lambda") {
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, StringSplit}
    // (coalesce keeps the projection from being folded into a local relation)
    val plan = docs().coalesce(1).select(Dedup.shingles(col("text"), 3))
      .queryExecution.optimizedPlan
    val lambdas = plan.expressions.flatMap(_.collect { case l: LambdaFunction => l })
    assert(!lambdas.exists(_.exists(_.isInstanceOf[StringSplit])), plan.toString)
    assert(plan.expressions.exists(_.exists(_.isInstanceOf[StringSplit])), plan.toString)
  }

  test("simhash hamming distance: near-dups close, unrelated far") {
    val sims = docs().select(col("doc_id"), Dedup.simhash60("text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sims(1L), sims(3L)) == 0)
    assert(ham(sims(1L), sims(2L)) < ham(sims(1L), sims(4L)))
    assert(ham(sims(1L), sims(2L)) <= 6)
  }

  test("dedupNearDupes keeps min-id representative per component") {
    val out = Dedup.dedupNearDupes(docs(), "doc_id", "text")
      .select("doc_id", "rep_id", "is_kept").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // {1,2,3} form one near-dup component -> rep 1 kept, 2/3 dropped
    assert(out(1L) == (1L, true))
    assert(out(2L) == (1L, false))
    assert(out(3L) == (1L, false))
    // unrelated docs keep themselves
    assert(out(4L) == (4L, true))
    assert(out(5L) == (5L, true))
  }

  test("dedupNearDupes broadcasts its labels to the join, same rows without broadcast") {
    def run(): (Set[Row], String) = {
      val q = Dedup.dedupNearDupes(docs(), "doc_id", "text")
        .select("doc_id", "rep_id", "is_kept")
      val rows = q.collect().toSet
      (rows, q.queryExecution.executedPlan.toString)
    }
    val (rows, plan) = run()
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val (unbroadcast, plain) = run()
      assert(!plain.contains("BroadcastHashJoin"), plain)
      assert(unbroadcast == rows)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("connectedComponents: chain, star and singleton edges resolve to min id") {
    import spark.implicits._
    // chain 10-11-12-13-14 (diameter 4, needs >1 propagation round),
    // star 20-{21,22,23}, lone edge 30-31
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (20L, 21L), (20L, 22L), (20L, 23L),
      (30L, 31L)).toDF("id1", "id2")
    val labels = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((10L to 14L).forall(labels(_) == 10L))
    assert((20L to 23L).forall(labels(_) == 20L))
    assert(labels(30L) == 30L && labels(31L) == 30L)
    assert(labels.size == 11)
  }

  test("connectedComponents converges on a 60-node chain (pointer jumping)") {
    import spark.implicits._
    // diameter 59: one-hop-per-round propagation would need 59 rounds and
    // blow maxIter=20; pointer jumping must close it in O(log n) rounds.
    // One edge per input partition: the partition-local union-find merges
    // nothing, so propagation runs over the whole chain
    val chain = spark.sparkContext
      .parallelize((0L until 59L).map(i => (i, i + 1)), 59).toDF("id1", "id2")
    val labels = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 60)
    assert(labels.values.forall(_ == 0L), labels.toString)
  }

  /** Min-id labels by a sequential union-find over `edges`. */
  private def referenceLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(id => id -> find(id)).toMap
  }

  test("connectedComponents matches reference union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val nNodes = 5 + rnd.nextInt(25)
      val nEdges = 1 + rnd.nextInt(40)
      val random = Seq.fill(nEdges) {
        val a = rnd.nextInt(nNodes).toLong; val b = rnd.nextInt(nNodes).toLong
        if (a == b) (a, b + 1) else (math.min(a, b), math.max(a, b)) // no self-loops
      }
      // a chain whose edges are spread evenly over the input, so every
      // partitioning below splits it across partitions
      val chain = (1000L until 1012L).map(i => (i + 1, i))
      val step = random.length / chain.length + 1
      val edges = random.grouped(step).toSeq.zipAll(chain.map(Seq(_)), Nil, Nil)
        .flatMap { case (g, c) => g ++ c }
      val expected = referenceLabels(edges)
      for (parts <- Seq(1, 3, 7)) {
        val pairs = spark.sparkContext.parallelize(edges, parts).toDF("id1", "id2")
        val got = Dedup.connectedComponents(pairs)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"trial $trial, $parts partitions: edges=$edges")
      }
      // type-generic: zero-padded string ids order like the numbers
      def s(i: Long) = f"n$i%05d"
      val strPairs = spark.sparkContext
        .parallelize(edges.map { case (a, b) => (s(a), s(b)) }, 3).toDF("id1", "id2")
      val strGot = Dedup.connectedComponents(strPairs)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(strGot == expected.map { case (k, v) => s(k) -> s(v) }, s"trial $trial")
    }
  }

  test("connectedComponents throws when propagation has not converged") {
    import spark.implicits._
    // a 60-node chain over 7 partitions contracts to a 7-root chain, which
    // one round cannot settle
    val chain = spark.sparkContext
      .parallelize((0L until 59L).map(i => (i, i + 1)), 7).toDF("id1", "id2")
    val e = intercept[IllegalStateException](Dedup.connectedComponents(chain, maxIter = 1))
    assert(e.getMessage.contains("did not converge in 1 rounds"), e.getMessage)
  }

  test("dedupNearDupes over a one-partition input runs no Spark job until an action") {
    var out: org.apache.spark.sql.DataFrame = null
    val jobs = jobsOf {
      out = Dedup.dedupNearDupes(docs().coalesce(1), "doc_id", "text", maxBucket = Int.MaxValue)
    }
    assert(jobs.isEmpty, s"building dedupNearDupes ran ${jobs.size} Spark jobs")
    val reps = out.select("doc_id", "rep_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L))
  }

  test("connectedComponents reliable path deletes intermediate checkpoint files") {
    import spark.implicits._
    // diameter 29, one edge per input partition: propagation runs over the
    // whole chain, and one round cannot settle it, so the reliable run
    // below writes several generations (one checkpoint per round)
    val edges = (0L until 29L).map(i => (i, i + 1))
    def chain = spark.sparkContext.parallelize(edges, edges.length).toDF("id1", "id2")
    intercept[IllegalStateException](Dedup.connectedComponents(chain, maxIter = 1))
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val labels = Dedup.connectedComponents(chain)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels.size == 30 && labels.values.forall(_ == 0L), labels.toString)
      // every generation but the surviving one must have had its rdd-<id>
      // files DELETED — `unpersist()` alone cannot reclaim reliable
      // checkpoints (they live on the filesystem, not the BlockManager)
      val rddDirs = Option(dir.listFiles()).getOrElse(Array.empty)
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
        .filter(_.getName.startsWith("rdd-"))
      assert(rddDirs.length == 1,
        s"expected only the final generation's files, got: ${rddDirs.mkString(", ")}")
    } finally {
      org.apache.spark.GraftCheckpointBridge.clearCheckpointDir(spark.sparkContext)
    }
  }

  test("jaccard: exact dup 1.0, near-dup high, unrelated low") {
    val d = docs()
    val a = d.select(col("doc_id").as("id1"), col("text").as("ta"))
    val b = d.select(col("doc_id").as("id2"), col("text").as("tb"))
    val j = a.join(b, col("id1") < col("id2"))
      .withColumn("j", Dedup.jaccardTokens(col("ta"), col("tb")))
      .select("id1", "id2", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("j")).toMap
    assert(j((1L, 3L)) == 1.0)
    assert(j((1L, 2L)) > 0.85)
    assert(j((1L, 4L)) < 0.15)
  }

  test("bucketedComponents == iterative CC on bucket-confined graphs, min labels") {
    import spark.implicits._
    // chain, pair, triangle and a singleton edge across four buckets —
    // including the composite keys (1,11) vs (11,1) that a bare concat
    // would group together
    val pairs = Seq(
      (1L, 11L, 1L, 2L), (1L, 11L, 2L, 3L),
      (11L, 1L, 10L, 11L),
      (2L, 2L, 20L, 21L), (2L, 2L, 21L, 22L), (2L, 2L, 20L, 22L),
      (3L, 3L, 30L, 31L)
    ).toDF("cell", "bin", "id1", "id2")
    val b = Dedup.bucketedComponents(pairs, Seq("cell", "bin"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cc = Dedup.connectedComponents(pairs.select("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b == cc) // identical node set AND identical min-id labels
    assert(b(3L) == 1L && b(11L) == 10L && b(22L) == 20L && b(31L) == 30L)
  }

  test("bucketedComponents matches iterative CC on random bucketed graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // 6 buckets with disjoint id ranges, random edges inside each
    val pairs = (0 until 6).flatMap { bkt =>
      val ids = (0 until 40).map(i => (bkt * 1000 + i).toLong)
      (0 until 60).map { _ =>
        val a = ids(rnd.nextInt(ids.length)); val b = ids(rnd.nextInt(ids.length))
        (bkt.toLong, a min b, a max b)
      }.filter(t => t._2 != t._3)
    }.toDF("bkt", "id1", "id2")
    val b = Dedup.bucketedComponents(pairs, Seq("bkt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cc = Dedup.connectedComponents(pairs.select("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b == cc)
  }

  test("bucketedComponents: over-occupied bucket fails IN the task naming " +
      "the bucket, before the union-find map grows (cap conf-overridable)") {
    import spark.implicits._
    // one mega-bucket chain of 50 nodes vs a cap of 8: the invariant the
    // operator rests on (caller-capped occupancy) is violated, so the
    // task must fail with a routing diagnostic, not an opaque OOM later
    val pairs = (0 until 49).map(i => ("mega", i.toLong, i + 1L))
      .toDF("bkt", "id1", "id2")
    spark.conf.set("spark.graft.bucketedCC.maxBucketNodes", "8")
    try {
      val e = intercept[Throwable] {
        Dedup.bucketedComponents(pairs, Seq("bkt")).collect()
      }
      val m = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(m.contains("bucket 'mega'"), m)
      assert(m.contains("bucket-occupancy invariant"), m)
      assert(m.contains("Dedup.connectedComponents"), m)
    } finally spark.conf.unset("spark.graft.bucketedCC.maxBucketNodes")
  }

  test("bucketedComponents rejects non-integral id columns at build time") {
    import spark.implicits._
    val pairs = Seq((1L, "a", "b")).toDF("bkt", "id1", "id2")
    val e = intercept[IllegalArgumentException] {
      Dedup.bucketedComponents(pairs, Seq("bkt"))
    }
    assert(e.getMessage.contains("requires integral ids"), e.getMessage)
    assert(e.getMessage.contains("'id1' is string"), e.getMessage)
  }

  test("exciseDupSpans: canonical kept, overlaps union, short and all-dup docs") {
    import spark.implicits._
    // k=3 hand-traceable corpus. Shingle "b c d" occurs at (1,2),(2,2),(4,1)
    // and "c d e" at (1,3),(2,3): canonical occurrences live in doc 1, so
    // doc 1 is untouched; doc 2's overlapping spans cover token positions
    // {2,3,4} ∪ {3,4,5} (each token excised ONCE); doc 4 is a verbatim
    // 3-token duplicate (fully excised); doc 3 is shorter than k (no
    // shingles, fully kept).
    val d = Seq(
      (1L, "a b c d e f"),
      (2L, "x b c d e y"),
      (3L, "a b"),
      (4L, "b c d")
    ).toDF("doc_id", "text")
    val out = Dedup.exciseDupSpans(d, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4)))).toMap
    assert(out(1L) == ((6L, 6L, 0L, "a b c d e f")))
    assert(out(2L) == ((6L, 2L, 4L, "x y")))
    assert(out(3L) == ((2L, 2L, 0L, "a b")))
    assert(out(4L) == ((3L, 0L, 3L, "")))
  }

  test("exciseDupSpans holds NO storage after materialization (the " +
      "round-12 shingle-scan leak, pinned)") {
    import spark.implicits._
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val d = Seq((1L, "a b c d e f"), (2L, "x b c d e y")).toDF("doc_id", "text")
    Dedup.exciseDupSpans(d, "doc_id", "text", 3).collect()
    // the operator used to persist its shingle scan with no release path;
    // the stateless aggregate + join-back shape (both shingle passes are
    // plain scans) holds nothing between calls
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs.keys.mkString(", "))
  }

  test("exciseDupSpans occStorage: identical output to the stateless " +
      "path, and clearCache releases the occurrence block") {
    import spark.implicits._
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val d = Seq(
      (1L, "a b c d e f"),
      (2L, "x b c d e y"),
      (3L, "a b"),
      (4L, "b c d")
    ).toDF("doc_id", "text")
    def rows(occ: Option[org.apache.spark.storage.StorageLevel]) =
      Dedup.exciseDupSpans(d, "doc_id", "text", 3, occ)
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    val cached = rows(
      Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // the opt-in persist holds the occurrence stream for the frame's
    // lifetime (the exciseKept storage contract)...
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val stateless = rows(None)
    // ...the session owner's clearCache releases it, and the stateless
    // path is unchanged
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs.keys.mkString(", "))
    assert(cached.toSeq == stateless.toSeq)
  }
}
