package graft.operators

import scala.collection.mutable
import org.apache.spark.{GraftCheckpointBridge, HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{MinHashExpr, ShinglesExpr, TextFunctions}

/** Document deduplication suite for training-data pipelines: exact hash,
  * n-gram Jaccard, MinHash+LSH banding, SimHash.
  *
  * Every hash is md5-based and both engines compute it identically (the
  * shingle and MinHash kernels are native Catalyst expressions with the
  * values of their SQL form), so the whole suite is DuckDB-oracle-checkable.
  * Scale shape: MinHash LSH is the linear-time path — signatures are one
  * map-side pass; the only shuffle is the band-key self-join, whose fan-in
  * per key is bounded by bucket size, not corpus size, and near-dup
  * components skip even that. Exact/Jaccard pairwise verification is
  * reserved for in-bucket candidates.
  */
object Dedup {

  case class MinHashParams(
      numPerms: Int = 32,
      bands: Int = 8,
      shingleSize: Int = 3,
      baseMod: Long = 1000003L,
      prime: Long = 2147483647L)

  /** Exact duplicate groups by content fingerprint (hash groupBy). */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("fp", TextFunctions.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Word n-gram shingles of lower-cased text, the tokens split once per
    * row (native kernel, [[graft.functions.MinHash.shingles]]): the DuckDB
    * `range`/list-slice form, 1-based and inclusive. A text of fewer than
    * `n` tokens has no shingle (empty array).
    */
  def shingles(text: Column, n: Int): Column = GraftSqlBridge.column(
    ShinglesExpr(GraftSqlBridge.expression(TextFunctions.tokens(text)), n))

  /** Per-doc signature frame `(doc, s0..s{numPerms-1})`, one row per input
    * row (doc ids are expected unique): one native pass per document
    * ([[graft.functions.MinHash.signature]]) hashes each shingle once and
    * folds every permutation; no shuffle, so it is streaming-safe. Docs of
    * fewer than `shingleSize` tokens have no shingle and are dropped.
    * Shared by LSH banding and the estimator-accuracy measurement (q195).
    */
  def signatures(
      docs: DataFrame, idCol: String, textCol: String, p: MinHashParams): DataFrame = {
    val tokens = TextFunctions.tokens(col(textCol))
    val sig = GraftSqlBridge.column(MinHashExpr(GraftSqlBridge.expression(tokens),
      p.shingleSize, p.numPerms, p.baseMod, p.prime))
    docs
      .where(size(tokens) >= p.shingleSize)
      .select(col(idCol).as("doc"), sig.as("sig"))
      .select(col("doc") +: (0 until p.numPerms).map(i => col("sig")(i).as(s"s$i")): _*)
  }

  /** LSH banding keys `(doc, band, key)`: band `b`'s key joins signature
    * entries `b·rows .. b·rows + rows - 1` with '_'.
    */
  def bandKeysRows(
      docs: DataFrame, idCol: String, textCol: String, p: MinHashParams): DataFrame = {
    val rows = p.numPerms / p.bands
    val sig = signatures(docs, idCol, textCol, p)
    val bandStructs = (0 until p.bands).map { bnd =>
      struct(lit(bnd).as("band"),
        concat_ws("_", (0 until rows).map(r => col(s"s${bnd * rows + r}")): _*).as("key"))
    }
    sig.select(col("doc"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** `bandKeysRows` with at most `maxBucket` docs per (band, key) bucket,
    * the smallest ids kept (deterministic).
    */
  private def cappedBandRows(docs: DataFrame, idCol: String, textCol: String,
      p: MinHashParams, maxBucket: Int): DataFrame = {
    val keyed = bandKeysRows(docs, idCol, textCol, p)
    if (maxBucket == Int.MaxValue) keyed
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("band", "key").orderBy("doc")
      keyed.withColumn("rn", row_number().over(w))
        .where(col("rn") <= maxBucket).drop("rn")
    }
  }

  /** Candidate near-duplicate pairs: docs sharing any band bucket.
    * The self-join is on (band, key) — shuffle fan-in bounded by bucket
    * size, and ReuseExchange shares the band-key shuffle between the two
    * sides. Returns distinct (id1 < id2) pairs.
    *
    * `maxBucket` caps occupancy per band bucket (smallest ids kept,
    * deterministic): pair count is quadratic in bucket size, and on a
    * duplicate-heavy corpus one "celebrity" bucket would otherwise emit
    * billions of pairs. Uncapped by default — q59's oracle replays the
    * exact uncapped semantics.
    */
  def lshCandidatePairs(
      docs: DataFrame, idCol: String, textCol: String,
      p: MinHashParams = MinHashParams(),
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val keyed = cappedBandRows(docs, idCol, textCol, p, maxBucket)
    keyed.as("a").join(keyed.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id1"), col("b.doc").as("id2"))
      .distinct()
  }

  /** Exact token-set Jaccard similarity of two text columns. */
  def jaccardTokens(a: Column, b: Column): Column = {
    val ad = array_distinct(TextFunctions.tokens(a))
    val bd = array_distinct(TextFunctions.tokens(b))
    val inter = size(array_intersect(ad, bd))
    inter.cast("double") / (size(ad) + size(bd) - inter)
  }

  /** 60-bit SimHash over word tokens (each occurrence votes +-1 per bit).
    * Written as one SQL expression so shift amounts can be lambda variables
    * (the Scala `shiftright` helper only takes literal counts) and so the
    * DuckDB oracle can mirror it verbatim.
    */
  def simhash60(textCol: String): Column = expr(
    s"""aggregate(
          zip_with(
            transform(sequence(0, 59), j -> IF(
              aggregate(
                transform(split(lower($textCol), ' '),
                  t -> cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint)),
                cast(0 as bigint),
                (acc, h) -> acc + (shiftright(h, j) % 2) * 2 - 1) > 0,
              cast(1 as bigint), cast(0 as bigint))),
            sequence(0, 59),
            (bit, j) -> shiftleft(bit, j)),
          cast(0 as bigint), (acc, x) -> acc + x)""")

  /** Hamming distance between two simhashes (near-dup test at radius k). */
  def hammingDist(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Hamming-LSH banded candidate pairing over any integer sketch
    * column (SimHash, perceptual hash, …): split the sketch into
    * `nBands` contiguous `bandBits`-bit keys — any shared (band, key)
    * pairs the ids — cap bucket occupancy (pair count is quadratic in
    * bucket size), then filter by the EXACT Hamming distance. Returns
    * (id1, id2, hamming) with id1 < id2, distinct. One (band, key)
    * shuffle; never all-pairs. Fixed band width saturates at
    * n ≈ 2^bandBits — grow the sketch with the corpus (q355→q356).
    */
  def hammingBandPairs(hashed: DataFrame, idCol: String, hashCol: String,
      nBands: Int, bandBits: Int, cap: Int, maxHamming: Int): DataFrame = {
    val mask = (1L << bandBits) - 1L
    val banded = hashed
      .select(col(idCol).as("_id"), col(hashCol).as("_h"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("key", expr(s"shiftright(_h, band * $bandBits) & $mask"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "key").orderBy("_id")
    val capped = banded.withColumn("rn", row_number().over(w))
      .where(col("rn") <= cap).drop("rn")
    capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a._id") < col("b._id"))
      .select(col("a._id").as("id1"), col("b._id").as("id2"),
        col("a._h").as("h1"), col("b._h").as("h2"))
      .distinct()
      .withColumn("hamming", expr("cast(bit_count(h1 ^ h2) as bigint)"))
      .where(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** Per-doc 60-bit SimHash via the exploded one-md5-per-token path —
    * the `signatures` lesson applied to SimHash: the inline `simhash60`
    * expression re-hashes every token 60× (once per bit), because each
    * bit's aggregate re-evaluates the token-hash transform; exploding
    * the token hashes once and taking 60 `sum` aggregates of the same
    * row frame computes each md5 exactly once. On the bounded q361
    * population the win is modest (1.69→1.41 s sf0.1 — codegen compile
    * dominates at 300 docs) but the per-token cost is 60× lower, which
    * is what matters on an UNBOUNDED corpus. Same values as `simhash60`
    * bit for bit.
    */
  def simhashRows(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hs = docs.select(col(idCol).as("doc"),
      explode(transform(TextFunctions.tokens(col(textCol)),
        t => TextFunctions.hash60(t))).as("h"))
    val bitSums = (0 until 60).map { j =>
      sum(expr(s"(shiftright(h, $j) % 2) * 2 - 1")).as(s"b$j")
    }
    val sim = (0 until 60).map(j =>
      expr(s"IF(b$j > 0, shiftleft(cast(1 as bigint), $j), 0L)"))
      .reduce(_ + _)
    hs.groupBy("doc").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc"), sim.as("sim"))
  }

  /** Connected components of an `(id1, id2)` pair graph: `(id, label)` for
    * every id that appears in `pairs`, label = the minimum id of its
    * component. Ids may be of any integral, decimal, string, date or
    * timestamp type (the same in both columns); rows with a null id are
    * ignored. Nothing is collected to the driver. [[components]] gives
    * the algorithm, the per-task memory bound and when Spark jobs run.
    * THROWS when labels still change after `maxIter` propagation rounds,
    * rather than return split components.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val Seq(t1, t2) = Seq("id1", "id2").map(pairs.schema(_).dataType)
    require(t1 == t2, s"connectedComponents needs one id type; id1 is " +
      s"${t1.typeName}, id2 is ${t2.typeName}")
    components(pairs.select("id1", "id2"), groups = false, maxIter)
  }

  /** Components of a graph given as two-column rows `(a, b)`.
    *
    * Edge mode (`groups = false`): a row is an edge between ids `a` and
    * `b`. Group mode: a row says id `b` is a member of group `a` (an LSH
    * bucket); ids that share a group are connected, and groups are not
    * ids. Returns `(id, label)` for every id, label = the minimum id of
    * its component.
    *
    *  1. Each input partition runs a union-find over its own rows (the
    *     least id of a set is its root; path compression). This is narrow:
    *     no shuffle. A task holds at most the distinct ids, and in group
    *     mode the groups, of its one input partition.
    *  1. With one input partition the local roots are the components: the
    *     frame is returned lazily, with no round, no checkpoint and no
    *     Spark job at construction time.
    *  1. Otherwise every id and group is shuffled with its local root in
    *     each partition it occurs in; a key with several distinct roots
    *     links them. The links form the contracted graph of local roots
    *     (at most one link per key and extra partition), whose components
    *     come from [[propagate]]; an id's label is its root's label. The
    *     partition count comes from the input.
    *
    * An input whose plan has a shuffle is planned adaptively, and Spark
    * runs those shuffle stages when the frame is built.
    */
  private def components(rows: DataFrame, groups: Boolean, maxIter: Int): DataFrame = {
    val Seq(aType, idType) = rows.schema.fields.toSeq.map(_.dataType)
    require(idType match {
      case ByteType | ShortType | IntegerType | LongType | _: DecimalType |
          _: StringType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }, s"component ids must be integral, decimal, string, date or " +
      s"timestamp; got ${idType.typeName}")
    val input = GraftSqlBridge.internalRdd(rows)
    val single = input.getNumPartitions <= 1
    // ((is a group, id or group), local root) for each of a partition's
    // keys; groups only matter when they can span partitions
    val local = input.mapPartitions { it =>
      val uf = new UnionFind[Any](IdOrdering)
      val firstOf = mutable.HashMap.empty[Any, Any]
      it.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          val a = InternalRow.copyValue(r.get(0, aType))
          val b = InternalRow.copyValue(r.get(1, idType))
          uf.union(if (groups) firstOf.getOrElseUpdate(a, b) else a, b)
        }
      }
      val ids = uf.roots.map { case (id, root) => ((false, id), root) }
      if (single) ids
      else ids ++ firstOf.iterator.map { case (g, id) => ((true, g), uf.find(id)) }
    }
    val labels: RDD[InternalRow] =
      if (single)
        local.collect { case ((false, id), root) => InternalRow(id, root) }
      else {
        val part = new HashPartitioner(input.getNumPartitions)
        val keyRoots = local.groupByKey(part)
          .mapValues(_.toArray.distinct.sorted(IdOrdering))
        val links = keyRoots.flatMap { case (_, rs) => rs.iterator.drop(1).map(r => (rs(0), r)) }
        val rootLabel = propagate(links, part, maxIter)
        keyRoots.collect { case ((false, id), rs) => (rs(0), id) }
          .leftOuterJoin(rootLabel)
          .map { case (root, (id, label)) => InternalRow(id, label.getOrElse(root)) }
      }
    GraftSqlBridge.internalFrame(rows.sparkSession, labels, StructType(Seq(
      StructField("id", idType, nullable = false),
      StructField("label", idType, nullable = false))))
  }

  /** Min-label propagation with pointer jumping over the undirected graph
    * `links`: `(node, label)` per node, label = least node of its
    * component. Each round takes label(v) <- min over neighbours' labels,
    * then (from round 2 on) label(v) <- label_prev(label(v)), which halves
    * the remaining path lengths: rounds grow with log(diameter). Adjacency
    * and labels are co-partitioned by `part`, so the neighbour and label
    * joins are narrow.
    *
    * Each round is ONE Spark job: the count of changed labels is the
    * action that materializes the generation's checkpoint — executor-local
    * blocks, or reliable files when the context has a checkpoint dir (one
    * more job, which writes them). Once the next generation exists the
    * previous one is freed: its blocks unpersisted, its checkpoint files
    * deleted (`unpersist` does not touch those). The final generation is
    * retained: after the lineage cut it is the labels' only
    * materialization, so freeing it would make any later read fail; it is
    * released with the session or checkpoint-dir cleanup. Local blocks die
    * with their executor — set a checkpoint dir on long multi-hour runs.
    */
  private def propagate(links: RDD[(Any, Any)], part: Partitioner,
      maxIter: Int): RDD[(Any, Any)] = {
    val reliable = links.sparkContext.getCheckpointDir.isDefined
    val least = (x: Any, y: Any) => IdOrdering.min(x, y)
    val adj = links.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part).persist()
    var labels: RDD[(Any, Any)] = adj.reduceByKey(part, least)
      .mapPartitions(_.map { case (v, n) => (v, least(v, n)) }, preservesPartitioning = true)
    var generation: Option[RDD[_]] = None
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = adj.join(labels)
        .map { case (_, (dst, l)) => (dst, l) }
        .reduceByKey(part, least)
      val hop = labels.leftOuterJoin(nbrMin)
        .mapValues { case (l, nbr) => (l, nbr.fold(l)(least(l, _))) }
      // pointer jumping is skipped on round 1: near-clique LSH graphs
      // converge before it can help, and long chains still get
      // O(log diameter) from round 2 on
      val stepped = if (i == 0) hop else hop
        .map { case (v, (old, l)) => (l, (v, old)) }
        .join(labels)
        .map { case (_, ((v, old), l)) => (v, (old, l)) }
        .partitionBy(part)
      val next = stepped.mapValues { case (old, l) => (l, old != l) }
      if (reliable) next.persist().checkpoint() else next.localCheckpoint()
      val changed = next.filter(_._2._2).count()
      generation.foreach { g =>
        if (reliable) GraftCheckpointBridge.cleanCheckpointFiles(g)
        g.unpersist(blocking = false)
      }
      generation = Some(next)
      labels = next.mapValues(_._1)
      converged = changed == 0L
      i += 1
    }
    adj.unpersist(blocking = false)
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds; raise maxIter")
    labels
  }

  /** Orders component ids as Spark's `min` does: the internal values of
    * the id types `components` accepts are all `Comparable`.
    */
  private object IdOrdering extends Ordering[Any] {
    def compare(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** Connected components of a BUCKET-CONFINED pair graph in ONE pass —
    * no iteration, no checkpoints, no edges×rounds joins.
    *
    * Applies when every edge lives inside one bucket and every node is
    * assigned to exactly one bucket (the celled/binned similarity
    * families: `Similarity.withScaledBin` gives each vector ONE
    * (cell, bin), so near-dup components can never span buckets). Under
    * that invariant the global components ARE the per-bucket components,
    * and each bucket's subgraph is occupancy-capped (withScaledBin holds
    * ~2·10³ nodes/bucket, ≤ occ² edges) — small enough for an in-task
    * union-find. One
    * shuffle on the bucket key replaces the iterative machinery; at the
    * sf100 rung this turned q113's CC stage from 304 s (min-label
    * propagation, 177 M directed edges × rounds) into a single pass.
    *
    * NOT for graphs whose nodes sit in several buckets (MinHash LSH
    * bands, multiprobe ANN): a node shared by two buckets merges them,
    * and only the iterative `connectedComponents` sees that. Union by
    * min-root + path compression: the surviving root is the component's
    * min id, matching `connectedComponents` labels exactly.
    *
    * `pairs` must carry `bucketCols` ++ (id1, id2). Ids must be integral
    * (byte/short/int/long) — unlike the type-generic
    * `connectedComponents`, the in-task union-find keys longs, and a
    * silent cast from string/decimal would turn a bad schema
    * into nulls; non-integral id columns are rejected at build time
    * instead. Returns (id, label) over every id that appears in a pair —
    * same label contract as `connectedComponents`.
    *
    * The caller's occupancy invariant is enforced IN the task: a bucket
    * holding more than `spark.graft.bucketedCC.maxBucketNodes` distinct
    * ids (default 2^20) fails with the bucket key named, before the
    * union-find map can pressure executor heap — the same guard
    * discipline as PrefixScan's per-partition key-run cap. A graph that
    * trips it is not bucket-confined at sane occupancy; route it to the
    * iterative `connectedComponents` rather than raising the cap.
    */
  def bucketedComponents(pairs: DataFrame, bucketCols: Seq[String]): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    Seq("id1", "id2").foreach { c =>
      val dt = pairs.schema(c).dataType
      require(Seq("byte", "short", "integer", "long").contains(dt.typeName),
        s"bucketedComponents requires integral ids; '$c' is ${dt.typeName}" +
          " — the in-task union-find keys primitive longs (a cast would" +
          " silently null non-integral values). Map ids to longs first," +
          " or use the type-generic iterative connectedComponents.")
    }
    val maxBucketNodes = spark.conf
      .get("spark.graft.bucketedCC.maxBucketNodes", (1 << 20).toString).toInt
    pairs
      // the separator keeps composite keys distinct (bare concat reads
      // (1,11) and (11,1) as one group) — a collision could not corrupt
      // components (they only merge through shared ids), but it would
      // break the per-group size bound the in-task union-find relies on
      .select(concat_ws("_", bucketCols.map(col(_).cast("string")): _*)
        .as("bk"), col("id1").cast("long"), col("id2").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (bk, it) =>
        val uf = new UnionFind[Long](Ordering.Long)
        it.foreach { case (_, a, b) =>
          uf.add(a)
          uf.add(b)
          // fail before the map grows past the cap, not after the heap does
          if (uf.size > maxBucketNodes) throw new IllegalStateException(
            s"bucketedComponents bucket '$bk' holds more than " +
              s"$maxBucketNodes distinct ids — the one-pass union-find is " +
              "only safe under the caller's bucket-occupancy invariant " +
              "(e.g. Similarity.withScaledBin's cap). This graph is not " +
              "bucket-confined at sane occupancy: use the iterative " +
              "Dedup.connectedComponents, or raise " +
              "spark.graft.bucketedCC.maxBucketNodes only if executor " +
              "heap is provisioned for the per-bucket map.")
          uf.union(a, b)
        }
        uf.roots
      }
      .toDF("id", "label")
  }

  /** Full near-dup dedup: LSH band buckets -> connected components ->
    * keep the min-id representative of each component.
    *
    * Docs that share a (band, key) bucket are connected; the bucket
    * membership rows of `bandKeysRows` feed [[components]] directly, so the
    * quadratic candidate-pair self-join is never built and the components
    * are those of the `lshCandidatePairs` graph. Nothing is collected to
    * the driver. `maxBucket` bounds any one bucket's membership; the
    * default (10000) is the SCALE configuration — a bucket over the cap
    * keeps only its 10000 smallest ids, which can split a giant component.
    * The oracle-verified q76 passes Int.MaxValue explicitly: capped and
    * uncapped are intentionally different contracts, pick by corpus
    * dirtiness. Over a one-partition input with no cap the frame is built
    * without running a Spark job. Returns the input plus (rep_id, is_kept).
    */
  def dedupNearDupes(
      docs: DataFrame, idCol: String, textCol: String,
      p: MinHashParams = MinHashParams(),
      maxBucket: Int = 10000): DataFrame = {
    val members = cappedBandRows(docs, idCol, textCol, p, maxBucket)
      .select(concat_ws("_", col("band"), col("key")), col("doc"))
    val reps = components(members, groups = true, maxIter = 20)
      .select(col("id").as(idCol), col("label").as("rep_id"))
    docs.join(reps, Seq(idCol), "left")
      .withColumn("rep_id", coalesce(col("rep_id"), col(idCol)))
      .withColumn("is_kept", col("rep_id") === col(idCol))
  }

  /** ExactSubstr-style span excision (the REMOVAL pass the measurement
    * queries q190/q482 budget for): every k-token span that occurs more
    * than once in the corpus is excised from every occurrence EXCEPT the
    * canonical one — the lexicographically-minimal (id, position) — and
    * each document is reassembled from its surviving tokens in order.
    * Unlike doc-level dedup (exact/MinHash), this removes verbatim
    * boilerplate EMBEDDED in otherwise-unique documents, the case Lee et
    * al. showed doc-level passes miss.
    *
    * Token positions are 1-based (mirrors DuckDB `generate_subscripts`,
    * so the whole operator is oracle-checkable). Overlapping duplicated
    * spans union their covered positions — excision is per-token, not
    * per-span, so a token is dropped once no matter how many duplicated
    * windows cover it.
    *
    * Span identity is 120 bits — both 60-bit halves of one md5
    * (`hash60`/`hash60lo`): this operator REWRITES kept training text,
    * so unlike the measurement queries (q190/q482) a hash collision
    * would silently excise unique content. At 1e9 spans the expected
    * 120-bit collision count is ~n²/2^121 ≈ 4e-19 — negligible — and
    * the oracle replays both halves, so parity is collision-for-collision
    * exact anyway.
    *
    * Scale shape — built for the operator's MOTIVATING input, a
    * boilerplate-heavy web corpus where one verbatim span occurs in a
    * large fraction of ALL documents (Lee et al.'s own use-case): the
    * occurrence count and canonical occurrence come from a two-phase
    * hash aggregate on the span hash (map-side partials collapse a hot
    * span to one row per map task, so no reducer ever sees its raw
    * occurrence list), joined back to the occurrence stream with a
    * shuffled-HASH join (`shuffle_hash` hint): the probe side STREAMS
    * through the per-partition build table, so a span occurring in f*N
    * documents costs one task a linear scan of f*N rows — never an
    * external sort of them — and AQE's skew-join split can still divide
    * that partition (OptimizeSkewedJoin covers SHJ/SMJ; it cannot split
    * a Window partition, which is why the round-13 single-window shape
    * was retired: `Window.partitionBy(h, h2)` colocated every occurrence
    * of a hot span into ONE unsplittable sort task). The shingle scan
    * feeds both the aggregate branch and the probe branch; then a
    * bounded k× interval explode on duplicated occurrences only and a
    * (id, position) anti-join against the token stream.
    *
    * STORAGE CONTRACT (`occStorage`): by default (None) the operator is
    * fully stateless — the shingle scan runs twice (aggregate + probe
    * branch), both passes whole-stage-codegen'd, and no cached state
    * survives the call (the round-12 leak: a long-lived session
    * composing `exciseKept` accumulated orphaned shingle blocks;
    * DedupSpec pins zero persistent RDDs on this path). Passing
    * `Some(level)` persists the (id, p, h, h2) occurrence stream so the
    * tokenize+shingle+md5 work runs ONCE — the exciseKept convention:
    * the block lives for the lifetime of the returned DataFrame and the
    * session owner releases it (`spark.catalog.clearCache()`, as
    * Verify/Bench do after every query). At corpus scale the stream is
    * ~tokens×32 bytes — pass DISK_ONLY there (or keep None: two codegen
    * scans of the source can beat caching a corpus-sized block);
    * MEMORY_AND_DISK is right for report-sized runs.
    *
    * Returns (idCol, n_tokens, n_kept, n_excised, text_kept); documents
    * whose every token is excised come back with n_kept=0, text_kept="".
    */
  def exciseDupSpans(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8,
      occStorage: Option[org.apache.spark.storage.StorageLevel] = None)
      : DataFrame = {
    val toks = docs
      .select(col(idCol),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("i0", "tok")))
      .select(col(idCol), (col("i0") + 1).cast("long").as("i"), col("tok"))
    val occ0 = docs
      // shingles() mirrors DuckDB range semantics: on a doc shorter than k
      // tokens the 1..len-(k-1) sequence would DESCEND — guard first.
      .where(size(TextFunctions.tokens(col(textCol))) >= k)
      .select(col(idCol),
        posexplode(shingles(col(textCol), k)).as(Seq("p0", "sp")))
      .select(col(idCol), (col("p0") + 1).cast("long").as("p"),
        md5(col("sp")).as("m5")) // one digest; both halves derive from it
      .select(col(idCol), col("p"),
        conv(substring(col("m5"), 1, 15), 16, 10).cast("long").as("h"),
        conv(substring(col("m5"), 18, 15), 16, 10).cast("long").as("h2"))
    val occ = occStorage.map(occ0.persist).getOrElse(occ0)
    // two-phase partial aggregate: a hot span crosses the wire as ONE row
    // per map task, whatever its corpus frequency
    val spans = occ
      .groupBy("h", "h2")
      .agg(count(lit(1)).as("c"), min(struct(col(idCol), col("p"))).as("m"))
      .where(col("c") > 1)
    val covered = occ
      // shuffled-hash, not sort-merge: the probe (occurrence) side is the
      // skewed one and SHJ streams it — SMJ would re-introduce the hot
      // span's single-task external sort on the probe side. The build
      // side is one row per DUPLICATED span, uniform by construction
      // (distinct hashes), so the per-partition hash table stays small
      // at any corpus size provided shuffle partitions scale with data.
      .join(spans.hint("shuffle_hash"), Seq("h", "h2"))
      .where(!(col(idCol) === col("m")(idCol) && col("p") === col("m")("p")))
      .select(col(idCol),
        explode(sequence(col("p"), col("p") + (k - 1))).as("i"))
      .distinct()
    // (r15 tried rebuilding text only for TOUCHED docs — untouched docs'
    // text_kept is lower(text) by split/join inversion — but the extra
    // `covered` consumers (touched-id distinct + semi-join) defeat
    // exchange reuse: column pruning specializes each copy's ReadSchema,
    // the canonicalized plans stop matching, and the skew-heavy
    // join-back chain planned THREE times instead of once. Local bench
    // flat-to-worse, strictly worse on the boilerplate-heavy corpus the
    // operator exists for. Single-consumer `covered` stays.)
    val kept = toks.join(covered, Seq(idCol, "i"), "left_anti")
    val perDoc = kept.groupBy(idCol)
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("i"), col("tok")))),
          x => x.getField("tok")), " ").as("text_kept"))
    docs
      .select(col(idCol),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_excised"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }
}

/** Union-find whose root is always the least member of its set, so a root
  * is its component's min-id label; path compression on every find.
  */
private[operators] final class UnionFind[T](ord: Ordering[T]) {
  private val parent = mutable.HashMap.empty[T, T]

  def size: Int = parent.size

  def add(x: T): Unit = parent.getOrElseUpdate(x, x)

  def find(x: T): T = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent(r)
    var c = x
    while (parent.getOrElse(c, c) != c) {
      val n = parent(c); parent(c) = r; c = n
    }
    r
  }

  def union(a: T, b: T): Unit = {
    add(a)
    add(b)
    val ra = find(a)
    val rb = find(b)
    if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
  }

  /** (member, root) for every member added so far. */
  def roots: Iterator[(T, T)] = parent.keys.toVector.iterator.map(x => (x, find(x)))
}
