package graftbench

import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** Benchmark harness entry point; `perfbench/run.py` builds the classpath
  * and fixtures and launches it. Writes one JSON result file (`--out`)
  * and, traced, a trace file next to it.
  */
object Main {

  /** Short headline queries across the operator families, on sf0.01. */
  val inventory: Seq[String] = Seq(
    "q52_lang_id", "q201_repetition_rules", // text
    "q76_dedup_keep", // graph: connected components, eager per-round checkpoints
    "q31_winsorize", "q71_wealth_percentile", // stats: exact percentile, PrefixScan
    "q01_agg_sum", "q95_topk_per_key", // relational, TopKPerKey
    "q61_cosine_topk") // similarity

  val family: Map[String, String] = Map(
    "q52_lang_id" -> "text", "q201_repetition_rules" -> "text",
    "q76_dedup_keep" -> "graph", "q31_winsorize" -> "stats",
    "q71_wealth_percentile" -> "stats", "q01_agg_sum" -> "relational",
    "q95_topk_per_key" -> "relational", "q61_cosine_topk" -> "similarity")
  val families: Seq[String] = Seq("text", "stats", "relational", "similarity", "graph")

  def options(argv: Array[String]): Map[String, String] =
    argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def parse(argv: Array[String]): Conf = {
    val m = options(argv)
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("fixtures"), m("cpus").toInt,
      m.get("smoke").contains("1"), m.get("cold-only").contains("1"), m("out"), m("work"))
  }

  def main(argv: Array[String]): Unit = {
    val c = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors
    if (c.cpus > nproc) {
      System.err.println(s"refusing to run: local[${c.cpus}] exceeds nproc=$nproc")
      sys.exit(2)
    }
    if (c.workload == "dump") return dump(c, inventory)
    val h = new Harness(c)
    val body: Map[String, Any] = c.workload match {
      case "inventory_sf0.01" =>
        runQueries(h, fixture(c, "sf0.01"), inventory, graft.core.Tables.names)
      case "txtable_rw" => TxWorkload.run(h, fixture(c, "sf0.1"))
      case w => sys.error(s"unknown workload $w")
    }
    h.stopSession()
    val layers = Layers.derive(h, body)
    val result = body ++ Map(
      "workload" -> c.workload, "seed" -> c.seed, "cpus" -> c.cpus,
      "nproc" -> nproc, "trace" -> c.trace, "smoke" -> c.smoke,
      "stamp" -> stamp(),
      "setups" -> h.setups.map { case (a, b, d) => Seq(a, b, d) }.toSeq,
      "passes" -> h.passes.map(p => Map("phase" -> p.phase, "traced" -> p.traced,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS)).toSeq,
      "ops" -> h.ops.map(o => Seq(o.name, o.kind, o.phase, o.ms, o.cpuS)).toSeq,
      "errors" -> h.errors.toSeq,
      "end_to_end" -> endToEnd(h, body),
      "per_layer" -> layers)
    Json.write(c.out, result)
    if (c.trace) Json.write(c.out.stripSuffix(".json") + ".trace.json", Layers.traceDump(h))
  }

  /** Writes each query's output under `--out` (the graft.Verify layout,
    * with oracle_sql.json) and its digest to `<out>/digests.json`, for
    * recording expected digests after tools/check_oracle.py has passed
    * the same outputs.
    */
  def dump(c: Conf, names: Seq[String]): Unit = {
    val h = new Harness(c)
    h.setup(Seq.empty, times = 1)
    new java.io.File(c.out).mkdirs()
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Json.write(s"${c.out}/oracle_sql.json", oracles)
    val qs = graft.SparkEntry.queries
    val digests = names.map { q =>
      qs(q)(h.spark, c.fixtures).coalesce(1).write.mode("overwrite").parquet(s"${c.out}/$q")
      h.release()
      val d = OutputHash.of(qs(q)(h.spark, c.fixtures)).render
      h.release()
      q -> d
    }.toMap
    Json.write(s"${c.out}/digests.json", digests)
    h.stopSession()
  }

  /** Warm passes before the window may close. The passes keep getting
    * faster for about five passes while JIT compilation goes on, so a run
    * that stopped on time alone would report a faster pass the quieter the
    * host was; a fixed count keeps every run's work the same.
    */
  val MinWarmPasses = 8

  def fixture(c: Conf, sf: String): String =
    s"${c.fixtures}/${if (c.smoke) "sf0.001" else sf}"

  /** Query workload: `Harness.Setups` set-ups, one cold pass, warm passes until
    * `--seconds` have passed (at least `MinWarmPasses`), then the untimed
    * check. With `--cold-only 1`: one set-up and the cold pass.
    * Traced, warm passes alternate untraced/traced so the two can be
    * compared in one JVM.
    */
  def runQueries(h: Harness, dir: String, names: Seq[String],
      tables: Seq[String]): Map[String, Any] = {
    val c = h.c
    h.setup(tables.map(dir -> _))
    // the cold pass keeps the declared order: whichever query runs first
    // absorbs most of the JIT and codegen warm-up, so a seeded cold order
    // would make cold_wall_s vary with the seed rather than the code
    val order = h.rng(1).shuffle(names)
    val qs = graft.SparkEntry.queries
    def round(phase: String, traced: Boolean, queries: Seq[String]): Unit =
      h.pass(phase, traced) {
        queries.foreach { q =>
          h.timed(q, "query", qs(q)(h.spark, dir))(h.consume)
          h.release()
        }
      }
    round("cold", c.trace, names)
    if (c.coldOnly) return Map.empty
    if (!c.smoke) {
      val t0 = System.nanoTime()
      var i = 0
      while (i < MinWarmPasses || (System.nanoTime() - t0) / 1e9 < c.seconds) {
        round(s"warm$i", c.trace && i % 2 == 1, order)
        i += 1
      }
    }
    h.rec.query = "check"
    val t0 = System.nanoTime()
    val digests = order.map { q =>
      q -> scala.util.Try {
        val d = OutputHash.of(qs(q)(h.spark, dir)).render
        h.release(); d
      }.recover { case e => s"error: ${e.getMessage}".take(200) }.get
    }.toMap
    Map("digests" -> digests, "check_s" -> (System.nanoTime() - t0) / 1e9)
  }

  /** Query workloads report, per operation, its fastest untraced warm
    * execution and its least CPU, summed over the workload (the
    * graft.Bench estimator: this
    * host's CPU steal arrives in bursts that rarely hit one query in
    * every pass). TxTable blocks change the table they run on, so
    * txtable_rw reports a typical warm block, built from per-kind medians.
    */
  def endToEnd(h: Harness, body: Map[String, Any]): Map[String, Double] = {
    val plainPhases = h.passes.filter(p => p.phase.startsWith("warm") && !p.traced)
      .map(_.phase).toSet
    val warmOps = h.ops.filter(o => plainPhases(o.phase))
    val opMs = warmOps.filter(_.kind != "snapshot").map(_.ms)
    val cold = h.passes.find(_.phase == "cold")
    val (wall, cpu) =
      if (body.contains("digests")) {
        val byOp = warmOps.groupBy(_.name).values.toSeq
        (byOp.map(_.map(_.ms).min).sum / 1000.0, byOp.map(_.map(_.cpuS).min).sum)
      } else {
        // a typical warm block: per operation kind, the median over the
        // warm blocks' operations times the kind's count in one block
        val byKind = warmOps.groupBy(_.kind).values.toSeq
        def block(f: Op => Double) =
          byKind.map(os => Stats.median(os.map(f).toSeq) * os.size / plainPhases.size).sum
        (block(_.ms) / 1000.0, block(_.cpuS))
      }
    Map(
      "setup_s" -> Stats.median(h.setups.map(_._1).toSeq),
      "cold_wall_s" -> cold.map(_.wallS).getOrElse(0.0),
      "wall_s" -> wall,
      "cpu_s" -> cpu,
      "op_p50_ms" -> Stats.quantile(opMs.toSeq, 0.5),
      "op_p90_ms" -> Stats.quantile(opMs.toSeq, 0.9)) ++
      body.get("tx_end_to_end").map(_.asInstanceOf[Map[String, Double]]).getOrElse(Map.empty)
  }

  def stamp(): Map[String, Any] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    Map(
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"),
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "jvm_flags" -> rt.getInputArguments.toArray.map(_.toString)
        .filter(a => a.startsWith("-X") && !a.startsWith("-Xss")).toSeq,
      "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getName).toSeq)
  }
}

/** Minimal JSON writer for the result files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v))
}
