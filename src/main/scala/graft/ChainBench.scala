package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{GraftSession, Tables}
import graft.operators.CurationPipeline

/** Corpus-scale bench of the composed curation chain (BENCH_SCALE
  * evidence, no oracle: q104/q76/q547/q548 already pin every stage's
  * correctness — q548's oracle row is population-bounded to doc_id < 300
  * by the oracle-tractability convention, so THIS main is where the
  * composition `curate -> exciseKept` is measured over a FULL fixture
  * corpus).
  *
  * Per pass it times the end-to-end chain (one aggregating action over
  * the excision columns — an inner join on the operator's own key, so
  * the count cannot shortcut any stage) and then reports where the
  * operator-held kept slice actually lives (memory vs disk bytes from
  * the block manager) BEFORE releasing it under the documented
  * clearCache contract. Run:
  *
  *   SPARK_GRAFT_SF_DIR=target/sf1 [SPARK_GRAFT_CHAIN_STORAGE=DISK_ONLY]
  *     sbt -batch -error "runMain graft.ChainBench"
  *
  * Prints one JSON line:
  *   {"chain_sec":[...],"kept_rows":N,"cached_mem_bytes":N,
  *    "cached_disk_bytes":N,"storage":"...","sf":"..."}
  */
object ChainBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    val storageName = sys.env.getOrElse("SPARK_GRAFT_CHAIN_STORAGE",
      "MEMORY_AND_DISK")
    val storage = StorageLevel.fromString(storageName)
    val spark = GraftSession
      .builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val docs = Tables(spark, sfDir, "documents")
    val corpus = docs.where(col("source") =!= "src0").select("doc_id", "text")
    // a REALISTIC benchmark-suite size: 1% of the src0 slice. Feeding the
    // whole src0 slice (~20% of the corpus) saturates q107's relative
    // rule on this fixture — its vocabulary is small, so ~120k eval docs
    // cover nearly every possible 3-gram and decontamination marks the
    // ENTIRE corpus contaminated (kept_rows = 6 of 600k, measured), which
    // reduces the excision stage to a no-op and the bench to curate-only.
    val evalSet = docs
      .where(col("source") === "src0" && pmod(col("doc_id"), lit(100)) === 0)
      .select("text")
    // contamination threshold 101% = the stage computes its FULL overlap
    // work (the broadcast shingle join and per-doc aggregate run
    // regardless; only the final comparison flips) but cannot fire: even
    // the 1% eval slice covers nearly the whole trigram space of the
    // fixture's small vocabulary (kept_rows = 1069 of 480k at the default
    // 10%, measured), and a chain whose kept slice is ~empty measures
    // curate only. Real corpora with real vocabularies keep the default.
    val contamPct =
      sys.env.getOrElse("SPARK_GRAFT_CHAIN_CONTAM_PCT", "101").toInt

    var keptRows = 0L
    var mem = 0L
    var dsk = 0L
    val times = (1 to passes).map { _ =>
      val t0 = System.nanoTime()
      val out = CurationPipeline.exciseKept(
        CurationPipeline.curate(corpus, "doc_id", "text", evalSet, contamPct),
        "doc_id", "text", 8, storage)
      keptRows = out.agg(count(lit(1)), sum("n_excised")).collect()(0).getLong(0)
      val dt = (System.nanoTime() - t0) / 1e9
      // where did the operator-held kept slice land? (read BEFORE the
      // contract release — this is the storage-split evidence). The
      // kept slice is the only block at the REQUESTED level; CC's
      // lineage-cut blocks coexist at their own default level, so the
      // per-level split below separates them.
      val infos = spark.sparkContext.getRDDStorageInfo
      mem = infos.filter(_.storageLevel == storage).map(_.memSize).sum
      dsk = infos.filter(_.storageLevel == storage).map(_.diskSize).sum
      val other = infos.filterNot(_.storageLevel == storage)
      System.err.println(s"[chain] other cached blocks: " +
        other.map(i => s"${i.name}@${i.storageLevel.description}:" +
          s"mem=${i.memSize},disk=${i.diskSize}").mkString("; "))
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      dt
    }
    val tjson = times.map(t => f"$t%.3f").mkString("[", ",", "]")
    println(s"""{"chain_sec":$tjson,"kept_rows":$keptRows,""" +
      s""""cached_mem_bytes":$mem,"cached_disk_bytes":$dsk,""" +
      s""""storage":"$storageName","sf":"$sfDir"}""")
    spark.stop()
  }
}
