package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.sources.TxTable

/** Zone-map data-skipping scale evidence (BENCH_SCALE, no oracle:
  * q549/q550 pin the read-path correctness at sf0.01; TxStatsSpec pins
  * pruning soundness). Two studies, both on SPARK_GRAFT_SF_DIR:
  *
  *  1. **Skipping payoff.** lineitem ingested into a TxTable in 64
  *     contiguous key-range appends (the layout a time/key-ordered
  *     ingest produces for free); a ~1/64-selectivity key-range probe
  *     is answered twice — `read().where(...)` (full scan) vs
  *     `readWhere(...)` (zone-map pruned) — plus the kept/skipped file
  *     counts. The pruned time should track the SLICE size while the
  *     full time tracks the TABLE size: the gap is what data skipping
  *     buys, and it widens linearly with scale.
  *
  *  2. **ZORDER vs single-key sort.** events rewritten once with
  *     `compact(zorderBy = user_id, value)` and once with a single-key
  *     quantile sort (`zorderBy = user_id` only), 64 files each; a
  *     band probe on EACH dimension through `readWhere` on both
  *     layouts. The single sort prunes only its own key; Z-order pays
  *     a little on that key to prune on both.
  *
  *  3. **Bloom point lookup** (SPARK_GRAFT_SKIP_BLOOM=1): events
  *     ingested in 8 id-interleaved appends (every file spans the full
  *     id range — zone maps keep everything) with a per-file Bloom on
  *     event_id; one existing-id and one absent-id probe, full scan vs
  *     pruned. The pruned lookup reads ≤1 file whatever the table size.
  *
  *  4. **Connector + hive partitioning** (SPARK_GRAFT_SKIP_CONNECTOR=1):
  *     the same rows flat vs partitionBy(bucket), probed through the
  *     identical `format("graft")` read — the kept/skipped gap is the
  *     planner-level cut the partition layout buys.
  *
  *  5. **Zero-read DELETE** (SPARK_GRAFT_SKIP_DELETE=1): DELETE of one
  *     bucket on both layouts — partitioned drops its files from the log
  *     without reading them (mustMatchAll), flat pays the copy-on-write
  *     rewrite of every interleaved file.
  *
  * Run: SPARK_GRAFT_SF_DIR=target/sf1 SPARK_GRAFT_CPUS=32
  *        sbt -batch -error "runMain graft.SkipBench"
  * Prints one JSON line per study row.
  */
object SkipBench {

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    val spark = GraftSession
      .builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def fresh(tag: String): String = {
      val d = s"/root/repo/target/tmp/skipbench_$tag"
      def del(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles.foreach(del); p.delete()
      }
      del(new java.io.File(d))
      d
    }

    def minTimed(f: => Long): (Long, Double) =
      (1 to passes).map(_ => timed(f)).minBy(_._2)

    // SPARK_GRAFT_SKIP_BLOOM: unset = studies 1-2; "1" = add study 3;
    // "only" = study 3 alone. SPARK_GRAFT_SKIP_CONNECTOR follows the same
    // convention for study 4 (same-session scale pairs want one study).
    val bloomMode = sys.env.getOrElse("SPARK_GRAFT_SKIP_BLOOM", "")
    val connMode = sys.env.getOrElse("SPARK_GRAFT_SKIP_CONNECTOR", "")
    val delMode = sys.env.getOrElse("SPARK_GRAFT_SKIP_DELETE", "")

    val ev = Tables(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    def evAgg(df: DataFrame): Long =
      df.agg(sum("event_id"), count(lit(1))).collect()(0).getLong(1)

    if (bloomMode != "only" && connMode != "only" && delMode != "only") {
    // -- study 1: skipping payoff on a key-range-ingested lineitem table
    val nChunks = 64L
    val li = Tables(spark, sfDir, "lineitem").select(col("l_orderkey"),
      col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
      col("l_returnflag"))
    val mo = li.agg(max("l_orderkey")).collect()(0).getLong(0)
    val liDir = fresh("lineitem")
    val (_, tIngest) = timed {
      (0L until nChunks).foreach { i =>
        val lo = if (i == 0L) lit(true)
          else col("l_orderkey") > lit(mo * i / nChunks)
        TxTable.append(li.where(lo &&
          col("l_orderkey") <= lit(mo * (i + 1) / nChunks)).coalesce(1), liDir)
      }
    }
    val probe = col("l_orderkey") > lit(mo * 30L / nChunks) &&
      col("l_orderkey") <= lit(mo * 31L / nChunks) &&
      col("l_returnflag") === "R"
    val (keptLi, skippedLi) = TxTable.pruneFiles(spark, liDir, probe)
    def agg(df: DataFrame): Long =
      df.agg(sum("l_quantity"), count(lit(1))).collect()(0).getLong(1)
    val (nFull, tFull) = minTimed(agg(TxTable.read(spark, liDir).where(probe)))
    val (nPruned, tPruned) = minTimed(agg(TxTable.readWhere(spark, liDir, probe)))
    require(nFull == nPruned, s"pruned read diverged: $nFull vs $nPruned")
    println(f"""{"study":"skipping","sf":"$sfDir","files":${keptLi.size + skippedLi.size},""" +
      f""""kept":${keptLi.size},"skipped":${skippedLi.size},"rows":$nFull,""" +
      f""""ingest_sec":$tIngest%.2f,"full_sec":$tFull%.3f,"pruned_sec":$tPruned%.3f}""")

    // -- study 2: ZORDER(user_id, value) vs single-key sort, probes on both dims
    val mu = ev.agg(max("user_id")).collect()(0).getLong(0)
    val bandU = col("user_id") > lit(mu * 30L / 64L) &&
      col("user_id") <= lit(mu * 31L / 64L)
    val bandV = col("value") >= 100.0 && col("value") < 107.0
    Seq("zorder" -> Seq("user_id", "value"), "sort_user" -> Seq("user_id"))
      .foreach { case (tag, zcols) =>
        val dir = fresh(s"events_$tag")
        TxTable.append(ev, dir)
        val (_, tOpt) = timed {
          TxTable.compact(spark, dir, targetFiles = 64, zorderBy = zcols)
        }
        Seq("user_band" -> bandU, "value_band" -> bandV).foreach {
          case (pname, p) =>
            val (kept, skipped) = TxTable.pruneFiles(spark, dir, p)
            val (nF, tF) = minTimed(evAgg(TxTable.read(spark, dir).where(p)))
            val (nP, tP) = minTimed(evAgg(TxTable.readWhere(spark, dir, p)))
            require(nF == nP, s"$tag/$pname diverged: $nF vs $nP")
            println(f"""{"study":"zorder","layout":"$tag","probe":"$pname",""" +
              f""""sf":"$sfDir","optimize_sec":$tOpt%.2f,"kept":${kept.size},""" +
              f""""skipped":${skipped.size},"rows":$nF,"full_sec":$tF%.3f,""" +
              f""""pruned_sec":$tP%.3f}""")
        }
      }
    } // end studies 1-2

    // -- study 4 (SPARK_GRAFT_SKIP_CONNECTOR=1|only): hive partitioning
    // through the format("graft") connector. The SAME rows land twice:
    // arrival-order unpartitioned (bucket interleaves every file, zone
    // maps keep everything) vs partitionBy("bucket") (1/64 directories).
    // Both probes run through the identical connector read path, so the
    // gap is purely what the partition layout buys the planner.
    if (connMode == "1" || connMode == "only") {
      val evp = ev.withColumn("bucket", pmod(col("user_id"), lit(64L)))
      val flatDir = fresh("events_flat")
      val partDir = fresh("events_part")
      val (_, tIngestFlat) = timed {
        evp.write.format("graft").mode("append").save(flatDir)
      }
      val (_, tIngestPart) = timed {
        evp.write.format("graft").partitionBy("bucket").mode("append")
          .save(partDir)
      }
      val pPart = col("bucket") === 7L
      val pMixed = col("bucket") === 7L &&
        col("value") >= 100.0 && col("value") < 107.0
      Seq("partition" -> pPart, "mixed" -> pMixed).foreach { case (pname, p) =>
        Seq(("flat", flatDir, tIngestFlat),
            ("partitioned", partDir, tIngestPart)).foreach {
          case (tag, dir, tIn) =>
            val (kept, skipped) = TxTable.pruneFiles(spark, dir, p)
            val (n, t) = minTimed(
              evAgg(spark.read.format("graft").load(dir).where(p)))
            println(f"""{"study":"connector","layout":"$tag",""" +
              f""""probe":"$pname","sf":"$sfDir","ingest_sec":$tIn%.2f,""" +
              f""""kept":${kept.size},"skipped":${skipped.size},""" +
              f""""rows":$n,"sec":$t%.3f}""")
        }
      }
    }

    // -- study 5 (SPARK_GRAFT_SKIP_DELETE=1|only): the zero-read DELETE.
    // The same rows, partitioned by bucket vs arrival-order flat; then
    // DELETE bucket=7 on both. Partitioned: every bucket=7 file is
    // provably total (lo==hi synth stats) — dropped from the log without
    // a read. Flat: bucket interleaves every file, so all of them are
    // touched AND none is provably total — the full copy-on-write
    // rewrite. One pass each (a delete is destructive).
    if (delMode == "1" || delMode == "only") {
      val evp = ev.withColumn("bucket", pmod(col("user_id"), lit(64L)))
      Seq(("partitioned", true), ("flat", false)).foreach { case (tag, part) =>
        val dir = fresh(s"events_del_$tag")
        val w = evp.write.format("graft").mode("append")
        (if (part) w.partitionBy("bucket") else w).save(dir)
        val before = TxTable.activeFiles(dir).size
        val (_, tDel) = timed {
          TxTable.delete(spark, dir, col("bucket") === 7L)
        }
        val after = TxTable.activeFiles(dir).size
        val h = TxTable.history(spark, dir).where(col("op") === "delete")
          .select("n_adds", "n_removes").collect()(0)
        val n = TxTable.read(spark, dir)
          .agg(count(lit(1))).collect()(0).getLong(0)
        println(f"""{"study":"delete","layout":"$tag","sf":"$sfDir",""" +
          f""""files_before":$before,"files_after":$after,""" +
          f""""rewritten":${h.getLong(0)},"removed":${h.getLong(1)},""" +
          f""""rows_left":$n,"delete_sec":$tDel%.2f}""")
      }
    }

    // -- study 3: bloom point lookup on an id-interleaved layout
    if (bloomMode == "1" || bloomMode == "only") {
      val bDir = fresh("events_bloom")
      val me = ev.agg(max("event_id")).collect()(0).getLong(0)
      val (_, tIngestB) = timed {
        (0L until 8L).foreach(r => TxTable.append(
          ev.where(pmod(col("event_id"), lit(8L)) === r).coalesce(1),
          bDir, bloomFor = Seq("event_id")))
      }
      Seq("present" -> me, "absent" -> (me + 12345L)).foreach { case (pname, id) =>
        val p = col("event_id") === lit(id)
        val (kept, skipped) = TxTable.pruneFiles(spark, bDir, p)
        val (nF, tF) = minTimed(evAgg(TxTable.read(spark, bDir).where(p)))
        val (nP, tP) = minTimed(evAgg(TxTable.readWhere(spark, bDir, p)))
        require(nF == nP, s"bloom/$pname diverged: $nF vs $nP")
        println(f"""{"study":"bloom","probe":"$pname","sf":"$sfDir",""" +
          f""""ingest_sec":$tIngestB%.2f,"kept":${kept.size},""" +
          f""""skipped":${skipped.size},"rows":$nF,"full_sec":$tF%.3f,""" +
          f""""pruned_sec":$tP%.3f}""")
      }
    }
    spark.stop()
  }
}
