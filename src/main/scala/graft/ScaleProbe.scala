package graft

import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.functions.TextFunctions
import graft.operators.Dedup

/** Scale diagnostics for the BENCH_SCALE proof: prints the intermediate
  * cardinalities that drive the wall-clock of the three heaviest
  * sf0.1→sf1 queries (q83 tfidf, q107 decontaminate, q163 best match), so
  * their growth ratios can be attributed to measured workload growth
  * rather than guessed. Run once per SF dir:
  *
  *   SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.ScaleProbe"
  *
  * Output is one `name=count` line per measurement.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession
      .builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def p(name: String, v: Long): Unit = println(s"$name=$v")

    val docs = Tables(spark, sfDir, "documents")

    // --- q83 tfidf: work ∝ exploded tokens, output ∝ distinct (doc, term)
    val terms = docs.select(col("doc_id"),
      explode(TextFunctions.tokens(col("text"))).as("term"))
    p("q83_tokens", terms.count())
    p("q83_doc_terms", terms.distinct().count())

    // --- q107 decontaminate: corpus-side work ∝ exploded distinct
    // shingles; broadcast build ∝ bench distinct shingles
    def sh(df: org.apache.spark.sql.DataFrame) = df
      .where(size(TextFunctions.tokens(col("text"))) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(Dedup.shingles(col("text"), 3))).as("sh"))
    p("q107_corpus_shingles", sh(docs.where(col("source") =!= "src0")).count())
    p("q107_bench_shingles",
      sh(docs.where(col("source") === "src0")).select("sh").distinct().count())

    // --- q163 best match: work ∝ prefix-gram candidate pairs + exact
    // verifications (replicates FuzzyJoin.selfJoin's stages on the q163
    // input: customer names, k=1, q=3)
    val k = 1; val q = 3
    val base = Tables(spark, sfDir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
      .withColumn("l", length(col("name")))
    val grams = base.where(col("l") >= q)
      .select(col("id"), col("l"),
        posexplode(expr(s"transform(sequence(1, l - ${q - 1}), i -> substring(name, i, $q))"))
          .as(Seq("pos0", "gram")))
      .withColumn("pos", col("pos0") + 1).drop("pos0")
    p("q163_grams", grams.count())
    val gramDf = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    val prefix = grams.join(gramDf, "gram")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("df"), col("gram"), col("pos"))))
      .where(col("rn") <= q * k + 1)
      .select("id", "l", "gram", "pos")
    val a = prefix.select(col("id").as("id1"), col("l").as("l1"),
      col("gram"), col("pos").as("p1"))
    val b = prefix.select(col("id").as("id2"), col("l").as("l2"),
      col("gram"), col("pos").as("p2"))
    val cand = a.join(b, Seq("gram"))
      .where(col("id1") < col("id2") &&
        abs(col("p1") - col("p2")) <= k && abs(col("l1") - col("l2")) <= k)
    p("q163_candidates", cand.count())
    p("q163_verify_pairs", cand.select("id1", "id2").distinct().count())

    spark.stop()
  }
}
