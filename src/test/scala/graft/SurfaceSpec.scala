package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library's runnable and tunable surface, read from its source: the
  * programs it ships and the knobs it reads. A new main or knob takes a
  * visible edit to the lists below.
  */
class SurfaceSpec extends AnyFunSuite {

  private def sources(): Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally walk.close()
  }

  test("the only programs are Bench, Verify and Explain") {
    val objectDecl = """\bobject\s+(\w+)""".r
    val mainDecl = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    val mains = sources().flatMap { case (_, src) =>
      mainDecl.findAllMatchIn(src).map { m =>
        objectDecl.findAllMatchIn(src.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("<no object>")
      }
    }
    assert(mains.sorted == Seq("Bench", "Explain", "Verify"))
  }

  test("graft reads a fixed set of conf keys and environment variables") {
    val confKey = """spark\.(?:sql\.)?graft\.[\w.]*\w""".r
    val graftVar = """\bSPARK_GRAFT_\w+""".r
    val envRead = """(?:sys\.env|System\.getenv)[^"\n]*"(\w+)"""".r
    val texts = sources().map(_._2)
    val keys = texts.flatMap(confKey.findAllIn(_)).toSet
    val vars = texts.flatMap(t =>
      graftVar.findAllIn(t) ++ envRead.findAllMatchIn(t).map(_.group(1))).toSet
    assert(keys == Set(
      "spark.graft.bucketedCC.maxBucketNodes",
      "spark.graft.prefixScan.maxPartitionKeyRuns",
      "spark.graft.prefixScan.maxDriverKeyRuns"))
    assert(vars == Set(
      "SPARK_GRAFT_CPUS",
      "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_BENCH_PASSES",
      "SPARK_GRAFT_BENCH_QUERIES",
      "SPARK_GRAFT_SHUFFLE_PARTITIONS"))
  }
}
