package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col

/** The one session factory (`GraftSession.builder`): its generated-code
  * cache covers a query surface larger than Spark's 100-entry default, and
  * no other code builds a session that could size that process-wide cache
  * first.
  */
class SessionFactorySpec extends SparkSpec {

  test("a warm round of 150 distinct codegen plans compiles nothing") {
    // the long literals are inlined into the generated source, so each
    // plan is its own cache entry
    def round(): Unit = (1 to 150).foreach { i =>
      spark.range(10).select(col("id") * i + i)
        .write.format("noop").mode("overwrite").save()
    }
    round()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    round()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)
  }

  test("no SparkSession is built outside GraftSession") {
    val factory = Paths.get("src/main/scala/graft/core/GraftSession.scala")
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    assert(roots.forall(Files.isDirectory(_)) && Files.isRegularFile(factory))
    val stray = roots.flatMap(r => Files.walk(r).iterator().asScala)
      .filter(p => p.toString.endsWith(".scala") && p != factory)
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
    assert(stray.isEmpty, "build sessions through GraftSession.builder")
  }
}
