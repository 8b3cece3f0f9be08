package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark keeps each compiled class in an LRU keyed by its generated source
  * (`spark.sql.codegen.cache.maxEntries`, set in build.sbt's javaOptions).
  * A cache smaller than a workload's classes evicts each one before its
  * next use, so every repeated query compiles again. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** perfbench's curation queries and the tables it runs them on. */
  private val tables = "perfbench/tables/sf0.01"
  private lazy val queries: Seq[String] = {
    import scala.jdk.CollectionConverters._
    val plan = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("perfbench/plan.json"))
    plan.get("workloads").get("curation_queries").get("queries").elements()
      .asScala.flatMap(_.elements().asScala.map(_.asText)).toSeq
  }

  /** Runs each query to the noop sink; returns the classes compiled. */
  private def sweep(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    queries.foreach { q =>
      SparkEntry.queries(q)(spark, tables).write.format("noop")
        .mode("overwrite").save()
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Not zero: some generated source changes from run to run, so no cache
    * size spares it a compile. AQE numbers whole-stage codegen stages in
    * the order it plans them, which follows the order shuffle stages
    * finish (p26); Spark names each limit's counter from a JVM-wide
    * sequence (`BaseLimitExec`), which p12 reaches through the
    * brute-contract guard's `limit(n + 1).count()`; and p56's distinct
    * counts become an `Expand` whose state fields follow a map keyed by
    * expression ids. Alone, the first sweep compiles about 250 classes and
    * the second about 10; with a cache of 100 the second compiles them
    * all again. */
  test("a second sweep over perfbench's curation queries compiles at most " +
    "a quarter of the classes the first did") {
    assert(queries.size === 14)
    val first = sweep()
    val second = sweep()
    assert(second * 4 <= first, s"first sweep compiled $first classes, " +
      s"the second $second")
  }
}
