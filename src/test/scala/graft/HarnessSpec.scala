package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query contract's two maps must name the same queries, the library
  * surface keeps only what something sets or calls, and every session
  * outside the frozen harness is `graft.Session`. */
class HarnessSpec extends AnyFunSuite {
  test("every query has an oracle and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((queries -- oracles).isEmpty, "queries without an oracle")
    assert((oracles -- queries).isEmpty, "oracles without a query")
    assert(queries.nonEmpty)
  }

  test("op census: no library option is set by nobody and every public " +
    "library def has a main caller (tools/op_census.py --check)") {
    import scala.sys.process._
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val exit = Seq("python3", "tools/op_census.py", "--check")
      .!(ProcessLogger(out += _))
    assert(exit === 0, out.filter(_.startsWith("FAIL")).mkString("\n", "\n", ""))
  }

  test("op census self-test: every FAIL kind trips on a synthetic tree, " +
    "and two values, forwards, literals and harness pins do not " +
    "(tools/test_op_census.py)") {
    import scala.sys.process._
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val exit = Seq("python3", "tools/test_op_census.py")
      .!(ProcessLogger(out += _, out += _))
    assert(exit === 0, out.mkString("\n", "\n", ""))
  }

  test("pairs summary self-test: warm-ups and failed runs skipped, seeds " +
    "paired for any two sides, inclusive-quartile spread " +
    "(tools/test_pairs_summary.py)") {
    import scala.sys.process._
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val exit = Seq("python3", "tools/test_pairs_summary.py")
      .!(ProcessLogger(out += _, out += _))
    assert(exit === 0, out.mkString("\n", "\n", ""))
  }

  test("the forked JVM's old generation can hold at least its young " +
    "generation (build.sbt's javaOptions fix no -Xmn)") {
    import java.lang.management.{ManagementFactory, MemoryType}
    import scala.jdk.CollectionConverters._
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == MemoryType.HEAP)
      .map(p => p.getName -> p.getUsage.getMax)
    def maxOf(suffix: String) = heap.collect {
      case (n, m) if n.endsWith(suffix) => m
    }
    val old = maxOf("Old Gen")
    val young = maxOf("Eden Space") ++ maxOf("Survivor Space")
    assert(old.size === 1 && young.nonEmpty, s"heap pools $heap")
    assert(old.head >= young.sum, s"heap pools $heap")
  }

  test("Session.settings are Bench.newSession's .config pairs, read from " +
    "Bench.scala") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/Bench.scala")), "UTF-8")
    val body = src.substring(src.indexOf("def newSession(threads: Int)"))
    val builder = body.substring(0, body.indexOf(".getOrCreate()"))
    val threads = 7
    val pairs = """\.config\("([^"]+)",\s*([^)]+)\)""".r
      .findAllMatchIn(builder).map { m =>
        val v = m.group(2).trim
        m.group(1) -> (if (v == "threads") threads.toString
                       else v.stripPrefix("\"").stripSuffix("\""))
      }.toSeq
    assert(pairs.size === 7)
    assert(Session.settings(threads) === pairs)
  }

  test("only Bench, Verify and Session build a SparkSession under src/") {
    import scala.jdk.CollectionConverters._
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val sites = Seq("src/main", "src/test").flatMap { d =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => builder.findFirstIn(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).isDefined)
        .map(_.getFileName.toString).toSeq
    }
    assert(sites.sorted === Seq("Bench.scala", "Session.scala", "Verify.scala"))
  }
}
