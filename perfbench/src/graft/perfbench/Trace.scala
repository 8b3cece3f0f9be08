package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** In-memory span recorder. A span has a name, a start and an end
  * (System.nanoTime) and a parent span id (-1 for a root). Spans are kept
  * in memory and written out once, after measuring.
  *
  * A span's self time is its duration minus the durations of the spans
  * that name it as parent. The single-thread pass times some child layers
  * by calling them again on the same input right after the parent call
  * (the program has no hooks inside its own calls yet), so children are
  * attributed to a parent rather than nested inside its interval. */
final class Spans {
  private val names = ArrayBuffer.empty[String]
  private val starts = ArrayBuffer.empty[Long]
  private val ends = ArrayBuffer.empty[Long]
  private val parents = ArrayBuffer.empty[Int]

  def add(name: String, parent: Int, start: Long, end: Long): Int = {
    names += name; starts += start; ends += end; parents += parent
    names.length - 1
  }

  def open(name: String, parent: Int = -1): Int =
    add(name, parent, System.nanoTime(), -1L)

  def close(id: Int): Unit = ends(id) = System.nanoTime()

  def time[A](name: String, parent: Int = -1)(f: => A): A = {
    val id = open(name, parent)
    try f finally close(id)
  }

  def size: Int = names.length

  def start(id: Int): Long = starts(id)

  def dur(id: Int): Long = ends(id) - starts(id)

  /** Total duration of every span called `name` with id >= `from`. */
  def total(name: String, from: Int = 0): Long = {
    var s = 0L
    var i = from
    while (i < names.length) { if (names(i) == name) s += dur(i); i += 1 }
    s
  }

  def count(name: String, from: Int = 0): Int =
    (from until names.length).count(names(_) == name)

  /** Total self time of the spans called `name` with id >= `from`. */
  def selfTotal(name: String, from: Int = 0): Long = {
    val child = new Array[Long](names.length)
    var i = from
    while (i < names.length) {
      if (parents(i) >= 0) child(parents(i)) += dur(i)
      i += 1
    }
    var s = 0L
    i = from
    while (i < names.length) {
      if (names(i) == name) s += dur(i) - child(i)
      i += 1
    }
    s
  }

  /** One JSON object per line: id, name, start_ns, end_ns, parent. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try (0 until names.length).foreach { i =>
      w.println(Json.render(Map("id" -> i, "name" -> names(i),
        "start_ns" -> starts(i), "end_ns" -> ends(i), "parent" -> parents(i))))
    } finally w.close()
  }
}

/** Per-operation Spark counters, attributed through the `perfbench.op`
  * local property that the benchmark sets before each batch or query. */
final class OpStats {
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  /** Shuffle exchanges in the final plan of each SQL execution. */
  var exchanges = 0
  val taskRunMs = ArrayBuffer.empty[Long]
  val jobSpansMs = ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds of [t0, t1] covered by at least one job. */
  def jobCoverMs(t0: Long, t1: Long): Long = {
    var covered = 0L
    var reach = t0
    jobSpansMs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }
}

final class OpListener(sc: SparkContext) extends SparkListener {
  import OpListener._
  private val ops = new ConcurrentHashMap[String, OpStats]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobOp = new ConcurrentHashMap[Int, (String, Long)]()
  private val execOp = new ConcurrentHashMap[Long, String]()
  private val execPlan = new ConcurrentHashMap[Long, SparkPlanInfo]()
  private val sqlStartsMs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  @volatile private var sentinel: CountDownLatch = null

  def stats(tag: String): OpStats = ops.computeIfAbsent(tag, _ => new OpStats)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val tag = Option(js.properties).map(_.getProperty(Key)).orNull
    if (tag != null) {
      stats(tag).jobs += 1
      js.stageIds.foreach(stageOp.put(_, tag))
      Option(js.properties.getProperty("spark.sql.execution.id"))
        .foreach(id => execOp.put(id.toLong, tag))
      jobOp.put(js.jobId, (tag, js.time))
    }
  }

  /** The latest physical plan of each SQL execution: the initial one,
    * then every adaptive re-plan, the last being the final plan. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execPlan.put(s.executionId, s.sparkPlanInfo)
      sqlStartsMs.add(s.time)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => execPlan.put(u.executionId, u.sparkPlanInfo)
    case _ =>
  }

  /** Wall time (ms) of the first SQL execution that started in [t0, t1].
    * Spark posts that event once the execution's physical plan exists. */
  def firstSqlStartMs(t0: Long, t1: Long): Option[Long] = {
    import scala.jdk.CollectionConverters._
    sqlStartsMs.asScala.filter(t => t >= t0 && t <= t1).minOption
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(jobOp.remove(je.jobId)).foreach { case (tag, t0) =>
      if (tag == SentinelTag) { val l = sentinel; if (l != null) l.countDown() }
      else stats(tag).jobSpansMs += ((t0, je.time))
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val tag = stageOp.get(te.stageId)
    val m = te.taskMetrics
    if (tag != null && m != null) {
      val s = stats(tag)
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.taskRunMs += m.executorRunTime
    }
  }

  /** Adds each tagged SQL execution's exchange count to its op. */
  private def countExchanges(): Unit = {
    def count(p: SparkPlanInfo): Int =
      (if (p.nodeName == "Exchange") 1 else 0) + p.children.map(count).sum
    execOp.forEach { (id, tag) =>
      Option(execPlan.get(id)).foreach(p => stats(tag).exchanges += count(p))
    }
    execOp.clear()
  }

  /** Blocks until every event posted before this call has been handled:
    * runs a tagged one-task job and waits for its end event, which the
    * listener bus delivers after all earlier events. */
  def drain(): Unit = {
    val latch = new CountDownLatch(1)
    sentinel = latch
    withOp(sc, SentinelTag)(sc.parallelize(Seq(1), 1).count())
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain in 60 s")
    sentinel = null
    countExchanges()
  }
}

object OpListener {
  val Key = "perfbench.op"
  private val SentinelTag = "sentinel"

  /** The spark.* per-layer metrics over traced ops (batches or queries)
    * that took `wallNs` in total, with `gcMs` of JVM GC time among them. */
  def sparkMetrics(ops: Seq[OpStats], gcMs: Long, wallNs: Long,
                   cores: Int): Map[String, Double] = {
    val n = ops.length.toDouble
    val skew = ops.filter(_.taskRunMs.length > 1).map { s =>
      s.taskRunMs.max / math.max(Main.median(s.taskRunMs.map(_.toDouble).toSeq), 1.0)
    }
    Map(
      "spark.jobs_per_batch" -> ops.map(_.jobs).sum / n,
      "spark.tasks_per_batch" -> ops.map(_.tasks).sum / n,
      "spark.shuffle_bytes" -> ops.map(_.shuffleWriteBytes).sum / n,
      "spark.task_cpu_s" -> ops.map(_.cpuNs).sum / 1e9 / n,
      "spark.gc_s" -> gcMs / 1e3 / n,
      "spark.core_util" -> ops.map(_.runMs).sum * 1e6 / (wallNs.toDouble * cores),
      "spark.task_skew" -> Main.median(skew))
  }

  def withOp[A](sc: SparkContext, tag: String)(f: => A): A = {
    sc.setLocalProperty(Key, tag)
    try f finally sc.setLocalProperty(Key, null)
  }
}
