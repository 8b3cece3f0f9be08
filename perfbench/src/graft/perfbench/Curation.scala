package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import Main.{gcMs, median, nanosSince, percentile}

/** The `curation_queries` workload: 14 contract queries over the graft
  * sf0.01 tables committed under `perfbench/tables/sf0.01`, each result to
  * the `noop` sink, in an order the seed permutes. The seed changes only
  * that order; the tables are the same in every run.
  *
  * Set-up runs every query once (cold) and writes its result as parquet
  * with their `SparkEntry.oracleSqlFor` oracles beside them, for the
  * DuckDB compare `run.py` makes after this JVM exits, and collects the
  * heap so each run starts measuring from the same state. The timed part
  * is then exactly one sweep over the permuted list, whatever `--seconds`
  * says: one sweep takes longer than any `--seconds` the run budget allows.
  */
final class Curation(spark: SparkSession, a: Main.Args) {
  import Curation._

  private val sc = spark.sparkContext
  private val queries = SparkEntry.queries

  private final case class Exec(query: String, ns: Long, ok: Boolean)

  private def exec(q: String): Exec = {
    val t0 = System.nanoTime()
    try {
      queries(q)(spark, a.tables).write.format("noop").mode("overwrite").save()
      Exec(q, nanosSince(t0), ok = true)
    } catch {
      case e: Exception =>
        System.err.println(s"$q failed: $e")
        Exec(q, nanosSince(t0), ok = false)
    }
  }

  /** Runs every query once, writing its result for the oracle compare;
    * returns the queries that threw and each query's cold time. This is
    * set-up, not measurement, so `cores` queries run at a time: their
    * first-run compilation overlaps instead of queueing. */
  private def coldPass(): (Seq[String], Map[String, Double]) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val dir = s"${a.scratch}/oracle"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(a.cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val pending = Queries.map(q => Future {
      val t0 = System.nanoTime()
      val ok = try {
        queries(q)(spark, a.tables).coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
        true
      } catch {
        case e: Exception => System.err.println(s"$q failed: $e"); false
      }
      (q, ok, nanosSince(t0) / 1e9)
    })
    val runs = try Await.result(Future.sequence(pending), Duration.Inf)
      finally pool.shutdown()
    val sql = SparkEntry.oracleSqlFor(a.tables).filter { case (q, _) => Queries.contains(q) }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/oracle_sql.json"), Json.render(sql))
    (runs.filterNot(_._2).map(_._1), runs.map(r => r._1 -> r._3).toMap)
  }

  def run(): Map[String, Any] = {
    val t0 = System.currentTimeMillis()
    val (coldFailed, coldS) = coldPass()
    val order = new scala.util.Random(a.seed).shuffle(Queries)
    System.gc() // every run starts measuring from the same, empty heap
    Main.resetPeakRss()
    val firstOpMs = System.currentTimeMillis()
    val execs = order.map(exec)
    val peakRss = Main.peakRssMb
    val lat = execs.map(_.ns / 1e9)
    val base = Map("first_op_ms" -> firstOpMs, "setup_ok" -> coldFailed.isEmpty,
      "cold_failed" -> coldFailed, "cold_s" -> coldS,
      "order" -> order, "oracle_dir" -> s"${a.scratch}/oracle",
      "latencies_s" -> lat,
      "setup_phases_ms" -> Map("jvm_start" -> Main.jvmStartMs, "session" -> t0,
        "cold_pass" -> firstOpMs))
    val (tracedExecs, tracedOut) =
      if (a.trace) traced(order) else (Seq.empty[Exec], Map.empty[String, Any])
    val all = execs ++ tracedExecs
    val result = base ++ tracedOut ++ Map(
      "executions" -> all.groupBy(_.query).map { case (q, es) => q -> es.length },
      "attempted" -> all.length, "failed" -> all.count(!_.ok))
    if (!a.trace) result ++ Map("e2e" -> Map(
      "op_s_p50" -> median(lat), "op_s_p90" -> percentile(lat, 90),
      "sweep_s" -> lat.sum, "peak_rss_mb" -> peakRss))
    else result
  }

  private final case class Paired(query: String, untracedNs: Seq[Long],
                                  tracedNs: Long, wallMs: (Long, Long), planMs: Long)

  /** Runs after one warm, untimed sweep (the one `run` makes). Each query
    * then runs once more untimed (the first run of a query after another
    * one is 10-80 % slower than the next, on every query), then untraced,
    * traced, untraced, so drift and warm-up hit both sides alike:
    * `M.query_s` and `trace.overhead_frac` come from these pairs. Only the
    * traced run has the listener attached; it attributes jobs, tasks,
    * shuffle and CPU to the query through its op tag, and the query's first
    * SQL execution start (posted once its executed plan exists) gives
    * `plan_s` without planning the query a second time.
    * Module metrics sum over the module's queries. Returns every
    * execution, for the attempted and failed counts, and the per-layer
    * metrics. */
  private def traced(order: Seq[String]): (Seq[Exec], Map[String, Any]) = {
    val spans = new Spans
    val listener = new OpListener(sc)
    val execs = ArrayBuffer.empty[Exec]
    var gc = 0L
    val paired = order.map { q =>
      val w = exec(q)
      val u1 = exec(q)
      sc.addSparkListener(listener)
      val gc0 = gcMs
      val w0 = System.currentTimeMillis()
      val root = spans.open(s"query:$q")
      val t = OpListener.withOp(sc, s"q:$q")(exec(q))
      spans.close(root)
      val w1 = System.currentTimeMillis()
      gc += gcMs - gc0
      listener.drain()
      sc.removeSparkListener(listener)
      val u2 = exec(q)
      execs ++= Seq(w, u1, t, u2)
      val planMs = listener.firstSqlStartMs(w0, w1).map(_ - w0).getOrElse(0L)
      spans.add("spark.plan", root, spans.start(root), spans.start(root) + planMs * 1000000L)
      Paired(q, Seq(u1.ns, u2.ns), t.ns, (w0, w1), planMs)
    }
    val spanFile = s"${a.scratch}/spans.jsonl"
    spans.write(spanFile)

    val stats = paired.map(p => p.query -> listener.stats(s"q:${p.query}")).toMap
    def untracedNs(p: Paired): Double = p.untracedNs.sum / 2.0
    val perModule = Modules.toSeq.flatMap { case (m, qs) =>
      val st = qs.map(stats)
      val ps = paired.filter(p => qs.contains(p.query))
      Seq(
        s"$m.query_s" -> ps.map(untracedNs).sum / 1e9,
        s"$m.jobs" -> st.map(_.jobs).sum.toDouble,
        s"$m.exchanges" -> st.map(_.exchanges).sum.toDouble,
        s"$m.shuffle_mb" -> st.map(_.shuffleWriteBytes).sum / 1e6,
        s"$m.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
        s"$m.plan_s" -> ps.map(_.planMs).sum / 1e3,
        s"$m.driver_s" -> ps.map { p =>
          val (w0, w1) = p.wallMs
          (w1 - w0 - stats(p.query).jobCoverMs(w0, w1)) / 1e3
        }.sum)
    }
    val tracedNs = paired.map(_.tracedNs).sum
    (execs.toSeq, Map("span_file" -> spanFile,
      "paired_s" -> paired.map(p => p.query -> Seq(p.untracedNs.head, p.tracedNs,
        p.untracedNs.last).map(_ / 1e9)).toMap,
      "per_layer" -> (perModule.toMap ++
      OpListener.sparkMetrics(stats.values.toSeq, gc, tracedNs, a.cores) ++ Map(
      "trace.overhead_frac" -> (1.0 - paired.map(untracedNs).sum / tracedNs)))))
  }
}

object Curation {
  /** The module each query's cost is attributed to. p28 and p118 are left
    * out to fit the run budget: p12 keeps SimilarityOps.topPairs and p135
    * keeps LinkageOps measured, and p28/p118 add no module of their own. */
  val Modules: Map[String, Seq[String]] = Map(
    "ops.SimilarityOps" -> Seq("p12_embedding_top_pairs"),
    "ops.DedupOps" -> Seq("p26_dup_clusters"),
    "ops.ProfileOps" -> Seq("p56_profile"),
    "ops.LinkageOps" -> Seq("p135_linkage_multipass"),
    "RelationalQueries" -> Seq("q13_topk_docs", "q14_broadcast_join",
      "q25_percentiles", "q77_rank_movers", "q78_rolling_distinct", "q81_twap",
      "q89_notin_nulls", "q92_yoy_trend", "q97_bitmap_distinct", "q111_benford"))

  val Queries: Seq[String] = Modules.values.flatten.toSeq.sorted
}
