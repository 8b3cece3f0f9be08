package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Physical-plan assertions for the scale claims the query comments make:
  * these are the properties that decide whether a plan survives 100× data,
  * so they are pinned by tests, not prose. Runs the driver queries over
  * miniature driver-shaped parquet tables (the unit-suite smoke path for
  * the q-/p-query lambdas, which otherwise only run driver-side). */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** Temp dir with miniature events/orders/documents tables. */
  private lazy val dir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_plan").toString
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    (0 until 200).map { i =>
      (i.toLong, new java.sql.Timestamp(ts0.getTime + i * 600000L), (i % 10).toLong,
        if (i % 3 == 0) "purchase" else "click", i * 1.5, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    (0 until 90).map { i =>
      (i.toLong, (i % 30).toLong, Seq("F", "O", "P")(i % 3), 100.0 + i,
        new java.sql.Timestamp(ts0.getTime + i * 86400000L), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    (0 until 40).map { i =>
      (i.toLong, s"alpha beta tok$i gamma delta tok${i % 7}",
        Seq("en", "fr")(i % 2), s"src${i % 3}", 30L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    (0 until 300).map { i =>
      ((i % 90).toLong, (i % 25).toLong, (i % 7).toLong, 1.0 + i % 5,
        50.0 + i, Seq("A", "N", "R")(i % 3),
        new java.sql.Timestamp(ts0.getTime + i * 43200000L))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
      "l_extendedprice", "l_returnflag", "l_shipdate")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    d
  }

  /** Build a DataFrame with AQE off so the static plan is inspectable —
    * with AQE on, executedPlan is an AdaptiveSparkPlanExec leaf that hides
    * the tree from collect(). Production keeps AQE on; these tests pin the
    * plan Catalyst produces, which AQE only refines (it cannot add
    * shuffles the static plan avoided). */
  private def staticPlan(build: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.SparkPlan = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try build.queryExecution.executedPlan
    finally spark.conf.set(key, prev)
  }

  private def shuffles(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    plan.collect { case e: ShuffleExchangeExec => e }.size

  test("q24 sessionize: ONE shuffle — lag/sum windows and the session rollup " +
    "all reuse the user_id partitioning") {
    val df = RelationalQueries.queries("q24_sessionize")(spark, dir)
    val plan = staticPlan(df)
    assert(shuffles(plan) === 1, s"plan:\n$plan")
    assert(df.count() > 0)
  }

  test("q25 percentiles: both windows share the o_orderstatus partitioning " +
    "(one shuffle)") {
    val df = RelationalQueries.queries("q25_percentiles")(spark, dir)
    val plan = staticPlan(df)
    assert(shuffles(plan) === 1, s"plan:\n$plan")
    assert(df.count() === 9) // 3 statuses × 3 quantiles
  }

  test("q13 top-k compiles to TakeOrderedAndProject — never a global sort") {
    val df = RelationalQueries.queries("q13_topk_docs")(spark, dir)
    val plan = staticPlan(df).toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
    assert(!plan.contains("Sort ["), s"global sort crept in:\n$plan")
  }

  test("q40 lateral positions: exploded rows never shuffle — the partial " +
    "aggregate combines inside the Generate stage") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val df = RelationalQueries.queries("q40_lateral_positions")(spark, dir)
    val plan = staticPlan(df)
    val genStages = plan.collect { case e: ShuffleExchangeExec
      if e.child.collect { case g: GenerateExec => g }.nonEmpty &&
         e.child.collect { case s: ShuffleExchangeExec => s }.isEmpty => e }
    assert(genStages.size === 1, s"plan:\n$plan")
    assert(genStages.head.child.collect { case h: HashAggregateExec => h }.nonEmpty,
      s"raw exploded rows reach the shuffle:\n$plan")
    assert(df.count() > 0)
  }

  test("p65 containment: raw text never reaches an exchange — only " +
    "(doc_id, fp) rows and small aggregates shuffle") {
    val df = PipelineOpsQueries.queries("p65_containment")(spark, dir)
    val plan = staticPlan(df)
    val textThroughShuffle = plan.collect { case e: ShuffleExchangeExec
      if e.child.output.exists(_.name == "text") => e }
    assert(textThroughShuffle.isEmpty, s"text column shuffled:\n$plan")
    assert(df.count() > 0) // the near-identical miniature docs must pair
  }

  test("q42 latest-wins: max_by aggregation — one shuffle, never a " +
    "per-key window sort") {
    val df = RelationalQueries.queries("q42_latest_wins")(spark, dir)
    val plan = staticPlan(df)
    assert(shuffles(plan) === 1, s"plan:\n$plan")
    assert(!plan.toString.contains("Window"), s"window crept in:\n$plan")
    assert(df.count() > 0)
  }

  test("q46 grouped top-k: bounded-heap aggregation with a map-side " +
    "partial — one shuffle, never a per-key window sort") {
    val df = RelationalQueries.queries("q46_grouped_topk")(spark, dir)
    val plan = staticPlan(df)
    assert(shuffles(plan) === 1, s"plan:\n$plan")
    assert(!plan.toString.contains("Window"), s"window crept in:\n$plan")
    // typed Aggregator plans as ObjectHashAggregate with a partial phase
    assert(plan.toString.contains("ObjectHashAggregate"), s"plan:\n$plan")
    assert(df.count() > 0)
  }

  test("q51 funnel: one user repartition + one 1-row min aggregate — " +
    "never a window funnel or per-step self-joins") {
    val df = RelationalQueries.queries("q51_funnel")(spark, dir)
    val plan = staticPlan(df)
    assert(shuffles(plan) <= 2, s"plan:\n$plan") // min-agg + repartition
    assert(!plan.toString.contains("Window"), s"window crept in:\n$plan")
    assert(df.count() > 0)
  }

  test("q49 scd2: exactly the one window shuffle, no self-join") {
    val df = RelationalQueries.queries("q49_scd2_versions")(spark, dir)
    val plan = staticPlan(df)
    assert(shuffles(plan) === 1, s"plan:\n$plan")
    assert(plan.toString.contains("Window"), s"plan:\n$plan")
    assert(!plan.toString.toLowerCase.contains("join"), s"plan:\n$plan")
  }

  test("p55 phrase search: postings filtered to the phrase's tokens " +
    "before the single doc_id hash shuffle (plus only the output sort)") {
    val df = PipelineOpsQueries.queries("p55_phrase_search")(spark, dir)
    val s = staticPlan(df).toString
    // one keyed exchange; the trailing rangepartitioning is the ORDER BY
    assert("hashpartitioning".r.findAllIn(s).size === 1, s"plan:\n$s")
    // the token IN-filter must sit UNDER the exchange (map side), so the
    // shuffle carries only phrase-token postings, never the full corpus;
    // the partial collect_list proves map-side pre-aggregation
    val filterIdx = s.indexOf(" IN (slow,hash,batch)")
    val exchangeIdx = s.indexOf("Exchange hashpartitioning")
    assert(filterIdx > exchangeIdx && exchangeIdx >= 0, s"plan:\n$s")
    assert(s.contains("partial_collect_list"), s"plan:\n$s")
  }

  test("p56 profile: approx_count_distinct tracks the exact cardinality " +
    "within HLL++ error — the 10^12-row swap the scaladoc commits to") {
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val row = o.agg(
      countDistinct(col("o_custkey")).as("exact"),
      approx_count_distinct(col("o_custkey"), 0.02).as("approx")).collect()(0)
    val (exact, approx) = (row.getLong(0), row.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact <= 0.05,
      s"exact=$exact approx=$approx")
  }

  test("q44 null-safe join: EqualNullSafe stays a broadcast HASH join — " +
    "never a nested loop") {
    val df = RelationalQueries.queries("q44_nullsafe_join")(spark, dir)
    val plan = staticPlan(df).toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(df.count() > 0)
  }

  test("p23 tfidf top-k: idf and query sides broadcast; no cartesian") {
    val df = graft.ops.CorpusOps.tfidfTopK(
      spark.read.parquet(s"$dir/documents.parquet"))
    val plan = staticPlan(df).toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), s"plan:\n$plan")
    assert(df.count() > 0)
  }

  test("q26 pivot with explicit values: no distinct-collect pre-pass " +
    "(single aggregate pair over the scan)") {
    val df = RelationalQueries.queries("q26_pivot_mixture")(spark, dir)
    // pivot with explicit values = the (source,lang) partial + source final
    // aggregate pair, two shuffles; an implicit pivot would additionally run
    // a separate distinct-collect job before planning, and a tail sort would
    // add a range-partition exchange
    val plan = staticPlan(df)
    assert(shuffles(plan) <= 2, s"plan:\n$plan")
    assert(df.count() === 3) // src0..src2
  }

  test("p27 decontaminate (broadcast path): bench set broadcasts — corpus " +
    "grams shuffle only for the final per-doc count, never for the overlap") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val plan = staticPlan(graft.ops.CorpusOps.decontaminate(
      d.where(col("doc_id") % 20 =!= 0), d.where(col("doc_id") % 20 === 0)))
    // exchanges: ONE on the (tiny) bench side for its distinct, ONE on the
    // (already joined-down) matched grams for the per-doc count — the
    // corpus gram stream itself reaches the overlap join without shuffling
    assert(shuffles(plan) === 2, s"plan:\n$plan")
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"plan:\n$plan")
    assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"plan:\n$plan")
  }

  test("q69 co-purchase: the basket self-join REUSES the distinct " +
    "item-set exchange (one scan side shuffled once, not twice) and the " +
    "top-100 compiles to TakeOrderedAndProject, never a global sort") {
    val df = RelationalQueries.queries("q69_copurchase")(spark, dir)
    val plan = staticPlan(df)
    val s = plan.toString
    assert(s.contains("ReusedExchange"), s"plan:\n$plan")
    assert(s.contains("TakeOrderedAndProject"), s"plan:\n$plan")
    assert(!s.contains("Sort ["), s"global sort leaked:\n$plan")
  }

  test("q72 weighted median: per-price pre-agg, then BOTH windows and the " +
    "final rollup share the flag partitioning — two keyed shuffles " +
    "(the only other exchange is the presentation orderBy's range split)") {
    val df = RelationalQueries.queries("q72_weighted_median")(spark, dir)
    val plan = staticPlan(df)
    val keyed = plan.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }.size
    assert(keyed === 2, s"plan:\n$plan")
    assert(df.count() === 3)
  }

  test("q83 recursive CTE executes via UnionLoopExec (Spark 4's native " +
    "recursion), not a hand-unrolled union") {
    val df = RelationalQueries.queries("q83_recursive_rollup")(spark, dir)
    val plan = staticPlan(df)
    assert(plan.toString.contains("UnionLoop"), s"plan:\n$plan")
    assert(df.count() === 10)
  }

  test("thresholdPairs: one narrow pass — zero shuffles in the pair kernel") {
    import spark.implicits._
    val vecs = (0L until 20L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 8.0 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val plan = staticPlan(
      graft.ops.SimilarityOps.thresholdPairs(vecs, minCosine = 0.99))
    assert(shuffles(plan) === 0, s"plan:\n$plan")
  }

  test("approx_percentile tracks the exact rank-based percentiles (q25's " +
    "10^12-row path) within the sketch's rank-error bound") {
    val accuracy = 10000L
    val exact = RelationalQueries.queries("q25_percentiles")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cents = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderstatus").as("st"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val approx = cents
      .groupBy(col("st"))
      .agg(percentile_approx(col("cents"), array(lit(0.25), lit(0.5), lit(0.75)),
        lit(accuracy)).as("qs"))
      .collect().flatMap { r =>
        val qs = r.getSeq[Long](1)
        Seq(25L, 50L, 75L).zip(qs).map { case (q, v) => (r.getString(0), q) -> v }
      }.toMap
    // Greenwald-Khanna's contract is a RANK guarantee, not a value one: the
    // returned value's rank is within n/accuracy of the target rank. Assert
    // exactly that bound (computed per group), plus the informal value
    // proximity the plan comment promises. This is what licenses swapping
    // the sketch for the exact window formulation at 10^12 rows.
    val byGroup = cents.collect()
      .groupBy(_.getString(0)).map { case (st, rows) =>
        st -> rows.map(_.getLong(1)).sorted
      }
    exact.foreach { case (k @ (st, q), ev) =>
      val av = approx(k)
      val sorted = byGroup(st)
      val n = sorted.length
      val targetRank = (q * n + 99) / 100 // same ceil the exact query uses
      // rank of the approx value = count of elements <= av (upper bound —
      // any position inside a duplicate run satisfies the guarantee)
      val lo = sorted.count(_ < av)
      val hi = sorted.count(_ <= av)
      val rankErr =
        if (targetRank < lo) lo - targetRank
        else if (targetRank > hi) targetRank - hi
        else 0L
      val bound = n / accuracy + 1
      assert(rankErr <= bound,
        s"$k exact=$ev approx=$av rank_err=$rankErr > bound=$bound (n=$n)")
      assert(math.abs(av - ev).toDouble / ev < 0.02, s"$k exact=$ev approx=$av")
    }
  }

  test("q91 merge-hinted join compiles to SortMergeJoin — the large×large " +
    "plan class where broadcast can't serve at 10^12 rows") {
    val df = RelationalQueries.queries("q91_smj_rollup")(spark, dir)
    val plan = staticPlan(df).toString
    assert(plan.contains("SortMergeJoin"), s"plan:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(df.count() > 0)
  }

  test("p110 feature-table export is ONE scan with ZERO shuffles — the " +
    "wide quality-feature frame costs exactly one pass at 10^12 docs") {
    val plan = staticPlan(
      PipelineOpsQueries.queries("p110_feature_table")(spark, dir))
    assert(shuffles(plan) === 0, s"plan:\n$plan")
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size === 1, s"expected one scan:\n$plan")
    // "*(n)" is simpleString's whole-stage-codegen marker
    assert(plan.toString.contains("*("), s"no codegen span:\n$plan")
  }

  test("q105 shuffle_hash-hinted join compiles to ShuffledHashJoin with no " +
    "sort on either side — the large×large strategy when partitions fit " +
    "executor memory and the SMJ sort would dominate") {
    val df = RelationalQueries.queries("q105_shj_rollup")(spark, dir)
    val plan = staticPlan(df).toString
    assert(plan.contains("ShuffledHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"plan:\n$plan")
    assert(df.count() > 0)
  }

  test("AQE converts a statically-planned SortMergeJoin to broadcast at " +
    "runtime when the built side turns out tiny — the re-plan that saves " +
    "an exchange when a filter is more selective than the stats say") {
    val k1 = "spark.sql.autoBroadcastJoinThreshold"
    val k2 = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val p1 = spark.conf.get(k1)
    val p2 = spark.conf.getOption(k2)
    // static planner may NOT broadcast (threshold 1 byte); the ADAPTIVE
    // threshold stays real, so only the runtime-observed size can flip it
    spark.conf.set(k1, "1")
    spark.conf.set(k2, "10485760")
    try {
      val big = spark.range(0, 50000)
        .select((col("id") % 997).as("k"), col("id").as("payload"))
      val small = spark.range(0, 50000).where(col("id") % 5000 === 0)
        .groupBy((col("id") % 997).as("k")).agg(count(lit(1)).as("c"))
      val j = big.join(small, "k").groupBy()
        .agg(sum(col("payload")).as("sp"), sum(col("c")).as("sc"))
      assert(j.collect()(0).getLong(0) > 0)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"plan:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"AQE did not convert the join:\n$plan")
      // the same runtime stats also coalesce the tiny shuffle partitions
      assert(plan.contains("AQEShuffleRead"), s"plan:\n$plan")
    } finally {
      spark.conf.set(k1, p1)
      p2 match {
        case Some(v) => spark.conf.set(k2, v)
        case None => spark.conf.unset(k2)
      }
    }
  }

  test("AQE-native skew split triggers on planted skew: OptimizeSkewedJoin " +
    "marks the SortMergeJoin skew=true — the runtime companion to the " +
    "manual salted join q31 oracles (north_rule: salting + AQE for " +
    "media-heavy skew)") {
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      // keep the coalescer from merging everything back below the probe
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1KB")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 95% of the probe side lands on ONE join key → one shuffle
      // partition dwarfs the rest by far more than factor 2
      val big = spark.range(0, 200000)
        .select(when(col("id") % 20 =!= 0, lit(7L)).otherwise(col("id") % 97)
          .as("k"), col("id").as("payload"))
      val right = spark.range(0, 2000)
        .select((col("id") % 97).as("k"), (col("id") * 3).as("w"))
      val j = big.join(right, "k")
        .groupBy().agg(sum(col("payload") + col("w")).as("s"))
      assert(j.collect()(0).getLong(0) > 0L)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"plan:\n$plan")
      assert(plan.contains("skew=true"),
        s"OptimizeSkewedJoin did not trigger:\n$plan")
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
