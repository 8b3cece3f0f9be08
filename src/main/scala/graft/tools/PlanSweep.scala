package graft.tools
object PlanSweep {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(8)
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    // p07 brute-force ANN deliberately streams the corpus against a tiny
    // broadcast query set with no equi-key — its BroadcastNestedLoopJoin is
    // the intended plan (SimilarityOps.bruteTopK scaladoc), not an
    // accidental cartesian.
    // p47/p50/x14 cross-join TINY aggregate relations (a 1-row totals row,
    // a 4-row quantile list) into per-row arithmetic — a keyless broadcast
    // of ≤4 rows plans as BroadcastNestedLoopJoin and that IS the right
    // plan: O(n) stream against a constant-size build side.
    val allowed = Map(
      "p07_ann_brute_topk" -> Set("BroadcastNestedLoop"),
      "p47_quantile_validate" -> Set("BroadcastNestedLoop"),
      "p50_mixture_plan" -> Set("BroadcastNestedLoop"),
      "x14_media_integrity" -> Set("BroadcastNestedLoop"),
      // q51 broadcasts the 1-row global min-ts (funnel key base); p57
      // broadcasts the 1-row stream total (the n div (k+1) bound) — same
      // keyless-constant-build-side class as p47/p50/x14
      "q51_funnel" -> Set("BroadcastNestedLoop"),
      "p57_heavy_hitters" -> Set("BroadcastNestedLoop"),
      // p64 runs bruteTopK twice (quantized + exact rankings) — p07's
      // documented broadcast-query-set plan; q57's rows_before ×
      // rows_deleted is a 1-row-aggregate cross per table
      "p64_quant_recall" -> Set("BroadcastNestedLoop"),
      "q57_cascade_delete" -> Set("BroadcastNestedLoop"),
      // p68 is bruteTopK's documented broadcast-anchor plan with a label
      // exclusion — same keyless small-build-side class as p07
      "p68_hard_negatives" -> Set("BroadcastNestedLoop"),
      // p71 crosses the 1-row total-tokens aggregate into the ranked top-N
      // (coverage ppm); p72 crosses the 1-row (n_a, n_b) totals into the
      // per-value CDF rows — the p47/p50 1-row-aggregate class again
      "p71_vocab_coverage" -> Set("BroadcastNestedLoop"),
      "p72_ks_drift" -> Set("BroadcastNestedLoop"),
      // p80 crosses the 1-row (total, sum_w) aggregate into the per-lang
      // ppm arithmetic — the p47/p50 1-row-aggregate class
      "p80_temperature_mix" -> Set("BroadcastNestedLoop"),
      // p81 crosses the broadcast 10-row checkpoint table (built from the
      // 1-row max-doc_id aggregate) into the first-occurrence scan
      "p81_vocab_growth" -> Set("BroadcastNestedLoop"),
      // p82's singleton row crosses the 1-row corpus total into the 1-row
      // clustered count — two 1-row aggregates
      "p82_cluster_sizes" -> Set("BroadcastNestedLoop"),
      // q79 crosses the 1-row priority-universe count into the per-
      // customer distinct counts — the division's broadcast constant
      "q79_division" -> Set("BroadcastNestedLoop"),
      // q78's non-equi 3-day band join probes the broadcast DAY LIST
      // (≤ |distinct days| rows, a calendar-bounded constant) — the
      // keyless small-build-side class again
      "q78_rolling_distinct" -> Set("BroadcastNestedLoop"),
      // p89 embeds p07's documented broadcast-query-set brute ranking as
      // its recall ground truth — the same keyless plan class as p07
      "p89_ivf_recall_sweep" -> Set("BroadcastNestedLoop"),
      // p141/p145/p151 share graphRecallTable, whose ground truth is
      // bruteTopK: their one BroadcastNestedLoopJoin is its Cross join of
      // the table against the broadcast 10-row query set — p07's plan
      "p141_graph_recall_sweep" -> Set("BroadcastNestedLoop"),
      "p145_graph_descent_recall" -> Set("BroadcastNestedLoop"),
      "p151_graph_insert_recall" -> Set("BroadcastNestedLoop"),
      // p92 crosses the 1-row exact-pair total into the 4-row levels
      // table — the p47/p50 1-row-aggregate class
      "p92_band_sweep" -> Set("BroadcastNestedLoop"),
      // p93 crosses the 1-row (grand, n_sources) total into the
      // source rollup — the p47/p50 1-row-aggregate class
      "p93_repetition_plan" -> Set("BroadcastNestedLoop"),
      // p94 streams the corpus against the broadcast eval-benchmark
      // vectors — p07's documented keyless broadcast-probe class
      "p94_semantic_decon" -> Set("BroadcastNestedLoop"),
      // p104 crosses the 1-row (total, n) aggregate and the 1-row
      // (k, pk, lev, rem) water-level row into the tiny per-source
      // table — the p47/p50 1-row-aggregate class twice over
      "p104_budget_waterfill" -> Set("BroadcastNestedLoop"),
      // p98 crosses the 1-row token-occurrence total into the top-pair
      // lift arithmetic — the p47/p50 1-row-aggregate class
      "p98_pmi_pairs" -> Set("BroadcastNestedLoop"),
      // p101 crosses the constant m=64 register-bucket range into the
      // calendar-bounded day list (the window-union cell grid) — q78's
      // keyless small-build-side class
      "p101_hll_sliding_union" -> Set("BroadcastNestedLoop"),
      // q111 crosses the 1-row digit-count total into the 9-digit ppm
      // arithmetic — the p47/p50 1-row-aggregate class
      "q111_benford" -> Set("BroadcastNestedLoop"),
      // p117 crosses the 1-row predicted-join-size total into the per-key
      // share arithmetic — the p47/p50 1-row-aggregate class
      "p117_join_size_plan" -> Set("BroadcastNestedLoop"),
      // p130 crosses the tiny distinct-lang and distinct-source tables to
      // build the PUBLIC release domain (absent cells must be released
      // too — DP requirement, not a join mistake); both sides are
      // label-cardinality-bounded — q78's keyless small-build-side class
      "p130_dp_histogram" -> Set("BroadcastNestedLoop"))
    // exit 1 when any query printed SMELL or ERROR
    val flagged = graft.SparkEntry.queries.toSeq.sortBy(_._1).count { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        val smells = Seq("CartesianProduct", "BroadcastNestedLoop")
          .filter(plan.contains)
          .filterNot(allowed.getOrElse(name, Set.empty).contains)
        println(s"PLAN $name ${if (smells.isEmpty) "ok" else "SMELL:" + smells.mkString(",")}")
        smells.nonEmpty
      } catch { case e: Throwable =>
        println(s"PLAN $name ERROR ${String.valueOf(e.getMessage).take(80)}"); true }
    }
    spark.stop()
    if (flagged > 0) sys.exit(1)
  }
}
