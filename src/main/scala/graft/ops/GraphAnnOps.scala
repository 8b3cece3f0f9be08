package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-based ANN — NSW-style beam search over a deterministic k-NN
  * graph: the index family most production vector stores actually serve
  * from (HNSW and friends), completing the engine's ANN coverage beside
  * brute force (p07), sign-LSH (p08/p40), IVF-Flat (p13/p89) and PQ
  * (p105–p109).
  *
  * Determinism contract (what makes the family oracle-able and
  * partition-invariant): the graph is the EXACT M-NN adjacency with ties
  * broken by neighbor id; the search entry point is the minimum vec_id;
  * and every beam truncation ranks by (score DESC, node_id ASC) with the
  * bit-stable cosine every ANN op shares (index-order fold, established
  * by p07) — so the visited set after H hops is a pure function of the
  * table, independent of partitioning, and the driver's 8-vs-32-core
  * audit covers it like any other op.
  *
  * Scale shape: the adjacency build below is the brute exactness
  * baseline (same broadcast-kernel contract and row guard as
  * `SimilarityOps.topPairs`); at 10^12 rows the build swaps in LSH/IVF
  * candidate generation + NN-descent refinement with the SAME output
  * schema, so search code never changes. The search itself is the
  * Spark-shaped part: each hop is ONE equi-join of the (query, beam)
  * frontier against the adjacency table keyed by node_id (bucketed by
  * node_id in production, so hops are shuffle-light), the per-hop state
  * is bounded by queries × ef × M rows, and per-hop lineage is truncated
  * with localCheckpoint exactly like the CC/Lloyd/BPE driver loops.
  */
object GraphAnnOps {

  /** Degree M of every k-NN graph here: the brute build, the NN-descent
    * build and the insert path keep the top `GraphM` neighbours. */
  private val GraphM = 8

  /** Exact M-nearest-neighbor adjacency: (node_id, rank, neighbor_id),
    * rank 1..`GraphM` by (cosine DESC, neighbor_id ASC). Broadcast-kernel brute
    * build (per-node M-slot insertion against the collected side — same
    * contract, arithmetic and guard as `SimilarityOps.topPairs`): the
    * exactness baseline the 10^12-row NN-descent build is verified
    * against. */
  def buildKnnGraph(emb: DataFrame,
                    maxBroadcastRows: Long = SimilarityOps.BruteRowLimit)
      : DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    SimilarityOps.guardBruteContract("buildKnnGraph", emb, maxBroadcastRows,
      "LSH/IVF candidate generation + NN-descent (same adjacency schema)")
    val vecs = emb.select(col("vec_id").cast("long"),
      col("embedding").cast("array<double>")).as[(Long, Array[Double])]
    val side = vecs.collect().sortBy(_._1) // broadcast side (brute contract)
    val ids = side.map(_._1)
    val es = side.map(_._2)
    val norms = es.map(SimilarityOps.norm)
    val bc = spark.sparkContext.broadcast((ids, es, norms))
    vecs.flatMap { case (aId, ae) =>
      val (ids, es, norms) = bc.value
      val an = SimilarityOps.norm(ae)
      // M-slot insertion sort: better = (score >, or == with smaller id)
      val topScore = new Array[Double](GraphM)
      val topId = new Array[Long](GraphM)
      var filled = 0
      var j = 0
      while (j < ids.length) {
        if (ids(j) != aId) {
          val be = es(j)
          var dot = 0.0
          var i = 0
          while (i < ae.length) { dot += ae(i) * be(i); i += 1 }
          val sc = dot / (an * norms(j))
          var pos = filled
          while (pos > 0 && (topScore(pos - 1) < sc ||
            (topScore(pos - 1) == sc && topId(pos - 1) > ids(j)))) pos -= 1
          if (pos < GraphM) {
            val last = math.min(filled, GraphM - 1)
            var q = last
            while (q > pos) {
              topScore(q) = topScore(q - 1); topId(q) = topId(q - 1); q -= 1
            }
            topScore(pos) = sc; topId(pos) = ids(j)
            if (filled < GraphM) filled += 1
          }
        }
        j += 1
      }
      Iterator.range(0, filled).map(r => (aId, (r + 1).toLong, topId(r)))
    }.toDF("node_id", "rnk", "neighbor_id")
      .orderBy(col("node_id"), col("rnk"))
  }

  /** Shape of [[buildKnnGraphDescent]] (its stages 1–3 below). */
  private val DescentDim = 64
  private val DescentBits = 6
  private val DescentTables = 4
  private[graft] val DescentRounds = 3
  private val DescentMaxBucket = 1024

  /** PRODUCTION-SCALE k-NN-graph construction — sign-LSH candidate
    * seeding + NN-descent refinement (Dong, Moses & Li, "Efficient
    * k-nearest neighbor graph construction for generic similarity
    * measures", WWW 2011) — emitting the SAME `(node_id, rnk,
    * neighbor_id)` adjacency schema as [[buildKnnGraph]], so
    * [[beamVisited]]/[[topKFromVisited]] consume either interchangeably.
    * This closes r4 "What's missing #1": the brute build is now the
    * exactness BASELINE only; this is the constructor a 10^9+-row vector
    * index actually runs.
    *
    * Shape, stage by stage — the vector table is NEVER collected and no
    * stage is quadratic in N:
    *   1. SEED: `DescentTables` independent `DescentBits`-bit sign-LSH
    *      bucketings of the `DescentDim`-dim vectors (the p40
    *      multi-table convention, seed 7 + 1000·t); candidate pairs are
    *      within-bucket with a `DescentMaxBucket` cap on hot buckets (the
    *      p25/p127 documented recall trade) — Σ per-bucket quadratics,
    *      bounded by cap², never N².
    *   2. DESCENT round: the current adjacency plus its REVERSE (capped
    *      at m per node by smallest-source-id, the reverse-sampling of
    *      the paper) gives every node a ≤2m undirected neighborhood;
    *      neighbors OF A COMMON NODE become candidate pairs — ≤ C(2m,2)
    *      pairs per node, linear in N per round. Candidates union the
    *      current edges (good edges persist), are scored with the
    *      bit-stable codegen cosine, and each node keeps top-m by
    *      (score DESC, neighbor_id ASC).
    *   3. Repeat `DescentRounds` times (fixed — deterministic work, no
    *      data-dependent convergence test), truncating lineage per round
    *      with localCheckpoint of the BOUNDED adjacency (≤ N·m rows) —
    *      the CC/Lloyd/BPE driver-loop pattern. Without the truncation
    *      ([[descentRounds]]) the whole build is one lazy Catalyst plan:
    *      constructing it launches ZERO jobs (spec-pinned — the structural
    *      proof nothing in the algorithm materializes the vector table
    *      driver-side).
    *
    * Determinism: buckets, candidate sets, scores and tie-breaks are all
    * pure functions of the table — the output is partition-invariant
    * (spec-pinned under repartition), so the 8-vs-32-core audit covers
    * it like any batch op. Approximation contract: nodes whose buckets
    * are all singletons/capped may emit < m rows (or none) — recall vs
    * the exact graph is MEASURED, not asserted, by the p145 driver row
    * (beam recall over this graph vs p139's brute graph, the p141 sweep
    * pattern). */
  def buildKnnGraphDescent(emb: DataFrame): DataFrame =
    descentRounds(emb, DescentRounds, lineageTruncate = true)

  /** [[buildKnnGraphDescent]] at an explicit round count, with or without
    * the per-round lineage truncation — the spec entry for the fully lazy
    * build, whose plan triples per round (each round reads the previous
    * adjacency three times), so it is executed at 2. */
  private[graft] def descentRounds(emb: DataFrame, rounds: Int,
                                   lineageTruncate: Boolean): DataFrame = {
    val nodes = emb.select(col("vec_id").cast("long").as("node_id"),
      col("embedding").cast("array<double>").as("n_emb"))
    def maybeCk(df: DataFrame): DataFrame =
      if (lineageTruncate) df.localCheckpoint(true) else df

    // rank unordered candidate pairs into a per-node top-m adjacency.
    // r6 shape: ONE exchange instead of three — candidate-pair dedup no
    // longer pays its own `distinct` exchange. Duplicated (node, nb) rows
    // flow into the window (duplicates carry the identical score — cosine
    // is a pure function of the pair, dup multiplicity is bounded by
    // `tables` seeds / common-neighbor counts), are marked by a lag() over
    // the SAME window ordering (equal (score, nb) rows are adjacent in the
    // (score DESC, nb) sort), and row_number runs on the filtered stream —
    // same partitioning+ordering, so Catalyst plans dedup AND rank in one
    // Exchange/Sort (plans/r06 evidence: 3 Exchange → 1 per rankTopM call).
    // Output rows are bit-identical to the old distinct-first formulation.
    def rankTopM(pairs: DataFrame): DataFrame = {
      val directed = pairs
        .select(col("u").as("node_id"), col("v").as("nb"))
        .unionByName(pairs.select(col("v").as("node_id"), col("u").as("nb")))
      val scored = directed
        .join(nodes.select(col("node_id"), col("n_emb").as("a_emb")),
          "node_id")
        .join(nodes.select(col("node_id").as("nb"), col("n_emb").as("b_emb")),
          "nb")
        .select(col("node_id"), col("nb"),
          SimilarityOps.cosine(col("a_emb"), col("b_emb")).as("score"))
      val w = Window.partitionBy(col("node_id"))
        .orderBy(col("score").desc, col("nb"))
      scored
        .withColumn("prev_nb", lag(col("nb"), 1).over(w))
        .where(col("prev_nb").isNull || col("prev_nb") =!= col("nb"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= GraphM)
        .select(col("node_id"), col("rnk"), col("nb").as("neighbor_id"))
    }

    // 1. multi-table sign-LSH seeding (seed-pair dedup is now inside
    // rankTopM's windowed lag — no standalone `distinct` exchange)
    val buckets = (0 until DescentTables).map { t =>
      val planes = SimilarityOps.hyperplanes(DescentDim, DescentBits,
        seed = 7L + 1000L * t)
      nodes.select(col("node_id"), lit(t).as("tbl"),
        graft.functions.functions.sign_lsh_bucket(col("n_emb"), planes)
          .as("bkt"))
    }.reduce(_ unionByName _)
    val okBuckets = buckets.groupBy(col("tbl"), col("bkt"))
      .agg(count(lit(1)).as("bn")).where(col("bn") <= DescentMaxBucket)
      .select(col("tbl"), col("bkt"))
    val pruned = buckets.join(okBuckets, Seq("tbl", "bkt"))
    val seedPairs = pruned.as("a").join(pruned.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
          col("a.node_id") < col("b.node_id"))
      .select(col("a.node_id").as("u"), col("b.node_id").as("v"))
    var adj = maybeCk(rankTopM(seedPairs))

    // 2-3. NN-descent rounds over bounded neighborhoods. The three
    // intermediate `distinct` exchanges of the r5 shape are gone: every
    // candidate stream dedups exactly once, inside rankTopM (duplicate
    // fan-out stays bounded — ≤ C(2m,2) candidates per common node and
    // ≤ 2× from the fwd/rev union — so dup scoring is cheaper than the
    // exchanges it replaces).
    var r = 0
    while (r < rounds) {
      val fwd = adj.select(col("node_id").as("c"), col("neighbor_id").as("w"))
      val wRev = Window.partitionBy(col("c")).orderBy(col("w"))
      val rev = adj
        .select(col("neighbor_id").as("c"), col("node_id").as("w"))
        .withColumn("rr", row_number().over(wRev)).where(col("rr") <= GraphM)
        .drop("rr")
      val und = fwd.unionByName(rev)
      val cand = und.as("x").join(und.as("y"),
          col("x.c") === col("y.c") && col("x.w") < col("y.w"))
        .select(col("x.w").as("u"), col("y.w").as("v"))
      val cur = adj.select(
        least(col("node_id"), col("neighbor_id")).as("u"),
        greatest(col("node_id"), col("neighbor_id")).as("v"))
      adj = maybeCk(rankTopM(cand.unionByName(cur)))
      r += 1
    }
    adj.orderBy(col("node_id"), col("rnk"))
  }

  /** Beam search VISITED set: starting every query at the global minimum
    * vec_id, expand the beam's adjacency `SweepHops` times, after each hop
    * keeping the top-`BeamEf` visited nodes per query as the next beam.
    * Returns every (query_id, node_id) ever visited — the candidate dump
    * the oracle re-ranks (the p13/p89 pattern: the walk's OUTPUT is
    * verified exactly even though the walk itself is not SQL).
    *
    * Per hop: one equi-join frontier⋈adjacency on node_id + one bounded
    * window truncation; visited ≤ 1 + hops·ef·M rows per query. */
  def beamVisited(emb: DataFrame, graph: DataFrame): DataFrame =
    beamVisitedSweep(emb, graph, Seq(BeamEf))
      .select(col("query_id"), col("node_id"))
      .orderBy(col("query_id"), col("node_id"))

  /** Beam width of [[beamVisited]] and of the insert path's walk. */
  private val BeamEf = 8

  /** Hops of the query walk ([[beamVisited]], [[beamVisitedSweep]]) and of
    * the insert path's walk. */
  private val SweepHops = 5
  private val InsertHops = 3

  /** Multi-`ef` beam sweep in ONE pass (r6): the p141/p145/p151 recall
    * sweeps run the SAME walk at ef ∈ {2, 8, 32}; the searches never
    * interact, so tagging all state with an `ef` column and keying every
    * window/aggregate by (ef, query_id) computes all of them with one
    * exchange per step instead of one per ef — and one localCheckpoint
    * job per hop instead of three (r5 paid 2 checkpoints × hops × efs).
    * Each ef-slice of the output is row-identical to an independent
    * [[beamVisited]] run at that ef (spec-pinned). The walk runs
    * `SweepHops` hops for the first `SimilarityOps.RecallQueries`
    * vectors. Output columns: (query_id, node_id, ef). */
  def beamVisitedSweep(emb: DataFrame, graph: DataFrame,
                       efs: Seq[Int]): DataFrame = {
    // 1-row driver scalar: the deterministic entry point (null on an
    // empty table, whose query set is empty too, so any entry will do)
    val r = emb.agg(min(col("vec_id").cast("long"))).head()
    val entry = if (r.isNullAt(0)) 0L else r.getLong(0)
    beamVisitedSweepFor(emb, graph, SimilarityOps.recallQueries(emb), efs, SweepHops, entry)
  }

  /** The sweep core, from an explicit query set (query_id, q_emb) and
    * entry node: the insert path's queries are the new vectors (not yet
    * in the graph) and its entry must be a node the graph contains. r6
    * hop shape (vs r5's): scores are computed ONCE per
    * newly-reached (query, node) and carried in the visited state — the
    * r5 loop re-scored the ENTIRE visited set every hop — and the per-hop
    * dedup is a (ef, query, node) aggregate (max(score) over copies of the
    * bit-identical pure-function score), so each hop is one eager job:
    * groupBy exchange + (lazy, next-hop) beam window. Nodes absent from
    * `emb` stay in the visited dump but never enter the beam (score NULL,
    * filtered before ranking) — exactly the r5 inner-join-scored
    * semantics. */
  private def beamVisitedSweepFor(emb: DataFrame, graph: DataFrame,
                                  queries: DataFrame, efs: Seq[Int], hops: Int,
                                  entry: Long): DataFrame = {
    val adj = graph.select(col("node_id"), col("neighbor_id"))
    val nodes = emb.select(col("vec_id").cast("long").as("node_id"),
      col("embedding").cast("array<double>").as("n_emb"))
    // score new arrivals; LEFT join keeps graph nodes missing from emb in
    // the visited set (score NULL → excluded from the beam, as in r5)
    def scoreNew(df: DataFrame): DataFrame = df
      .join(nodes, Seq("node_id"), "left")
      .join(broadcast(queries), "query_id")
      .select(col("ef"), col("query_id"), col("node_id"),
        when(col("n_emb").isNotNull,
          SimilarityOps.cosine(col("q_emb"), col("n_emb")))
          .as("score"))
    val efArr = array(efs.map(e => lit(e.toLong)): _*)
    var visited = scoreNew(
      queries.select(col("query_id"), explode(efArr).as("ef"),
        lit(entry).as("node_id")))
      .localCheckpoint(true)
    var h = 0
    while (h < hops) {
      val w = Window.partitionBy(col("ef"), col("query_id"))
        .orderBy(col("score").desc, col("node_id"))
      val beam = visited.where(col("score").isNotNull)
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= col("ef"))
        .select(col("ef"), col("query_id"), col("node_id"))
      val expanded = beam.join(adj, "node_id")
        .select(col("ef"), col("query_id"), col("neighbor_id").as("node_id"))
      visited = visited.unionByName(scoreNew(expanded))
        .groupBy(col("ef"), col("query_id"), col("node_id"))
        .agg(max(col("score")).as("score"))
        .localCheckpoint(true) // per-hop lineage truncation — ONE job/hop
      h += 1
    }
    visited.select(col("query_id"), col("node_id"), col("ef"))
  }

  /** INCREMENTAL graph insert — the HNSW insertion primitive, batched:
    * each new vector beam-searches the EXISTING graph for candidates
    * (`BeamEf` wide, `InsertHops` hops), links to its top-`GraphM` by
    * (cosine DESC, id ASC), and the touched existing nodes re-rank their
    * edge set — old edges ∪ new back-edges, keep top-M — so degrees stay capped and
    * a closer new neighbor evicts the worst old edge exactly as HNSW's
    * neighbor-selection prune does. Everything is joins over bounded
    * state: the delta's beam (≤ hops·ef·M candidates per new vector), one
    * scoring join, two window truncations; the full vector table is
    * never collected and old nodes untouched by back-edges keep their
    * adjacency bit-identical (re-ranking an already cosine-ranked list
    * is idempotent).
    *
    * Batch-vs-sequential contract (documented, measured by the p151
    * recall row): inserting a BATCH connects each new vector to the
    * existing graph only — intra-batch edges do not form (sequential
    * insertion or a follow-up descent round adds them). Recall over the
    * merged graph is therefore the honest lower bound of the insert
    * path.
    *
    * Input contract: `emb` must be the MERGED vector table (base ∪ delta)
    * — the back-edge re-rank and the beam scoring both resolve embeddings
    * for delta ids through `emb`, so a base-only table silently loses
    * every back-edge. Likewise every node of `graph` (including the beam
    * entry, its min node_id) must appear in `emb`.
    *
    * r6 incremental shape (the r5 "weak" fix): only nodes that actually
    * RECEIVE a back-edge re-rank their adjacency; every untouched node's
    * rows pass through verbatim — no cosine, no window. This is
    * output-identical for any rank-consistent graph (one whose stored rnk
    * already orders by (cosine DESC, neighbor ASC), which every builder
    * here produces — re-ranking an already-ranked list is idempotent),
    * and it makes the per-batch cost O(|delta| · ef · M) scored rows plus
    * one semi/anti-join over the adjacency — not a full-graph rescore
    * (GraphAnnSpec pins the pass-through behaviorally: a deliberately
    * rank-corrupted untouched node survives the insert bit-identical,
    * which a rescoring implementation would repair). */
  def insertIntoGraph(emb: DataFrame, graph: DataFrame,
                      delta: DataFrame): DataFrame = {
    val nodes = emb.select(col("vec_id").cast("long").as("node_id"),
      col("embedding").cast("array<double>").as("n_emb"))
    val dq = delta.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").cast("array<double>").as("q_emb"))
    // 1-row driver scalar: entry must be a node the OLD graph contains;
    // an empty graph has no node to link the delta to
    val first = graph.agg(min(col("node_id"))).head()
    if (first.isNullAt(0))
      return graph.select(col("node_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"))
    val entry = first.getLong(0)
    val visited = beamVisitedSweepFor(emb, graph, dq, Seq(BeamEf), InsertHops,
        entry)
      .select(col("query_id"), col("node_id"))
      .orderBy(col("query_id"), col("node_id"))
    val scored = visited
      .where(col("node_id") =!= col("query_id"))
      .join(nodes, "node_id")
      .join(dq, "query_id")
      .select(col("query_id"), col("node_id"),
        SimilarityOps.cosine(col("q_emb"), col("n_emb")).as("score"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("node_id"))
    val newFwd = scored.withColumn("rnk", row_number().over(wq).cast("long"))
      .where(col("rnk") <= GraphM)
      .select(col("query_id").as("node_id"), col("rnk"),
        col("node_id").as("neighbor_id"))
    // back-edges: ONLY nodes receiving a reverse edge re-rank
    // (old-touched ∪ reverse) top-m; the two union legs are disjoint row
    // sets (old neighbors are base nodes, reverse targets are delta
    // nodes) and each is internally duplicate-free, so no dedup exchange
    // is needed
    val revCand = newFwd.select(col("neighbor_id").as("node_id"),
      col("node_id").as("nb"))
    val touched = revCand.select(col("node_id")).distinct()
    val oldTouched = graph
      .join(touched, Seq("node_id"), "left_semi")
      .select(col("node_id"), col("neighbor_id").as("nb"))
    val merged = oldTouched.unionByName(revCand)
      .join(nodes.select(col("node_id"), col("n_emb").as("a_emb")),
        "node_id")
      .join(nodes.select(col("node_id").as("nb"), col("n_emb").as("b_emb")),
        "nb")
      .select(col("node_id"), col("nb"),
        SimilarityOps.cosine(col("a_emb"), col("b_emb")).as("score"))
    val wn = Window.partitionBy(col("node_id"))
      .orderBy(col("score").desc, col("nb"))
    val rerankedTouched = merged
      .withColumn("rnk", row_number().over(wn).cast("long"))
      .where(col("rnk") <= GraphM)
      .select(col("node_id"), col("rnk"), col("nb").as("neighbor_id"))
    // untouched adjacency passes through verbatim (rnk already ranked)
    val untouched = graph
      .select(col("node_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"))
      .join(touched, Seq("node_id"), "left_anti")
    untouched.unionByName(rerankedTouched).unionByName(newFwd)
      .orderBy(col("node_id"), col("rnk"))
  }

  /** Exact re-rank of a visited/candidate set: top-`RecallK` per query
    * (the first `RecallQueries` vectors) by (cosine DESC, neighbor_id
    * ASC), self-matches excluded — identical
    * scoring path to `SimilarityOps.bruteTopK`, restricted to the
    * candidates. Output (query_id, rank, neighbor_id). */
  def topKFromVisited(emb: DataFrame, visited: DataFrame): DataFrame = {
    val queries = SimilarityOps.recallQueries(emb)
    val nodes = emb.select(col("vec_id").cast("long").as("node_id"),
      col("embedding").cast("array<double>").as("n_emb"))
    val scored = visited
      .where(col("node_id") =!= col("query_id"))
      .join(nodes, "node_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("node_id").as("neighbor_id"),
        SimilarityOps.cosine(col("q_emb"), col("n_emb")).as("score"))
    SimilarityOps.rankTopK(scored, SimilarityOps.RecallK)
  }

  /** Multi-ef [[topKFromVisited]] (r6): ONE scoring pass + ONE
    * `TopK.TopKIds` aggregation over the ef-tagged visited dump, keyed by
    * (ef, query_id) — each ef-slice's top-k set is identical to the
    * per-slice call (same aggregator: score DESC, id ASC). Rank is
    * dropped: the recall join consumes the SET. `SimilarityOps.RecallK`
    * neighbours per (ef, query) of the first `RecallQueries` vectors. Output
    * (ef, query_id, neighbor_id). */
  def topKFromVisitedSweep(emb: DataFrame, visited: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val queries = SimilarityOps.recallQueries(emb)
    val nodes = emb.select(col("vec_id").cast("long").as("node_id"),
      col("embedding").cast("array<double>").as("n_emb"))
    visited
      .where(col("node_id") =!= col("query_id"))
      .join(nodes, "node_id")
      .join(broadcast(queries), "query_id")
      .select(col("ef"), col("query_id"), col("node_id").as("neighbor_id"),
        SimilarityOps.cosine(col("q_emb"), col("n_emb")).as("score"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(r => (r._1, r._2))
      .mapValues(r => (0L, r._3, r._4))
      .agg(new TopK.TopKIds(SimilarityOps.RecallK).toColumn.name("topk"))
      .toDF("key", "topk")
      .select(col("key._1").as("ef"), col("key._2").as("query_id"),
        explode(col("topk")).as("neighbor_id"))
  }
}
