package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.GraphAnnOps

class GraphAnnSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** 4 tight clusters of 12 vectors each around orthogonal axes of a
    * 64-dim space (the NN-descent build hashes 64-dim vectors), small
    * deterministic within-cluster jitter so ranks are strict. 12 > M + 1,
    * so every node's M = 8 nearest neighbours lie in its own cluster. */
  private def clustered() = {
    val rows = for {
      c <- 0 until 4
      i <- 0 until 12
    } yield {
      val base = Array.fill(64)(0.05f)
      base(c) = 1f + 0.01f * i // axis-dominant, distinct norms
      ((c * 12 + i).toLong, base)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("knn graph: nearest neighbors are within-cluster, ranks strict, " +
    "ties impossible by construction, layout-invariant") {
    val e = clustered()
    val g = GraphAnnOps.buildKnnGraph(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every node has exactly 8 neighbors, all from its own 12-cluster
    assert(g.length === 48 * 8)
    g.foreach { case (node, _, nbr) =>
      assert(node / 12 === nbr / 12,
        s"node $node got out-of-cluster neighbor $nbr")
    }
    val g2 = GraphAnnOps.buildKnnGraph(e.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(g2.sortBy(x => (x._1, x._2)).toSeq ===
      g.sortBy(x => (x._1, x._2)).toSeq)
  }

  test("knn graph: cosine ties break by smaller neighbor id") {
    // 0 and 1 identical; 2 and 3 identical and orthogonal to them —
    // node 0's list must rank 1 (cosine 1) then 2 before 3 (tie on id);
    // 4 nodes give each node 3 of its 8 slots
    val e = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0f)),
      (2L, Array(0f, 1f)), (3L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val g = GraphAnnOps.buildKnnGraph(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(g.filter(_._1 == 0L).sortBy(_._2).map(_._3).toSeq ===
      Seq(1L, 2L, 3L))
    assert(g.filter(_._1 == 3L).sortBy(_._2).map(_._3).toSeq ===
      Seq(2L, 0L, 1L))
  }

  test("beam search: visited grows with ef, recall@k is perfect once the " +
    "beam covers the graph, and the walk is layout-invariant") {
    val e = clustered()
    val g = GraphAnnOps.buildKnnGraph(e)
    // entry is node 0 (cluster 0); queries are vec_ids 0..9 (cluster 0),
    // so with a wide beam every query's own cluster is fully reachable.
    // The sweep walks at ef 1 and 8: at ef 1, query 0's beam never leaves
    // the entry, so it visits only node 0 and its 8 neighbours
    val sweep = GraphAnnOps.beamVisitedSweep(e, g, Seq(1, 8))
    val visNarrow = sweep.where(col("ef") === 1)
    assert(visNarrow.count() < sweep.where(col("ef") === 8).count())
    val visWide = GraphAnnOps.beamVisited(e, g)
    val top = GraphAnnOps.topKFromVisited(e, visWide)
    val brute = graft.ops.SimilarityOps.bruteTopK(e)
      .select(col("query_id"), col("neighbor_id"))
    // within-cluster graph + queries in the entry cluster → exact recall
    assert(top.join(brute, Seq("query_id", "neighbor_id")).count() === 100L)
    val visWide2 = GraphAnnOps.beamVisited(e.repartition(5), g)
    assert(visWide2.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      .toSeq ===
      visWide.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
  }

  test("beam search never escapes a disconnected component: out-of-entry " +
    "clusters stay unvisited (the recall loss ef cannot fix — only the " +
    "graph build can, the reason production layers entry points)") {
    val e = clustered()
    val g = GraphAnnOps.buildKnnGraph(e)
    val vis = GraphAnnOps.beamVisitedSweep(e, g, Seq(32))
    // within-cluster 8-NN graphs are disconnected across clusters and the
    // entry is node 0 → only cluster 0's 12 nodes are ever reachable
    assert(vis.select(col("node_id")).distinct().collect()
      .map(_.getLong(0)).forall(_ < 12L))
  }

  test("knn graph build refuses oversized inputs (brute-contract guard)") {
    val e = clustered()
    val err = intercept[IllegalArgumentException](
      GraphAnnOps.buildKnnGraph(e, maxBroadcastRows = 4))
    assert(err.getMessage.contains("buildKnnGraph"))
    assert(err.getMessage.contains("NN-descent"))
  }

  test("NN-descent build: same adjacency schema as brute, no self-loops, " +
    "contiguous ranks, high edge agreement with the exact graph, " +
    "layout-invariant") {
    val e = clustered()
    val descent = GraphAnnOps.buildKnnGraphDescent(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = GraphAnnOps.buildKnnGraph(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    descent.foreach { case (n, _, nb) => assert(n !== nb) }
    // ranks are 1..deg(n) contiguous per node
    descent.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (1L to rows.length).toSeq)
    }
    // the approximate graph recovers (nearly) all exact edges on a
    // well-clustered set — measured, with a floor pinned
    val de = descent.map(x => (x._1, x._3)).toSet
    val be = brute.map(x => (x._1, x._3)).toSet
    assert(de.intersect(be).size >= (be.size * 9) / 10,
      s"edge agreement ${de.intersect(be).size}/${be.size}")
    val descent2 = GraphAnnOps.buildKnnGraphDescent(e.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(descent2.sortBy(x => (x._1, x._2)).toSeq ===
      descent.sortBy(x => (x._1, x._2)).toSeq)
  }

  test("NN-descent build never materializes the vector table: with " +
    "lineage truncation off, CONSTRUCTING the build launches zero Spark " +
    "jobs (one lazy Catalyst plan), and both variants agree") {
    val e = clustered()
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      GraphAnnOps.descentRounds(e, GraphAnnOps.DescentRounds,
        lineageTruncate = false)
      Thread.sleep(1000) // listener bus is async — let any event land
      assert(jobs === 0,
        s"plan construction launched $jobs job(s) — something collects")
      // the eager (per-round localCheckpoint of the BOUNDED adjacency)
      // and fully-lazy variants are the same function of the table; the
      // lazy plan triples per round, so they are compared at 2 rounds
      def rows(lineageTruncate: Boolean) =
        GraphAnnOps.descentRounds(e, 2, lineageTruncate).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(x => (x._1, x._2)).toSeq
      assert(rows(false) === rows(true))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("NN-descent bucket cap is a pure recall trade: a seed bucket over " +
    "the 1024-row cap is pruned, its nodes get no edges, never an error") {
    // 1025 vectors of ONE direction share their bucket in every table (over
    // the cap); cluster 1 of clustered() (12 vectors on another axis) stays
    // under it and is built as usual
    val hot = (0 until 1025).map { i =>
      val v = Array.fill(64)(0.05f)
      v(0) = 1f
      (10000L + i, v.map(_ * (1f + i / 1024f)))
    }.toDF("vec_id", "embedding")
    val e = hot.unionByName(clustered().where(col("vec_id").between(12, 23)))
    val nodes = GraphAnnOps.buildKnnGraphDescent(e)
      .select(col("node_id"), col("neighbor_id")).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(nodes === (12L until 24L).toSet)
  }

  /** 32 vectors fanning along a line: cosine strictly decreasing in
    * index distance, so the exact M-NN graph is a CONNECTED chain and
    * every rank is strict — the right base for insert/reachability
    * tests (the clustered() graph is deliberately disconnected). */
  private def chain() =
    (0 until 32).map(i => (i.toLong, Array(1f, 0.02f * i)))
      .toDF("vec_id", "embedding")

  test("graph insert: batch-inserted vectors get m ranked links, evict " +
    "worse old back-edges under the degree cap, and a full-coverage beam " +
    "over the post-insert graph reproduces the exact brute top-k on the " +
    "merged set — inserted vectors are reachable AND correctly ranked") {
    val e = chain()
    val base = e.where(col("vec_id") % 8 =!= 5)
    val delta = e.where(col("vec_id") % 8 === 5)
    val g0 = GraphAnnOps.buildKnnGraph(base)
    val g1 = GraphAnnOps.insertIntoGraph(e, g0, delta)
    val edges = g1.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    edges.foreach { case (n, _, nb) => assert(n !== nb) }
    edges.groupBy(_._1).foreach { case (n, rows) =>
      assert(rows.length <= 8, s"node $n degree ${rows.length}")
      assert(rows.map(_._2).sorted.toSeq === (1L to rows.length).toSeq)
    }
    // every delta node carries exactly M forward links
    Seq(5L, 13L, 21L, 29L).foreach { d =>
      assert(edges.count(_._1 == d) === 8, s"delta $d link count")
    }
    // at least one base node adopted a delta back-edge (the prune ran)
    assert(edges.exists(x => x._1 % 8 != 5 && x._3 % 8 == 5))
    // the query beam over the post-insert graph == brute top-k on the
    // FULL merged set: insert left the index answer-exact here
    val vis = GraphAnnOps.beamVisited(e, g1)
    val got = GraphAnnOps.topKFromVisited(e, vis)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val brute = graft.ops.SimilarityOps.bruteTopK(e)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got === brute)
    // determinism under repartition
    val g2 = GraphAnnOps.insertIntoGraph(e.repartition(7), g0,
        delta.repartition(3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(g2.sortBy(x => (x._1, x._2)).toSeq ===
      edges.sortBy(x => (x._1, x._2)).toSeq)
  }

  test("graph insert is INCREMENTAL: untouched nodes' adjacency passes " +
    "through verbatim — a deliberately rank-corrupted untouched node " +
    "survives the insert bit-identical (the r5 full-graph re-rank would " +
    "have repaired it), so per-batch re-scoring cost is bounded by the " +
    "delta's back-edges, not the graph") {
    val e = chain()
    val base = e.where(col("vec_id") % 8 =!= 5)
    val delta = e.where(col("vec_id") % 8 === 5)
    val g0 = GraphAnnOps.buildKnnGraph(base)
    val g1 = GraphAnnOps.insertIntoGraph(e, g0, delta)
    // touched = nodes that adopted a delta back-edge; pick an untouched
    // BASE node (delta nodes are new rows, not pass-through)
    val touched = g1.where(col("neighbor_id") % 8 === 5)
      .select(col("node_id")).distinct().collect().map(_.getLong(0)).toSet
    val target = g0.select(col("node_id")).distinct().collect()
      .map(_.getLong(0)).filterNot(touched).filterNot(_ % 8 == 5).min
    // corrupt the stored ranking of the untouched node (swap rnk 1 ↔ 2):
    // the edge SET is unchanged, so the beam walk and the touched set are
    // identical — only a re-scoring pass could repair the swap
    val g0c = g0.withColumn("rnk",
      when(col("node_id") === target && col("rnk") === 1L, 2L)
        .when(col("node_id") === target && col("rnk") === 2L, 1L)
        .otherwise(col("rnk")))
    val g1c = GraphAnnOps.insertIntoGraph(e, g0c, delta)
    def rows(df: org.apache.spark.sql.DataFrame, n: Long) =
      df.where(col("node_id") === n).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._2).toSeq
    // the corrupted rows survive verbatim (still swapped)…
    assert(rows(g1c, target) === rows(g0c, target))
    assert(rows(g1c, target) !== rows(g1, target))
    // …and every other node is exactly as in the uncorrupted insert
    val restC = g1c.where(col("node_id") =!= target).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    val rest = g1.where(col("node_id") =!= target).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(restC === rest)
  }
}
