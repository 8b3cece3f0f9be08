package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over a deterministic hyperlink graph derived from the
  * corpus — the domain/link-graph side of a crawl curation pipeline
  * (rank-weighted sampling, link-spam triangles). No GraphX: both ops are
  * plain Dataset joins/aggregations so Catalyst/AQE own the physical plan.
  *
  * The graph: nodes are doc_ids (0-based contiguous); every doc links to
  * its 2 ring successors `(id + 1) % n, (id + 2) % n` (guaranteed local
  * structure, so triangle counting is non-vacuous) plus 2 md5-derived
  * long-range targets — the same low-64-bit md5 primitive the rest of the
  * engine uses, so a DuckDB oracle can rebuild the identical edge list.
  *
  * Scale notes (10^12 nodes): the edge list is 4n rows of two longs and
  * would live as a bucketed table keyed by `src` (co-located with ranks
  * keyed by `node`), making each PageRank iteration's join shuffle-free on
  * the edge side; here it is lazily localCheckpoint'd once so the three
  * iterations don't re-derive it (measured: exchange reuse does not fire
  * across typed-map subtrees). All rank arithmetic is integer (floor
  * division), so results are bit-identical across engines and partition
  * counts — no float accumulation-order drift.
  */
object GraphOps {

  private val Fanout = 4

  /** Deterministic out-edges, exactly [[Fanout]] per node (duplicates kept:
    * PageRank mass splits by out-slot, not by distinct target). */
  private[graft] def linkEdges(docs: DataFrame, n: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long]
      .flatMap { id =>
        Iterator((id, (id + 1) % n), (id, (id + 2) % n),
          (id, TextOps.md5Low63(s"$id#L0") % n),
          (id, TextOps.md5Low63(s"$id#L1") % n))
      }
      .toDF("src", "dst")
  }

  /** Integer-arithmetic PageRank, 3 Pregel-style rounds: rank starts
    * at 10^9 per node; each round every node emits `rank div 4` along each
    * out-edge and collects `0.15 * 10^9 + (85 * sum(in)) div 100`. Each
    * round is one join (edges × ranks on src) + one keyed aggregation on
    * dst — the canonical iterative shape, with lineage truncated per round
    * (eager localCheckpoint) so the plan doesn't nest across iterations. */
  def pagerank(docs: DataFrame): DataFrame = {
    val n = docs.count() // metadata-only count; keys the modular edge space
    val edges = linkEdges(docs, n).localCheckpoint(false)
    val nodes = docs.select(col("doc_id").cast("long").as("node"))
    var ranks = nodes.select(col("node"), lit(1000000000L).as("pr"))
    (1 to 3).foreach { _ =>
      val sums = edges.join(ranks, edges("src") === ranks("node"))
        .select(col("dst"), expr("pr div 4").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("in_sum"))
      ranks = nodes.join(sums, nodes("node") === sums("dst"), "left")
        .select(col("node"),
          expr("CAST(150000000 AS BIGINT) + " +
            "(85 * coalesce(in_sum, CAST(0 AS BIGINT))) div 100").as("pr"))
        .localCheckpoint(true)
    }
    ranks.orderBy(col("node"))
  }

  /** Per-node triangle participation + undirected degree. Edges are
    * canonicalized to (a < b) distinct pairs, and triangles enumerated via
    * the oriented 2-path join (e1.b = e2.a) closed by a third edge — each
    * triangle (a < b < c) is produced exactly once. At web scale the
    * orientation would be by degree (degeneracy order) so heavy nodes
    * never fan out; on the near-uniform-degree link graph, id order is the
    * same bound. */
  def triangles(docs: DataFrame): DataFrame = {
    val n = docs.count()
    val e = linkEdges(docs, n)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
      .localCheckpoint(false) // reused by 3 join sides + degree census
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri_cnt"))
    val degrees = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg_cnt"))
    docs.select(col("doc_id").cast("long").as("node"))
      .join(degrees, Seq("node"), "left")
      .join(perNode, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("deg_cnt"), lit(0L)).as("degree"),
        coalesce(col("tri_cnt"), lit(0L)).as("n_triangles"))
      .orderBy(col("node"))
  }

  /** Depth and seed-set modulus of [[bfsHops]]. */
  private val BfsHops = 3
  private val BfsSeedMod = 97L

  /** Bounded-depth BFS — min-hop distance from a deterministic seed set
    * (doc_id % `BfsSeedMod` == 0) over the directed link graph: the crawl-
    * frontier / influence-radius primitive (seed-expansion scheduling,
    * blast radius of a flagged spam domain). The SQL-engine analogue is
    * `WITH RECURSIVE`, which Catalyst lacks — so the recursion is driven
    * as `BfsHops` rounds of (frontier ⋈ edges) → anti-join visited, the
    * standard Pregel unrolling. Scale shape: only the FRONTIER (new nodes
    * this round, two longs each) ever crosses an exchange — the visited
    * set participates solely as the anti-join build side, and the closure
    * is never re-shuffled wholesale; lineage truncates per round
    * (localCheckpoint, same rationale as `pagerank`). First discovery IS
    * the min hop (per-round anti-join), so no terminal min-agg is needed. */
  def bfsHops(docs: DataFrame): DataFrame = {
    val n = docs.count() // metadata-only count; keys the modular edge space
    val edges = linkEdges(docs, n).localCheckpoint(false)
    var visited = docs.select(col("doc_id").cast("long").as("node"))
      .where(pmod(col("node"), lit(BfsSeedMod)) === 0)
      .select(col("node"), lit(0L).as("hops")).localCheckpoint(true)
    var frontier = visited.select(col("node"))
    (1 to BfsHops).foreach { h =>
      val next = edges.join(frontier, edges("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .select(col("node"), lit(h.toLong).as("hops"))
        .localCheckpoint(true)
      visited = visited.unionByName(next).localCheckpoint(true)
      frontier = next.select(col("node"))
    }
    visited.orderBy(col("node"))
  }

  /** Hierarchical (BOM-style) subtree rollup over the synthetic decimal
    * forest parent(n) = n div 10 (roots: n < 10): every doc contributes
    * to each of its ancestors (≤ log10(max id) of them), so the whole
    * rollup is ONE bounded explode + ONE keyed aggregation — no
    * iteration, no recursion; the fan-out is bounded by the id domain's
    * depth, never by corpus size. The recursive-CTE answer (DuckDB
    * `WITH RECURSIVE` climbing a//10) is the oracle's independent
    * formulation. */
  def treeRollup(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
        col("n_chars").cast("long").as("n_chars"))
      .select(col("n_chars"), explode(expr(
        "transform(filter(array(1L,10L,100L,1000L,10000L,100000L,1000000L)," +
          " d -> d = 1L OR doc_id >= d), d -> doc_id div d)")).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("subtree_docs"),
        sum(col("n_chars")).as("subtree_chars"))
      .orderBy(col("node"))
}
