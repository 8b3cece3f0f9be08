package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic 10× scale-up of a driver testdata dir (sf0.1 → an
  * sf1-shaped dir) for the round-4 scaling campaign: every table is tiled
  * `reps` times with KEY-OFFSET replicas — all primary and foreign keys
  * shift by `replica × stride` consistently, so referential integrity,
  * join fan-outs and per-key group sizes are preserved while row counts
  * grow 10× — and the tiny dimension tables (region, nation) stay
  * single-copy, exactly like a real corpus growing under fixed
  * dimensions. Payload columns (text, vectors, timestamps, prices) are
  * byte-identical across replicas: the corpus acquires exact-duplicate
  * clusters of size `reps` — a realistic dup structure for the dedup
  * family, and a DOCUMENTED one (BASELINE.md) since no oracle gates sf1;
  * the sf1 runs measure scaling and 8-vs-32-core determinism, while
  * correctness stays gated at sf0.01.
  *
  * Strides are computed PER KEY DOMAIN as the smallest power of 10 above
  * the domain's maximum across every table sharing it (so foreign keys
  * stay consistent) — tight strides matter because several queries PLANT
  * synthetic rows at fixed offsets above the real id range (doc_id +
  * 5×10⁵ homoglyph spoofs, + 10⁷ merge inserts, + 10⁹ near-dup plants;
  * vec_id + 10⁶ eval ids), and a tiled id wandering into a planted range
  * collides with those rows (found the hard way: a 10⁷ doc stride made
  * q30's merge-insert ids collide with replica-1's real documents and
  * tripped the unique-delta-keys gate). With power-of-10 strides from
  * maxima ≤ 6×10⁵, ten replicas stay below 10·stride ≤ 10⁷ for orders/
  * lineitem and below 10⁵–10⁶ for every planted-offset table. */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/root/repo/target/testdata_sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    // Optional 4th arg: comma-separated table subset (e.g.
    // "documents,embeddings,customer") for the PAIR-FAMILY heavy-tail
    // probes — tiles ONLY those tables and SKIPS the planted-band floor
    // checks, because a subset dir is by construction NOT a full contract
    // dir: planted-offset queries (p115 homoglyph, q30 merge, vector-QA
    // evals) must never run against it, only the pair/linkage/suffix
    // probes that read raw tables. Printed loudly below.
    val subset: Option[Set[String]] = args.lift(3).map(_.split(",").toSet)
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    def maxOf(table: String, c: String): Long =
      spark.read.parquet(s"$src/$table.parquet")
        .agg(max(col(c).cast("long"))).head().getLong(0)
    def pow10Above(v: Long): Long = {
      var s = 10L
      while (s <= v) s *= 10
      s
    }
    // key DOMAINS: one stride per domain, from the max across all tables
    // sharing it, so referential integrity survives the tiling
    val custStride = pow10Above(
      math.max(maxOf("customer", "c_custkey"), maxOf("events", "user_id")))
    val suppStride = pow10Above(
      math.max(maxOf("supplier", "s_suppkey"), maxOf("lineitem", "l_suppkey")))
    val partStride = pow10Above(
      math.max(maxOf("part", "p_partkey"), maxOf("lineitem", "l_partkey")))
    val orderStride = pow10Above(
      math.max(maxOf("orders", "o_orderkey"), maxOf("lineitem", "l_orderkey")))
    val eventStride = pow10Above(maxOf("events", "event_id"))
    val docStride = pow10Above(maxOf("documents", "doc_id"))
    val vecStride = pow10Above(maxOf("embeddings", "vec_id"))
    // fail loudly if a domain's tiled range would reach the smallest
    // planted-offset band. Floors are CENTRALIZED per key domain (r4
    // advice: the doc/vec-only requires left five domains unguarded — a
    // future planted-offset query on e.g. orders could silently
    // reintroduce the q30 collision class). A query planting synthetic
    // ids above a domain's real range must register its lowest offset in
    // THIS map; domains with no planted band today carry Long.MaxValue.
    val plantedFloor: Map[String, Long] = Map(
      "doc" -> 500000L,   // homoglyph spoofs +5×10⁵ (then 10⁷ merge, 10⁹)
      "vec" -> 1000000L,  // planted eval-set ids at +10⁶
      "cust" -> Long.MaxValue, "supp" -> Long.MaxValue,
      "part" -> Long.MaxValue, "order" -> Long.MaxValue,
      "event" -> Long.MaxValue)
    val strides = Map("cust" -> custStride, "supp" -> suppStride,
      "part" -> partStride, "order" -> orderStride,
      "event" -> eventStride, "doc" -> docStride, "vec" -> vecStride)
    if (subset.isEmpty)
      strides.foreach { case (d, s) =>
        require(s * reps <= plantedFloor(d),
          s"$d stride $s × $reps reaches the domain's planted-id band " +
            s"(floor ${plantedFloor(d)})")
      }
    else
      println(s"[scaleup] SUBSET MODE ${subset.get.mkString(",")}: " +
        "planted-band floors SKIPPED — this dir is for raw-table " +
        "pair/linkage/suffix probes ONLY, never planted-offset queries")
    println(s"[scaleup] strides: cust=$custStride supp=$suppStride " +
      s"part=$partStride order=$orderStride event=$eventStride " +
      s"doc=$docStride vec=$vecStride")

    def tile(name: String, offsets: Map[String, Long],
             outParts: Int): Unit = if (subset.forall(_.contains(name))) {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val out = (0 until reps).map { r =>
        offsets.foldLeft(base) { case (df, (c, stride)) =>
          df.withColumn(c, (col(c) + lit(stride * r)).cast("long"))
        }
      }.reduce(_ unionByName _)
      out.repartition(outParts)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name × $reps → $dst/$name.parquet")
    }
    def copy(name: String): Unit = if (subset.forall(_.contains(name))) {
      spark.read.parquet(s"$src/$name.parquet").coalesce(1)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name (single copy)")
    }

    copy("region")
    copy("nation")
    tile("customer", Map("c_custkey" -> custStride), 8)
    tile("supplier", Map("s_suppkey" -> suppStride), 2)
    tile("part", Map("p_partkey" -> partStride), 8)
    tile("orders", Map("o_orderkey" -> orderStride,
      "o_custkey" -> custStride), 16)
    tile("lineitem", Map("l_orderkey" -> orderStride,
      "l_partkey" -> partStride, "l_suppkey" -> suppStride), 64)
    tile("events", Map("event_id" -> eventStride,
      "user_id" -> custStride), 16)
    tile("documents", Map("doc_id" -> docStride), 16)
    tile("embeddings", Map("vec_id" -> vecStride), 8)
    spark.stop()
  }
}
