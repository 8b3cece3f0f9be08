package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: a k-means coarse
  * quantizer splits the corpus into k = `Cells` cells; a query scores only the
  * vectors in its `nprobe` nearest cells — candidate cost drops from O(N)
  * to O(N·nprobe/k) with recall controlled by nprobe (the standard
  * IVF-Flat scheme; sign-LSH in SimilarityOps is the hash-based
  * alternative).
  *
  * Training is Lloyd's algorithm, fully deterministic: centroids init from
  * the first `k` vectors by vec_id, each iteration is one Spark
  * aggregation (assign in a typed map against broadcast centroids →
  * groupBy cell → vector mean). At 10^12 rows you train on a sample and
  * keep iterations O(10) — each iteration is one scan + one k-row shuffle.
  */
object IvfOps {

  type Vec = Array[Double]

  private def sqDist(a: Vec, b: Vec): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  private[ops] def nearestCell(centroids: Array[Vec], v: Vec): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val d = sqDist(centroids(c), v)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private def typedVecs(emb: DataFrame): Dataset[(Long, Vec)] = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col("vec_id").cast("long").as("_1"),
      col("embedding").cast("array<double>").as("_2")).as[(Long, Vec)]
  }

  /** Cells (centroids) and Lloyd iterations of [[train]]. */
  private val Cells = 16
  private val LloydIters = 5

  /** Deterministic Lloyd training of `Cells` centroids over `LloydIters`
    * iterations. Empty cells keep their old centroid. */
  def train(emb: DataFrame): Array[Vec] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = typedVecs(emb)
    var centroids: Array[Vec] =
      vecs.orderBy(col("_1")).limit(Cells).collect().map(_._2)
    (1 to LloydIters).foreach { _ =>
      val bc = spark.sparkContext.broadcast(centroids)
      // one scan: (cell, sumVec, count) partial-aggregated per partition
      val sums = vecs.mapPartitions { it =>
        val cs = bc.value
        val acc = new java.util.HashMap[Int, (Vec, Long)]()
        it.foreach { case (_, v) =>
          val cell = nearestCell(cs, v)
          val cur = acc.get(cell)
          if (cur == null) acc.put(cell, (v.clone(), 1L))
          else {
            var i = 0
            while (i < v.length) { cur._1(i) += v(i); i += 1 }
            acc.put(cell, (cur._1, cur._2 + 1))
          }
        }
        import scala.jdk.CollectionConverters._
        acc.asScala.iterator.map { case (cell, (s, n)) => (cell, s, n) }
      }
        .groupByKey(_._1)
        .reduceGroups { (a, b) =>
          val s = a._2.clone()
          var i = 0
          while (i < s.length) { s(i) += b._2(i); i += 1 }
          (a._1, s, a._3 + b._3)
        }
        .map(_._2).collect()
      val next = centroids.map(_.clone())
      sums.foreach { case (cell, s, n) =>
        next(cell) = s.map(_ / n)
      }
      centroids = next
    }
    centroids
  }

  /** (vec_id, cell) assignment under the given centroids. */
  def assign(emb: DataFrame, centroids: Array[Vec]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    typedVecs(emb)
      .map { case (id, v) => (id, nearestCell(bc.value, v)) }
      .toDF("vec_id", "cell")
  }

  /** Cells a query (one of the first `SimilarityOps.RecallQueries`
    * vectors) probes: its `nprobe` nearest centroids. */
  def probes(emb: DataFrame, centroids: Array[Vec], nprobe: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    typedVecs(emb).orderBy(col("_1")).limit(SimilarityOps.RecallQueries)
      .flatMap { case (id, v) =>
        val cs = bc.value
        cs.indices.map(c => (c, sqDist(cs(c), v)))
          .sortBy { case (c, d) => (d, c) }
          .take(nprobe)
          .map { case (c, _) => (id, c) }
      }
      .toDF("query_id", "cell")
  }

  /** IVF top-`SimilarityOps.RecallK` over precomputed (vec_id, cell)
    * assignment and (query_id, cell) probe tables — split out so a driver
    * query can dump both to parquet and hand the DuckDB oracle the exact
    * candidate sets. */
  def topKFrom(emb: DataFrame, assigned: DataFrame, probed: DataFrame): DataFrame = {
    val scored = emb.join(assigned, "vec_id")
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("n_emb"), col("cell"))
      .join(broadcast(probed), "cell")
      .join(broadcast(SimilarityOps.recallQueries(emb)), "query_id")
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        SimilarityOps.cosine(col("q_emb"), col("n_emb")).as("score"))
    // no dedup needed: assignment is single-cell, so (query, neighbor)
    // appears at most once across probes
    SimilarityOps.rankTopK(scored, SimilarityOps.RecallK)
  }

  /** IVF MAINTENANCE census — the monitored-retrain decision of an
    * incrementally-updated index: deltas are assigned to FROZEN centroids
    * (no retrain per ingest batch — `assign` is the whole insert path,
    * which is what makes IVF the cheapest index to maintain), and
    * retraining happens when this table says so, not as a reflex. Per
    * cell: base/delta/total counts, total share in ppm (null when both
    * tables are empty), and the retrain trigger bit — total > 200 % of
    * the ideal N/k (a hot
    * cell degrades recall at fixed nprobe because candidates concentrate
    * where the quantizer stopped separating them). All-integer; every
    * cell 0..k−1 is present even when empty (a STARVED cell is the other
    * retrain signal). The tiny window runs over exactly k rows. */
  def cellCensus(baseAssigned: DataFrame, deltaAssigned: DataFrame,
                 k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = baseAssigned.sparkSession
    val b = baseAssigned.groupBy(col("cell")).agg(count(lit(1)).as("n_base"))
    val d = deltaAssigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_delta"))
    val cells = spark.range(k).select(col("id").cast("int").as("cell"))
    val w = Window.partitionBy()
    cells.join(b, Seq("cell"), "left").join(d, Seq("cell"), "left")
      .select(col("cell").cast("long").as("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"))
      .withColumn("n_total", col("n_base") + col("n_delta"))
      .withColumn("grand", sum(col("n_total")).over(w))
      .withColumn("share_ppm",
        expr("n_total * 1000000L div nullif(grand, 0)")) // no rows: null
      .withColumn("retrain_bit",
        (col("n_total") * k * 100 > col("grand") * 200)
          .cast("long"))
      .drop("grand")
      .orderBy(col("cell"))
  }
}
