package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011) — the vector-COMPRESSION scale path that
  * complements the candidate-PRUNING families (sign-LSH `SimilarityOps`,
  * IVF `IvfOps`): the embedding is split into m = `PqM` subspaces, each
  * quantized by its own k-centroid codebook (k = `PqK`), so a d-dim float
  * vector stores as m single-byte codes (64 dims × 4 B → 4 B here, 64×)
  * and distance to a query is computed WITHOUT decompressing via ADC (asymmetric distance
  * computation): per query, one m×k table of exact subspace distances is
  * precomputed, and each candidate costs m table lookups + adds instead of
  * d multiplies. At 10^12 rows the codes table is what fits in cluster
  * RAM; raw vectors are only ever touched to (re)train the tiny codebook.
  *
  * Whole contract is INTEGER: coordinates enter the p60/p64 grid
  * (fq = floor(x·1000) after float32→float64 widening, exact), Lloyd
  * centroid updates use floorDiv, distances are BIGINT sums of squares —
  * so engine and DuckDB rank bit-identically and the driver oracle can
  * re-derive ADC and exact rankings from the dumped codebook + codes with
  * no float hazard anywhere.
  */
object PqOps {

  type LVec = Array[Long]

  /** Integer-quantized vectors: (vec_id, floor(x*1000) per dim). */
  private def quantized(emb: DataFrame): Dataset[(Long, LVec)] = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col("vec_id").cast("long").as("_1"),
        col("embedding").cast("array<double>").as("_2"))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        val q = new Array[Long](v.length)
        var i = 0
        while (i < v.length) { q(i) = math.floor(v(i) * 1000).toLong; i += 1 }
        (id, q)
      }
  }

  private def sqDistSub(v: LVec, off: Int, c: LVec): Long = {
    var s = 0L
    var i = 0
    while (i < c.length) { val d = v(off + i) - c(i); s += d * d; i += 1 }
    s
  }

  /** Codebook shape: `PqM` subspaces of `PqK` centroids, trained by
    * `PqIters` Lloyd iterations. */
  private val PqM = 4
  private val PqK = 16
  private val PqIters = 3

  /** codebook(s)(j) = centroid j of subspace s (subDim = d/m longs each,
    * m = `PqM`, k = `PqK`). Deterministic integer Lloyd over `PqIters`
    * iterations, all m subspaces trained in the SAME
    * scans: init from the first k vectors by vec_id; each iteration is one
    * pass emitting (subspace, code) partial sums — ≤ m·k keys through the
    * shuffle per partition regardless of corpus size; update is
    * floorDiv(sum, n) per dim; empty cells keep their centroid. */
  def train(emb: DataFrame): Array[Array[LVec]] = {
    val (m, k) = (PqM, PqK)
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = quantized(emb)
    val first = vecs.take(1)
    if (first.isEmpty) return Array.fill(m)(Array.empty[LVec]) // no vectors, no centroids
    val dim = first.head._2.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    var cb: Array[Array[LVec]] = {
      val seed = vecs.orderBy(col("_1")).limit(k).collect().map(_._2)
      Array.tabulate(m)(s => seed.map(v =>
        java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim)))
    }
    (1 to PqIters).foreach { _ =>
      val bc = spark.sparkContext.broadcast(cb)
      val sums = vecs.mapPartitions { it =>
        val cs = bc.value
        // (subspace, code) -> (dim sums, count)
        val acc = new java.util.HashMap[Int, (LVec, Long)]()
        it.foreach { case (_, v) =>
          var s = 0
          while (s < m) {
            val code = nearestCode(cs(s), v, s * subDim)
            val key = s * k + code
            val cur = acc.get(key)
            if (cur == null) {
              val sum = java.util.Arrays.copyOfRange(v, s * subDim,
                (s + 1) * subDim)
              acc.put(key, (sum, 1L))
            } else {
              var i = 0
              while (i < subDim) { cur._1(i) += v(s * subDim + i); i += 1 }
              acc.put(key, (cur._1, cur._2 + 1))
            }
            s += 1
          }
        }
        import scala.jdk.CollectionConverters._
        acc.asScala.iterator.map { case (key, (sum, n)) => (key, sum, n) }
      }
        .groupByKey(_._1)
        .reduceGroups { (a, b) =>
          val sArr = a._2.clone()
          var i = 0
          while (i < sArr.length) { sArr(i) += b._2(i); i += 1 }
          (a._1, sArr, a._3 + b._3)
        }
        .map(_._2).collect()
      val next = cb.map(_.map(_.clone()))
      sums.foreach { case (key, sum, n) =>
        next(key / k)(key % k) = sum.map(x => Math.floorDiv(x, n))
      }
      cb = next
    }
    cb
  }

  /** First-minimal argmin (ties → lower code id). */
  private def nearestCode(cents: Array[LVec], v: LVec, off: Int): Int = {
    var best = 0
    var bestD = Long.MaxValue
    var j = 0
    while (j < cents.length) {
      val d = sqDistSub(v, off, cents(j))
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    best
  }

  /** Exploded codebook for the oracle dump: (subspace, code, dim, cval) —
    * dim is subspace-LOCAL (global dim = subspace·subDim + dim). */
  def codebookDf(spark: SparkSession,
                 cb: Array[Array[LVec]]): DataFrame = {
    import spark.implicits._
    (for {
      s <- cb.indices; j <- cb(s).indices; i <- cb(s)(j).indices
    } yield (s.toLong, j.toLong, i.toLong, cb(s)(j)(i))).toSeq
      .toDF("subspace", "code", "dim", "cval")
  }

  /** Per-vector codes, exploded for the oracle: (vec_id, subspace, code). */
  def encode(emb: DataFrame, cb: Array[Array[LVec]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    val m = cb.length
    quantized(emb).flatMap { case (id, v) =>
      val cs = bc.value
      val subDim = v.length / m
      Iterator.range(0, m).map(s =>
        (id, s.toLong, nearestCode(cs(s), v, s * subDim).toLong))
    }.toDF("vec_id", "subspace", "code")
  }

  /** Codebook reconstructed from its exploded dump: ((m, k, subDim), cb). */
  private def loadCodebook(cbDf: DataFrame): Array[Array[LVec]] = {
    val cbRows = cbDf.select(col("subspace").cast("int"),
      col("code").cast("int"), col("dim").cast("int"),
      col("cval").cast("long")).collect()
    val m = cbRows.map(_.getInt(0)).max + 1
    val k = cbRows.map(_.getInt(1)).max + 1
    val subDim = cbRows.map(_.getInt(2)).max + 1
    val cb = Array.fill(m, k)(new Array[Long](subDim))
    cbRows.foreach(r => cb(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getLong(3))
    cb
  }

  /** Exploded codes regrouped to one (vec_id, codes[m]) row per vector. */
  private def groupedCodes(codes: DataFrame,
                           m: Int): Dataset[(Long, Array[Int])] = {
    val spark = codes.sparkSession
    import spark.implicits._
    codes
      .select(col("vec_id").cast("long").as("_1"),
        col("subspace").cast("int").as("_2"), col("code").cast("int").as("_3"))
      .as[(Long, Int, Int)]
      .groupByKey(_._1)
      .mapGroups { (id, it) =>
        val arr = new Array[Int](m)
        it.foreach { case (_, s, c) => arr(s) = c }
        (id, arr)
      }
  }

  /** ADC top-k per query over the exploded codes table: the candidates
    * pass that reads only m codes/vector against the per-query lookup
    * tables dtab(q)(s)(j) = ||query_s − centroid_{s,j}||². */
  private def adcTopDf(codes: DataFrame, qIds: Array[Long],
                       dtab: Array[Array[Array[Long]]], m: Int,
                       topK: Int, outCol: String): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val bcT = spark.sparkContext.broadcast((qIds, dtab))
    groupedCodes(codes, m)
      .flatMap { case (id, cArr) =>
        val (ids, tabs) = bcT.value
        Iterator.range(0, ids.length).flatMap { qi =>
          if (ids(qi) == id) Iterator.empty
          else {
            var d = 0L
            var s = 0
            while (s < m) { d += tabs(qi)(s)(cArr(s)); s += 1 }
            Iterator.single((ids(qi), id, -d.toDouble))
          }
        }
      }
      .groupByKey(_._1)
      .agg(new TopK.TopKIds(topK).toColumn.name(outCol))
      .toDF("query_id", outCol)
  }

  /** A recall audit's answer on an empty table: no query, no row. */
  private def noQueries(spark: SparkSession, top1: String): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Long, Long)].toDF("query_id", "n_overlap", top1, "exact_top1")
  }

  /** Exact integer-L2 top-`RecallK` of every vector against the broadcast query
    * set over the FIRST `dims` dimensions (dims = full length → exact
    * ranking; a prefix → the Matryoshka truncated ranking). The p07-class
    * broadcast scan that grades sketches, not the scale path. */
  private def intL2TopDf(vecs: Dataset[(Long, LVec)], qs: Array[(Long, LVec)],
                         dims: Int, outCol: String): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val bcQ = spark.sparkContext.broadcast(qs)
    vecs.flatMap { case (id, v) =>
      bcQ.value.iterator.flatMap { case (qid, qv) =>
        if (qid == id) Iterator.empty
        else {
          var d = 0L
          var i = 0
          while (i < dims) { val x = v(i) - qv(i); d += x * x; i += 1 }
          Iterator.single((qid, id, -d.toDouble))
        }
      }
    }
      .groupByKey(_._1)
      .agg(new TopK.TopKIds(SimilarityOps.RecallK).toColumn.name(outCol))
      .toDF("query_id", outCol)
  }

  /** ADC recall audit from the DUMPED codebook + codes tables (the same
    * parquet the DuckDB oracle reads — p13's topKFrom contract): per
    * query (the first `SimilarityOps.RecallQueries` vectors),
    * |ADC top-k ∩ exact top-k| at k = `RecallK` plus both rank-1 ids. */
  def adcRecallFrom(emb: DataFrame, codes: DataFrame, cbDf: DataFrame): DataFrame = {
    val vecs = quantized(emb)
    val qs = vecs.orderBy(col("_1")).limit(SimilarityOps.RecallQueries).collect()
    if (qs.isEmpty) return noQueries(emb.sparkSession, "adc_top1")
    val cb = loadCodebook(cbDf)
    val (m, k, subDim) = (cb.length, cb(0).length, cb(0)(0).length)
    val dtab = qs.map { case (_, v) =>
      Array.tabulate(m)(s => Array.tabulate(k)(j => sqDistSub(v, s * subDim, cb(s)(j))))
    }
    val adcTop = adcTopDf(codes, qs.map(_._1), dtab, m, SimilarityOps.RecallK,
      "adc_topk")
    val exactTop = intL2TopDf(vecs, qs, m * subDim, "exact_topk")
    adcTop.join(exactTop, "query_id")
      .select(col("query_id"),
        size(array_intersect(col("adc_topk"), col("exact_topk")))
          .cast("long").as("n_overlap"),
        element_at(col("adc_topk"), 1).cast("long").as("adc_top1"),
        element_at(col("exact_topk"), 1).cast("long").as("exact_top1"))
      .orderBy(col("query_id"))
  }

  /** Stage-1 candidates per query of [[rerankRecall]]. */
  private val RerankCandidates = 50

  /** Two-stage retrieval (the production ANN serving shape): stage 1 =
    * ADC over codes produces `RerankCandidates` ids per query
    * (compressed-domain scan, m lookups/vector); stage 2 = exact integer
    * L2 over ONLY those candidates (one equi-join on vec_id brings
    * ≤ `RerankCandidates` raw vectors per query back) re-ranks to top-k
    * (`SimilarityOps.RecallK`, for the first `RecallQueries` vectors).
    * Graded against the global exact top-k: rerank recall ≥ raw-ADC
    * recall by construction whenever the true neighbors survive stage 1 —
    * the audit shows what candidate depth buys. */
  def rerankRecall(emb: DataFrame, codes: DataFrame, cbDf: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = quantized(emb)
    val qs = vecs.orderBy(col("_1")).limit(SimilarityOps.RecallQueries).collect()
    if (qs.isEmpty) return noQueries(spark, "rerank_top1")
    val cb = loadCodebook(cbDf)
    val (m, k, subDim) = (cb.length, cb(0).length, cb(0)(0).length)
    val dtab = qs.map { case (_, v) =>
      Array.tabulate(m)(s => Array.tabulate(k)(j => sqDistSub(v, s * subDim, cb(s)(j))))
    }
    val cand = adcTopDf(codes, qs.map(_._1), dtab, m, RerankCandidates, "cand")
      .select(col("query_id"), explode(col("cand")).as("vec_id"))
    val bcQ = spark.sparkContext.broadcast(qs.toMap)
    // stage 2: fetch candidate vectors (vec_id equi-join) + exact re-rank
    val reranked = vecs.toDF("vec_id", "qv")
      .join(cand, "vec_id")
      .select(col("query_id").cast("long").as("_1"),
        col("vec_id").cast("long").as("_2"), col("qv").as("_3"))
      .as[(Long, Long, Array[Long])]
      .map { case (qid, id, v) =>
        val qv = bcQ.value(qid)
        var d = 0L
        var i = 0
        while (i < v.length) { val x = v(i) - qv(i); d += x * x; i += 1 }
        (qid, id, -d.toDouble)
      }
      .groupByKey(_._1)
      .agg(new TopK.TopKIds(SimilarityOps.RecallK).toColumn.name("rerank_topk"))
      .toDF("query_id", "rerank_topk")
    val exactTop = intL2TopDf(vecs, qs, m * subDim, "exact_topk")
    reranked.join(exactTop, "query_id")
      .select(col("query_id"),
        size(array_intersect(col("rerank_topk"), col("exact_topk")))
          .cast("long").as("n_overlap"),
        element_at(col("rerank_topk"), 1).cast("long").as("rerank_top1"),
        element_at(col("exact_topk"), 1).cast("long").as("exact_top1"))
      .orderBy(col("query_id"))
  }

  /** Frozen-codebook DRIFT audit — the index-maintenance signal: encode
    * everything (old and new cohorts) under a codebook trained on the OLD
    * cohort alone, and compare per-cohort quantization error
    * ||v − decode(codes(v))||². A new-cohort mean error pulling away from
    * the training cohort's is the retrain trigger every production PQ/IVF
    * deployment watches (codebooks go stale as the embedding distribution
    * shifts). Error is computed FROM THE DUMPED CODES (one vec_id
    * equi-join), exactly as the oracle recomputes it — never from a
    * re-derived assignment. Output: one row per cohort
    * (cohort, n_vecs, sum_err, mean_err). */
  def driftAudit(emb: DataFrame, codes: DataFrame,
                 cbDf: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cb = loadCodebook(cbDf)
    val (m, subDim) = (cb.length, cb(0)(0).length)
    val bcCb = spark.sparkContext.broadcast(cb)
    quantized(emb).toDF("vec_id", "v")
      .join(groupedCodes(codes, m).toDF("vec_id", "cds"), "vec_id")
      .select(col("vec_id").as("_1"), col("v").as("_2"), col("cds").as("_3"))
      .as[(Long, Array[Long], Array[Int])]
      .map { case (id, v, cArr) =>
        val cs = bcCb.value
        var err = 0L
        var s = 0
        while (s < m) { err += sqDistSub(v, s * subDim, cs(s)(cArr(s))); s += 1 }
        (id % 2, err)
      }
      .toDF("cohort", "err")
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("err")).cast("long").as("sum_err"))
      .select(col("cohort").cast("long").as("cohort"), col("n_vecs"),
        col("sum_err"), expr("sum_err div n_vecs").as("mean_err"))
      .orderBy(col("cohort"))
  }

  /** Chunks per document and dims reported by [[chunkPooling]]. */
  private val ChunksPerDoc = 5
  private val PooledDims = 8

  /** Chunk→document embedding pooling: long documents are embedded as
    * CHUNKS (context-window bound) and a document vector is the mean of
    * its chunk vectors — the standard retrieval aggregation. Mean is
    * computed on the integer grid with floorDiv so both engines agree
    * bit-for-bit. One keyed partial+final aggregation; the vector sum
    * runs as a typed Aggregator merging fixed-width long arrays, so the
    * shuffle carries ONE partial-sum row per (doc, partition), never the
    * chunk set. Output exploded (group_id, dim, pooled_q) for the first
    * `PooledDims` dims (the oracle-friendly projection; the full array is
    * the same buffer). Chunk→doc assignment here: vec_id div `ChunksPerDoc`. */
  def chunkPooling(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val q = quantized(emb)
      .map { case (id, v) => (id / ChunksPerDoc, v) }
    q.groupByKey(_._1)
      .agg(new VecSumAgg().toColumn.name("acc"))
      .flatMap { case (g, (sum, n)) =>
        Iterator.range(0, math.min(PooledDims, sum.length)).map(d =>
          (g, d.toLong, Math.floorDiv(sum(d), n)))
      }
      .toDF("group_id", "dim", "pooled_q")
      .orderBy(col("group_id"), col("dim"))
  }

  /** Typed vector-sum aggregator: buffer = (per-dim long sums, count).
    * Partial sums merge map-side — the piece every pooled-embedding or
    * centroid computation reuses. */
  class VecSumAgg extends org.apache.spark.sql.expressions.Aggregator[
      (Long, Array[Long]), (Array[Long], Long), (Array[Long], Long)] {
    def zero: (Array[Long], Long) = (Array.empty[Long], 0L)
    def reduce(b: (Array[Long], Long),
               in: (Long, Array[Long])): (Array[Long], Long) = {
      val v = in._2
      if (b._2 == 0L) (v.clone(), 1L)
      else {
        var i = 0
        while (i < v.length) { b._1(i) += v(i); i += 1 }
        (b._1, b._2 + 1)
      }
    }
    def merge(x: (Array[Long], Long),
              y: (Array[Long], Long)): (Array[Long], Long) = {
      if (x._2 == 0L) y
      else if (y._2 == 0L) x
      else {
        var i = 0
        while (i < x._1.length) { x._1(i) += y._1(i); i += 1 }
        (x._1, x._2 + y._2)
      }
    }
    def finish(b: (Array[Long], Long)): (Array[Long], Long) = b
    def bufferEncoder: org.apache.spark.sql.Encoder[(Array[Long], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[(Array[Long], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Vector-QA census — the data-quality gate BEFORE any indexing
    * (ANN/PQ/IVF all assume finite, non-degenerate, fixed-dim vectors):
    * per vector, NaN/Inf presence, dimension, and the integer-grid
    * squared norm; rolled up to (dim, norm² log2-bucket) with NaN and
    * zero-vector counts split out. One narrow pass; the census is tiny.
    * NaN detection runs on the RAW doubles (the integer grid would mask
    * them — floor(NaN·1000).toLong is 0 on the JVM). */
  def vectorQa(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col("vec_id").cast("long").as("_1"),
        col("embedding").cast("array<double>").as("_2"))
      .as[(Long, Array[Double])]
      .map { case (_, v) =>
        var bad = false
        var norm2 = 0L
        var i = 0
        while (i < v.length) {
          val x = v(i)
          if (x.isNaN || x.isInfinite) bad = true
          else {
            val q = math.floor(x * 1000).toLong
            norm2 += q * q
          }
          i += 1
        }
        val bucket =
          if (bad) -2L
          else if (norm2 == 0L) -1L
          else (63 - java.lang.Long.numberOfLeadingZeros(norm2)).toLong
        (v.length.toLong, bucket)
      }
      .toDF("dim", "norm2_log2_bucket")
      .groupBy(col("dim"), col("norm2_log2_bucket"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("dim"), col("norm2_log2_bucket"))
  }

  /** Prefix width [[prefixRecall]] ranks with. */
  private val PrefixDims = 16

  /** Matryoshka (MRL) truncation audit: ranking quality of the FIRST
    * `PrefixDims` dimensions vs the full vector — the adaptive-retrieval
    * trick where a d/4 prefix serves the candidate scan at 4× less memory
    * bandwidth and the full vector only re-ranks. Integer L2 both sides,
    * top-`SimilarityOps.RecallK` of the first `RecallQueries` vectors. */
  def prefixRecall(emb: DataFrame): DataFrame = {
    val vecs = quantized(emb)
    val qs = vecs.orderBy(col("_1")).limit(SimilarityOps.RecallQueries).collect()
    val dim = qs.headOption.fold(PrefixDims)(_._2.length) // no query: nothing to rank
    require(PrefixDims <= dim)
    val pre = intL2TopDf(vecs, qs, PrefixDims, "prefix_topk")
    val full = intL2TopDf(vecs, qs, dim, "exact_topk")
    pre.join(full, "query_id")
      .select(col("query_id"),
        size(array_intersect(col("prefix_topk"), col("exact_topk")))
          .cast("long").as("n_overlap"),
        element_at(col("prefix_topk"), 1).cast("long").as("prefix_top1"),
        element_at(col("exact_topk"), 1).cast("long").as("exact_top1"))
      .orderBy(col("query_id"))
  }
}
