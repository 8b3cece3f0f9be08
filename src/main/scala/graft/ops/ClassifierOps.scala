package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed quality-classifier TRAINING — the missing trainer half of
  * the filter family (p29/p83 apply fixed rules; CCNet-style pipelines
  * TRAIN a linear text classifier and filter on its score). The model is
  * a batch perceptron over hashed bag-of-words features: epoch = score
  * every doc against the broadcast weight vector, sum the misclassified
  * docs' feature vectors into one integer update, apply. Batch updates
  * are order-free integer sums, so training is bit-deterministic under
  * any partitioning — no learning-rate floats, no shuffle-order
  * sensitivity — and the DuckDB oracle can re-run the entire loop
  * exactly.
  *
  * Scale shape: ONE pass over the corpus builds the sparse hashed
  * features (explode-free typed map, md5-low63 buckets shared with every
  * other oracle-checked hash in the engine); each epoch is one scan of
  * the persisted features with the D-entry weight vector broadcast, a
  * D-row partial-aggregated update, and a driver-side +=. Exactly the
  * iterative-ML-on-Spark shape: tiny mutable state on the driver,
  * immutable scans on the cluster.
  */
object ClassifierOps {

  /** The positive class of the perceptron's label. */
  private val PosLang = "en"

  /** Epochs and hashed feature buckets of the perceptron. */
  private val Epochs = 8
  private val Dims = 256

  /** Train `Epochs` batch-perceptron epochs; label +1 iff `lang` equals
    * `PosLang`, features = char-3-gram counts hashed into `Dims` buckets.
    * Output one row per epoch: (epoch, n_mis, delta_abs, w_chk) —
    * misclassified-count (margin ≤ 0), Σ|Δw|, and the Σ wᵢ·(i+1)
    * checksum binding the whole post-update weight vector.
    *
    * Convergence on the driver corpus is data-limited BY DESIGN of the
    * synthetic data: every lang draws from the same English word list,
    * so `lang` is only a weak frequency-mixture signal — training ends
    * at 192/500 errors, better than BOTH constant classifiers (218/282)
    * and matching the linear ceiling (a per-sample reference perceptron
    * given 50 full passes plateaus at ~199). On vocab-separated classes
    * the same loop drives the error to 0 (spec). */
  def perceptronTrain(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val feats = docs.select(col("doc_id").cast("long"),
        col("lang"), col("text")).as[(Long, String, String)]
      .map { case (id, lang, text) =>
        // char-3-gram features, not word tokens: language identity lives
        // in character n-grams (the p04 langid signal) — word-level
        // hashed BoW plateaued at ~61% on this corpus, 3-grams separate
        val x = new Array[Long](Dims)
        val hs = TextOps.kgramHashes(text, 3)
        var i = 0
        while (i < hs.length) {
          x((hs(i) % Dims).toInt) += 1L
          i += 1
        }
        (id, if (lang == PosLang) 1L else -1L, x.toSeq)
      }
      .toDF("doc_id", "y", "x").persist()
    feats.count()

    var w = new Array[Long](Dims)
    val out = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Long, Long)]
    var epoch = 1
    while (epoch <= Epochs) {
      val scored = feats
        .withColumn("wv", typedLit(w.toSeq))
        .withColumn("margin", col("y") * expr(
          "CAST(aggregate(zip_with(x, wv, (a, b) -> a * b), " +
            "CAST(0 AS BIGINT), (acc, v) -> acc + v) AS BIGINT)"))
      val mis = scored.filter(col("margin") <= 0)
      // D-row update: posexplode the misclassified features, partial
      // aggregation makes each partition contribute ≤ D rows. n_mis
      // rides the SAME aggregation (r6): x is a dense array of length
      // D = Dims ≥ 1, so every misclassified doc
      // contributes exactly one row to every index group — any group's
      // count IS the misclassified-doc count, and the old separate
      // mis.count() re-ran the whole scoring scan a second time per epoch
      val dwRows = mis
        .select(col("y"), posexplode(col("x")).as(Seq("i", "c")))
        .groupBy(col("i")).agg(sum(col("y") * col("c")).as("dw"),
          count(lit(1)).as("cnt"))
        .collect()
      val dw = dwRows.map(r => r.getInt(0) -> r.getLong(1)).toMap
      val nMis = dwRows.headOption.map(_.getLong(2)).getOrElse(0L)
      // annealed step: epoch e applies Δw >> (e−1) — the raw full-batch
      // update overshoots and cycles between the two all-one-class
      // states (observed: n_mis 500→218→282→218→282); geometric decay is
      // the standard fix and stays integer-exact (arithmetic shift =
      // floor-division by 2^k in BOTH engines, pinned by q131)
      val shift = epoch - 1
      var deltaAbs = 0L
      dw.foreach { case (i, d) =>
        val step = d >> shift
        w(i) += step; deltaAbs += math.abs(step)
      }
      val wChk = w.zipWithIndex.map { case (v, i) => v * (i + 1) }.sum
      out += ((epoch.toLong, nMis, deltaAbs, wChk))
      epoch += 1
    }
    feats.unpersist()
    out.toSeq.toDF("epoch", "n_mis", "delta_abs", "w_chk")
      .orderBy(col("epoch"))
  }

  /** Inter-rater agreement (Cohen's kappa) between two boolean raters —
    * the labeling-QA number every human- or model-annotation pass is
    * gated on before its labels train anything: chance-corrected
    * agreement κ = (p_o − p_e) / (1 − p_e) from the 2×2 contingency.
    * Everything is integer-exact: the corpus contributes ONE 4-cell count
    * aggregation (map-side partial, bit-deterministic), the driver does
    * the κ arithmetic on whole numbers — p_o and p_e stay as exact
    * count products (n·(n11+n00) and a1·b1 + a0·b0 over n²) and κ is
    * emitted FLOOR-scaled to milli-units via Math.floorDiv (κ can be
    * negative — worse than chance — and Spark's `div` truncates toward
    * zero where DuckDB's `//` floors, the q118 divergence class, so the
    * floor convention is pinned on both sides). Degenerate marginals
    * (p_e = 1: both raters constant) emit κ = 0 by convention.
    * Output one row: (n, n11, n10, n01, n00, po_ppm, pe_ppm,
    * kappa_milli). */
  def raterAgreement(docs: DataFrame, raterA: Column,
                     raterB: Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val r = docs.select(raterA.cast("boolean").as("a"),
        raterB.cast("boolean").as("b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
      .head()
    val (n, n11, n10, n01, n00) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))
    // BigInt: n² and the marginal products overflow a Long past ~3e9
    // rows (the PAV-advice overflow class); the arithmetic runs once on
    // the driver so arbitrary precision is free
    def floorDiv(a: BigInt, b: BigInt): BigInt = (a - a.mod(b)) / b
    val a1 = BigInt(n11 + n10); val a0 = BigInt(n01 + n00)
    val b1 = BigInt(n11 + n01); val b0 = BigInt(n10 + n00)
    val poNum = BigInt(n11 + n00)    // p_o = poNum / n
    val peNum = a1 * b1 + a0 * b0    // p_e = peNum / n²
    val den = BigInt(n) * n - peNum  // κ = (n·poNum − peNum) / den
    val kappaMilli =
      if (den == 0) 0L
      else floorDiv((BigInt(n) * poNum - peNum) * 1000, den).toLong
    Seq((n, n11, n10, n01, n00,
      if (n == 0) 0L else (poNum * 1000000 / n).toLong,
      if (n == 0) 0L else (peNum * 1000000 / (BigInt(n) * n)).toLong,
      kappaMilli))
      .toDF("n", "n11", "n10", "n01", "n00", "po_ppm", "pe_ppm",
        "kappa_milli")
  }
}
