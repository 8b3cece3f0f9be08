package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Differential-privacy release operators — the governance sibling of
  * [[CurationOps]]'s k-anonymity (p103): what a pipeline may PUBLISH
  * about a 10^12-doc corpus without leaking any single document.
  *
  * The noise mechanism is the GEOMETRIC (discrete Laplace) mechanism of
  * Ghosh–Roughgarden–Sundararajan — universally optimal for count
  * queries — at α = 1/2, i.e. ε = ln 2 per unit sensitivity. It is
  * sampled EXACTLY with integer bit arithmetic: the trailing-zero count
  * of a uniform 63-bit hash is Geometric(1/2) by construction
  * (P[tz ≥ k] = 2⁻ᵏ), and the difference of two independent geometrics
  * IS the two-sided geometric. No floats, no ln/exp, no platform RNG —
  * the noise is a pure function of (cell key, seed), so releases are
  * reproducible, partition-invariant, and the DuckDB oracle re-derives
  * every noisy cell from the same md5 bits (tz = bit_count((h & −h) − 1),
  * the q131-pinned two's-complement identity).
  *
  * Scale shape: one keyed count aggregation over the corpus, a
  * broadcast-sized public domain (distinct labels cross-joined so ABSENT
  * cells are released too — releasing only non-empty cells would leak
  * presence), and a row-local noise map. Nothing about the mechanism
  * changes at 100 TB except the count scan.
  */
object PrivacyOps {

  /** Noise seed of [[dpHistogram]]. */
  private val DpSeed = "e1"

  /** ε = ln 2 DP release of the (lang, source) doc-count histogram:
    * every domain cell (including empties) gets noisy = n + G₁ − G₂
    * and the post-processed released = max(noisy, 0). Neighboring
    * corpora differ in one doc → one cell moves by 1 (sensitivity 1).
    * The label domains are treated as PUBLIC (standard assumption —
    * they come from the schema, not the data). The noise is keyed by the
    * cell and `DpSeed`. */
  def dpHistogram(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
    val domain = docs.select(col("lang")).distinct()
      .crossJoin(docs.select(col("source")).distinct())
    domain.join(counts, Seq("lang", "source"), "left")
      .na.fill(0L, Seq("n"))
      .as[(String, String, Long)]
      .map { case (lang, source, n) =>
        def tz(tag: String): Long = {
          val h = Corpus64.md5Low64(s"$lang|$source|$DpSeed|$tag") &
            Long.MaxValue
          java.lang.Long.numberOfTrailingZeros(h).toLong
        }
        val noisy = n + tz("a") - tz("b")
        (lang, source, noisy, math.max(noisy, 0L))
      }
      .toDF("lang", "source", "noisy", "released")
      .orderBy(col("lang"), col("source"))
  }
}
