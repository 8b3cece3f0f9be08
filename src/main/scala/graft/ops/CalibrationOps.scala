package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Isotonic-regression calibration (pool-adjacent-violators) — the
  * principled version of x19's binned confidence-vs-accuracy audit: fit
  * the best NON-DECREASING outcome-rate curve over score bins, the
  * standard calibration step before a learned filter's scores (p129)
  * are used as probabilities or thresholds.
  *
  * Scale shape: the corpus contributes ONE keyed (bin → n, positives)
  * aggregation; PAV itself runs on the driver over ≤ `Bins` block rows —
  * exactly how a 100 TB calibration runs in production, because the
  * pooled state is bounded by the bin count, not the data. All
  * calibrated rates are EXACT RATIONALS (gcd-reduced Σpos/Σn pairs), so
  * the gate needs no float rails.
  *
  * The oracle does NOT replay the pooling loop: it computes the
  * CLOSED-FORM minimax characterization of isotonic regression —
  * value(i) = max_{j≤i} min_{k≥i} (Σpos[j..k] / Σn[j..k]) — entirely
  * set-based over segment prefix sums. PAV's stack and the minimax
  * formula agreeing per bin IS the isotonic-regression theorem, checked
  * by the driver gate (the p122-style "gate the theorem" pattern). */
object CalibrationOps {

  /** Score bins of the calibration curve. */
  private val Bins = 32

  /** Bin = min(floor(length(text)/16), Bins−1) (a deterministic score
    * proxy), outcome = text contains 'the'. Output one row per PRESENT
    * bin: (bin, n, p, cal_num, cal_den) with cal_* the gcd-reduced
    * isotonic rate. */
  def isotonicCalibration(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val agg = docs.select(
        least(floor(length(col("text")) / 16), lit(Bins - 1))
          .cast("long").as("bin"),
        (instr(col("text"), "the") > 0).cast("long").as("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("p"))
      .orderBy(col("bin"))
      .as[(Long, Long, Long)].collect()

    // PAV: stack of blocks (startIdx, endIdx, n, p); merge while the
    // top block's rate exceeds the incoming one (strict > — equal rates
    // need no pooling and the minimax value is unaffected either way)
    case class Block(lo: Int, hi: Int, n: Long, p: Long)
    val stack = scala.collection.mutable.ArrayBuffer.empty[Block]
    agg.zipWithIndex.foreach { case ((_, n, p), i) =>
      var cur = Block(i, i, n, p)
      // rate comparison via BigInt: per-block counts beyond ~3e9 would
      // overflow the Long cross-product at the claimed 100 TB scale; the
      // loop runs over ≤ Bins blocks so the arbitrary-precision cost is nil
      while (stack.nonEmpty &&
        BigInt(stack.last.p) * cur.n > BigInt(cur.p) * stack.last.n) {
        val t = stack.remove(stack.length - 1)
        cur = Block(t.lo, cur.hi, t.n + cur.n, t.p + cur.p)
      }
      stack += cur
    }
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val rows = stack.flatMap { b =>
      val g = math.max(gcd(b.p, b.n), 1L)
      (b.lo to b.hi).map { i =>
        val (bin, n, p) = agg(i)
        (bin, n, p, b.p / g, b.n / g)
      }
    }
    rows.toSeq.toDF("bin", "n", "p", "cal_num", "cal_den")
      .orderBy(col("bin"))
  }
}
