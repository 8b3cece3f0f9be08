package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** Bloom-filter semi-join reduction (an explicit runtime filter).
  *
  * For a selective inner join `big ⋈ small`, the dominant cost at 100 TB is
  * shuffling the big side: every probe row pays the exchange even though
  * only a sliver of them find a partner. Building a Bloom filter over the
  * build side's keys (one distributed pass; the sketch is an OR-mergeable
  * fixed-size bit array, so the driver receives bits/8 bytes regardless of
  * row count) and broadcasting it lets the probe side drop non-matching
  * rows BEFORE the exchange — shuffle volume falls from O(|big|) to
  * O(matches + fpp·|big|), and the join result is exactly preserved for
  * inner/semi joins because a Bloom filter has no false negatives.
  *
  * Spark's optimizer has an automatic analogue
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`, injected under AQE
  * when column stats clear its thresholds); this operator is the explicit,
  * deterministic version a pipeline can rely on when stats are absent —
  * the usual case right after ingesting raw web data.
  */
object BloomJoin {

  /** The sketch's target false-positive rate. */
  private val Fpp = 0.01

  /** Inner join with the probe (`large`) side pre-filtered by a Bloom
    * filter of `small`'s keys. Key column must be integral or string.
    * NOT valid for outer joins (dropped probe rows would lose their
    * null-extended output row).
    *
    * The probe is a codegen'd Catalyst expression (BloomMightContain), not a
    * `udf()` — per-row lambda boxing on the probe side would tax exactly the
    * rows this operator exists to make cheap. The sketch is sized from
    * `small.count()` — one agg-only job, trivially cheap next to the build
    * scan, and it keeps the `Fpp` contract honest: a fixed guess that the
    * build side outgrows silently degrades the realized fpp and evaporates
    * the shuffle reduction. */
  def bloomReducedJoin(large: DataFrame, small: DataFrame, key: String): DataFrame = {
    large.schema(key).dataType match {
      case LongType | IntegerType | StringType => ()
      case t => throw new IllegalArgumentException(s"unsupported key type $t")
    }
    val n = small.count()
    if (n == 0) return large.join(small, key) // no build keys: nothing to probe
    val bf = small.stat.bloomFilter(key, n, Fpp)
    import org.apache.spark.sql.GraftColumnBridge._
    val keep = column(graft.functions.BloomMightContain(expression(col(key)), bf))
    large.filter(keep).join(small, key)
  }
}
