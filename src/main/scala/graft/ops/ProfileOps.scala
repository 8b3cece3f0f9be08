package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Table profiling (ANALYZE-style column statistics): one pass over the
  * table emitting per-column completeness, exact cardinality, and min/max.
  * Callers pre-normalize non-integer/non-string columns (doubles → cents,
  * timestamps → epoch micros) so the stringified min/max render
  * identically in every engine.
  *
  * Scale notes: the single agg computes every column's stats in one
  * shuffle; the multi-column exact countDistinct plans as an Expand
  * (×cols input amplification) — the deliberate exactness baseline. At
  * 10^12 rows swap `countDistinct` for `approx_count_distinct` (HLL++)
  * and the Expand disappears; the output contract is unchanged.
  */
object ProfileOps {

  /** Buckets B of [[equiDepthHistogram]]. */
  private val HistBuckets = 10

  /** Equi-depth histogram (ANALYZE's companion stat to [[profile]]):
    * boundaries are the exact q/B-quantiles (B = `HistBuckets`) via the rank-over-distinct-
    * values formulation (the q25 method — cumulative counts over the
    * DISTINCT value domain, never a global row sort), collected as B−1
    * scalars (the IvfOps-style tiny-collect contract), then every row is
    * bucketed by a codegen'd comparison chain and aggregated once.
    * Ties bucket low (bucket = #boundaries strictly below the value), so
    * the histogram is deterministic under duplicates. */
  def equiDepthHistogram(df: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = df.select(col(valueCol).cast("long").as("v"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = v.groupBy(col("v")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(w))
    val n = v.count()
    val spark = df.sparkSession
    import spark.implicits._
    val rks = (1 until HistBuckets)
      .map(q => (q, (q.toLong * n + HistBuckets - 1) / HistBuckets))
      .toDF("q", "rk")
    // all B−1 boundaries in ONE pass over the distinct-value rollup
    val bounds = cum.crossJoin(broadcast(rks))
      .where(col("cum") >= col("rk") && col("cum") - col("c") < col("rk"))
      .select(col("q"), col("v")).collect()
      .sortBy(_.getInt(0)).map(_.getLong(1)).toSeq
    val bucket = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(lit(b) < col("v"), 1).otherwise(0)
    }
    v.select(col("v"), bucket.cast("int").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), min(col("v")).as("min_v"),
        max(col("v")).as("max_v"), sum(col("v")).cast("long").as("sum_v"))
      .orderBy(col("bucket"))
  }

  /** Block widths (log2 of ids per block) of [[missingIdRanges]] and
    * [[denseRanks]]. */
  private val MissingBlockBits = 8
  private val DenseBlockBits = 5

  /** Ingest-completeness audit: the maximal MISSING id ranges of a table
    * whose key is expected dense (upload manifests, shard row counters) —
    * after a 6-hour 10^12-doc ingest, "which id ranges never landed" is
    * THE resumability question, and rescanning must not cost a global
    * sort. Two-level exact formulation: ids are bucketed into fixed
    * 2^`MissingBlockBits` blocks, gaps WITHIN a block come from a block-local
    * window (embarrassingly parallel — one keyed shuffle), and gaps that
    * CROSS block boundaries (including entirely-missing blocks) come from
    * a second window over the per-block (min, max) summary — one row per
    * non-empty block, thousands of rows where the naive global-sort
    * window would order 10^12. Union of the two is exactly the lead()-
    * over-all-ids answer, which is how the oracle computes it. */
  def missingIdRanges(df: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ids = df.select(col(idCol).cast("long").as("id"))
      .withColumn("blk", shiftright(col("id"), MissingBlockBits))
    val wLocal = Window.partitionBy(col("blk")).orderBy(col("id"))
    val local = ids.withColumn("nxt", lead(col("id"), 1).over(wLocal))
      .where(col("nxt") - col("id") > 1)
      .select((col("id") + 1).as("gap_start"), (col("nxt") - 1).as("gap_end"))
    val summary = ids.groupBy(col("blk"))
      .agg(min(col("id")).as("mn"), max(col("id")).as("mx"))
    val wBlocks = Window.orderBy(col("mn")) // rows = non-empty blocks: tiny
    val boundary = summary
      .withColumn("nxt_mn", lead(col("mn"), 1).over(wBlocks))
      .where(col("nxt_mn") - col("mx") > 1)
      .select((col("mx") + 1).as("gap_start"), (col("nxt_mn") - 1).as("gap_end"))
    local.union(boundary).orderBy(col("gap_start"))
  }

  /** Global DENSE row numbering without a global sort — the 10^12-row
    * zipWithIndex: a single `row_number() OVER (ORDER BY key)` funnels the
    * whole table through ONE partition, so the rank is computed in two
    * levels instead. Keys are bucketed into 2^`DenseBlockBits` blocks (monotone
    * in the key, so block order IS key order); each block ranks locally
    * (keyed shuffle, embarrassingly parallel) and a prefix-sum over the
    * tiny per-block count summary supplies each block's global offset.
    * dense_id = block offset + local rank − 1 — exactly row_number()−1,
    * which is how the oracle computes it. Requires unique keys (ties
    * within a key would make the local order nondeterministic). */
  def denseRanks(df: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = df.select(col(keyCol).cast("long").as("k"))
      .withColumn("blk", shiftright(col("k"), DenseBlockBits))
    val wLocal = Window.partitionBy(col("blk")).orderBy(col("k"))
    val local = keyed.withColumn("rn", row_number().over(wLocal))
    val wBlocks = Window.orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1) // rows = blocks: tiny
    val offsets = keyed.groupBy(col("blk")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(wBlocks), lit(0L)))
      .select(col("blk"), col("off"))
    local.join(offsets, Seq("blk")) // offsets ≈ #blocks rows → broadcast
      .select(col("k").as(keyCol),
        (col("off") + col("rn") - 1).as("dense_id"))
  }

  /** Leading-digit (Benford) census over a positive integer measure —
    * the classic fabricated-or-truncated-numbers screen in data-quality
    * sweeps. Digit extraction is integer-exact via the decimal string
    * head (no float log10 at power-of-ten boundaries); output carries the
    * observed count and its ppm share, both integers, against which the
    * caller compares the Benford expectation (constants, not computed
    * here — log10(1+1/d) is irrational and engines may differ in ulp). */
  def leadingDigitCensus(df: DataFrame, valueExpr: org.apache.spark.sql.Column): DataFrame = {
    val digits = df.select(valueExpr.cast("long").as("v"))
      .where(col("v") > 0)
      .select(substring(col("v").cast("string"), 1, 1).as("digit"))
    val counts = digits.groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total")) // 9 rows in, 1 out
    counts.crossJoin(total) // broadcast of a scalar, not a shuffle
      .select(col("digit"), col("n"), expr("n * 1000000 div total").as("ppm"))
      .orderBy(col("digit"))
  }

  /** Join-size PLAN without executing the join: for an equi-join on
    * `key`, the output cardinality is exactly Σ_k |A_k|·|B_k|, so two
    * narrow per-key count aggregates plus a join of the TINY count tables
    * (|distinct keys| rows, not |rows|) predict the join's size and its
    * per-key skew contribution before a single probe row is shuffled.
    * This is the pre-flight a 10^12×10^12 join runs to choose salting /
    * AQE skew thresholds: planning cost is two scans, never the join.
    * `share_ppm` uses integer DIV so the census is engine-exact; an
    * outer-key absent from either side contributes 0 rows and is
    * (correctly) absent from the plan. */
  def joinSizePlan(a: DataFrame, b: DataFrame, key: String): DataFrame = {
    val ca = a.groupBy(col(key)).agg(count(lit(1)).as("rows_a"))
    val cb = b.groupBy(col(key)).agg(count(lit(1)).as("rows_b"))
    val per = ca.join(cb, Seq(key))
      .select(col(key), col("rows_a"), col("rows_b"),
        (col("rows_a") * col("rows_b")).as("join_rows"))
    val total = per.agg(sum(col("join_rows")).as("total_rows")) // 1 row
    per.crossJoin(total) // broadcast of a scalar, not a shuffle
      .select(col(key), col("rows_a"), col("rows_b"), col("join_rows"),
        expr("join_rows * 1000000L div total_rows").as("share_ppm"))
      .orderBy(col(key))
  }

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__nn"),
        countDistinct(col(c)).as(s"${c}__nd"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map { c =>
      s"'$c', ${c}__nn, ${c}__nd, ${c}__min, ${c}__max"
    }.mkString(", ")
    one.select(col("n_rows"), expr(
        s"stack(${cols.size}, $stackArgs) AS " +
          "(column_name, n_nonnull, n_distinct, min_v, max_v)"))
      .select(col("column_name"), col("n_rows"),
        (col("n_rows") - col("n_nonnull")).as("n_null"),
        col("n_distinct"), col("min_v"), col("max_v"))
      .orderBy(col("column_name"))
  }
}
