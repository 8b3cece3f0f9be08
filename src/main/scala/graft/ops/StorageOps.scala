package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Physical-design operators: what the table LAYOUT should be, decided
  * from data statistics — the advisor side of `io/TableIO`'s
  * partitioned/clustered writers.
  */
object StorageOps {

  /** Rows per encoding block of `encodingAdvisor` (a writer's page). */
  private val BlockRows = 4096

  /** Columnar-encoding advisor: for each candidate column, predict the
    * encoded size under PLAIN, RLE and DICTIONARY and recommend the
    * cheapest — the decision a parquet/ORC writer makes per column
    * chunk, surfaced as a query so layout choices are data-driven
    * instead of default.
    *
    * Runs are counted within `BlockRows`-sized blocks of the canonical
    * `(l_orderkey, l_linenumber)` order — real writers reset encodings
    * per page, so block-local runs (a slight boundary over-count) are
    * the HONEST statistic, and they keep the window partitioned: no
    * global single-partition sort, the one scale trap of naive
    * run-counting. All sizes are exact integer byte models over the
    * canonical string rendering: plain = Σlen, RLE = Σ(run-head len + 4),
    * dict = ceil(n·bits/8) + Σ distinct-value lengths with
    * bits = len(bin(distinct−1)) (minimal-width binary, q131-pinned
    * identical in both engines). Ties break dict < plain < rle. */
  def encodingAdvisor(lineitem: DataFrame): DataFrame = {
    val base = lineitem.select(
      col("l_orderkey").cast("long").as("ok"),
      col("l_linenumber").cast("long").as("ln"),
      col("l_returnflag").as("c_returnflag"),
      col("l_linestatus").as("c_linestatus"),
      col("l_quantity").cast("long").cast("string").as("c_quantity"),
      col("l_shipdate").cast("date").cast("string").as("c_shipdate"))
    val blocked = base.withColumn("blk",
      expr(s"(ok * 8 + ln) div $BlockRows"))
    val cols = Seq("c_returnflag", "c_linestatus", "c_quantity",
      "c_shipdate")
    val per = cols.map { c =>
      val v = col(c)
      // (ok, ln) is NOT unique in the synthetic lineitem — the value
      // itself is the canonical tiebreak: ties that remain have EQUAL
      // values, so the run count is order-independent and deterministic
      val w = Window.partitionBy(col("blk"))
        .orderBy(col("ok"), col("ln"), v)
      val boundary = (lag(v, 1).over(w).isNull ||
        lag(v, 1).over(w) =!= v).cast("long")
      blocked.select(lit(c.stripPrefix("c_")).as("column_name"), v.as("v"),
          boundary.as("b"))
        .groupBy(col("column_name"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("v")).as("n_distinct"),
          sum(col("b")).as("n_runs"),
          sum(length(col("v"))).cast("long").as("plain_bytes"),
          sum(when(col("b") === 1L, length(col("v")) + 4L)
            .otherwise(0L)).cast("long").as("rle_bytes"))
    }.reduce(_.unionByName(_))
    val dictLens = cols.map { c =>
      blocked.select(lit(c.stripPrefix("c_")).as("column_name"),
          col(c).as("v"))
        .distinct()
        .groupBy(col("column_name"))
        .agg(sum(length(col("v"))).cast("long").as("dict_value_bytes"))
    }.reduce(_.unionByName(_))
    per.join(dictLens, "column_name")
      .withColumn("bits", length(bin(
        greatest(col("n_distinct") - 1, lit(1L)))).cast("long"))
      .withColumn("dict_bytes",
        ((col("n") * col("bits") + 7L) / lit(8L)).cast("long") +
          col("dict_value_bytes"))
      .withColumn("advice",
        when(col("dict_bytes") <= col("plain_bytes") &&
          col("dict_bytes") <= col("rle_bytes"), "dict")
          .when(col("plain_bytes") <= col("rle_bytes"), "plain")
          .otherwise("rle"))
      .select(col("column_name"), col("n"), col("n_distinct"),
        col("n_runs"), col("plain_bytes"), col("rle_bytes"),
        col("dict_bytes"), col("advice"))
      .orderBy(col("column_name"))
  }
}
