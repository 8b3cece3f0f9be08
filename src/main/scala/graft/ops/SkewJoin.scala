package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Targeted salting for skewed equi-joins — the manual fallback when AQE's
  * skew-join splitting can't fire (e.g. the skew is on the BUILD side of a
  * shuffle join, or the join feeds an aggregation that pins partitioning).
  *
  * Mechanics: probe-side rows whose key is in `heavyKeys` get a salt in
  * [0, Salts) derived from a caller-supplied row-distinct column (so the
  * heavy key's rows spread over `Salts` reducers); build-side rows with a
  * heavy key are replicated once per salt. Non-heavy keys keep salt 0 — no
  * replication, no extra shuffle volume. Result is row-identical to the
  * plain join (spec-asserted).
  *
  * Scale shape: replication cost = |build rows with heavy keys| × Salts,
  * chosen ≪ probe size; the heavy reducer that would have absorbed p% of
  * the table now absorbs p/Salts. `heavyKeys` comes from a cheap
  * heavy-hitter pass (CorpusOps.countMinSketch or a sampled groupBy) — it
  * is a small driver-side list, broadcast inside the `isin` literal.
  */
object SkewJoin {

  /** Salts per heavy key. */
  private val Salts = 8

  /** Detect heavy keys: keys holding ≥ `minSharePct` percent of the rows.
    * One keyed partial+final count (the count table is |distinct keys|
    * rows, never |rows|), one tiny agg over it for the total, then the
    * driver collects only keys over the bar — bounded by construction at
    * 100/minSharePct entries, so the `isin` literal stays small no matter
    * how large the input. This is the derivation pass `saltedJoin`'s
    * heavyKeys parameter documents. */
  private[graft] def heavyKeys(df: DataFrame, key: String,
                               minSharePct: Double): Seq[Any] = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("__n"))
    val total = CorpusOps.sumOrZero(counts.agg(sum(col("__n"))))
    counts.where(col("__n") * 100 >= lit(total * minSharePct))
      .select(col(key)).collect().map(_.get(0)).toSeq
  }

  /** Row share (percent) at which [[adaptiveSaltedJoin]] salts a key. */
  private val HeavySharePct = 10.0

  /** `saltedJoin` with the heavy-key list derived by `heavyKeys` at
    * `HeavySharePct` — the one-call adaptive form for when the skew
    * profile isn't known ahead of time. */
  def adaptiveSaltedJoin(probe: DataFrame, build: DataFrame, key: String,
                         saltSource: Column): DataFrame =
    saltedJoin(probe, build, key, saltSource,
      heavyKeys(probe, key, HeavySharePct))

  /** @param saltSource a probe-side column with per-row variation (an id,
    *                   an offset — anything; only its hash is used). */
  private[graft] def saltedJoin(probe: DataFrame, build: DataFrame,
                                key: String, saltSource: Column,
                                heavyKeys: Seq[Any]): DataFrame = {
    val heavy = col(key).isin(heavyKeys: _*)
    val probeSalted = probe.withColumn("__salt",
      when(heavy, pmod(xxhash64(saltSource), lit(Salts)).cast("int"))
        .otherwise(lit(0)))
    val buildSalted = build.withColumn("__salt",
      explode(when(heavy, sequence(lit(0), lit(Salts - 1)))
        .otherwise(array(lit(0)))))
    probeSalted.join(buildSalted, Seq(key, "__salt")).drop("__salt")
  }
}
