package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Probabilistic record linkage (entity resolution) with Fellegi–Sunter
  * style integer agreement weights over a blocked candidate join — the
  * field-based companion to the content-hash dedup family (`DedupOps`):
  * two record sets with NO shared key are matched on fuzzy field
  * agreement (name edit distance, amount proximity, categorical
  * equality), and only pairs whose summed weight clears a threshold are
  * linked.
  *
  * Scale shape: the candidate space is Σ_k |A_k|·|B_k| over the blocking
  * key — never |A|·|B| — so the block key choice IS the cost model, and
  * [[ProfileOps.joinSizePlan]] prices it exactly from two narrow count
  * aggregates before a single candidate is generated. Every comparator is
  * a codegen'd builtin (`levenshtein`, integer abs/CASE), so scoring
  * stays inside whole-stage codegen on the joined stream; no UDFs, no
  * driver collection. Blocking trades recall for cost exactly like LSH
  * banding: a true pair whose blocking field was corrupted never meets
  * (the spec pins this miss class), which production absorbs by unioning
  * several cheap blocking passes.
  *
  * Weights are integers (not log-likelihood doubles) so the linkage is
  * bit-reproducible across engines and the driver oracle can replay the
  * scoring verbatim.
  */
object LinkageOps {

  /** Score threshold and balance tolerance (cents) of the public ops. */
  private val Threshold = 18
  private val CentsTol = 75

  /** Score all blocked candidate pairs and keep links with
    * `score >= Threshold`. Inputs carry columns
    * `(key, name, block, cents, seg)`; output one row per linked pair:
    * `(a_key, b_key, lev, w_name, w_bal, w_seg, score, is_true)` ordered
    * by keys.
    *
    *  - name: levenshtein 0 → +24 (exact), ≤2 → +12 (typo/transposition
    *    class), else −8
    *  - cents: |Δ| ≤ `CentsTol` → +10, else −6
    *  - seg: equal → +6, else −4
    *
    * One representative per attribute tuple is scored (see [[links]]);
    * the output equals the uncollapsed kernel's row for row
    * (spec-pinned). */
  def fellegiSunterLinks(a: DataFrame, b: DataFrame): DataFrame =
    links(a, b, Seq(col("block")), Threshold, CentsTol, collapseExact = true)
      .orderBy(col("a_key"), col("b_key"))

  /** MULTI-PASS blocking — how production absorbs the single-block
    * recall loss the `fellegiSunterLinks` spec pins (a true pair whose
    * blocking field was corrupted never meets): a pair is a candidate
    * when it shares ANY of several cheap blocking keys. Keys here:
    *   1. the caller's `block` field (nation in p118);
    *   2. cents ÷ W bands, W = 2·CentsTol + 50;
    *   3. the SAME bands offset by W/2 — the classic two-offset trick:
    *      union-grid boundaries are W/2 apart, so any pair within
    *      W/2 − 1 ≥ CentsTol cents straddles at most ONE grid's boundary
    *      and shares a band in the other pass — balance-compatible pairs
    *      are GUARANTEED to meet even when their blocking field was
    *      corrupted, for ANY CentsTol (the width derives from it).
    * Banding uses FLOOR division (pmod-adjusted: Spark's `div` truncates
    * toward zero while DuckDB's `//` floors — q118's truncation-vs-floor
    * pin), so arbitrarily negative balances band identically on both
    * engines with no magic nonnegativity shift to outgrow.
    * All three keys run through ONE collapse, join and score ([[links]]),
    * then one row-level `distinct` and one sort. Scoring is per-pair and
    * deterministic, so the output equals the ordered distinct union of
    * three single-key [[fellegiSunterLinks]] runs for any input, repeated
    * keys included (spec-pinned): every p118 row plus the recovered
    * corrupted-block pairs. */
  def fellegiSunterLinksMultiPass(a: DataFrame, b: DataFrame): DataFrame = {
    val width = 2 * CentsTol + 50
    val offset = width / 2
    // floor(x / w) for any-sign x: (x − pmod(x, w)) div w — pmod is
    // nonnegative, so the dividend is an exact multiple and trunc == floor
    def floorBand(shift: Int) =
      expr(s"(cents + $shift - pmod(cents + $shift, $width)) div $width")
    links(a, b, Seq(col("block"), floorBand(0), floorBand(offset)),
      Threshold, CentsTol, collapseExact = true)
      .distinct()
      .orderBy(col("a_key"), col("b_key"))
  }

  /** The one linkage kernel: a pair is a candidate when it agrees on any
    * of `blockKeys` (expressions over the input columns, one per pass).
    *
    * Attribute-identical collapse (`collapseExact`) — the r5 lesson
    * shared with `DedupOps.textGroups`/p127: every comparator is a pure
    * function of (name, block, cents, seg), so a crawled/tiled corpus's
    * exact-duplicate records multiply every in-block quadratic by the
    * dup-cluster size squared for no information. Each side groups ONCE
    * to one representative per distinct attribute tuple (key = min key)
    * carrying its member keys; the reps get one (pass, bkey) row per
    * blocking key and meet in ONE equi-join. A rep pair that agrees on
    * several keys meets once per agreeing key, so only the meeting at the
    * FIRST agreeing key is kept, map-side, before the comparators run.
    * The member lists expand once at the end (output-sized); `is_true`
    * is the one key-DEPENDENT output column and is recomputed per
    * expanded pair, so the expansion is output-identical (spec-pinned).
    * Output unordered. */
  private[graft] def links(a: DataFrame, b: DataFrame,
                           blockKeys: Seq[Column], threshold: Int,
                           centsTol: Int, collapseExact: Boolean)
    : DataFrame = {
    def side(df: DataFrame, p: String): DataFrame = {
      val reps =
        if (collapseExact)
          df.groupBy(col("name"), col("block"), col("cents"), col("seg"))
            .agg(min(col("key")).as("key"),
              collect_list(col("key")).as("members"))
        else df.withColumn("members", array(col("key")))
      reps.withColumn("bkeys", array(blockKeys: _*))
        .select(col("key").as(s"${p}_key"),
          col("members").as(s"${p}_members"), col("name").as(s"${p}_name"),
          col("cents").as(s"${p}_cents"), col("seg").as(s"${p}_seg"),
          col("bkeys").as(s"${p}_bkeys"),
          posexplode(col("bkeys")).as(Seq("pass", "bkey")))
    }
    // Two output-identical prunings derived from the score algebra — the
    // classic ER move of letting the cheap integer comparators gate the
    // expensive string one (isolated re-probe: 29.9 s → see BASELINE.md
    // run 12). Both are guarded by the exact bound that makes them
    // lossless, so a caller lowering `threshold` gets the unpruned plan:
    //  1. cheap-field gate: a pair with BOTH w_bal=−6 and w_seg=−4
    //     scores at most 24−10 = 14, so for threshold ≥ 15 candidates
    //     failing both integer tests are dropped BEFORE levenshtein runs
    //     (~80% of candidates here: 5 segments + a 75-cent band).
    //  2. BOUNDED levenshtein: w_bal+w_seg ≤ 16, so a link needs
    //     w_name ≥ threshold−16 — for threshold ≥ 9 that excludes the
    //     −8 tier, i.e. links have lev ≤ 2, and distance > 3 is
    //     indistinguishable from "far"; the threshold variant runs the
    //     banded O(k·n) DP with early exit instead of the full O(n²)
    //     table. Every emitted `lev` belongs to a linked pair (≤ 2), so
    //     the −1 sentinel never escapes.
    val lev =
      if (threshold >= 9) levenshtein(col("a_name"), col("b_name"), 3)
      else levenshtein(col("a_name"), col("b_name"))
    // a null key agrees with nothing, as in the equi-join
    val firstAgreeing = array_position(
      zip_with(col("a_bkeys"), col("b_bkeys"), _ === _), true) - 1
    val candidates = side(a, "a").join(side(b, "b"), Seq("pass", "bkey"))
      .filter(col("pass") === firstAgreeing)
    val gated =
      if (threshold >= 15)
        candidates.filter(
          abs(col("a_cents") - col("b_cents")) <= centsTol ||
            col("a_seg") === col("b_seg"))
      else candidates
    val scores = Seq("lev", "w_name", "w_bal", "w_seg", "score").map(col)
    gated
      .withColumn("lev", lev.cast("long"))
      .withColumn("w_name",
        when(col("lev") === 0, 24L)
          .when(col("lev") > 0 && col("lev") <= 2, 12L) // -1 = beyond bound
          .otherwise(-8L))
      .withColumn("w_bal",
        when(abs(col("a_cents") - col("b_cents")) <= centsTol, 10L)
          .otherwise(-6L))
      .withColumn("w_seg",
        when(col("a_seg") === col("b_seg"), 6L).otherwise(-4L))
      .withColumn("score", col("w_name") + col("w_bal") + col("w_seg"))
      .filter(col("score") >= threshold)
      .select(explode(col("a_members")).as("a_key") +: col("b_members") +:
        scores: _*)
      .select(col("a_key") +: explode(col("b_members")).as("b_key") +:
        scores: _*)
      .select(col("a_key") +: col("b_key") +: scores :+
        (col("a_key") === col("b_key")).cast("long").as("is_true"): _*)
  }
}
