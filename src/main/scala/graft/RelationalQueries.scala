package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQL-expressible relational operators the engine relies on (SURVEY.md
  * §2.2): verification equi/anti joins, metrics rollups, validity splits,
  * top-k, broadcast dimension joins, window ordering. Each has an exact
  * DuckDB oracle; float aggregates use DECIMAL casts so sums are exact and
  * order-independent across engines.
  */
object RelationalQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // metrics-table rollup analogue (lineage rows → per-stage aggregates)
    "q10_metrics_rollup" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             (sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("sum_value_cents"),
             countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))),

    // validity-split analogue (dataset sink routing, dataset_builder.py:33-44)
    "q11_validity_split" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
             (sum(col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long").as("sum_price_cents"))
        .orderBy(col("o_orderstatus"))),

    // golden-fixture verification: equi-join + mismatch anti-join analogue
    "q12_verify_antijoin" -> ((s, dir) =>
      t(s, dir, "orders").as("o")
        .join(t(s, dir, "customer").as("c"),
          col("o.o_custkey") === col("c.c_custkey"), "left_anti")
        .agg(count(lit(1)).as("orphan_orders"))),

    // top-k by size (sorts/limits category; deterministic tiebreak)
    "q13_topk_docs" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
        .limit(100)),

    // broadcast dimension join (small dims broadcast, SURVEY.md §4)
    "q14_broadcast_join" -> ((s, dir) =>
      t(s, dir, "customer").as("c")
        .join(broadcast(t(s, dir, "nation").as("n")),
          col("c.c_nationkey") === col("n.n_nationkey"))
        .groupBy(col("n.n_name"))
        .agg(count(lit(1)).as("n_customers"),
             (sum(col("c.c_acctbal").cast("decimal(18,2)")) * 100).cast("long").as("sum_acctbal_cents"))
        .orderBy(col("n_name"))),

    // window ordering (per-user event sequence numbers)
    "q15_window_seq" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          row_number().over(w).as("seq")) // per-event output: no global sort
    }),

    // TPC-H Q1-style pricing summary (wide agg, partial+final)
    "q17_pricing_summary" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_items"),
             (sum(col("l_quantity").cast("decimal(18,2)")) * 100).cast("long").as("sum_qty_c"),
             (sum(col("l_extendedprice").cast("decimal(18,2)")) * 100).cast("long").as("sum_price_c"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // join + agg + top-k (deterministic tiebreak)
    "q18_top_customers" -> ((s, dir) =>
      t(s, dir, "orders").as("o")
        .join(t(s, dir, "customer").as("c"),
          col("o.o_custkey") === col("c.c_custkey"))
        .groupBy(col("c.c_custkey"))
        .agg(count(lit(1)).as("n_orders"),
             (sum(col("o.o_totalprice").cast("decimal(18,2)")) * 100).cast("long").as("sum_c"))
        .orderBy(col("sum_c").desc, col("c_custkey").asc)
        .limit(50)),

    // filter pushdown to the scan (PushedFilters on l_shipdate)
    "q19_date_filter" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1995-06-01").cast("timestamp"))
        .agg(count(lit(1)).as("n_items"),
             (sum(col("l_extendedprice").cast("decimal(18,2)")) * 100).cast("long").as("sum_price_c"))),

    // as-of join: each purchase attributed to the user's latest prior (or
    // simultaneous) click — oracled against DuckDB's native ASOF JOIN
    "q20_asof_attribution" -> ((s, dir) => {
      def side(t: String) = this.t(s, dir, "events")
        .where(col("event_type") === t)
        .select(col("user_id").as("key"), col("ts"), col("event_id").as("id"))
      graft.ops.AsOfJoin.join(side("purchase"), side("click"))
        .withColumnRenamed("left_id", "purchase_id")
        .withColumnRenamed("right_id", "click_id")
    }),

    // GROUP BY ALL parity pin (the DuckDB-originated sugar Spark adopted
    // in 3.4): every non-aggregate select item becomes a grouping key —
    // identical expansion in both engines on a mixed rollup
    "q109_group_by_all" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("docs_gba")
      s.sql("""SELECT source, lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
               FROM docs_gba GROUP BY ALL ORDER BY source, lang""")
    }),

    // ingest-completeness audit: deterministic deletions planted into the
    // dense doc_id domain (runs of 10 + isolated singles), then the
    // maximal missing ranges recovered WITHOUT a global sort — block-local
    // windows + a boundary stitch over the tiny per-block summary
    "q110_missing_ranges" -> ((s, dir) => {
      val landed = t(s, dir, "documents")
        .where(!(col("doc_id") % 1000 >= 430 && col("doc_id") % 1000 < 440) &&
               col("doc_id") % 97 =!= 13)
      graft.ops.ProfileOps.missingIdRanges(landed, "doc_id")
    }),

    // leading-digit (Benford) census over order totals in cents — the
    // fabricated/truncated-numbers screen; digit via the decimal string
    // head, integer-exact at every power-of-ten boundary
    "q111_benford" -> ((s, dir) =>
      graft.ops.ProfileOps.leadingDigitCensus(t(s, dir, "orders"),
        col("o_totalprice").cast("decimal(18,2)") * 100)),

    // string-function semantics pins: LIKE with explicit ESCAPE (escaped _
    // is a literal; bare _ a wildcard), ILIKE case folding, 1-based
    // instr, split_part, lpad fill, custom-char trim, repeat/reverse —
    // the workhorse scalar surface a query port silently breaks on
    "q112_string_semantics" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("docs_str")
      s.sql("""SELECT doc_id,
          instr(substring(text, 1, 40), ' ') AS first_space,
          split_part(substring(text, 1, 40), ' ', 2) AS second_word,
          lpad(lang, 6, '*') AS lang_pad,
          trim(BOTH 'n' FROM lang) AS lang_trim,
          CAST(lang ILIKE 'EN%' AS INT) AS ilike_en,
          CAST(source LIKE 'src1!_%' ESCAPE '!' AS INT) AS esc_underscore,
          CAST(source LIKE 'src1_' AS INT) AS wild_underscore,
          repeat(lang, 2) AS lang_x2,
          reverse(source) AS source_rev
        FROM docs_str WHERE doc_id % 29 = 0 ORDER BY doc_id""")
    }),

    // binary-collation ordering pin: mixed case, '_', digits and
    // multi-digit strings ranked under the default codepoint order both
    // engines use ('0' < 'A' < '_' < 'a'; '10' < '9') — the silent
    // divergence locale-aware collations introduce
    "q113_binary_collation" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("docs_coll")
      s.sql("""WITH ks AS (
          SELECT DISTINCT upper(lang) AS k FROM docs_coll
          UNION SELECT DISTINCT lower(lang) FROM docs_coll
          UNION SELECT DISTINCT concat('_', lang) FROM docs_coll
          UNION SELECT DISTINCT concat(upper(lang), '0') FROM docs_coll
          UNION SELECT DISTINCT CAST(n_chars % 12 AS STRING) FROM docs_coll)
        SELECT row_number() OVER (ORDER BY k) AS rk, k FROM ks ORDER BY rk""")
    }),

    // timezone conversion pin across a DST transition: events shifted +69
    // days straddle America/New_York's 2024-03-10 spring-forward, so the
    // joint (NY hour, Kolkata hour) census must encode BOTH the -5/-4
    // offset split and Kolkata's half-hour offset — identical IANA rules
    // in both engines, session-timezone-independent by construction
    "q114_timezone_dst" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("events_tz")
      s.sql("""WITH sh AS (SELECT ts + INTERVAL '69' DAY AS ts2 FROM events_tz)
        SELECT hour(from_utc_timestamp(ts2, 'America/New_York')) AS h_ny,
               hour(from_utc_timestamp(ts2, 'Asia/Kolkata')) AS h_kolkata,
               count(*) AS n
        FROM sh GROUP BY 1, 2 ORDER BY 1, 2""")
    }),

    // epoch round-trip pin: micros extraction, reconstruction, and the
    // second/milli truncation ladder — the serialization boundary every
    // cross-system timestamp handoff crosses
    "q115_epoch_roundtrip" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("events_ep")
      // parquet reads ts as TIMESTAMP_NTZ; the UTC session makes the cast
      // to instant the identity on the wall clock, matching DuckDB's
      // naive epoch_us
      s.sql("""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts
                          FROM events_ep WHERE event_id % 97 = 0)
        SELECT event_id, unix_micros(ts) AS us,
          hour(timestamp_micros(unix_micros(ts))) AS h_rt,
          unix_micros(date_trunc('second', ts)) AS us_sec,
          unix_micros(date_trunc('millisecond', ts)) AS us_ms
        FROM e ORDER BY event_id""")
    }),

    // global dense row numbering WITHOUT a global sort (the 10^12-row
    // zipWithIndex): block-local row_number + prefix-sum offsets over the
    // tiny per-block count summary; gaps planted so rank ≠ identity
    "q116_dense_ids" -> ((s, dir) =>
      graft.ops.ProfileOps.denseRanks(
        t(s, dir, "documents").where(col("doc_id") % 7 =!= 3),
        "doc_id")),

    // Merkle-style replica anti-entropy diff: right replica planted with
    // drops, changes and extra rows; per-block xor fingerprints prune the
    // drill-down to differing blocks, yet the output must equal the
    // direct full-outer row diff the oracle computes
    "q117_merkle_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val right = d.where(col("doc_id") % 577 =!= 23)
        .withColumn("text", when(col("doc_id") % 389 === 11,
          concat(col("text"), lit("X"))).otherwise(col("text")))
        .unionByName(d.where(col("doc_id") % 613 === 5)
          .select((col("doc_id") + 1000000000L).as("doc_id"), col("text")))
      graft.ops.CorpusOps.merkleDiff(d, right)
    }),

    // numeric-semantics ladder pin: the tie-rounding and signed
    // integer-division rules money/offset arithmetic silently breaks on
    // when ported. Exact .5 ties constructed integer-side (±(k+0.5) as
    // DECIMAL), so every column is a BIGINT both engines render
    // identically: round = HALF_UP (ties away from zero, both engines
    // native), bround = HALF_EVEN (DuckDB has no bround — the oracle
    // derives the even neighbor with integer CASE arithmetic), negative-
    // scale round at the ...50 boundary, DIV/% truncation-toward-zero
    // with dividend-sign remainder, pmod's always-nonnegative rail, and
    // floor/ceil on negative halves
    "q118_numeric_semantics" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_num")
      s.sql("""WITH b AS (
          SELECT o_orderkey, CAST(o_orderkey % 997 AS BIGINT) AS k,
            CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE -1 END AS BIGINT)
              AS sign,
            CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
              AS cents
          FROM orders_num WHERE o_orderkey % 61 = 0),
        v AS (SELECT *, sign * (2*k + 1) AS v2,
                CAST(sign * (2*k + 1) AS DECIMAL(19,1)) * 0.5 AS vd
              FROM b)
        SELECT o_orderkey, k, sign,
          CAST(round(vd, 0) AS BIGINT) AS half_up,
          CAST(bround(vd, 0) AS BIGINT) AS half_even,
          CAST(round(cents, -2) AS BIGINT) AS cents_hundreds,
          CAST(v2 DIV 7 AS BIGINT) AS idiv,
          CAST(v2 % 7 AS BIGINT) AS imod,
          CAST(pmod(v2, 7) AS BIGINT) AS pm,
          CAST(floor(vd) AS BIGINT) AS flr,
          CAST(ceil(vd) AS BIGINT) AS cl
        FROM v ORDER BY o_orderkey""")
    }),

    // JSON int64 precision pin: identifiers above 2^53 survive TEXT-path
    // extraction exactly but silently round to the nearest even double on
    // the float path — the id-corruption class every JSON ingest risks.
    // precision_lost marks exactly the rows where the double detour
    // changed the value (odd offsets above 2^53)
    "q123_json_bigint" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_json")
      s.sql("""WITH j AS (
          SELECT o_orderkey,
            concat('{"id":', CAST(9007199254740993 + o_orderkey AS STRING),
                   ',"k":', CAST(o_orderkey AS STRING), '}') AS js
          FROM orders_json WHERE o_orderkey % 23 = 0)
        SELECT o_orderkey,
          CAST(get_json_object(js, '$.id') AS BIGINT) AS id_exact,
          CAST(CAST(get_json_object(js, '$.id') AS DOUBLE) AS BIGINT)
            AS id_via_double,
          CAST(CAST(get_json_object(js, '$.id') AS BIGINT) <>
               CAST(CAST(get_json_object(js, '$.id') AS DOUBLE) AS BIGINT)
               AS BIGINT) AS precision_lost,
          CAST(get_json_object(js, '$.k') AS BIGINT) AS k_exact
        FROM j ORDER BY o_orderkey""")
    }),

    // array function semantics pin over planted nulls/duplicates:
    // 1-based array_position, negative element_at, sort with NULLS FIRST,
    // slice arithmetic, null-skipping fold — and the documented
    // divergence: Spark's array_distinct KEEPS one null, DuckDB's
    // list_distinct DROPS them (the oracle derives Spark's count as
    // len(list_distinct)+has_null)
    "q124_array_semantics" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_arr")
      s.sql("""WITH a AS (
          SELECT o_orderkey, array(
            CAST(o_orderkey % 7 AS BIGINT),
            CASE WHEN o_orderkey % 3 = 0 THEN NULL
                 ELSE CAST(o_orderkey % 5 AS BIGINT) END,
            CAST(o_orderkey % 7 AS BIGINT),
            CASE WHEN o_orderkey % 4 = 0 THEN NULL
                 ELSE CAST(o_orderkey % 11 AS BIGINT) END) AS arr
          FROM orders_arr WHERE o_orderkey % 19 = 0)
        SELECT o_orderkey,
          element_at(sort_array(arr), 1) AS s_first,
          element_at(sort_array(arr), -1) AS s_last,
          CAST(array_position(arr, o_orderkey % 7) AS BIGINT) AS pos_dup,
          CAST(size(array_distinct(arr)) AS BIGINT) AS n_distinct,
          CAST(size(array_distinct(array_compact(arr))) AS BIGINT)
            AS n_distinct_nonnull,
          coalesce(aggregate(
            filter(slice(sort_array(arr), 2, 2), x -> x IS NOT NULL),
            CAST(0 AS BIGINT), (acc, x) -> acc + x), 0L) AS slice_sum,
          CAST(size(filter(arr, x -> x IS NULL)) > 0 AS BIGINT) AS has_null
        FROM a ORDER BY o_orderkey""")
    }),

    // regexp semantics pin over constructed order strings — the dialect
    // corner every scrub/extract port trips on: greedy vs lazy spans,
    // \b word boundaries (C17's digits must NOT count), match counting,
    // global replace (Spark regexp_replace is always-global where DuckDB
    // needs the 'g' flag), numbered backreferences (Spark $2 ≡ DuckDB \2),
    // inline (?i), and regex split keeping leading/trailing empties.
    // Patterns stay in the Java∩RE2 common subset (no lookarounds)
    "q125_regexp_semantics" -> ((s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_orderkey") % 29 === 0)
      val str = concat(lit(" Order "), col("o_orderkey").cast("string"),
        lit(" for cust C"), col("o_custkey").cast("string"),
        lit(" prio "), col("o_orderpriority"), lit(" "))
      o.select(col("o_orderkey"),
        regexp_extract(str, "(\\d+)", 1).cast("long").as("first_num"),
        regexp_count(str, lit("\\d+")).cast("long").as("n_nums"),
        length(regexp_extract(str, "C(.*) ", 1)).cast("long")
          .as("greedy_len"),
        length(regexp_extract(str, "C(.*?) ", 1)).cast("long")
          .as("lazy_len"),
        md5(regexp_replace(str, "(\\w+) (\\w+)", "$2 $1")).as("swapped_md5"),
        regexp_count(str, lit("(?i)o")).cast("long").as("ci_o"),
        regexp_count(str, lit("\\b\\d+\\b")).cast("long").as("wb_nums"),
        size(split(str, "\\s+")).cast("long").as("split_n"),
        length(regexp_replace(str, "\\d+", "#")).cast("long")
          .as("masked_len"))
        .orderBy(col("o_orderkey"))
    }),

    // NULL-propagation semantics pin: the function-by-function map of
    // where NULL annihilates, where it is skipped, and where it is
    // three-valued — the silent-corruption class when porting SQL between
    // engines. Found+pinned divergences: Spark concat() annihilates on
    // any NULL argument where DuckDB's SKIPS NULLs (concat('a',NULL)='a'
    // there), and array_contains over a NULL-holding array returns NULL
    // for an absent needle where DuckDB's list_contains returns false.
    // Equality pins: concat_ws / array_join / least / greatest all skip
    // NULLs in both engines, || null-propagates in both, NULL AND FALSE
    // = FALSE / NULL OR TRUE = TRUE (3VL), <=> vs IS NOT DISTINCT FROM,
    // and empty-set aggregates (count→0, sum→NULL) via scalar subqueries
    "q127_null_semantics" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_nulls")
      s.sql("""WITH b AS (
          SELECT o_orderkey,
            CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE 'v' END AS sv,
            CASE WHEN o_orderkey % 4 = 0 THEN NULL
                 ELSE CAST(o_orderkey % 7 AS BIGINT) END AS nv
          FROM orders_nulls WHERE o_orderkey % 11 = 0)
        SELECT o_orderkey,
          concat('a', sv, 'b') AS cat,
          concat_ws('-', 'a', sv, 'b') AS cat_ws,
          sv || 'x' AS pipe_cat,
          least(nv, CAST(3 AS BIGINT)) AS least_skip,
          greatest(nv, CAST(3 AS BIGINT)) AS greatest_skip,
          least(nv, CAST(NULL AS BIGINT)) AS least_two,
          array_join(array('x', sv, 'y'), ',') AS aj,
          array_join(array('x', sv, 'y'), ',', '?') AS aj_repl,
          CAST(array_contains(array('a', sv), 'zz') AS BIGINT) AS ac_missing,
          CAST(array_contains(array('a', sv), 'a') AS BIGINT) AS ac_hit,
          CAST(nv = nv AS BIGINT) AS eq_null,
          CAST(nv <=> nv AS BIGINT) AS eq_nullsafe,
          CAST(NOT (sv <=> 'v') AS BIGINT) AS isd,
          CAST((nv > 100) AND (o_orderkey < 0) AS BIGINT) AS tvl_and,
          CAST((nv > 100) OR (o_orderkey >= 0) AS BIGINT) AS tvl_or,
          CAST(nv > 100 AS BIGINT) AS tvl_null,
          CAST(NOT (nv > 100) AS BIGINT) AS tvl_not,
          nvl2(sv, 'has', 'none') AS nvl2_v,
          nullif(sv, 'v') AS nullif_v,
          (SELECT count(*) FROM orders_nulls WHERE o_orderkey < 0)
            AS empty_cnt,
          (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders_nulls
             WHERE o_orderkey < 0) AS empty_sum
        FROM b ORDER BY o_orderkey""")
    }),

    // IEEE-754 double semantics pin: the engine-by-engine map of where
    // float behavior is IEEE (identical) vs engine policy (divergent) —
    // the silent-corruption class for numeric pipelines. Probed+pinned
    // divergences: division by zero (Spark ANSI ERRORS on plain `/`,
    // try_divide NULL-rails — DuckDB's plain `/` NULL-rails natively, so
    // the NULL rail is the common contract), ln(0)/ln(<0) (Spark NULL,
    // DuckDB raises), sqrt(<0) (Spark NaN, DuckDB raises), sign(NaN)
    // (Spark NaN, DuckDB 0), abs(-0.0) (Spark +0.0, DuckDB KEEPS the sign
    // bit → '-0.0'). Pinned equal: NaN=NaN true & NaN>Inf in comparisons,
    // grouping and count(DISTINCT) fold -0.0 into 0.0 and all NaNs into
    // one class, max picks NaN / min skips it, Inf−Inf and Inf·0 are NaN,
    // overflow → Inf (never error), 0.1+0.2≠0.3, float32 narrowing and
    // the 2^53 integer-precision edge round-to-even identically, and
    // pow(0,0)=pow(Inf,0)=1. All outputs are BIGINT flags or strings —
    // never raw doubles — because NULL and NaN collapse in the driver's
    // pandas compare
    "q128_float_semantics" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_float")
      s.sql("""WITH c AS (
          SELECT o_orderkey, CAST(o_orderkey % 7 + 1 AS DOUBLE) AS v,
            CAST('NaN' AS DOUBLE) AS nan, CAST('Infinity' AS DOUBLE) AS inf,
            CAST(0 AS DOUBLE) AS zero, CAST('-0.0' AS DOUBLE) AS nz
          FROM orders_float WHERE o_orderkey % 31 = 0)
        SELECT o_orderkey,
          CAST(try_divide(v, zero) IS NULL AS BIGINT) AS div0_null,
          CAST(try_divide(v, nz) IS NULL AS BIGINT) AS divnz_null,
          CAST(nan = nan AS BIGINT) AS nan_self_eq,
          CAST(nan > inf AS BIGINT) AS nan_gt_inf,
          CAST(nz = zero AS BIGINT) AS negzero_eq,
          CAST(isnan(inf - inf) AS BIGINT) AS inf_minus_inf_nan,
          CAST(isnan(inf * zero) AS BIGINT) AS inf_times_zero_nan,
          CAST(v / inf = zero AS BIGINT) AS div_inf_zero,
          CAST(CAST(0.1 AS DOUBLE) + CAST(0.2 AS DOUBLE)
               = CAST(0.3 AS DOUBLE) AS BIGINT) AS tenth_sum_eq,
          CAST(ln(zero) IS NULL AS BIGINT) AS ln0_null,
          CAST(ln(-v) IS NULL AS BIGINT) AS ln_neg_null,
          CAST(exp(v * CAST(1000 AS DOUBLE)) = inf AS BIGINT) AS exp_ovf_inf,
          CAST(CAST(1e308 AS DOUBLE) * CAST(10 AS DOUBLE) = inf AS BIGINT)
            AS lit_ovf_inf,
          CAST(CAST(CAST(16777217 AS DOUBLE) AS FLOAT) AS BIGINT)
            AS f32_narrow,
          CAST(CAST(9007199254740993 AS DOUBLE) AS BIGINT) AS p53_round,
          CAST(isnan(sqrt(-v)) AS BIGINT) AS sqrt_neg_nan,
          CAST(isnan(sign(nan)) AS BIGINT) AS sign_nan_is_nan,
          CAST(sign(-v) AS STRING) AS sign_neg_str,
          CAST(nz AS STRING) AS negzero_str,
          CAST(abs(nz) AS STRING) AS abs_negzero_str,
          CAST(power(inf, zero) = CAST(1 AS DOUBLE) AS BIGINT) AS pow_inf0_one,
          CAST(power(zero, zero) = CAST(1 AS DOUBLE) AS BIGINT) AS pow00_one,
          CAST(nanvl(nan, v) AS BIGINT) AS nanvl_pick,
          CAST(isnan(greatest(v, nan)) AS BIGINT) AS greatest_nan,
          CAST(least(v, nan) AS BIGINT) AS least_picks_v,
          (SELECT CAST(count(DISTINCT x) AS BIGINT) FROM VALUES
             (CAST(1 AS DOUBLE)), (CAST('NaN' AS DOUBLE)),
             (CAST('NaN' AS DOUBLE)), (CAST(0 AS DOUBLE)),
             (CAST('-0.0' AS DOUBLE)) AS t(x)) AS nd_group,
          (SELECT CAST(isnan(max(x)) AS BIGINT) FROM VALUES
             (CAST(1 AS DOUBLE)), (CAST('NaN' AS DOUBLE)),
             (CAST(0 AS DOUBLE)) AS t(x)) AS max_is_nan,
          (SELECT CAST(min(x) = CAST(0 AS DOUBLE) AS BIGINT) FROM VALUES
             (CAST(1 AS DOUBLE)), (CAST('NaN' AS DOUBLE)),
             (CAST(0 AS DOUBLE)) AS t(x)) AS min_skips_nan
        FROM c ORDER BY o_orderkey""")
    }),

    // aggregate-modifier semantics pin (DISTINCT / FILTER / WITHIN
    // GROUP / null policy). Found+pinned: count(DISTINCT a, b) in
    // multi-ARGUMENT form drops rows where ANY argument is null — 2 on
    // the probe data — while count(DISTINCT struct(a, b)) keeps
    // null-field tuples as distinct values (4, q133's composite
    // total-order at work) and DuckDB's tuple DISTINCT agrees with the
    // STRUCT form, so Spark's multi-arg form diverges from BOTH (oracle
    // derives it as tuple-DISTINCT FILTERed to fully-non-null rows);
    // collect_list/array_agg DROP nulls in Spark where DuckDB's
    // array_agg keeps them (derived with a FILTER clause); count() with
    // zero args errors in Spark, legal in DuckDB (documented);
    // percentile_disc returns DOUBLE vs the element type (cast rail).
    // Pinned equal: single-arg DISTINCT null-skip, sum/avg DISTINCT,
    // FILTER clauses incl. composed DISTINCT+FILTER, listagg WITHIN
    // GROUP ordering == string_agg ORDER BY (both skip nulls),
    // count(struct) never-null, discrete median picks the lower element
    "q138_agg_modifiers" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_agg")
      // found en route: listagg WITHIN GROUP cannot share a SELECT
      // with DISTINCT aggregates in Spark 4.1 — the distinct-rewrite
      // Expand mangles the SortOrder child into a ClassCastException
      // (AttributeReference → SortOrder) — so the ordered aggregates
      // live in a second aggregation joined back on the group key
      s.sql("""WITH b AS (
          SELECT o_orderkey % 13 AS g,
            nullif(CAST(o_orderkey % 7 AS BIGINT), 3) AS a,
            nullif(CAST(o_orderkey % 5 AS BIGINT), 2) AS v
          FROM orders_agg WHERE o_orderkey % 11 = 0),
        m AS (SELECT g,
          CAST(count(*) AS BIGINT) AS n,
          CAST(count(DISTINCT a, v) AS BIGINT) AS cd_multi,
          CAST(count(DISTINCT struct(a, v)) AS BIGINT) AS cd_struct,
          CAST(count(struct(a, v)) AS BIGINT) AS c_struct,
          CAST(count(DISTINCT a) AS BIGINT) AS cd_a,
          CAST(sum(DISTINCT a) AS BIGINT) AS sd,
          round(avg(DISTINCT a), 6) AS ad,
          CAST(sum(a) FILTER (WHERE a > v) AS BIGINT) AS f_sum,
          CAST(count(*) FILTER (WHERE a IS NULL) AS BIGINT) AS f_nulls,
          CAST(sum(DISTINCT a) FILTER (WHERE v > 0) AS BIGINT) AS sdf,
          concat_ws(',', sort_array(collect_list(a))) AS cl
        FROM b GROUP BY g),
        l AS (SELECT g,
          listagg(CAST(a AS STRING), ',')
            WITHIN GROUP (ORDER BY CAST(a AS STRING)) AS la,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY a) AS BIGINT)
            AS pd
        FROM b GROUP BY g)
        SELECT CAST(m.g AS BIGINT) AS g, n, cd_multi, cd_struct,
          c_struct, cd_a, sd, ad, f_sum, f_nulls, sdf, la, cl, pd
        FROM m JOIN l ON l.g = m.g ORDER BY g""")
    }),

    // explode / LATERAL VIEW semantics pin — the row-multiplication
    // rules every flatten silently depends on. Found+pinned: plain
    // explode DROPS the row for empty AND null arrays (count rails)
    // while the OUTER variants emit one all-null row — DuckDB's unnest
    // only drops, so the outer path derives via LEFT JOIN LATERAL … ON
    // true; posexplode positions are 0-BASED where generate_subscripts
    // is 1-based (derived −1); stack() with a SHORT argument list pads
    // the last row with NULLs (stack(3, four args) → third row
    // null,null — literal rail, DuckDB has no stack); explode(map)
    // yields (key, value) rows in entry order where DuckDB cannot
    // unnest a MAP at all (derived from the row's scalars);
    // inline_outer of an empty struct array emits one null row
    // (literal). Pinned equal: element order through the flatten,
    // multi-generator row multiplication (outer null rows multiply
    // too), correlated LATERAL subqueries, per-row slice bounds
    "q137_explode_semantics" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("docs_ex")
      s.sql("""WITH b AS (
          SELECT doc_id, lang, source,
            slice(split(trim(text), '\\s+'), 1, CAST(doc_id % 4 AS INT))
              AS arr
          FROM docs_ex WHERE doc_id % 33 = 0)
        SELECT doc_id,
          CAST(pos AS BIGINT) AS pos0,
          tok,
          CAST(mk AS BIGINT) AS mk, mv,
          CAST(size(arr) AS BIGINT) AS n_arr,
          (SELECT CAST(count(*) AS BIGINT)
             FROM (SELECT explode(array()))) AS empty_drops,
          (SELECT CAST(count(*) AS BIGINT)
             FROM (SELECT explode(CAST(NULL AS ARRAY<INT>))))
            AS null_drops,
          (SELECT CAST(count(*) AS BIGINT)
             FROM (SELECT stack(3, 1, 'a', 2, 'b'))) AS stack_rows,
          (SELECT CAST(count(*) AS BIGINT) FROM
             (SELECT stack(3, 1, 'a', 2, 'b') AS (sa, sb)) WHERE sa IS NULL)
            AS stack_nullpad,
          (SELECT CAST(count(*) AS BIGINT) FROM (SELECT inline_outer(
             CAST(array() AS ARRAY<STRUCT<a: INT>>)))) AS inline_outer_row
        FROM b
        LATERAL VIEW OUTER posexplode(arr) t AS pos, tok
        LATERAL VIEW explode(map(1, lang, 2, source)) m AS mk, mv
        ORDER BY doc_id, pos0, mk""")
    }),

    // datetime format-pattern semantics pin — the report-surface
    // corruption class: Java DateTimeFormatter patterns vs C strftime.
    // Found+pinned: Spark REFUSES the week-of-year and week-based-year
    // patterns outright ('w', 'W', 'YYYY', 'u' all raise under the
    // proleptic parser — weekofyear()/q98 is the sanctioned path) and
    // has no Oracle-style to_char masks; day-of-week NUMBERING is a
    // 3-way split — Spark dayofweek() is 1–7 Sunday=1, weekday() is 0–6
    // Monday=0, DuckDB dayofweek() is 0–6 Sunday=0 and isodow() is 1–7
    // Monday=1 (both Spark forms derived from DuckDB's); the 12-hour
    // clock renders midnight as hh='12' but KK='00' (no strftime K —
    // derived % 12), and kk (1–24) renders midnight '24' (derived);
    // quarter formats 'QQQ'→'Q1' are assembled, era 'G'→'AD' literal.
    // Pinned equal: EEEE/EEE/MMMM/MMM name tables == %A/%a/%B/%b
    // (English locale both), padded/unpadded day-of-year DDD/D == %j
    // and its ltrim, hh==%I including noon '12', SSS truncates micros
    // to millis == %g, yy/yyyy/d/dd/HH/mm/ss
    "q136_datetime_format" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("events_fmt")
      s.sql("""SELECT event_id,
          date_format(ts, 'EEEE') AS wd_full,
          date_format(ts, 'EEE') AS wd_ab,
          date_format(ts, 'MMMM') AS mon_full,
          date_format(ts, 'MMM') AS mon_ab,
          date_format(ts, 'DDD') AS doy_pad,
          date_format(ts, 'D') AS doy,
          date_format(ts, 'a') AS ampm,
          date_format(ts, 'hh') AS h12,
          date_format(ts, 'KK') AS h12k,
          date_format(ts, 'kk') AS h24k,
          date_format(ts, 'QQQ') AS q_fmt,
          date_format(ts, 'G') AS era,
          date_format(ts, 'SSS') AS millis,
          date_format(ts, 'yy|yyyy|dd|HH|mm|ss') AS ymd,
          CAST(dayofweek(ts) AS BIGINT) AS dow_sun1,
          CAST(weekday(ts) AS BIGINT) AS wd_mon0
        FROM events_fmt WHERE user_id % 41 = 0 ORDER BY event_id""")
    }),

    // implicit type-coercion ladder pin — what mixed-type expressions
    // silently become. Found+pinned: string⟷number COMPARISON is
    // NUMERIC in both engines ('2' > 10 is false — the lexicographic
    // expectation is wrong) while string⟷string stays LEXICOGRAPHIC
    // ('10' > '9' is false — numeric would be true): the contrast pair
    // pins both rules; arithmetic coerces strings in Spark (1 + '2' = 3
    // BIGINT) where DuckDB REFUSES the overload (derived k+2); unary
    // minus casts a string to DOUBLE in Spark (-'5' = -5.0) where DuckDB
    // refuses (literal); integer literals type BIGINT in Spark vs
    // INTEGER in DuckDB (the foundational literal-width divergence —
    // typeof literal pins); BIGINT+decimal(2,1) widens to (22,1) vs
    // (21,1); CASE branches cast LAZILY in both engines (the untaken
    // 'x'/'2024' branch never errors) but IN lists do NOT: with a COLUMN
    // operand Spark casts every member eagerly and a malformed '1x'
    // ERRORS (the constant probe was rescued by constant folding —
    // found en route; the pinned IN uses castable members);
    // bool accepts 'true'/'t'/'1'.
    // Unpinnable engine-side (one side ERRORS — documented, kept out):
    // 1 = '1.0' errors under Spark's strict-integer cast where DuckDB
    // compares numerically TRUE; greatest(1,'2') and 1 = true are type
    // mismatches in Spark but valid in DuckDB; '3' * '4' and
    // array(1,'a') fail in BOTH. Pinned equal: 1 = '1', IN with a lazy
    // unused mixed literal, int/decimal CASE → decimal(11,1),
    // float+decimal → double, date = string, date > timestamp,
    // date-branch conditional coercing the string branch to DATE
    "q135_coercion_ladder" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_co")
      s.sql("""WITH b AS (
          SELECT o_orderkey, CAST(o_orderkey % 9 AS BIGINT) AS k,
            CAST(o_orderkey % 9 AS STRING) AS ks
          FROM orders_co WHERE o_orderkey % 27 = 0)
        SELECT o_orderkey, k,
          CASE WHEN k >= 0 THEN k ELSE 'x' END AS case_lazy,
          typeof(CASE WHEN k >= 0 THEN 1 ELSE 'x' END) AS case_lit_type,
          coalesce(k, 'x') AS coalesce_lazy,
          CAST(k IN (k + 1, '7') AS BIGINT) AS in_mixed,
          CAST(ks = k AS BIGINT) AS eq_str_num,
          CAST('2' > 10 AS BIGINT) AS strnum_numeric,
          CAST('10' > '9' AS BIGINT) AS strstr_lex,
          k + '2' AS plus_str,
          CAST(-'5' AS DOUBLE) AS neg_str,
          CAST('1' = true AS BIGINT) AS streq_bool,
          CAST(CAST('true' AS BOOLEAN) AS BIGINT) * 100 +
            CAST(CAST('t' AS BOOLEAN) AS BIGINT) * 10 +
            CAST(CAST('1' AS BOOLEAN) AS BIGINT) AS bool_wires,
          typeof(CASE WHEN k >= 0 THEN 1 ELSE 2.5 END) AS case_dec_type,
          typeof(1.5 + k) AS dec_big_type,
          typeof(CAST(1 AS FLOAT) + CAST(1 AS DECIMAL(10,2)))
            AS float_dec_type,
          typeof(array(k, 2.5)) AS arr_unify_type,
          CAST(DATE '2024-01-02' = '2024-01-02' AS BIGINT) AS date_str_eq,
          CAST(DATE '2024-01-02' > TIMESTAMP '2024-01-01 23:00:00'
            AS BIGINT) AS date_ts_cmp,
          CAST(if(k >= 0, DATE '2024-01-02', '2024') AS STRING)
            AS if_date_branch
        FROM b ORDER BY o_orderkey""")
    }),

    // Unicode case-folding semantics pin — the multilingual-corpus
    // corruption class: what upper/lower/initcap actually DO to the
    // codepoints a web crawl contains. Engine-side specials are embedded
    // UTF-8 literals (Spark's chr() wraps codepoints mod 256 — found the
    // hard way: chr(128512) is a NUL byte); the oracle builds the same
    // codepoints with DuckDB's full-range chr(). Found+
    // pinned divergences: upper(eszett) is the 1→2 expansion 'SS' in
    // Spark (JVM casing, length CHANGES 6→7) where DuckDB emits capital
    // sharp-S U+1E9E (length preserved); lower(Turkish dotted I U+0304)
    // KEEPS the combining dot — 'i'+U+0307, length 8→9 — where DuckDB
    // folds to plain 'i'; lower of double capital sigma applies the
    // CONTEXTUAL final-sigma rule (…σς) where DuckDB gives …σσ;
    // initcap of the dz digraph U+01C6 emits the TITLECASE form U+01C5
    // (not uppercase U+01C4) — Java toTitleCase, DuckDB has no initcap
    // at all (word rule derived: split on single spaces, upper first
    // char, LOWER the rest); left/right with negative counts return ''
    // in Spark where DuckDB drops -n from the opposite end; locate's
    // 3-arg start form is derived via strpos over a substr. Pinned
    // equal: accent/Cyrillic/Greek-capital round trips, dotless-ı →
    // 'I', codepoint-based length/substring across an emoji,
    // unpaired-translate DELETES, multichar lpad/rpad tiling,
    // substring_index ± (derived via list slicing), overlay (derived
    // via substr concat), ascii/chr at 233
    "q134_unicode_case" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("docs_case")
      s.sql("""SELECT doc_id,
          upper('straße') AS up_eszett,
          CAST(length(upper('straße')) AS BIGINT) AS up_eszett_len,
          lower('İstanbul') AS low_dotted_i,
          CAST(length(lower('İstanbul')) AS BIGINT) AS low_dotted_len,
          upper('ı') AS up_dotless,
          lower('ΣΣ') AS final_sigma,
          upper('σς') AS up_sigma,
          upper('école') AS up_accent,
          lower('ДОМ') AS low_cyrillic,
          initcap('ǆero') AS title_digraph,
          initcap(concat(lang, '-x ', source, '_y 2x two  sp')) AS ic_b,
          left(source, -2) AS neg_left,
          right(source, -2) AS neg_right,
          CAST(locate('b', 'abcabc', 3) AS BIGINT) AS loc3,
          CAST(length('😀abc') AS BIGINT) AS emoji_len,
          substring('😀abc', 1, 2) AS emoji_sub,
          translate(source, 'rc', '#') AS translate_del,
          lpad(lang, 7, 'xy') AS pad_l,
          rpad(lang, 7, 'xy') AS pad_r,
          substring_index(concat(lang, '.', source, '.', lang, '.z'),
            '.', 2) AS ssi_pos,
          substring_index(concat(lang, '.', source, '.', lang, '.z'),
            '.', -2) AS ssi_neg,
          overlay(source PLACING 'ZZ' FROM 2 FOR 3) AS ovl
        FROM docs_case WHERE doc_id % 31 = 0 ORDER BY doc_id""")
    }),

    // composite-type comparison semantics pin — how structs, arrays and
    // row-tuples ORDER, the rules every sort/group/join key built from a
    // composite silently depends on. Found+pinned: Spark compares
    // composites with a TOTAL order in which NULL fields are SMALLEST
    // and EQUAL to each other (struct(1,NULL) < struct(1,2) is true,
    // struct(1,NULL) = struct(1,NULL) is true, array(1,NULL) =
    // array(1,NULL) is true) where DuckDB propagates 3VL NULL through
    // the comparison — inside composites Spark behaves like its
    // grouping/sorting semantics, NOT like its own scalar `=`; row-tuple
    // IN with a NULL field is false in Spark vs NULL in DuckDB; struct
    // equality IGNORES field names in Spark where DuckDB raises a type
    // mismatch; greatest/least accept composites in Spark, absent in
    // DuckDB (derived CASE); sort_array defaults NULLS FIRST where
    // array_sort and DuckDB's list_sort default NULLS LAST (DuckDB's
    // explicit 'NULLS FIRST' option derives the former). Pinned equal:
    // fieldwise lexicographic order, array prefix rule ([1,2] <
    // [1,2,3]), struct sort inside arrays, array_min/max and
    // position/contains on composites, struct-keyed map lookup,
    // tuple IN without nulls
    "q133_composite_compare" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_cmp")
      s.sql("""WITH b AS (
          SELECT o_orderkey,
            CAST(o_orderkey % 7 AS BIGINT) AS k1,
            CAST(o_orderkey % 7 + 10 AS BIGINT) AS k2,
            CAST(o_orderkey % 100 AS BIGINT) AS v1,
            CAST(o_orderkey % 31 AS BIGINT) AS v2
          FROM orders_cmp WHERE o_orderkey % 21 = 0)
        SELECT o_orderkey,
          CAST(struct(k1, v1) < struct(k2, v2) AS BIGINT) AS s_cmp,
          CAST(struct(k1, v1) < struct(k1, v1 + 1) AS BIGINT) AS s_tie,
          CAST(struct(k1, CAST(NULL AS BIGINT)) < struct(k1, v2)
            AS BIGINT) AS s_null_small,
          CAST(struct(k1, CAST(NULL AS BIGINT))
             = struct(k1, CAST(NULL AS BIGINT)) AS BIGINT) AS s_null_eq,
          CAST(array(k1, CAST(NULL AS BIGINT))
             = array(k1, CAST(NULL AS BIGINT)) AS BIGINT) AS a_null_eq,
          CAST(array(k1, v1) < array(k1, v1, CAST(0 AS BIGINT))
            AS BIGINT) AS a_prefix,
          CAST(array(k1 + 1, CAST(0 AS BIGINT)) < array(k1, v1 + 9)
            AS BIGINT) AS a_first_wins,
          CAST((k1, v1) IN ((k1, v1), (k2, v2)) AS BIGINT) AS tup_in,
          CAST((k1, CAST(NULL AS BIGINT)) IN ((k1, v2)) AS BIGINT)
            AS tup_in_null,
          CAST(named_struct('a', k1, 'b', v1)
             = named_struct('x', k1, 'y', v1) AS BIGINT) AS names_ignored,
          CAST(element_at(sort_array(
            array(v1, CAST(NULL AS BIGINT), v2)), 1) IS NULL AS BIGINT)
            AS sortarr_nulls_first,
          CAST(element_at(array_sort(
            array(v1, CAST(NULL AS BIGINT), v2)), 3) IS NULL AS BIGINT)
            AS arrsort_nulls_last,
          array_join(transform(sort_array(array(
              named_struct('a', k2, 'b', v2),
              named_struct('a', k1, 'b', v1),
              named_struct('a', k1, 'b', v2))),
            e -> CAST(e.a * 10000 + e.b AS STRING)), ',')
            AS sorted_structs,
          CAST(array_min(array(named_struct('a', k2, 'b', v1),
            named_struct('a', k1, 'b', v2))).b AS BIGINT) AS min_struct_b,
          CAST(greatest(named_struct('a', k1, 'b', v1),
            named_struct('a', k1, 'b', v2)).b AS BIGINT)
            AS greatest_struct_b,
          array_join(least(array(k1, v1), array(k1)), ',') AS least_arr,
          CAST(array_position(array(named_struct('a', k1, 'b', v1),
            named_struct('a', k2, 'b', v2)),
            named_struct('a', k2, 'b', v2)) AS BIGINT) AS pos_struct,
          CAST(array_contains(array(named_struct('a', k1, 'b', v1)),
            named_struct('a', k1, 'b', v1)) AS BIGINT) AS has_struct,
          element_at(map(named_struct('a', k1, 'b', v1), v2),
            named_struct('a', k1, 'b', v1)) AS structkey_map
        FROM b ORDER BY o_orderkey""")
    }),

    // map-function semantics pin — the key/value edge policies q95's
    // rollup never touches. Found+pinned: element_at on a MISSING map
    // key returns NULL in Spark with NO ANSI error — the exact opposite
    // of arrays, where q124 pinned the ANSI index error (and DuckDB
    // returns an empty LIST, derived (m[k])[1]); duplicate keys ERROR in
    // Spark in every constructor (map, map_concat, map_from_entries,
    // map_from_arrays, str_to_map) where DuckDB's map_concat silently
    // LAST-WINS — unpinnable engine-side (both sides of the divergence
    // error or corrupt), documented here and kept out of the data, all
    // pinned maps use distinct keys; a NULL map VALUE is legal and
    // indistinguishable from a missing key through element_at (the
    // lookup-NULL ambiguity class). Pinned equal: INSERTION order of
    // keys/values/entries survives map_keys/map_values/map_entries/
    // map_concat (left entries first), map_filter keeps order,
    // transform_keys/values preserve entry order, map_zip_with emits
    // left keys then unmatched right keys, str_to_map parses to STRING
    // values (oracle derives — DuckDB lacks it), cardinality/size incl.
    // the empty map, map_contains_key hit and miss
    "q132_map_semantics" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_map")
      s.sql("""WITH b AS (
          SELECT o_orderkey,
            CAST(o_orderkey % 7 AS BIGINT) AS k1,
            CAST(o_orderkey % 7 + 10 AS BIGINT) AS k2,
            CAST(o_orderkey % 100 AS BIGINT) AS v1,
            CAST(o_orderkey % 31 AS BIGINT) AS v2
          FROM orders_map WHERE o_orderkey % 19 = 0),
        m AS (SELECT *, map(k2, v2, k1, v1) AS mm FROM b)
        SELECT o_orderkey,
          array_join(map_keys(mm), ',') AS keys_order,
          array_join(map_values(mm), ',') AS vals_order,
          array_join(transform(map_entries(mm),
            e -> CAST(e.key * 1000 + e.value AS STRING)), ',')
            AS entries_packed,
          CAST(element_at(mm, 999) IS NULL AS BIGINT) AS miss_null,
          CAST(try_element_at(mm, 999) IS NULL AS BIGINT)
            AS try_miss_null,
          element_at(mm, k1) AS hit_v1,
          mm[k2] AS bracket_hit,
          CAST(map_contains_key(mm, k1) AS BIGINT) AS has_k1,
          CAST(map_contains_key(mm, 999) AS BIGINT) AS has_missing,
          CAST(cardinality(mm) AS BIGINT) AS card,
          CAST(size(map()) AS BIGINT) AS empty_size,
          array_join(transform(map_entries(
              map_filter(mm, (k, v) -> v >= 50)),
            e -> CAST(e.key * 1000 + e.value AS STRING)), ',') AS filtered,
          array_join(map_values(transform_values(mm, (k, v) -> v + k)),
            ',') AS tv,
          array_join(map_keys(transform_keys(mm, (k, v) -> k * 2)), ',')
            AS tk,
          array_join(transform(map_entries(map_zip_with(
              map(k1, v1), map(k2, v2),
              (k, a, b) -> coalesce(a, CAST(0 AS BIGINT))
                + coalesce(b, CAST(0 AS BIGINT)))),
            e -> CAST(e.key * 1000 + e.value AS STRING)), ',') AS zipped,
          array_join(map_keys(map_concat(map(k2, v2), map(k1, v1))), ',')
            AS concat_order,
          element_at(str_to_map(
            concat('a:', v1, ',b:', v2), ',', ':'), 'b') AS stm_b,
          CAST(element_at(map(k1, CAST(NULL AS BIGINT)), k1) IS NULL
            AS BIGINT) AS nullval_null
        FROM m ORDER BY o_orderkey""")
    }),

    // bit/binary function semantics pin — the two's-complement map every
    // hash/band/bitmap operator (dHash, simhash, sign-LSH, HLL, bloom)
    // silently depends on. Found+pinned divergences: Spark shifts wrap
    // the shift AMOUNT mod the width (Java): shiftleft(1L,64)=1,
    // (1L,65)=2, (1L,-1)=MIN_LONG, INT shiftleft(1,33)=2,
    // shiftright(-8,65)=-4 — DuckDB ERRORS on out-of-range/negative
    // amounts and SATURATES >> at 0/-1; Spark shiftleft silently drops
    // overflowing bits where DuckDB's << RAISES (even on any negative
    // operand) — the oracle re-derives Spark's value with HUGEINT
    // mod-2^64 arithmetic; bit_count(INT) PROMOTES to 64-bit in Spark
    // (bit_count(-1 INT)=64) vs DuckDB's 32; MIN_LONG % -1 is 0 in Spark
    // (Java special case, no ANSI error) where DuckDB raises; DuckDB has
    // no shiftrightunsigned (derived (x>>m) & (2^(64-m)-1)), no conv
    // (derived via unsigned HUGEINT rendering — Spark conv(hex(x),16,10)
    // prints the UNSIGNED value of negative x), no crc32 (literal), and
    // its ^ is POWER, not xor (xor() function is the spelling). Pinned
    // equal: & | ~ xor values on negatives, arithmetic >> within range,
    // getbit-from-LSB == (x>>k)&1, minimal-width hex/bin (incl. 16-F
    // negatives), unhex left-pads odd nibbles ('F' → 0F) then hex
    // round-trips, base64/unbase64, md5/sha2-256, overflow try_add/
    // try_sum NULL rails (DuckDB raises natively — literal 1s),
    // abs(MIN_LONG) raises in BOTH engines (unpinnable, kept out)
    "q131_bit_semantics" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_bits")
      s.sql("""WITH b AS (
          SELECT o_orderkey,
            CAST(o_orderkey * 2654435761 AS BIGINT) % 4503599627370496
              - 2251799813685248 AS x,
            CAST(o_orderkey % 8 AS INT) AS k,
            CAST(o_orderkey % 7 + 1 AS INT) AS m
          FROM orders_bits WHERE o_orderkey % 23 = 0)
        SELECT o_orderkey, x, CAST(k AS BIGINT) AS k,
          CAST(m AS BIGINT) AS m,
          shiftleft(x, k) AS sl,
          shiftright(x, m) AS sr,
          shiftrightunsigned(x, m) AS srl,
          x & CAST(255 AS BIGINT) AS band,
          x | CAST(255 AS BIGINT) AS bor,
          x ^ CAST(255 AS BIGINT) AS bxor,
          ~x AS bnot,
          CAST(bit_count(x) AS BIGINT) AS bc,
          CAST(bit_count(CAST(-1 AS INT)) AS BIGINT) AS bc_int_promote,
          CAST(getbit(x, m) AS BIGINT) AS gb,
          hex(x) AS hx,
          hex(unhex(hex(x))) AS hx_rt,
          bin(x & CAST(255 AS BIGINT)) AS bn,
          base64(hex(x)) AS b64,
          CAST(unbase64(base64(hex(x))) AS STRING) AS b64_rt,
          conv(hex(x), 16, 10) AS cv16,
          shiftleft(CAST(1 AS BIGINT), 64) AS sl64,
          shiftleft(CAST(1 AS BIGINT), 65) AS sl65,
          shiftleft(CAST(1 AS BIGINT), -1) AS slneg,
          CAST(shiftleft(CAST(1 AS INT), 33) AS BIGINT) AS sl33_int,
          shiftright(CAST(-8 AS BIGINT), 65) AS sr65,
          CAST(-9223372036854775808 AS BIGINT) % CAST(-1 AS BIGINT)
            AS minmod,
          CAST(try_add(9223372036854775807, CAST(1 AS BIGINT)) IS NULL
            AS BIGINT) AS ta_null,
          (SELECT CAST(try_sum(v) IS NULL AS BIGINT) FROM VALUES
             (CAST(9223372036854775807 AS BIGINT)), (CAST(1 AS BIGINT))
             t(v)) AS ts_null,
          CAST(crc32('abc') AS BIGINT) AS crc,
          md5('abc') AS md,
          sha2('abc', 256) AS sh,
          hex(unhex('F')) AS odd_unhex
        FROM b ORDER BY o_orderkey""")
    }),

    // statistical-aggregate semantics pin: the moment/regression family
    // over per-group distributed merges. Found+pinned divergences:
    // skewness is the POPULATION g1 = m3/m2^1.5 in Spark but the
    // bias-corrected SAMPLE G1 in DuckDB, kurtosis is population excess
    // m4/m2²−3 vs sample-corrected (and even DuckDB's kurtosis_pop
    // differs from Spark in the last ulp — merge order), skewness(n=2)
    // is 0.0 in Spark but NULL in DuckDB (sample formula needs n≥3),
    // kurtosis(n=3) is -1.5 vs NULL (needs n≥4), regr_count types
    // BIGINT vs UINTEGER, and corr with a zero-variance side ERRORS in
    // Spark under ANSI (DIVIDE_BY_ZERO) where DuckDB null-rails — the
    // one divergence SQL can't flag, documented here and kept out of the
    // data. Pinned equal: var/stddev/covar samp-vs-pop split and their
    // n=1 rails (samp NULL, pop 0.0), corr(n=1) NULL, the whole regr_*
    // family including vertical-line NULLs and flat-line r2=1.0,
    // interpolated median, count_if / every / any, unique-mode (tie-broken
    // mode diverges 3-vs-2 — only the unique case is pinned). Every
    // accumulated float is round(,6)-railed because both engines'
    // single-pass merges differ in the last ulp from partition order;
    // the rails hold under any partitioning (spec-free by construction:
    // the driver gate runs the distributed merge for real). The three
    // n-SCALED moments (regr_sxx/syy/sxy, magnitude ~n·var) rail at
    // round(,1): at sf1 (6M-row accumulations, values ~1.5×10⁸) the
    // 8-vs-32-core audit measured 1e-6-place drift straight through the
    // old 6-decimal rail — accumulation error grows with n while the
    // bounded-magnitude columns (avg/var/slope/corr) keep their 6 digits
    "q130_stat_aggregates" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_stat")
      s.sql("""WITH b AS (
          SELECT o_orderkey % 17 AS g,
            CAST(o_orderkey % 83 AS DOUBLE) AS x,
            CAST(3 * (o_orderkey % 83) + (o_orderkey % 29) AS DOUBLE) AS y
          FROM orders_stat WHERE o_orderkey % 3 = 0)
        SELECT CAST(g AS BIGINT) AS g,
          CAST(count(*) AS BIGINT) AS n,
          round(avg(x), 6) AS avg_x,
          round(var_samp(x), 6) AS vs_x,
          round(var_pop(x), 6) AS vp_x,
          round(stddev_samp(x), 6) AS sd_x,
          round(stddev_pop(x), 6) AS sdp_x,
          round(covar_samp(x, y), 6) AS cvs,
          round(covar_pop(x, y), 6) AS cvp,
          round(corr(x, y), 6) AS r,
          round(skewness(x), 6) AS skew_pop,
          round(kurtosis(x), 6) AS kurt_pop,
          round(regr_slope(y, x), 6) AS slope,
          round(regr_intercept(y, x), 6) AS icept,
          round(regr_r2(y, x), 6) AS r2,
          CAST(regr_count(y, x) AS BIGINT) AS rn,
          round(regr_avgx(y, x), 6) AS ravgx,
          round(regr_avgy(y, x), 6) AS ravgy,
          round(regr_sxx(y, x), 1) AS rsxx,
          round(regr_syy(y, x), 1) AS rsyy,
          round(regr_sxy(y, x), 1) AS rsxy,
          round(median(x), 6) AS med_x,
          CAST(count_if(x > y / 4) AS BIGINT) AS cif,
          CAST(every(y >= x) AS BIGINT) AS evr,
          CAST(any(x > 80) AS BIGINT) AS anyv,
          (SELECT CAST(var_samp(v) IS NULL AS BIGINT) FROM VALUES
             (CAST(1 AS DOUBLE)) t(v)) AS vs1_null,
          (SELECT CAST(var_pop(v) AS BIGINT) FROM VALUES
             (CAST(1 AS DOUBLE)) t(v)) AS vp1_zero,
          (SELECT CAST(corr(a, c) IS NULL AS BIGINT) FROM VALUES
             (CAST(1 AS DOUBLE), CAST(2 AS DOUBLE)) t(a, c)) AS corr1_null,
          (SELECT CAST(covar_pop(a, c) AS BIGINT) FROM VALUES
             (CAST(1 AS DOUBLE), CAST(2 AS DOUBLE)) t(a, c)) AS cvp1_zero,
          (SELECT CAST(skewness(v) AS STRING) FROM VALUES
             (CAST(1 AS DOUBLE)), (CAST(2 AS DOUBLE)) t(v)) AS skew2,
          (SELECT CAST(kurtosis(v) AS STRING) FROM VALUES
             (CAST(1 AS DOUBLE)), (CAST(2 AS DOUBLE)), (CAST(3 AS DOUBLE))
             t(v)) AS kurt3,
          (SELECT CAST(regr_slope(c, a) IS NULL AS BIGINT) FROM VALUES
             (CAST(1 AS DOUBLE), CAST(5 AS DOUBLE)),
             (CAST(1 AS DOUBLE), CAST(6 AS DOUBLE)) t(a, c))
            AS slope_vert_null,
          (SELECT round(regr_r2(c, a), 6) FROM VALUES
             (CAST(1 AS DOUBLE), CAST(5 AS DOUBLE)),
             (CAST(2 AS DOUBLE), CAST(5 AS DOUBLE)) t(a, c)) AS r2_flat_one,
          (SELECT CAST(mode(v) AS BIGINT) FROM VALUES
             (1), (2), (2), (3) t(v)) AS mode_uniq
        FROM b GROUP BY g ORDER BY g""")
    }),

    // DECIMAL precision/scale propagation ladder: the exact-arithmetic
    // companion to q128 — where the engines agree on VALUES but type the
    // results differently, and where Spark's precision-loss policy
    // silently ROUNDS what DuckDB keeps exact. Probed+pinned divergences:
    // a/b stays DECIMAL in Spark (scale max(6, s1+p2+1) = (19,8) here,
    // HALF_UP) where DuckDB promotes to DOUBLE — the oracle re-derives
    // Spark's quotient digit-exactly with BIGINT half-up arithmetic;
    // a*b precision is p1+p2+1 in Spark vs p1+p2 in DuckDB; a%b types
    // (5,3) vs (11,3) (values identical, dividend-sign rule shared);
    // DECIMAL(38,10)+DECIMAL(38,10) would need p=39, Spark's
    // allowPrecisionLoss drops to (38,9) and HALF-UP ROUNDS
    // …99.9999999998 up to 2e26 where DuckDB keeps all 38 digits exact —
    // the silent-rounding pin; (38,10)×(38,10) floors the result scale
    // at 6 vs DuckDB's 20; decimal overflow NULL-rails via try_multiply
    // where DuckDB raises; sum() widens p+10 vs DuckDB's 38; avg() is
    // DECIMAL(p+4,s+4) vs DuckDB's DOUBLE; scale-down CAST rounds
    // HALF_UP in Spark where DuckDB's cast TRUNCATES toward zero (the
    // oracle derives it through round(), which IS half-up-away-from-zero
    // in both engines); literal typing 0.1+0.2 → decimal(2,1) vs (3,1).
    // Pinned equal: add/mul/mod digits, 0.1+0.2=0.3 is TRUE in decimal
    // (the q128 double counterpart is false), round() ties away from
    // zero on negatives, try_cast overflow → NULL, ÷0 NULL rail. All
    // outputs STRING/BIGINT; value strings carry the result scale as
    // trailing zeros, so every type divergence is value-visible
    "q129_decimal_ladder" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_dec")
      s.sql("""WITH c AS (
          SELECT o_orderkey,
            CAST(concat(CAST(o_orderkey % 37 + 1 AS STRING), '.',
              lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'))
              AS DECIMAL(10,2)) AS a,
            CAST(concat(CAST(o_orderkey % 7 + 1 AS STRING), '.',
              lpad(CAST(o_orderkey % 1000 AS STRING), 3, '0'))
              AS DECIMAL(5,3)) AS b
          FROM orders_dec WHERE o_orderkey % 29 = 0)
        SELECT o_orderkey,
          CAST(a AS STRING) AS a_str, CAST(b AS STRING) AS b_str,
          typeof(a + b) AS add_type,
          CAST(a + b AS STRING) AS add_str,
          typeof(a * b) AS mul_type,
          CAST(a * b AS STRING) AS mul_str,
          typeof(a / b) AS div_type,
          CAST(a / b AS STRING) AS div_str,
          typeof(a % b) AS mod_type,
          CAST(a % b AS STRING) AS mod_str,
          CAST((0 - a) % b AS STRING) AS negmod_str,
          CAST(CAST(b AS DECIMAL(12,1)) AS STRING) AS castdown_str,
          CAST(CAST(0 - b AS DECIMAL(12,1)) AS STRING) AS neg_castdown_str,
          CAST(0.1 + 0.2 = 0.3 AS BIGINT) AS dec_exact,
          typeof(0.1 + 0.2) AS lit_add_type,
          typeof(round(b, 1)) AS round_type,
          CAST(round(b, 1) AS STRING) AS round_str,
          CAST(try_divide(a, CAST(0 AS DECIMAL(5,3))) AS STRING)
            AS div0_str,
          CAST(try_cast(CAST(123.45 AS DECIMAL(10,2)) AS DECIMAL(4,2))
            IS NULL AS BIGINT) AS ovf_cast_null,
          typeof(CAST(1 AS DECIMAL(38,10)) + CAST(1 AS DECIMAL(38,10)))
            AS big_add_type,
          CAST(CAST(99999999999999999999999999.9999999999 AS DECIMAL(38,10))
             + CAST(99999999999999999999999999.9999999999 AS DECIMAL(38,10))
             AS STRING) AS big_add_str,
          CAST(try_multiply(
              CAST(99999999999999999999999999.9999999999 AS DECIMAL(38,10)),
              CAST(99999999999999999999999999.9999999999 AS DECIMAL(38,10)))
            IS NULL AS BIGINT) AS big_mul_null,
          typeof(CAST(1 AS DECIMAL(38,10)) * CAST(1 AS DECIMAL(38,10)))
            AS loss_mul_type,
          CAST(CAST(1.5 AS DECIMAL(38,10)) * CAST(2.5 AS DECIMAL(38,10))
            AS STRING) AS loss_mul_str,
          (SELECT typeof(sum(x)) FROM VALUES
             (CAST(1.25 AS DECIMAL(10,2))), (CAST(2.25 AS DECIMAL(10,2)))
             AS t(x)) AS sum_type,
          (SELECT CAST(sum(x) AS STRING) FROM VALUES
             (CAST(1.25 AS DECIMAL(10,2))), (CAST(2.25 AS DECIMAL(10,2)))
             AS t(x)) AS sum_str,
          (SELECT typeof(avg(x)) FROM VALUES
             (CAST(1.25 AS DECIMAL(10,2))), (CAST(2.26 AS DECIMAL(10,2)))
             AS t(x)) AS avg_type,
          (SELECT CAST(avg(x) AS STRING) FROM VALUES
             (CAST(1.25 AS DECIMAL(10,2))), (CAST(2.26 AS DECIMAL(10,2)))
             AS t(x)) AS avg_str
        FROM c ORDER BY o_orderkey""")
    }),

    // string→number cast strictness ladder: 16 wire forms through
    // try_cast to BIGINT / DOUBLE / DECIMAL(12,2). Pins found+derived:
    // Spark's string→BIGINT is strict-integer (rejects '4.9'/'1e3'/'0x1A'
    // — DuckDB's ROUNDS and accepts hex), '1_000' parses nowhere in Spark
    // but everywhere in DuckDB, both engines round string→DECIMAL half-up
    // ('2.345'→2.35), and Spark's double→BIGINT cast follows JVM (long)
    // semantics — NaN→0, saturating clamp to Long.Max/Min — where DuckDB
    // null-rails (the oracle derives the JVM rail with explicit CASEs)
    "q126_cast_ladder" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_cast")
      s.sql("""WITH b AS (
          SELECT o_orderkey, element_at(array(
            ' 42 ', '+7', '-0', '1e3', '.5', '0x1A',
            '99999999999999999999', '4.9', '-4.9', '', 'nan', '-Infinity',
            '1_000', '7.0', ' +8.25 ', '2.345'),
            CAST(o_orderkey % 16 + 1 AS INT)) AS wire
          FROM orders_cast WHERE o_orderkey % 13 = 0),
        d AS (SELECT o_orderkey, wire,
            try_cast(wire AS DOUBLE) AS dv,
            try_cast(wire AS DECIMAL(12,2)) AS dec FROM b)
        SELECT o_orderkey, wire,
          try_cast(wire AS BIGINT) AS big,
          try_cast(floor(dv) AS BIGINT) AS dbl_floor,
          CAST(coalesce(isnan(dv), false) AS BIGINT) AS dbl_nan,
          CAST(coalesce(abs(dv) = CAST('Infinity' AS DOUBLE), false)
            AS BIGINT) AS dbl_inf,
          CAST(dec * 100 AS BIGINT) AS dec_cents
        FROM d ORDER BY o_orderkey""")
    }),

    // calendar arithmetic clamping pin: add_months at month ends (the
    // Jan-31 + 1 month = Feb-29 clamp, forward/backward/cross-year),
    // last_day, strictly-next-weekday, and plain day offsets — the
    // billing/retention date math that silently drifts when an engine
    // overflows instead of clamps. All outputs cast to ISO strings so the
    // comparison is representation-independent
    "q122_date_arith" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_cal")
      s.sql("""WITH b AS (
          SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
          FROM orders_cal WHERE o_orderkey % 29 = 0),
        e AS (SELECT o_orderkey, d, last_day(d) AS eom FROM b)
        SELECT o_orderkey, CAST(d AS STRING) AS d_iso,
          CAST(eom AS STRING) AS eom,
          CAST(add_months(eom, 1) AS STRING) AS eom_plus1m,
          CAST(add_months(eom, 13) AS STRING) AS eom_plus13m,
          CAST(add_months(eom, -1) AS STRING) AS eom_minus1m,
          CAST(next_day(d, 'MO') AS STRING) AS next_monday,
          CAST(date_add(d, 45) AS STRING) AS plus45d,
          CAST(datediff(eom, d) AS BIGINT) AS days_to_eom
        FROM e ORDER BY o_orderkey""")
    }),

    // window frame semantics pin: RANGE vs ROWS with duplicate order keys
    // — the silent-corruption class where a running total "randomly"
    // includes peers. Order key = day-of-week (guaranteed ties); ROWS
    // frames tiebreak on event_id to stay deterministic, RANGE frames
    // include the whole peer group by definition; run_range − run_rows ≠ 0
    // exactly on non-final peer rows, and the value-based 2-PRECEDING
    // RANGE band spans three weekday groups regardless of row counts
    "q121_frame_semantics" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("events_frames")
      s.sql("""WITH e AS (
          SELECT event_id, user_id,
            CAST(unix_seconds(CAST(ts AS TIMESTAMP)) DIV 86400 % 7 AS BIGINT)
              AS dow,
            CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
          FROM events_frames WHERE user_id % 13 = 0)
        SELECT event_id, user_id, dow, cents,
          sum(cents) OVER (PARTITION BY user_id ORDER BY dow, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_rows,
          sum(cents) OVER (PARTITION BY user_id ORDER BY dow
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_range,
          sum(cents) OVER (PARTITION BY user_id ORDER BY dow
            RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS band_range,
          count(*) OVER (PARTITION BY user_id ORDER BY dow
            RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS peers
        FROM e ORDER BY user_id, dow, event_id""")
    }),

    // Iceberg v2 merge-on-read read path: positional deletes (file_id,
    // pos), equality deletes (doc_id), and not-yet-compacted insert files
    // applied at scan time — broadcast anti-probes, the base never
    // shuffles; q33's compaction pays down the read amplification
    "q120_merge_on_read" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val base = t(s, dir, "documents")
        .select(col("doc_id"), expr("doc_id DIV 100").as("file_id"),
          (col("doc_id") % 100).as("pos"), col("n_chars"),
          lit("base").as("origin"))
      val eqDel = base.filter(col("doc_id") % 37 === 0).select("doc_id")
      val posDel = base.filter(col("doc_id") % 41 === 0)
        .select("file_id", "pos")
      val ins = base.filter(col("doc_id") % 53 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          lit(-1L).as("file_id"), lit(-1L).as("pos"), col("n_chars"),
          lit("insert").as("origin"))
      graft.ops.MergeOps.mergeOnRead(base, eqDel, posDel, ins, "doc_id")
        .orderBy(col("doc_id"))
    }),

    // multi-format date normalization — the extraction-pipeline op the
    // reference runs on every DOB/issue-date field: raw strings in five
    // wire formats are routed through an ordered try_to_date ladder.
    // Pins that the ladder NEVER misroutes (each format is rejected by
    // every earlier pattern, so roundtrip_ok=1 for the four known
    // formats), that the unknown format ('7.3.2024') null-rails into the
    // quarantine class instead of corrupting, and quantifies the
    // dd/MM↔MM/dd silent-swap hazard as misparse-day deltas the ladder
    // avoided (both engines strict-parse; DuckDB arg order for the day
    // diff is date_diff('day', start, end) = Spark datediff(end, start))
    "q119_date_parse" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_dates")
      s.sql("""WITH b AS (
          SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
            CAST(o_orderkey % 5 AS BIGINT) AS fmt
          FROM orders_dates WHERE o_orderkey % 13 = 0),
        r AS (SELECT *, CASE fmt
            WHEN 0 THEN date_format(d, 'dd/MM/yyyy')
            WHEN 1 THEN date_format(d, 'yyyy-MM-dd')
            WHEN 2 THEN date_format(d, 'MMM d, yyyy')
            WHEN 3 THEN date_format(d, 'yyyyMMdd')
            ELSE date_format(d, 'd.M.yyyy') END AS raw FROM b),
        p AS (SELECT *, coalesce(
            try_to_date(raw, 'dd/MM/yyyy'), try_to_date(raw, 'yyyy-MM-dd'),
            try_to_date(raw, 'MMM d, yyyy'), try_to_date(raw, 'yyyyMMdd'))
            AS parsed FROM r)
        SELECT o_orderkey, fmt, raw,
          CAST(parsed AS STRING) AS parsed_iso,
          CAST(coalesce(parsed = d, false) AS BIGINT) AS roundtrip_ok,
          CAST(CASE WHEN fmt = 0 AND day(d) <= 12 AND day(d) <> month(d)
               THEN 1 ELSE 0 END AS BIGINT) AS ambiguous,
          CAST(CASE WHEN fmt = 0 THEN
                 coalesce(datediff(try_to_date(raw, 'MM/dd/yyyy'), d), 0)
               ELSE 0 END AS BIGINT) AS misparse_days
        FROM p ORDER BY o_orderkey""")
    }),

    // corrupt-object-resilient ingest: at 10^12 docs some storage objects
    // WILL be truncated/garbage, and one bad footer must not kill a
    // 6-hour scan. A garbage .parquet is planted among good files; the
    // read runs with ignoreCorruptFiles + an explicit schema (schema
    // inference must not trip on the bad footer either) and the census
    // sees exactly the good rows. The no-flag read throws — spec-pinned.
    "q108_corrupt_skip" -> ((s, dir) => {
      val base = s"/tmp/graft_corrupt_${SparkEntry.docCountFor(dir)}"
      val bp = new org.apache.hadoop.fs.Path(base)
      val fs = bp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(bp)) fs.delete(bp, true)
      val good = t(s, dir, "documents")
        .where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      good.write.mode("overwrite").parquet(base)
      val out = fs.create(new org.apache.hadoop.fs.Path(
        s"$base/part-corrupt-0000.parquet"), true)
      out.write(("PAR1 this is not a parquet file " * 64).getBytes("UTF-8"))
      out.close()
      s.read.schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
        .option("ignoreCorruptFiles", "true")
        .parquet(base)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("lang"))
    }),

    // percentile_cont INTERPOLATION pin: Spark's percentile() and
    // DuckDB's quantile_cont() must agree on the (n−1)·q positional rule
    // and linear interpolation. Quartile positions are dyadic (≤2
    // fraction bits), cents are integers, so interpolated×4 is an EXACT
    // integer in both engines — the hash pins interpolation itself, not a
    // tolerance. (q25 pins the rank-based discrete formulation.)
    "q106_percentile_cont_pin" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      o.groupBy(col("o_orderstatus"))
        .agg(expr("percentile(cents, array(0.25D, 0.5D, 0.75D))").as("p"))
        .select(col("o_orderstatus"),
          (element_at(col("p"), 1) * 4).cast("long").as("q25_x4"),
          (element_at(col("p"), 2) * 4).cast("long").as("q50_x4"),
          (element_at(col("p"), 3) * 4).cast("long").as("q75_x4"))
        .orderBy(col("o_orderstatus"))
    }),

    // snapshot EXPIRY + orphan cleanup (Iceberg expire_snapshots — the
    // maintenance op that bounds metadata and reclaims storage): commit
    // v1→v2→v3, expire all but the last 2, emit the LATEST rollup plus
    // the surviving-manifest count the expiry contract fixes at 2.
    // TableIOSpec pins the sharper facts (expired version unreadable,
    // orphan dir gone, kept versions byte-stable).
    "q107_snapshot_expiry" -> ((s, dir) => {
      val base = s"/tmp/graft_expiry_${SparkEntry.docCountFor(dir)}"
      val bp = new org.apache.hadoop.fs.Path(base)
      val fs = bp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(bp)) fs.delete(bp, true)
      val v1 = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.io.TableIO.commitSnapshot(v1, base, 1)
      val v2 = graft.io.TableIO.readSnapshot(s, base, Some(1))
        .where(col("doc_id") % 13 =!= 0)
      graft.io.TableIO.commitSnapshot(v2, base, 2)
      val v3 = graft.io.TableIO.readSnapshot(s, base, Some(2))
        .select(col("doc_id"), col("lang"),
          when(col("doc_id") % 7 === 0, col("n_chars") + 11L)
            .otherwise(col("n_chars")).as("n_chars"))
      graft.io.TableIO.commitSnapshot(v3, base, 3)
      val (nExpired, nOrphans) =
        graft.io.TableIO.expireSnapshots(s, base, keepLast = 2)
      graft.io.TableIO.readSnapshot(s, base) // latest = v3, post-expiry
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .select(col("lang"), col("n_docs"), col("sum_chars"),
          lit(nExpired.toLong).as("n_expired"),
          lit(nOrphans.toLong).as("n_orphan_dirs_deleted"))
        .orderBy(col("lang"))
    }),

    // per-key ordered recurrence scan (integer EWMA): the window class
    // Spark has no native function for — output t depends on output t−1,
    // not on an input frame. One keyed shuffle + sort + O(1)-state sweep
    // (the AsOfJoin plan); DuckDB replays the identical trajectory with a
    // recursive CTE stepping rn → rn+1.
    "q104_ewma_scan" -> ((s, dir) =>
      graft.ops.EventOps.ewmaScan(t(s, dir, "events"))),

    // staleness-bounded as-of join (pandas merge_asof tolerance / feature-
    // store point-in-time lookup with a freshness SLA): q20's sweep, but a
    // click older than 30 minutes is REJECTED — the purchase emits null
    // exactly as if no click existed, never a stale match. Costs one
    // comparison in the sweep, no extra shuffle.
    "q103_asof_tolerance" -> ((s, dir) => {
      def side(t: String) = this.t(s, dir, "events")
        .where(col("event_type") === t)
        .select(col("user_id").as("key"), col("ts"), col("event_id").as("id"))
      graft.ops.AsOfJoin.join(side("purchase"), side("click"),
        toleranceMicros = Some(1800L * 1000000L))
        .withColumnRenamed("left_id", "purchase_id")
        .withColumnRenamed("right_id", "click_id")
    }),

    // range join: every click within the hour before each purchase —
    // bucketed band join (each left probes 2 buckets), not a nested loop
    "q23_range_attribution" -> ((s, dir) => {
      def side(ty: String) = t(s, dir, "events")
        .where(col("event_type") === ty)
        .select(col("user_id").as("key"), col("ts"), col("event_id").as("id"))
      graft.ops.RangeJoin.join(side("purchase"), side("click"),
        windowMicros = 3600L * 1000000L)
        .withColumnRenamed("left_id", "purchase_id")
        .withColumnRenamed("right_id", "click_id")
    }),

    // grouping sets (ROLLUP): corpus mixture with subtotals + grand total
    "q21_mixture_rollup" -> ((s, dir) =>
      t(s, dir, "documents")
        .rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("sum_chars"))),

    // set operation (EXCEPT): dedup drop-list = every doc id that is not
    // its content group's min keeper; duplicates planted by unioning a
    // +10000-shifted copy (the driver corpus itself has no exact dups)
    "q22_dedup_drop_list" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = d.union(d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      val keepers = aug
        .groupBy(md5(col("text").cast("binary")))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      aug.select(col("doc_id")).except(keepers)
    }),

    // gap-based sessionization (12-hour inactivity — the median per-user gap
    // in this corpus is ~7 h, so sessions genuinely merge): lag → new-session
    // flag → running sum = session index → per-session rollup. One shuffle
    // keyed by user_id; both windows and the final groupBy reuse that
    // partitioning (single Exchange in the plan).
    "q24_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        // ts is TIMESTAMP_NTZ; the session tz is pinned UTC (Verify/Bench),
        // so the cast reinterprets wall-clock as epoch — matching DuckDB's
        // epoch_us(ts) on naive timestamps. (Gaps/durations are shift-
        // invariant anyway; only the reinterpretation must be constant.)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      ev.withColumn("prev_us", lag(col("us"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
               col("us") - col("prev_us") > 43200L * 1000000L, 1L).otherwise(0L))
        .withColumn("session_idx",
          sum(col("new_sess")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
             (max(col("us")) - min(col("us"))).as("duration_us"),
             min(col("event_id")).as("min_event_id"))
    }),

    // exact discrete percentiles (rank-based, integer-exact across engines):
    // rn == ceil(q·n/100) computed with integer arithmetic so no float
    // interpolation can diverge. Per-group sort = one keyed shuffle; at
    // 10^12 rows swap in approx_percentile (t-digest) — this query is the
    // exact formulation the sketch is validated against.
    "q25_percentiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders").select(col("o_orderstatus").as("st"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"),
        col("o_orderkey"))
      val w = Window.partitionBy(col("st")).orderBy(col("cents"), col("o_orderkey"))
      o.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("st"))))
        .select(col("st").as("o_orderstatus"), col("cents"), col("rn"), col("n"),
          explode(array(lit(25L), lit(50L), lit(75L))).as("q"))
        .where(col("rn") === expr("(q * n + 99) div 100"))
        .select(col("o_orderstatus"), col("q"), col("cents").as("price_cents"))
    }),

    // pivot (lang columns fixed up front — a pivot without explicit values
    // costs an extra distinct-collect pass at scale)
    "q26_pivot_mixture" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L)),
        // no orderBy: the driver compare sorts rows itself, and a global
        // range-partition sort on a rollup this small is a wasted shuffle

    // set op (INTERSECT): buyers present in BOTH order slices. Catalyst
    // plans intersect as a distinct left-semi join — keys-only shuffle;
    // the integer rollup keeps the driver output scalar
    "q28_intersect_buyers" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.where(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
        .intersect(
          o.where(col("o_totalprice") > 150000.0).select(col("o_custkey")))
        .agg(count(lit(1)).as("n_buyers"),
          sum(col("o_custkey")).cast("long").as("sum_custkey"))
    }),

    // set op (UNION distinct): docs in EITHER slice, deduped — completes
    // the set-op family (EXCEPT=q22, INTERSECT=q28)
    "q29_union_docs" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.where(col("lang") === "en").select(col("doc_id"))
        .union(d.where(col("n_chars") > 500).select(col("doc_id")))
        .distinct()
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("sum_doc_id"))
    }),

    // semi join (EXISTS): customers with ≥1 order, by market segment —
    // left_semi ships only the join key of the probe side
    "q27_semijoin_segments" -> ((s, dir) =>
      t(s, dir, "customer").as("c")
        .join(t(s, dir, "orders").as("o"),
          col("c.c_custkey") === col("o.o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))),

    // multi-way join + agg (scan→join→agg chain; partial aggregation)
    "q16_region_rollup" -> ((s, dir) =>
      t(s, dir, "customer").as("c")
        .join(broadcast(t(s, dir, "nation").as("n")),
          col("c.c_nationkey") === col("n.n_nationkey"))
        .join(broadcast(t(s, dir, "region").as("r")),
          col("n.n_regionkey") === col("r.r_regionkey"))
        .groupBy(col("r.r_name"))
        .agg(countDistinct(col("c.c_custkey")).as("n_customers"))
        .orderBy(col("r_name"))),

    // the Iceberg table-maintenance loop as ONE oracled artifact (the
    // north_star's daily job): write the snapshot hive-partitioned by lang
    // + range-clustered on doc_id (TableIO.writePartitionedClustered =
    // the Iceberg partition/sort-order seam), MERGE a deterministic delta
    // (updates / inserts / deletes — MergeOps.upsert, incl. its
    // unique-delta-keys gate), rewrite the new snapshot in the same
    // layout, and read it back through a parquet-backed dim join on the
    // partition column so runtime DPP prunes the non-joined lang dirs
    // (the mechanism TableIOSpec asserts on scan metrics). The oracle
    // replays the merge arithmetic straight off `documents`.
    // the salted-skew-join operator as a driver-verified artifact: every
    // event_type holds ~20% of the rows, so ALL keys clear the 10% bar and
    // the whole probe side flows through the salted path — output must be
    // row-identical to the plain join the oracle runs
    "q31_skew_salted_rollup" -> ((s, dir) => {
      import s.implicits._
      val dim = Seq(("click", 1), ("view", 2), ("purchase", 5),
        ("signup", 3), ("error", 4)).toDF("event_type", "weight")
      graft.ops.SkewJoin.adaptiveSaltedJoin(
          t(s, dir, "events"), dim, "event_type",
          saltSource = col("event_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum((col("value").cast("decimal(18,2)") * 100).cast("long")
            * col("weight")).as("weighted_value_cents"))
        .orderBy(col("event_type"))
    }),

    // the Bloom-reduced join as a driver-verified artifact: heavy users
    // (>= 80 events) are the build side; the probe side drops non-members
    // before the exchange, and the inner join's exactness (no false
    // negatives, FPs removed by the join itself) makes the plain-join SQL
    // the oracle
    "q32_bloom_reduced_users" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val heavy = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n")).where(col("n") >= 80)
        .select(col("user_id"))
      graft.ops.BloomJoin.bloomReducedJoin(ev, heavy, "user_id")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),

    "q30_iceberg_maintenance" -> ((s, dir) => {
      import s.implicits._
      val base = s"/tmp/graft_iceberg_${SparkEntry.docCountFor(dir)}"
      val snap0 = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      graft.io.TableIO.writePartitionedClustered(snap0, s"$base/snap",
        "lang", "doc_id")
      val snapshot = s.read.parquet(s"$base/snap")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val updates = snap0
        .where(col("doc_id") % 7 === 0 && col("doc_id") % 11 =!= 0)
        .select(col("doc_id"), col("lang"),
          lit("delta-update").as("source"),
          (col("n_chars") + 1000L).as("n_chars"),
          lit(false).as("is_delete"))
      val deletes = snap0.where(col("doc_id") % 11 === 0)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          lit(true).as("is_delete"))
      val inserts = snap0.where(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
          lit("delta-insert").as("source"),
          lit(77L).as("n_chars"),
          lit(false).as("is_delete"))
      val delta = updates.unionByName(deletes).unionByName(inserts)
      val merged = graft.ops.MergeOps.upsert(snapshot, delta, "doc_id")
      graft.io.TableIO.writePartitionedClustered(merged, s"$base/merged",
        "lang", "doc_id")
      Seq("en", "fr").toDF("lang")
        .write.mode("overwrite").parquet(s"$base/dim")
      s.read.parquet(s"$base/merged")
        .join(s.read.parquet(s"$base/dim"), "lang")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("lang"))
    }),

    // small-file compaction (Iceberg rewrite_data_files analogue): a
    // 64-way fragmented write is rewritten by TableIO.compact (narrow
    // coalesce, no exchange) and the oracle verifies the rewrite is
    // content-lossless; the file-count/no-shuffle contract is pinned by
    // TableIOSpec
    "q33_compaction" -> ((s, dir) => {
      val base = s"/tmp/graft_compact_${SparkEntry.docCountFor(dir)}"
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .repartition(64)
        .write.mode("overwrite").parquet(s"$base/small")
      graft.io.TableIO.compact(s, s"$base/small", s"$base/out")
      s.read.parquet(s"$base/out")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("lang"))
    }),

    // grouping sets (CUBE): completes the family (ROLLUP=q21) — adds the
    // per-priority slice a ROLLUP cannot express; one Expand + one keyed agg
    "q34_cube_orders" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long").as("sum_price_cents"))),

    // correlated subqueries through Catalyst's decorrelation: EXISTS →
    // left-semi, NOT EXISTS → left-anti, correlated scalar count(*) →
    // aggregate + left-outer with the zero-on-no-match (COUNT-bug) fixup —
    // all three become keyed joins, nothing per-row, which is the entire
    // reason correlated SQL survives 10^12 rows
    "q35_correlated_exists" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("g_customer")
      t(s, dir, "orders").createOrReplaceTempView("g_orders")
      s.sql("""
        SELECT c.c_custkey, c.c_mktsegment,
               CAST((SELECT count(*) FROM g_orders o2
                     WHERE o2.o_custkey = c.c_custkey
                       AND o2.o_orderpriority = '1-URGENT') AS BIGINT)
                 AS n_urgent
        FROM g_customer c
        WHERE EXISTS (SELECT 1 FROM g_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 100000)
          AND NOT EXISTS (SELECT 1 FROM g_orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice < 5000)
      """)
    }),

    // UNPIVOT (melt): the inverse of q26's pivot — wide per-flag metrics
    // back to (flag, metric, value) rows via Expand, no shuffle beyond the
    // aggregation's own
    "q36_unpivot_metrics" -> ((s, dir) => {
      val wide = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          (sum(col("l_quantity").cast("decimal(18,2)")) * 100)
            .cast("long").as("sum_qty_c"),
          (sum(col("l_extendedprice").cast("decimal(18,2)")) * 100)
            .cast("long").as("sum_price_c"))
      wide.unpivot(Array(col("l_returnflag")),
        Array(col("n_items"), col("sum_qty_c"), col("sum_price_c")),
        "metric", "value")
    }),

    // FULL OUTER join as a verified output (MergeOps uses one internally;
    // this pins the null-on-either-side semantics directly): urgent-order
    // counts vs high-value counts per customer — 22 left-only and ~195
    // right-only rows at sf0.01, so both null sides are exercised
    "q37_full_outer_counts" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val u = o.where(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_urgent"))
      val h = o.where(col("o_totalprice") > 300000.0)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_high"))
      u.as("u").join(h.as("h"),
          col("u.o_custkey") === col("h.o_custkey"), "full_outer")
        .select(
          coalesce(col("u.o_custkey"), col("h.o_custkey")).as("custkey"),
          coalesce(col("n_urgent"), lit(0L)).cast("long").as("n_urgent"),
          coalesce(col("n_high"), lit(0L)).cast("long").as("n_high"))
    }),

    // semi-structured JSON extraction (events.props is a JSON string):
    // get_json_object runs inside the scan's codegen — no UDF, no
    // intermediate struct materialization; pushdown still prunes columns
    "q38_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).cast("long").as("sum_k"),
          count(when(col("k") > 50, 1)).as("n_high"))
        .orderBy(col("event_type"))),

    // RANGE-frame sliding window (the frame family q24's running sum does
    // not cover): per event, count/sum over the trailing hour by VALUE
    // range — Spark's WindowExec slides two pointers per partition, O(n)
    // per user after the single user-keyed exchange
    "q39_rolling_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-3600L * 1000000L, Window.currentRow)
      ev.select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("cents")).over(w).cast("long").as("sum_cents_1h"))
    }),

    // LATERAL explode with ordinality (posexplode) — the row-generator
    // surface the relational checklist was missing: token positions fan
    // out row-locally inside Generate, then the hash aggregate's partial
    // (map-side combine) runs in the SAME stage, so only (token, partial)
    // rows ever shuffle — never the exploded positions themselves
    "q40_lateral_positions" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "token")))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("pos").cast("long") + 1L).as("min_pos"))
        .filter(col("n_occ") >= 5)
        .orderBy(col("token"))
    }),

    // explicit GROUPING SETS (completes the grouping family: ROLLUP=q21,
    // CUBE=q34): mixed granularities in ONE Expand+aggregate pair — each
    // input row fans out once per set inside the map stage, so the shuffle
    // carries |sets|× partial rows, never |sets|× raw rows; grouping()
    // flags disambiguate real NULLs from subtotal rows
    "q41_grouping_sets" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("g_documents")
      s.sql("""
        SELECT source, lang,
               CAST(grouping(source) AS BIGINT) AS g_source,
               CAST(grouping(lang) AS BIGINT) AS g_lang,
               count(1) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM g_documents
        GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
      """)
    }),

    // keep-LATEST consolidation (multi-version table → newest row per key)
    // via max_by AGGREGATION — the scalable replacement for the
    // row_number()=1 window idiom: partial max_by combines map-side and
    // only (key, best-so-far) rows shuffle, never a per-key sort. Versions
    // are planted per doc (0..doc_id%3) so every arity occurs.
    "q42_latest_wins" -> ((s, dir) => {
      val versions = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"),
          explode(sequence(lit(0L), pmod(col("doc_id"), lit(3L))))
            .as("version"))
        .select(col("doc_id"), col("version"),
          concat(col("text"), lit(" v"), col("version").cast("string"))
            .as("text_v"))
      versions.groupBy(col("doc_id"))
        .agg(max(col("version")).as("latest_version"),
          max_by(col("text_v"), col("version")).as("latest_text"))
        .select(col("doc_id"), col("latest_version"),
          md5(col("latest_text").cast("binary")).as("latest_hash"))
    }),

    // BAG-semantics set ops (EXCEPT ALL / INTERSECT ALL — the multiplicity-
    // preserving forms q22/q28's set versions don't exercise): planted
    // duplicate rows (docs%5==0 appear twice in A) survive into the result
    // with their counts. Catalyst plans both as keyed aggregates of counts
    // (no row-by-row anti semantics), so the shuffle carries (hash, count)
    // partials — the compact rollup makes that visible and hashable.
    "q43_bag_set_ops" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val h = md5(col("text").cast("binary")).as("h")
      val a = d.select(h)
        .unionAll(d.filter(col("doc_id") % 5 === 0).select(h))
      val b = d.filter(col("doc_id") % 3 === 0).select(h)
      val exceptCounts = a.exceptAll(b).groupBy(col("h"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      val intersectCounts = a.intersectAll(b).groupBy(col("h"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      exceptCounts.unionByName(intersectCounts)
        .select(col("op"), col("h"), col("n"))
    }),

    // NULL-SAFE equality join (<=> / IS NOT DISTINCT FROM): planted NULL
    // keys (docs%7==0 lose their source) must MATCH the dimension's NULL
    // row — plain = would silently drop them, the classic missing-rows bug
    // in rollups over nullable keys. Still a plain hash-equi join for
    // Catalyst (EqualNullSafe is a valid equi-join key), so the plan is a
    // broadcast hash join, not a nested loop.
    "q44_nullsafe_join" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(when(col("doc_id") % 7 === 0, lit(null))
          .otherwise(col("source")).as("src_key"), col("n_chars"))
      val dim = d.select(col("src_key").as("dim_key")).distinct()
        .withColumn("bucket",
          when(col("dim_key").isNull, "missing").otherwise("present"))
      d.join(broadcast(dim), col("src_key") <=> col("dim_key"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("bucket"))
    }),

    // Z-ORDER clustered layout: write the docs Morton-interleaved on two
    // derived dimensions, read back through a 2-D box predicate. The
    // round-trip proves the interleave math + layout is content-lossless;
    // TableIOSpec proves the scan-pruning claim (a y-only predicate skips
    // ~7/8 of row groups on the z layout and nothing on an x-clustered
    // one). bits=6 covers the 64×64 derived key space exactly.
    "q45_zorder_scan" -> ((s, dir) => {
      val base = s"/tmp/graft_zorder_${SparkEntry.docCountFor(dir)}"
      val d = t(s, dir, "documents").select(col("doc_id"),
        (col("n_chars") % 64).as("cx"), (col("doc_id") % 64).as("cy"))
      graft.io.TableIO.writeZOrdered(d, base, "cx", "cy")
      s.read.parquet(base)
        .where(col("cx").between(16, 31) && col("cy").between(32, 47))
        .select(col("doc_id"), col("cx"), col("cy"),
          graft.io.TableIO.zValue(col("cx"), col("cy")).as("zvalue"))
    }),

    // GROUPED top-k (top 3 longest docs per source) via the bounded-heap
    // Aggregator, NOT the row_number window idiom: the heap runs partial
    // map-side so each reducer absorbs ≤ partitions × k candidates — the
    // window formulation funnels every row of a group through one task's
    // sort, the classic top-N-per-key bottleneck at 10^12 rows. Ties break
    // by doc_id asc in both engine and oracle.
    "q46_grouped_topk" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
        .select(col("source"), col("doc_id").cast("long"),
          col("n_chars").cast("double"))
        .as[(String, Long, Double)]
      d.groupByKey(_._1)
        .mapValues(r => (0L, r._2, r._3))
        .agg(new graft.ops.TopK.TopKIds(3).toColumn)
        .toDF("source", "top_ids")
        .select(col("source"),
          posexplode(col("top_ids")).as(Seq("pos", "doc_id")))
        .select(col("source"), (col("pos") + 1).cast("int").as("rnk"),
          col("doc_id"))
    }),

    // integer PageRank over the deterministic hyperlink graph: 3 Pregel
    // rounds of join+agg, lineage truncated per round; all-floor-division
    // arithmetic so engine and oracle are bit-identical
    "q47_pagerank" -> ((s, dir) =>
      graft.ops.GraphOps.pagerank(t(s, dir, "documents"))),

    // per-node triangle participation + degree on the canonicalized
    // (a < b) edge set — oriented 2-path join closed by the third edge
    "q48_triangles" -> ((s, dir) =>
      graft.ops.GraphOps.triangles(t(s, dir, "documents"))),

    // bounded-depth BFS (min-hop reachability) from the doc_id%97 seed
    // set — the recursive-CTE query shape, unrolled as frontier-only
    // Pregel rounds (only new nodes ever cross an exchange)
    "q59_reachability" -> ((s, dir) =>
      graft.ops.GraphOps.bfsHops(t(s, dir, "documents"))),

    // interval sweep-line: max concurrent sessions per user (+1/−1 deltas,
    // per-user running sum), reported as a population histogram
    "q60_max_concurrency" -> ((s, dir) =>
      graft.ops.EventOps.maxConcurrency(t(s, dir, "events"))),

    // equi-WIDTH histogram — q56's equi-depth twin: fixed $50k buckets of
    // order value, count + mass per bucket. One integer floor-divide
    // derives the bucket inside the scan, one partial+final agg; no sort,
    // no rank window — at 10^12 rows this is the histogram you can
    // actually afford every ingest cycle (equi-depth needs the rank pass)
    "q85_equiwidth_hist" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("cents"))
        .select(expr("cents div 5000000L").as("bucket"), col("cents"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("bucket"))
    }),

    // Tukey outlier fences per market segment: Q1/Q3 by the exact ties-low
    // rank rule (q25's), fences at ±1.5·IQR kept integer by doubling both
    // sides (2·cents vs 5·Q1−3·Q3 / 5·Q3−3·Q1) — the data-quality gate an
    // ingest pipeline runs per slice before accepting a batch. Quartiles
    // come from ONE segment-keyed window pass; the 5-row quartile table
    // broadcasts back into a single outlier-census aggregate. At 10^12
    // rows swap the exact rank pass for approx_percentile — the fence
    // arithmetic is unchanged.
    "q86_outlier_fences" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"),
          col("o_orderkey"))
      val w = Window.partitionBy(col("segment"))
        .orderBy(col("cents"), col("o_orderkey"))
      val quart = o
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("segment"))))
        .where(col("rn") === expr("(25 * n + 99) div 100") ||
               col("rn") === expr("(75 * n + 99) div 100"))
        .groupBy(col("segment"))
        .agg(min(when(col("rn") === expr("(25 * n + 99) div 100"),
            col("cents"))).as("q1_cents"),
          min(when(col("rn") === expr("(75 * n + 99) div 100"),
            col("cents"))).as("q3_cents"))
      o.join(broadcast(quart), Seq("segment"))
        .groupBy(col("segment"), col("q1_cents"), col("q3_cents"))
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("cents") * 2 < col("q1_cents") * 5 - col("q3_cents") * 3,
            1L).otherwise(0L)).as("n_low"),
          sum(when(col("cents") * 2 > col("q3_cents") * 5 - col("q1_cents") * 3,
            1L).otherwise(0L)).as("n_high"),
          sum(when(col("cents") * 2 < col("q1_cents") * 5 - col("q3_cents") * 3 ||
                   col("cents") * 2 > col("q3_cents") * 5 - col("q1_cents") * 3,
            col("cents")).otherwise(0L)).as("outlier_cents"))
        .orderBy(col("segment"))
    }),

    // dynamic partition overwrite — Iceberg's "replace partitions" on the
    // file source: the base table writes hive-partitioned by lang, then a
    // recomputed 'en' batch overwrites ONLY its own partition
    // (partitionOverwriteMode=dynamic; static mode would truncate the
    // whole table). Read-back rollup proves untouched partitions survive
    // byte-for-byte while 'en' carries the delta — the idempotent
    // reprocess-one-slice primitive of a 10^12-doc ingest loop.
    "q87_dynamic_overwrite" -> ((s, dir) => {
      val base = s"/tmp/graft_dynovr_${SparkEntry.docCountFor(dir)}"
      val bp = new org.apache.hadoop.fs.Path(base)
      val fs = bp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(bp)) fs.delete(bp, true)
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      d.write.partitionBy("lang").parquet(base)
      d.where(col("lang") === "en")
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, col("n_chars") + 11L)
            .otherwise(col("n_chars")).as("n_chars"),
          col("lang"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang").parquet(base)
      s.read.parquet(base)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    }),

    // gaps-and-islands: per-user consecutive-day activity streaks via the
    // day − row_number() island key, rolled up to a max-streak histogram.
    // Two keyed exchanges by construction — (user, day) distinct, then the
    // user-keyed island window — the canonical streak plan at any scale
    // (the window never sees raw events, only distinct days).
    "q88_streaks" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val days = t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      days
        .withColumn("island", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("streak_len"))
        .groupBy(col("user_id"))
        .agg(max(col("streak_len")).as("max_streak"),
          count(lit(1)).as("n_streaks"))
        .groupBy(col("max_streak"))
        .agg(count(lit(1)).as("n_users"), sum(col("n_streaks")).as("sum_streaks"))
        .orderBy(col("max_streak"))
    }),

    // NOT IN three-valued-logic semantics, both branches pinned: against a
    // null-free subquery NOT IN is a plain anti join; once the subquery
    // contains a single NULL every comparison is UNKNOWN and the result is
    // EMPTY — the classic silent-wrong-answer trap a query engine must get
    // right. Catalyst plans the nullable branch null-aware (NAAJ);
    // both counts emit in one row so the contrast is the test.
    "q89_notin_nulls" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("g89_customer")
      t(s, dir, "orders").createOrReplaceTempView("g89_orders")
      s.sql("""
        SELECT
          (SELECT count(*) FROM g89_customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM g89_orders
                                   WHERE o_orderstatus = 'F')) AS n_nullfree,
          (SELECT count(*) FROM g89_customer
           WHERE c_custkey NOT IN (SELECT CASE WHEN o_orderkey % 1000 = 7
                                          THEN NULL ELSE o_custkey END
                                   FROM g89_orders
                                   WHERE o_orderstatus = 'F')) AS n_with_null
      """)
    }),

    // higher-order array functions driver-verified: per-user sorted
    // purchase-cents arrays built once (packed-struct sort, the q75
    // pattern), then aggregate/filter/zip_with+slice derive integer
    // statistics INSIDE the row — no explode, no second shuffle. The
    // oracle recomputes every statistic from raw rows with windows, so the
    // HOF surface is checked against an independent formulation.
    "q90_hof_arrays" -> ((s, dir) => {
      t(s, dir, "events").where(col("event_type") === "purchase")
        .select(col("user_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
          col("event_id"))
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("cents"), col("event_id"))))
          .as("sl"))
        .select(col("user_id"), expr("transform(sl, x -> x.cents)").as("arr"))
        .select(col("user_id"),
          size(col("arr")).cast("long").as("n_purchases"),
          expr("aggregate(arr, 0L, (acc, x) -> acc + x * x)").as("sum_sq"),
          size(expr("filter(arr, x -> x > 5000L)")).cast("long").as("n_big"),
          expr("""CASE WHEN size(arr) >= 2
                  THEN array_max(zip_with(slice(arr, 1, size(arr) - 1),
                                          slice(arr, 2, size(arr) - 1),
                                          (x, y) -> y - x))
                  ELSE 0L END""").as("max_delta"))
        .orderBy(col("user_id"))
    }),

    // large×large sort-merge join, hint-pinned: lineitem ⋈ orders on the
    // orderkey with BOTH sides too big to broadcast at 10^12 rows — the
    // one join class where SMJ is the right physical plan (PlanSpec pins
    // SortMergeJoin, no broadcast). With doc_id/orderkey-bucketed layouts
    // both exchanges disappear (TableIO bucketed-join spec); the hint
    // models the planner decision a real deployment forces via stats.
    "q91_smj_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem").hint("merge")
        .join(t(s, dir, "orders").hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum((col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long")).as("sum_price_c"))
        .orderBy(col("o_orderpriority"))
    }),

    // the third join strategy, SHUFFLE_HASH-pinned (q14 pins broadcast,
    // q91 pins sort-merge): both sides exchange but the build side hashes
    // per-partition instead of sorting — the plan for large×large joins
    // where one side's PARTITIONS fit executor memory and the sort would
    // dominate (lineitem never sorts here). PlanSpec asserts
    // ShuffledHashJoin; the oracle is strategy-blind by design.
    "q105_shj_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders").hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          sum((col("l_quantity").cast("decimal(18,2)") * 100)
            .cast("long")).as("sum_qty_c"))
        .orderBy(col("o_orderstatus"))
    }),

    // year-over-year monthly revenue trend: month index = year·12+month−1
    // (integer, no date-trunc convention to disagree on), YoY delta via a
    // LEFT self-join of the tiny monthly rollup on mix = mix+12 — exact
    // even when months are missing (a positional lag(12) silently
    // misaligns on gaps). The rollup materializes once; the join runs
    // over |months| rows, never raw orders.
    "q92_yoy_trend" -> ((s, dir) => {
      val m = t(s, dir, "orders")
        .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
            .cast("long").as("mix"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
        .groupBy(col("mix"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_c"))
        .localCheckpoint(true)
      m.join(m.select(col("mix").as("pmix"), col("rev_c").as("p_rev")),
          col("mix") === col("pmix") + 12, "left")
        .select(col("mix"), col("n_orders"), col("rev_c"),
          coalesce(col("p_rev"), lit(0L)).as("prev_rev_c"),
          (col("rev_c") - coalesce(col("p_rev"), lit(0L))).as("yoy_delta_c"))
        .orderBy(col("mix"))
    }),

    // NULL ordering pinned cross-engine: per-nation balance ranking over a
    // nullable key (every 13th custkey's balance nulled). Spark's default
    // ASC is NULLS FIRST, DuckDB's is NULLS LAST — the silent top-k
    // corruption when a ranking column goes nullable. BOTH sides say
    // NULLS FIRST explicitly (asc_nulls_first / ASC NULLS FIRST), so the
    // null rows must occupy ranks 1..k identically; a defaulted oracle
    // would hash-fail. Nulls display as −1 (the driver compare can't hash
    // a null-bearing column portably).
    "q93_nulls_order" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val c = t(s, dir, "customer").select(col("c_custkey"),
        col("c_nationkey").cast("long").as("nation"),
        when(col("c_custkey") % 13 === 0, lit(null).cast("long"))
          .otherwise((col("c_acctbal").cast("decimal(18,2)") * 100)
            .cast("long")).as("bal_c"))
      val w = Window.partitionBy(col("nation"))
        .orderBy(col("bal_c").asc_nulls_first, col("c_custkey"))
      c.withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select(col("nation"), col("rk"), col("c_custkey"),
          coalesce(col("bal_c"), lit(-1L)).as("bal_c_disp"))
        .orderBy(col("nation"), col("rk"))
    }),

    // VARIANT shredding (Spark 4's semi-structured type — the successor to
    // q38's per-path get_json_object): the JSON string parses ONCE into the
    // binary VARIANT encoding, then every typed extraction (nested object
    // path, array index, missing-path null via try_variant_get) reads the
    // shredded buffer without re-parsing text — at 10^12 rows the N-paths ×
    // N-rows reparse tax is the difference between a scan-bound and a
    // CPU-bound stage. The JSON itself is built deterministically from row
    // columns by plain concat, so both engines parse identical strings.
    "q94_variant_shred" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_id"), col("user_id"), col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("vc"))
      val jstr = concat(lit("{\"u\":"), col("user_id").cast("string"),
        lit(",\"t\":\""), col("event_type"),
        lit("\",\"m\":{\"vc\":"), col("vc").cast("string"),
        lit("},\"a\":["), (col("event_id") % 7).cast("string"),
        lit(","), (col("event_id") % 11).cast("string"), lit("]}"))
      ev.select(parse_json(jstr).as("v"))
        .select(variant_get(col("v"), "$.t", "string").as("typ"),
          variant_get(col("v"), "$.m.vc", "long").as("vc"),
          variant_get(col("v"), "$.a[1]", "long").as("a1"),
          try_variant_get(col("v"), "$.m.missing", "long").as("miss"))
        .groupBy(col("typ"))
        .agg(count(lit(1)).as("n"),
          sum(col("vc")).cast("long").as("sum_vc"),
          sum(col("a1")).cast("long").as("sum_a1"),
          count(when(col("miss").isNull, 1)).as("n_missing"))
        .orderBy(col("typ"))
    }),

    // MapType + map higher-order functions (the one collection family the
    // checklist hadn't pinned): per-order part→qty maps built by ONE
    // map_from_entries over the (orderkey, partkey) partial-agg, then
    // map_filter / transform_values / aggregate(map_values) all run
    // row-local inside the same projection — no explode, no second
    // shuffle; only the tiny per-order scalars reach the final rollup.
    // (l_partkey repeats within an order in this corpus — the pre-agg is
    // what makes map_from_entries' unique-key contract hold.)
    "q95_map_rollup" -> ((s, dir) => {
      val pq = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
      val per = pq.groupBy(col("l_orderkey"))
        .agg(map_from_entries(collect_list(struct(col("l_partkey"),
          col("qty")))).as("m"))
        .select(
          expr("cardinality(m)").cast("long").as("n_parts"),
          expr("cardinality(map_filter(m, (k, v) -> v >= 3))").cast("long")
            .as("n_big"),
          expr("aggregate(map_values(m), 0L, (acc, x) -> acc + x)").as("tot"),
          expr("aggregate(map_values(transform_values(m, (k, v) -> v * 2L))" +
            ", 0L, (acc, x) -> acc + x)").as("tot2"))
      per.groupBy(col("n_parts"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("n_big")).cast("long").as("sum_big"),
          sum(col("tot")).cast("long").as("sum_qty"),
          sum(col("tot2")).cast("long").as("sum_qty2"))
        .orderBy(col("n_parts"))
    }),

    // ANSI-mode arithmetic safety rails (Spark 4 runs ANSI ON): try_divide
    // / try_multiply / try_add return NULL exactly where strict evaluation
    // would abort the job — division by zero, silent-in-legacy-mode BIGINT
    // overflow. At 10^12 rows one poisoned row must not kill a 6-hour
    // stage. The oracle recomputes each guard independently in HUGEINT, so
    // the null placement itself is what's verified. All-null groups
    // display as −1 (driver compare can't hash null-bearing columns).
    // The probe rows are a deterministic 1/97 slice: this dataset makes
    // overflow the COMMON case, and Spark's TryEval pays a caught
    // ArithmeticException per overflowing row — millions of exception
    // constructions measured 7.3 s at sf0.1 (bench runs 28–29) for a
    // semantics pin that needs coverage of each null rail, not volume.
    "q96_try_arith" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .where(pmod(col("o_orderkey"), lit(97)) === 0)
        .select(col("o_orderkey"), (col("o_orderkey") % 5).as("m"))
      o.select(col("m"),
          try_divide(lit(120L), col("m")).as("d"),
          try_multiply(col("o_orderkey"), lit(4611686018427387904L)).as("p"),
          try_add(col("o_orderkey"), lit(Long.MaxValue)).as("a"))
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n"),
          count(when(col("d").isNull, 1)).as("n_div_null"),
          coalesce(max(col("d")).cast("long"), lit(-1L)).as("div120"),
          count(when(col("p").isNull, 1)).as("n_mul_null"),
          coalesce(sum(col("p")).cast("long"), lit(-1L)).as("sum_mul_ok"),
          count(when(col("a").isNull, 1)).as("n_add_null"))
        .orderBy(col("m"))
    }),

    // exact distinct via BITMAP aggregation (the bitmap-index trick —
    // ClickHouse groupBitmap / Druid bitmap indexes): user ids pack into
    // 64-bit words keyed by uid>>6, bit_or merges map-side (one partial
    // agg per word per partition), and popcount-sum recovers the EXACT
    // distinct count. The exchange carries one row per (type, word) —
    // a ≥64× row cut vs shuffling distinct uids, with none of HLL's
    // (p20) approximation. Contract: dense bounded id domains (dictionary-
    // encoded users, doc ids within a shard); for open-ended domains the
    // HLL path is the estimate and count_distinct the exact fallback.
    // The oracle recomputes the same three quantities from the raw rows,
    // so the bitmap algebra itself is what's verified.
    "q97_bitmap_distinct" -> ((s, dir) => {
      val words = t(s, dir, "events")
        .select(col("event_type"), shiftright(col("user_id"), 6).as("word_idx"),
          expr("shiftleft(1L, int(user_id % 64))").as("bit"))
        .groupBy(col("event_type"), col("word_idx"))
        .agg(expr("bit_or(bit)").as("word"))
      words.groupBy(col("event_type"))
        .agg(sum(expr("bit_count(word)")).cast("long").as("n_users"),
          count(lit(1)).as("n_words"),
          max(col("word_idx")).cast("long").as("max_word"))
        .orderBy(col("event_type"))
    }),

    // SCD2 POINT-IN-TIME enrichment — the dimensional-warehouse pattern
    // q49 builds versions for but nothing consumed: every purchase joins
    // the signup VERSION that was valid at purchase time, then rolls up
    // revenue per dimension version. The PIT lookup IS an as-of join
    // (latest valid_from ≤ t), so it rides the engine's AsOfJoin operator
    // — one keyed shuffle + Tungsten sort + O(1)-state sweep, no
    // nested-loop validity-interval join, no window over the fact table.
    // Purchases before any signup keep version −1 (LEFT semantics).
    // DuckDB's native ASOF LEFT JOIN is the oracle.
    "q99_scd2_pit_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val versions = graft.ops.EventOps.scd2Versions(ev)
        .select(col("user_id").as("key"),
          timestamp_micros(col("valid_from_us")).as("ts"),
          col("event_id").as("id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("key"), col("ts"), col("event_id").as("id"))
      val cents = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("left_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      graft.ops.AsOfJoin.join(purchases, versions)
        .join(cents, "left_id")
        .groupBy(coalesce(col("right_id"), lit(-1L)).as("version_event_id"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .orderBy(col("version_event_id"))
    }),

    // SCHEMA-EVOLUTION union: two generations of the orders feed with
    // disjoint extra columns union by NAME with missing columns
    // null-padded (`unionByName(allowMissingColumns = true)` — the
    // ingest-time contract when a parquet producer adds a field). The
    // census counts per-column presence so a positional union (the bug
    // this pins against) could never hash-match: positionally, price and
    // priority would land in one column. Oracle replicates with explicit
    // NULL projections — independent of DuckDB's own BY NAME support.
    "q100_union_evolution" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val v1 = o.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("price_cents"))
      val v2 = o.where(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"))
      v1.unionByName(v2, allowMissingColumns = true)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          count(col("price_cents")).as("n_with_price"),
          count(col("o_orderpriority")).as("n_with_priority"),
          sum(col("price_cents")).cast("long").as("sum_price_cents"))
        .orderBy(col("o_orderstatus"))
    }),

    // UTF-8 MULTIBYTE semantics pin: byte length (octet_length) vs
    // character length (codepoints) must disagree exactly on multibyte
    // text in BOTH engines before any length-based quality rule or
    // chunker is trusted on non-ASCII corpora. Devanagari suffixes are
    // planted deterministically (the bilingual Aadhaar-card domain: 3
    // UTF-8 bytes per codepoint, BMP — unambiguous in Spark's
    // UTF8String.numChars and DuckDB's length alike). All arithmetic
    // stays integer; the n_multibyte census would catch an engine
    // counting UTF-16 code units or graphemes instead of codepoints.
    "q101_utf8_pin" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("lang"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" आधार कार्ड 123")))
            .otherwise(col("text")).as("t2"))
      d.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(octet_length(col("t2"))).cast("long").as("sum_bytes"),
          sum(length(col("t2"))).cast("long").as("sum_chars"),
          sum(when(octet_length(col("t2")) =!= length(col("t2")), 1L)
            .otherwise(0L)).cast("long").as("n_multibyte"))
        .orderBy(col("lang"))
    }),

    // PARTITION EVOLUTION (Iceberg-style): old periods of the events
    // table live day-partitioned on disk, new periods month-partitioned —
    // the layout change Iceberg applies WITHOUT rewriting history (spec
    // v1 files keep their dirs; new writes use spec v2). Readers union
    // the two generations and every per-generation filter still prunes
    // to its own dirs. The rollup is layout-INDEPENDENT by construction —
    // that invariance (evolution must never change query results) is
    // exactly what the oracle, computed straight off the logical events
    // table, verifies. The evolution cutoff is the period midpoint
    // (1-row agg — driver-side by design, like CheckpointRunner's).
    "q102_partition_evolution" -> ((s, dir) => {
      val base = s"/tmp/graft_partevo_${SparkEntry.docCountFor(dir)}"
      val bp = new org.apache.hadoop.fs.Path(base)
      val fs = bp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(bp)) fs.delete(bp, true)
      val ev = t(s, dir, "events")
        .select(col("event_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000L").as("day"))
        .withColumn("period", expr("day div 30L"))
      val Array(lo, hi) = ev.agg(min(col("period")), max(col("period")))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val cut = (lo + hi + 1) / 2
      ev.where(col("period") < cut)
        .select(col("event_id"), col("cents"), col("day"))
        .write.partitionBy("day").parquet(s"$base/gen1")
      ev.where(col("period") >= cut)
        .select(col("event_id"), col("cents"), col("period"))
        .write.partitionBy("period").parquet(s"$base/gen2")
      val g1 = s.read.parquet(s"$base/gen1")
        .withColumn("period", expr("day div 30L"))
        .select(col("event_id"), col("cents"), col("period"))
      val g2 = s.read.parquet(s"$base/gen2")
        .select(col("event_id"), col("cents"), col("period").cast("long"))
      g1.unionByName(g2)
        .groupBy(col("period"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .orderBy(col("period"))
    }),

    // cross-engine CALENDAR semantics pin (the date-function analogue of
    // q93's null-ordering pin): ISO week-of-year × day-of-week rollup.
    // Spark's weekofyear is ISO-8601 (Monday start, week 1 holds Jan 4);
    // its dayofweek is 1=Sunday..7=Saturday while DuckDB's is 0=Sunday..6
    // — the oracle adds 1 so a convention drift in either engine breaks
    // the hash. Cents via DECIMAL(18,2) so the sum is exact and
    // order-independent (q10 convention).
    "q98_calendar_pin" -> ((s, dir) => {
      t(s, dir, "events")
        .select(weekofyear(col("ts")).cast("long").as("iso_week"),
          dayofweek(col("ts")).cast("long").as("dow"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        .groupBy(col("iso_week"), col("dow"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .orderBy(col("iso_week"), col("dow"))
    }),

    // literal WITH RECURSIVE (Spark 4's UnionLoopExec): subtree doc count
    // and char mass per single-digit root over the decimal ancestor tree
    // — q62 computes this rollup by exploding ancestor chains; here the
    // SQL-standard recursive CTE surface itself executes, seeded at the
    // roots, the recursive arm guarded (doc_id >= 10) so the loop
    // terminates at the tree depth (≤ log10 |docs| iterations, each one
    // joined and unioned by the engine).
    "q83_recursive_rollup" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("g83_docs")
      s.sql("""
        WITH RECURSIVE anc AS (
          SELECT doc_id, doc_id AS root, n_chars FROM g83_docs
          WHERE doc_id < 10
          UNION ALL
          SELECT c.doc_id, a.root, c.n_chars FROM g83_docs c JOIN anc a
          ON c.doc_id DIV 10 = a.doc_id WHERE c.doc_id >= 10
        )
        SELECT root, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM anc GROUP BY root ORDER BY root""")
    }),

    // grouped argmax / per-key mode: each user's FAVORITE event type
    // (max count, ties to the lexicographically first type), censused per
    // favorite — "dominant behavior" segmentation. min_by over the packed
    // (-count, type) ordering struct does the argmax in ONE keyed agg, no
    // per-user window funnel.
    "q84_favorite_type" -> ((s, dir) => {
      val cnt = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      cnt.groupBy(col("user_id"))
        .agg(min_by(struct(col("event_type"), col("cnt")),
          struct((-col("cnt")).as("nc"), col("event_type"))).as("fav"))
        .groupBy(col("fav.event_type").as("favorite"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("fav.cnt")).as("sum_fav_events"))
        .orderBy(col("favorite"))
    }),

    // time-weighted average (TWAP) components per user: the step-function
    // integral Σ value·Δt over consecutive events, kept as the exact
    // integer pair (µs·cents numerator, µs denominator) — no division.
    // One lead() window pass ordered by (ts, event_id); products stay
    // ≤ ~1e17 for month-long user histories (documented headroom).
    "q81_twap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        col("event_id").cast("long").as("eid"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("eid"))
      ev.withColumn("next_us", lead(col("us"), 1).over(w))
        .where(col("next_us").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_segments"),
          sum(expr("cents * (next_us - us)")).as("twap_num"),
          sum(expr("next_us - us")).as("twap_den"))
        .orderBy(col("user_id"))
    }),

    // LATERAL correlated subquery join (the SQL-standard operator behind
    // "top-N per outer row"): each customer's 2 priciest orders via a
    // literal LATERAL (... ORDER BY ... LIMIT 2) — Catalyst's
    // decorrelation turns it into the ranked join; written as SQL so the
    // LATERAL surface itself is what executes, not a hand-built window.
    "q82_lateral_topk" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("g82_customer")
      t(s, dir, "orders").createOrReplaceTempView("g82_orders")
      s.sql("""
        SELECT c.c_custkey, t.okey, t.price_c
        FROM g82_customer c, LATERAL (
          SELECT o_orderkey AS okey,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS price_c
          FROM g82_orders o WHERE o.o_custkey = c.c_custkey
          ORDER BY price_c DESC, okey LIMIT 2) t
        ORDER BY c.c_custkey, price_c DESC, okey""")
    }),

    // customer-spend percentile bands per segment: percent_rank
    // replicated in exact integer ppm ((rn−1)·10^6 div (n−1), the
    // float-free twin of the builtin) and bucketed into deciles — the
    // spend-distribution table behind tiering decisions. One window pass
    // over the per-customer rollup, then a tiny band census.
    "q80_percentile_bands" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val spend = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("cents"))
        .join(t(s, dir, "customer").select(col("c_custkey").as("ck"),
          col("c_mktsegment").as("segment")), "ck")
      val rw = Window.partitionBy(col("segment"))
        .orderBy(col("cents"), col("ck"))
      val cw = Window.partitionBy(col("segment"))
      spend
        .withColumn("rn", row_number().over(rw).cast("long"))
        .withColumn("n", count(lit(1)).over(cw))
        .withColumn("pct_ppm",
          expr("(rn - 1) * 1000000L div greatest(n - 1, 1L)"))
        .select(col("segment"),
          expr("least(pct_ppm div 100000L, 9L)").as("decile"),
          col("cents"))
        .groupBy(col("segment"), col("decile"))
        .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("segment"), col("decile"))
    }),

    // relational DIVISION (the classic operator Codd's algebra has and
    // SQL doesn't): customers whose orders cover EVERY priority class,
    // rolled up per market segment. count-distinct-equals-total
    // formulation — one keyed agg per side, the 1-row universe count
    // broadcast; no double-negated NOT EXISTS nesting at execution time.
    "q79_division" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey").as("ck"),
        col("o_orderpriority").as("pri"))
      val per = o.distinct().groupBy(col("ck"))
        .agg(count(lit(1)).as("n_pri"))
      per.crossJoin(broadcast(
          o.select(col("pri")).distinct().agg(count(lit(1)).as("total_pri"))))
        .where(col("n_pri") === col("total_pri"))
        .join(t(s, dir, "customer").select(col("c_custkey").as("ck"),
          col("c_mktsegment").as("segment")), "ck")
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_complete_customers"))
        .orderBy(col("segment"))
    }),

    // rolling DISTINCT count — 3-day active users per day. Windows can't
    // dedup, so the classic rewrite: distinct (user, day) once, then each
    // activity row serves every target day in [day, day+2] via a 3-row
    // band join against the broadcast day list, and one count-distinct
    // per target day. Shuffle carries |distinct (user,day)| × 3 rows —
    // never the raw event stream.
    "q78_rolling_distinct" -> ((s, dir) => {
      val base = t(s, dir, "events").select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000")
            .as("d"))
        .distinct()
      val days = base.select(col("d").as("td")).distinct()
      base.join(broadcast(days),
          col("td") >= col("d") && col("td") <= col("d") + 2)
        .groupBy(col("td"))
        .agg(countDistinct(col("user_id")).as("active_users_3d"))
        .orderBy(col("td"))
    }),

    // period-over-period movers: each brand's revenue rank in the early
    // vs late shipping period (split at 1998-01-01) and the rank delta —
    // the "biggest climbers/fallers" report. Conditional-sum pivot in ONE
    // pass over lineitem (no second scan), two windows over the tiny
    // 25-brand rollup, ties broken (revenue desc, brand asc).
    "q77_rank_movers" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val per = t(s, dir, "lineitem").as("l")
        .join(broadcast(t(s, dir, "part").as("p")),
          col("l.l_partkey") === col("p.p_partkey"))
        .select(col("p.p_brand").as("brand"),
          (col("l.l_shipdate") < lit("1998-01-01").cast("timestamp"))
            .as("early"),
          (col("l.l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        .groupBy(col("brand"))
        .agg(sum(when(col("early"), col("cents")).otherwise(0L)).as("rev_a"),
          sum(when(!col("early"), col("cents")).otherwise(0L)).as("rev_b"))
      val wa = Window.orderBy(col("rev_a").desc, col("brand"))
      val wb = Window.orderBy(col("rev_b").desc, col("brand"))
      per.withColumn("rank_a", row_number().over(wa).cast("long"))
        .withColumn("rank_b", row_number().over(wb).cast("long"))
        .select(col("brand"), col("rev_a"), col("rev_b"),
          col("rank_a"), col("rank_b"),
          expr("rank_a - rank_b").as("rank_gain"))
        .orderBy(col("brand"))
    }),

    // behavioral-sequence extraction: per user, the full event-type
    // sequence ordered by (event time, event id) as one string — the
    // input row of every sequence-mining / session-embedding job. The
    // ordered collect is row-bounded by the per-user event cap (any real
    // clickstream pipeline enforces one); array_sort on the packed
    // struct gives a deterministic total order with no window shuffle —
    // one keyed agg, sort inside the row.
    "q75_event_sequences" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        col("event_id").cast("long").as("eid"), col("event_type"))
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          array_join(
            transform(
              array_sort(collect_list(
                struct(col("us"), col("eid"), col("event_type")))),
              x => x.getField("event_type")),
            ",").as("seq"))
        .orderBy(col("user_id"))
    }),

    // winsorized (5%/95%-clipped) robust mean per order priority — the
    // outlier-insensitive spend statistic. Exact rank-based bounds: the
    // clip values are the prices at ranks ⌈n·5/100⌉ and ⌈n·95/100⌉ of
    // the (price, okey)-ordered group; the mean stays exact as the
    // (clipped-sum, count) integer pair, never divided. One window pass
    // for ranks, a tiny per-group bounds rollup joined back broadcast.
    "q76_winsorized" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders").select(
        col("o_orderpriority").as("pri"),
        col("o_orderkey").cast("long").as("okey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("price_c"))
      val rw = Window.partitionBy(col("pri"))
        .orderBy(col("price_c"), col("okey"))
      val cw = Window.partitionBy(col("pri"))
      val ranked = o
        .withColumn("rn", row_number().over(rw).cast("long"))
        .withColumn("n", count(lit(1)).over(cw))
      val bounds = ranked.groupBy(col("pri")).agg(
        max(when(expr("rn = greatest(1L, (n * 5 + 99) div 100)"),
          col("price_c"))).as("lo_c"),
        max(when(expr("rn = (n * 95 + 99) div 100"), col("price_c")))
          .as("hi_c"))
      ranked.join(broadcast(bounds), "pri")
        .groupBy(col("pri"))
        .agg(count(lit(1)).as("n"),
          max(col("lo_c")).as("lo_c"), max(col("hi_c")).as("hi_c"),
          sum(expr("least(greatest(price_c, lo_c), hi_c)"))
            .as("sum_winsorized_c"))
        .orderBy(col("pri"))
    }),

    // referential-integrity audit across every FK edge of the warehouse in
    // one result: per relation, child rows and orphans (left join against
    // the distinct parent keys, conditional count — one pass per edge, no
    // count-then-anti double scan). The pristine tables must audit to 0
    // orphans; an eighth row audits a deliberately-corrupted child (every
    // 17th lineitem's orderkey shifted out of range, deterministically) so
    // the orphan path itself is exercised with an exact nonzero count.
    "q73_fk_audit" -> ((s, dir) => {
      def audit(rel: String, child: DataFrame, key: String,
                parent: DataFrame, pkey: String): DataFrame = {
        val p = parent.select(col(pkey).as("k"), lit(1).as("hit")).distinct()
        child.select(col(key).as("k")).join(p, Seq("k"), "left")
          .agg(count(lit(1)).as("n_child"),
            sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_orphans"))
          .select(lit(rel).as("relation"), col("n_child"), col("n_orphans"))
      }
      val li = t(s, dir, "lineitem")
      val corrupted = li.select(
        when(col("l_orderkey") % 17 === 0, col("l_orderkey") + 1000000000L)
          .otherwise(col("l_orderkey")).as("l_orderkey"))
      Seq(
        audit("customer->nation", t(s, dir, "customer"), "c_nationkey",
          t(s, dir, "nation"), "n_nationkey"),
        audit("lineitem->orders", li, "l_orderkey",
          t(s, dir, "orders"), "o_orderkey"),
        audit("lineitem->orders!corrupted", corrupted, "l_orderkey",
          t(s, dir, "orders"), "o_orderkey"),
        audit("lineitem->part", li, "l_partkey",
          t(s, dir, "part"), "p_partkey"),
        audit("lineitem->supplier", li, "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey"),
        audit("nation->region", t(s, dir, "nation"), "n_regionkey",
          t(s, dir, "region"), "r_regionkey"),
        audit("orders->customer", t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey"),
        audit("supplier->nation", t(s, dir, "supplier"), "s_nationkey",
          t(s, dir, "nation"), "n_nationkey"))
        .reduce(_ unionByName _)
        .orderBy(col("relation"))
    }),

    // CUBE with GROUPING flags (q41 covers GROUPING SETS without them):
    // subtotal rows only — HAVING on the grouping level distinguishes a
    // real NULL group from a rollup NULL, the thing raw CUBE output can't
    "q74_grouping_flags" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag").as("rf"),
        col("l_linestatus").as("ls"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      li.cube(col("rf"), col("ls"))
        .agg(grouping(col("rf")).cast("long").as("g_rf"),
          grouping(col("ls")).cast("long").as("g_ls"),
          count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .where(expr("g_rf + g_ls > 0"))
        .select(col("rf"), col("ls"), col("g_rf"), col("g_ls"),
          col("n"), col("sum_cents"))
        .orderBy(col("g_rf"), col("g_ls"), col("rf"), col("ls"))
    }),

    // correlated SCALAR subqueries (q35 covers correlated EXISTS): orders
    // priced above their own customer's average, rolled up per market
    // segment. Written as literal correlated subqueries so Catalyst's
    // decorrelation rewrite (subquery → left join with a grouped
    // aggregate) is what executes — no hand-decorrelated join. The
    // above-average test is the integer cross-multiply price·n > total,
    // so no division/float ever appears; price_c·n stays far inside long
    // (≤ ~6e7 cents × basket-bounded order count).
    "q71_above_avg" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("g71_orders")
      t(s, dir, "customer").createOrReplaceTempView("g71_customer")
      s.sql("""
        SELECT c.c_mktsegment AS segment,
               CAST(count(*) AS BIGINT) AS n_above,
               sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS sum_above_c
        FROM g71_orders o JOIN g71_customer c ON o.o_custkey = c.c_custkey
        WHERE CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
              * (SELECT count(*) FROM g71_orders o2
                 WHERE o2.o_custkey = o.o_custkey)
            > (SELECT sum(CAST(CAST(o3.o_totalprice AS DECIMAL(18,2)) * 100
                   AS BIGINT))
               FROM g71_orders o3 WHERE o3.o_custkey = o.o_custkey)
        GROUP BY 1 ORDER BY 1""")
    }),

    // exact weighted median (quantity-weighted lineitem price) per return
    // flag — the weighted generalization of q25's exact percentiles.
    // Weights pre-aggregate per distinct price so the running sum runs
    // over unique-ordered rows (ROWS ≡ RANGE, no peer ambiguity); the
    // median is the least price whose cumulative weight reaches half the
    // total. All integer: cents × integer-valued quantities.
    "q72_weighted_median" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pp = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("price_c"),
          col("l_quantity").cast("long").as("qty"))
        .groupBy(col("flag"), col("price_c"))
        .agg(sum(col("qty")).as("w"))
      val run = Window.partitionBy(col("flag")).orderBy(col("price_c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy(col("flag"))
      pp.withColumn("cum", sum(col("w")).over(run))
        .withColumn("tw", sum(col("w")).over(tot))
        .where(expr("2L * cum >= tw"))
        .groupBy(col("flag"))
        .agg(min(col("price_c")).as("wmedian_c"),
          max(col("tw")).as("total_qty"))
        .orderBy(col("flag"))
    }),

    // monthly revenue trend per brand: exact integer least-squares slope
    // components over (month index, monthly revenue cents) — numerator and
    // denominator kept as separate BIGINTs (slope = num/den) so no
    // division ever happens; trend is sign(num) since den > 0 whenever a
    // brand spans ≥2 months. x is months since 1995-01 (the data min),
    // which keeps n·Σxy ≈ 1e15 at sf0.1 and inside long headroom at
    // 1000×. Broadcast part join, one (brand, month) partial+final agg,
    // then a tiny per-brand rollup.
    "q70_trend" -> ((s, dir) => {
      val monthly = t(s, dir, "lineitem").as("l")
        .join(broadcast(t(s, dir, "part").as("p")),
          col("l.l_partkey") === col("p.p_partkey"))
        .select(col("p.p_brand").as("brand"),
          (year(col("l.l_shipdate")) * 12 + month(col("l.l_shipdate"))
            - lit(23941)).cast("long").as("x"),
          (col("l.l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        .groupBy(col("brand"), col("x"))
        .agg(sum(col("cents")).as("y"))
      monthly.groupBy(col("brand")).agg(
          count(lit(1)).as("n_months"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
        .select(col("brand"), col("n_months"),
          expr("n_months * sxy - sx * sy").as("slope_num"),
          expr("n_months * sxx - sx * sx").as("slope_den"),
          signum(expr("n_months * sxy - sx * sy")).cast("long").as("trend"))
        .orderBy(col("brand"))
    }),

    // market-basket co-purchase: top-100 part pairs by the number of
    // orders containing both ("frequently bought together"). Per-order
    // distinct item set self-joined within the order key — fan-out is
    // Σ k² over baskets, bounded by the ≤7-lineitem basket cap (real
    // carts are similarly capped), so the pair shuffle carries O(rows);
    // one hash shuffle on okey (exchange reused across both join sides),
    // one on the pair key, then a bounded TakeOrdered — no global sort
    "q69_copurchase" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"))
        .distinct()
      li.as("a").join(li.as("b"),
          col("a.okey") === col("b.okey") && col("a.pkey") < col("b.pkey"))
        .select(col("a.pkey").as("part_a"), col("b.pkey").as("part_b"))
        .groupBy(col("part_a"), col("part_b"))
        .agg(count(lit(1)).as("n_orders"))
        .where(col("n_orders") >= 2)
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
        .limit(100)
    }),

    // 2-D skyline (Pareto front) per priority class: orders not dominated
    // on (price, date) — the sorted-sweep formulation (two RANGE-frame
    // window minima) instead of the O(n²) self-join; the oracle IS the
    // O(n²) NOT EXISTS domination query, an independent formulation
    "q68_skyline" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders").select(
        col("o_orderpriority").as("priority"),
        col("o_orderkey").cast("long").as("okey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("price_c"),
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
          .as("day"))
      val cheaper = Window.partitionBy(col("priority"))
        .orderBy(col("price_c"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val samePrice = Window.partitionBy(col("priority"))
        .orderBy(col("price_c")).rangeBetween(0, 0)
      o.select(col("priority"), col("okey"), col("price_c"), col("day"),
          min(col("day")).over(cheaper).as("min_day_cheaper"),
          min(col("day")).over(samePrice).as("min_day_same"))
        .where((col("min_day_cheaper").isNull ||
            col("min_day_cheaper") > col("day")) &&
          col("min_day_same") >= col("day"))
        .select(col("priority"), col("okey"), col("price_c"), col("day"))
        .orderBy(col("priority"), col("okey"))
    }),

    // interval-union coverage per user (active-time metric): cummax sweep,
    // integer microseconds, overlapping intervals counted once
    "q67_interval_union" -> ((s, dir) =>
      graft.ops.EventOps.intervalUnion(t(s, dir, "events"))),

    // CDC ops-log apply: orders become a deterministic I/U/D change feed
    // against the customer balance snapshot — last op per key wins, one
    // window + one full-outer join
    "q65_cdc_apply" -> ((s, dir) => {
      val cents = (c: org.apache.spark.sql.Column) =>
        (c.cast("decimal(18,2)") * 100).cast("long")
      val snap = t(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("key"),
          cents(col("c_acctbal")).as("value"))
      val m = pmod(col("o_orderkey"), lit(10))
      val ops = t(s, dir, "orders").select(
        when(m <= 3, col("o_custkey"))
          .otherwise(col("o_custkey") + 10000000L).cast("long").as("key"),
        col("o_orderkey").cast("long").as("seq"),
        when(m === 0, "D").when(m <= 3, "U").otherwise("I").as("op"),
        cents(col("o_totalprice")).as("value"))
      graft.ops.MergeOps.cdcApply(snap, ops).orderBy(col("key"))
    }),

    // NTILE quartiles: equal-height buckets per market segment with a
    // deterministic (balance, custkey) ordering
    "q66_ntile_quartiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val bal = (col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("bal_c").asc, col("c_custkey").asc)
      t(s, dir, "customer")
        .select(col("c_mktsegment"), bal.as("bal_c"),
          col("c_custkey").cast("long").as("c_custkey"))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .groupBy(col("c_mktsegment"), col("quartile"))
        .agg(count(lit(1)).as("n_customers"),
          min(col("bal_c")).as("min_bal_c"),
          max(col("bal_c")).as("max_bal_c"))
        .orderBy(col("c_mktsegment"), col("quartile"))
    }),

    // bidirectional nearest-event join (as-of generalized to both
    // directions): every click matched to its temporally nearest purchase,
    // one sorted sweep, no self-join
    "q63_nearest_event" -> ((s, dir) =>
      graft.ops.EventOps.nearestEventJoin(t(s, dir, "events"))),

    // ORC interchange: write the documents projection to ORC, read it
    // back, and prove the round trip content-lossless via a rollup the
    // oracle computes from the parquet source directly (DuckDB never
    // reads the ORC bytes — equality IS the losslessness proof)
    "q64_orc_roundtrip" -> ((s, dir) => {
      val path = s"/tmp/graft_orc_${graft.SparkEntry.docCountFor(dir)}"
      t(s, dir, "documents").select("doc_id", "text", "source", "n_chars")
        .write.mode("overwrite").format("orc").save(path)
      s.read.format("orc").load(path)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(md5(col("text").cast("binary")))
            .as("n_distinct_texts"),
          min(md5(col("text").cast("binary"))).as("min_text_md5"),
          max(md5(col("text").cast("binary"))).as("max_text_md5"))
        .orderBy(col("source"))
    }),

    // hierarchical subtree rollup (BOM explosion shape): ancestor-chain
    // explode + one keyed agg — the non-iterative formulation of a
    // recursive-CTE aggregate
    "q62_tree_rollup" -> ((s, dir) =>
      graft.ops.GraphOps.treeRollup(t(s, dir, "documents"))),

    // ratio-to-report: each nation's share of its region's order revenue
    // (integer ppm) — broadcast dims, one keyed agg, one region window
    "q61_ratio_to_report" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rev = t(s, dir, "orders").as("o")
        .join(t(s, dir, "customer").as("c"),
          col("o.o_custkey") === col("c.c_custkey"))
        .join(broadcast(t(s, dir, "nation").as("n")),
          col("c.c_nationkey") === col("n.n_nationkey"))
        .join(broadcast(t(s, dir, "region").as("r")),
          col("n.n_regionkey") === col("r.r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("rev_c"))
      val w = Window.partitionBy(col("r_name"))
      rev.select(col("r_name"), col("n_name"), col("rev_c"),
          sum(col("rev_c")).over(w).as("region_rev_c"))
        .withColumn("share_ppm",
          expr("rev_c * 1000000L div region_rev_c"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // SCD Type-2 dimension build: signup events become half-open version
    // intervals via one lead() window — single shuffle, no self-join
    "q49_scd2_versions" -> ((s, dir) =>
      graft.ops.EventOps.scd2Versions(t(s, dir, "events"))),

    // calendar densify + forward fill over each user's active day span
    // (epoch-day integers; purchase totals cent-encoded)
    "q50_gapfill_daily" -> ((s, dir) =>
      graft.ops.EventOps.gapFillDaily(t(s, dir, "events"))),

    // ordered view→click→purchase funnel, 24h per-step conversion window,
    // via the secondary-sort single-pass state machine (no window funnel,
    // no per-step self-joins)
    "q51_funnel" -> ((s, dir) =>
      graft.ops.EventOps.funnel(t(s, dir, "events"))),

    // cohort retention: first-signup-week cohorts × distinct active weeks
    "q52_cohort_retention" -> ((s, dir) =>
      graft.ops.EventOps.cohortRetention(t(s, dir, "events"))),

    // tumbling-window rollup via the window() API (epoch-aligned 6h
    // buckets under the pinned-UTC session) — the batch twin of the
    // streaming windowed aggregation, one partial+final hash agg
    "q53_tumbling_windows" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts").cast("timestamp"), "6 hours"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          (sum(col("value").cast("decimal(18,2)")) * 100).cast("long")
            .as("sum_value_cents"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("event_type"), col("n_events"), col("sum_value_cents"))
        .orderBy(col("win_start_us"), col("event_type"))),

    // SLIDING windows (12h length, 6h slide): every event lands in exactly
    // two epoch-aligned windows; distinct-user counts per window — the
    // overlap means naive per-window reuse is impossible and the Expand
    // (×2 window assignment) happens map-side before the one shuffle
    "q55_sliding_windows" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts").cast("timestamp"), "12 hours", "6 hours"),
          col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("event_type"), col("n_users"), col("n_events"))
        .orderBy(col("win_start_us"), col("event_type")))
  ,

    // Iceberg-style copy-on-write snapshots + TIME TRAVEL: v1 committed,
    // v2 = read-latest → update/delete → commit; the query then reads v1
    // THROUGH ITS MANIFEST after v2 exists and rolls both up — isolation
    // of published snapshots is the thing under test
    "q54_time_travel" -> ((s, dir) => {
      val base = s"/tmp/graft_timetravel_${SparkEntry.docCountFor(dir)}"
      // fresh table: stale manifests from a prior run would make
      // readSnapshot(latest) resolve PAST the version being rebuilt (and
      // the v2 commit would then overwrite its own input)
      val bp = new org.apache.hadoop.fs.Path(base)
      val fs = bp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(bp)) fs.delete(bp, true)
      val v1 = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.io.TableIO.commitSnapshot(v1, base, 1)
      val v2 = graft.io.TableIO.readSnapshot(s, base) // latest = v1
        .where(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"), col("lang"),
          when(col("doc_id") % 5 === 0, col("n_chars") + 7L)
            .otherwise(col("n_chars")).as("n_chars"))
      graft.io.TableIO.commitSnapshot(v2, base, 2)
      def rollup(df: org.apache.spark.sql.DataFrame, v: Int) =
        df.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .select(lit(v).as("version"), col("lang"), col("n_docs"),
            col("sum_chars"))
      rollup(graft.io.TableIO.readSnapshot(s, base, Some(1)), 1)
        .unionByName(rollup(graft.io.TableIO.readSnapshot(s, base), 2))
        .orderBy(col("version"), col("lang"))
    }),

    // equi-depth histogram over order totals: exact decile boundaries via
    // the rank-over-distinct-values method (never a global row sort),
    // then one codegen'd bucketing pass — ANALYZE's histogram stat
    "q56_histogram" -> ((s, dir) =>
      graft.ops.ProfileOps.equiDepthHistogram(
        t(s, dir, "orders").select(
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("cents")),
        "cents")),

    // GDPR cascade delete: one delete list propagated by key through the
    // doc table and two derived tables (chunks, token postings), each
    // probed by a broadcast semi-join; per-table lineage rows audit the run
    "q57_cascade_delete" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val del = docs.where(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id"))
      graft.ops.MergeOps.cascadeDelete(del, "doc_id", Seq(
        ("documents", docs, "doc_id"),
        ("chunks", graft.ops.TextOps.chunkDocs(docs), "doc_id"),
        ("postings", graft.ops.CorpusOps.tokenTf(docs), "doc_id")))
    }),

    // incremental materialized-view maintenance: the per-user rollup MV is
    // built from the base slice (event_id % 5 != 0), the remaining rows are
    // the day's insert-only delta, and the merge (sum-add / greatest /
    // least over a full-outer key join) must equal the aggregate recomputed
    // over ALL events — which is exactly what the oracle computes, so any
    // drift in the fold fails the hash. Money stays exact through the
    // decimal-cents convention; max_ts as epoch micros.
    "q58_incremental_mv" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def mv(df: DataFrame) = df.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          (sum(col("value").cast("decimal(18,2)")) * 100).cast("long")
            .as("sum_value_cents"),
          max(unix_micros(col("ts").cast("timestamp"))).as("max_ts_us"),
          min(col("event_id")).as("min_event_id"))
      graft.ops.MergeOps.mergeAggState(
        mv(ev.where(pmod(col("event_id"), lit(5)) =!= 0)),
        mv(ev.where(pmod(col("event_id"), lit(5)) === 0)),
        keys = Seq("user_id"), sums = Seq("n_events", "sum_value_cents"),
        maxes = Seq("max_ts_us"), mins = Seq("min_event_id"))
        .orderBy(col("user_id"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    // bitmap-exact distinct re-derived from the raw rows: popcount-sum of
    // the packed words must equal count(DISTINCT user_id), word count =
    // distinct uid>>6
    "q97_bitmap_distinct" ->
      """SELECT event_type,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(count(DISTINCT user_id // 64) AS BIGINT) AS n_words,
         CAST(max(user_id // 64) AS BIGINT) AS max_word
         FROM events GROUP BY event_type ORDER BY event_type""",
    // explicit NULL-padded projections — the BY NAME semantics spelled out
    "q100_union_evolution" ->
      """WITH u AS (
           SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS price_cents,
             CAST(NULL AS VARCHAR) AS o_orderpriority
           FROM orders WHERE o_orderkey % 2 = 0
           UNION ALL
           SELECT o_orderkey, o_orderstatus, CAST(NULL AS BIGINT),
             o_orderpriority
           FROM orders WHERE o_orderkey % 2 = 1)
         SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           CAST(count(price_cents) AS BIGINT) AS n_with_price,
           CAST(count(o_orderpriority) AS BIGINT) AS n_with_priority,
           CAST(sum(price_cents) AS BIGINT) AS sum_price_cents
         FROM u GROUP BY 1 ORDER BY 1""",
    // native ASOF LEFT JOIN; same version table, same cent arithmetic
    "q99_scd2_pit_join" ->
      """WITH s AS (SELECT user_id, event_id, ts FROM events
                    WHERE event_type = 'signup'),
         p AS (SELECT user_id, event_id, ts,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
               FROM events WHERE event_type = 'purchase'),
         m AS (SELECT p.cents, s.event_id AS vid
               FROM p ASOF LEFT JOIN s
                 ON p.user_id = s.user_id AND p.ts >= s.ts)
         SELECT CAST(COALESCE(vid, -1) AS BIGINT) AS version_event_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM m GROUP BY 1 ORDER BY 1""",
    // strlen = bytes, length = codepoints in DuckDB; same planted suffix
    "q101_utf8_pin" ->
      """WITH d AS (SELECT lang,
             CASE WHEN doc_id % 5 = 0 THEN text || ' आधार कार्ड 123'
                  ELSE text END AS t2
           FROM documents)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(strlen(t2)) AS BIGINT) AS sum_bytes,
           CAST(sum(length(t2)) AS BIGINT) AS sum_chars,
           CAST(sum(CASE WHEN strlen(t2) <> length(t2) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_multibyte
         FROM d GROUP BY lang ORDER BY lang""",
    // layout-independent by construction: computed straight off events
    "q102_partition_evolution" ->
      """SELECT epoch_us(ts) // 86400000000 // 30 AS period,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
             AS BIGINT) AS sum_cents
         FROM events GROUP BY 1 ORDER BY 1""",
    // DuckDB: weekofyear is ISO too; dayofweek is 0=Sunday..6 → +1 aligns
    // with Spark's 1=Sunday..7
    "q98_calendar_pin" ->
      """SELECT CAST(weekofyear(ts) AS BIGINT) AS iso_week,
         CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS BIGINT) AS sum_cents
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q10_metrics_rollup" ->
      """SELECT event_type, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_cents,
         count(DISTINCT user_id) AS n_users
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q11_validity_split" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_price_cents
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q12_verify_antijoin" ->
      """SELECT count(*) AS orphan_orders FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)""",
    "q31_skew_salted_rollup" ->
      """WITH dim(event_type, weight) AS (VALUES ('click', 1), ('view', 2),
             ('purchase', 5), ('signup', 3), ('error', 4))
         SELECT e.event_type, count(*) AS n_events,
           CAST(sum(CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    * d.weight) AS BIGINT) AS weighted_value_cents
         FROM events e JOIN dim d USING (event_type)
         GROUP BY e.event_type ORDER BY e.event_type""",
    "q32_bloom_reduced_users" ->
      """WITH heavy AS (SELECT user_id FROM events
                        GROUP BY user_id HAVING count(*) >= 80)
         SELECT e.user_id, count(*) AS n_events
         FROM events e JOIN heavy USING (user_id)
         GROUP BY e.user_id ORDER BY e.user_id""",
    "q13_topk_docs" ->
      """SELECT doc_id, n_chars FROM documents
         ORDER BY n_chars DESC, doc_id ASC LIMIT 100""",
    "q14_broadcast_join" ->
      """SELECT n.n_name, count(*) AS n_customers,
         CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_acctbal_cents
         FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY n.n_name ORDER BY n.n_name""",
    "q15_window_seq" ->
      """SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
         FROM events ORDER BY user_id, seq""",
    "q17_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_items,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_c,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_price_c
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q18_top_customers" ->
      """SELECT c.c_custkey, count(*) AS n_orders,
         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_c
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY c.c_custkey ORDER BY sum_c DESC, c.c_custkey ASC LIMIT 50""",
    "q19_date_filter" ->
      """SELECT count(*) AS n_items,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_price_c
         FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-06-01'""",
    "q16_region_rollup" ->
      """SELECT r.r_name, count(DISTINCT c.c_custkey) AS n_customers
         FROM customer c
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         GROUP BY r.r_name ORDER BY r.r_name""",
    "q20_asof_attribution" ->
      """WITH p AS (SELECT user_id, ts, event_id FROM events
                    WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'click')
         SELECT p.event_id AS purchase_id, c.event_id AS click_id
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.user_id AND p.ts >= c.ts""",
    // the same GROUP BY ALL sugar, natively
    "q109_group_by_all" ->
      """SELECT source, lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY ALL ORDER BY source, lang""",
    // identical scalar chain natively (strpos = instr; DuckDB CAST of
    // boolean to INT yields 0/1 like Spark's)
    "q112_string_semantics" ->
      """SELECT doc_id,
           CAST(strpos(substring(text, 1, 40), ' ') AS BIGINT) AS first_space,
           split_part(substring(text, 1, 40), ' ', 2) AS second_word,
           lpad(lang, 6, '*') AS lang_pad,
           trim(lang, 'n') AS lang_trim,
           CAST(lang ILIKE 'EN%' AS INT) AS ilike_en,
           CAST(source LIKE 'src1!_%' ESCAPE '!' AS INT) AS esc_underscore,
           CAST(source LIKE 'src1_' AS INT) AS wild_underscore,
           repeat(lang, 2) AS lang_x2,
           reverse(source) AS source_rev
         FROM documents WHERE doc_id % 29 = 0 ORDER BY doc_id""",
    // same key set, DuckDB's default binary collation
    "q113_binary_collation" ->
      """WITH ks AS (
           SELECT DISTINCT upper(lang) AS k FROM documents
           UNION SELECT DISTINCT lower(lang) FROM documents
           UNION SELECT DISTINCT '_' || lang FROM documents
           UNION SELECT DISTINCT upper(lang) || '0' FROM documents
           UNION SELECT DISTINCT CAST(n_chars % 12 AS VARCHAR) FROM documents)
         SELECT CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS rk, k
         FROM ks ORDER BY rk""",
    // the one-partition formulation the engine must reproduce exactly
    "q116_dense_ids" ->
      """SELECT doc_id,
           CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS dense_id
         FROM documents WHERE doc_id % 7 <> 3 ORDER BY doc_id""",
    // the DIRECT full-outer row diff, no Merkle pruning — identical rows
    // prove the fingerprint drill-down lossless
    "q117_merkle_diff" ->
      """WITH l AS (SELECT doc_id, md5(text) AS h FROM documents),
         r0 AS (SELECT doc_id,
                  CASE WHEN doc_id % 389 = 11 THEN text || 'X' ELSE text END AS text
                FROM documents WHERE doc_id % 577 <> 23),
         r AS (SELECT doc_id, md5(text) AS h FROM r0
               UNION ALL
               SELECT doc_id + 1000000000, md5(text) FROM documents
               WHERE doc_id % 613 = 5)
         SELECT coalesce(l.doc_id, r.doc_id) AS doc_id,
           CASE WHEN l.doc_id IS NULL THEN 'missing_left'
                WHEN r.doc_id IS NULL THEN 'missing_right'
                ELSE 'changed' END AS status
         FROM l FULL OUTER JOIN r ON l.doc_id = r.doc_id
         WHERE l.doc_id IS NULL OR r.doc_id IS NULL OR l.h <> r.h
         ORDER BY doc_id""",
    // same ladder: round is natively ties-away-from-zero in both engines;
    // half-even is derived with integer CASE arithmetic (DuckDB has no
    // bround); // truncates toward zero like Spark's DIV; pmod is
    // rebuilt as ((x % y) + y) % y
    "q118_numeric_semantics" ->
      """WITH b AS (
           SELECT o_orderkey, CAST(o_orderkey % 997 AS BIGINT) AS k,
             CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE -1 END AS BIGINT)
               AS sign,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
           FROM orders WHERE o_orderkey % 61 = 0),
         v AS (SELECT *, sign * (2*k + 1) AS v2,
                 CAST(sign * (2*k + 1) AS DECIMAL(19,1)) * 0.5 AS vd
               FROM b)
         SELECT o_orderkey, k, sign,
           CAST(round(vd, 0) AS BIGINT) AS half_up,
           CAST(CASE WHEN k % 2 = 0 THEN sign * k
                     ELSE sign * (k + 1) END AS BIGINT) AS half_even,
           CAST(round(cents, -2) AS BIGINT) AS cents_hundreds,
           CAST(v2 // 7 AS BIGINT) AS idiv,
           CAST(v2 % 7 AS BIGINT) AS imod,
           CAST(((v2 % 7) + 7) % 7 AS BIGINT) AS pm,
           CAST(floor(vd) AS BIGINT) AS flr,
           CAST(ceil(vd) AS BIGINT) AS cl
         FROM v ORDER BY o_orderkey""",
    // json_extract_string is the text path; the correctly-rounded strtod
    // both engines use makes the double detour identical too
    "q123_json_bigint" ->
      """WITH j AS (
           SELECT o_orderkey,
             '{"id":' || CAST(9007199254740993 + o_orderkey AS VARCHAR)
               || ',"k":' || CAST(o_orderkey AS VARCHAR) || '}' AS js
           FROM orders WHERE o_orderkey % 23 = 0)
         SELECT o_orderkey,
           CAST(json_extract_string(js, '$.id') AS BIGINT) AS id_exact,
           CAST(CAST(json_extract_string(js, '$.id') AS DOUBLE) AS BIGINT)
             AS id_via_double,
           CAST(CAST(json_extract_string(js, '$.id') AS BIGINT) <>
                CAST(CAST(json_extract_string(js, '$.id') AS DOUBLE)
                     AS BIGINT) AS BIGINT) AS precision_lost,
           CAST(json_extract_string(js, '$.k') AS BIGINT) AS k_exact
         FROM j ORDER BY o_orderkey""",
    // list_sort pinned to Spark's fixed ASC/NULLS-FIRST; list_slice is
    // inclusive-end (Spark slice takes a LENGTH); Spark array_distinct
    // keeps one null, DuckDB list_distinct drops them — derived as
    // len(list_distinct)+has_null
    "q124_array_semantics" ->
      """WITH a AS (
           SELECT o_orderkey, [
             CAST(o_orderkey % 7 AS BIGINT),
             CASE WHEN o_orderkey % 3 = 0 THEN NULL
                  ELSE CAST(o_orderkey % 5 AS BIGINT) END,
             CAST(o_orderkey % 7 AS BIGINT),
             CASE WHEN o_orderkey % 4 = 0 THEN NULL
                  ELSE CAST(o_orderkey % 11 AS BIGINT) END] AS arr
           FROM orders WHERE o_orderkey % 19 = 0),
         s AS (SELECT o_orderkey, arr,
             list_sort(arr, 'ASC', 'NULLS FIRST') AS srt,
             CASE WHEN len(list_filter(arr, x -> x IS NULL)) > 0
                  THEN 1 ELSE 0 END AS has_null
           FROM a)
         SELECT o_orderkey,
           srt[1] AS s_first, srt[-1] AS s_last,
           CAST(list_position(arr, o_orderkey % 7) AS BIGINT) AS pos_dup,
           CAST(len(list_distinct(arr)) + has_null AS BIGINT) AS n_distinct,
           CAST(len(list_distinct(arr)) AS BIGINT) AS n_distinct_nonnull,
           CAST(coalesce(list_aggregate(
             list_filter(list_slice(srt, 2, 3), x -> x IS NOT NULL),
             'sum'), 0) AS BIGINT) AS slice_sum,
           CAST(has_null AS BIGINT) AS has_null
         FROM s ORDER BY o_orderkey""",
    // RE2 side of the pin: regexp_extract_all lengths count matches,
    // replace takes the 'g' flag and \2-style backreferences, lazy (.*?)
    // is supported (no lookarounds anywhere — RE2 has none), and
    // string_split_regex keeps leading/trailing empties like Java split
    "q125_regexp_semantics" ->
      """WITH b AS (SELECT o_orderkey,
             ' Order ' || CAST(o_orderkey AS VARCHAR) || ' for cust C' ||
             CAST(o_custkey AS VARCHAR) || ' prio ' || o_orderpriority ||
             ' ' AS s
           FROM orders WHERE o_orderkey % 29 = 0)
         SELECT o_orderkey,
           CAST(regexp_extract(s, '(\d+)', 1) AS BIGINT) AS first_num,
           CAST(len(regexp_extract_all(s, '\d+')) AS BIGINT) AS n_nums,
           CAST(length(regexp_extract(s, 'C(.*) ', 1)) AS BIGINT)
             AS greedy_len,
           CAST(length(regexp_extract(s, 'C(.*?) ', 1)) AS BIGINT)
             AS lazy_len,
           md5(regexp_replace(s, '(\w+) (\w+)', '\2 \1', 'g'))
             AS swapped_md5,
           CAST(len(regexp_extract_all(s, '(?i)o')) AS BIGINT) AS ci_o,
           CAST(len(regexp_extract_all(s, '\b\d+\b')) AS BIGINT) AS wb_nums,
           CAST(len(string_split_regex(s, '\s+')) AS BIGINT) AS split_n,
           CAST(length(regexp_replace(s, '\d+', '#', 'g')) AS BIGINT)
             AS masked_len
         FROM b ORDER BY o_orderkey""",
    // Spark semantics derived where the engines diverge: concat is
    // rebuilt with || (DuckDB's concat SKIPS NULLs, Spark's annihilates),
    // array_contains' has-null-and-absent→NULL rail is an explicit CASE
    // over list_contains, nvl2/array_join-with-replacement rebuilt from
    // CASE / list_transform+coalesce; everything else pins equal natively
    "q127_null_semantics" ->
      """WITH b AS (
           SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE 'v' END AS sv,
             CASE WHEN o_orderkey % 4 = 0 THEN NULL
                  ELSE CAST(o_orderkey % 7 AS BIGINT) END AS nv
           FROM orders WHERE o_orderkey % 11 = 0)
         SELECT o_orderkey,
           CASE WHEN sv IS NULL THEN NULL
                ELSE 'a' || sv || 'b' END AS cat,
           concat_ws('-', 'a', sv, 'b') AS cat_ws,
           sv || 'x' AS pipe_cat,
           least(nv, CAST(3 AS BIGINT)) AS least_skip,
           greatest(nv, CAST(3 AS BIGINT)) AS greatest_skip,
           least(nv, CAST(NULL AS BIGINT)) AS least_two,
           array_to_string(['x', sv, 'y'], ',') AS aj,
           array_to_string(list_transform(['x', sv, 'y'],
             z -> coalesce(z, '?')), ',') AS aj_repl,
           CAST(CASE WHEN list_contains(['a', sv], 'zz') THEN true
                     WHEN sv IS NULL THEN NULL
                     ELSE false END AS BIGINT) AS ac_missing,
           CAST(list_contains(['a', sv], 'a') AS BIGINT) AS ac_hit,
           CAST(nv = nv AS BIGINT) AS eq_null,
           CAST(nv IS NOT DISTINCT FROM nv AS BIGINT) AS eq_nullsafe,
           CAST(sv IS DISTINCT FROM 'v' AS BIGINT) AS isd,
           CAST((nv > 100) AND (o_orderkey < 0) AS BIGINT) AS tvl_and,
           CAST((nv > 100) OR (o_orderkey >= 0) AS BIGINT) AS tvl_or,
           CAST(nv > 100 AS BIGINT) AS tvl_null,
           CAST(NOT (nv > 100) AS BIGINT) AS tvl_not,
           CASE WHEN sv IS NULL THEN 'none' ELSE 'has' END AS nvl2_v,
           nullif(sv, 'v') AS nullif_v,
           (SELECT count(*) FROM orders WHERE o_orderkey < 0)
             AS empty_cnt,
           (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders
              WHERE o_orderkey < 0) AS empty_sum
         FROM b ORDER BY o_orderkey""",
    // IEEE facts pin natively; Spark policy is DERIVED as literals where
    // DuckDB diverges or raises: ln(0)/ln(<0)/sqrt(<0) RAISE in DuckDB
    // (Spark null/NaN-rails) → derived flags; sign(NaN)=0 here vs Spark's
    // NaN → literal 1; abs(-0.0) KEEPS the sign bit here ('-0.0') where
    // Spark clears it → literal '0.0'; sign() returns INTEGER here vs
    // Spark's DOUBLE → rendered literal '-1.0'. Plain `/` IS the NULL
    // rail in DuckDB (no try_divide needed); everything else pins equal
    "q128_float_semantics" ->
      """WITH c AS (
           SELECT o_orderkey, CAST(o_orderkey % 7 + 1 AS DOUBLE) AS v,
             CAST('NaN' AS DOUBLE) AS nan, CAST('Infinity' AS DOUBLE) AS inf,
             CAST(0 AS DOUBLE) AS zero, CAST('-0.0' AS DOUBLE) AS nz
           FROM orders WHERE o_orderkey % 31 = 0)
         SELECT o_orderkey,
           CAST(v / zero IS NULL AS BIGINT) AS div0_null,
           CAST(v / nz IS NULL AS BIGINT) AS divnz_null,
           CAST(nan = nan AS BIGINT) AS nan_self_eq,
           CAST(nan > inf AS BIGINT) AS nan_gt_inf,
           CAST(nz = zero AS BIGINT) AS negzero_eq,
           CAST(isnan(inf - inf) AS BIGINT) AS inf_minus_inf_nan,
           CAST(isnan(inf * zero) AS BIGINT) AS inf_times_zero_nan,
           CAST(v / inf = zero AS BIGINT) AS div_inf_zero,
           CAST(CAST(0.1 AS DOUBLE) + CAST(0.2 AS DOUBLE)
                = CAST(0.3 AS DOUBLE) AS BIGINT) AS tenth_sum_eq,
           CAST(1 AS BIGINT) AS ln0_null,
           CAST(1 AS BIGINT) AS ln_neg_null,
           CAST(exp(v * CAST(1000 AS DOUBLE)) = inf AS BIGINT) AS exp_ovf_inf,
           CAST(CAST(1e308 AS DOUBLE) * CAST(10 AS DOUBLE) = inf AS BIGINT)
             AS lit_ovf_inf,
           CAST(CAST(CAST(16777217 AS DOUBLE) AS FLOAT) AS BIGINT)
             AS f32_narrow,
           CAST(CAST(9007199254740993 AS DOUBLE) AS BIGINT) AS p53_round,
           CAST(1 AS BIGINT) AS sqrt_neg_nan,
           CAST(1 AS BIGINT) AS sign_nan_is_nan,
           CAST(sign(-v) AS BIGINT) || '.0' AS sign_neg_str,
           CAST(nz AS VARCHAR) AS negzero_str,
           '0.0' AS abs_negzero_str,
           CAST(power(inf, zero) = CAST(1 AS DOUBLE) AS BIGINT) AS pow_inf0_one,
           CAST(power(zero, zero) = CAST(1 AS DOUBLE) AS BIGINT) AS pow00_one,
           CAST(CASE WHEN isnan(nan) THEN v ELSE nan END AS BIGINT)
             AS nanvl_pick,
           CAST(isnan(greatest(v, nan)) AS BIGINT) AS greatest_nan,
           CAST(least(v, nan) AS BIGINT) AS least_picks_v,
           (SELECT CAST(count(DISTINCT x) AS BIGINT) FROM (VALUES
              (CAST(1 AS DOUBLE)), (CAST('NaN' AS DOUBLE)),
              (CAST('NaN' AS DOUBLE)), (CAST(0 AS DOUBLE)),
              (CAST('-0.0' AS DOUBLE))) t(x)) AS nd_group,
           (SELECT CAST(isnan(max(x)) AS BIGINT) FROM (VALUES
              (CAST(1 AS DOUBLE)), (CAST('NaN' AS DOUBLE)),
              (CAST(0 AS DOUBLE))) t(x)) AS max_is_nan,
           (SELECT CAST(min(x) = CAST(0 AS DOUBLE) AS BIGINT) FROM (VALUES
              (CAST(1 AS DOUBLE)), (CAST('NaN' AS DOUBLE)),
              (CAST(0 AS DOUBLE))) t(x)) AS min_skips_nan
         FROM c ORDER BY o_orderkey""",
    // modifier facts pin natively (tuple DISTINCT == Spark's struct
    // form, FILTER clauses, DISTINCT null-skip, string_agg ordering);
    // Spark policy derives where it diverges: multi-arg DISTINCT as
    // tuple-DISTINCT FILTERed fully-non-null, the null-dropping
    // collect_list as array_agg FILTER + ORDER BY, percentile_disc
    // as quantile_disc cast off the element type
    // symmetric oracle-side find: DuckDB crashes with an INTERNAL
    // shared_ptr error whenever a tuple-DISTINCT aggregate shares one
    // GROUP BY with ANY other aggregate over the same tuple (another
    // tuple-DISTINCT, a DISTINCT…FILTER, even plain count((a,v))) —
    // so each offender gets its own MATERIALIZED sub-aggregation,
    // exactly as the engine had to split for Spark's listagg/DISTINCT
    // ClassCastException: each engine breaks on a different modifier
    // combination
    "q138_agg_modifiers" ->
      """WITH b AS MATERIALIZED (
           SELECT o_orderkey % 13 AS g,
             nullif(CAST(o_orderkey % 7 AS BIGINT), 3) AS a,
             nullif(CAST(o_orderkey % 5 AS BIGINT), 2) AS v
           FROM orders WHERE o_orderkey % 11 = 0),
         m1 AS MATERIALIZED (SELECT g,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count((a, v)) AS BIGINT) AS c_struct,
           CAST(count(DISTINCT a) AS BIGINT) AS cd_a,
           CAST(sum(DISTINCT a) AS BIGINT) AS sd,
           round(avg(DISTINCT a), 6) AS ad,
           CAST(sum(a) FILTER (WHERE a > v) AS BIGINT) AS f_sum,
           CAST(count(*) FILTER (WHERE a IS NULL) AS BIGINT) AS f_nulls,
           string_agg(CAST(a AS VARCHAR), ','
             ORDER BY CAST(a AS VARCHAR)) AS la,
           string_agg(CAST(a AS VARCHAR), ',' ORDER BY a)
             FILTER (WHERE a IS NOT NULL) AS cl,
           CAST(quantile_disc(a, 0.5) AS BIGINT) AS pd
           FROM b GROUP BY g),
         m2 AS MATERIALIZED (SELECT g, CAST(count(DISTINCT (a, v)) AS BIGINT)
             AS cd_struct FROM b GROUP BY g),
         m3 AS MATERIALIZED (SELECT g, CAST(sum(DISTINCT a) FILTER (WHERE v > 0)
             AS BIGINT) AS sdf FROM b GROUP BY g),
         m4 AS MATERIALIZED (SELECT g, CAST(count(DISTINCT (a, v))
             FILTER (WHERE a IS NOT NULL AND v IS NOT NULL) AS BIGINT)
             AS cd_multi FROM b GROUP BY g)
         SELECT CAST(m1.g AS BIGINT) AS g, n, cd_multi, cd_struct,
           c_struct, cd_a, sd, ad, f_sum, f_nulls, sdf, la, cl, pd
         FROM m1 JOIN m2 ON m2.g = m1.g JOIN m3 ON m3.g = m1.g
           JOIN m4 ON m4.g = m1.g
         ORDER BY g""",
    // flatten facts pin natively where DuckDB has the surface (unnest
    // drops empty/null, element order, lateral correlation, slice
    // bounds); Spark's outer path derives via LEFT JOIN LATERAL, the
    // 0-based positions via generate_subscripts − 1, map explode from
    // the row's scalars crossed with an entry spine, stack padding and
    // inline_outer as literal rails
    "q137_explode_semantics" ->
      """WITH b AS (
           SELECT doc_id, lang, source,
             (regexp_split_to_array(trim(text), '\s+'))
               [1:CAST(doc_id % 4 AS INT)] AS arr
           FROM documents WHERE doc_id % 33 = 0),
         e AS (SELECT b.doc_id, b.lang, b.source, b.arr, u.tok, u.i
           FROM b LEFT JOIN LATERAL (SELECT unnest(arr) AS tok,
             generate_subscripts(arr, 1) AS i) u ON true)
         SELECT doc_id,
           CAST(i - 1 AS BIGINT) AS pos0,
           tok,
           CAST(g.mk AS BIGINT) AS mk,
           CASE WHEN g.mk = 1 THEN lang ELSE source END AS mv,
           CAST(len(arr) AS BIGINT) AS n_arr,
           CAST(0 AS BIGINT) AS empty_drops,
           CAST(0 AS BIGINT) AS null_drops,
           CAST(3 AS BIGINT) AS stack_rows,
           CAST(1 AS BIGINT) AS stack_nullpad,
           CAST(1 AS BIGINT) AS inline_outer_row
         FROM e CROSS JOIN (VALUES (1), (2)) g(mk)
         ORDER BY doc_id, pos0, mk""",
    // format facts pin natively through strftime's shared tables
    // (%A/%a/%B/%b names, %j, %I, %g millis, %y/%Y/%d/%H/%M/%S);
    // Spark-only surfaces derive: KK as hour%12 zero-padded, kk as the
    // 1–24 clock (00→24), QQQ assembled from quarter(), era literal,
    // D as ltrim of %j, dayofweek as DuckDB dow()+1, weekday as
    // isodow()−1
    "q136_datetime_format" ->
      """SELECT event_id,
           strftime(ts, '%A') AS wd_full,
           strftime(ts, '%a') AS wd_ab,
           strftime(ts, '%B') AS mon_full,
           strftime(ts, '%b') AS mon_ab,
           strftime(ts, '%j') AS doy_pad,
           CAST(CAST(strftime(ts, '%j') AS INT) AS VARCHAR) AS doy,
           strftime(ts, '%p') AS ampm,
           strftime(ts, '%I') AS h12,
           lpad(CAST(CAST(strftime(ts, '%H') AS INT) % 12 AS VARCHAR),
             2, '0') AS h12k,
           CASE WHEN strftime(ts, '%H') = '00' THEN '24'
                ELSE strftime(ts, '%H') END AS h24k,
           'Q' || CAST(quarter(ts) AS VARCHAR) AS q_fmt,
           'AD' AS era,
           strftime(ts, '%g') AS millis,
           strftime(ts, '%y|%Y|%d|%H|%M|%S') AS ymd,
           CAST(dayofweek(ts) + 1 AS BIGINT) AS dow_sun1,
           CAST(isodow(ts) - 1 AS BIGINT) AS wd_mon0
         FROM events WHERE user_id % 41 = 0 ORDER BY event_id""",
    // coercion facts pin natively (lazy CASE/coalesce/IN branch casts,
    // numeric string⟷number compare, lexicographic string⟷string,
    // string=bool, bool wire forms, int/decimal CASE, date coercions);
    // Spark policy DERIVED where DuckDB refuses the overload (k + '2',
    // unary minus on a string) or types differently (BIGINT literals,
    // (22,1) widening, array unification — literal typeof pins)
    "q135_coercion_ladder" ->
      """WITH b AS (
           SELECT o_orderkey, CAST(o_orderkey % 9 AS BIGINT) AS k,
             CAST(o_orderkey % 9 AS VARCHAR) AS ks
           FROM orders WHERE o_orderkey % 27 = 0)
         SELECT o_orderkey, k,
           CAST(CASE WHEN k >= 0 THEN k ELSE 'x' END AS BIGINT)
             AS case_lazy,
           'bigint' AS case_lit_type,
           CAST(coalesce(k, 'x') AS BIGINT) AS coalesce_lazy,
           CAST(k IN (k + 1, '7') AS BIGINT) AS in_mixed,
           CAST(ks = k AS BIGINT) AS eq_str_num,
           CAST('2' > 10 AS BIGINT) AS strnum_numeric,
           CAST('10' > '9' AS BIGINT) AS strstr_lex,
           CAST(k + 2 AS BIGINT) AS plus_str,
           CAST(-5.0 AS DOUBLE) AS neg_str,
           CAST('1' = true AS BIGINT) AS streq_bool,
           CAST(CAST('true' AS BOOLEAN) AS BIGINT) * 100 +
             CAST(CAST('t' AS BOOLEAN) AS BIGINT) * 10 +
             CAST(CAST('1' AS BOOLEAN) AS BIGINT) AS bool_wires,
           lower(typeof(CASE WHEN k >= 0 THEN 1 ELSE 2.5 END))
             AS case_dec_type,
           'decimal(22,1)' AS dec_big_type,
           'double' AS float_dec_type,
           'array<decimal(21,1)>' AS arr_unify_type,
           CAST(DATE '2024-01-02' = '2024-01-02' AS BIGINT)
             AS date_str_eq,
           CAST(DATE '2024-01-02' > TIMESTAMP '2024-01-01 23:00:00'
             AS BIGINT) AS date_ts_cmp,
           CAST(if(k >= 0, DATE '2024-01-02', '2024') AS VARCHAR)
             AS if_date_branch
         FROM b ORDER BY o_orderkey""",
    // case facts pin natively (accents, Cyrillic, Greek capitals,
    // dotless-ı, emoji codepoints, translate deletion, pad tiling);
    // Spark's JVM casing policy is DERIVED as chr()-built constructions
    // where DuckDB's Unicode tables diverge ('SS' expansion, i+combining
    // -dot, contextual final sigma, the titlecase digraph), initcap's
    // word rule as split/upper/lower-rest, substring_index via list
    // slicing, overlay via substr concat, 3-arg locate via strpos over
    // a suffix, and the negative left/right '' rail as literals
    "q134_unicode_case" ->
      """SELECT doc_id,
           'STRASSE' AS up_eszett,
           CAST(7 AS BIGINT) AS up_eszett_len,
           'i' || chr(775) || 'stanbul' AS low_dotted_i,
           CAST(9 AS BIGINT) AS low_dotted_len,
           upper(chr(305)) AS up_dotless,
           chr(963) || chr(962) AS final_sigma,
           upper(chr(963) || chr(962)) AS up_sigma,
           upper(chr(233) || 'cole') AS up_accent,
           lower(chr(1044) || chr(1054) || chr(1052)) AS low_cyrillic,
           chr(453) || 'ero' AS title_digraph,
           array_to_string(list_transform(
             string_split(lang || '-x ' || source || '_y 2x two  sp', ' '),
             w -> upper(substr(w, 1, 1)) || lower(substr(w, 2))), ' ')
             AS ic_b,
           '' AS neg_left,
           '' AS neg_right,
           CAST(CASE WHEN strpos(substr('abcabc', 3), 'b') = 0 THEN 0
                ELSE strpos(substr('abcabc', 3), 'b') + 2 END AS BIGINT)
             AS loc3,
           CAST(length(chr(128512) || 'abc') AS BIGINT) AS emoji_len,
           substring(chr(128512) || 'abc', 1, 2) AS emoji_sub,
           translate(source, 'rc', '#') AS translate_del,
           lpad(lang, 7, 'xy') AS pad_l,
           rpad(lang, 7, 'xy') AS pad_r,
           array_to_string(string_split(
             lang || '.' || source || '.' || lang || '.z', '.')[1:2], '.')
             AS ssi_pos,
           array_to_string(string_split(
             lang || '.' || source || '.' || lang || '.z', '.')[-2:], '.')
             AS ssi_neg,
           substr(source, 1, 1) || 'ZZ' || substr(source, 5) AS ovl
         FROM documents WHERE doc_id % 31 = 0 ORDER BY doc_id""",
    // composite facts pin natively (fieldwise order, prefix rule, struct
    // sorts, min/max/position/contains, struct-keyed map, tuple IN);
    // Spark's total-order-with-NULL-smallest inside composites, the
    // null-tuple IN false, and name-blind struct equality are literal
    // rails (DuckDB 3VL-nulls or type-errors them); greatest/least on
    // composites derive as comparison CASEs; sort_array's NULLS FIRST
    // derives via list_sort's explicit option
    "q133_composite_compare" ->
      """WITH b AS (
           SELECT o_orderkey,
             CAST(o_orderkey % 7 AS BIGINT) AS k1,
             CAST(o_orderkey % 7 + 10 AS BIGINT) AS k2,
             CAST(o_orderkey % 100 AS BIGINT) AS v1,
             CAST(o_orderkey % 31 AS BIGINT) AS v2
           FROM orders WHERE o_orderkey % 21 = 0)
         SELECT o_orderkey,
           CAST((k1, v1) < (k2, v2) AS BIGINT) AS s_cmp,
           CAST((k1, v1) < (k1, v1 + 1) AS BIGINT) AS s_tie,
           CAST(1 AS BIGINT) AS s_null_small,
           CAST(1 AS BIGINT) AS s_null_eq,
           CAST(1 AS BIGINT) AS a_null_eq,
           CAST([k1, v1] < [k1, v1, 0] AS BIGINT) AS a_prefix,
           CAST([k1 + 1, 0] < [k1, v1 + 9] AS BIGINT) AS a_first_wins,
           CAST((k1, v1) IN ((k1, v1), (k2, v2)) AS BIGINT) AS tup_in,
           CAST(0 AS BIGINT) AS tup_in_null,
           CAST(1 AS BIGINT) AS names_ignored,
           CAST(list_sort([v1, NULL, v2], 'ASC', 'NULLS FIRST')[1]
             IS NULL AS BIGINT) AS sortarr_nulls_first,
           CAST(list_sort([v1, NULL, v2])[3] IS NULL AS BIGINT)
             AS arrsort_nulls_last,
           array_to_string(list_transform(list_sort([
               {'a': k2, 'b': v2}, {'a': k1, 'b': v1},
               {'a': k1, 'b': v2}]),
             e -> CAST(e.a * 10000 + e.b AS VARCHAR)), ',')
             AS sorted_structs,
           CAST(list_min([{'a': k2, 'b': v1}, {'a': k1, 'b': v2}]).b
             AS BIGINT) AS min_struct_b,
           CAST(CASE WHEN (k1, v1) >= (k1, v2) THEN v1 ELSE v2 END
             AS BIGINT) AS greatest_struct_b,
           CASE WHEN [k1, v1] <= [k1] THEN
               CAST(k1 AS VARCHAR) || ',' || CAST(v1 AS VARCHAR)
             ELSE CAST(k1 AS VARCHAR) END AS least_arr,
           CAST(list_position([{'a': k1, 'b': v1}, {'a': k2, 'b': v2}],
             {'a': k2, 'b': v2}) AS BIGINT) AS pos_struct,
           CAST(list_contains([{'a': k1, 'b': v1}],
             {'a': k1, 'b': v1}) AS BIGINT) AS has_struct,
           (MAP([{'a': k1, 'b': v1}], [v2])[{'a': k1, 'b': v1}])[1]
             AS structkey_map
         FROM b ORDER BY o_orderkey""",
    // found en route: DuckDB array_to_string of an EMPTY list is NULL
    // where Spark array_join is '' — the empty-filter row coalesces.
    // map facts pin natively where DuckDB has the function (MAP
    // constructor insertion order, map_keys/values/entries,
    // map_concat order, cardinality, empty map); Spark policy DERIVED
    // elsewhere: missing-key lookup as (m[k])[1] off DuckDB's
    // empty-list return, map_contains_key via list_contains(map_keys),
    // the map HOFs (map_filter/transform_keys/transform_values) as
    // list_filter/list_transform over map_entries, map_zip_with and
    // str_to_map rebuilt from the row's k/v scalars
    "q132_map_semantics" ->
      """WITH b AS (
           SELECT o_orderkey,
             CAST(o_orderkey % 7 AS BIGINT) AS k1,
             CAST(o_orderkey % 7 + 10 AS BIGINT) AS k2,
             CAST(o_orderkey % 100 AS BIGINT) AS v1,
             CAST(o_orderkey % 31 AS BIGINT) AS v2
           FROM orders WHERE o_orderkey % 19 = 0),
         m AS (SELECT *, MAP([k2, k1], [v2, v1]) AS mm FROM b)
         SELECT o_orderkey,
           array_to_string(map_keys(mm), ',') AS keys_order,
           array_to_string(map_values(mm), ',') AS vals_order,
           array_to_string(list_transform(map_entries(mm),
             e -> CAST(e.key * 1000 + e.value AS VARCHAR)), ',')
             AS entries_packed,
           CAST(len(mm[999]) = 0 AS BIGINT) AS miss_null,
           CAST(len(mm[999]) = 0 AS BIGINT) AS try_miss_null,
           (mm[k1])[1] AS hit_v1,
           (mm[k2])[1] AS bracket_hit,
           CAST(list_contains(map_keys(mm), k1) AS BIGINT) AS has_k1,
           CAST(list_contains(map_keys(mm), 999) AS BIGINT)
             AS has_missing,
           CAST(cardinality(mm) AS BIGINT) AS card,
           CAST(cardinality(MAP([], [])) AS BIGINT) AS empty_size,
           coalesce(array_to_string(list_transform(
             list_filter(map_entries(mm), e -> e.value >= 50),
             e -> CAST(e.key * 1000 + e.value AS VARCHAR)), ','), '')
             AS filtered,
           array_to_string(list_transform(map_entries(mm),
             e -> e.value + e.key), ',') AS tv,
           array_to_string(list_transform(map_entries(mm),
             e -> e.key * 2), ',') AS tk,
           CAST(k1 * 1000 + v1 AS VARCHAR) || ',' ||
             CAST(k2 * 1000 + v2 AS VARCHAR) AS zipped,
           array_to_string(map_keys(map_concat(
             MAP([k2], [v2]), MAP([k1], [v1]))), ',') AS concat_order,
           CAST(v2 AS VARCHAR) AS stm_b,
           CAST((MAP([k1], [CAST(NULL AS BIGINT)])[k1])[1] IS NULL
             AS BIGINT) AS nullval_null
         FROM m ORDER BY o_orderkey""",
    // bit facts pin natively (& | ~ >> getbit-derivation hex bin unhex
    // base64 md5 sha256); Spark policy is DERIVED where DuckDB raises or
    // lacks the function: shiftleft rebuilt with HUGEINT mod-2^64
    // arithmetic (DuckDB << raises on negative operands AND overflow),
    // shiftrightunsigned as (x>>m) & (2^(64-m)−1), conv(hex,16,10) as
    // the unsigned HUGEINT rendering, xor() for ^ (DuckDB ^ is POWER),
    // and the shift-amount wrap / MIN%−1 / bit_count-INT-promotion /
    // crc32 rails as literals
    "q131_bit_semantics" ->
      """WITH b AS (
           SELECT o_orderkey,
             CAST(o_orderkey * 2654435761 AS BIGINT) % 4503599627370496
               - 2251799813685248 AS x,
             CAST(o_orderkey % 8 AS INT) AS k,
             CAST(o_orderkey % 7 + 1 AS INT) AS m
           FROM orders WHERE o_orderkey % 23 = 0),
         u AS (SELECT *,
             CASE WHEN x < 0 THEN CAST(x AS HUGEINT)
                    + CAST('18446744073709551616' AS HUGEINT)
                  ELSE CAST(x AS HUGEINT) END AS ux
           FROM b),
         d AS (SELECT *,
             (ux * (CAST(1 AS HUGEINT) << k))
               % CAST('18446744073709551616' AS HUGEINT) AS slu
           FROM u)
         SELECT o_orderkey, x, CAST(k AS BIGINT) AS k,
           CAST(m AS BIGINT) AS m,
           CAST(CASE WHEN slu >= CAST('9223372036854775808' AS HUGEINT)
                THEN slu - CAST('18446744073709551616' AS HUGEINT)
                ELSE slu END AS BIGINT) AS sl,
           x >> m AS sr,
           (x >> m) & CAST((CAST(1 AS HUGEINT) << (64 - m)) - 1 AS BIGINT)
             AS srl,
           x & CAST(255 AS BIGINT) AS band,
           x | CAST(255 AS BIGINT) AS bor,
           xor(x, CAST(255 AS BIGINT)) AS bxor,
           ~x AS bnot,
           CAST(bit_count(x) AS BIGINT) AS bc,
           CAST(64 AS BIGINT) AS bc_int_promote,
           (x >> m) & CAST(1 AS BIGINT) AS gb,
           hex(x) AS hx,
           hex(unhex(hex(x))) AS hx_rt,
           bin(x & CAST(255 AS BIGINT)) AS bn,
           to_base64(CAST(hex(x) AS BLOB)) AS b64,
           CAST(from_base64(to_base64(CAST(hex(x) AS BLOB))) AS VARCHAR)
             AS b64_rt,
           CAST(ux AS VARCHAR) AS cv16,
           CAST(1 AS BIGINT) AS sl64,
           CAST(2 AS BIGINT) AS sl65,
           CAST(-9223372036854775807 - 1 AS BIGINT) AS slneg,
           CAST(2 AS BIGINT) AS sl33_int,
           CAST(-4 AS BIGINT) AS sr65,
           CAST(0 AS BIGINT) AS minmod,
           CAST(1 AS BIGINT) AS ta_null,
           CAST(1 AS BIGINT) AS ts_null,
           CAST(891568578 AS BIGINT) AS crc,
           md5('abc') AS md,
           sha256('abc') AS sh,
           hex(unhex('F')) AS odd_unhex
         FROM d ORDER BY o_orderkey""",
    // moment/regression facts pin natively; Spark policy is DERIVED
    // where the engines diverge: skewness/kurtosis are rebuilt as
    // two-pass POPULATION moments (m3/m2^1.5, m4/m2²−3) from an avg-join
    // because DuckDB's are sample-corrected, skew2/kurt3 are literal
    // Spark rails ('0.0'/'-1.5') where DuckDB's sample formulas need
    // n≥3/n≥4 and null-rail, regr_count is CAST off UINTEGER, every/any
    // route through bool_and/bool_or, and everything accumulated is
    // round(,6)-railed on both sides (last-ulp merge-order noise)
    "q130_stat_aggregates" ->
      """WITH b AS (
           SELECT o_orderkey % 17 AS g,
             CAST(o_orderkey % 83 AS DOUBLE) AS x,
             CAST(3 * (o_orderkey % 83) + (o_orderkey % 29) AS DOUBLE) AS y
           FROM orders WHERE o_orderkey % 3 = 0),
         m AS (SELECT g, avg(x) AS mu FROM b GROUP BY g),
         mm AS (SELECT b.g,
             avg(pow(b.x - m.mu, 2)) AS m2,
             avg(pow(b.x - m.mu, 3)) AS m3,
             avg(pow(b.x - m.mu, 4)) AS m4
           FROM b JOIN m USING (g) GROUP BY b.g)
         SELECT CAST(b.g AS BIGINT) AS g,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(x), 6) AS avg_x,
           round(var_samp(x), 6) AS vs_x,
           round(var_pop(x), 6) AS vp_x,
           round(stddev_samp(x), 6) AS sd_x,
           round(stddev_pop(x), 6) AS sdp_x,
           round(covar_samp(x, y), 6) AS cvs,
           round(covar_pop(x, y), 6) AS cvp,
           round(corr(x, y), 6) AS r,
           round(max(mm.m3) / pow(max(mm.m2), 1.5), 6) AS skew_pop,
           round(max(mm.m4) / (max(mm.m2) * max(mm.m2)) - 3, 6)
             AS kurt_pop,
           round(regr_slope(y, x), 6) AS slope,
           round(regr_intercept(y, x), 6) AS icept,
           round(regr_r2(y, x), 6) AS r2,
           CAST(regr_count(y, x) AS BIGINT) AS rn,
           round(regr_avgx(y, x), 6) AS ravgx,
           round(regr_avgy(y, x), 6) AS ravgy,
           round(regr_sxx(y, x), 1) AS rsxx,
           round(regr_syy(y, x), 1) AS rsyy,
           round(regr_sxy(y, x), 1) AS rsxy,
           round(median(x), 6) AS med_x,
           CAST(count_if(x > y / 4) AS BIGINT) AS cif,
           CAST(bool_and(y >= x) AS BIGINT) AS evr,
           CAST(bool_or(x > 80) AS BIGINT) AS anyv,
           (SELECT CAST(var_samp(v) IS NULL AS BIGINT) FROM (VALUES
              (CAST(1 AS DOUBLE))) t(v)) AS vs1_null,
           (SELECT CAST(var_pop(v) AS BIGINT) FROM (VALUES
              (CAST(1 AS DOUBLE))) t(v)) AS vp1_zero,
           (SELECT CAST(corr(a, c) IS NULL AS BIGINT) FROM (VALUES
              (CAST(1 AS DOUBLE), CAST(2 AS DOUBLE))) t(a, c))
             AS corr1_null,
           (SELECT CAST(covar_pop(a, c) AS BIGINT) FROM (VALUES
              (CAST(1 AS DOUBLE), CAST(2 AS DOUBLE))) t(a, c))
             AS cvp1_zero,
           '0.0' AS skew2,
           '-1.5' AS kurt3,
           (SELECT CAST(regr_slope(c, a) IS NULL AS BIGINT) FROM (VALUES
              (CAST(1 AS DOUBLE), CAST(5 AS DOUBLE)),
              (CAST(1 AS DOUBLE), CAST(6 AS DOUBLE))) t(a, c))
             AS slope_vert_null,
           (SELECT round(regr_r2(c, a), 6) FROM (VALUES
              (CAST(1 AS DOUBLE), CAST(5 AS DOUBLE)),
              (CAST(2 AS DOUBLE), CAST(5 AS DOUBLE))) t(a, c))
             AS r2_flat_one,
           (SELECT CAST(mode(v) AS BIGINT) FROM (VALUES
              (1), (2), (2), (3)) t(v)) AS mode_uniq
         FROM b JOIN mm ON mm.g = b.g GROUP BY b.g ORDER BY b.g""",
    // decimal facts pin natively (add/mul/mod digits, round ties away
    // from zero, try_cast overflow NULL, ÷0 NULL through DuckDB's
    // double-promoting `/`); Spark policy is DERIVED where the engines
    // diverge: the (19,8) HALF_UP quotient is rebuilt digit-exactly from
    // BIGINT arithmetic ((2·a·10⁹ + b) // (2·b) over the scaled-integer
    // operands — DuckDB's own decimal division promotes to DOUBLE), the
    // scale-down casts route through round() because DuckDB's cast
    // TRUNCATES where Spark rounds HALF_UP, result types that Spark
    // sizes differently (p1+p2+1 mul, p+10 sum, (p+4,s+4) avg, the
    // precision-loss (38,9)/(38,6) clamps, decimal(2,1) literal add,
    // and round(DECIMAL(5,3),1) → decimal(4,1): Spark shrinks round's
    // precision to the exact p−s+d+1 bound where DuckDB keeps p) are
    // literal pins, the (38,10)+(38,10) sum is the literal Spark rounds
    // to (DuckDB's exact …99.9999999998 would keep the final 8), and
    // big_mul_null is literal 1 because DuckDB RAISES on the overflow
    // Spark's try_multiply NULL-rails
    "q129_decimal_ladder" ->
      """WITH c AS (
           SELECT o_orderkey,
             CAST(concat(CAST(o_orderkey % 37 + 1 AS VARCHAR), '.',
               lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0'))
               AS DECIMAL(10,2)) AS a,
             CAST(concat(CAST(o_orderkey % 7 + 1 AS VARCHAR), '.',
               lpad(CAST(o_orderkey % 1000 AS VARCHAR), 3, '0'))
               AS DECIMAL(5,3)) AS b,
             (o_orderkey % 37 + 1) * 100 + o_orderkey % 100 AS ai,
             (o_orderkey % 7 + 1) * 1000 + o_orderkey % 1000 AS bi
           FROM orders WHERE o_orderkey % 29 = 0),
         d AS (SELECT *,
             (2 * ai * 1000000000 + bi) // (2 * bi) AS r8 FROM c)
         SELECT o_orderkey,
           CAST(a AS VARCHAR) AS a_str, CAST(b AS VARCHAR) AS b_str,
           lower(typeof(a + b)) AS add_type,
           CAST(a + b AS VARCHAR) AS add_str,
           'decimal(16,5)' AS mul_type,
           CAST(a * b AS VARCHAR) AS mul_str,
           'decimal(19,8)' AS div_type,
           CAST(r8 // 100000000 AS VARCHAR) || '.' ||
             lpad(CAST(r8 % 100000000 AS VARCHAR), 8, '0') AS div_str,
           'decimal(5,3)' AS mod_type,
           CAST(a % b AS VARCHAR) AS mod_str,
           CAST((0 - a) % b AS VARCHAR) AS negmod_str,
           CAST(CAST(round(b, 1) AS DECIMAL(12,1)) AS VARCHAR)
             AS castdown_str,
           CAST(CAST(round(0 - b, 1) AS DECIMAL(12,1)) AS VARCHAR)
             AS neg_castdown_str,
           CAST(0.1 + 0.2 = 0.3 AS BIGINT) AS dec_exact,
           'decimal(2,1)' AS lit_add_type,
           'decimal(4,1)' AS round_type,
           CAST(round(b, 1) AS VARCHAR) AS round_str,
           CAST(a / CAST(0 AS DECIMAL(5,3)) AS VARCHAR) AS div0_str,
           CAST(try_cast(CAST(123.45 AS DECIMAL(10,2)) AS DECIMAL(4,2))
             IS NULL AS BIGINT) AS ovf_cast_null,
           'decimal(38,9)' AS big_add_type,
           '200000000000000000000000000.000000000' AS big_add_str,
           CAST(1 AS BIGINT) AS big_mul_null,
           'decimal(38,6)' AS loss_mul_type,
           CAST(CAST(3.75 AS DECIMAL(38,6)) AS VARCHAR) AS loss_mul_str,
           'decimal(20,2)' AS sum_type,
           (SELECT CAST(sum(x) AS VARCHAR) FROM (VALUES
              (CAST(1.25 AS DECIMAL(10,2))), (CAST(2.25 AS DECIMAL(10,2))))
              t(x)) AS sum_str,
           'decimal(14,6)' AS avg_type,
           CAST(CAST(1.755 AS DECIMAL(14,6)) AS VARCHAR) AS avg_str
         FROM d ORDER BY o_orderkey""",
    // Spark semantics DERIVED from DuckDB primitives where they diverge:
    // strict-integer regexp gate before the BIGINT cast (DuckDB's would
    // round '4.9'→5 and accept '0x1A'/'1_000'), an underscore guard on
    // the double/decimal paths, and explicit NaN→0 / ±Long-clamp CASEs
    // reproducing the JVM (long) rail DuckDB null-rails on
    "q126_cast_ladder" ->
      """WITH b AS (SELECT o_orderkey, ([
             ' 42 ', '+7', '-0', '1e3', '.5', '0x1A',
             '99999999999999999999', '4.9', '-4.9', '', 'nan', '-Infinity',
             '1_000', '7.0', ' +8.25 ', '2.345'])
             [CAST(o_orderkey % 16 + 1 AS INT)] AS wire
           FROM orders WHERE o_orderkey % 13 = 0),
         d AS (SELECT o_orderkey, wire,
             CASE WHEN contains(wire, '_') THEN NULL
                  ELSE try_cast(wire AS DOUBLE) END AS dv,
             CASE WHEN contains(wire, '_') THEN NULL
                  ELSE try_cast(wire AS DECIMAL(12,2)) END AS dec FROM b)
         SELECT o_orderkey, wire,
           CASE WHEN regexp_matches(trim(wire), '^[+-]?[0-9]+$')
                THEN try_cast(wire AS BIGINT) END AS big,
           CASE WHEN dv IS NULL THEN NULL
                WHEN isnan(dv) THEN 0
                WHEN dv >= 9223372036854775807 THEN 9223372036854775807
                WHEN dv <= -9223372036854775808 THEN -9223372036854775808
                ELSE try_cast(floor(dv) AS BIGINT) END AS dbl_floor,
           CAST(coalesce(isnan(dv), false) AS BIGINT) AS dbl_nan,
           CAST(coalesce(isinf(dv), false) AS BIGINT) AS dbl_inf,
           CAST(dec * 100 AS BIGINT) AS dec_cents
         FROM d ORDER BY o_orderkey""",
    // interval month addition clamps identically (verified Jan-31+1m →
    // Feb-29 forward/backward/cross-year); strictly-next-Monday is
    // rebuilt from isodow since DuckDB has no next_day
    "q122_date_arith" ->
      """WITH b AS (
           SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
           FROM orders WHERE o_orderkey % 29 = 0),
         e AS (SELECT o_orderkey, d, last_day(d) AS eom FROM b)
         SELECT o_orderkey, CAST(d AS VARCHAR) AS d_iso,
           CAST(eom AS VARCHAR) AS eom,
           CAST(CAST(eom + INTERVAL 1 MONTH AS DATE) AS VARCHAR)
             AS eom_plus1m,
           CAST(CAST(eom + INTERVAL 13 MONTH AS DATE) AS VARCHAR)
             AS eom_plus13m,
           CAST(CAST(eom - INTERVAL 1 MONTH AS DATE) AS VARCHAR)
             AS eom_minus1m,
           CAST(d + CAST((7 - isodow(d)) % 7 + 1 AS INTEGER) AS VARCHAR)
             AS next_monday,
           CAST(d + 45 AS VARCHAR) AS plus45d,
           CAST(date_diff('day', d, eom) AS BIGINT) AS days_to_eom
         FROM e ORDER BY o_orderkey""",
    // identical frames natively; epoch_us//1000000 replaces unix_seconds
    // (epoch() is a fractional DOUBLE and DuckDB's double→BIGINT cast
    // ROUNDS where Spark truncates — integer-only arithmetic sidesteps
    // the whole class); CAST(count(*) ...) keeps peers BIGINT
    "q121_frame_semantics" ->
      """WITH e AS (
           SELECT event_id, user_id,
             CAST(epoch_us(ts) // 1000000 // 86400 % 7 AS BIGINT) AS dow,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM events WHERE user_id % 13 = 0)
         SELECT event_id, user_id, dow, cents,
           CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY dow, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS run_rows,
           CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY dow
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS run_range,
           CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY dow
             RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS band_range,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY dow
             RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) AS peers
         FROM e ORDER BY user_id, dow, event_id""",
    // same delete/insert file derivation; the MoR application is rebuilt
    // as NOT EXISTS anti-semantics over both delete kinds
    "q120_merge_on_read" ->
      """WITH base AS (SELECT doc_id, doc_id // 100 AS file_id,
             doc_id % 100 AS pos, n_chars, 'base' AS origin FROM documents),
         eqd AS (SELECT doc_id FROM base WHERE doc_id % 37 = 0),
         posd AS (SELECT file_id, pos FROM base WHERE doc_id % 41 = 0),
         ins AS (SELECT doc_id + 10000000 AS doc_id,
             CAST(-1 AS BIGINT) AS file_id, CAST(-1 AS BIGINT) AS pos,
             n_chars, 'insert' AS origin FROM base WHERE doc_id % 53 = 0),
         kept AS (SELECT b.* FROM base b
           WHERE NOT EXISTS (SELECT 1 FROM posd p
                   WHERE p.file_id = b.file_id AND p.pos = b.pos)
             AND NOT EXISTS (SELECT 1 FROM eqd e
                   WHERE e.doc_id = b.doc_id))
         SELECT doc_id, CAST(file_id AS BIGINT) AS file_id,
           CAST(pos AS BIGINT) AS pos, n_chars, origin
         FROM (SELECT * FROM kept UNION ALL SELECT * FROM ins)
         ORDER BY doc_id""",
    // same five wire formats via strftime, same ordered ladder via
    // try_strptime (verified strict: no pattern accepts another format's
    // string); %-d/%-m are the unpadded forms matching Spark's d/M
    "q119_date_parse" ->
      """WITH b AS (
           SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
             CAST(o_orderkey % 5 AS BIGINT) AS fmt
           FROM orders WHERE o_orderkey % 13 = 0),
         r AS (SELECT *, CASE fmt
             WHEN 0 THEN strftime(d, '%d/%m/%Y')
             WHEN 1 THEN strftime(d, '%Y-%m-%d')
             WHEN 2 THEN strftime(d, '%b %-d, %Y')
             WHEN 3 THEN strftime(d, '%Y%m%d')
             ELSE strftime(d, '%-d.%-m.%Y') END AS raw FROM b),
         p AS (SELECT *, CAST(coalesce(
             try_strptime(raw, '%d/%m/%Y'), try_strptime(raw, '%Y-%m-%d'),
             try_strptime(raw, '%b %-d, %Y'), try_strptime(raw, '%Y%m%d'))
             AS DATE) AS parsed FROM r)
         SELECT o_orderkey, fmt, raw,
           CAST(parsed AS VARCHAR) AS parsed_iso,
           CAST(coalesce(parsed = d, false) AS BIGINT) AS roundtrip_ok,
           CAST(CASE WHEN fmt = 0 AND day(d) <= 12 AND day(d) <> month(d)
                THEN 1 ELSE 0 END AS BIGINT) AS ambiguous,
           CAST(CASE WHEN fmt = 0 THEN coalesce(date_diff('day', d,
                  CAST(try_strptime(raw, '%m/%d/%Y') AS DATE)), 0)
                ELSE 0 END AS BIGINT) AS misparse_days
         FROM p ORDER BY o_orderkey""",
    // identical ladder natively (epoch_us / make_timestamp / date_trunc)
    "q115_epoch_roundtrip" ->
      """SELECT event_id, epoch_us(ts) AS us,
           CAST(hour(make_timestamp(epoch_us(ts))) AS INT) AS h_rt,
           epoch_us(date_trunc('second', ts)) AS us_sec,
           epoch_us(date_trunc('millisecond', ts)) AS us_ms
         FROM events WHERE event_id % 97 = 0 ORDER BY event_id""",
    // same instants via explicit-zone AT TIME ZONE chains (naive → UTC
    // instant → target wall clock), no session-timezone dependence
    "q114_timezone_dst" ->
      """WITH sh AS (SELECT ts + INTERVAL 69 DAY AS ts2 FROM events)
         SELECT CAST(hour((ts2 AT TIME ZONE 'UTC')
                  AT TIME ZONE 'America/New_York') AS INT) AS h_ny,
                CAST(hour((ts2 AT TIME ZONE 'UTC')
                  AT TIME ZONE 'Asia/Kolkata') AS INT) AS h_kolkata,
                count(*) AS n
         FROM sh GROUP BY 1, 2 ORDER BY 1, 2""",
    // the one-level formulation: lead() over every landed id — the answer
    // the two-level block computation must reproduce exactly
    "q110_missing_ranges" ->
      """WITH landed AS (SELECT doc_id FROM documents
           WHERE NOT (doc_id % 1000 >= 430 AND doc_id % 1000 < 440)
             AND doc_id % 97 <> 13),
         g AS (SELECT doc_id, lead(doc_id) OVER (ORDER BY doc_id) AS nxt
               FROM landed)
         SELECT doc_id + 1 AS gap_start, nxt - 1 AS gap_end
         FROM g WHERE nxt - doc_id > 1 ORDER BY gap_start""",
    // identical digit extraction off the decimal string; // truncation
    // equals div on positive counts
    "q111_benford" ->
      """WITH v AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT) AS c FROM orders WHERE o_totalprice > 0),
         d AS (SELECT substr(CAST(c AS VARCHAR), 1, 1) AS digit FROM v),
         n AS (SELECT digit, count(*) AS n FROM d GROUP BY 1)
         SELECT digit, n,
           CAST(n * 1000000 // (SELECT sum(n) FROM n) AS BIGINT) AS ppm
         FROM n ORDER BY digit""",
    // the good rows alone (same %3 slice straight off documents) — the
    // planted corrupt object must contribute nothing
    "q108_corrupt_skip" ->
      """SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE doc_id % 3 = 0
         GROUP BY lang ORDER BY lang""",
    // DuckDB's quantile_cont on the same cents — interpolated×4 is an
    // exact integer in both engines (dyadic quartile positions)
    "q106_percentile_cont_pin" ->
      """SELECT o_orderstatus,
           CAST(quantile_cont(cents, 0.25) * 4 AS BIGINT) AS q25_x4,
           CAST(quantile_cont(cents, 0.50) * 4 AS BIGINT) AS q50_x4,
           CAST(quantile_cont(cents, 0.75) * 4 AS BIGINT) AS q75_x4
         FROM (SELECT o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents FROM orders)
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // v3 state re-derived from documents (drop %13, then +11 where %7);
    // the expiry counters are the contract's constants: 3 commits − 2
    // kept = 1 manifest expired = 1 orphan dir deleted
    "q107_snapshot_expiry" ->
      """SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN doc_id % 7 = 0 THEN n_chars + 11
                    ELSE n_chars END) AS BIGINT) AS sum_chars,
           CAST(1 AS BIGINT) AS n_expired,
           CAST(1 AS BIGINT) AS n_orphan_dirs_deleted
         FROM documents WHERE doc_id % 13 <> 0
         GROUP BY lang ORDER BY lang""",
    // identical integer recurrence replayed via recursive CTE: rn-ordered
    // per user, s1 = cents, s_t = (cents + 7·s_{t−1}) // 8 (floor == the
    // engine's floorDiv on the non-negative cents domain)
    "q104_ewma_scan" ->
      """WITH RECURSIVE e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM events),
         r AS (SELECT user_id, cents, row_number() OVER (
             PARTITION BY user_id ORDER BY us, event_id) AS rn FROM e),
         w AS (SELECT user_id, rn, cents AS s FROM r WHERE rn = 1
               UNION ALL
               SELECT r2.user_id, r2.rn, (r2.cents + 7 * w.s) // 8
               FROM w JOIN r r2
                 ON r2.user_id = w.user_id AND r2.rn = w.rn + 1),
         mx AS (SELECT user_id, max(rn) AS n_events FROM r GROUP BY user_id)
         SELECT m.user_id, CAST(m.n_events AS BIGINT) AS n_events,
           CAST(w.s AS BIGINT) AS last_ewma_cents
         FROM mx m JOIN w ON w.user_id = m.user_id AND w.rn = m.n_events
         ORDER BY m.user_id""",

    // native ASOF LEFT JOIN, then the staleness SLA nulls the match —
    // identical inclusive boundary (exactly 30 min old still matches)
    "q103_asof_tolerance" ->
      """WITH p AS (SELECT user_id, ts, event_id FROM events
                    WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'click')
         SELECT p.event_id AS purchase_id,
           CASE WHEN p.ts - c.ts <= INTERVAL 30 MINUTE
                THEN c.event_id END AS click_id
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.user_id AND p.ts >= c.ts""",
    "q23_range_attribution" ->
      """WITH p AS (SELECT user_id, ts, event_id FROM events
                    WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'click')
         SELECT p.event_id AS purchase_id, c.event_id AS click_id
         FROM p JOIN c ON p.user_id = c.user_id
           AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts""",
    "q21_mixture_rollup" ->
      """SELECT source, lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY ROLLUP (source, lang)""",
    "q22_dedup_drop_list" ->
      """WITH aug AS (SELECT doc_id, text FROM documents
                      UNION ALL SELECT doc_id + 10000, text FROM documents)
         SELECT doc_id FROM aug
         EXCEPT
         SELECT min(doc_id) FROM aug GROUP BY md5(text)""",
    "q24_sessionize" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         f AS (SELECT user_id, event_id, us,
             CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                    IS NULL
                  OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                    > 43200000000
             THEN 1 ELSE 0 END AS new_sess FROM ev),
         g AS (SELECT user_id, event_id, us,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM f)
         SELECT user_id, session_idx, count(*) AS n_events,
                max(us) - min(us) AS duration_us,
                min(event_id) AS min_event_id
         FROM g GROUP BY user_id, session_idx ORDER BY user_id, session_idx""",
    "q25_percentiles" ->
      """WITH o AS (SELECT o_orderstatus AS st,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             o_orderkey FROM orders),
         r AS (SELECT st, cents,
             row_number() OVER (PARTITION BY st ORDER BY cents, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY st) AS n FROM o)
         SELECT st AS o_orderstatus, CAST(q.q AS BIGINT) AS q,
                cents AS price_cents
         FROM r JOIN (VALUES (25), (50), (75)) q(q)
           ON rn = (q.q * n + 99) // 100
         ORDER BY o_orderstatus, q""",
    "q26_pivot_mixture" ->
      """SELECT source,
         count(*) FILTER (lang = 'de') AS de,
         count(*) FILTER (lang = 'en') AS en,
         count(*) FILTER (lang = 'es') AS es,
         count(*) FILTER (lang = 'fr') AS fr,
         count(*) FILTER (lang = 'zh') AS zh
         FROM documents GROUP BY source ORDER BY source""",
    "q27_semijoin_segments" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q28_intersect_buyers" ->
      """SELECT count(*) AS n_buyers,
                CAST(sum(o_custkey) AS BIGINT) AS sum_custkey
         FROM (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
               INTERSECT
               SELECT o_custkey FROM orders WHERE o_totalprice > 150000)""",
    "q29_union_docs" ->
      """SELECT count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
         FROM (SELECT doc_id FROM documents WHERE lang = 'en'
               UNION
               SELECT doc_id FROM documents WHERE n_chars > 500)""",
    // MERGE replica: kept = neither updated (%7, unless deleted) nor
    // deleted (%11); updates bump n_chars; inserts shift doc_id by 10M
    "q30_iceberg_maintenance" ->
      """WITH snap AS (SELECT doc_id, lang, source, n_chars FROM documents),
         upd AS (SELECT doc_id, lang, 'delta-update' AS source,
                        n_chars + 1000 AS n_chars
                 FROM snap WHERE doc_id % 7 = 0 AND doc_id % 11 <> 0),
         ins AS (SELECT doc_id + 10000000 AS doc_id, lang,
                        'delta-insert' AS source, 77 AS n_chars
                 FROM snap WHERE doc_id % 13 = 0),
         kept AS (SELECT * FROM snap
                  WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 0),
         merged AS (SELECT * FROM kept UNION ALL
                    SELECT * FROM upd UNION ALL
                    SELECT * FROM ins)
         SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM merged WHERE lang IN ('en', 'fr')
         GROUP BY lang ORDER BY lang""",
    // compaction is content-lossless: the rewritten table must aggregate
    // exactly like the source table it was fragmented from
    "q33_compaction" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM documents GROUP BY lang ORDER BY lang""",
    "q34_cube_orders" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS sum_price_cents
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
    "q35_correlated_exists" ->
      """SELECT c.c_custkey, c.c_mktsegment,
           CAST((SELECT count(*) FROM orders o2
                 WHERE o2.o_custkey = c.c_custkey
                   AND o2.o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 100000)
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_totalprice < 5000)
         ORDER BY c.c_custkey""",
    "q36_unpivot_metrics" ->
      """WITH wide AS (SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS sum_qty_c,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS sum_price_c
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, metric, value FROM wide
         UNPIVOT (value FOR metric IN (n_items, sum_qty_c, sum_price_c))
         ORDER BY l_returnflag, metric""",
    "q37_full_outer_counts" ->
      """WITH u AS (SELECT o_custkey, count(*) AS n_urgent FROM orders
                    WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey),
         h AS (SELECT o_custkey, count(*) AS n_high FROM orders
               WHERE o_totalprice > 300000 GROUP BY o_custkey)
         SELECT COALESCE(u.o_custkey, h.o_custkey) AS custkey,
                CAST(COALESCE(u.n_urgent, 0) AS BIGINT) AS n_urgent,
                CAST(COALESCE(h.n_high, 0) AS BIGINT) AS n_high
         FROM u FULL OUTER JOIN h ON u.o_custkey = h.o_custkey
         ORDER BY custkey""",
    "q38_json_extract" ->
      """SELECT event_type,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
           AS sum_k,
         CAST(count(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                          > 50 THEN 1 END) AS BIGINT) AS n_high
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q39_rolling_window" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM events)
         SELECT user_id, event_id,
                CAST(count(*) OVER w AS BIGINT) AS n_1h,
                CAST(sum(cents) OVER w AS BIGINT) AS sum_cents_1h
         FROM ev
         WINDOW w AS (PARTITION BY user_id ORDER BY us
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id""",
    // LATERAL-with-ordinality replica: DuckDB zips equal-length unnests in
    // one SELECT (token ↔ 1-based position), same '\s+' tokenize convention
    "q40_lateral_positions" ->
      """WITH toks AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
         flat AS (SELECT doc_id, unnest(tk) AS token,
                    unnest(range(1, len(tk) + 1)) AS pos FROM toks)
         SELECT token, CAST(count(*) AS BIGINT) AS n_occ,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                CAST(min(pos) AS BIGINT) AS min_pos
         FROM flat GROUP BY token HAVING count(*) >= 5 ORDER BY token""",
    // identical GROUPING SETS + grouping() flags (driver compare sorts
    // rows, so no ORDER BY needed on the subtotal NULLs)
    "q41_grouping_sets" ->
      """SELECT source, lang,
         CAST(grouping(source) AS BIGINT) AS g_source,
         CAST(grouping(lang) AS BIGINT) AS g_lang,
         count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents
         GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())""",
    // latest-wins replica: identical planted versions (range end exclusive
    // → +1 matches Spark's inclusive sequence), arg_max = max_by
    "q42_latest_wins" ->
      """WITH v AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
             unnest(range(0, doc_id % 3 + 1)) AS version
           FROM documents),
         t2 AS (SELECT doc_id, CAST(version AS BIGINT) AS version,
                  text || ' v' || CAST(version AS VARCHAR) AS text_v FROM v)
         SELECT doc_id, max(version) AS latest_version,
                md5(arg_max(text_v, version)) AS latest_hash
         FROM t2 GROUP BY doc_id""",
    // identical planted bags, DuckDB's native ALL variants
    "q43_bag_set_ops" ->
      """WITH a AS (SELECT md5(text) AS h FROM documents
                    UNION ALL
                    SELECT md5(text) FROM documents WHERE doc_id % 5 = 0),
         b AS (SELECT md5(text) AS h FROM documents WHERE doc_id % 3 = 0),
         e AS (SELECT 'except_all' AS op, h,
                 CAST(count(*) AS BIGINT) AS n
               FROM (SELECT h FROM a EXCEPT ALL SELECT h FROM b)
               GROUP BY h),
         i AS (SELECT 'intersect_all' AS op, h,
                 CAST(count(*) AS BIGINT) AS n
               FROM (SELECT h FROM a INTERSECT ALL SELECT h FROM b)
               GROUP BY h)
         SELECT op, h, n FROM e UNION ALL SELECT op, h, n FROM i""",
    // null-safe join replica: IS NOT DISTINCT FROM over identical planted
    // NULL keys
    "q44_nullsafe_join" ->
      """WITH d AS (SELECT CASE WHEN doc_id % 7 = 0 THEN NULL
                          ELSE source END AS src_key, n_chars
               FROM documents),
         dim AS (SELECT DISTINCT src_key,
                   CASE WHEN src_key IS NULL THEN 'missing'
                        ELSE 'present' END AS bucket
                 FROM d)
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM d JOIN dim ON d.src_key IS NOT DISTINCT FROM dim.src_key
         GROUP BY bucket ORDER BY bucket""",
    // Morton interleave replica: bit i of cx lands at position 2i, bit i
    // of cy at 2i+1; the layout round-trip must be content-lossless
    "q45_zorder_scan" ->
      """WITH d AS (SELECT doc_id, n_chars % 64 AS cx, doc_id % 64 AS cy
                    FROM documents)
         SELECT doc_id, cx, cy,
           CAST(list_sum(list_transform(range(0, 6),
             i -> (((cx >> i) & 1) << (2*i)) +
                  (((cy >> i) & 1) << (2*i+1)))) AS BIGINT) AS zvalue
         FROM d
         WHERE cx BETWEEN 16 AND 31 AND cy BETWEEN 32 AND 47
         ORDER BY doc_id""",
    // grouped top-k replica: the window formulation the heap replaces must
    // produce the identical ranking (n_chars desc, doc_id asc ties)
    "q46_grouped_topk" ->
      """WITH r AS (SELECT source, doc_id, row_number() OVER
             (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rnk
           FROM documents)
         SELECT source, CAST(rnk AS INT) AS rnk, doc_id
         FROM r WHERE rnk <= 3 ORDER BY source, rnk""",
    // PageRank replica: identical edge derivation (ring successors +
    // masked-md5 long-range targets) and identical floor-division rank
    // arithmetic, 3 unrolled iterations
    "q47_pagerank" ->
      ("WITH " + graphEdgesCte + """,
         r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS pr FROM nodes),""" +
        pagerankIterCte(1) + "," + pagerankIterCte(2) + "," +
        pagerankIterCte(3) +
        " SELECT node, pr FROM r3 ORDER BY node"),
    // BFS replica: DuckDB's native WITH RECURSIVE over the identical edge
    // list — an independent formulation (the engine unrolls Pregel rounds);
    // min(hops) over the recursion ≡ first-discovery hop
    "q59_reachability" ->
      ("WITH RECURSIVE " + graphEdgesCte + """,
         seeds AS (SELECT doc_id AS node FROM documents WHERE doc_id % 97 = 0),
         reach(node, hops) AS (
           SELECT node, 0 FROM seeds
           UNION ALL
           SELECT e.dst, r.hops + 1
           FROM reach r JOIN edges e ON e.src = r.node
           WHERE r.hops < 3)
         SELECT node, CAST(min(hops) AS BIGINT) AS hops
         FROM reach GROUP BY node ORDER BY node"""),
    // +1/−1 sweep with the same (t, delta DESC) peer ordering; default
    // RANGE frame sums ties identically in both engines
    "q60_max_concurrency" ->
      """WITH base AS (SELECT user_id, epoch_us(ts) AS t0,
           (event_id % 50 + 1) AS dur_min FROM events),
         pts AS (SELECT user_id, t0 AS t, 1 AS delta FROM base
                 UNION ALL
                 SELECT user_id, t0 + dur_min * 60000000, -1 FROM base),
         run AS (SELECT user_id,
           sum(delta) OVER (PARTITION BY user_id
                            ORDER BY t ASC, delta DESC) AS running FROM pts),
         per AS (SELECT user_id, max(running) AS mc FROM run GROUP BY user_id)
         SELECT CAST(mc AS BIGINT) AS max_conc, count(*) AS n_users
         FROM per GROUP BY mc ORDER BY max_conc""",
    // same floor-divide bucketing
    "q85_equiwidth_hist" ->
      """WITH o AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             AS BIGINT) AS cents FROM orders)
         SELECT cents // 5000000 AS bucket, count(*) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM o GROUP BY 1 ORDER BY bucket""",
    // same ties-low quartile rule, same doubled integer fences
    "q86_outlier_fences" ->
      """WITH o AS (SELECT c_mktsegment AS segment,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             o_orderkey
           FROM orders JOIN customer ON o_custkey = c_custkey),
         r AS (SELECT segment, cents,
             row_number() OVER (PARTITION BY segment
                                ORDER BY cents, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY segment) AS n FROM o),
         q AS (SELECT segment,
             min(CASE WHEN rn = (25 * n + 99) // 100 THEN cents END) AS q1_cents,
             min(CASE WHEN rn = (75 * n + 99) // 100 THEN cents END) AS q3_cents
           FROM r
           WHERE rn = (25 * n + 99) // 100 OR rn = (75 * n + 99) // 100
           GROUP BY segment)
         SELECT segment, q1_cents, q3_cents, count(*) AS n_orders,
           CAST(sum(CASE WHEN cents * 2 < q1_cents * 5 - q3_cents * 3
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN cents * 2 > q3_cents * 5 - q1_cents * 3
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(sum(CASE WHEN cents * 2 < q1_cents * 5 - q3_cents * 3
                      OR cents * 2 > q3_cents * 5 - q1_cents * 3
                    THEN cents ELSE 0 END) AS BIGINT) AS outlier_cents
         FROM o JOIN q USING (segment)
         GROUP BY segment, q1_cents, q3_cents ORDER BY segment""",
    // untouched partitions + the recomputed 'en' slice, rebuilt from base
    "q87_dynamic_overwrite" ->
      """WITH merged AS (
           SELECT doc_id, lang, n_chars FROM documents WHERE lang <> 'en'
           UNION ALL
           SELECT doc_id, lang,
             CASE WHEN doc_id % 3 = 0 THEN n_chars + 11 ELSE n_chars END
           FROM documents WHERE lang = 'en')
         SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM merged GROUP BY lang ORDER BY lang""",
    // same island-key construction in DuckDB
    "q88_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS day FROM events),
         r AS (SELECT user_id, day,
             row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
           FROM days),
         st AS (SELECT user_id, day - rn AS island, count(*) AS streak_len
           FROM r GROUP BY user_id, day - rn),
         per AS (SELECT user_id, max(streak_len) AS max_streak,
             count(*) AS n_streaks FROM st GROUP BY user_id)
         SELECT CAST(max_streak AS BIGINT) AS max_streak,
           count(*) AS n_users, CAST(sum(n_streaks) AS BIGINT) AS sum_streaks
         FROM per GROUP BY max_streak ORDER BY max_streak""",
    // DuckDB's NOT IN follows the same three-valued logic
    "q89_notin_nulls" ->
      """SELECT
           (SELECT count(*) FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                    WHERE o_orderstatus = 'F')) AS n_nullfree,
           (SELECT count(*) FROM customer
            WHERE c_custkey NOT IN (SELECT CASE WHEN o_orderkey % 1000 = 7
                                           THEN NULL ELSE o_custkey END
                                    FROM orders
                                    WHERE o_orderstatus = 'F')) AS n_with_null""",
    // independent row-wise formulation: lag-window deltas, no lists
    "q90_hof_arrays" ->
      """WITH p AS (SELECT user_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             event_id
           FROM events WHERE event_type = 'purchase'),
         d AS (SELECT user_id, cents,
             cents - lag(cents) OVER (PARTITION BY user_id
                                      ORDER BY cents, event_id) AS delta
           FROM p)
         SELECT user_id, count(*) AS n_purchases,
           CAST(sum(cents * cents) AS BIGINT) AS sum_sq,
           CAST(sum(CASE WHEN cents > 5000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_big,
           CAST(CASE WHEN count(*) >= 2 THEN max(delta) ELSE 0 END AS BIGINT)
             AS max_delta
         FROM d GROUP BY user_id ORDER BY user_id""",
    // plain join — the hint must be row-invisible
    "q91_smj_rollup" ->
      """SELECT o_orderpriority, count(*) AS n_items,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
             AS BIGINT)) AS BIGINT) AS sum_price_c
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // strategy-blind replica of the SHUFFLE_HASH-pinned rollup
    "q105_shj_rollup" ->
      """SELECT o_orderstatus, count(*) AS n_items,
           CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
             AS BIGINT)) AS BIGINT) AS sum_qty_c
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // same integer month index + mix = mix+12 self-join
    "q92_yoy_trend" ->
      """WITH m AS (SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1
               AS mix,
             count(*) AS n_orders,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
               AS BIGINT)) AS BIGINT) AS rev_c
           FROM orders GROUP BY 1)
         SELECT CAST(c.mix AS BIGINT) AS mix, c.n_orders, c.rev_c,
           CAST(coalesce(p.rev_c, 0) AS BIGINT) AS prev_rev_c,
           CAST(c.rev_c - coalesce(p.rev_c, 0) AS BIGINT) AS yoy_delta_c
         FROM m c LEFT JOIN m p ON c.mix = p.mix + 12 ORDER BY mix""",
    // explicit NULLS FIRST — DuckDB's default is NULLS LAST
    "q93_nulls_order" ->
      """WITH c AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation,
             CASE WHEN c_custkey % 13 = 0 THEN NULL
                  ELSE CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
             END AS bal_c
           FROM customer),
         r AS (SELECT nation, c_custkey, bal_c,
             CAST(row_number() OVER (PARTITION BY nation
               ORDER BY bal_c ASC NULLS FIRST, c_custkey) AS BIGINT) AS rk
           FROM c)
         SELECT nation, rk, c_custkey,
           CAST(coalesce(bal_c, -1) AS BIGINT) AS bal_c_disp
         FROM r WHERE rk <= 3 ORDER BY nation, rk""",
    // identical concat-built JSON, DuckDB's json_extract over the same
    // paths (typed BIGINT casts; missing path → NULL exactly as
    // try_variant_get)
    "q94_variant_shred" ->
      """WITH j AS (SELECT '{"u":' || CAST(user_id AS VARCHAR) ||
             ',"t":"' || event_type ||
             '","m":{"vc":' || CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
               AS BIGINT) AS VARCHAR) ||
             '},"a":[' || CAST(event_id % 7 AS VARCHAR) || ',' ||
             CAST(event_id % 11 AS VARCHAR) || ']}' AS js
           FROM events)
         SELECT json_extract_string(js, '$.t') AS typ,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract(js, '$.m.vc') AS BIGINT)) AS BIGINT)
             AS sum_vc,
           CAST(sum(CAST(json_extract(js, '$.a[1]') AS BIGINT)) AS BIGINT)
             AS sum_a1,
           CAST(count(CASE WHEN json_extract(js, '$.m.missing') IS NULL
             THEN 1 END) AS BIGINT) AS n_missing
         FROM j GROUP BY typ ORDER BY typ""",
    // the map is per-row state, so the relational replica is just the
    // same two-level aggregation
    "q95_map_rollup" ->
      """WITH pq AS (SELECT l_orderkey, l_partkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
           FROM lineitem GROUP BY 1, 2),
         per AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_parts,
             CAST(count(CASE WHEN qty >= 3 THEN 1 END) AS BIGINT) AS n_big,
             CAST(sum(qty) AS BIGINT) AS tot,
             CAST(2 * sum(qty) AS BIGINT) AS tot2
           FROM pq GROUP BY l_orderkey)
         SELECT n_parts, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(n_big) AS BIGINT) AS sum_big,
           CAST(sum(tot) AS BIGINT) AS sum_qty,
           CAST(sum(tot2) AS BIGINT) AS sum_qty2
         FROM per GROUP BY n_parts ORDER BY n_parts""",
    // every try_* guard recomputed independently in HUGEINT: CASE arms
    // evaluate lazily, so the BIGINT arithmetic only runs where it fits
    "q96_try_arith" ->
      """WITH o AS (SELECT o_orderkey % 5 AS m,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL
                  ELSE 120 // (o_orderkey % 5) END AS d,
             CASE WHEN CAST(o_orderkey AS HUGEINT) * 4611686018427387904
                       > 9223372036854775807 THEN NULL
                  ELSE CAST(CAST(o_orderkey AS HUGEINT)
                    * 4611686018427387904 AS BIGINT) END AS p,
             CASE WHEN CAST(o_orderkey AS HUGEINT) + 9223372036854775807
                       > 9223372036854775807 THEN NULL
                  ELSE CAST(CAST(o_orderkey AS HUGEINT)
                    + 9223372036854775807 AS BIGINT) END AS a
           FROM orders WHERE o_orderkey % 97 = 0)
         SELECT m, CAST(count(*) AS BIGINT) AS n,
           CAST(count(CASE WHEN d IS NULL THEN 1 END) AS BIGINT)
             AS n_div_null,
           CAST(coalesce(max(d), -1) AS BIGINT) AS div120,
           CAST(count(CASE WHEN p IS NULL THEN 1 END) AS BIGINT)
             AS n_mul_null,
           CAST(coalesce(sum(p), -1) AS BIGINT) AS sum_mul_ok,
           CAST(count(CASE WHEN a IS NULL THEN 1 END) AS BIGINT)
             AS n_add_null
         FROM o GROUP BY m ORDER BY m""",
    // DuckDB's native recursive CTE over the identical tree
    "q83_recursive_rollup" ->
      """WITH RECURSIVE anc AS (
           SELECT doc_id, doc_id AS root, n_chars FROM documents
           WHERE doc_id < 10
           UNION ALL
           SELECT c.doc_id, a.root, c.n_chars FROM documents c JOIN anc a
           ON c.doc_id // 10 = a.doc_id WHERE c.doc_id >= 10
         )
         SELECT root, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM anc GROUP BY root ORDER BY root""",
    // argmax via ranked window — independent of the engine's min_by plan
    "q84_favorite_type" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
           FROM events GROUP BY 1, 2),
         r AS (SELECT user_id, event_type, cnt,
             row_number() OVER (PARTITION BY user_id
               ORDER BY cnt DESC, event_type) AS rk FROM c)
         SELECT event_type AS favorite, count(*) AS n_users,
           CAST(sum(cnt) AS BIGINT) AS sum_fav_events
         FROM r WHERE rk = 1 GROUP BY 1 ORDER BY 1""",
    // identical lead()-window integral
    "q81_twap" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id AS eid,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM events),
         l AS (SELECT user_id, cents,
             lead(us) OVER (PARTITION BY user_id ORDER BY us, eid) - us
               AS gap
           FROM e)
         SELECT user_id, count(*) AS n_segments,
           CAST(sum(cents * gap) AS BIGINT) AS twap_num,
           CAST(sum(gap) AS BIGINT) AS twap_den
         FROM l WHERE gap IS NOT NULL GROUP BY user_id ORDER BY user_id""",
    // DuckDB's own LATERAL execution of the same correlated top-2
    "q82_lateral_topk" ->
      """SELECT c.c_custkey, t.okey, t.price_c
         FROM customer c, LATERAL (
           SELECT o_orderkey AS okey,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS price_c
           FROM orders o WHERE o.o_custkey = c.c_custkey
           ORDER BY price_c DESC, okey LIMIT 2) t
         ORDER BY c.c_custkey, price_c DESC, okey""",
    // identical integer percent-rank replica and band census
    "q80_percentile_bands" ->
      """WITH spend AS (SELECT o_custkey AS ck,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
               AS BIGINT)) AS BIGINT) AS cents
           FROM orders GROUP BY 1),
         s2 AS (SELECT c_mktsegment AS segment, cents,
             row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY cents, ck) AS rn,
             count(*) OVER (PARTITION BY c_mktsegment) AS n
           FROM spend JOIN customer ON c_custkey = ck),
         b AS (SELECT segment, cents,
             least((rn - 1) * 1000000 // greatest(n - 1, 1) // 100000, 9)
               AS decile
           FROM s2)
         SELECT segment, CAST(decile AS BIGINT) AS decile,
           count(*) AS n_customers, CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM b GROUP BY 1, 2 ORDER BY segment, decile""",
    // the division as count-distinct-equals-universe, independent joins
    "q79_division" ->
      """WITH pc AS (SELECT o_custkey AS ck,
             count(DISTINCT o_orderpriority) AS n_pri
           FROM orders GROUP BY 1),
         tot AS (SELECT count(DISTINCT o_orderpriority) AS total_pri
           FROM orders)
         SELECT c_mktsegment AS segment, count(*) AS n_complete_customers
         FROM pc CROSS JOIN tot
         JOIN customer ON c_custkey = pc.ck
         WHERE n_pri = total_pri GROUP BY 1 ORDER BY 1""",
    // same distinct-then-band-join rewrite
    "q78_rolling_distinct" ->
      """WITH base AS (SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS d FROM events),
         days AS (SELECT DISTINCT d AS td FROM base)
         SELECT CAST(td AS BIGINT) AS td,
           count(DISTINCT user_id) AS active_users_3d
         FROM base JOIN days ON td >= d AND td <= d + 2
         GROUP BY td ORDER BY td""",
    // same conditional pivot + rank windows
    "q77_rank_movers" ->
      """WITH per AS (SELECT p_brand AS brand,
             CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1998-01-01'
                 THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                   AS BIGINT) ELSE 0 END) AS BIGINT) AS rev_a,
             CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
                 THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                   AS BIGINT) ELSE 0 END) AS BIGINT) AS rev_b
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1)
         SELECT brand, rev_a, rev_b,
           row_number() OVER (ORDER BY rev_a DESC, brand) AS rank_a,
           row_number() OVER (ORDER BY rev_b DESC, brand) AS rank_b,
           row_number() OVER (ORDER BY rev_a DESC, brand)
             - row_number() OVER (ORDER BY rev_b DESC, brand) AS rank_gain
         FROM per ORDER BY brand""",
    // ordered string_agg is DuckDB's native form of the same sequence
    "q75_event_sequences" ->
      """SELECT user_id, count(*) AS n_events,
           string_agg(event_type, ',' ORDER BY epoch_us(ts), event_id)
             AS seq
         FROM events GROUP BY user_id ORDER BY user_id""",
    // identical exact rank bounds and integer clip
    "q76_winsorized" ->
      """WITH o AS (SELECT o_orderpriority AS pri, o_orderkey AS okey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS price_c FROM orders),
         ranked AS (SELECT pri, price_c,
             row_number() OVER (PARTITION BY pri
               ORDER BY price_c, okey) AS rn,
             count(*) OVER (PARTITION BY pri) AS n FROM o),
         bounds AS (SELECT pri,
             max(CASE WHEN rn = greatest(1, (n * 5 + 99) // 100)
                 THEN price_c END) AS lo_c,
             max(CASE WHEN rn = (n * 95 + 99) // 100
                 THEN price_c END) AS hi_c
           FROM ranked GROUP BY pri)
         SELECT r.pri, count(*) AS n,
           CAST(max(b.lo_c) AS BIGINT) AS lo_c,
           CAST(max(b.hi_c) AS BIGINT) AS hi_c,
           CAST(sum(least(greatest(r.price_c, b.lo_c), b.hi_c)) AS BIGINT)
             AS sum_winsorized_c
         FROM ranked r JOIN bounds b USING (pri)
         GROUP BY r.pri ORDER BY r.pri""",
    // one UNION ALL branch per FK edge, same planted corruption rule
    "q73_fk_audit" ->
      """WITH corrupted AS (SELECT CASE WHEN l_orderkey % 17 = 0
             THEN l_orderkey + 1000000000 ELSE l_orderkey END AS l_orderkey
           FROM lineitem)
         SELECT * FROM (
           SELECT 'customer->nation' AS relation, count(*) AS n_child,
             CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_orphans
           FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey
             FROM nation) n ON c.c_nationkey = n.n_nationkey
           UNION ALL
           SELECT 'lineitem->orders', count(*),
             CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT)
           FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey
             FROM orders) o ON l.l_orderkey = o.o_orderkey
           UNION ALL
           SELECT 'lineitem->orders!corrupted', count(*),
             CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT)
           FROM corrupted l LEFT JOIN (SELECT DISTINCT o_orderkey
             FROM orders) o ON l.l_orderkey = o.o_orderkey
           UNION ALL
           SELECT 'lineitem->part', count(*),
             CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT)
           FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey
             FROM part) p ON l.l_partkey = p.p_partkey
           UNION ALL
           SELECT 'lineitem->supplier', count(*),
             CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT)
           FROM lineitem l LEFT JOIN (SELECT DISTINCT s_suppkey
             FROM supplier) s ON l.l_suppkey = s.s_suppkey
           UNION ALL
           SELECT 'nation->region', count(*),
             CAST(sum(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT)
           FROM nation n LEFT JOIN (SELECT DISTINCT r_regionkey
             FROM region) r ON n.n_regionkey = r.r_regionkey
           UNION ALL
           SELECT 'orders->customer', count(*),
             CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT)
           FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey
             FROM customer) c ON o.o_custkey = c.c_custkey
           UNION ALL
           SELECT 'supplier->nation', count(*),
             CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT)
           FROM supplier s LEFT JOIN (SELECT DISTINCT n_nationkey
             FROM nation) n ON s.s_nationkey = n.n_nationkey)
         ORDER BY relation""",
    // identical CUBE + GROUPING flags + HAVING in DuckDB
    "q74_grouping_flags" ->
      """SELECT l_returnflag AS rf, l_linestatus AS ls,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
           count(*) AS n,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
               AS BIGINT)) AS BIGINT) AS sum_cents
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         HAVING GROUPING(l_returnflag) + GROUPING(l_linestatus) > 0
         ORDER BY g_rf, g_ls, rf, ls""",
    // the same correlated scalar subqueries, decorrelated by DuckDB's own
    // unnesting — an independent execution of the identical semantics
    "q71_above_avg" ->
      """SELECT c.c_mktsegment AS segment, count(*) AS n_above,
           CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
               AS BIGINT)) AS BIGINT) AS sum_above_c
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               * (SELECT count(*) FROM orders o2
                  WHERE o2.o_custkey = o.o_custkey)
             > (SELECT CAST(sum(CAST(CAST(o3.o_totalprice AS DECIMAL(18,2))
                     * 100 AS BIGINT)) AS BIGINT)
                FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
         GROUP BY 1 ORDER BY 1""",
    // same pre-aggregated running-sum formulation
    "q72_weighted_median" ->
      """WITH pp AS (SELECT l_returnflag AS flag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS price_c,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
           FROM lineitem GROUP BY 1, 2),
         c AS (SELECT flag, price_c, w,
             CAST(sum(w) OVER (PARTITION BY flag ORDER BY price_c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tw FROM pp)
         SELECT flag, CAST(min(price_c) AS BIGINT) AS wmedian_c,
           CAST(max(tw) AS BIGINT) AS total_qty
         FROM c WHERE 2 * cum >= tw GROUP BY flag ORDER BY flag""",
    // identical integer slope components; per-row cents are exact
    // integer-valued decimals so sum-then-cast equals cast-then-sum
    "q70_trend" ->
      """WITH m AS (SELECT p_brand AS brand,
             CAST(year(l_shipdate) * 12 + month(l_shipdate) - 23941
               AS BIGINT) AS x,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
               AS BIGINT) AS y
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1, 2),
         agg AS (SELECT brand, count(*) AS n_months,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
           FROM m GROUP BY brand)
         SELECT brand, n_months, n_months * sxy - sx * sy AS slope_num,
           n_months * sxx - sx * sx AS slope_den,
           CAST(sign(n_months * sxy - sx * sy) AS BIGINT) AS trend
         FROM agg ORDER BY brand""",
    // same basket self-join; DuckDB count(*) is BIGINT like the engine's
    "q69_copurchase" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey
             FROM lineitem)
         SELECT a.pkey AS part_a, b.pkey AS part_b, count(*) AS n_orders
         FROM li a JOIN li b ON a.okey = b.okey AND a.pkey < b.pkey
         GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY n_orders DESC, part_a, part_b LIMIT 100""",
    // the O(n²) NOT EXISTS domination formulation — independent of the
    // engine's sorted-sweep plan
    "q68_skyline" ->
      """WITH o AS (SELECT o_orderpriority AS priority, o_orderkey AS okey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
           epoch_us(o_orderdate) // 86400000000 AS day FROM orders)
         SELECT priority, okey, price_c, CAST(day AS BIGINT) AS day
         FROM o b
         WHERE NOT EXISTS (SELECT 1 FROM o a WHERE a.priority = b.priority
           AND a.price_c <= b.price_c AND a.day <= b.day
           AND (a.price_c < b.price_c OR a.day < b.day))
         ORDER BY priority, okey""",
    // same cummax sweep in SQL over the identical interval derivation
    "q67_interval_union" ->
      """WITH base AS (SELECT user_id, event_id, epoch_us(ts) AS t0,
           epoch_us(ts) + (event_id % 50 + 1) * 60000000 AS t1 FROM events),
         c AS (SELECT user_id, t0, t1,
           COALESCE(max(t1) OVER (PARTITION BY user_id
             ORDER BY t0 ASC, t1 ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), t0)
             AS prev_max_end
           FROM base)
         SELECT user_id, count(*) AS n_intervals,
           CAST(sum(greatest(0, t1 - greatest(t0, prev_max_end)))
                AS BIGINT) AS covered_us
         FROM c GROUP BY user_id ORDER BY user_id""",
    // same last-wins collapse + full-outer fold in SQL
    "q65_cdc_apply" ->
      """WITH snap AS (SELECT c_custkey AS key,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS value
           FROM customer),
         ops AS (SELECT
           CASE WHEN o_orderkey % 10 <= 3 THEN o_custkey
                ELSE o_custkey + 10000000 END AS key,
           o_orderkey AS seq,
           CASE WHEN o_orderkey % 10 = 0 THEN 'D'
                WHEN o_orderkey % 10 <= 3 THEN 'U' ELSE 'I' END AS op,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS value
           FROM orders),
         last AS (SELECT key, op, value FROM (
           SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
           FROM ops) WHERE rn = 1),
         m AS (SELECT COALESCE(s.key, l.key) AS key, s.value AS sval,
               l.op, l.value AS lval
               FROM snap s FULL OUTER JOIN last l ON s.key = l.key)
         SELECT key,
           CASE WHEN op IS NULL THEN sval ELSE lval END AS value,
           CASE WHEN op IS NULL THEN 'kept' ELSE 'upserted' END AS origin
         FROM m WHERE op IS NULL OR op <> 'D' ORDER BY key""",
    "q66_ntile_quartiles" ->
      """WITH c AS (SELECT c_mktsegment,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_c,
           c_custkey FROM customer),
         q AS (SELECT c_mktsegment, bal_c,
           ntile(4) OVER (PARTITION BY c_mktsegment
                          ORDER BY bal_c ASC, c_custkey ASC) AS quartile
           FROM c)
         SELECT c_mktsegment, CAST(quartile AS BIGINT) AS quartile,
           count(*) AS n_customers,
           CAST(min(bal_c) AS BIGINT) AS min_bal_c,
           CAST(max(bal_c) AS BIGINT) AS max_bal_c
         FROM q GROUP BY c_mktsegment, quartile
         ORDER BY c_mktsegment, quartile""",
    // same sweep in SQL: ignore-nulls window passes over the identical
    // (us, event_id) ordering; ties prefer the earlier purchase
    "q63_nearest_event" ->
      """WITH tagged AS (SELECT user_id, event_id, epoch_us(ts) AS us,
           event_type = 'purchase' AS is_right
           FROM events WHERE event_type IN ('click', 'purchase')),
         w AS (SELECT user_id, event_id, us, is_right,
           last_value(CASE WHEN is_right THEN us END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_us,
           last_value(CASE WHEN is_right THEN event_id END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_id,
           first_value(CASE WHEN is_right THEN us END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_us,
           first_value(CASE WHEN is_right THEN event_id END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_id
           FROM tagged)
         SELECT user_id, event_id AS click_id,
           CASE WHEN prev_us IS NULL THEN next_id
                WHEN next_us IS NULL THEN prev_id
                WHEN us - prev_us <= next_us - us THEN prev_id
                ELSE next_id END AS matched_id,
           CASE WHEN prev_us IS NULL THEN next_us - us
                WHEN next_us IS NULL THEN us - prev_us
                ELSE least(us - prev_us, next_us - us) END AS abs_delta_us
         FROM w WHERE NOT is_right ORDER BY click_id""",
    // rollup recomputed straight from the parquet source — ORC bytes only
    // exist engine-side; hash equality proves the round trip lossless
    "q64_orc_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
           min(md5(text)) AS min_text_md5,
           max(md5(text)) AS max_text_md5
         FROM documents GROUP BY source ORDER BY source""",
    // independent recursive-CTE formulation of the same subtree rollup
    "q62_tree_rollup" ->
      """WITH RECURSIVE anc(node, nc, a) AS (
           SELECT doc_id, n_chars, doc_id FROM documents
           UNION ALL
           SELECT node, nc, a // 10 FROM anc WHERE a >= 10)
         SELECT a AS node, count(*) AS subtree_docs,
           CAST(sum(nc) AS BIGINT) AS subtree_chars
         FROM anc GROUP BY a ORDER BY node""",
    "q61_ratio_to_report" ->
      """WITH rev AS (SELECT r_name, n_name,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_c
           FROM orders o
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN nation n ON c.c_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           GROUP BY r_name, n_name)
         SELECT r_name, n_name, rev_c,
           CAST(sum(rev_c) OVER (PARTITION BY r_name) AS BIGINT) AS region_rev_c,
           CAST(rev_c * 1000000 // sum(rev_c) OVER (PARTITION BY r_name) AS BIGINT) AS share_ppm
         FROM rev ORDER BY r_name, n_name""",
    // triangle replica: same canonical (a < b) distinct edges, same
    // oriented 2-path + closing-edge enumeration
    "q48_triangles" ->
      ("WITH " + graphEdgesCte + """,
         e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
               FROM edges WHERE src <> dst),
         tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                 FROM e e1 JOIN e e2 ON e1.b = e2.a
                 JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         pern AS (SELECT node, count(*) AS tri_cnt FROM
                  (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
                   UNION ALL SELECT z FROM tri) GROUP BY node),
         deg AS (SELECT node, count(*) AS deg_cnt FROM
                 (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
                 GROUP BY node)
         SELECT d.doc_id AS node, coalesce(deg.deg_cnt, 0) AS degree,
                coalesce(pern.tri_cnt, 0) AS n_triangles
         FROM documents d LEFT JOIN deg ON deg.node = d.doc_id
         LEFT JOIN pern ON pern.node = d.doc_id ORDER BY node"""),
    // SCD2 replica: the identical lead() interval build
    "q49_scd2_versions" ->
      """WITH s AS (SELECT user_id, event_id, epoch_us(ts) AS valid_from_us
                    FROM events WHERE event_type = 'signup')
         SELECT user_id, event_id, valid_from_us,
           lead(valid_from_us) OVER (PARTITION BY user_id
             ORDER BY valid_from_us, event_id) AS valid_to_us,
           CAST(CASE WHEN lead(valid_from_us) OVER (PARTITION BY user_id
             ORDER BY valid_from_us, event_id) IS NULL
             THEN 1 ELSE 0 END AS INT) AS is_current
         FROM s ORDER BY user_id, valid_from_us""",
    // gap-fill replica: per-user day range + IGNORE NULLS forward fill
    "q50_gapfill_daily" ->
      """WITH ev AS (SELECT user_id, event_type, value,
                       epoch_us(ts) // 86400000000 AS day FROM events),
         daily AS (SELECT user_id, day, count(*) AS n_ev,
                     CAST(sum(CASE WHEN event_type = 'purchase'
                                   THEN CAST(value AS DECIMAL(18,2)) END)
                          * 100 AS BIGINT) AS purchase_cents
                   FROM ev GROUP BY user_id, day),
         spans AS (SELECT user_id, min(day) AS d0, max(day) AS d1
                   FROM ev GROUP BY user_id),
         cal AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM spans)
         SELECT c.user_id, c.day, coalesce(d.n_ev, 0) AS n_events,
           last_value(d.purchase_cents IGNORE NULLS) OVER (
             PARTITION BY c.user_id ORDER BY c.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_purchase_cents
         FROM cal c LEFT JOIN daily d
           ON d.user_id = c.user_id AND d.day = c.day
         ORDER BY c.user_id, c.day""",
    // funnel replica: per-step min-qualifying keys in composite-key space,
    // 24h window (86400e6 us * 1e6 key scale)
    "q51_funnel" ->
      """WITH b AS (SELECT min(epoch_us(ts)) AS m FROM events),
         e AS (SELECT user_id, (epoch_us(ts) - b.m) * 1000000 + event_id AS k,
                 event_type FROM events, b),
         s1 AS (SELECT user_id,
                  min(CASE WHEN event_type = 'view' THEN k END) AS k1
                FROM e GROUP BY user_id),
         s2 AS (SELECT e.user_id,
                  min(CASE WHEN e.event_type = 'click' AND e.k > s1.k1
                       AND e.k <= s1.k1 + 86400000000000000
                       THEN e.k END) AS k2
                FROM e JOIN s1 USING (user_id) GROUP BY e.user_id),
         s3 AS (SELECT e.user_id,
                  min(CASE WHEN e.event_type = 'purchase' AND e.k > s2.k2
                       AND e.k <= s2.k2 + 86400000000000000
                       THEN e.k END) AS k3
                FROM e JOIN s2 USING (user_id) GROUP BY e.user_id)
         SELECT s1.user_id,
           CAST(CASE WHEN k1 IS NULL THEN 0 WHEN k2 IS NULL THEN 1
                     WHEN k3 IS NULL THEN 2 ELSE 3 END AS INT) AS stage,
           k1, k2, k3
         FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
         ORDER BY s1.user_id""",
    // cohort replica: absolute epoch weeks (integer division both sides)
    "q52_cohort_retention" ->
      """WITH ev AS (SELECT user_id, event_type,
                       (epoch_us(ts) // 86400000000) // 7 AS week
                     FROM events),
         coh AS (SELECT user_id, min(week) AS cohort_week FROM ev
                 WHERE event_type = 'signup' GROUP BY user_id),
         act AS (SELECT DISTINCT user_id, week FROM ev)
         SELECT c.cohort_week, a.week - c.cohort_week AS offset_weeks,
           count(DISTINCT a.user_id) AS n_users
         FROM act a JOIN coh c USING (user_id)
         WHERE a.week >= c.cohort_week
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // tumbling replica: epoch-aligned integer bucketing (Spark's window()
    // origin is the epoch under UTC, and 6h divides a day evenly)
    "q53_tumbling_windows" ->
      """SELECT (epoch_us(ts) // 21600000000) * 21600000000 AS win_start_us,
         event_type, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS sum_value_cents
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // sliding replica: each event expands to its two epoch-aligned
    // 6h-slide window starts (length 12h ⇒ exactly two)
    "q55_sliding_windows" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
                    FROM events),
         w AS (SELECT user_id, event_type,
                 (us // 21600000000) * 21600000000 - s.off AS win_start_us
               FROM e, (VALUES (0), (21600000000)) s(off))
         SELECT win_start_us, event_type,
                count(DISTINCT user_id) AS n_users, count(*) AS n_events
         FROM w GROUP BY 1, 2 ORDER BY 1, 2""",
    // time-travel replica: both versions re-derived from the base table
    // (v2 = %17 deletes + %5 updates, exactly the engine's commit chain)
    "q54_time_travel" ->
      """WITH v1 AS (SELECT lang, n_chars FROM documents),
         v2 AS (SELECT lang, CASE WHEN doc_id % 5 = 0 THEN n_chars + 7
                             ELSE n_chars END AS n_chars
                FROM documents WHERE doc_id % 17 <> 0)
         SELECT CAST(1 AS INT) AS version, lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM v1 GROUP BY lang
         UNION ALL
         SELECT CAST(2 AS INT), lang, count(*),
                CAST(sum(n_chars) AS BIGINT)
         FROM v2 GROUP BY lang
         ORDER BY version, lang""",
    // histogram replica: identical rank-over-distinct-values boundaries
    // and ties-bucket-low assignment
    "q56_histogram" ->
      """WITH vals AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT) AS v FROM orders),
         cnt AS (SELECT v, count(*) AS c FROM vals GROUP BY v),
         cum AS (SELECT v, c,
                   sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
                 FROM cnt),
         nn AS (SELECT count(*) AS n FROM vals),
         b AS (SELECT q.q, min(cum.v) AS bv
               FROM cum, nn,
                 (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) q(q)
               WHERE cum.cum >= (q.q * nn.n + 9) // 10
                 AND cum.cum - cum.c < (q.q * nn.n + 9) // 10
               GROUP BY q.q),
         bk AS (SELECT v,
                  (SELECT count(*) FROM b WHERE b.bv < vals.v) AS bucket
                FROM vals)
         SELECT CAST(bucket AS INT) AS bucket, count(*) AS n_rows,
                min(v) AS min_v, max(v) AS max_v,
                CAST(sum(v) AS BIGINT) AS sum_v
         FROM bk GROUP BY bucket ORDER BY bucket""",
    // cascade-delete replica: chunk count = ceil(tokens/48) windows,
    // postings = per-doc distinct tokens — derived-row counts recomputed
    // from the base table, same % 97 delete rule
    "q57_cascade_delete" ->
      """WITH lens AS (SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\s+')) AS n
           FROM documents),
         tok AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS token
           FROM documents),
         toku AS (SELECT DISTINCT doc_id, token FROM tok),
         stats AS (
           SELECT 'documents' AS table_name,
                  CAST(count(*) AS BIGINT) AS rows_before,
                  CAST(coalesce(sum(CASE WHEN doc_id % 97 = 0 THEN 1 END), 0)
                       AS BIGINT) AS rows_deleted
           FROM documents
           UNION ALL
           SELECT 'chunks', CAST(sum((n + 47) // 48) AS BIGINT),
                  CAST(coalesce(sum(CASE WHEN doc_id % 97 = 0
                                    THEN (n + 47) // 48 END), 0) AS BIGINT)
           FROM lens
           UNION ALL
           SELECT 'postings', CAST(count(*) AS BIGINT),
                  CAST(coalesce(sum(CASE WHEN doc_id % 97 = 0 THEN 1 END), 0)
                       AS BIGINT)
           FROM toku)
         SELECT table_name, rows_before, rows_deleted,
                rows_before - rows_deleted AS rows_after
         FROM stats ORDER BY table_name""",

    // incremental-MV replica: the FULL recompute the merged view must equal
    "q58_incremental_mv" ->
      """SELECT user_id, count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                  AS sum_value_cents,
                max(epoch_us(ts)) AS max_ts_us,
                min(event_id) AS min_event_id
         FROM events GROUP BY user_id ORDER BY user_id"""
  )

  /** The deterministic link-graph edge list in DuckDB — must stay
    * arithmetic-identical to [[graft.ops.GraphOps.linkEdges]]. */
  private def graphEdgesCte: String =
    """nn AS (SELECT count(*) AS n FROM documents),
       nodes AS (SELECT doc_id AS node FROM documents),
       edges AS (
         SELECT doc_id AS src, (doc_id + d.dd) % nn.n AS dst
         FROM documents, nn, (VALUES (1), (2)) d(dd)
         UNION ALL
         SELECT doc_id AS src,
           CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || '#L' ||
                                  CAST(j.jj AS VARCHAR))
                 & 9223372036854775807) % nn.n AS BIGINT) AS dst
         FROM documents, nn, (VALUES (0), (1)) j(jj))"""

  /** One unrolled PageRank round r{i} reading r{i-1}. */
  private def pagerankIterCte(i: Int): String =
    s""" r$i AS (SELECT nd.node,
           CAST(150000000 + (85 * coalesce(s.c, 0)) // 100 AS BIGINT) AS pr
         FROM nodes nd LEFT JOIN (
           SELECT e.dst, sum(r.pr // 4) AS c FROM edges e
           JOIN r${i - 1} r ON r.node = e.src GROUP BY e.dst) s
         ON s.dst = nd.node)"""
}
