package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token counting, quality scoring, language ID,
  * document fingerprinting. All but the fingerprint are pure Catalyst
  * column expressions (whole-stage codegen, no UDFs); counts are integers
  * so DuckDB oracles hash-match exactly.
  */
object TextOps {
  private val wsPat = java.util.regex.Pattern.compile("\\s+")

  /** Whitespace tokens. */
  def wsTokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish subword unit count: alpha runs, digit runs, single symbols. */
  private def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  def tokenCounts(df: DataFrame): DataFrame =
    df.select(
      col("doc_id"),
      size(wsTokens(col("text"))).as("n_ws_tokens"),
      bpeishCount(col("text")).as("n_bpeish_tokens"),
      length(col("text")).as("n_chars"))
  // NOTE (here and in the other per-doc outputs): no global orderBy — the
  // driver compare is sort-insensitive and a full-table sort is a gratuitous
  // extra shuffle at 10^12 rows.

  /** Tokenizer fertility by language — subword-per-word and subword-per-
    * char expansion per lang class, the table a pipeline consults when
    * budgeting a multilingual mixture (a language whose BPE-ish fertility
    * is 2× pays 2× the context window per word; per-language token budgets
    * must be set off THIS, not raw document counts). Ratios are integer
    * floor-division over corpus-level sums (both operands non-negative, so
    * Spark `div` ≡ DuckDB `//`); the tokenizations are the same codegen'd
    * expressions as [[tokenCounts]], one partial+final hash agg keyed by
    * the handful of lang values — per-doc token streams never shuffle. */
  def fertilityByLang(df: DataFrame): DataFrame =
    df.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(wsTokens(col("text"))).cast("long")).as("sum_ws_tokens"),
        sum(bpeishCount(col("text")).cast("long")).as("sum_bpeish_tokens"),
        sum(length(col("text")).cast("long")).as("sum_chars"))
      .withColumn("fert_per_100_words",
        expr("(sum_bpeish_tokens * 100) div sum_ws_tokens"))
      .withColumn("toks_per_1000_chars",
        expr("(sum_bpeish_tokens * 1000) div sum_chars"))
      .orderBy(col("lang"))

  /** Integer Flesch-style readability: words (whitespace tokens, the p02
    * convention), sentences (runs of [.!?], min 1), vowel-group count as
    * the syllable surrogate. `flesch_milli` is the Flesch reading-ease
    * formula with both ratios floor-divided on non-negative operands
    * (Spark `div` ≡ DuckDB `//` there), so the score is an exact integer
    * in both engines. Pure codegen'd regexp counts inside the scan —
    * zero shuffles, the cheapest quality gate in the filter chain. */
  def readability(df: DataFrame): DataFrame = {
    val w = size(wsTokens(col("text"))).cast("long")
    val s = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
        .cast("long"), lit(1L))
    val y = size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"),
      lit(0))).cast("long")
    df.select(col("doc_id"), w.as("n_words"), s.as("n_sentences"),
        y.as("n_vowel_groups"))
      .withColumn("wps_milli", expr("n_words * 1000L div n_sentences"))
      .withColumn("spw_milli", expr("n_vowel_groups * 1000L div n_words"))
      .withColumn("flesch_milli", expr(
        "206835L - (1015L * n_words) div n_sentences" +
        " - (84600L * n_vowel_groups) div n_words"))
      .orderBy(col("doc_id"))
  }

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Quality signals as exact integer counts (ratios derive downstream —
    * keeping ints makes the oracle float-free). */
  def qualityCounts(df: DataFrame): DataFrame = {
    val toks = wsTokens(col("text"))
    df.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      size(toks).as("n_tokens"),
      length(regexp_replace(col("text"), "[^.,;:!?]", "")).as("n_punct"),
      size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*))).as("n_stopwords"),
      length(regexp_replace(col("text"), "[^A-Z]", "")).as("n_upper"))
  }

  /** Classifier feature-table EXPORT: every cheap per-doc quality signal
    * (p02 token counts, p03 quality counts, p75 readability surrogates)
    * materialized side by side in ONE projection — the wide integer
    * feature frame a fastText/logistic quality classifier trains on.
    * All columns are codegen'd regexp/length expressions inside the same
    * whole-stage-codegen span: ONE scan, ZERO shuffles (PlanSpec-pinned),
    * so exporting features for 10^12 docs costs exactly one pass. */
  def featureTable(df: DataFrame): DataFrame = {
    val toks = wsTokens(col("text"))
    val w = size(toks).cast("long")
    val sents = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
        .cast("long"), lit(1L))
    val vow = size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"),
      lit(0))).cast("long")
    df.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      w.as("n_ws_tokens"),
      bpeishCount(col("text")).cast("long").as("n_bpeish_tokens"),
      length(regexp_replace(col("text"), "[^.,;:!?]", "")).cast("long")
        .as("n_punct"),
      size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*)))
        .cast("long").as("n_stopwords"),
      length(regexp_replace(col("text"), "[^A-Z]", "")).cast("long")
        .as("n_upper"),
      sents.as("n_sentences"),
      vow.as("n_vowel_groups"))
      .withColumn("flesch_milli", expr(
        "206835L - (1015L * n_ws_tokens) div n_sentences" +
          " - (84600L * n_vowel_groups) div greatest(n_ws_tokens, 1L)"))
  }

  /** Composite document-quality FILTER — the Gopher/C4-style keep-or-drop
    * decision (Rae et al. 2021 appendix A1.1, re-expressed as integer
    * arithmetic so the decision is float-free and the SQL oracle replicates
    * it bit-for-bit): token count in [30, 100000], mean token length in
    * [3, 10] (as sum-vs-n·bound products), ≥ 80% tokens containing a
    * letter, ≥ 2 stopword occurrences, and top-bigram repetition ≤ 20% of
    * bigrams.
    * One typed pass per doc (tokenize once, all counters fill in one scan —
    * same rationale as `langId`); emits every signal plus keep ∈ {0,1} so
    * downstream mixing can re-threshold without recomputing. */
  def qualityFilter(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val stops = stopwords.toSet
    df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val toks = wsPat.split(text.trim)
        val n = toks.length
        var sumChars = 0L
        var alpha = 0L
        var stop = 0L
        toks.foreach { t =>
          sumChars += t.length
          var hasAlpha = false
          var i = 0
          while (i < t.length && !hasAlpha) {
            val c = t.charAt(i)
            hasAlpha = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
            i += 1
          }
          if (hasAlpha) alpha += 1
          if (stops.contains(t)) stop += 1
        }
        val bigrams = new scala.collection.mutable.HashMap[String, Int]()
        var i = 0
        while (i < n - 1) {
          val k = toks(i) + " " + toks(i + 1)
          bigrams.update(k, bigrams.getOrElse(k, 0) + 1)
          i += 1
        }
        val topBigram = if (bigrams.isEmpty) 0L else bigrams.values.max.toLong
        val keep =
          n >= 30 && n <= 100000 &&
          sumChars >= 3L * n && sumChars <= 10L * n &&
          100L * alpha >= 80L * n &&
          stop >= 2 &&
          100L * topBigram <= 20L * math.max(n - 1, 1)
        (id, n.toLong, sumChars, alpha, stop, topBigram, if (keep) 1L else 0L)
      }
      .toDF("doc_id", "n_tokens", "sum_token_chars", "n_alpha_tokens",
        "n_stop_hits", "n_top_bigram", "keep")
  }

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "y", "las", "una"),
    "de" -> Seq("der", "die", "und", "das", "ein"))

  /** N-gram/stopword-marker language ID: hit counts per language plus an
    * argmax with fixed precedence (en > fr > es > de on ties).
    *
    * Single-pass typed map: the Column formulation re-inlined the
    * split+filter tokenizer into every argmax comparison under projection
    * collapse (the Catalyst trap fixed for shingleCounts in baa57d6),
    * measured 8× slower than the same-shaped qualityCounts. Here each doc is
    * tokenized exactly once and the four counters fill in one scan. */
  def langId(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val markers = langMarkers.map { case (l, ws) => (l, ws.toSet) }
    df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val hits = new Array[Int](markers.length)
        wsPat.split(text.trim).foreach { t =>
          var i = 0
          while (i < markers.length) {
            if (markers(i)._2.contains(t)) hits(i) += 1
            i += 1
          }
        }
        // first language (declared order) with hits > 0 and >= all others
        var pred = "und"
        var i = markers.length - 1
        while (i >= 0) {
          if (hits(i) > 0 && hits.forall(hits(i) >= _)) pred = markers(i)._1
          i -= 1
        }
        (id, hits(0), hits(1), hits(2), hits(3), pred)
      }
      .toDF("doc_id", "en_hits", "fr_hits", "es_hits", "de_hits", "lang_pred")
  }

  /** Winnowing fingerprint (Schleimer et al., SIGMOD'03): k-gram hashes,
    * minimum per sliding window (monotonic-deque, O(1) amortized per
    * position), distinct mins = the fingerprint. Typed map — sequential per
    * doc, parallel across docs.
    *
    * The k-gram hash is md5-low64 masked to 63 bits: a few ns/gram slower
    * than the polynomial rolling hash (kept below for reuse), but exactly
    * replicable in ANSI SQL (`md5_number_lower`), which buys the query a
    * full-value DuckDB oracle instead of a rows-only check. Output is one
    * row per (doc, fingerprint value) — all scalar columns. */
  def fingerprints(df: DataFrame, k: Int = 5, window: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val hs = kgramHashes(text, k)
        val fp =
          if (hs.isEmpty) Array.empty[Long]
          else if (hs.length <= window) Array(hs.min)
          else slidingMins(hs, window).distinct
        fp.sorted.map(h => (id, h))
      }
      .toDF("doc_id", "fp")
  }

  /** Context-window CHUNKING with stride overlap: split each doc's token
    * stream into windows of chunkSize = 64 tokens starting every stride = 48
    * tokens (overlap = chunkSize - stride), the standard shape for
    * training-sequence preparation. Typed flatMap, not Column HOFs — a
    * `transform(starts, s => slice(split(text), ...))` formulation re-inlines
    * the tokenizer per chunk (the measured O(tokens²) trap from
    * shingleCounts), while this tokenizes once per doc. Emits (doc_id,
    * chunk_idx, n_chunk_tokens, chunk_md5); chunk text itself stays out of the
    * shuffle — downstream joins re-fetch it by (doc_id, chunk_idx) when
    * needed. */
  def chunkDocs(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = wsPat.split(text.trim)
        (0 until toks.length by 48).zipWithIndex.map { case (st, idx) =>
          val chunk = toks.slice(st, math.min(st + 64, toks.length))
          (id, idx, chunk.length, md5Hex(chunk.mkString(" ")))
        }
      }
      .toDF("doc_id", "chunk_idx", "n_chunk_tokens", "chunk_md5")
  }

  /** Lowercase-hex md5 of a string — matches DuckDB's `md5()` (and Spark
    * SQL's `md5`) so chunk hashes oracle-compare exactly. */
  private[graft] def md5Hex(s: String): String = {
    val out = Corpus64.md5Digest(s.getBytes("UTF-8"), 0, -1)
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < out.length) {
      sb.append(Character.forDigit((out(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(out(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** md5-low64 (= DuckDB `md5_number_lower`) masked to 63 bits so both
    * engines stay in signed int64. */
  def md5Low63(s: String): Long = Corpus64.md5Low64(s) & Long.MaxValue

  /** One UTF-8 encode per doc; each k-gram hashes a window of the shared
    * byte array (no per-gram String/byte[] allocation). Valid because the
    * corpus text is ASCII-range; for multi-byte text the window arithmetic
    * would need char→byte offsets (DuckDB's substr is char-based). */
  def kgramHashes(text: String, k: Int): Array[Long] = {
    if (text.length < k) return Array.empty
    val bytes = text.getBytes("UTF-8")
    if (bytes.length == text.length) {
      Array.tabulate(text.length - k + 1)(i =>
        Corpus64.md5Low64(bytes, i, k) & Long.MaxValue)
    } else { // non-ASCII fallback: char-correct, slower
      Array.tabulate(text.length - k + 1)(i => md5Low63(text.substring(i, i + k)))
    }
  }

  /** Minimum of each length-`window` sliding window via a monotonic deque —
    * O(n) total, no per-position buffer allocation. */
  private[graft] def slidingMins(hs: Array[Long], window: Int): Array[Long] = {
    val out = new Array[Long](hs.length - window + 1)
    val deque = new Array[Int](hs.length) // indices, increasing hs values
    var head = 0
    var tail = 0 // exclusive
    var i = 0
    while (i < hs.length) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - window) head += 1
      if (i >= window - 1) out(i - window + 1) = hs(deque(head))
      i += 1
    }
    out
  }
}
