package graft.ops

import java.util.regex.Pattern
import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

/** Corpus-statistics operators a training-data pipeline runs ahead of
  * filtering/mixing: vocabulary document-frequency (IDF tables), PII
  * scrubbing, repetition-based quality signals (Gopher-style), and
  * source/language mixture rollups. All outputs are integer/string-exact
  * so the DuckDB oracles hash-match. */
object CorpusOps {
  private val wsPat = Pattern.compile("\\s+")

  /** HyperLogLog precision of `hllRegisters`, `hllValidate` and
    * `hllIntersect`: 2^6 = 64 registers. */
  private val HllP = 6

  /** Count-min sketch shape (rows × buckets) shared by `countMinSketch`
    * and `cmsValidate`. */
  private val CmsDepth = 4
  private val CmsWidth = 256

  /** The fixed sizes of the other corpus ops. */
  private val CmsTopK = 20            // tokens cmsValidate checks
  private val DriftTopK = 100         // tokens tokenDrift reports
  private val OovVocab = 20           // oovStats' induced vocabulary
  private val DomainCap = 10          // docs per source domainCap keeps
  private val OverlapW = 4            // sourceOverlap's w-gram width...
  private val OverlapMaxDf = 64       // ...and its df cap, in sources
  private val BpePairTopK = 50        // pairs bpePairCounts reports
  private val QuantileSampleK = 256   // quantileValidate's sample size
  private val MixBudgetPct = 60       // mixturePlan's budget, % of supply
  private val WaterfillNum = 2L       // budgetWaterfill's budget is
  private val WaterfillDen = 5L       // total · Num / Den tokens
  private val CoverageGrid = Seq(3, 10, 30, 100, 1000, 10000) // vocabCoverage ranks

  /** Word w-gram width of `decontaminate` and of the streaming
    * `StreamingExtraction.decontaminateStream`. */
  private[graft] val DecontamW = 4

  /** The value of a one-row `sum` aggregate; 0 when it summed no rows
    * (SQL's sum of nothing is null). */
  private[ops] def sumOrZero(agg: DataFrame): Long = {
    val r = agg.collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Vocabulary stats: per token, the number of documents containing it
    * (doc_freq — the IDF numerator) and its total term frequency. One
    * typed pass per doc (per-doc counts in a hash map), then one keyed
    * partial+final aggregation — the vocabulary table this produces is
    * what tokenizer training / IDF weighting consumes. Scale shape:
    * explode-free map + single shuffle keyed by token. */
  def tokenDf(df: DataFrame): DataFrame =
    tokenTf(df)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("doc_freq"), sum(col("tf")).as("term_freq"))

  /** Per-doc token term frequencies (doc_id, token, tf) — one typed pass per
    * doc with a local hash map (explode-free: raw text never shuffles). */
  def tokenTf(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val counts = new java.util.HashMap[String, Long]()
        wsPat.split(text.trim).foreach { t =>
          counts.merge(t, 1L, (a, b) => a + b)
        }
        import scala.jdk.CollectionConverters._
        counts.asScala.iterator.map { case (t, n) => (id, t, n) }
      }
      .toDF("doc_id", "token", "tf")
  }

  // RE2-compatible patterns (the oracle runs them in DuckDB): no
  // lookaround, no backrefs.
  val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val longDigitPat = "[0-9]{10,}"

  /** PII scrub: emails → <EMAIL>, 10+-digit runs → <PHONE>. Output is the
    * scrubbed text's md5 (exact equality gate without shipping full text
    * through the compare) plus the match counts. Pure codegen'd column
    * expressions — regexp_replace/regexp_count run inside whole-stage
    * codegen, no UDF. */
  def piiScrub(df: DataFrame): DataFrame =
    df.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(emailPat), lit(0)))
        .as("n_emails"),
      size(regexp_extract_all(
        regexp_replace(col("text"), emailPat, "<EMAIL>"),
        lit(longDigitPat), lit(0))).as("n_phones"),
      md5(regexp_replace(
        regexp_replace(col("text"), emailPat, "<EMAIL>"),
        longDigitPat, "<PHONE>").cast("binary")).as("scrubbed_md5"))

  /** Repetition/diversity quality signals (Gopher-style filters): token
    * count, distinct-token count, and the highest bigram repetition count.
    * Typed single pass per doc. */
  def repetitionStats(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val toks = wsPat.split(text.trim)
        val distinct = new java.util.HashSet[String]()
        toks.foreach(distinct.add)
        val bigrams = new java.util.HashMap[String, Int]()
        var top = 0
        var i = 0
        while (i < toks.length - 1) {
          val b = toks(i) + " " + toks(i + 1)
          val n = bigrams.merge(b, 1, (a, x) => a + x)
          if (n > top) top = n
          i += 1
        }
        (id, toks.length, distinct.size, top)
      }
      .toDF("doc_id", "n_tokens", "n_distinct_tokens", "top_bigram_count")
  }

  /** Source/language mixture rollup — the sampling-weights table a corpus
    * mixer consumes. Plain partial+final hash aggregation. */
  def sourceRollup(df: DataFrame): DataFrame =
    df.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        max(col("n_chars")).as("max_chars"))

  /** Count-Min Sketch of token frequencies (Cormode & Muthukrishnan '05):
    * `CmsDepth` hash rows × `CmsWidth` buckets; every token occurrence increments
    * one bucket per row, and a point estimate is the min over rows. The
    * sketch is THE mergeable fixed-size summary for heavy-hitter detection
    * on unbounded vocabularies: per-partition sub-sketches merge by cell
    * addition (here: the same partial+final hash aggregation), so at 100 TB
    * the shuffle is depth×width cells per partition regardless of corpus
    * size. Row hashes are salted md5-low63 (= DuckDB `md5_number_lower`
    * masked), so the cell table is exactly replicable in SQL. Output:
    * nonzero cells (row, bucket, count). */
  def countMinSketch(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("text")).as[String]
      .flatMap { text =>
        // pre-aggregate per doc: emit each cell once with its local count
        val cells = new java.util.HashMap[Long, Long]() // (row<<32|bucket) -> n
        wsPat.split(text.trim).foreach { t =>
          var r = 0
          while (r < CmsDepth) {
            val b = (TextOps.md5Low63(t + "#" + r) % CmsWidth).toInt
            cells.merge((r.toLong << 32) | b, 1L, (a, x) => a + x)
            r += 1
          }
        }
        import scala.jdk.CollectionConverters._
        cells.asScala.iterator.map { case (k, n) =>
          ((k >>> 32).toInt, (k & 0xffffffffL).toInt, n)
        }
      }
      .toDF("row", "bucket", "n")
      .groupBy(col("row"), col("bucket"))
      .agg(sum(col("n")).as("count"))
  }

  /** HyperLogLog registers (Flajolet et al. '07) over the token vocabulary:
    * 2^p registers (p = `HllP`), each holding max(rho) where rho = 1 +
    * leading-zero count of the hash suffix. Like the count-min sketch, the
    * register table is THE mergeable cardinality summary: per-partition
    * sub-sketches merge by register-wise max (here: the same partial+final max
    * aggregation), so the shuffle is 2^p rows per partition regardless of
    * corpus size — the scalable alternative to count(DISTINCT token) when the
    * vocabulary outgrows memory. Hash is md5-low63 (= DuckDB
    * `md5_number_lower` masked), so the register table is exactly replicable
    * in SQL (rho via 58 - length(bin(v)) — bin() prints no leading zeros).
    * Output: nonzero registers (bucket, max_rho). */
  def hllRegisters(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val p = HllP
    val m = 1 << p
    val w = 63 - p // hash-suffix width in bits (the md5-low hash is masked to 63)
    df.select(col("text")).as[String]
      .flatMap { text =>
        // pre-aggregate per doc: one register array, emit nonzero cells
        val regs = new Array[Int](m)
        wsPat.split(text.trim).foreach { t =>
          val h = TextOps.md5Low63(t)
          val b = (h & (m - 1)).toInt
          val v = h >>> p
          val rho =
            if (v == 0L) w + 1
            else w + 1 - (64 - java.lang.Long.numberOfLeadingZeros(v))
          if (rho > regs(b)) regs(b) = rho
        }
        Iterator.range(0, m).filter(regs(_) > 0).map(b => (b, regs(b)))
      }
      .toDF("bucket", "rho")
      .groupBy(col("bucket"))
      .agg(max(col("rho")).as("max_rho"))
  }

  /** Deterministic Bloom filter over the corpus token stream: mBits bits,
    * k salted md5-low63 hashes per token. Built as a typed `Aggregator`
    * whose buffer is the fixed-size bit array and whose merge is bitwise
    * OR — the canonical mergeable membership summary: partial filters build
    * map-side and the shuffle is mBits/8 bytes per partition total,
    * independent of corpus size. (Use: pre-filtering a dedup drop-list or
    * a seen-URL set before the expensive keyed join; no false negatives.)
    * Output: nonzero 32-bit words (word_idx, bits) — 32-bit chunks keep
    * every value positive-int64 so the DuckDB replica (sum of 1<<(bit%32)
    * over distinct set bits) is overflow-free. */
  def bloomFilter(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val mBits = 2048 // filter size in bits (a multiple of 64)
    val k = 3        // salted hashes per token
    import org.apache.spark.sql.{Encoder, Encoders}
    val agg = new org.apache.spark.sql.expressions.Aggregator[String, Array[Long], Array[Long]] {
      def zero: Array[Long] = new Array[Long](mBits / 64)
      def reduce(b: Array[Long], text: String): Array[Long] = {
        wsPat.split(text.trim).foreach { t =>
          var j = 0
          while (j < k) {
            val bit = (TextOps.md5Low63(t + "!" + j) % mBits).toInt
            b(bit >> 6) |= (1L << (bit & 63))
            j += 1
          }
        }
        b
      }
      def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
        var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }; a
      }
      def finish(b: Array[Long]): Array[Long] = b
      def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
      def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    }
    df.select(col("text")).as[String]
      .select(agg.toColumn.name("words"))
      .flatMap { words =>
        Iterator.range(0, mBits / 32).map { wi =>
          (wi, (words(wi >> 1) >>> ((wi & 1) * 32)) & 0xffffffffL)
        }.filter(_._2 != 0L)
      }
      .toDF("word_idx", "bits")
  }

  /** TF-IDF text similarity search: the top `SimilarityOps.RecallK` most
    * similar documents per query doc (doc_id < `RecallQueries`; the text
    * counterpart of the embedding ANN family). Integer-exact across
    * engines: idf = (N·100) div df (integer division — no log, whose
    * last-ulp could diverge between JVMs/engines), weight = tf·idf,
    * score = dot product accumulated ONLY over shared tokens via the token
    * inverted index — never a dense doc×doc product. Top-k via the
    * bounded-heap Aggregator (partial top-k map-side). At web scale the
    * inverted index is additionally df-capped (stop-tokens pair everything
    * with everything and carry no signal); uncapped here because the DuckDB
    * oracle replicates the exact uncapped ranking. */
  def tfidfTopK(df: DataFrame): DataFrame = {
    val n = df.count() // one cheap metadata-ish pass; a known table stat at scale
    val tf = tokenTf(df)
    val idf = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .select(col("token"), expr(s"(${n}L * 100L) div df").as("idf"))
    // vocabulary is ≪ corpus: broadcast the idf table into the weight join
    val w = tf.join(broadcast(idf), "token")
      .select(col("doc_id"), col("token"), (col("tf") * col("idf")).as("wt"))
    val qw = w.where(col("doc_id") < SimilarityOps.RecallQueries)
      .select(col("doc_id").as("query_id"), col("token").as("q_token"),
        col("wt").as("q_wt"))
    val scored = w.join(broadcast(qw),
        col("token") === col("q_token") && col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id").as("neighbor_id"))
      .agg(sum(col("wt") * col("q_wt")).cast("double").as("score")) // dots ≪ 2^53: exact
    SimilarityOps.rankTopK(scored, SimilarityOps.RecallK)
  }

  /** tokenTf plus the document's total token count on every row — len is
    * row-local (computed in the same typed pass), so BM25's length
    * normalization needs no doc-length join. */
  private def tokenTfWithLen(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = wsPat.split(text.trim)
        val counts = new java.util.HashMap[String, Long]()
        toks.foreach(t => counts.merge(t, 1L, (a, b) => a + b))
        import scala.jdk.CollectionConverters._
        counts.asScala.iterator.map { case (t, n) =>
          (id, t, n, toks.length.toLong)
        }
      }
      .toDF("doc_id", "token", "tf", "len")
  }

  /** Okapi BM25 top-k retrieval — the ranking function the TF-IDF family
    * (p23) graduates to in production retrieval stacks. Integer-exact
    * across engines: with k1=1.2, b=0.75 the per-term contribution is ONE
    * integer division
    *   contrib = idf · ((22000·L·tf) div (10·L·tf + 3·L + 9·N·len))
    * — the Okapi term with numerator and denominator both scaled by 10·L
    * (L = total corpus tokens, N = docs, len = doc tokens; extra ×1000 for
    * ranking granularity; idf = p23's (N·100) div df). Integer div
    * quantizes identically in both engines and keeps the per-(query,doc)
    * sum order-independent — no float accumulation drift ever. Query-side
    * weight is the standard short-query simplification (qtf = 1 per
    * distinct query token). Scale shape = tfidfTopK: inverted-index join
    * on token (df-cappable), broadcast idf + query tokens, bounded-heap
    * top-k. N and L are table stats (two cheap aggregates here, catalog
    * stats at 10^12 rows — where the production variant also pre-divides
    * L out of the scaling so 22000·L·tf stays in range). */
  def bm25TopK(df: DataFrame): DataFrame = {
    val n = df.count()
    val tf = tokenTfWithLen(df)
    // an empty corpus sums to L = 0, and the division below then raised
    // DIVIDE_BY_ZERO; any non-empty corpus has L >= 1 already
    val bigL = math.max(sumOrZero(tf.agg(sum(col("tf")))), 1L)
    val idf = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      // L-suffixed literals: under ANSI mode a bare interpolated count
      // parses as INT32 and 22000 * L overflows once L > ~97k (hit at
      // sf0.1, L = 270704) — every factor must enter as BIGINT
      .select(col("token"), expr(s"(${n}L * 100L) div df").as("idf"))
    val w = tf.join(broadcast(idf), "token")
      .select(col("doc_id"),
        col("token"),
        expr(s"idf * ((22000L * ${bigL}L * tf) div " +
          s"(10L * ${bigL}L * tf + 3L * ${bigL}L + 9L * ${n}L * len))").as("wt"))
    val q = tf.where(col("doc_id") < SimilarityOps.RecallQueries)
      .select(col("doc_id").as("query_id"), col("token").as("q_token"))
    val scored = w.join(broadcast(q),
        col("token") === col("q_token") && col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id").as("neighbor_id"))
      .agg(sum(col("wt")).cast("double").as("score")) // wt sums ≪ 2^53: exact
    SimilarityOps.rankTopK(scored, SimilarityOps.RecallK)
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09) — the standard
    * hybrid-retrieval combiner: each input ranking contributes
    * `scale div (rrfK + rank)` per (query, neighbor), candidates are
    * re-ranked by the summed contribution, and the top 10 per query are
    * kept. Integer contributions (scale = 10^6, the classic rrfK = 60)
    * make the fused score engine-exact — no float reciprocals whose last
    * ulp could reorder a tie. Inputs are (query_id, rank, neighbor_id)
    * rankings from ANY retrievers (BM25, TF-IDF, ANN); a candidate absent
    * from one list simply lacks that term, exactly the RRF contract. Scale
    * shape: the fused state is |queries|·k·|rankings| rows — trivially
    * small next to the retrieval passes that produced it; one keyed
    * aggregation + the bounded-heap top-k, no raw text or vectors
    * anywhere. */
  def rrfFuse(rankings: Seq[DataFrame]): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val contrib = rankings.map(_.select(col("query_id"), col("neighbor_id"),
        expr("1000000 div (60 + rank)").as("score")))
      .reduce(_ unionAll _)
    val fused = contrib.groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("score")).cast("double").as("score")) // ≤ |rankings|·scale: exact
    SimilarityOps.rankTopK(fused, 10)
  }

  /** Corpus DRIFT monitor between two snapshots — the
    * distribution-shift alarm a continuously-crawled corpus needs: per
    * token, occurrence rates in parts-per-million on each side
    * (integer floor division, engine-exact) and the absolute rate
    * delta, top `DriftTopK` by drift. A token surging between crawls (spam
    * template, new boilerplate, seasonal burst) surfaces at the top;
    * p48's row-level snapshot diff says WHICH docs changed, this says
    * what the change did to the token distribution. Scale shape: each
    * side collapses to a vocab-sized count table before the one
    * full-outer token join; totals are two scalar aggregates (catalog
    * stats at 10^12 rows); raw text never shuffles. */
  def tokenDrift(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val scale = 1000000L // rates in parts per million
    def counts(df: DataFrame) =
      tokenTf(df).groupBy(col("token")).agg(sum(col("tf")).as("c"))
    val o = counts(oldSnap)
    val n = counts(newSnap)
    val totO = math.max(sumOrZero(o.agg(sum(col("c")))), 1L)
    val totN = math.max(sumOrZero(n.agg(sum(col("c")))), 1L)
    o.as("o").join(n.as("n"), col("o.token") === col("n.token"),
        "full_outer")
      .select(coalesce(col("o.token"), col("n.token")).as("token"),
        coalesce(col("o.c"), lit(0L)).as("c_old"),
        coalesce(col("n.c"), lit(0L)).as("c_new"))
      .select(col("token"), col("c_old"), col("c_new"),
        expr(s"(c_old * ${scale}L) div ${totO}L").as("rate_old_ppm"),
        expr(s"(c_new * ${scale}L) div ${totN}L").as("rate_new_ppm"))
      .withColumn("drift_ppm",
        abs(col("rate_new_ppm") - col("rate_old_ppm")))
      .orderBy(col("drift_ppm").desc, col("token"))
      .limit(DriftTopK)
  }

  /** Feature-HISTOGRAM drift census between two corpus snapshots — the
    * PSI/TVD-style monitor a production pipeline alarms on (tokenDrift
    * watches the token distribution; this watches a bounded FEATURE
    * binning, the form drift dashboards actually chart): per bin of
    * `binCol`, counts and parts-per-million shares on each side plus the
    * absolute share delta. Total variation distance = Σ delta_ppm / 2 is
    * derivable by the reader; everything is integer (ppm via div on
    * nonnegative operands — Spark div ≡ DuckDB //), so the census is
    * bit-stable under any partitioning. Scale shape: each snapshot
    * collapses to ≤ bins rows before one full-outer join; raw text never
    * shuffles. */
  def driftCensus(v1: DataFrame, v2: DataFrame, binCol: Column): DataFrame = {
    def counts(df: DataFrame) = df.select(binCol.cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("c"))
    val a = counts(v1)
    val b = counts(v2)
    val totA = math.max(a.agg(sum(col("c"))).collect()(0).getLong(0), 1L)
    val totB = math.max(b.agg(sum(col("c"))).collect()(0).getLong(0), 1L)
    a.as("a").join(b.as("b"), col("a.bin") === col("b.bin"), "full_outer")
      .select(coalesce(col("a.bin"), col("b.bin")).as("bin"),
        coalesce(col("a.c"), lit(0L)).as("n_v1"),
        coalesce(col("b.c"), lit(0L)).as("n_v2"))
      .select(col("bin"), col("n_v1"), col("n_v2"),
        expr(s"(n_v1 * 1000000L) div ${totA}L").as("share_v1_ppm"),
        expr(s"(n_v2 * 1000000L) div ${totB}L").as("share_v2_ppm"))
      .withColumn("delta_ppm",
        abs(col("share_v1_ppm") - col("share_v2_ppm")))
      .orderBy(col("bin"))
  }

  /** DSIR-style importance scoring (Xie et al., NeurIPS'23 — "Data
    * Selection for Language Models via Importance Resampling"): rank raw
    * corpus documents by how target-like their token distribution is. The
    * per-token importance ratio is Laplace-smoothed target-vs-corpus
    * unigram frequency on a fixed integer grid
    *   w(t) = ((tc(t) + 1) · 10^4) div (cc(t) + 1)
    * and each doc scores the length-normalized weighted sum
    *   score = (Σ tf·w) div len
    * — all integer, so the selection order is engine-exact (the published
    * method's log-ratio sum only reorders ties differently; the ratio
    * grid keeps the oracle float-free). Scale shape: both count tables
    * are vocab-sized; the weight table broadcasts into the per-doc
    * aggregation keyed on doc_id — raw text tokenizes once
    * (`tokenTfWithLen`) and never shuffles; the target set is exemplar-
    * sized (MBs against 100 TB) by construction. */
  def dsirScores(corpus: DataFrame, target: DataFrame): DataFrame = {
    val tf = tokenTfWithLen(corpus)
    val cc = tf.groupBy(col("token")).agg(sum(col("tf")).as("cc"))
    val tc = tokenTf(target).groupBy(col("token"))
      .agg(sum(col("tf")).as("tc"))
    val w = cc.join(tc, Seq("token"), "left")
      .select(col("token"),
        expr("((coalesce(tc, 0) + 1) * 10000) div (cc + 1)").as("w"))
    tf.join(broadcast(w), "token")
      .groupBy(col("doc_id"))
      .agg(max(col("len")).as("len"), // row-constant per doc
        sum(col("tf") * col("w")).as("raw_score"))
      .select(col("doc_id"), col("len"), col("raw_score"),
        expr("raw_score div len").as("score"))
  }

  /** Token-coverage / OOV statistics against an INDUCED top-V vocabulary —
    * the tokenizer-evaluation primitive: induce vocab = the `OovVocab`
    * highest-term-frequency tokens (ties broken by token text, so the
    * boundary is deterministic cross-engine), then per doc count the
    * occurrences (n_oov_tokens) and distinct types (n_oov_types) falling
    * outside it. Scale shape: everything runs over the (doc_id, token, tf)
    * table — raw text tokenizes once in `tokenTf`'s typed pass; the vocab
    * is V rows, broadcast into a left join marker; one keyed aggregation
    * per doc. Every doc appears (zero counts included) since every doc has
    * at least one token row. */
  def oovStats(df: DataFrame): DataFrame = {
    val tf = tokenTf(df)
    val vocab = tf.groupBy(col("token"))
      .agg(sum(col("tf")).as("term_freq"))
      .orderBy(col("term_freq").desc, col("token"))
      .limit(OovVocab)
      .select(col("token"), lit(1).as("__v"))
    tf.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(when(col("__v").isNull, col("tf")).otherwise(0L))
             .as("n_oov_tokens"),
           sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_oov_types"))
  }

  /** Benchmark DECONTAMINATION — the train/eval overlap check every LLM
    * data pipeline runs before training: flag corpus documents that share
    * any word w-gram with an evaluation/benchmark set (the GPT-3 appendix-C
    * rule; 13-grams there, `DecontamW`-grams here). Returns
    * (doc_id, n_hit_grams) for each contaminated corpus doc — n_hit_grams =
    * how many of its distinct w-grams appear anywhere in the benchmark.
    *
    * Scale shape: the corpus side never shuffles its text — each doc maps
    * to distinct 8-byte gram hashes and only those flow into the overlap
    * join. Eval sets are MBs against a 100-TB corpus, so the benchmark
    * gram set broadcasts and the whole op is ONE narrow pass over the
    * corpus plus a map-side hash probe. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def grams(df: DataFrame): DataFrame =
      df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          DedupOps.gramHashes(text, DecontamW).iterator.map(h => (id, h))
        }
        .toDF("doc_id", "h")
    val benchGrams = grams(benchmark).select(col("h")).distinct()
    grams(corpus).join(broadcast(benchGrams), "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_grams"))
  }

  /** Exact-QUOTA stratified sampling — the mixing primitive when the recipe
    * says "exactly n docs per language", not a rate: rank docs within each
    * stratum by md5-low63(doc_id‖"qta") (a deterministic, engine-independent
    * shuffle order; ties impossible since doc_id is unique per stratum) and
    * keep rank ≤ quota. One exchange keyed by the stratum, then the rank
    * window — the same formulation as the SQL oracle. */
  def quotaSample(df: DataFrame, quotaByLang: Map[String, Int],
                  defaultQuota: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val rates = quotaByLang
    val keyed = df.select(col("doc_id").cast("long"), col("lang"))
      .as[(Long, String)]
      .map { case (id, lang) =>
        (id, lang, TextOps.md5Low63(id.toString + "|qta"),
          rates.getOrElse(lang, defaultQuota)) }
      .toDF("doc_id", "lang", "rk_hash", "quota")
    keyed
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("rk_hash"), col("doc_id"))))
      .where(col("rk") <= col("quota"))
      .select(col("doc_id"), col("lang"))
  }

  /** Deterministic stratified sampling — the corpus-mixing primitive. Keep a
    * row iff md5-low63(key‖"smp") mod 100 < rate(stratum); rates per language
    * here. Unlike `sampleBy` (seeded RNG, partition-order-sensitive and not
    * reproducible outside Spark), the hash rule is a pure row function:
    * re-runs, retries, and other engines (the DuckDB oracle) select the
    * exact same rows. Narrow: filter only, no shuffle. */
  def hashSample(df: DataFrame, ratePctByLang: Map[String, Int],
                 defaultPct: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rates = ratePctByLang // serializable copy for the closure
    df.select(col("doc_id").cast("long"), col("lang")).as[(Long, String)]
      .filter { case (id, lang) =>
        val r = rates.getOrElse(lang, defaultPct)
        TextOps.md5Low63(id.toString + "|smp") % 100 < r
      }
      .toDF("doc_id", "lang")
  }

  /** Per-SOURCE document caps — the Common-Crawl-style "keep at most `DomainCap`
    * docs per domain, best first" mixing rule (quality rank = longer doc
    * wins, doc_id breaks ties). Map-side partial top-k: every input
    * partition keeps a `TopK` buffer of the cap best (n_chars, doc_id)
    * candidates per source it sees, then ONE source-keyed exchange of
    * ≤ cap rows/source/partition merges the partials — never a full
    * per-source sort, state O(sources × cap) per task. Entries are
    * (0.0, −n_chars, doc_id), so TopK's order (a asc, then b asc) is
    * exactly n_chars desc, doc_id asc. Output (doc_id, source, n_chars,
    * rk) with rk = 1-based quality rank inside the source. The SQL oracle
    * is the row_number() window formulation. */
  def domainCap(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val partial = df
      .select(col("doc_id").cast("long"), col("source"),
        col("n_chars").cast("long"))
      .as[(Long, String, Long)]
      .mapPartitions { it =>
        val bufs = scala.collection.mutable.HashMap[String, TopK.Buf]()
        it.foreach { case (id, src, n) =>
          bufs(src) = TopK.insert(DomainCap, bufs.getOrElse(src, TopK.emptyBuf),
            0.0, -n, id)
        }
        bufs.iterator.flatMap { case (src, (_, negN, ids)) =>
          negN.indices.iterator.map(i => (src, -negN(i), ids(i)))
        }
      }
    partial.groupByKey(_._1)
      .flatMapGroups { (src, it) =>
        var buf = TopK.emptyBuf
        it.foreach { case (_, n, id) =>
          buf = TopK.insert(DomainCap, buf, 0.0, -n, id)
        }
        buf._2.indices.map(i => (buf._3(i), src, -buf._2(i), (i + 1).toLong))
      }
      .toDF("doc_id", "source", "n_chars", "rk")
  }

  /** HLL sketch VALIDATION — the estimator earns its 10^12-row claim by
    * being checked against the exact cardinality it approximates, on a
    * stream big enough (distinct (doc, token) pairs, n ≫ m) that the raw
    * estimator branch — the operative one at web scale — is exercised.
    * The estimate is computed in INTEGER arithmetic (denominator
    * Σⱼ 2^(30−min(ρⱼ,30)), α scaled to 709/1000) so engine and DuckDB
    * oracle agree bit-for-bit — no float summation-order hazard. Register
    * build is the same one-pass pre-aggregated kernel as `hllRegisters`;
    * only m register rows and one count cross the wire. Output one row:
    * (m, n_exact, est_int, err_permille); on an empty input n_exact is 0
    * and err_permille is null (the oracle's `// 0`). */
  def hllValidate(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val p = HllP
    val m = 1 << p
    val w = 63 - p
    val regRows = df.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val regs = new Array[Int](m)
        wsPat.split(text.trim).foreach { t =>
          val h = TextOps.md5Low63(id.toString + "|" + t)
          val b = (h & (m - 1)).toInt
          val v = h >>> p
          val rho =
            if (v == 0L) w + 1
            else w + 1 - (64 - java.lang.Long.numberOfLeadingZeros(v))
          if (rho > regs(b)) regs(b) = rho
        }
        Iterator.range(0, m).filter(regs(_) > 0).map(b => (b, regs(b)))
      }
      .toDF("bucket", "rho")
      .groupBy(col("bucket")).agg(max(col("rho")).as("rho"))
      .as[(Int, Int)].collect() // m rows — the sketch, not the data
    val rho = new Array[Int](m)
    regRows.foreach { case (b, r) => rho(b) = r }
    var denom = 0L
    var j = 0
    while (j < m) { denom += 1L << (30 - math.min(rho(j), 30)); j += 1 }
    val est = 709L * m * m * (1L << 30) / denom / 1000L
    val nExact = df.select(col("text")).as[String]
      .map(t => wsPat.split(t.trim).toSet.size.toLong)
      .rdd.fold(0L)(_ + _) // per-doc distinct tokens; key carries doc_id,
                           // so the global distinct count is their plain sum
    val errPm =
      if (nExact == 0L) None else Some(math.abs(est - nExact) * 1000L / nExact)
    Seq((m.toLong, nExact, est, errPm))
      .toDF("m", "n_exact", "est_int", "err_permille")
  }

  /** HLL sketch ALGEBRA: estimate the token-vocabulary INTERSECTION of two
    * corpus slices by inclusion–exclusion over mergeable registers —
    * est(A∩B) = est(A) + est(B) − est(A∪B), where the union sketch is the
    * cellwise register max (the only set op HLL supports natively; the
    * intersection estimate inherits both sketches' error and can go
    * negative on tiny overlaps, which is why the exact count rides along).
    * Completes the sketch-algebra story over p20's registers and p35's
    * integer estimator: at 10^12 docs per-slice sketches are m-row
    * aggregates that union WITHOUT rescanning either slice. The exact
    * intersection is a keys-only distinct-token join (per-doc hash-map
    * tokenize, never a raw-text explode). All arithmetic integer — the
    * oracle replicates bit-for-bit. */
  def hllIntersect(df: DataFrame, langA: String, langB: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val m = 1 << HllP
    def regsOf(lang: String): Array[Int] = {
      val out = new Array[Int](m)
      hllRegisters(df.where(col("lang") === lang))
        .as[(Int, Int)].collect() // ≤ m rows — the sketch, not the data
        .foreach { case (b, r) => out(b) = r }
      out
    }
    val ra = regsOf(langA)
    val rb = regsOf(langB)
    val ru = Array.tabulate(m)(i => math.max(ra(i), rb(i)))
    def est(r: Array[Int]): Long = {
      var denom = 0L
      var j = 0
      while (j < m) { denom += 1L << (30 - math.min(r(j), 30)); j += 1 }
      709L * m * m * (1L << 30) / denom / 1000L
    }
    def tokSet(lang: String) =
      tokenTf(df.where(col("lang") === lang)).select(col("token")).distinct()
    val nInter = tokSet(langA).join(tokSet(langB), "token").count()
    val (ea, eb, eu) = (est(ra), est(rb), est(ru))
    Seq((m.toLong, nInter, ea, eb, eu, ea + eb - eu))
      .toDF("m", "n_exact_inter", "est_a", "est_b", "est_union", "est_inter")
  }

  /** Word w-gram width of `repeatedGramStats`. */
  private val RepeatedGramW = 4

  /** Cross-document REPEATED-PASSAGE coverage (RefinedWeb-style signal):
    * for each doc, how many of its distinct word 4-grams also occur in at
    * least one other document. High coverage = boilerplate /
    * template page → downweight or drop before training. Raw text never
    * shuffles: docs reduce to 8-byte masked-md5 gram hashes
    * (`DedupOps.gramHashes`, the p27 kernel), the repeated-gram set is one
    * hash-keyed agg, and the coverage count is a keys-only join back.
    * Output (doc_id, n_grams, n_repeated_grams). */
  def repeatedGramStats(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val g = df.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        DedupOps.gramHashes(text, RepeatedGramW).iterator.map(h => (id, h))
      }
      .toDF("doc_id", "h")
    val totals = g.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    val repeated = g.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") >= 2).select(col("h")) // in two or more docs
    val hits = g.join(repeated, "h")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_rep"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_rep"), lit(0L)).as("n_repeated_grams"))
  }

  /** Count-Min sketch VALIDATION — the heavy-hitter companion to
    * `hllValidate`: the point estimates (min over the sketch's depth rows)
    * for the top-`CmsTopK` tokens are checked against their exact occurrence
    * counts. CMS guarantees est ≥ exact with bounded overshoot — both
    * quantities here are plain integers, so the oracle replicates the
    * check bit-for-bit. The sketch (depth×width cells) and the top-K list
    * collect to the driver — that bounded size is the sketch's whole
    * contract; the corpus-side work is the same one-pass pre-aggregated
    * cell build as `countMinSketch` plus one token-keyed agg. Output per
    * top token: (token, exact_count, est_count, overshoot ≥ 0). */
  def cmsValidate(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cells = countMinSketch(df)
      .as[(Int, Int, Long)].collect()
      .map { case (r, b, n) => ((r, b), n) }.toMap
    val top = tokenTf(df).groupBy(col("token"))
      .agg(sum(col("tf")).cast("long").as("exact_count"))
      .orderBy(col("exact_count").desc, col("token"))
      .limit(CmsTopK)
      .as[(String, Long)].collect()
    val rows = top.map { case (t, exact) =>
      var est = Long.MaxValue
      var r = 0
      while (r < CmsDepth) {
        val b = (TextOps.md5Low63(t + "#" + r) % CmsWidth).toInt
        est = math.min(est, cells.getOrElse((r, b), 0L))
        r += 1
      }
      (t, exact, est, est - exact)
    }
    rows.toSeq.toDF("token", "exact_count", "est_count", "overshoot")
  }

  /** Vocabulary size of `surprisalScores`: rarer tokens score as tf = 1. */
  private val SurprisalVocab = 20

  /** Unigram SURPRISAL quality score — the integer-arithmetic stand-in for
    * perplexity filtering (CCNet-style): each token occurrence contributes
    * bitlen(N) − bitlen(tf(token)) ≈ log₂(N / tf), summed per doc. All in
    * integer bit-length math (`bin()` exists in both Spark and DuckDB with
    * identical no-leading-zeros semantics), so the score is engine-exact —
    * no float log. Tokens outside the induced top-`SurprisalVocab` vocab score
    * as tf = 1 (maximum surprisal), the same deterministic
    * (freq DESC, token ASC) vocab boundary as `oovStats`. Scale shape:
    * tokenize once into (doc, token, tf); global tf is one token-keyed
    * agg; the vocab broadcasts; the per-doc score is one keyed agg with
    * the bit-length arithmetic inside codegen. */
  def surprisalScores(df: DataFrame): DataFrame = {
    val tf = tokenTf(df)
    val global = tf.groupBy(col("token")).agg(sum(col("tf")).as("gtf"))
    val n = sumOrZero(global.agg(sum(col("gtf"))))
    val nBits = 64 - java.lang.Long.numberOfLeadingZeros(n)
    val vocab = global.orderBy(col("gtf").desc, col("token"))
      .limit(SurprisalVocab)
    tf.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        sum(col("tf") *
            (lit(nBits) - length(bin(coalesce(col("gtf"), lit(1L))))))
          .cast("long").as("surprisal"))
  }

  /** Inter-source w-gram overlap matrix — the cross-source duplication /
    * contamination census run before mixing corpora: distinct (source,
    * gram-hash) postings (`OverlapW`-grams), a df cap dropping stop-grams
    * present in more than `OverlapMaxDf` sources (bounds the self-join
    * fan-out at OverlapMaxDf² per
    * gram — p25's rule applied at source granularity; at web scale with
    * millions of domains this cap is what keeps the pair count finite),
    * then a hash-keyed self-join + pair rollup. Gram hashes are the same
    * masked md5-low63 the decontamination oracle replicates; the shuffle
    * carries only (source, 8-byte hash) — raw text never moves. The
    * distinct postings table feeds the df count AND both self-join sides;
    * exchange reuse does not fire across object-operator subtrees
    * (measured: four scans), and the postings are recomputed for each. */
  def sourceOverlap(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val grams = df.select(col("source"), col("text")).as[(String, String)]
      .flatMap { case (src, text) =>
        graft.ops.DedupOps.gramHashes(text, OverlapW).iterator.map(h => (src, h))
      }
      .toDF("source", "h").distinct()
    val kept = grams.join(
      grams.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .where(col("df") <= OverlapMaxDf).select(col("h")), "h")
    kept.as("l").join(kept.as("r"),
        col("l.h") === col("r.h") && col("l.source") < col("r.source"))
      .groupBy(col("l.source").as("src_a"), col("r.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Deterministic epoch shuffle-sharding — the data-ordering primitive
    * for multi-epoch training: shard(doc, epoch) = md5-low63("id:epoch") mod
    * 16 for epochs 0 and 1, a re-runnable engine-independent permutation per
    * epoch with no global sort and no materialized order (each epoch's reader
    * just filters its shard — a pure row-local predicate at 10^12 rows).
    * Output is the per-(epoch, shard) census proving balance + membership. */
  def epochShards(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long")).as[Long]
      .flatMap { id =>
        Iterator.tabulate(2) { e =>
          (e.toLong, TextOps.md5Low63(id.toString + ":" + e) % 16, id)
        }
      }
      .toDF("epoch", "shard", "doc_id")
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("doc_id")).cast("long").as("sum_doc_id"))
  }

  /** Adjacent-symbol-pair frequencies within whitespace tokens — the
    * statistic a BPE tokenizer trainer computes each merge iteration (this
    * is iteration 0 over the raw character alphabet; the argmax pair is
    * the first merge). One typed pass per doc with a local pair→count hash
    * map, so the shuffle carries (2-char pair, partial count) rows — the
    * pair vocabulary is bounded by the alphabet², never by the corpus.
    * Top-`BpePairTopK` via TakeOrderedAndProject (no global sort
    * materialization). */
  def bpePairCounts(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("text")).as[String]
      .flatMap { text =>
        val m = new java.util.HashMap[String, Long]()
        val toks = wsPat.split(text.trim)
        var t = 0
        while (t < toks.length) {
          val tok = toks(t)
          var i = 0
          while (i < tok.length - 1) {
            m.merge(tok.substring(i, i + 2), 1L, Long.box(_) + _)
            i += 1
          }
          t += 1
        }
        import scala.jdk.CollectionConverters._
        m.asScala.iterator.map { case (p, c) => (p, c) }
      }
      .toDF("pair", "cnt")
      .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(BpePairTopK)
  }

  /** Text normalization (the ftfy/whitespace-cleanup stage every crawl
    * pipeline runs before dedup): strip non-whitespace control characters,
    * collapse whitespace runs to single spaces, trim. A pure
    * regexp_replace chain — RE2-compatible patterns with identical
    * semantics in DuckDB (`\x0B` is removed by the control-strip in both
    * engines BEFORE the `\s` collapse, sidestepping the Java-vs-RE2
    * disagreement on whether vertical tab is `\s`). Zero shuffles: the
    * whole op runs inside the scan's WholeStageCodegen, so at 10^12 rows
    * it is scan-bandwidth-bound. Output is hash+length per doc so the
    * driver compare stays compact while pinning the exact normalized
    * bytes. */
  def normalizeText(df: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(regexp_replace(col("text"),
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""), "\\s+", " "))
    df.select(col("doc_id"),
      md5(norm.cast("binary")).as("norm_hash"),
      length(norm).cast("long").as("norm_len"),
      (length(col("text")) - length(norm)).cast("long").as("n_removed"))
  }

  /** Confusable characters the skeleton folds to ASCII (Unicode TR39
    * style, BMP one-to-one so Spark's UTF-16 translate and DuckDB's
    * codepoint translate agree): Cyrillic lookalikes а е о р с у х і ѕ ј,
    * plus zero-width characters (ZWSP/ZWNJ/ZWJ/BOM) deleted outright. */
  val confusableFrom = "\u0430\u0435\u043E\u0440\u0441\u0443\u0445\u0456\u0455\u0458" +
    "\u200B\u200C\u200D\uFEFF"
  val confusableTo = "aeopcyxisj"

  /** Homoglyph-skeleton dedup — the mixed-script spoof detector a web
    * corpus needs before exact dedup: SEO spam and template farms evade
    * hash dedup by swapping Latin letters for identical-looking Cyrillic
    * ones or sprinkling zero-width characters, so byte-level dedup sees
    * distinct documents. Skeleton = lower(translate(confusables→ASCII,
    * zero-widths→deleted)); groups whose skeletons collide while RAW
    * hashes differ are exactly the spoof clusters (exact duplicates stay
    * n_raw=1 and are excluded — they belong to p01). Pure codegen
    * translate/lower/md5 chain: the skeleton never leaves the scan stage,
    * only (16-byte hash) rows reach the one keyed aggregation. */
  def homoglyphDedup(df: DataFrame): DataFrame = {
    val skeleton = lower(translate(col("text"), confusableFrom, confusableTo))
    df.select(col("doc_id"), md5(skeleton.cast("binary")).as("skeleton_md5"),
        md5(col("text").cast("binary")).as("raw_md5"))
      .groupBy(col("skeleton_md5"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("raw_md5")).as("n_raw"),
           min(col("doc_id")).as("keeper_doc_id"))
      .where(col("n_docs") >= 2 && col("n_raw") >= 2)
      .orderBy(col("skeleton_md5"))
  }

  /** Merkle-style replica diff — anti-entropy for 10^12-row table copies:
    * comparing two replicas row-by-row costs a full-table join, but drift
    * is rare, so each side first folds to per-block fingerprints (256
    * consecutive doc_ids a block; bit_xor of per-doc md5-low63 — order-independent, overflow-free;
    * the p88 etag algebra) and ONLY rows of blocks whose (fingerprint,
    * count) disagree are re-read and row-diffed. The differing-block set
    * is tiny by construction (drift is the exception), so the drill-down
    * joins are broadcast-pruned semi-joins: the bulk of both replicas is
    * touched once, by the narrow fingerprint pass. Output is exactly the
    * direct full-outer row diff — (doc_id, status ∈ changed /
    * missing_left / missing_right) — which is what the oracle computes
    * WITHOUT the Merkle pruning, so losslessness is driver-checked. */
  def merkleDiff(left: DataFrame, right: DataFrame): DataFrame = {
    def rows(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .map { case (id, t) => (id, id >> 8, TextOps.md5Low63(t)) }
        .toDF("doc_id", "blk", "h")
    }
    def fp(t: DataFrame, side: String): DataFrame =
      t.groupBy(col("blk"))
        .agg(expr("bit_xor(h)").as(s"fp_$side"), count(lit(1)).as(s"n_$side"))
    val l = rows(left)
    val r = rows(right)
    val diffBlocks = fp(l, "l").join(fp(r, "r"), Seq("blk"), "full_outer")
      .where(!(col("fp_l") <=> col("fp_r")) || !(col("n_l") <=> col("n_r")))
      .select(col("blk"))
    val lrows = l.join(broadcast(diffBlocks), Seq("blk"), "left_semi")
      .select(col("doc_id"), col("h").as("h_l"))
    val rrows = r.join(broadcast(diffBlocks), Seq("blk"), "left_semi")
      .select(col("doc_id"), col("h").as("h_r"))
    lrows.join(rrows, Seq("doc_id"), "full_outer")
      .where(col("h_l").isNull || col("h_r").isNull ||
             col("h_l") =!= col("h_r"))
      .select(col("doc_id"),
        when(col("h_l").isNull, lit("missing_left"))
          .when(col("h_r").isNull, lit("missing_right"))
          .otherwise(lit("changed")).as("status"))
      .orderBy(col("doc_id"))
  }

  /** Source-mixture token-budget planner (p50) — the data-MIXING step a
    * pretraining corpus build runs after per-source accounting (the
    * SlimPajama/Dolma-style weighting pass): given md5-derived per-source
    * target weights in 1..5 and a global token budget (`MixBudgetPct` of supply),
    * compute each source's target allocation, sampling rate (permille),
    * planned yield and deficit in pure integer arithmetic. The corpus-wide
    * work is ONE partial+final aggregate keyed by source; everything after
    * runs on the tiny per-source rollup (a 1-row totals cross join that
    * Catalyst broadcasts). The oracle rebuilds weights and every division
    * from the same md5 + floor-div rules bit-for-bit. */
  def mixturePlan(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val per = df.select(col("source"),
        size(TextOps.wsTokens(col("text"))).cast("long").as("tk"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tk")).as("n_tokens"))
      .as[(String, Long, Long)]
      .map { case (src, nd, nt) =>
        (src, nd, nt, TextOps.md5Low63(src + "|mix") % 5 + 1)
      }.toDF("source", "n_docs", "n_tokens", "weight")
    val tot = per.agg(sum(col("n_tokens")).as("t_tokens"),
      sum(col("weight")).as("t_weight"))
    per.crossJoin(tot)
      .withColumn("target_tokens",
        expr(s"(((t_tokens * $MixBudgetPct) div 100) * weight) div t_weight"))
      .withColumn("rate_permille",
        expr("least(1000L, (target_tokens * 1000) div n_tokens)"))
      .withColumn("planned_tokens",
        expr("(n_tokens * rate_permille) div 1000"))
      .withColumn("deficit",
        expr("greatest(target_tokens - planned_tokens, 0L)"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        col("target_tokens"), col("rate_permille"), col("planned_tokens"),
        col("deficit"))
      .orderBy(col("source"))
  }

  /** Snapshot diff between two corpus versions (p48) — the incremental-
    * crawl delta census an ingestion pipeline runs before reprocessing:
    * classify every doc_id as added / deleted / changed / unchanged by
    * content hash. Both sides project to (id, md5) BEFORE the full-outer
    * join, so only 8-byte ids + 16-byte hashes ever shuffle — never text.
    * At 10^12 docs both snapshots read from the same doc_id-bucketed
    * layout (Spark's `bucketBy`) and the join plans shuffle-free;
    * the status rollup is a partial+final aggregate over 4 keys. */
  def snapshotDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("doc_id").cast("long").as("id_a"),
      md5(col("text").cast("binary")).as("h_a"))
    val b = v2.select(col("doc_id").cast("long").as("id_b"),
      md5(col("text").cast("binary")).as("h_b"))
    a.join(b, a("id_a") === b("id_b"), "full_outer")
      .select(coalesce(col("id_a"), col("id_b")).as("doc_id"),
        when(col("id_a").isNull, "added")
          .when(col("id_b").isNull, "deleted")
          .when(col("h_a") =!= col("h_b"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Quantile-sketch validation (p47) — completes the sketch-validation
    * family (cardinality = p35 HLL, frequency = p37 CMS, rank/quantile =
    * this). A deterministic bottom-k-by-hash sample IS a mergeable quantile
    * sketch: Spark plans `orderBy(h, id).limit(k)` as TakeOrderedAndProject
    * (bounded k-row heap per partition + one k-row driver merge — the same
    * shape a 1000-executor run keeps), and the sample's value at rank
    * ceil(q·k/100) estimates the population's rank-ceil(q·n/100) quantile.
    * The exact side never globally sorts the corpus: `groupBy(value)`
    * (map-side combine) collapses to one row per DISTINCT value and the
    * running-count window walks that bounded domain (≤ max doc length),
    * not the 10^12 rows — "value at rank r" = smallest value whose
    * cumulative count reaches r, identical to SQL's row_number pick under
    * ties. All arithmetic is integer (rank = (q·n + 99) div 100,
    * err_permille = |est − exact|·1000 div exact) so DuckDB replicates the
    * output bit-for-bit. */
  def quantileValidate(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val qs = Seq(25, 50, 75, 90) // the reported percentiles
    import org.apache.spark.sql.expressions.Window
    val v = df.select(col("doc_id").cast("long").as("id"),
      col("n_chars").cast("long").as("value"))
    val sample = v.as[(Long, Long)]
      .map { case (id, n) => (TextOps.md5Low63(id.toString + "|qtl"), id, n) }
      .toDF("h", "id", "value")
      .orderBy(col("h"), col("id")).limit(QuantileSampleK)
      .select(col("value"))
    // value at rank ceil(q·n/100) over a (distinct value → count) table
    def valueAtQuantiles(vals: DataFrame, valName: String,
                         totName: String): DataFrame = {
      val w = Window.orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = vals.groupBy(col("value")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(w))
      val tot = cum.agg(max(col("cum")).as("n"))
      val qdf = qs.map(_.toLong).toDF("q")
      cum.crossJoin(tot).crossJoin(qdf)
        .withColumn("rk", expr("(q * n + 99) div 100"))
        .filter(col("cum") >= col("rk") && col("cum") - col("c") < col("rk"))
        .select(col("q"), col("n").as(totName), col("value").as(valName))
    }
    val exact = valueAtQuantiles(v.select(col("value")), "exact_val", "n_total")
    val est = valueAtQuantiles(sample, "est_val", "k_sample")
    exact.join(est, "q")
      .withColumn("err_permille",
        expr("(abs(est_val - exact_val) * 1000) div greatest(exact_val, 1)"))
      .select(col("q"), col("n_total"), col("k_sample"), col("exact_val"),
        col("est_val"), col("err_permille"))
      .orderBy(col("q"))
  }

  /** Weighted (per-source) sampling EXECUTOR — the row-level companion of
    * the mixture planner (p50): each source gets a deterministic keep-rate
    * (md5-derived permille in [250, 750)), each doc keeps or drops by its
    * own md5 draw against that rate. Both derivations are row-local
    * functions of values already on the row, so the filter runs inside
    * the scan (no broadcast, no shuffle) and is re-runnable/engine-stable
    * — the property that lets a 10^12-row sampling pass restart anywhere.
    * Output is the per-source census (rate, kept, total) proving the
    * realized rates track the assigned ones. */
  def weightedSample(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("source"))
      .as[(Long, String)]
      .map { case (id, src) =>
        val rate = TextOps.md5Low63(src + "|wsr") % 500 + 250
        val kept = if (TextOps.md5Low63(id.toString + "|wsmp") % 1000 < rate)
          1L else 0L
        (src, rate, kept)
      }
      .toDF("source", "rate_permille", "kept")
      .groupBy(col("source"), col("rate_permille"))
      .agg(sum(col("kept")).as("n_kept"), count(lit(1)).as("n_total"))
      .orderBy(col("source"))
  }

  /** Bigram-LM surprisal — the conditional-probability upgrade of
    * [[surprisalScores]] (the CCNet/Gopher-style LM quality filter one
    * model order up): per doc, Σ over adjacent token pairs of
    * bitlen(c(w1)) − bitlen(c(w1 w2)), the integer-bit-length form of
    * −log2 p̂(w2|w1) under the corpus MLE bigram model (c(w1) = pairs
    * starting with w1, the MLE denominator). Pure integer arithmetic, so
    * engine and oracle agree bit-for-bit. Scale shape: one tokenize pass
    * emitting (doc, w1, pair) with per-(doc,pair) pre-aggregation before
    * any join; the two model tables are token-keyed aggs (broadcast here;
    * co-partitioned keyed joins at 10^12 rows where the pair vocabulary
    * outgrows a broadcast). The pairs subtree is consumed by all three
    * aggregations — recompute is the small-SF default (typed-map subtrees
    * don't get exchange reuse; p44's measured rule). */
  def bigramSurprisal(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = df.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val t = wsPat.split(text.trim)
        (0 until t.length - 1).iterator
          .map(i => (id, t(i), t(i) + " " + t(i + 1)))
      })
      .toDF("doc_id", "w1", "pair")
    val c1 = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val c12 = pairs.groupBy(col("pair")).agg(count(lit(1)).as("c12"))
    val docPair = pairs.groupBy(col("doc_id"), col("w1"), col("pair"))
      .agg(count(lit(1)).as("tf"))
    docPair
      .join(broadcast(c1), "w1")
      .join(broadcast(c12), "pair")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_pairs"),
        sum(col("tf") *
            (length(bin(col("c1"))) - length(bin(col("c12")))))
          .cast("long").as("bigram_surprisal"))
  }

  /** Positional-postings PHRASE query: per matching doc, the number of
    * positions where the phrase's tokens appear consecutively. The scan
    * filters postings to the phrase's tokens BEFORE anything shuffles
    * (at 10^12 docs this is an index probe over a prebuilt (token → doc,
    * pos) table, reading |phrase| token keys, never the corpus); the
    * per-doc adjacency check is a codegen'd array HOF over the collected
    * position lists — one shuffle on doc_id total, no per-position
    * self-joins. */
  def phraseSearch(df: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.length >= 2, "phrase needs at least 2 tokens")
    val postings = df
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "tok")))
      .where(col("tok").isin(phrase: _*))
    val aggs = phrase.zipWithIndex.map { case (w, i) =>
      collect_list(when(col("tok") === w, col("pos"))).as(s"l$i")
    }
    val lists = postings.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
    val hits = filter(col("l0"), p =>
      phrase.indices.tail
        .map(i => array_contains(col(s"l$i"), p + i))
        .reduce(_ && _))
    lists
      .select(col("doc_id"), size(hits).cast("long").as("n_hits"))
      .where(col("n_hits") > 0)
      .orderBy(col("doc_id"))
  }

  /** The heavy-hitter token stream: corpus tokens plus a deterministic
    * planted skew (20 copies of `hot_<doc_id % 3>` for every even doc) so
    * the Misra-Gries completeness guarantee is exercised by real
    * above-threshold keys — the synthetic corpus alone is too uniform. */
  private def hhStream(df: DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = wsPat.split(text.trim).iterator
        val hot = if (id % 2 == 0)
          Iterator.fill(20)("hot_" + (id % 3)) else Iterator.empty
        toks ++ hot
      }
  }

  /** Misra-Gries heavy hitters (capacity k) with an error-bound
    * validation output: per-partition MG summaries (bounded state, one
    * scan) merged by count-sum + single (k+1)-th-largest subtraction —
    * the mergeable-summaries construction, whose total undercount is
    * ≤ n/(k+1) regardless of merge order.
    *
    * OUTPUT is the LAYOUT-INVARIANT face of the sketch (the round-4 sf1
    * 8-vs-32-core audit caught the previous est_cnt output drifting with
    * the partition layout — an MG summary's estimates are inherently
    * layout-dependent even though its guarantees are not): one row per
    * TRUE heavy hitter (exact_cnt > n div (k+1), a pure function of the
    * data) with two verdict bits that the MG theorems force to 1 under
    * ANY partitioning — `in_summary` (completeness: every
    * above-threshold key survives the merged summary) and `bound_ok`
    * (0 ≤ exact − est ≤ n div (k+1)). The raw layout-dependent summary
    * still dumps to `dumpPath`, and the oracle re-derives both verdicts
    * from those exact bytes. */
  def heavyHitters(df: DataFrame, k: Int, dumpPath: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val stream = hhStream(df)
    val partials = stream.mapPartitions { it =>
      // boxed values: HashMap[String, Long].get would auto-unbox an absent
      // key's null to 0L, making the miss branch unreachable (state would
      // then grow unbounded — the opposite of the MG contract)
      val m = new java.util.HashMap[String, java.lang.Long]()
      it.foreach { t =>
        val cur = m.get(t)
        if (cur != null) m.put(t, cur + 1L)
        else if (m.size < k) m.put(t, 1L)
        else { // decrement-all step; the newcomer's 1 cancels with it
          val e = m.entrySet().iterator()
          while (e.hasNext) {
            val kv = e.next()
            if (kv.getValue == 1L) e.remove() else kv.setValue(kv.getValue - 1)
          }
        }
      }
      import scala.jdk.CollectionConverters._
      m.entrySet().iterator().asScala
        .map(kv => (kv.getKey, kv.getValue.longValue))
    }.collect() // ≤ partitions × k rows
    val summed = partials.groupBy(_._1).map { case (t, xs) =>
      t -> xs.map(_._2).sum
    }
    val survivors =
      if (summed.size <= k) summed.toSeq
      else {
        val cut = summed.values.toSeq.sorted(Ordering[Long].reverse)(k)
        summed.toSeq.map { case (t, c) => t -> (c - cut) }.filter(_._2 > 0)
      }
    val summary = survivors.sortBy(_._1).toDF("token", "est_cnt")
    summary.coalesce(1).write.mode("overwrite").parquet(dumpPath)
    val exact = stream.toDF("token").groupBy(col("token"))
      .agg(count(lit(1)).as("exact_cnt"))
    val total = exact.agg(sum(col("exact_cnt")).as("n"))
    exact.crossJoin(broadcast(total))
      .where(col("exact_cnt") > expr(s"n div ${k + 1}"))
      .join(spark.read.parquet(dumpPath), Seq("token"), "left")
      .select(col("token"), col("exact_cnt"),
        when(col("est_cnt").isNotNull, 1).otherwise(0)
          .cast("int").as("in_summary"),
        when(col("est_cnt").isNotNull &&
          col("est_cnt") <= col("exact_cnt") &&
          col("exact_cnt") - col("est_cnt") <=
            expr(s"n div ${k + 1}"), 1).otherwise(0)
          .cast("int").as("bound_ok"))
      .orderBy(col("token"))
  }

  /** Tokenizer-vocabulary coverage curve: what fraction of all corpus token
    * occurrences the top-`rank` vocabulary entries cover, reported at each
    * rank in `CoverageGrid` (the vocab-size-vs-OOV trade-off table tokenizer
    * training reads). Term frequencies come from the explode-free typed
    * pass (tokenTf) + one keyed aggregation; the ranking never sorts the
    * full vocabulary globally — a bounded top-max(grid) TakeOrdered feeds
    * a single-partition window over at most max(grid) rows, which is
    * constant-size regardless of corpus size. Ties rank by token string.
    * Integer ppm (non-negative operands, so Spark div ≡ DuckDB //). */
  def vocabCoverage(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val topN = CoverageGrid.max
    val tf = tokenTf(df).groupBy(col("token"))
      .agg(sum(col("tf")).as("term_freq"))
    val total = tf.agg(sum(col("term_freq")).as("total_tokens"))
    val top = tf.orderBy(col("term_freq").desc, col("token").asc).limit(topN)
    val w = Window.orderBy(col("term_freq").desc, col("token").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.select(col("token"), col("term_freq"),
        row_number().over(
          Window.orderBy(col("term_freq").desc, col("token").asc)).as("rank"),
        sum(col("term_freq")).over(w).as("cum_tokens"))
      .where(col("rank").isin(CoverageGrid.map(Integer.valueOf): _*))
      .crossJoin(broadcast(total))
      .select(col("rank").cast("long").as("rank"), col("token"),
        col("term_freq"), col("cum_tokens"),
        expr("cum_tokens * 1000000L div total_tokens").as("coverage_ppm"))
      .orderBy(col("rank"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between the doc-length
    * distributions of two corpus slices, kept exactly integer: the sup of
    * |F_a(v) − F_b(v)| is reported scaled by n_a·n_b, i.e.
    * max over v of |cnt_a(≤v)·n_b − cnt_b(≤v)·n_a| — no floating-point
    * division anywhere, so the oracle hash is exact. One conditional
    * aggregation keyed by the value, then a window over the DISTINCT
    * values (bounded by the value domain — doc lengths — not corpus size).
    * The drift monitor a crawl pipeline runs between snapshots. (The
    * scaled sup needs n_a·n_b < 2^63: exact below ~3e9 rows per slice;
    * beyond that pre-aggregate counts to ppm before the sweep.) */
  def ksDrift(a: DataFrame, b: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col("n_chars").cast("long").as("v")
    val both = a.select(v, lit(1L).as("ia"), lit(0L).as("ib"))
      .unionByName(b.select(v, lit(0L).as("ia"), lit(1L).as("ib")))
    val byVal = both.groupBy(col("v"))
      .agg(sum(col("ia")).as("ca"), sum(col("ib")).as("cb"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = byVal.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    byVal.select(col("v"),
        sum(col("ca")).over(w).as("cum_a"),
        sum(col("cb")).over(w).as("cum_b"))
      .crossJoin(broadcast(totals))
      .select(col("v").as("at_value"), col("n_a"), col("n_b"),
        abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a"))
          .as("ks_scaled"))
      .orderBy(col("ks_scaled").desc, col("at_value").asc)
      .limit(1)
  }

  /** Feature-hashing doc vectors (the hashing trick, Weinberger et al.
    * 2009): each token occurrence lands in one of d = 64 signed buckets via
    * two salted md5-low63 hashes (bucket + sign) — the cheap fixed-width
    * document representation classifiers/cluster-prep consume when
    * embeddings are too expensive. One explode-free typed pass builds the
    * d-int vector per doc row-locally and emits integer summary scalars
    * (L1, squared L2, nnz) so the driver hash is exact; raw text never
    * shuffles and the op is embarrassingly parallel. The md5-low63 hashes
    * are shared with DuckDB's `md5_number_lower`, so the oracle rebuilds
    * the identical vectors from the raw corpus. */
  def hashVectorStats(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dim = 64
    df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val v = new Array[Long](dim)
        wsPat.split(text.trim).foreach { t =>
          val b = (TextOps.md5Low63(t + "|fh") % dim).toInt
          val s = if (TextOps.md5Low63(t + "|fhs") % 2 == 0) 1L else -1L
          v(b) += s
        }
        var l1 = 0L; var l2 = 0L; var nnz = 0L
        var i = 0
        while (i < dim) {
          val x = v(i)
          l1 += math.abs(x); l2 += x * x; if (x != 0) nnz += 1
          i += 1
        }
        (id, l1, l2, nnz)
      }
      .toDF("doc_id", "l1_norm", "l2sq_norm", "nnz")
      .orderBy(col("doc_id"))
  }

  /** Leakage-safe train/val/test split: documents are clustered by
    * normalized-text identity (lowercase + whitespace-collapse — the
    * trivial-variant net), every cluster is assigned WHOLE to one split by
    * hashing its representative (min doc_id), and the output census
    * counts, per split, how many of its multi-doc clusters a NAIVE per-doc
    * hash split would have torn across splits (train/test leakage). Text
    * leaves the scan only as a 16-byte hash; one shuffle keyed by the
    * cluster hash, one by (split). 90/5/5 via hash % 100. */
  def splitLeakage(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.select(col("doc_id").cast("long").as("doc_id"),
      md5(regexp_replace(lower(col("text")), "\\s+", " ").cast("binary"))
        .as("nkey"))
    val clusters = keyed.groupBy(col("nkey"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_docs"),
        collect_set(col("doc_id")).as("members"))
    val assigned = clusters.as[(String, Long, Long, Seq[Long])]
      .map { case (_, rep, n, members) =>
        def bucket(s: String) = (TextOps.md5Low63(s) % 100).toInt
        def splitOf(b: Int) = if (b < 90) "train" else if (b < 95) "val" else "test"
        val split = splitOf(bucket(rep.toString + "|spl"))
        val naive = members.map(m => splitOf(bucket(m.toString + "|spl")))
        val leaky = if (n > 1 && naive.distinct.size > 1) 1L else 0L
        (split, n, leaky)
      }
      .toDF("split", "n_docs", "leaky")
    assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("n_docs")).as("n_docs"),
        sum(col("leaky")).as("n_leaky_naive"))
      .orderBy(col("split"))
  }

  /** Per-source unigram ENTROPY MASS — the corpus-diversity metric a
    * data-mixing pass reads next to size (low entropy = templated/
    * boilerplate-heavy source; the Shannon-entropy analogue of p79's HHI
    * concentration, computed over tokens instead of source shares). Same
    * integer bit-length convention as [[surprisalScores]]:
    * entropy_mass = Σ_t c_t·(bitlen(N_s) − bitlen(c_t))
    *              = N_s·bitlen(N_s) − Σ_t c_t·bitlen(c_t)
    * — engine-exact (`bin()` has identical semantics in both engines), no
    * float log ever. Scale shape: one typed per-doc counting pass, one
    * (source, token)-keyed agg (partial map-side), one source-keyed
    * rollup; the bitlen(N_s) factor applies AFTER aggregation as a
    * projection, so no second scan. */
  def sourceEntropy(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val stc = df.select(col("source"), col("text")).as[(String, String)]
      .flatMap { case (src, text) =>
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        wsPat.split(text.trim).foreach { t =>
          m.update(t, m.getOrElse(t, 0L) + 1L)
        }
        m.iterator.map { case (t, c) => (src, t, c) }
      }.toDF("source", "token", "c")
      .groupBy(col("source"), col("token"))
      .agg(sum(col("c")).cast("long").as("c"))
    stc.groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * length(bin(col("c")))).cast("long").as("sum_c_bitlen"))
      .select(col("source"), col("n_tokens"), col("n_distinct"),
        (col("n_tokens") * length(bin(col("n_tokens"))) - col("sum_c_bitlen"))
          .cast("long").as("entropy_mass"))
      .orderBy(col("source"))
  }

  /** Windowed co-occurrence LIFT statistics (collocation mining — the
    * integer-exact stand-in for PMI, which it orders identically for
    * fixed marginals since lift = exp(PMI)): every unordered token pair
    * within a `window`-token sliding window counts once per position
    * pair, and lift_ppm = co·10^6·N / (cnt_a·cnt_b) with N = total token
    * occurrences. Top-`topK` by (co desc, pair asc) — a deterministic
    * total order both engines replicate. Scale: pair generation is a
    * bounded typed flatMap (≤ window−1 pairs per position — no all-pairs
    * blowup), pairs shuffle as short token-pair keys, marginals are one
    * token-keyed agg joined AFTER the `minCo` cut (the co table shrinks
    * first, the join is small); the 10^12-row note: the co·10^6·N product
    * needs DECIMAL(38) or a reassociated divide at full corpus N — at
    * that point swap the BIGINT product for the decimal form in both
    * engines. Reference analogue: none (engine addition, corpus-stats
    * family alongside tokenDf/bigram surprisal). */
  def pmiPairs(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val window = 5 // tokens per sliding window
    val minCo = 2  // co-occurrence floor applied before the marginal join
    val topK = 50
    val toks = df.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
    val pairs = toks.flatMap { case (_, text) =>
      val t = wsPat.split(text.trim)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var i = 0
      while (i < t.length) {
        val hi = math.min(t.length - 1, i + window - 1)
        var j = i + 1
        while (j <= hi) {
          if (t(i) <= t(j)) out += ((t(i), t(j))) else out += ((t(j), t(i)))
          j += 1
        }
        i += 1
      }
      out.iterator
    }.toDF("tok_a", "tok_b")
    val co = pairs.groupBy(col("tok_a"), col("tok_b"))
      .agg(count(lit(1)).as("co"))
      .where(col("co") >= minCo)
    val cnt = toks.flatMap { case (_, text) =>
      wsPat.split(text.trim).iterator
    }.toDF("tok").groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = cnt.agg(sum(col("cnt")).cast("long").as("n_total"))
    co.join(cnt.select(col("tok").as("tok_a"), col("cnt").as("cnt_a")), "tok_a")
      .join(cnt.select(col("tok").as("tok_b"), col("cnt").as("cnt_b")), "tok_b")
      .crossJoin(broadcast(total))
      .select(col("tok_a"), col("tok_b"), col("co").cast("long").as("co"),
        col("cnt_a").cast("long").as("cnt_a"),
        col("cnt_b").cast("long").as("cnt_b"),
        expr("(co * 1000000L * n_total) div (cnt_a * cnt_b)")
          .cast("long").as("lift_ppm"))
      .orderBy(col("co").desc, col("tok_a"), col("tok_b"))
      .limit(topK)
  }

  /** Compression-ratio quality signal — DEFLATE bytes vs raw UTF-8 bytes
    * per document, rolled up per source. Highly repetitive or templated
    * text compresses far below natural prose, making deflate length the
    * classic cheap perplexity stand-in for corpus curation (the
    * compression-filter family in public web-corpus pipelines). The
    * per-doc kernel is the codegen'd [[graft.functions.DeflateLength]]
    * expression (per-thread Deflater, reset-reused), so the scan stays
    * inside whole-stage codegen; the per-doc table is dumped at query time
    * (compression is engine code — the oracle re-aggregates the dump, it
    * never recomputes zlib). Scale shape: one narrow scan + dump, then a
    * source-keyed partial+final agg over integers. `repetitive` flags
    * ratio < 0.35 (deflate·100 < raw·35 in exact integer form). */
  def compressionSignal(df: DataFrame, dumpPath: String): DataFrame = {
    val perDoc = df.select(col("doc_id"), col("source"),
      octet_length(col("text")).cast("int").as("raw_bytes"),
      graft.functions.functions.deflate_len(col("text")).as("deflate_bytes"))
    perDoc.write.mode("overwrite").parquet(dumpPath)
    df.sparkSession.read.parquet(dumpPath)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("raw_bytes")).cast("long").as("sum_raw_bytes"),
        sum(col("deflate_bytes")).cast("long").as("sum_deflate_bytes"),
        sum(when(col("deflate_bytes") * 100 < col("raw_bytes") * 35, 1L)
          .otherwise(0L)).cast("long").as("n_repetitive"))
      .select(col("source"), col("n_docs"), col("sum_raw_bytes"),
        col("sum_deflate_bytes"),
        expr("sum_deflate_bytes * 1000000L div sum_raw_bytes")
          .as("ratio_ppm"),
        col("n_repetitive"))
      .orderBy(col("source"))
  }

  /** k-ANONYMITY census over quasi-identifiers — the privacy-risk rollup a
    * release pipeline runs before publishing corpus metadata: documents whose
    * (source, lang, 256-char size bucket) combination is shared by fewer than
    * k documents are re-identifiable from metadata alone. Emits the full
    * group-size histogram (size → number of groups, number of docs) plus a
    * cumulative below-k doc count per size, so every k threshold is readable
    * from one result. Scale shape: one keyed agg over the quasi-identifier
    * (partial map-side), then a tiny size histogram — the expensive part is
    * exactly one shuffle of (source, lang, bucket) keys, never text. */
  def kAnonymity(df: DataFrame): DataFrame = {
    val groups = df
      .groupBy(col("source"), col("lang"),
        expr("n_chars div 256").as("size_bucket"))
      .agg(count(lit(1)).as("group_size"))
    groups.groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .select(col("group_size").cast("long").as("group_size"),
        col("n_groups").cast("long").as("n_groups"),
        (col("group_size") * col("n_groups")).cast("long").as("n_docs"))
      .withColumn("cum_docs_at_or_below",
        sum(col("n_docs")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("group_size"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
          .cast("long"))
      .orderBy(col("group_size"))
  }

  /** Token-budget waterfilling across sources — the mixing allocator that
    * answers "we can afford B tokens this epoch; how many come from each
    * source?" under the max-min-fairness rule every mixture designer
    * reaches for: small sources contribute everything they have, large
    * sources are capped at a common water level L chosen so the total is
    * exactly B. Budget = total·`WaterfillNum`/`WaterfillDen` (integer).
    *
    * Exact integer construction (no float level search): sort sources by
    * (supply asc, source asc); source i is saturated iff
    * P_{i−1} + supply_i·(n−i+1) ≤ B (the cost of raising the level to
    * supply_i) — monotone in i, so saturation is a prefix 1..k. The
    * unsaturated n−k sources get L = (B−P_k) div (n−k) each, and the
    * remainder r = (B−P_k) mod (n−k) is distributed +1 to the first r of
    * them in the same sort order (largest-remainder rule). sum(alloc) = B
    * exactly, and alloc ≤ supply row-wise (k's maximality ⇒
    * supply_{k+1} ≥ L+1).
    *
    * Scale shape: supply is one (source)-keyed partial+final agg — the
    * only pass over text; everything after runs on the per-source table
    * (≤ thousands of rows at web scale), where the global window and the
    * two 1-row-aggregate broadcast crosses are driver-scale math, the
    * same tiny-table contract as kAnonymity/p50. */
  def budgetWaterfill(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val supply = df
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
      .groupBy(col("source")).agg(sum(col("toks")).cast("long").as("supply"))
    val w = Window.orderBy(col("supply"), col("source"))
    val ranked = supply.select(col("source"), col("supply"),
      row_number().over(w).cast("long").as("i"),
      sum(col("supply")).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long").as("pfx"))
    val tot = supply.agg(sum(col("supply")).cast("long").as("total"),
      count(lit(1)).cast("long").as("n"))
    val c = ranked.crossJoin(broadcast(tot))
      .withColumn("budget",
        expr(s"(total * $WaterfillNum) div $WaterfillDen").cast("long"))
      .withColumn("cost",
        (col("pfx") - col("supply") +
          col("supply") * (col("n") - col("i") + 1)).cast("long"))
    val kAgg = c.agg(
      coalesce(max(when(col("cost") <= col("budget"), col("i"))), lit(0L))
        .cast("long").as("k"),
      coalesce(max(when(col("cost") <= col("budget"), col("pfx"))), lit(0L))
        .cast("long").as("pk"),
      max(col("budget")).cast("long").as("b"),
      max(col("n")).cast("long").as("nn"))
    val lvl = kAgg.select(col("k"), col("pk"),
      when(col("nn") > col("k"),
        expr("(b - pk) div (nn - k)")).otherwise(lit(0L))
        .cast("long").as("lev"),
      when(col("nn") > col("k"),
        (col("b") - col("pk")) % (col("nn") - col("k"))).otherwise(lit(0L))
        .cast("long").as("rem"))
    c.crossJoin(broadcast(lvl))
      .select(col("source"), col("supply").as("supply_tokens"),
        when(col("i") <= col("k"), col("supply"))
          .when(col("i") - col("k") <= col("rem"), col("lev") + 1)
          .otherwise(col("lev")).cast("long").as("alloc_tokens"),
        when(col("i") <= col("k"), lit(1L)).otherwise(lit(0L))
          .cast("long").as("saturated"))
      .orderBy(col("source"))
  }

  /** Longest word the BPE vocabulary keeps: longer tokens (URLs, base64
    * runs) are dropped, the production guard that keeps per-word state
    * O(1). */
  private val BpeMaxWordLen = 32

  /** Merge steps of `bpeTrain` and of the vocabulary `bpeEncodeCensus`
    * encodes with. */
  private val BpeSteps = 8

  /** The BPE merge loop that [[bpeTrain]] and [[bpeEncodeCensus]] share:
    * the one-time (word, freq) vocabulary scan, then up to `steps` rounds
    * of argmax-then-replace over the separator-bracketed symbol strings
    * `s` (see [[bpeTrain]] for the encoding and the tie-break). After each
    * merge, `onMerge(step, l, r, n_pair, next)` sees the merged vocabulary
    * `next` (persisted, not yet materialized). `finish` gets the final
    * (w, s, freq) vocabulary and must run any action that reads it; the
    * loop's cached generations are released after it returns.
    *
    * Unpersist is deferred one round (r6, one driver action per round
    * instead of two): the NEXT round's argmax is the job that
    * materializes this round's persist — no dedicated count() — so the
    * parent generation must stay cached until that argmax has run
    * (unpersisting it earlier would force the un-materialized child to
    * recompute its whole replace lineage from the corpus scan). */
  private def bpeMergeLoop[A](df: DataFrame, steps: Int)(
      onMerge: (Int, String, String, Long, DataFrame) => Unit)(
      finish: DataFrame => A): A = {
    val SEP = "\u001f"
    val SEP2 = SEP + SEP
    var vocab = df
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0 && length(col("w")) <= BpeMaxWordLen &&
        !col("w").contains(SEP))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"),
        regexp_replace(col("w"), "(.)", s"$SEP$$1$SEP").as("s"),
        col("freq"))
      .persist()
    vocab.count()
    var step = 1
    var exhausted = false
    var prev: Option[DataFrame] = None
    while (step <= steps && !exhausted) {
      val best = vocab.select(col("freq"),
          split(expr("substring(s, 2, length(s) - 2)"), SEP2).as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("freq"), expr(
          "explode(transform(sequence(0, size(sy) - 2), " +
            "i -> struct(sy[i] AS l, sy[i + 1] AS r)))").as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      prev.foreach(_.unpersist())
      prev = None
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, n) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        val next = vocab.select(col("w"),
          call_function("replace", col("s"),
            lit(SEP + l + SEP2 + r + SEP), lit(SEP + l + r + SEP)).as("s"),
          col("freq")).persist()
        onMerge(step, l, r, n, next)
        prev = Some(vocab)
        vocab = next
        step += 1
      }
    }
    try finish(vocab)
    finally {
      prev.foreach(_.unpersist())
      vocab.unpersist()
    }
  }

  /** BPE merge TRAINING — the iterative loop `bpePairCounts` is round 0
    * of (Sennrich et al. 2016, learn_bpe): K rounds of (count symbol
    * pairs weighted by word frequency → argmax with deterministic
    * (count DESC, l, r) tie-break → greedy left-to-right non-overlapping
    * merge across the whole vocabulary).
    *
    * Scale shape: the corpus is scanned ONCE into the (word, freq)
    * vocabulary table — the classic compression every industrial BPE
    * trainer uses (Zipf makes the vocab orders of magnitude smaller than
    * the corpus). All K rounds run over that persisted table: each round
    * is one pair-count shuffle bounded by the pair vocabulary (never the
    * corpus), a 1-row argmax collect, and one narrow map. Nothing about
    * the loop changes at 100 TB except the size of the one-time scan.
    *
    * The symbol sequence is stored as a separator-BRACKETED string
    * (`␟a␟␟b␟…`, one U+001F pair per symbol), which makes the greedy
    * merge a single codegen `replace(s, ␟l␟␟r␟, ␟lr␟)`: string replace
    * is left-to-right non-overlapping — exactly BPE's apply rule (the
    * per-symbol brackets stop cross-symbol suffix matches AND keep
    * adjacent merge sites disjoint, so `aaaa` merges to `aa,aa` not
    * `aa,a,a`), and a replace-produced symbol can never equal `l` again
    * (that would need r = ""), so the fold can't chain-merge. Pair
    * counting counts OVERLAPPING adjacent pairs (reference semantics);
    * the census total `tok_total` = Σ freq·|syms| after each apply
    * therefore shrinks by the number of non-overlapping sites — an
    * independent corpus-wide checksum that the apply actually ran.
    *
    * Output: one row per merge step (step, lsym, rsym, n_pair,
    * tok_total, vocab_syms). Words longer than `BpeMaxWordLen` are
    * dropped. */
  def bpeTrain(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val SEP2 = "\u001f\u001f"
    val out = scala.collection.mutable
      .ArrayBuffer.empty[(Long, String, String, Long, Long, Long)]
    bpeMergeLoop(df, BpeSteps) { (step, l, r, n, next) =>
      // fused census (r6: ONE action per round instead of three — it
      // doubles as the persist materializer, so the count() is gone
      // too): explode the symbol array once, charge freq·|syms| only
      // at the first position (every word has ≥ 1 symbol, so position
      // 0 always exists) and count distinct symbols in the same agg.
      // freq·|syms| == the old freq·k — k counted the ␟ pairs, which
      // is exactly size(sy).
      // two-level agg (per-symbol, then global) rather than
      // sum + countDistinct in one — the mixed form plans through an
      // Expand that doubles every exploded row
      val cen = next.select(
          split(expr("substring(s, 2, length(s) - 2)"), SEP2).as("sy"),
          col("freq"))
        .select((col("freq") * size(col("sy")).cast("long")).as("fk"),
          posexplode(col("sy")).as(Seq("i", "sym")))
        .groupBy(col("sym"))
        .agg(sum(when(col("i") === 0, col("fk"))).as("tokpart"))
        .agg(sum(col("tokpart")).as("tok"), count(lit(1)).as("nsym"))
        .collect()(0)
      out += ((step.toLong, l, r, n, cen.getLong(0), cen.getLong(1)))
    }(_ => ())
    import spark.implicits._
    out.toSeq
      .toDF("step", "lsym", "rsym", "n_pair", "tok_total", "vocab_syms")
      .orderBy(col("step"))
  }

  /** BPE ENCODE + fertility census — the apply half of [[bpeTrain]]:
    * run the same merge loop (identical argmax/tie-break, so the learned
    * merges are the p126-gated ones), then encode the WHOLE corpus by
    * joining word occurrences against the trained vocabulary — after
    * training, the vocab table's symbol sequences ARE the encodings of
    * every corpus word, so encoding costs one (source, word) count
    * aggregation and one keyed join, never a re-tokenization scan. The
    * census is the number every tokenizer-budget decision hangs on:
    * per-source fertility (tokens per word, millis-scaled integer) plus
    * exact token/char totals. The vocabulary is trained for
    * `BpeSteps` merges. */
  def bpeEncodeCensus(df: DataFrame): DataFrame = {
    val SEP = "\u001f"
    bpeMergeLoop(df, BpeSteps)((_, _, _, _, _) => ()) { vocab =>
      val enc = vocab.select(col("w"),
        ((length(col("s")) -
          length(call_function("replace", col("s"), lit(SEP), lit(""))))
          .cast("long") / lit(2L)).cast("long").as("k"))
      val occ = df
        .select(col("source"), explode(split(trim(col("text")), "\\s+"))
          .as("w"))
        .filter(length(col("w")) > 0 && length(col("w")) <= BpeMaxWordLen &&
          !col("w").contains(SEP))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("occ"))
      val out = occ.join(enc, "w")
        .groupBy(col("source"))
        .agg(sum(col("occ")).as("n_words"),
          sum(col("occ") * col("k")).as("n_tokens"),
          sum(col("occ") * length(col("w"))).cast("long").as("n_chars"))
        .withColumn("fertility_millis",
          expr("n_tokens * 1000 div n_words"))
        .orderBy(col("source"))
      // materialise the tiny census before the vocab unpersists; a local
      // checkpoint, unlike persist(), is freed once the result is dropped
      out.localCheckpoint()
    }
  }
}
