package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed suffix-array construction by prefix doubling
  * (Manber–Myers, generalized to m-tupling) — the exact-substring-dedup
  * primitive: once every corpus suffix carries its global lexicographic
  * rank, repeated substrings of any length are adjacent rank runs, which
  * is how byte-level training-data dedup (Lee et al. 2021, "Deduplicating
  * Training Data Makes Language Models Better") finds the 50-token
  * verbatim repeats that n-gram methods miss. Reference analogue: none —
  * engine addition for the curation family (SURVEY §2.3).
  *
  * Why this shape at 10^12 docs: the naive formulation materializes every
  * suffix STRING and globally sorts Σ len²/2 bytes — dead long before one
  * shard. Here suffix text is touched by exactly one init scan; all later
  * state is (doc_id, ranks[pos]) with ranks dense in [0, n), the
  * distributed-memory construction of Flick & Aluru (SC'15) with three
  * engine-shaped twists:
  *
  *   1. per-doc ARRAY state (suffixes never cross a document, docs are
  *      capped at `maxLen` chars): forming the round's comparison keys
  *      (rank[pos], rank[pos+k], …) is a row-local codegen `transform` —
  *      zero shuffle — instead of a self-join;
  *   2. m-TUPLING, not just doubling: while (n+1)^m fits in a signed
  *      long, m consecutive block ranks pack into ONE base-(n+1) integer
  *      whose order is exactly the m·k-prefix order, so each ranking
  *      round multiplies the covered prefix by m (m=3 at 10^8 suffixes,
  *      m=4 below 55k; at n ≥ 2^31 packing degenerates to the classic
  *      two-column (r1, r2) doubling — same densify, two sort keys);
  *   3. dense re-ranking WITHOUT a global sort: rows bucket by the
  *      VALUE-derived top rank component (dense in [0, n) — no
  *      repartitionByRange sampling pass, same determinism rationale as
  *      [[PackingOps]]'s prefix sum), sort within partitions, per-bucket
  *      distinct counts (≤ numBuckets rows) prefix-sum on the driver,
  *      one sweep assigns offset + local index. Equal keys share the
  *      bucket, so ties stay tied and the ranks are a pure function of
  *      the data (partition-count invariant).
  *
  * Init ranks pack the first 8 chars base-129 (ASCII contract — codepoint
  * order equals UTF-8 byte order, so ranks agree with binary-collation
  * `ORDER BY suffix` on both engines; the corpus is ASCII per TESTDATA.md
  * and the spec pins multi-byte out of scope). Rounds stop early at the
  * refinement fixpoint — every rank distinct, OR a round that splits no
  * class (duplicate suffixes keep nd < n forever, so the unchanged-count
  * test is the one that fires on deduplicatable corpora) — detected for
  * free from the per-bucket counts the ranking pass already collects.
  */
object SuffixOps {

  case class SfxKey(doc_id: Long, pos: Int, bkt: Int, k1: Long, k2: Long)
  case class SfxRank(doc_id: Long, pos: Int, rnk: Long)

  /** EXACT-DUP COLLAPSE for the suffix family (r6, the `textGroups`
    * pattern from [[DedupOps]] applied here): every op below is a pure
    * function of the maxLen-CAPPED text, so the prefix-doubling rounds may
    * run over ONE representative per distinct capped text and member rows
    * be recovered arithmetically — lossless by construction. Dense suffix
    * ranks are ranks over DISTINCT suffix strings, and duplicate docs add
    * no new distinct suffixes, so the rank table over reps IS the rank
    * table over all docs restricted to reps; a member's (pos, rnk) rows
    * equal its rep's. A crawled corpus with dup clusters of size c pays
    * the O(rounds) shuffle machinery once per distinct text instead of c
    * times (the sf10 probe measured p125 at 8.1x per 10x data on exactly
    * this — the worst non-collapsed growth left in the suite).
    *
    * Returns (reps = one (doc_id, text) per distinct capped text keyed by
    * min doc_id, text already capped; members = (rep_id, doc_id) for every
    * doc; stats = per-rep (doc_id, csize, dsum) with
    * dsum = Σ members (doc_id % 997 + 1), the weight [[suffixCensus]]'s
    * chk_doc needs). */
  private def collapse(docs: DataFrame, maxLen: Int)
    : (DataFrame, DataFrame, DataFrame) = {
    // group by the CAPPED TEXT itself (≤ maxLen chars — the same order
    // as a digest, and the rep/stats frames then need NO join back:
    // one partially-aggregated exchange, cheap to re-evaluate from the
    // several consumers); only the member map pays a join, and only the
    // expansion paths evaluate it
    val keyed = docs.select(col("doc_id").cast("long").as("doc_id"),
      substring(col("text"), 1, maxLen).as("text"))
    val agg = keyed.groupBy(col("text"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("csize"),
        sum(col("doc_id") % 997L + 1L).as("dsum"))
    (agg.select(col("rep_id").as("doc_id"), col("text")),
     keyed.join(agg.select(col("text"), col("rep_id")), Seq("text"))
       .select(col("rep_id"), col("doc_id")),
     agg.select(col("rep_id").as("doc_id"), col("csize"), col("dsum")))
  }

  /** Global suffix ranks over `substring(text, 1, maxLen)` of every doc:
    * one row per (doc_id, pos) with `rnk` = 0-based dense lexicographic
    * rank of that suffix among ALL suffixes of ALL docs (equal suffix
    * strings share a rank — exactly `dense_rank() OVER (ORDER BY
    * suffix) - 1`).
    *
    * The doubling rounds ([[ranksCore]]) run over one rep per distinct
    * capped text and rep rows are copied to members (dense ranks are
    * ranks over DISTINCT suffixes — see [[collapse]]). */
  private[graft] def suffixRanks(docs: DataFrame,
                                 maxLen: Int = 192): DataFrame = {
    val (reps, members, _) = collapse(docs, maxLen)
    ranksCore(reps, maxLen).as("r")
      .join(members.as("m"), col("r.doc_id") === col("m.rep_id"))
      .select(col("m.doc_id").as("doc_id"), col("r.pos").as("pos"),
        col("r.rnk").as("rnk"))
  }

  /** The per-doc prefix-doubling kernel: ranks every suffix of every row
    * of `docs` (the spec reference for the collapse).
    *
    * @param forcePairwise pretend (n+1)^2 overflows so the huge-n
    *   two-column doubling path runs (the path a 10^14-suffix corpus
    *   takes, where no packing fits 63 bits). */
  private[graft] def ranksCore(docs: DataFrame, maxLen: Int,
                               forcePairwise: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    // one narrow scan — the only pass that touches text: first-8-chars
    // packed base-129 ((code+1), 0 pads the tail) as the round-0 key
    val init = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        substring(col("text"), 1, maxLen).as("t"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, length(t) - 1), i -> struct(
          |  i AS pos,
          |  aggregate(sequence(0, 7), 0L, (acc, j) ->
          |    acc * 129L + IF(i + j < length(t),
          |      CAST(ascii(substring(t, i + j + 1, 1)) AS BIGINT) + 1L,
          |      0L)) AS k1))
          |""".stripMargin)).as("x"))
      .select(col("doc_id"), col("x.pos").cast("int").as("pos"),
        // bucket by the top two chars: key div 129^6, dense enough
        expr("CAST(x.k1 DIV 4594972986357 AS INT)").as("bkt0"),
        col("x.k1"), lit(0L).as("k2"))

    // row count of `init` WITHOUT executing the explode+pack a second
    // time (r6, guide §2.3 — at corpus scale the count was a full extra
    // pass over every byte of text): sequence(0, L-1) yields L rows for
    // L ≥ 1, 2 rows for L = 0 (descending [0,-1]), 0 for null text —
    // summed as a narrow aggregate over doc lengths only
    val n = docs.select(substring(col("text"), 1, maxLen).as("t"))
      .select(sum(when(col("t").isNull, 0L)
        .when(length(col("t")) === 0, 2L)
        .otherwise(length(col("t")).cast("long"))).as("n"))
      .collect()(0) match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    if (n == 0) return spark.emptyDataset[SfxRank].toDF()
    val buckets = math.max(spark.sparkContext.defaultParallelism,
      math.min(1024L, n / 4096L)).toInt
    val base = n + 1 // rank packing base; ranks are dense < n

    // m-tuple width: largest m with (n+1)^m < 2^62; m < 2 → pairwise path
    val mWidth: Int = if (forcePairwise) 1 else {
      var m = 1; var v = base
      while (m < 4 && v < (1L << 62) / base) { v *= base; m += 1 }
      m
    }

    var (cur, curCache, nd0) =
      densify(init.withColumnRenamed("bkt0", "bkt").as[SfxKey],
        buckets, None)
    var prefix = 8L // chars already ordered by the current ranks
    var prevNd = nd0
    var done = nd0 == n

    while (prefix < maxLen && !done) {
      val arr = regroup(cur) // (doc_id, a: array<long> ranks by pos)
      val k = prefix
      val keyed: Dataset[SfxKey] =
        if (mWidth >= 2) {
          // pack (r[i], r[i+k], …, r[i+(m-1)k]) base (n+1); missing → 0
          val terms = (0 until mWidth).map { j =>
            val off = k * j
            val r = if (j == 0) "a[i]"
            else s"IF(i + ${off} < size(a), a[i + ${off}], -1L)"
            s"($r + 1L)"
          }
          val packed = terms.reduceLeft((acc, t) => s"($acc * ${base}L + $t)")
          arr.select(col("doc_id"), explode(expr(
            s"""transform(sequence(0, size(a) - 1), i -> struct(
               |  i AS pos, $packed AS k1))""".stripMargin)).as("x"))
            .select(col("doc_id"), col("x.pos").cast("int").as("pos"),
              // top component = r[i]+1 ∈ [1, n]: value-derived bucket
              expr(s"CAST(x.k1 DIV ${pow(base, mWidth - 1)}L" +
                s" * $buckets DIV ${base}L AS INT)").as("bkt"),
              col("x.k1"), lit(0L).as("k2")).as[SfxKey]
        } else {
          // n too large for any packing: classic (r1, r2) doubling
          arr.select(col("doc_id"), explode(expr(
            s"""transform(sequence(0, size(a) - 1), i -> struct(
               |  i AS pos, a[i] AS k1,
               |  IF(i + $k < size(a), a[i + $k], -1L) AS k2))"""
              .stripMargin)).as("x"))
            .select(col("doc_id"), col("x.pos").cast("int").as("pos"),
              expr(s"CAST(x.k1 * $buckets DIV ${base}L AS INT)").as("bkt"),
              col("x.k1"), col("x.k2")).as[SfxKey]
        }
      val (next, nextCache, nd) = densify(keyed, buckets, curCache)
      cur = next; curCache = nextCache
      // fixpoint: the m-tuple key's top component is the old rank, so the
      // new partition refines the old; an unchanged distinct count means
      // no class split this round — and a partition stable under one
      // spacing-k m-tuple refinement is stable under all larger prefixes
      // (standard prefix-doubling convergence), so ranks are final even
      // though duplicate suffixes keep nd < n forever
      done = nd == n || nd == prevNd
      prevNd = nd
      prefix = k * math.max(mWidth, 2)
    }
    // the ranks read the last round's cache lazily: materialise them as a
    // local checkpoint, which the ContextCleaner frees once the result is
    // dropped, then release the cache (a CacheManager entry never is)
    val ranks = cur.toDF().localCheckpoint()
    curCache.foreach(_.unpersist())
    ranks
  }

  private def pow(b: Long, e: Int): Long = {
    var v = 1L; var i = 0
    while (i < e) { v *= b; i += 1 }; v
  }

  /** (doc_id, pos, rnk) rows → (doc_id, a) with a[pos] = rnk. */
  private def regroup(ranks: Dataset[SfxRank]): DataFrame =
    ranks.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("rnk"))))
        .as("pr"))
      .select(col("doc_id"),
        expr("transform(pr, x -> x.rnk)").as("a"))

  /** Dense 0-based rank of (k1, k2) keys without a global sort: hash
    * exchange on the value-derived bucket + in-partition sort + a driver
    * prefix-sum over ≤ `buckets` per-bucket distinct counts. A bucket
    * lives in exactly one partition and bucket ranges are disjoint in
    * key space, so offset + local dense index is the global dense rank.
    * Returns (ranked, itsCache, totalDistinct); unpersists `prev` once
    * the new cache is materialized. */
  private def densify(keys: Dataset[SfxKey], buckets: Int,
                      prev: Option[Dataset[SfxKey]])
    : (Dataset[SfxRank], Option[Dataset[SfxKey]], Long) = {
    val spark = keys.sparkSession
    import spark.implicits._
    val sorted = keys
      .repartition(buckets, col("bkt"))
      .sortWithinPartitions(col("bkt"), col("k1"), col("k2"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // pass 1 (materializes the cache): per-bucket distinct-key counts —
    // rows arrive bucket-contiguous and sorted, one sweep, tiny collect
    val counts: Array[(Int, Long)] = sorted.mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      var bkt = Int.MinValue; var nd = 0L
      var l1 = 0L; var l2 = 0L; var has = false
      def flush(): Unit = if (bkt != Int.MinValue) out += ((bkt, nd))
      while (it.hasNext) {
        val x = it.next()
        if (x.bkt != bkt) { flush(); bkt = x.bkt; nd = 0L; has = false }
        if (!has || x.k1 != l1 || x.k2 != l2) {
          nd += 1L; l1 = x.k1; l2 = x.k2; has = true
        }
      }
      flush(); out.iterator
    }.collect()
    prev.foreach(_.unpersist())

    val total = counts.map(_._2).sum
    val offsets = new java.util.HashMap[Int, Long]()
    var acc = 0L
    counts.sortBy(_._1).foreach { case (b, nd) =>
      offsets.put(b, acc); acc += nd
    }
    val bc: Broadcast[java.util.HashMap[Int, Long]] =
      spark.sparkContext.broadcast(offsets)

    // pass 2: offset + local dense index, one sweep per partition
    val ranked = sorted.mapPartitions { it =>
      var bkt = Int.MinValue; var local = -1L
      var l1 = 0L; var l2 = 0L; var has = false
      it.map { x =>
        if (x.bkt != bkt) { bkt = x.bkt; local = -1L; has = false }
        if (!has || x.k1 != l1 || x.k2 != l2) {
          local += 1L; l1 = x.k1; l2 = x.k2; has = true
        }
        SfxRank(x.doc_id, x.pos, bc.value.get(x.bkt) + local)
      }
    }
    (ranked, Some(sorted), total)
  }

  /** Text cap of the public suffix ops, the LCP window of [[lcpCensus]]
    * and [[repeatSpans]], the repeat length [[repeatSpans]] flags, and the
    * log2 of ranks per [[suffixCensus]] shard. */
  private[graft] val SuffixMaxLen = 128
  private[graft] val LcpWindow = 64
  private[graft] val RepeatMinLen = 20
  private[graft] val CensusShardShift = 9

  /** LCP census over the global suffix order — the Kasai-style companion
    * to [[suffixRanks]]: for every adjacent pair of DISTINCT ranks
    * (r, r+1), the length of the longest common prefix of the two suffix
    * strings, capped at `LcpWindow` chars, over the `SuffixMaxLen`-capped
    * texts. This is the signal exact-substring
    * dedup actually thresholds on (Lee et al. 2021 remove repeats with
    * LCP ≥ 50 tokens): a long verbatim repeat appears as an adjacent-rank
    * pair with a large LCP, and the census histogram is the corpus's
    * repeated-substring spectrum.
    *
    * Scale shape: true unbounded LCP needs character access per pair —
    * the trap is materializing full suffixes (Σ len²/2 bytes again). Two
    * bounds keep it linear:
    *   1. one REPRESENTATIVE per rank class (min (doc_id, pos)) — equal
    *      ranks are equal suffix strings, so the class's window is any
    *      member's window; the groupBy shuffles (rnk, doc, pos) triples
    *      only;
    *   2. the `LcpWindow` cap: dedup thresholds at some repeat length W, so
    *      each representative carries exactly min(W, remaining) chars —
    *      O(n_distinct · W) bytes total, the tunable that replaces len².
    *      Two windows that are equal through all W chars report LCP = W
    *      (">= W", exactly the thresholded predicate dedup needs).
    * Window text is attached by ONE doc_id-keyed join against the capped
    * doc texts (text shuffles once), pairing is a dense-key self-join on
    * rnk+1 = rnk (hash exchange of (rnk, win) rows, no global sort), and
    * the per-pair LCP is the codegen'd byte loop
    * [[graft.functions.CommonPrefixLen]] (ASCII contract shared with the
    * base-129 init ranks). `chk_rnk` binds every pair's LCP to its rank so
    * a census row can't be right by accident.
    *
    * The census is a pure function of the DISTINCT-rank structure — rank
    * classes, adjacency and windows are identical with or without
    * duplicate docs — so the whole chain runs over one rep per distinct
    * capped text with NO member expansion at all.
    */
  def lcpCensus(docs: DataFrame): DataFrame =
    lcpCensusOf(collapse(docs, SuffixMaxLen)._1, docs, SuffixMaxLen, LcpWindow)

  /** [[lcpCensus]] over the suffixes of `src` (the spec reference passes
    * `src = docs`). Window text comes from the ORIGINAL `docs` table
    * (cheaper than re-evaluating the collapse): the doc_id-keyed join
    * selects `src` rows only, and a rep's capped text is its own text. */
  private[graft] def lcpCensusOf(src: DataFrame, docs: DataFrame,
                                 maxLen: Int, window: Int): DataFrame = {
    val d = docs.select(col("doc_id").cast("long").as("doc_id"),
      substring(col("text"), 1, maxLen).as("t"))
    val reps = ranksCore(src, maxLen)
      .groupBy(col("rnk"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("rep"))
      .select(col("rnk"), col("rep.doc_id").as("doc_id"),
        col("rep.pos").as("pos"))
    val wins = reps.join(d, "doc_id")
      .select(col("rnk"), expr(s"substring(t, pos + 1, $window)").as("win"))
    wins.as("a")
      .join(wins.as("b"), col("a.rnk") + 1L === col("b.rnk"))
      .select(col("a.rnk").as("rnk"),
        graft.functions.functions
          .common_prefix_len(col("a.win"), col("b.win"))
          .cast("long").as("lcp"))
      .groupBy(col("lcp"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("rnk")).as("chk_rnk"))
      .orderBy(col("lcp"))
  }

  /** Verbatim-repeat REMOVAL PLAN — the operator the suffix ranks and the
    * LCP exist for (Lee et al. 2021 §3, ExactSubstr): every suffix whose
    * repeat length reaches `RepeatMinLen` contributes a flagged span
    * [pos, pos + repLen), and per-doc overlapping/touching spans merge
    * into maximal intervals — the byte ranges a dedup pass would cut.
    *
    * A suffix's repeat length is the classic max of its LCPs with BOTH
    * lexicographic neighbors, computed at CLASS level (equal ranks are
    * equal strings, so all members of a class share its neighbor LCPs)
    * plus the duplicate-class term: a class with ≥ 2 members is a suffix
    * that appears verbatim elsewhere, so its whole (window-capped) length
    * counts. All lengths are capped at `LcpWindow` — the production contract
    * is "flag repeats ≥ minLen, report span lengths up to W", which keeps
    * every intermediate O(n) rows / O(nd·W) bytes.
    *
    * The per-doc interval union is a row-local `aggregate` HOF over the
    * doc's sorted span array (spans per doc ≤ capped doc length, tiny):
    * spans touch-or-overlap-merge when next.start ≤ current.end — the
    * same islands rule the oracle's running-max window computes. Output:
    * one row per flagged doc with raw/merged span counts, flagged byte
    * total, and a Σ start·len checksum binding interval placement.
    *
    * Exact-dup collapse (r6): the whole chain — classes, neighbor LCPs,
    * spans, interval union — is a pure function of the capped text, so it
    * runs once per distinct text; the per-doc summary rows are then
    * COPIED to members (output-sized join, no suffix work per dup). The
    * one member-sensitive input is n_members (the duplicate-class term
    * fires when a suffix string occurs ≥ 2 times corpus-wide), which the
    * rep path recovers exactly as Σ cluster sizes over the class's reps.
    */
  def repeatSpans(docs: DataFrame): DataFrame =
    repeatSpansKernel(docs, SuffixMaxLen, LcpWindow, RepeatMinLen,
      collapseExact = true)

  /** [[repeatSpans]] with the collapse on or off (`false` is the per-doc
    * spec reference). */
  private[graft] def repeatSpansKernel(docs: DataFrame, maxLen: Int,
                                       window: Int, minLen: Int,
                                       collapseExact: Boolean): DataFrame = {
    val (src, membersOpt) =
      if (collapseExact) {
        val (reps, members, stats) = collapse(docs, maxLen)
        (reps, Some((members, stats)))
      } else (docs, None)
    // window/length text from the ORIGINAL docs (doc_id-keyed joins below
    // select rep rows only; see lcpCensus)
    val d = docs.select(col("doc_id").cast("long").as("doc_id"),
      substring(col("text"), 1, maxLen).as("t"))
    val ranks = ranksCore(src, maxLen)

    // class summary: member count + lexicographically-least representative
    // (any member of a rank class carries the same suffix string, so the
    // rep choice only feeds window text — collapsed and per-doc paths may
    // pick different members with identical windows)
    val classes = membersOpt match {
      case Some((_, stats)) =>
        ranks.join(stats.select(col("doc_id"), col("csize")), "doc_id")
          .groupBy(col("rnk"))
          .agg(sum(col("csize")).as("n_members"),
            min(struct(col("pos"), col("doc_id"))).as("rep"))
      case None =>
        ranks.groupBy(col("rnk"))
          .agg(count(lit(1)).as("n_members"),
            min(struct(col("pos"), col("doc_id"))).as("rep"))
    }
    // window per class via ONE doc-keyed text join on the representatives
    val wins = classes
      .select(col("rnk"), col("n_members"),
        col("rep.doc_id").as("doc_id"), col("rep.pos").as("pos"))
      .join(d, "doc_id")
      .select(col("rnk"), col("n_members"),
        expr(s"substring(t, pos + 1, $window)").as("win"))
    // neighbor LCPs per class: lcp(r, r+1) keyed by the LEFT class
    val lcpNext = wins.as("a")
      .join(wins.as("b"), col("a.rnk") + 1L === col("b.rnk"))
      .select(col("a.rnk").as("rnk"),
        graft.functions.functions
          .common_prefix_len(col("a.win"), col("b.win"))
          .cast("long").as("lcp"))
    val classRep = wins.select(col("rnk"), col("n_members"))
      .join(lcpNext.withColumnRenamed("lcp", "lcp_next"), Seq("rnk"), "left")
      .join(lcpNext.select((col("rnk") + 1L).as("rnk"),
        col("lcp").as("lcp_prev")), Seq("rnk"), "left")
      .select(col("rnk"), col("n_members"),
        greatest(coalesce(col("lcp_next"), lit(0L)),
          coalesce(col("lcp_prev"), lit(0L))).as("nbr_lcp"))

    // member-level spans: max(neighbor LCP, duplicate-class suffix length)
    val spans = ranks
      .join(classRep, "rnk")
      .join(d.select(col("doc_id"), length(col("t")).cast("long").as("len")),
        "doc_id")
      .select(col("doc_id"), col("pos").cast("long").as("s"),
        greatest(col("nbr_lcp"),
          when(col("n_members") >= 2L,
            least(col("len") - col("pos"), lit(window.toLong)))
            .otherwise(lit(0L))).as("rep_len"))
      .filter(col("rep_len") >= minLen.toLong)
      .select(col("doc_id"), col("s"), (col("s") + col("rep_len")).as("e"))

    // per-doc interval union: sorted-array fold, touching spans merge
    val summary = spans.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("sp"))
      .select(col("doc_id"),
        size(col("sp")).cast("long").as("n_raw"),
        expr("""aggregate(sp,
          |  struct(CAST(0 AS BIGINT) AS n, CAST(-1 AS BIGINT) AS cs,
          |         CAST(-1 AS BIGINT) AS ce, CAST(0 AS BIGINT) AS bytes,
          |         CAST(0 AS BIGINT) AS chk),
          |  (acc, x) -> IF(acc.cs < 0L,
          |    struct(acc.n AS n, x.s AS cs, x.e AS ce,
          |           acc.bytes AS bytes, acc.chk AS chk),
          |    IF(x.s <= acc.ce,
          |      struct(acc.n AS n, acc.cs AS cs,
          |             greatest(acc.ce, x.e) AS ce,
          |             acc.bytes AS bytes, acc.chk AS chk),
          |      struct(acc.n + 1L AS n, x.s AS cs, x.e AS ce,
          |             acc.bytes + acc.ce - acc.cs AS bytes,
          |             acc.chk + acc.cs * (acc.ce - acc.cs) AS chk))),
          |  acc -> struct(acc.n + 1L AS n_merged,
          |                acc.bytes + acc.ce - acc.cs AS bytes_flagged,
          |                acc.chk + acc.cs * (acc.ce - acc.cs) AS chk))
          |""".stripMargin).as("m"))
      .select(col("doc_id"), col("n_raw"),
        col("m.n_merged").as("n_merged"),
        col("m.bytes_flagged").as("bytes_flagged"),
        col("m.chk").as("chk"))
    membersOpt match {
      case Some((members, _)) =>
        // copy each rep's summary row to every member of its text cluster
        // (spans are position arithmetic over the shared text — identical
        // per member by construction)
        summary.as("s")
          .join(members.as("g"), col("s.doc_id") === col("g.rep_id"))
          .select(col("g.doc_id").as("doc_id"), col("s.n_raw").as("n_raw"),
            col("s.n_merged").as("n_merged"),
            col("s.bytes_flagged").as("bytes_flagged"),
            col("s.chk").as("chk"))
          .orderBy(col("doc_id"))
      case None => summary.orderBy(col("doc_id"))
    }
  }

  /** Driver-gate census of the full rank array: 512-rank shards
    * (2^`CensusShardShift`) of the `SuffixMaxLen`-capped texts, carrying
    * suffix/distinct counts plus two product checksums that bind every
    * rank to its (doc, pos) — any single wrong rank moves a shard or
    * breaks a checksum. Integer-exact: rnk < n and the factors are < 2^10,
    * so shard sums stay far below 2^63.
    *
    * Rep-arithmetic form (r6): member rows of a text cluster are the
    * rep's rows with substituted doc_ids, so every census sum is a
    * csize/dsum-weighted sum over rep rows — the member table is never
    * materialized (count → Σ csize, Σ pos → Σ pos·csize,
    * Σ rnk·(doc%997+1) → Σ rnk·dsum); distinct ranks are unweighted. */
  def suffixCensus(docs: DataFrame): DataFrame = {
    val (reps, _, stats) = collapse(docs, SuffixMaxLen)
    ranksCore(reps, SuffixMaxLen)
      .join(stats, "doc_id")
      .groupBy(shiftright(col("rnk"), CensusShardShift).as("shard"))
      .agg(sum(col("csize")).as("n_suffixes"),
        countDistinct(col("rnk")).as("n_distinct"),
        sum(col("pos").cast("long") * col("csize")).as("sum_pos"),
        sum(col("rnk") * (col("pos").cast("long") + 1L) * col("csize"))
          .as("chk_pos"),
        sum(col("rnk") * col("dsum")).as("chk_doc"))
      .orderBy(col("shard"))
  }

  /** The per-doc census — the spec reference for [[suffixCensus]]'s
    * rep arithmetic. */
  private[graft] def suffixCensusUncollapsed(docs: DataFrame, maxLen: Int,
                                             shardShift: Int): DataFrame =
    ranksCore(docs, maxLen)
      .groupBy(shiftright(col("rnk"), shardShift).as("shard"))
      .agg(count(lit(1)).as("n_suffixes"),
        countDistinct(col("rnk")).as("n_distinct"),
        sum(col("pos").cast("long")).as("sum_pos"),
        sum(col("rnk") * (col("pos").cast("long") + 1L)).as("chk_pos"),
        sum(col("rnk") * (col("doc_id") % 997L + 1L)).as("chk_doc"))
      .orderBy(col("shard"))
}
