package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import java.util.regex.Pattern

/** Deduplication operators over the `documents` table: exact (hash
  * group-by), MinHash+LSH near-dup (shingle → minhash signature → banded
  * bucket join → exact-Jaccard verify), SimHash hamming near-dup, and
  * n-gram Jaccard. Built on Catalyst higher-order functions + xxhash64 —
  * no UDFs on the hot path, all shuffles are keyed group-bys over small
  * derived keys (bands/buckets), which is what survives a 100× scale-up.
  */
object DedupOps {

  /** Word-shingle width of the near-dup family. */
  private val ShingleW = 3

  /** MinHash LSH banding: 32 bands × 3 rows = 96 hashes, and the verified
    * Jaccard floor in percent (see [[minhashLsh]] for the recall math). */
  private val LshBands = 32
  private val LshRowsPerBand = 3
  private val LshMinJaccardPct = 60

  /** Jaccard floor in percent of the exact, prefix-filtered and weighted
    * pair ops. */
  private val PairMinPct = 50

  /** Round cap of the large-star/small-star loop ([[labelByStars]]). */
  private val MaxStarRounds = 25

  /** NFC-canonical duplicate clusters: exact dedup (p01) keyed on
    * `md5(NFC(text))` instead of `md5(text)`, unifying composed and
    * decomposed Unicode twins ('é' = U+00E9 vs 'e'+U+0301) that byte-hash
    * dedup treats as distinct — the canonical-equivalence complement to
    * the homoglyph skeleton's confusable folding (p115). One codegen'd
    * normalize+hash per row ([[graft.functions.NfcNormalize]] with an
    * isNormalized fast path, so already-NFC text — nearly all of it —
    * pays a scan, not an allocation), then the p01 keyed partial+final
    * aggregate: 16-byte keys through the shuffle, never text. */
  def nfcDupClusters(df: DataFrame): DataFrame =
    df.groupBy(md5(graft.functions.functions.nfc_normalize(col("text"))
        .cast("binary")).as("nfc_md5"))
      .agg(count(lit(1)).as("n_members"),
        countDistinct(md5(col("text").cast("binary"))).as("n_raw"),
        min(col("doc_id")).as("min_doc_id"))
      .filter(col("n_members") > 1)
      .orderBy(col("min_doc_id"))

  private val wsPat = Pattern.compile("\\s+")

  /** Exact dedup: md5(text) → keeper = min(doc_id), duplicate count. */
  def exact(df: DataFrame): DataFrame =
    df.select(col("doc_id"), md5(col("text").cast("binary")).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"),
           count(lit(1)).as("n_docs"))
  // no global orderBy on per-doc/per-group outputs (see TextOps note):
  // the driver compare is sort-insensitive; a full sort is a wasted shuffle
  // at 10^12 rows.

  /** Distinct word w-shingle count per doc — typed map: the Column
    * formulation re-inlines the tokenizer per array element (O(tokens²),
    * measured 30×+ slowdowns). */
  def shingleCounts(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val w = ShingleW
    df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val toks = wsPat.split(text.trim)
        val n =
          if (toks.length < w) 1
          else Array.tabulate(toks.length - w + 1)(i =>
            toks.slice(i, i + w).mkString(" ")).distinct.length
        (id, n)
      }
      .toDF("doc_id", "n_shingles")
  }

  /** splitmix64 finalizer — cheap per-seed derived hashes so each shingle
    * is hashed ONCE and the `numHashes` minhash lanes reuse the base hash. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Distinct word w-shingles per doc — the single typed-map tokenize pass
    * (Catalyst re-inlines a shared Column tokenizer, commit baa57d6). */
  private[ops] def shingleArr(text: String, w: Int): Array[String] = {
    val toks = wsPat.split(text.trim)
    if (toks.length < w) Array(toks.mkString(" "))
    else Array.tabulate(toks.length - w + 1)(i =>
      toks.slice(i, i + w).mkString(" ")).distinct
  }

  /** Distinct word w-gram hashes of one text (masked md5-low63 — the
    * cross-engine hash the SQL oracles replicate). The per-row kernel
    * behind `CorpusOps.decontaminate` and its streaming analogue. */
  def gramHashes(text: String, w: Int): Array[Long] =
    shingleArr(text, w).map(TextOps.md5Low63)

  /** Per-doc distinct shingle sets: (doc_id, sh). At 100 TB this table is
    * written bucketed by doc_id (Spark's `bucketBy`) so the verify joins
    * below are shuffle-free on the big side. */
  private def shingleSets(df: DataFrame, w: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) => (id, shingleArr(text, w).toSeq) }
      .toDF("doc_id", "sh")
  }

  /** MinHash band keys in ONE pass per row (typed map): (doc_id, band_keys)
    * ONLY — no shingle payload. A pure-Catalyst formulation re-inlines the
    * per-lane min expression into every band key (measured 30× blowup), so
    * the per-row loop runs as a typed map: O(shingles × numHashes) once. */
  private def minhashBands(df: DataFrame, w: Int, bands: Int,
                           rowsPerBand: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) => (id, bandKeysFor(text, w, bands, rowsPerBand).toSeq) }
      .toDF("doc_id", "band_keys")
  }

  /** The per-row minhash band-key kernel behind `minhashBands`. Band id is
    * baked into each key's fold seed, so keys from different band
    * positions never collide by construction. */
  private def bandKeysFor(text: String, w: Int, bands: Int,
                  rowsPerBand: Int): Array[Long] = {
    val numHashes = bands * rowsPerBand
    val sh = shingleArr(text, w)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    sh.foreach { s =>
      val base = graft.io.Corpus.hash(s)
      var i = 0
      while (i < numHashes) {
        val h = mix64(base ^ (i * 0x632be59bd9b4e019L))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    Array.tabulate(bands) { b =>
      var h = b.toLong
      var r = 0
      while (r < rowsPerBand) { h = mix64(h ^ sig(b * rowsPerBand + r)); r += 1 }
      h
    }
  }

  /** LSH candidate pairs only (no verification) — the banded self-join
    * shared by `minhashLsh` and the recall-measurement query (p46).
    * Shuffle payload is the 24-byte (doc_id, band_id, band_key) row.
    * Shingles are `ShingleW` words wide. */
  def minhashCandidates(df: DataFrame, bands: Int = LshBands,
                        rowsPerBand: Int = LshRowsPerBand): DataFrame = {
    val banded = minhashBands(df, ShingleW, bands, rowsPerBand)
      .select(col("doc_id"),
        posexplode(col("band_keys")).as(Seq("band_id", "band_key")))
    // bucket join → unordered candidate pairs (a < b), deduped across bands
    banded.as("l").join(banded.as("r"),
        col("l.band_id") === col("r.band_id") &&
        col("l.band_key") === col("r.band_key") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** MinHash + LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * Scale topology (the part that survives 100×): the banded self-join
    * shuffles ONLY (doc_id, band_id, band_key) — 24 bytes/band — never the
    * shingle text (round 1 carried the full shingle array through the ×bands
    * explode: ~16× corpus text volume through the shuffle). Shingle sets are
    * fetched for the (tiny) candidate set afterwards via two doc_id-keyed
    * joins against `shingleSets`, co-located when that table is bucketed.
    *
    * The banding (32 bands × 3 rows = 96 hashes) puts candidate-recall at
    * Jaccard 0.6 at 1-(1-0.6³)^32 ≈ 0.9996 with false-positive mass per
    * random pair ≈ s³·32 (s ≈ corpus background similarity) — chosen so the
    * LSH output equals the exact-Jaccard pair set on the verification data,
    * which is what the DuckDB all-pairs oracle asserts.
    *
    * Exact-dup collapse (r5, shared with the Jaccard family): identical
    * texts have identical minhash signatures, so both LSH candidacy and
    * the exact verify are text-pure — banding and verifying one rep per
    * distinct text ([[minhashLshUncollapsed]]) then expanding member
    * pairs arithmetically is output-identical (spec-pinned) and removes
    * the dup-cluster quadratic from every band bucket. */
  def minhashLsh(df: DataFrame): DataFrame = {
    val (repDocs, members) = textGroups(df)
    val repPairs = minhashLshUncollapsed(repDocs, LshBands,
      LshRowsPerBand, LshMinJaccardPct)
    val withinVals = shingleSets(repDocs, ShingleW)
      .select(col("doc_id").as("rep_id"),
        size(col("sh")).as("n_inter"))
      .withColumn("n_union", col("n_inter"))
    expandCollapsed(repPairs, members, withinVals,
      Seq("n_inter", "n_union"))
  }

  /** The per-doc LSH kernel [[minhashLsh]] runs over its representatives
    * (and the spec reference for the collapse). Exact verify: shingle
    * sets are fetched for candidates only, Jaccard as integer
    * intersection/union sizes. The candidate side is broadcast so the
    * (large) shingle table never shuffles — candidate pairs are a tiny
    * fraction of the corpus on dedup workloads. */
  private[graft] def minhashLshUncollapsed(df: DataFrame, bands: Int,
                                           rowsPerBand: Int,
                                           minJaccardPct: Int): DataFrame = {
    val candidates = minhashCandidates(df, bands, rowsPerBand)
    val sets = shingleSets(df, ShingleW)
    val withA = sets
      .withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a")
      .join(broadcast(candidates), "doc_a") // sets streams map-side
    sets
      .withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b")
      .join(broadcast(withA), "doc_b") // sets streams map-side again
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("n_union", size(array_union(col("sh_a"), col("sh_b"))))
      .where(col("n_inter") * 100 >= col("n_union") * minJaccardPct)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"))
  }

  /** INCREMENTAL near-dup: probe a batch of NEW docs (`delta`) against the
    * existing corpus (`index`) through the banded minhash keys — the
    * incremental-crawl form of [[minhashLsh]]. Only the delta's band keys join
    * against the index's, so each ingest batch costs
    * O(|delta| × bands) probe keys against a (bucketable, precomputable)
    * index — the corpus never re-pairs with itself. Same band kernel as
    * the self-join path, so any pair the full run finds between the two
    * sets, this finds. Emits (doc_a ∈ delta, doc_b ∈ index) with the
    * exact-Jaccard verify counts. */
  def minhashIncremental(index: DataFrame, delta: DataFrame): DataFrame = {
    val w = ShingleW
    val bi = minhashBands(index, w, LshBands, LshRowsPerBand)
      .select(col("doc_id").as("doc_b"),
        posexplode(col("band_keys")).as(Seq("band_id", "band_key")))
    val bd = minhashBands(delta, w, LshBands, LshRowsPerBand)
      .select(col("doc_id").as("doc_a"),
        posexplode(col("band_keys")).as(Seq("band_id", "band_key")))
    val cand = bd.join(bi, Seq("band_id", "band_key"))
      .select("doc_a", "doc_b").dropDuplicates("doc_a", "doc_b")
    // exact verify, same broadcast-candidate shape as minhashLsh: shingle
    // sets stream map-side, only candidates are broadcast
    val withA = shingleSets(delta, w)
      .withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a")
      .join(broadcast(cand), "doc_a")
    shingleSets(index, w)
      .withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b")
      .join(broadcast(withA), "doc_b")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("n_union", size(array_union(col("sh_a"), col("sh_b"))))
      .where(col("n_inter") * 100 >= col("n_union") * LshMinJaccardPct)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"))
  }

  /** 64-bit SimHash per document (token-hash bit voting), emitted as four
    * 16-bit band keys — the bands ARE the hamming-bucketing keys at scale,
    * and staying under 2^16 keeps every output column signed-int64-safe for
    * the cross-engine compare (the full signature is band-concatenation).
    *
    * Token hash is md5-low64 (= DuckDB `md5_number_lower`): ~10× slower per
    * token than FNV-1a but exactly replicable in SQL, which converts this
    * query from rows-only to a full-value DuckDB oracle. Typed map: the
    * bit-vote loop is per-row sequential, parallel across rows. */
  def simhash(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) => (id, simhashSig(text)) }
      .map { case (id, sig) =>
        (id, (sig & 0xffffL), ((sig >>> 16) & 0xffffL),
          ((sig >>> 32) & 0xffffL), ((sig >>> 48) & 0xffffL))
      }
      .toDF("doc_id", "band0", "band1", "band2", "band3")
  }

  private def simhashSig(text: String): Long = {
    val votes = new Array[Int](64)
    wsPat.split(text.trim).foreach { tok =>
      val h = Corpus64.md5Low64(tok)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** EXACT-DUP COLLAPSE for the text pair family — the r5 p127 lesson
    * generalized from images to text. A tiled/crawled corpus carries
    * byte-identical duplicate clusters, and every pair op whose joins run
    * per DOC pays the cluster quadratic (size 100 cluster → 10^4
    * in-cluster join rows through every posting/band/prefix key — the sf10
    * probe measured p113 exhausting 50+ GB of shuffle spill on exactly
    * this). Set/bag similarity is a pure function of the TEXT, so the
    * joins may run over one representative per distinct text and the
    * member pairs be emitted arithmetically afterwards — lossless by
    * construction: identical-text pairs score n_inter = n_union (Jaccard
    * 1, always ≥ threshold), and a cross pair's score equals its reps'.
    * Returns (repDocs = one (doc_id, text) per distinct text, keyed by
    * min doc_id; members = (rep_id, doc_id) for every doc). */
  private[ops] def textGroups(df: DataFrame): (DataFrame, DataFrame) = {
    val (reps, members, _) = textGroupsSized(df)
    (reps, members)
  }

  /** [[textGroups]] plus the per-rep cluster size — the count rides the
    * SAME aggregation that picks the rep, so the df-capped paths get
    * their document weights with zero extra exchange (r6). */
  private[ops] def textGroupsSized(df: DataFrame)
    : (DataFrame, DataFrame, DataFrame) = {
    val keyed = df.select(col("doc_id").cast("long").as("doc_id"),
      col("text"), md5(col("text")).as("tkey"))
    val reps = keyed.groupBy(col("tkey"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("csize"))
    val joined = keyed.join(reps.select(col("tkey"), col("rep_id")), Seq("tkey"))
    (joined.where(col("doc_id") === col("rep_id"))
       .select(col("doc_id"), col("text")),
     joined.select(col("rep_id"), col("doc_id")),
     reps.select(col("rep_id"), col("csize")))
  }

  /** Expand rep-level pairs back to member level (both joins are
    * OUTPUT-sized — the true answer is quadratic in cluster size, the
    * point is that no JOIN is anymore): cross pairs copy `valueCols`
    * verbatim (score is text-pure), within-group pairs take the per-group
    * constants in `withinVals` (rep_id, valueCols...). */
  private[ops] def expandCollapsed(repPairs: DataFrame, members: DataFrame,
                                   withinVals: DataFrame,
                                   valueCols: Seq[String]): DataFrame = {
    val cross = repPairs
      .join(members.select(col("rep_id").as("doc_a"),
        col("doc_id").as("ma")), "doc_a")
      .join(members.select(col("rep_id").as("doc_b"),
        col("doc_id").as("mb")), "doc_b")
      .select(Seq(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b")) ++
        valueCols.map(col): _*)
    val within = members.as("x").join(members.as("y"),
        col("x.rep_id") === col("y.rep_id") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.rep_id").as("rep_id"), col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b"))
      .join(withinVals, "rep_id")
      .select(Seq(col("doc_a"), col("doc_b")) ++ valueCols.map(col): _*)
    cross.unionByName(within)
  }

  /** EXACT n-gram Jaccard pairs via an inverted-index self-join — the
    * non-approximate counterpart of `minhashLsh` (use when the threshold is
    * low enough that LSH recall curves get expensive, or as the ground-truth
    * pass). Shuffle payload is (doc_id, shingle_hash, set_size) = 24
    * bytes/shingle — the 8-byte md5-low63 hash stands in for the shingle
    * text, and carrying the set size inline removes the two extra
    * size-lookup joins. Scale note: join fan-out is sum over shingle keys of
    * df² — `maxDf` caps it: shingle keys with document frequency above the
    * cap (stop-shingles — boilerplate n-grams shared by thousands of pages)
    * are dropped BEFORE the self-join, bounding per-key fan-out at cap² and
    * making this the production path at web scale. `n_sh` stays computed
    * over the UNCAPPED shingle set, so `n_union` is exact; only `n_inter`
    * can undercount (pairs overlapping solely in stop-shingles are missed —
    * the standard, documented recall trade of a df-capped inverted index).
    * The driver query (p22) runs uncapped so the DuckDB oracle is the exact
    * pair set; OpsSpec gates the capped path. Hash = DuckDB
    * `md5_number_lower` masked, so the oracle replicates hash-exactly.
    *
    * Exact-dup collapse (r5): the inverted-index self-join runs over one
    * rep per distinct text; member pairs expand arithmetically —
    * output-identical to [[exactJaccardPairsUncollapsed]] (spec-pinned),
    * join cost no longer quadratic in dup-cluster size. */
  def exactJaccardPairs(df: DataFrame, minJaccardPct: Int = PairMinPct,
                        maxDf: Option[Int] = None): DataFrame = {
    val w = ShingleW
    val (repDocs, members, csize) = textGroupsSized(df)
    maxDf match {
      case Some(cap) =>
        // r6 fix (ADVICE #1): df counts DOCUMENTS, so under the collapse
        // each rep's contribution to a shingle's df is its CLUSTER SIZE,
        // and within-cluster pairs obey the capped-intersection rule
        // like every other pair (n_inter = surviving shared shingles;
        // n_union via the same n_a + n_b − n_inter formula the
        // uncollapsed path and the p25 oracle apply). A cluster larger
        // than the cap correctly drops out entirely — every shingle it
        // carries has df ≥ cluster size.
        val hashed = shingleHashTable(repDocs, w)
        val rare = hashed
          .join(csize, hashed("doc_id") === csize("rep_id"))
          .groupBy(col("h")).agg(sum(col("csize")).as("dfw"))
          .where(col("dfw") <= cap)
          .select(col("h"))
        val indexed = hashed.join(rare, Seq("h"), "left_semi")
        val repPairs = jaccardPairsFromIndex(indexed, minJaccardPct)
        val withinVals = indexed.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("k"), max(col("n_sh")).as("n_sh"))
          .select(col("doc_id").as("rep_id"),
            col("k").cast("long").as("n_inter"),
            (lit(2L) * col("n_sh") - col("k")).cast("long").as("n_union"))
          .where(col("n_inter") * 100 >= col("n_union") * minJaccardPct)
        expandCollapsed(repPairs, members, withinVals,
          Seq("n_inter", "n_union"))
      case None =>
        val repPairs = exactJaccardPairsUncollapsed(repDocs, w,
          minJaccardPct, None)
        val withinVals = shingleHashTable(repDocs, w)
          .groupBy(col("doc_id")).agg(max(col("n_sh")).as("n_sh"))
          .select(col("doc_id").as("rep_id"),
            col("n_sh").cast("long").as("n_inter"),
            col("n_sh").cast("long").as("n_union"))
        expandCollapsed(repPairs, members, withinVals,
          Seq("n_inter", "n_union"))
    }
  }

  /** The per-doc inverted-index kernel [[exactJaccardPairs]] runs over its
    * representatives when uncapped (and the spec reference for the
    * collapse, capped or not). */
  private[graft] def exactJaccardPairsUncollapsed(df: DataFrame, w: Int,
                                                  minJaccardPct: Int,
                                                  maxDf: Option[Int])
    : DataFrame = {
    val hashed = shingleHashTable(df, w)
    // df-cap: keys-only aggregation + semi-join, both keyed on `h` — the
    // same partitioning the self-join needs, so AQE/exchange-reuse keeps
    // the extra pass cheap relative to the fan-out it prevents.
    val indexed = maxDf.fold(hashed) { cap =>
      val rare = hashed.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .where(col("df") <= cap)
        .select(col("h"))
      hashed.join(rare, Seq("h"), "left_semi")
    }
    jaccardPairsFromIndex(indexed, minJaccardPct)
  }

  /** Inverted-index self-join tail shared by the capped/uncapped and
    * collapsed/uncollapsed exact-Jaccard paths: rows = (doc_id, h, n_sh)
    * postings, n_sh always the UNCAPPED per-doc distinct-shingle count. */
  private def jaccardPairsFromIndex(indexed: DataFrame,
                                    minJaccardPct: Int): DataFrame =
    indexed.as("a").join(indexed.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
               col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .where(col("n_inter") * 100 >= col("n_union") * minJaccardPct)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"))

  /** Distinct shingle-hash postings (doc_id, h, n_sh) — the shared front
    * of every exact set-similarity join. Hash = DuckDB `md5_number_lower`
    * masked to 63 bits, so SQL oracles replicate hash-exactly. */
  private[graft] def shingleHashTable(df: DataFrame, w: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val hs = shingleArr(text, w).map(TextOps.md5Low63).distinct
        val n = hs.length
        hs.iterator.map(h => (id, h, n))
      }
      .toDF("doc_id", "h", "n_sh")
  }

  /** Candidate pairs under PREFIX FILTERING (AllPairs/PPJoin, Bayardo et
    * al. WWW'07; Xiao et al. WWW'08): shingles get a global total order by
    * (df ASC, hash) — rarest first — and each doc indexes only its first
    * |x| − ⌈t·|x|⌉ + 1 shingles in that order. Pigeonhole guarantee: a
    * pair with Jaccard ≥ t shares ≥ max(⌈t·|x|⌉, ⌈t·|y|⌉) shingles, so
    * its order-smallest COMMON shingle lies inside BOTH prefixes (each
    * suffix holds only ⌈t·|n|⌉ − 1 slots — too few for all common
    * shingles); the prefix-prefix equi-join is therefore a candidate
    * SUPERSET. Length filter t·|y| ≤ |x| ≤ |y|/t prunes further (a size
    * mismatch alone caps Jaccard below t). The 10^12-doc win: boilerplate
    * stop-shingles (df in the millions) sort LAST and never enter the
    * index, so the self-join fan-out is Σ df² over RARE keys only —
    * p25's df cap gets the same fan-out bound by sacrificing recall;
    * this keeps the answer exact. */
  private[graft] def prefixJaccardCandidates(hashed: DataFrame,
                                             minJaccardPct: Int): DataFrame = {
    val spark = hashed.sparkSession
    import spark.implicits._
    val dfTab = hashed.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val prefixes = hashed.join(dfTab, Seq("h"))
      .select(col("doc_id"), col("h"), col("n_sh"), col("df"))
      .as[(Long, Long, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (id, it) =>
        val arr = it.toArray.sortBy(r => (r._4, r._2)) // (df, h): total order
        val n = arr.head._3
        val need = (minJaccardPct * n + 99) / 100      // ⌈t·n⌉
        arr.iterator.take(n - need + 1).map(r => (id, r._2, r._3))
      }
      .toDF("doc_id", "h", "n_sh")
    prefixes.as("a").join(prefixes.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .where(col("n_a") * 100 >= col("n_b") * minJaccardPct &&
             col("n_b") * 100 >= col("n_a") * minJaccardPct)
      .distinct()
  }

  /** Exact Jaccard pairs via prefix filtering — bit-identical output to
    * `exactJaccardPairs` (the driver oracle computes the FULL inverted-
    * index join independently, so losslessness is checked, not assumed)
    * with web-scale candidate generation: only per-doc PREFIX postings
    * enter the self-join, and verification gathers full shingle sets only
    * for docs that appear in some candidate (left-semi reduce first), so
    * wide set rows never cross an exchange for the non-candidate bulk.
    * `materialize` localCheckpoints the postings — they feed the df
    * count, the prefix join and the verify sets, and exchange reuse does
    * not fire across the typed flatMap subtree.
    *
    * Exact-dup collapse (r5): without it, every member of a
    * byte-identical cluster shares its full prefix with every other — the
    * sf10 probe (dup clusters of 100) spilled 50+ GB and exhausted the
    * disk on exactly this join; the reps-only prefix join
    * ([[prefixFilteredJaccardPairsUncollapsed]]) + arithmetic expansion is
    * output-identical (spec-pinned). */
  def prefixFilteredJaccardPairs(df: DataFrame,
                                 materialize: Boolean = false): DataFrame = {
    val (repDocs, members) = textGroups(df)
    val repPairs = prefixFilteredJaccardPairsUncollapsed(repDocs, ShingleW,
      PairMinPct, materialize)
    val withinVals = shingleHashTable(repDocs, ShingleW)
      .groupBy(col("doc_id")).agg(max(col("n_sh")).as("n_sh"))
      .select(col("doc_id").as("rep_id"),
        col("n_sh").cast("long").as("n_inter"),
        col("n_sh").cast("long").as("n_union"))
    expandCollapsed(repPairs, members, withinVals,
      Seq("n_inter", "n_union"))
  }

  /** The per-doc prefix-filter kernel [[prefixFilteredJaccardPairs]] runs
    * over its representatives (and the spec reference for the collapse). */
  private[graft] def prefixFilteredJaccardPairsUncollapsed(
      df: DataFrame, w: Int, minJaccardPct: Int,
      materialize: Boolean): DataFrame = {
    val hashedRaw = shingleHashTable(df, w)
    val hashed = if (materialize) hashedRaw.localCheckpoint(false) else hashedRaw
    val cands = prefixJaccardCandidates(hashed, minJaccardPct)
    val needed = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id"))).distinct()
    val sets = hashed.join(needed, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_list(col("h")).as("hs"))
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), Seq("doc_b"))
      .withColumn("n_inter", size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("n_union",
        col("n_a").cast("long") + col("n_b").cast("long") - col("n_inter"))
      .where(col("n_inter") * 100 >= col("n_union") * minJaccardPct)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"))
  }

  /** WEIGHTED Jaccard pairs — the bag (multiset) generalization of p22:
    * similarity = Σ_s min(tf_a, tf_b) / Σ_s max(tf_a, tf_b) over w-shingle
    * multiplicities. Set-Jaccard misses near-dups whose difference is
    * REPETITION (one doc loops a paragraph the other states once: same
    * shingle SET, very different bags); the weighted form scores both
    * correctly and is the standard similarity for dedup scoring over tf
    * vectors. The bag unit is the SHINGLE, not the token: shingles keep
    * the p22 fan-out profile (Σ df² over rare keys — measured 1.4M at
    * sf0.1 vs 224M for token bags over this corpus' 31-token vocabulary).
    * One typed pass builds per-doc multiplicity maps KEYED BY md5-low63
    * (counts merge by hash, exactly as the SQL oracle groups — shingle
    * strings never shuffle); the self-join carries (doc, 8-byte hash, tf,
    * wsum) postings only. Σmax is derived, not joined: Σmax = wsum_a +
    * wsum_b − Σmin. The index is uncapped: the DuckDB oracle replicates
    * the exact pair set.
    *
    * Exact-dup collapse (r5): identical texts have identical shingle
    * BAGS, so the weighted score is text-pure too — reps-only posting
    * join, arithmetic expansion, within pairs at w_inter = w_union = wsum
    * (output-identical to [[weightedJaccardPairsUncollapsed]],
    * spec-pinned). */
  def weightedJaccardPairs(df: DataFrame): DataFrame = {
    val w = ShingleW
    val (repDocs, members) = textGroups(df)
    val repPairs = weightedJaccardPairsUncollapsed(repDocs, w, PairMinPct)
    // wsum mirror of the posting flatMap: toks < w → 1 whole-text
    // shingle, else toks − w + 1 sliding shingles (with multiplicity)
    val withinVals = repDocs.select(col("doc_id").as("rep_id"),
      greatest(size(split(trim(col("text")), "\\s+")) - (w - 1), lit(1))
        .cast("long").as("w_inter"))
      .withColumn("w_union", col("w_inter"))
    expandCollapsed(repPairs, members, withinVals, Seq("w_inter", "w_union"))
  }

  /** The per-doc posting kernel [[weightedJaccardPairs]] runs over its
    * representatives (and the spec reference for the collapse). */
  private[graft] def weightedJaccardPairsUncollapsed(df: DataFrame, w: Int,
                                                     minPct: Int): DataFrame =
    weightedPairsFromIndex(weightedPostings(df.sparkSession, df, w), minPct)

  /** Per-doc shingle-bag postings (doc_id, h, tf, wsum) — one typed pass,
    * counts keyed by md5-low63 so strings never shuffle. */
  private def weightedPostings(spark: org.apache.spark.sql.SparkSession,
                               df: DataFrame, w: Int): DataFrame = {
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = wsPat.split(text.trim)
        val counts = new java.util.HashMap[Long, Long]()
        var wsum = 0L
        if (toks.length < w) {
          counts.put(TextOps.md5Low63(toks.mkString(" ")), 1L)
          wsum = 1L
        } else {
          var i = 0
          while (i <= toks.length - w) {
            val s = toks.slice(i, i + w).mkString(" ")
            counts.merge(TextOps.md5Low63(s), 1L, (a, b) => a + b)
            wsum += 1
            i += 1
          }
        }
        import scala.jdk.CollectionConverters._
        counts.asScala.iterator.map { case (h, tf) => (id, h, tf, wsum) }
      }
      .toDF("doc_id", "h", "tf", "wsum")
  }

  /** Posting self-join tail shared by the weighted-Jaccard paths. */
  private def weightedPairsFromIndex(indexed: DataFrame,
                                     minPct: Int): DataFrame =
    indexed.as("a").join(indexed.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
               col("a.wsum").as("ws_a"), col("b.wsum").as("ws_b"))
      .agg(sum(least(col("a.tf"), col("b.tf"))).as("w_inter"))
      .withColumn("w_union", col("ws_a") + col("ws_b") - col("w_inter"))
      .where(col("w_inter") * 100 >= col("w_union") * minPct)
      .select(col("doc_a"), col("doc_b"), col("w_inter"), col("w_union"))

  /** Fingerprint document-frequency cap and containment floor (percent)
    * of [[containmentPairs]]. */
  private val ContainMaxDf = 64
  private val ContainMinPct = 50

  /** Fingerprint CONTAINMENT pairs — the ASYMMETRIC near-dup detector
    * Jaccard misses: a short doc quoted wholesale inside a much longer one
    * has tiny Jaccard (union is dominated by the long doc) but containment
    * |fp(A) ∩ fp(B)| / |fp(A)| ≈ 1. Runs over winnowing fingerprints
    * (`TextOps.fingerprints`, Schleimer et al. SIGMOD'03) with LONG grams
    * (k = 12 chars, winnowing window 8) so cross-doc collisions mean real
    * shared substrings, not common words. Emits BOTH directions of each
    * overlapping pair (containment is directional; exact dups score 100
    * both ways).
    * Integer-only output: containment_pct = (n_shared·100) div n_fp.
    *
    * Scale shape = `exactJaccardPairs`: only (doc_id, 8-byte fp) rows
    * reach the self-join, fan-out is Σ df² over fingerprint keys and
    * `ContainMaxDf` caps it (winnowing prefers globally
    * small hashes, so without a cap a handful of low-hash boilerplate
    * grams pair everything with everything). n_fp comes from the
    * UNCAPPED set, so the cap can only undercount n_shared — the same
    * documented recall trade as the capped Jaccard path. Pairs below
    * `ContainMinPct` are dropped. */
  def containmentPairs(df: DataFrame, materialize: Boolean = false): DataFrame = {
    // the fingerprint table feeds sizes AND both self-join sides; exchange
    // reuse does not fire across the typed flatMap, so without
    // `materialize` the corpus re-fingerprints three times (measured
    // 13.4 s → 3.5 s at sf0.1 with the checkpoint + df cap)
    val fpsRaw = TextOps.fingerprints(df, 12, 8) // distinct (doc_id, fp)
    val fps = if (materialize) fpsRaw.localCheckpoint(false) else fpsRaw
    val sizes = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .where(col("df") <= ContainMaxDf).select(col("fp"))
    val indexed = fps.join(rare, Seq("fp"), "left_semi")
    indexed.as("a").join(indexed.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id"),
               col("b.doc_id").as("container_id"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes, "doc_id") // n_fp of the CONTAINED side
      .withColumn("containment_pct", expr("(n_shared * 100) div n_fp"))
      .where(col("containment_pct") >= ContainMinPct)
      .select(col("doc_id"), col("container_id"), col("n_shared"),
        col("n_fp"), col("containment_pct"))
  }

  /** Signature length (minhash lanes) of `minhashEstimates`. */
  private val MinhashEstimateLanes = 16

  /** MinHash signature-ACCURACY validation (p49) — the estimator-error
    * counterpart of p46's candidate-recall measurement: for every exact
    * near-dup pair, compare the k-component signature-agreement estimate
    * (matching minhash lanes / k) against the exact Jaccard. Components
    * are md5-salted per lane (`md5low63(shingle + "#" + i)` — the CMS
    * oracle's salt pattern) so DuckDB rebuilds the identical signatures
    * from scratch. Signatures are one typed pass per doc (k·8 bytes/doc);
    * the estimator join is keyed on doc ids over the (small) verified pair
    * set; the lane comparison is a row-local zip_with fold. Shingles are
    * `ShingleW` words wide and signatures `MinhashEstimateLanes` long;
    * the pairs are those at Jaccard ≥ `LshMinJaccardPct`. */
  def minhashEstimates(df: DataFrame, bbit: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sigs = df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val sig = Array.fill(MinhashEstimateLanes)(Long.MaxValue)
        shingleArr(text, ShingleW).foreach { s =>
          var i = 0
          while (i < MinhashEstimateLanes) {
            val h = TextOps.md5Low63(s + "#" + i)
            if (h < sig(i)) sig(i) = h
            i += 1
          }
        }
        (id, sig.toSeq)
      }.toDF("doc_id", "sig")
    val base = exactJaccardPairs(df, LshMinJaccardPct)
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("n_match", expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> " +
          "CASE WHEN x = y THEN 1L ELSE 0L END), 0L, (acc, v) -> acc + v)"))
    // b-bit minhash (Li & König, "b-Bit Minwise Hashing", WWW'10), b=1:
    // keep only each lane's LOW BIT (k bits/doc instead of k·64), estimate
    // Ĵ = 2·(agreeing bits / k) − 1 (non-matching mins agree by chance 1/2),
    // clamped at 0 — integer form (n_bit·200) div k − 100
    val withBbit =
      if (!bbit) base
      else base
        .withColumn("n_bit_match", expr(
          "aggregate(zip_with(sig_a, sig_b, (x, y) -> " +
            "CASE WHEN x % 2 = y % 2 THEN 1L ELSE 0L END), " +
            "0L, (acc, v) -> acc + v)"))
        .withColumn("est_bbit_pct",
          expr("greatest(0L, (n_bit_match * 200) div " +
            s"$MinhashEstimateLanes - 100)"))
    val core = withBbit
      .select((Seq(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"),
        expr("(n_inter * 100) div n_union").as("exact_pct"),
        col("n_match"),
        expr(s"(n_match * 100) div $MinhashEstimateLanes").as("est_pct")) ++
        (if (bbit) Seq(col("n_bit_match"), col("est_bbit_pct")) else Nil)): _*)
      .withColumn("err_pp", expr("abs(est_pct - exact_pct)"))
    (if (bbit)
      core.withColumn("err_bbit_pp", expr("abs(est_bbit_pct - exact_pct)"))
    else core)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Duplicate-CLUSTER resolution: connected components over a near-dup
    * pair graph (the terminal step of every dedup family — pairs from
    * `minhashLsh` / `simhashPairs` / `exactJaccardPairs` → transitive
    * clusters → canonical keeper per cluster). Returns
    * (doc_id, cluster_id, cluster_size) for every doc that appears in
    * `pairs`, where cluster_id = min doc_id of the component (the keeper).
    *
    * Adaptive, two row-identical labellings (spec-pinned) over the
    * canonical edge set, whose size the eager checkpoint observes:
    *  - at most [[DriverCcEdgeLimit]] edges: collect and union-find on
    *    the driver ([[labelOnDriver]]). Graphs that small are
    *    job-count-bound, not data-bound: each loop round costs jobs and
    *    exchanges that the edges never repay (p26 at sf0.01: 42 → 18
    *    jobs, 39 → 13 exchanges). This branch always returns the
    *    converged labelling.
    *  - above it: alternating large-star / small-star ([[labelByStars]]),
    *    which returns the same labelling whenever it converges within
    *    [[MaxStarRounds]] rounds. */
  def dupClusters(pairs: DataFrame): DataFrame = {
    val (edges, sig) = canonicalEdges(pairs)
    if (sig._1 <= DriverCcEdgeLimit) labelOnDriver(edges)
    else labelByStars(edges, sig, MaxStarRounds)
  }

  /** Edge count up to which [[dupClusters]] labels on the driver. Speed
    * sets no cutoff below 10^6 edges: `graft.tools.CcCrossover` (local[4],
    * 4-core box, median of 3, path-clustered and random graphs) timed
    * the driver union-find at 0.45–0.48 s vs 3.5–5.4 s for the star loop
    * on 10^5 edges, 1.2–1.4 s vs 7.3–11.6 s on 2^18, and 4.3–4.8 s vs
    * 17.5–34.7 s on 10^6. Driver memory sets it: the driver holds 16 B
    * per edge plus its output rows, about 100 B per node, and allocates
    * about 0.5 KB per node building them (2^18 edges: 23–33 MB held,
    * 112–166 MB allocated). At most 2^19 nodes keeps that under 60 MB
    * held and 300 MB transient, inside a default 1 GB driver; above it
    * the loop spreads the work over the executors. */
  private[graft] val DriverCcEdgeLimit: Long = 1L << 18

  /** (count, xor of xxhash64(u, v)) of an edge set: equal signatures on
    * consecutive rounds = edge-set fixpoint. */
  private[graft] type EdgeSig = (Long, Option[Long])

  /** Eager localCheckpoint that also returns the frame's [[EdgeSig]]: an
    * `Observation` computes it inside the checkpoint's own job, so the
    * signature costs no separate action. */
  private def checkpointSigned(e: DataFrame): (DataFrame, EdgeSig) = {
    val obs = Observation()
    val cp = e.observe(obs, count(lit(1)).as("n"),
        expr("bit_xor(xxhash64(u, v))").as("x"))
      .localCheckpoint(true)
    val m = obs.get
    (cp, (m("n").asInstanceOf[Long], Option(m("x")).map(_.asInstanceOf[Long])))
  }

  /** Canonical undirected edges (u = hi, v = lo) of a (doc_a, doc_b) pair
    * frame, self-loops out, eagerly checkpointed with their signature. */
  private[graft] def canonicalEdges(pairs: DataFrame): (DataFrame, EdgeSig) =
    checkpointSigned(pairs
      .select(col("doc_a").cast("long").as("a"), col("doc_b").cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
              least(col("a"), col("b")).as("v"))
      .distinct())

  /** Driver labelling of a canonical edge set: one collect of one
    * primitive (u, v, u, v, …) array per partition (16 B per edge, no
    * boxed rows), then a union-find over the sorted distinct node ids
    * whose union keeps the smaller index as root, so every root is its
    * component's min doc_id. */
  private[graft] def labelOnDriver(edges: DataFrame): DataFrame = {
    val uv = Array.concat(edges.rdd.mapPartitions { it =>
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { r => b += r.getLong(0); b += r.getLong(1) }
      Iterator.single(b.result())
    }.collect().toSeq: _*)
    val nodes = uv.clone()
    java.util.Arrays.sort(nodes)
    var n = 0
    for (i <- nodes.indices)
      if (n == 0 || nodes(n - 1) != nodes(i)) { nodes(n) = nodes(i); n += 1 }
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def idx(id: Long) = java.util.Arrays.binarySearch(nodes, 0, n, id)
    for (e <- 0 until uv.length / 2) {
      val (a, b) = (find(idx(uv(2 * e))), find(idx(uv(2 * e + 1))))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val root = Array.tabulate(n)(find)
    val size = new Array[Long](n)
    root.foreach(r => size(r) += 1)
    edges.sparkSession.createDataFrame((0 until n).map(i =>
        (nodes(i), nodes(root(i)), size(root(i)))))
      .toDF("doc_id", "cluster_id", "cluster_size")
  }

  /** Distributed labelling of a canonical edge set: alternating
    * large-star / small-star (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14) — converges in O(log n) rounds even
    * on pathological chain graphs, vs O(diameter) for naive label
    * propagation. Each round is two passes, each a keyed groupBy + join on
    * the SAME node key (co-partitioned, AQE reuses the exchange); shuffle
    * payload is 16-byte edges only. Lineage is truncated per round with an
    * eager localCheckpoint — without it the iterated plan grows
    * exponentially and the optimizer, not the data, becomes the
    * bottleneck (at cluster scale, point
    * spark.sparkContext.setCheckpointDir at durable storage and swap
    * checkpoint() in). Convergence = edge-set fixpoint, detected by the
    * [[EdgeSig]] the checkpoint observes. `sig` is the signature of
    * `edges`. */
  private[graft] def labelByStars(edges: DataFrame, sig: EdgeSig,
                                  maxIterations: Int): DataFrame = {
    // large-star: every neighbor v > u links to m(u) = min(N(u) ∪ {u});
    // strictly-decreasing targets keep orientation (hi, lo). The closing
    // `distinct` is load-bearing beyond semantics: smallStar consumes
    // this frame TWICE (its min-agg and its relink join), and the
    // distinct's exchange is the shared materialization point that stops
    // the large-star join subtree executing once per consumer (measured
    // r6: dropping it made p26 2.8 → 4.1 s — the "saved" exchange was
    // cheaper than the duplicated join).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      sym.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }
    // small-star: smaller-neighbors N≤(u) and u itself all link to
    // m = min(N≤(u)); input is (hi, lo)-oriented so N≤ is just v
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      val relink = e.join(mins, "u").where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      relink.union(mins.select(col("u"), col("m").as("v"))).distinct()
    }

    var (cur, curSig) = (edges, sig)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      val (next, nextSig) = checkpointSigned(smallStar(largeStar(cur)))
      converged = nextSig == curSig
      cur = next
      curSig = nextSig
      iter += 1
    }

    // fixpoint is a star graph (member → root); min-agg guards the
    // (bounded-iteration) non-converged case; roots label themselves
    val labels = cur.select(col("u").as("doc_id"), col("v").as("cid"))
      .union(cur.select(col("v").as("doc_id"), col("v").as("cid")))
      .groupBy("doc_id").agg(min(col("cid")).as("cluster_id"))
    val sizes = labels.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** Distinct-text share of the docs above which [[dupClustersOverDocs]]
    * runs the classic `dupClusters(minhashLsh(df))` composition instead
    * of rep-level CC. */
  private[graft] val DupClustersCollapseRatio: Double = 0.7

  /** Duplicate clusters straight from DOCS with the exact-dup collapse
    * carried through the CC itself (r6): [[dupClusters]] composed over
    * [[minhashLsh]] first EXPANDS identical-text member pairs
    * arithmetically (clusters of c contribute C(c,2) edges) and then
    * labels that quadratic edge set (on the driver, or by the star loop
    * above [[DriverCcEdgeLimit]] edges) — pure waste,
    * because members of a text group are always pairwise connected
    * (Jaccard 1 ≥ any threshold), so the member components are exactly
    * the REP components expanded. This runs CC over rep-level pairs only
    * and recovers the member labeling arithmetically:
    *   - component label = min doc_id of the component = min REP id
    *     (every rep is its group's minimum, every member ≥ its rep);
    *   - a group with ≥ 2 members and NO cross-rep pair is its own
    *     component (its members pair among themselves), labeled by its
    *     rep;
    *   - a singleton group appears iff its rep has a cross pair — same
    *     rule as "doc appears iff it has ≥ 1 pair";
    *   - cluster_size = member count per component (Σ group sizes).
    * Output-identical to dupClusters(minhashLsh(df)) (spec-pinned), and
    * the CC edge set now tracks DISTINCT content: the sf10 probe (dup
    * clusters of 100) measured 21.8 s for the composed form vs the
    * collapse's ~25 M expanded in-cluster edges never being built here.
    * On a dup-light corpus (more than [[DupClustersCollapseRatio]] of the
    * docs are distinct texts) it runs that classic composition instead. */
  def dupClustersOverDocs(df: DataFrame): DataFrame = {
    val (repDocs, members, stats) = textGroupsSized(df)
    // ADAPTIVE (r6, the topPairs lesson): the rep-level path adds ~4
    // exchanges of label-expansion machinery, which only pays for itself
    // when duplication is real — on a dup-light corpus the classic
    // composition is the cheaper plan. One tiny agg decides; both
    // branches are row-identical (spec-pinned), so the predicate only
    // picks the plan.
    val cnt = stats.agg(count(lit(1)).as("d"),
        coalesce(sum(col("csize")), lit(0L)).as("n")) // zero rows: n = 0
      .head()
    val (dCount, nTotal) = (cnt.getLong(0), cnt.getLong(1))
    if (dCount > DupClustersCollapseRatio * nTotal)
      return dupClusters(minhashLsh(df))
    val repPairs = minhashLshUncollapsed(repDocs, LshBands,
      LshRowsPerBand, LshMinJaccardPct)
    val inPairs = dupClusters(repPairs)
      .select(col("doc_id").as("rep_id"), col("cluster_id"))
    val lonelyDupGroups = stats.where(col("csize") >= 2L)
      .select(col("rep_id"))
      .join(inPairs.select(col("rep_id")), Seq("rep_id"), "left_anti")
      .select(col("rep_id"), col("rep_id").as("cluster_id"))
    val comps = inPairs.unionByName(lonelyDupGroups)
    val memberLabels = comps.join(members, Seq("rep_id"))
      .select(col("doc_id"), col("cluster_id"))
    val sizes = memberLabels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    memberLabels.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** INCREMENTAL connected-components maintenance — the IVM half of
    * [[dupClusters]] (the p122 pattern applied to the dup graph): fold a
    * DELTA of near-dup pairs into an existing labeling without touching
    * the base edge set. New edges can only merge whole existing
    * components, so the delta projects onto the LABEL graph (endpoint →
    * its current cluster id, unseen nodes label themselves),
    * [[dupClusters]] labels that delta-BOUNDED graph (on the driver up to
    * [[DriverCcEdgeLimit]] edges, by the star loop above), and the resulting
    * old-label → new-label remap broadcasts back over the membership
    * table. The 100 TB base is scanned once for the remap+size publish
    * and never iterated; every CC round touches only delta-derived rows.
    *
    * Labels stay canonical (min doc_id of the component): the merged
    * label is the min over merged components' labels = the global min —
    * so the output is row-identical to a from-scratch [[dupClusters]]
    * over base ∪ delta, which is exactly what the driver oracle
    * recomputes (gate-the-theorem, as in p122/p131). */
  def dupClustersIncremental(baseLabels: DataFrame,
                             deltaPairs: DataFrame): DataFrame = {
    val base = baseLabels.select(col("doc_id").cast("long").as("doc_id"),
      col("cluster_id").cast("long").as("lbl"))
    val delta = deltaPairs
      .select(col("doc_a").cast("long").as("doc_a"),
        col("doc_b").cast("long").as("doc_b"))
    val dn = delta.select(col("doc_a").as("doc_id"))
      .union(delta.select(col("doc_b").as("doc_id"))).distinct()
    // unseen delta nodes enter as their own singleton components
    val newNodes = dn.join(base, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("lbl"))
    val members = base.union(newNodes)
    val la = members.select(col("doc_id").as("doc_a"), col("lbl").as("la"))
    val lb = members.select(col("doc_id").as("doc_b"), col("lbl").as("lb"))
    val labelEdges = delta.join(la, Seq("doc_a")).join(lb, Seq("doc_b"))
      .select(col("la").as("doc_a"), col("lb").as("doc_b"))
      .where(col("doc_a") =!= col("doc_b"))
    val remap = dupClusters(labelEdges)
      .select(col("doc_id").as("lbl"), col("cluster_id").as("new_lbl"))
    val relabeled = members.join(broadcast(remap), Seq("lbl"), "left")
      .select(col("doc_id"),
        coalesce(col("new_lbl"), col("lbl")).as("cluster_id"))
    val sizes = relabeled.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    relabeled.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** Fold count of `groupKFold`. */
  private val Folds = 5

  /** GroupKFold by duplicate cluster — the split rule that makes p73's
    * leakage census structurally zero: folds are assigned to whole
    * near-dup CLUSTERS (hash of the canonical cluster id), so two
    * near-duplicate documents can never land in different folds — the
    * train/test contamination channel a doc-level split leaves open.
    * Docs in no cluster are their own singleton group. The fold hash is
    * the engine-standard md5 low half read as an UNSIGNED 64-bit value
    * (Spark: conv(hex,16,10) through DECIMAL(20); DuckDB: '0x'-cast —
    * both sides derive the identical number), so assignment is
    * deterministic, engine-independent and survives resharding.
    *
    * Output one row per fold: doc/cluster counts plus
    * `doc_split_spanning` — how many clusters WOULD straddle folds if
    * docs were hashed individually: the leakage GroupKFold removes,
    * measured on the same corpus. Scale: one label join + two keyed
    * aggs; the cluster table is the p26/p132 output the pipeline
    * already maintains. */
  def groupKFold(docs: DataFrame, labels: DataFrame): DataFrame = {
    val lbl = docs.select(col("doc_id").cast("long").as("doc_id"))
      .join(labels.select(col("doc_id").cast("long").as("doc_id"),
        col("cluster_id").cast("long").as("cid")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cid"), col("doc_id")).as("cid"))
    def foldOf(name: String): Column =
      expr(s"CAST(CAST(conv(substring(md5(CAST($name AS STRING) " +
        s"|| ':fold'), 17, 16), 16, 10) AS DECIMAL(20,0)) % $Folds AS BIGINT)")
    val assigned = lbl
      .withColumn("fold", foldOf("cid"))
      .withColumn("doc_fold", foldOf("doc_id"))
    val spanning = assigned.groupBy(col("cid"))
      .agg(countDistinct(col("doc_fold")).as("nf"))
      .filter(col("nf") > 1).count()
    assigned.groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cid")).as("n_clusters"))
      .withColumn("doc_split_spanning", lit(spanning))
      .orderBy(col("fold"))
  }

  /** Largest hamming distance of a SimHash near-dup pair. */
  private val SimhashMaxHamming = 3

  /** SimHash near-dup pairs: docs sharing any 16-bit band (≤3 differing
    * bands ⇐ hamming ≤ 3 guaranteed candidates), verified by exact hamming
    * distance ≤ `SimhashMaxHamming`.
    *
    * r5: the p127/textGroups collapse applied to SimHash — the banded
    * self-join runs over ONE representative per distinct 64-bit
    * SIGNATURE (stronger than text collapse: any signature-identical
    * docs collapse), signature-identical pairs come from an output-sized
    * equi-join on the full hash (hamming 0 always qualifies), and
    * qualifying cross-signature pairs expand back to members — the sf10
    * probe measured this op's pre-collapse band join filling the disk on
    * dup clusters of 100 exactly like p113's. Band buckets holding more
    * than 4096 distinct signatures are dropped: the p127-style hot-bucket
    * recall cap. Below that cap the output equals
    * [[simhashPairsUncollapsed]]'s (spec-pinned). */
  def simhashPairs(df: DataFrame): DataFrame = {
    val sh = simhashTable(df)
    val same = sh.as("x").join(sh.as("y"),
        col("x.simhash") === col("y.simhash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0).as("hamming"))
    val reps = sh.groupBy(col("simhash")).agg(min(col("doc_id")))
      .select(col("simhash"))
    val banded = reps.select(col("simhash"),
      posexplode(array(bandsOf(col("simhash")): _*))
        .as(Seq("band_id", "band_key")))
    val okBuckets = banded.groupBy(col("band_id"), col("band_key"))
      .agg(count(lit(1)).as("bn")).where(col("bn") <= 4096)
      .select(col("band_id"), col("band_key"))
    val pruned = banded.join(okBuckets, Seq("band_id", "band_key"))
    val sigPairs = pruned.as("l").join(pruned.as("r"),
        col("l.band_id") === col("r.band_id") &&
          col("l.band_key") === col("r.band_key") &&
          col("l.simhash") < col("r.simhash"))
      .select(col("l.simhash").as("sa"), col("r.simhash").as("sb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sa").bitwiseXOR(col("sb"))))
      .where(col("hamming") <= SimhashMaxHamming)
    val cross = sigPairs
      .join(sh.select(col("simhash").as("sa"), col("doc_id").as("da")),
        "sa")
      .join(sh.select(col("simhash").as("sb"), col("doc_id").as("db")),
        "sb")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    same.unionByName(cross)
  }

  /** The per-doc banded self-join — the spec reference for
    * [[simhashPairs]]'s signature collapse. */
  private[graft] def simhashPairsUncollapsed(df: DataFrame): DataFrame = {
    val sh = simhashTable(df)
    val exploded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array(bandsOf(col("simhash")): _*))
        .as(Seq("band_id", "band_key")))
    exploded.as("l").join(exploded.as("r"),
        col("l.band_id") === col("r.band_id") &&
        col("l.band_key") === col("r.band_key") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .where(col("hamming") <= SimhashMaxHamming)
  }

  /** (doc_id, simhash) — one typed pass over the text. */
  private def simhashTable(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) => (id, simhashSig(text)) }
      .toDF("doc_id", "simhash")
  }

  /** The four 16-bit bands of a 64-bit simhash column. */
  private def bandsOf(c: Column): Seq[Column] = (0 to 3).map(i =>
    shiftrightunsigned(c, i * 16).bitwiseAND(lit(0xffffL)))

  /** CCNet-style line-level exact-dedup stats: each doc is cut into
    * fixed-`blockLen`-token blocks (the corpus has no newlines, so the
    * block boundary stands in for the line boundary), every block is
    * md5-hashed, and a block is "duplicated" when its hash occurs ≥
    * `minOcc` times corpus-wide. Output: per doc, total blocks and
    * duplicated blocks — the signal CCNet thresholds to drop boilerplate.
    *
    * Scale shape: one typed flatMap tokenizes each doc exactly once (the
    * Column formulation would re-inline the tokenizer per array element —
    * see shingleCounts), md5 is applied in the SAME narrow stage, so only
    * (doc_id, 32-char hash) rows ever shuffle. The distinct (doc_id, bh)
    * count table feeds BOTH downstream consumers (corpus-wide occurrence
    * count, and the count-back join); exchange reuse does NOT fire across
    * object-operator subtrees (measured: two scans without
    * `materialize`). At small SF the narrow re-tokenize is cheaper than
    * materializing, so recompute is the default; at 10^12 rows pass
    * `materialize = true` — one lazy localCheckpoint of the (doc_id, bh,
    * cnt) table (the postings table a production pipeline would write to
    * the lake anyway, p08/p13/p40's dump pattern) replaces the second
    * corpus scan. Output is identical either way (spec-pinned). Raw text
    * never crosses an exchange. Heavy boilerplate hashes skew the join
    * key — AQE skew-join splits those partitions at scale. */
  def lineDedupStats(df: DataFrame, materialize: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val blockLen = 8 // tokens per block
    val minOcc = 2   // a block seen twice corpus-wide is a duplicate
    val blocks = df.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = wsPat.split(text.trim)
        val n = (toks.length + blockLen - 1) / blockLen
        Iterator.tabulate(n) { b =>
          val hi = math.min(toks.length, (b + 1) * blockLen)
          (id, toks.slice(b * blockLen, hi).mkString(" "))
        }
      }
      .toDF("doc_id", "block")
      .select(col("doc_id"), md5(col("block").cast("binary")).as("bh"))
    val perDocRaw = blocks.groupBy(col("doc_id"), col("bh"))
      .agg(count(lit(1)).as("cnt"))
    val perDoc = if (materialize) perDocRaw.localCheckpoint(false) else perDocRaw
    val occ = perDoc.groupBy(col("bh")).agg(sum(col("cnt")).as("occ"))
    perDoc.join(occ, "bh")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("long").as("n_blocks"),
           sum(when(col("occ") >= minOcc, col("cnt")).otherwise(0L))
             .cast("long").as("n_dup_blocks"))
  }

  /** Cross-doc duplicated-substring SPANS — the exact-substring-dedup shape
    * of Lee et al. "Deduplicating Training Data Makes Language Models
    * Better" (arXiv:2107.06499), at word-`w`-gram resolution: a gram
    * occurrence is duplicated when its corpus-wide occurrence count (ALL
    * positions — within-doc repeats are duplication too, unlike p36's
    * per-doc-distinct coverage) reaches `minDf`; consecutive duplicated
    * gram positions then merge into MAXIMAL runs (gaps-and-islands on the
    * position sequence), and a run covering gram positions [a..b] spans
    * b−a+w tokens — the unit a substring-dedup pass would actually cut,
    * where p36 only reports how much is covered. Docs shorter than `w`
    * contribute one whole-doc gram at position 1 (span length reported as
    * `w` by the uniform formula; the oracle replicates it). Scale: the df
    * census shuffles bare hashes (8 B), the hit join is against the
    * DISTINCT duplicated-hash set (no fan-out), and the island merge is
    * one doc-keyed window over duplicated positions only — text never
    * crosses an exchange. Reference analogue: none (engine addition,
    * SURVEY §2.3 dedup family). */
  def dupSpans(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val w = 4     // gram width in words
    val minDf = 2 // occurrences that make a gram duplicated
    val g = df.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = wsPat.split(text.trim)
        if (toks.length < w)
          Iterator.single((id, 1L, TextOps.md5Low63(toks.mkString(" "))))
        else Iterator.tabulate(toks.length - w + 1)(i =>
          (id, (i + 1).toLong, TextOps.md5Low63(toks.slice(i, i + w).mkString(" "))))
      }
      .toDF("doc_id", "pos", "h")
    val totals = g.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val dup = g.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .where(col("occ") >= minDf).select(col("h"))
    val hits = g.join(dup, "h").select(col("doc_id"), col("pos"))
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = hits
      .withColumn("grp", col("pos") - row_number().over(wnd))
      .groupBy(col("doc_id"), col("grp"))
      .agg((max(col("pos")) - min(col("pos")) + w).as("span_tokens"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_dup_spans"),
        sum(col("span_tokens")).cast("long").as("dup_tokens"),
        max(col("span_tokens")).cast("long").as("max_span_tokens"))
    totals.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams").cast("long").as("n_grams"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("max_span_tokens"), lit(0L)).as("max_span_tokens"))
  }

  /** Character-level near-duplicate pairs (Levenshtein distance ≤ 1) over
    * the short `title` column, via SymmetricDelete deletion-neighborhood
    * blocking: every key generates itself plus its L single-character
    * deletions, and any two strings within edit distance 1 necessarily
    * share at least one neighborhood entry (equal → the string itself;
    * substitution → the common deletion; insert/delete → the shorter
    * string). So the self-join runs on O(L) short derived keys per row
    * with guaranteed recall 1 — never all-pairs — and the verify step is
    * Spark's codegen'd `levenshtein`. At web scale this shuffles
    * rows × (L+1) keys of ~L bytes; hot neighborhoods (boilerplate
    * prefixes) can be df-capped exactly like the shingle path (p25).
    * Engine addition (no reference analogue): short-field entity
    * resolution — titles, URLs, product names. */
  def editDistanceNearDups(df: DataFrame): DataFrame = {
    val t0 = df.select(col("doc_id").cast("long").as("id"),
      col("title").as("t"))
    val dels = transform(sequence(lit(1), length(col("t"))),
      i => concat(col("t").substr(lit(1), i - 1),
                  col("t").substr(i + 1, length(col("t")) - i)))
    val nbrs = t0.select(col("id"), col("t"),
      explode(array_distinct(
        when(length(col("t")) < 1, array(col("t")))
          .otherwise(concat(array(col("t")), dels)))).as("nb"))
    val a = nbrs.select(col("id").as("doc_a"), col("t").as("t_a"), col("nb"))
    val b = nbrs.select(col("id").as("doc_b"), col("t").as("t_b"), col("nb"))
    a.join(b, Seq("nb"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "t_a", "t_b").distinct()
      .where(levenshtein(col("t_a"), col("t_b")) <= 1)
      .select(col("doc_a"), col("doc_b"),
              levenshtein(col("t_a"), col("t_b")).as("edit_dist"))
  }

  /** Truncation-duplicate detection (crawl re-fetches cut off mid-page):
    * pairs (prefix_id, full_id) where the prefix doc's text is a strict
    * prefix of the full doc's text. Candidate "prefix" docs are the short
    * side — length in [keyLen, maxPrefixLen] — which at web scale is a
    * tiny, broadcastable slice of the corpus (truncations cluster at the
    * fetcher's cutoff), so the full corpus never shuffles: one broadcast
    * hash join on the first-`keyLen`-chars blocking key, then an exact
    * startsWith verify inside codegen. Docs shorter than `keyLen` cannot
    * form a blocking key and are out of contract (documented, not silent:
    * keyLen sits below the truncation threshold). */
  def prefixDups(df: DataFrame): DataFrame = {
    val keyLen = 64        // blocking-key length in chars
    val maxPrefixLen = 150 // longest doc taken as a truncated prefix
    val t = df.select(col("doc_id").cast("long").as("doc_id"), col("text"),
      length(col("text")).as("len"),
      col("text").substr(1, keyLen).as("k"))
    val shorts = t.where(col("len") >= keyLen && col("len") <= maxPrefixLen)
      .select(col("doc_id").as("prefix_id"), col("text").as("p_text"),
        col("len").as("prefix_len"), col("k"))
    val fulls = t.select(col("doc_id").as("full_id"), col("text"),
      col("len"), col("k"))
    fulls.join(broadcast(shorts), Seq("k"))
      .where(col("len") > col("prefix_len") &&
        col("text").substr(lit(1), col("prefix_len")) === col("p_text"))
      .select(col("prefix_id"), col("full_id"),
        col("prefix_len").cast("long").as("prefix_len"))
  }
}

/** Stable 64-bit string hashes (String.hashCode is 32-bit and JVM-pinned).
  * `md5Low64` = DuckDB `md5_number_lower` (used where a SQL oracle must
  * replicate it). The fast FNV-1a hash of the minhash lanes is
  * `graft.io.Corpus.hash`. */
object Corpus64 {
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** MD5 of a byte slice through the thread's one digest: a ThreadLocal
    * digest avoids the per-call provider lookup (~3× on the fingerprint
    * hot path). len = -1 means "to the end". */
  private[graft] def md5Digest(bytes: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val d = md5.get()
    d.reset()
    d.update(bytes, off, if (len < 0) bytes.length - off else len)
    d.digest()
  }

  def md5Low64(s: String): Long =
    md5Low64(s.getBytes("UTF-8"), 0, -1)

  /** md5-low64 over a byte slice — lets k-gram loops hash windows of one
    * shared byte array instead of allocating a String + byte[] per gram.
    * len = -1 means "to the end". */
  def md5Low64(bytes: Array[Byte], off: Int, len: Int): Long = {
    val out = md5Digest(bytes, off, len)
    var h = 0L
    var i = 7
    while (i >= 0) { h = (h << 8) | (out(8 + i) & 0xffL); i -= 1 }
    h
  }
}
