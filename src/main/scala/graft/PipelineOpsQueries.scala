package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{CorpusOps, DedupOps, MultimodalOps, SimilarityOps, TextOps}

/** Training-data pipeline operators over the `documents` / `embeddings`
  * tables (dedup, similarity search, text analysis, multimodal plumbing).
  * Integer/string-valued outputs carry exact DuckDB oracles; hash-seeded
  * ops (minhash/simhash/LSH — engine-specific hash functions) are gated by
  * unit tests + the rows-only driver check instead.
  */
object PipelineOpsQueries {
  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  /** The ten Cyrillic lookalikes of [[CorpusOps.confusableFrom]] (minus
    * the zero-widths) — interpolated into the p115 oracle so engine and
    * oracle can never disagree on the confusable table. */
  private val CYRILLIC_LOOKALIKES = CorpusOps.confusableFrom.substring(0, 10)
  /** Composed 'café' vs its NFC-equivalent decomposed twin ('e'+U+0301) —
    * shared by the p120 query and its oracle so both plant identical
    * bytes. */
  private val NFC_COMPOSED = "caf\u00e9"
  private val NFC_DECOMPOSED = "cafe\u0301"
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** p10's media-table dump location — count-keyed so Verify (sf0.01) and
    * Bench (sf0.1) never clobber each other. The oracle SQL interpolates the
    * SAME count-keyed path via `oracleSqlFor(dir)`, so query and oracle can
    * never read different dumps regardless of which sf the driver runs. */
  def mediaDumpPath(dir: String): String =
    s"/tmp/graft_media_dump_${SparkEntry.docCountFor(dir)}"

  def lshBucketDumpPath(dir: String): String =
    s"/tmp/graft_lsh_buckets_${SparkEntry.docCountFor(dir)}"

  def ivfAssignPath(dir: String): String =
    s"/tmp/graft_ivf_assign_${SparkEntry.docCountFor(dir)}"
  def ivfProbePath(dir: String): String =
    s"/tmp/graft_ivf_probe_${SparkEntry.docCountFor(dir)}"
  def ivfSweepAssignPath(dir: String): String =
    s"/tmp/graft_ivf_sweep_assign_${SparkEntry.docCountFor(dir)}"
  def ivfIncBasePath(dir: String): String =
    s"/tmp/graft_ivf_inc_base_${SparkEntry.docCountFor(dir)}"
  def ivfIncDeltaPath(dir: String): String =
    s"/tmp/graft_ivf_inc_delta_${SparkEntry.docCountFor(dir)}"
  def ivfIncProbePath(dir: String): String =
    s"/tmp/graft_ivf_inc_probe_${SparkEntry.docCountFor(dir)}"
  def graphInsertSweepPath(dir: String): String =
    s"/tmp/graft_graph_insert_sweep_${SparkEntry.docCountFor(dir)}"
  def ivfSweepProbePath(dir: String): String =
    s"/tmp/graft_ivf_sweep_probe_${SparkEntry.docCountFor(dir)}"

  def multiBucketDumpPath(dir: String): String =
    s"/tmp/graft_lsh_multi_${SparkEntry.docCountFor(dir)}"

  def lshRecallDumpPath(dir: String): String =
    s"/tmp/graft_lsh_recall_${SparkEntry.docCountFor(dir)}"

  def bandSweepDumpPath(dir: String): String =
    s"/tmp/graft_band_sweep_${SparkEntry.docCountFor(dir)}"

  def mgDumpPath(dir: String): String =
    s"/tmp/graft_mg_summary_${SparkEntry.docCountFor(dir)}"

  def deflateDumpPath(dir: String): String =
    s"/tmp/graft_deflate_dump_${SparkEntry.docCountFor(dir)}"

  def streamDeconSinkPath(dir: String): String =
    s"/tmp/graft_stream_decon_${SparkEntry.docCountFor(dir)}"
  def streamUpsertSnapshotPath(dir: String): String =
    s"/tmp/graft_stream_upsert_${SparkEntry.docCountFor(dir)}"
  def streamDedupSinkPath(dir: String): String =
    s"/tmp/graft_stream_dedup_${SparkEntry.docCountFor(dir)}"
  def streamSessionSinkPath(dir: String): String =
    s"/tmp/graft_stream_session_${SparkEntry.docCountFor(dir)}"
  def streamIntervalSinkPath(dir: String): String =
    s"/tmp/graft_stream_interval_${SparkEntry.docCountFor(dir)}"
  def streamTwsSinkPath(dir: String): String =
    s"/tmp/graft_stream_tws_${SparkEntry.docCountFor(dir)}"

  def beamVisitedPath(dir: String): String =
    s"/tmp/graft_beam_visited_${SparkEntry.docCountFor(dir)}"
  def beamSweepPath(dir: String): String =
    s"/tmp/graft_beam_sweep_${SparkEntry.docCountFor(dir)}"
  def descentSweepPath(dir: String): String =
    s"/tmp/graft_descent_sweep_${SparkEntry.docCountFor(dir)}"

  def semDedupAssignPath(dir: String): String =
    s"/tmp/graft_semdedup_assign_${SparkEntry.docCountFor(dir)}"

  def pqCodebookPath(dir: String): String =
    s"/tmp/graft_pq_codebook_${SparkEntry.docCountFor(dir)}"
  def pqCodesPath(dir: String): String =
    s"/tmp/graft_pq_codes_${SparkEntry.docCountFor(dir)}"
  def pqRerankCodebookPath(dir: String): String =
    s"/tmp/graft_pq_rr_codebook_${SparkEntry.docCountFor(dir)}"
  def pqRerankCodesPath(dir: String): String =
    s"/tmp/graft_pq_rr_codes_${SparkEntry.docCountFor(dir)}"
  def pqDriftCodebookPath(dir: String): String =
    s"/tmp/graft_pq_drift_codebook_${SparkEntry.docCountFor(dir)}"
  def pqDriftCodesPath(dir: String): String =
    s"/tmp/graft_pq_drift_codes_${SparkEntry.docCountFor(dir)}"

  def phashRefsPath(dir: String): String =
    s"/tmp/graft_phash_refs_${SparkEntry.docCountFor(dir)}"

  /** p77's banned-phrase list — literal, border-free (no pattern has a
    * proper prefix that is also a suffix), so Aho–Corasick all-matches ==
    * regexp non-overlapping matches (BlocklistScan scaladoc). */
  val blocklistPatterns: Seq[String] =
    Seq("customer", "data column", "fast key", "scan slow", "spark", "vector")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p01_dedup_exact" -> ((s, dir) => DedupOps.exact(docs(s, dir))),
    "p02_token_counts" -> ((s, dir) => TextOps.tokenCounts(docs(s, dir))),
    "p03_quality_counts" -> ((s, dir) => TextOps.qualityCounts(docs(s, dir))),
    "p04_langid" -> ((s, dir) => TextOps.langId(docs(s, dir))),
    "p05_minhash_neardup" -> ((s, dir) => DedupOps.minhashLsh(docs(s, dir))),
    "p06_simhash" -> ((s, dir) => DedupOps.simhash(docs(s, dir))),
    "p07_ann_brute_topk" -> ((s, dir) => SimilarityOps.bruteTopK(emb(s, dir))),
    "p08_ann_lsh_topk" -> ((s, dir) => {
      // materialize the bucket assignment so the oracle can recompute the
      // bucket-restricted ranking (the sign-LSH hash itself is engine code)
      val e = emb(s, dir)
      SimilarityOps.lshBuckets(e).write.mode("overwrite")
        .parquet(lshBucketDumpPath(dir))
      SimilarityOps.lshTopKFrom(e, s.read.parquet(lshBucketDumpPath(dir)))
    }),
    "p09_fingerprints" -> ((s, dir) => TextOps.fingerprints(docs(s, dir))),
    "p10_media_stats" -> ((s, dir) =>
      MultimodalOps.mediaStatsDumped(SparkEntry.docTable(s, dir),
        mediaDumpPath(dir))),
    // image-side dedup (LAION-style): 64-bit dHash per distinct media
    // payload via one codegen byte pass, 4×16-bit band self-join with
    // pigeonhole recall 1.0 at hamming ≤ 3, exact bit_count(xor) verify;
    // the oracle recomputes every hash from the dumped refs in SQL
    // integer math and brute-forces the exact all-pairs answer
    "p127_phash_neardups" -> ((s, dir) =>
      MultimodalOps.phashNearDupsDumped(SparkEntry.docTable(s, dir),
        phashRefsPath(dir))),
    // columnar-encoding advisor (physical design): per-column PLAIN/RLE/
    // DICT byte models over block-local runs (writers reset encodings
    // per page — and the blocked window avoids the single-partition
    // global sort); integer-exact, bits via minimal-width bin()
    "p133_encoding_advisor" -> ((s, dir) =>
      graft.ops.StorageOps.encodingAdvisor(
        s.read.parquet(s"$dir/lineitem.parquet"))),

    // isotonic (PAV) calibration: best non-decreasing outcome rate over
    // 32 length bins; engine = one keyed agg + driver PAV stack; oracle
    // = the CLOSED-FORM minimax characterization max_j min_k of segment
    // rates — their agreement IS the isotonic-regression theorem
    "p131_isotonic_calibration" -> ((s, dir) =>
      graft.ops.CalibrationOps.isotonicCalibration(docs(s, dir))),

    // ε=ln2 DP histogram release (geometric mechanism, p103's
    // governance sibling): every (lang, source) domain cell — absent
    // ones included — gets exact integer discrete-Laplace noise derived
    // from md5 trailing-zero geometrics; the oracle re-derives every
    // noisy cell from the same bits via bit_count((h & -h) - 1)
    "p130_dp_histogram" -> ((s, dir) =>
      graft.ops.PrivacyOps.dpHistogram(docs(s, dir))),

    // batch-perceptron quality-classifier trainer: 5 epochs of
    // (broadcast-w scoring scan → misclassified integer update), hashed
    // bag-of-words features, label = lang=='en'; order-free integer
    // sums make training bit-deterministic, and the oracle re-runs the
    // whole loop as generated chained CTEs over the sparse features
    "p129_perceptron_train" -> ((s, dir) =>
      graft.ops.ClassifierOps.perceptronTrain(docs(s, dir))),

    // greedy facility-location coreset (submodular subset selection):
    // 8 rounds of integer-exact marginal-gain argmax over a broadcast
    // coverage sample; floor(x·1000) quantization makes every similarity
    // an exact BIGINT dot, so argmax and census are bit-deterministic —
    // the oracle re-runs the whole greedy loop as generated chained CTEs
    "p128_coreset_facility" -> ((s, dir) =>
      graft.ops.CoresetOps.facilityLocation(emb(s, dir))),
    "p12_embedding_top_pairs" -> ((s, dir) => SimilarityOps.topPairs(emb(s, dir))),
    "p13_ann_ivf_topk" -> ((s, dir) => {
      // IVF-Flat ANN: dump the trained assignment + probe tables so the
      // oracle re-ranks the exact candidate sets (quantizer is engine code)
      val e = emb(s, dir)
      val centroids = graft.ops.IvfOps.train(e)
      graft.ops.IvfOps.assign(e, centroids)
        .write.mode("overwrite").parquet(ivfAssignPath(dir))
      graft.ops.IvfOps.probes(e, centroids, nprobe = 2)
        .write.mode("overwrite").parquet(ivfProbePath(dir))
      graft.ops.IvfOps.topKFrom(e, s.read.parquet(ivfAssignPath(dir)),
        s.read.parquet(ivfProbePath(dir)))
    }),
    "p11_shingle_counts" -> ((s, dir) => DedupOps.shingleCounts(docs(s, dir))),
    "p14_token_df" -> ((s, dir) => graft.ops.CorpusOps.tokenDf(docs(s, dir))),
    // PII payloads planted by doc_id % 3 (corpus text is PII-free); the
    // oracle applies the same augmentation + RE2 patterns
    "p15_pii_scrub" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val aug = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit(" contact john.doe@example.com now"))
            .when(pmod(col("doc_id"), lit(3)) === 1, lit(" call 9876543210 today"))
            .otherwise(lit(""))).as("text"))
      graft.ops.CorpusOps.piiScrub(aug)
    }),
    "p16_repetition_stats" -> ((s, dir) =>
      graft.ops.CorpusOps.repetitionStats(docs(s, dir))),
    "p17_source_rollup" -> ((s, dir) =>
      graft.ops.CorpusOps.sourceRollup(docs(s, dir))),
    "p19_count_min_sketch" -> ((s, dir) =>
      graft.ops.CorpusOps.countMinSketch(docs(s, dir))),
    "p20_hll_registers" -> ((s, dir) =>
      graft.ops.CorpusOps.hllRegisters(docs(s, dir))),
    "p21_bloom_filter" -> ((s, dir) =>
      graft.ops.CorpusOps.bloomFilter(docs(s, dir))),
    "p22_jaccard_pairs" -> ((s, dir) =>
      DedupOps.exactJaccardPairs(docs(s, dir))),
    // the df-CAPPED inverted index — the production path at web scale
    // (stop-shingle fan-out bounded at cap²) — driver-verified against a
    // DuckDB replica that applies the identical df rule; n_union stays
    // exact because set sizes are computed pre-cap
    "p25_jaccard_capped" -> ((s, dir) =>
      DedupOps.exactJaccardPairs(docs(s, dir), maxDf = Some(3))),
    // dedup terminal step: LSH pairs → connected components (large-star/
    // small-star) → (doc, keeper, cluster size); oracled by a DuckDB
    // recursive-CTE transitive closure over the exact pair set
    "p26_dup_clusters" -> ((s, dir) =>
      // r6: CC over rep-level pairs with arithmetic member labeling —
      // output-identical (spec-pinned), never builds the in-cluster
      // quadratic edge set
      DedupOps.dupClustersOverDocs(docs(s, dir))),
    // incremental CC maintenance: base labels from the doc_id%5!=4 world,
    // delta = the new docs' pairs only; LSH pair candidacy is per-pair,
    // so base∪delta IS the full pair set — the oracle recomputes CC from
    // scratch over it (the full-graph recompute the IVM path avoids) and
    // the incremental labeling must be row-identical
    "p132_cc_incremental" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val d = docs(s, dir)
      // ONE LSH pass feeds both sides (r6): banding is per-doc and the
      // verify is pair-local, so minhashLsh(old docs) == the full-corpus
      // pair set filtered to old-only endpoints — the base world's pairs
      // and the delta's come from the same (eagerly checkpointed, timed)
      // run instead of two full band+verify executions
      val full = DedupOps.minhashLsh(d).localCheckpoint(true)
      val base = DedupOps.dupClusters(
        full.filter(col("doc_a") % 5 =!= 4 && col("doc_b") % 5 =!= 4))
      val delta = full
        .filter(col("doc_a") % 5 === 4 || col("doc_b") % 5 === 4)
      DedupOps.dupClustersIncremental(base, delta)
        .orderBy(col("doc_id"))
    }),
    // benchmark decontamination: docs with doc_id % 20 == 0 stand in as the
    // eval set; every remaining doc sharing any word 4-gram with it is
    // flagged with its matched-gram count
    "p27_decontaminate" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val d = docs(s, dir)
      graft.ops.CorpusOps.decontaminate(
        d.where(col("doc_id") % 20 =!= 0),
        d.where(col("doc_id") % 20 === 0))
    }),
    // embedding-modality cluster resolution: the exact top-100 cosine pair
    // graph (p12's oracled edge set) resolved into transitive clusters by
    // the same large-star/small-star machinery as p26
    "p28_embed_dup_clusters" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      DedupOps.dupClusters(
        SimilarityOps.topPairs(emb(s, dir))
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
        .select(col("doc_id").as("vec_id"), col("cluster_id"),
                col("cluster_size"))
    }),
    "p23_tfidf_topk" -> ((s, dir) =>
      graft.ops.CorpusOps.tfidfTopK(docs(s, dir))),
    // Gopher-style composite keep/drop decision with every signal emitted
    "p29_quality_filter" -> ((s, dir) =>
      TextOps.qualityFilter(docs(s, dir))),
    // the WHOLE curation chain as one artifact: quality filter →
    // exact-dedup keeper → decontamination drop → stratified hash sample →
    // per-language mixture rollup. Every stage joins back on doc_id
    // (semi/anti — co-partitioned at scale when the corpus is bucketed by
    // doc_id), so raw text flows through exactly the per-stage kernels and
    // never through a join.
    "p30_curation_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      val d = docs(s, dir)
      val train = d.where(col("doc_id") % 20 =!= 0)
      val evalSet = d.where(col("doc_id") % 20 === 0)
      val quality = TextOps.qualityFilter(train)
        .where(col("keep") === 1).select(col("doc_id"))
      val keepers = DedupOps.exact(train)
        .select(col("keeper_doc_id").as("doc_id"))
      val contaminated = graft.ops.CorpusOps.decontaminate(train, evalSet)
        .select(col("doc_id"))
      val sampled = graft.ops.CorpusOps
        .hashSample(train, Map("en" -> 50), defaultPct = 20)
        .select(col("doc_id"))
      train
        .join(quality, Seq("doc_id"), "left_semi")
        .join(keepers, Seq("doc_id"), "left_semi")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .join(sampled, Seq("doc_id"), "left_semi")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("lang"))
    }),
    // OOV stats vs a top-20 induced vocab (corpus vocabulary is 31 tokens,
    // so the 11 rarest become the OOV tail)
    "p31_oov_stats" -> ((s, dir) =>
      graft.ops.CorpusOps.oovStats(docs(s, dir))),
    "p24_hash_sample" -> ((s, dir) =>
      graft.ops.CorpusOps.hashSample(docs(s, dir),
        Map("en" -> 50), defaultPct = 20)),
    // exact per-stratum quotas (deterministic hash-order rank), the
    // companion to rate-based p24
    "p32_quota_sample" -> ((s, dir) =>
      graft.ops.CorpusOps.quotaSample(docs(s, dir),
        Map("en" -> 40), defaultQuota = 15)),
    // preprocess plan over the media dump p10 materializes (depends only on
    // the dump being written in the same Verify run — each query fn is
    // self-contained, so write it here too)
    "p18_media_preprocess" -> ((s, dir) => {
      // mediaStatsDumped writes the dump eagerly (parquet write is an
      // action inside the call); the returned stats DF is discarded
      MultimodalOps.mediaStatsDumped(SparkEntry.docTable(s, dir),
        mediaDumpPath(dir))
      MultimodalOps.preprocessPlan(s.read.parquet(mediaDumpPath(dir)))
    }),
    // concat-then-chunk sequence packing: per-doc global token offset +
    // pack range via the distributed prefix sum (never a SinglePartition
    // window); oracled by the running-sum window formulation
    "p33_seq_packing" -> ((s, dir) =>
      graft.ops.PackingOps.packChunks(docs(s, dir))),
    // per-source caps (keep the 10 longest docs per source): bounded-heap
    // partial top-k per partition, one source-keyed merge
    "p34_domain_cap" -> ((s, dir) =>
      graft.ops.CorpusOps.domainCap(docs(s, dir))),
    // HLL estimator vs exact cardinality on distinct (doc, token) pairs —
    // integer-arithmetic estimate so the oracle replicates it bit-for-bit
    "p35_hll_validate" -> ((s, dir) =>
      graft.ops.CorpusOps.hllValidate(docs(s, dir))),
    // cross-doc repeated 4-gram coverage (boilerplate/template signal)
    "p36_repeated_grams" -> ((s, dir) =>
      graft.ops.CorpusOps.repeatedGramStats(docs(s, dir))),
    // CMS point estimates vs exact counts for the top-20 tokens (integer,
    // est >= exact by construction — the oracle checks the same cells)
    "p37_cms_validate" -> ((s, dir) =>
      graft.ops.CorpusOps.cmsValidate(docs(s, dir))),
    // integer unigram-surprisal quality score (perplexity-filter stand-in)
    "p38_surprisal" -> ((s, dir) =>
      graft.ops.CorpusOps.surprisalScores(docs(s, dir))),
    // SimHash near-dup PAIRS (p06 emits signatures; this is the banded
    // candidate join + exact hamming verify) — oracle recomputes both the
    // signatures and the band/hamming rule from scratch in SQL
    "p39_simhash_pairs" -> ((s, dir) =>
      DedupOps.simhashPairs(docs(s, dir))),

    // the 10^12 path of the p12/p28 exact-pairs family, driver-verified:
    // multi-table sign-LSH candidates (bucket-keys-only shuffle), exact
    // cosine verify >= 0.45 (the synthesized corpus' near-dup band — max
    // pairwise cosine is ~0.51/0.60 at sf0.01/0.1). Buckets are dumped so
    // the oracle rebuilds the IDENTICAL candidate set by SQL self-join and
    // re-verifies every pair with DuckDB's own cosine.
    "p40_embed_near_dups" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val e = emb(s, dir)
      SimilarityOps.lshBucketsMulti(e)
        .write.mode("overwrite").parquet(multiBucketDumpPath(dir))
      SimilarityOps.embeddingNearDupsFrom(e,
          s.read.parquet(multiBucketDumpPath(dir)))
        .select(col("vec_a"), col("vec_b"))
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // CCNet-style line-level dedup stats: fixed 8-token blocks, a block is
    // duplicated when its hash occurs >= 2 times corpus-wide; only 32-char
    // hashes ever shuffle
    "p41_line_dedup" -> ((s, dir) => DedupOps.lineDedupStats(docs(s, dir))),

    // whitespace/control normalization over a deterministically-dirtied
    // corpus (the clean corpus would make the op vacuous): junk planted by
    // doc_id % 3, the oracle plants the identical junk and re-runs the
    // identical RE2 chain
    "p42_normalize_text" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val aug = docs(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("\t  "), col("text"), lit(" \t")))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            regexp_replace(col("text"), " ", "  "))
          .otherwise(concat(col("text"), lit("\u0007\u000b end"))).as("text"))
      graft.ops.CorpusOps.normalizeText(aug)
    }),

    // BPE trainer iteration 0: corpus-wide adjacent character-pair counts
    // within tokens, top-50 (n DESC, pair) — the argmax is the first merge
    "p43_bpe_pairs" -> ((s, dir) =>
      graft.ops.CorpusOps.bpePairCounts(docs(s, dir))),

    // cross-source 4-gram overlap matrix (mixing-time contamination census)
    "p44_source_overlap" -> ((s, dir) =>
      graft.ops.CorpusOps.sourceOverlap(docs(s, dir))),

    // deterministic epoch shuffle-sharding census (2 epochs × 16 shards)
    "p45_epoch_shards" -> ((s, dir) =>
      graft.ops.CorpusOps.epochShards(docs(s, dir))),

    // LSH candidate-RECALL measurement (completes the sketch-validation
    // family p35/p37 started): deliberately weak parameters — ONE band of
    // 16 rows gives per-pair recall j^16 ≈ 0.61–0.85 on this corpus's
    // j=0.90–0.99 planted near-dups, so the number is non-trivial;
    // candidates are dumped and the oracle recounts hits against its own
    // exact-Jaccard pair set
    "p46_lsh_recall" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = docs(s, dir)
      DedupOps.minhashCandidates(d, bands = 1, rowsPerBand = 16)
        .write.mode("overwrite").parquet(lshRecallDumpPath(dir))
      val cands = s.read.parquet(lshRecallDumpPath(dir))
        .withColumn("is_cand", lit(1L))
      val exact = DedupOps.exactJaccardPairs(d, minJaccardPct = 60)
        .select(col("doc_a"), col("doc_b")).withColumn("is_exact", lit(1L))
      exact.join(cands, Seq("doc_a", "doc_b"), "full_outer")
        .agg(sum(coalesce(col("is_exact"), lit(0L))).cast("long").as("n_exact"),
             sum(coalesce(col("is_cand"), lit(0L))).cast("long").as("n_candidates"),
             sum(when(col("is_exact") === 1L && col("is_cand") === 1L, 1L)
               .otherwise(0L)).cast("long").as("n_hits"))
        .select(col("n_exact"), col("n_candidates"), col("n_hits"),
          expr("(n_hits * 100) div n_exact").as("recall_pct"))
    }),

    // quantile-sketch validation: deterministic bottom-k-by-hash sample
    // (TakeOrderedAndProject = map-side bounded heap) estimates rank
    // quantiles of n_chars; exact side runs over the DISTINCT-value domain,
    // never a global row sort. Integer arithmetic end-to-end so the oracle
    // replicates bit-for-bit. Completes the sketch family (p35 HLL
    // cardinality, p37 CMS frequency, p47 rank/quantile).
    "p47_quantile_validate" -> ((s, dir) =>
      graft.ops.CorpusOps.quantileValidate(docs(s, dir))),

    // source-mixture token-budget planner: md5-derived target weights, 60%
    // global budget, integer rates/yields/deficits — one source-keyed
    // aggregate, then arithmetic over the tiny rollup
    "p50_mixture_plan" -> ((s, dir) =>
      graft.ops.CorpusOps.mixturePlan(docs(s, dir))),

    // character-level near-dup (Levenshtein ≤ 1) over a 40-char title
    // field with planted typo twins: docs with doc_id % 17 == 3 get a copy
    // (id + 5_000_000) whose title drops one char at a doc_id-derived
    // position. SymmetricDelete blocking has recall 1 for distance ≤ 1, so
    // the pair set must equal the oracle's exact all-pairs levenshtein
    "p51_editdist_neardup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val base = docs(s, dir).select(col("doc_id"),
        substring(col("text"), 1, 40).as("title"))
      val p = (col("doc_id") % 10 + 1).cast("int")
      val typos = base.where(col("doc_id") % 17 === 3).select(
        (col("doc_id") + 5000000L).as("doc_id"),
        concat(col("title").substr(lit(1), p - 1),
          col("title").substr(p + 1, length(col("title")) - p)).as("title"))
      DedupOps.editDistanceNearDups(base.unionByName(typos))
    }),

    // context-window chunking: 64-token windows every 48 tokens (16-token
    // overlap), per-chunk token count + md5 — the training-sequence
    // preparation step. Oracle re-chunks in SQL via zipped unnests.
    "p53_chunking" -> ((s, dir) => TextOps.chunkDocs(docs(s, dir))),

    // incremental-crawl near-dup: the delta (doc_id % 10 == 0) probes the
    // rest of the corpus through the banded minhash index; oracle = exact
    // Jaccard between the two sets at the same threshold (band kernel is
    // recall-1 on this corpus — pinned by p05's exact oracle)
    "p54_incremental_neardup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = docs(s, dir)
      DedupOps.minhashIncremental(
        d.where(col("doc_id") % 10 =!= 0), d.where(col("doc_id") % 10 === 0))
    }),

    // positional-postings phrase query: postings filtered to the phrase's
    // tokens before the (single) doc_id shuffle; adjacency via array HOFs
    "p55_phrase_search" -> ((s, dir) =>
      graft.ops.CorpusOps.phraseSearch(docs(s, dir), Seq("slow", "hash", "batch"))),

    // ANALYZE-style table profile over normalized orders columns (doubles
    // cent-encoded, timestamps to epoch micros, so min/max stringify
    // identically in both engines)
    "p56_profile" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("o_price_cents"),
          unix_micros(col("o_orderdate").cast("timestamp"))
            .as("o_orderdate_us"))
      graft.ops.ProfileOps.profile(o, Seq("o_orderkey", "o_custkey",
        "o_orderstatus", "o_orderpriority", "o_price_cents",
        "o_orderdate_us"))
    }),

    // Misra-Gries heavy hitters (k=16) with planted hot tokens; the
    // summary is dumped so the oracle re-derives the same error-bound
    // verdicts against exact counts
    // k=64: the n/(k+1) threshold must sit BELOW the planted hot-token
    // counts at every sf or the heavy set is vacuously empty (k=16's
    // n/17 cleared nothing on this corpus once the output became the
    // exact above-threshold set)
    "p57_heavy_hitters" -> ((s, dir) =>
      graft.ops.CorpusOps.heavyHitters(docs(s, dir), 64, mgDumpPath(dir))),

    // bigram-LM surprisal: the conditional upgrade of p38's unigram
    // filter, pure integer bit-length arithmetic
    "p58_bigram_surprisal" -> ((s, dir) =>
      graft.ops.CorpusOps.bigramSurprisal(docs(s, dir))),

    // weighted-sampling executor (p50's planner companion): md5-derived
    // per-source keep rates applied row-locally inside the scan
    "p59_weighted_sample" -> ((s, dir) =>
      graft.ops.CorpusOps.weightedSample(docs(s, dir))),

    // per-dimension embedding stats in exact integer arithmetic
    // (quantized floor(x*1000)); d-row partial state per partition,
    // the raw n x d coordinate stream never shuffles
    "p60_embedding_stats" -> ((s, dir) =>
      SimilarityOps.dimensionStats(emb(s, dir))),

    // Okapi BM25 retrieval top-k — integer-quantized scoring, exact oracle
    "p62_bm25_topk" -> ((s, dir) =>
      graft.ops.CorpusOps.bm25TopK(docs(s, dir))),

    // hybrid-retrieval fusion: reciprocal-rank fusion of the BM25 (p62)
    // and TF-IDF (p23) rankings — integer contributions, exact oracle
    // rebuilt from both retrievers' CTE stacks
    "p63_rrf_fusion" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ops.CorpusOps.rrfFuse(Seq(graft.ops.CorpusOps.bm25TopK(d),
        graft.ops.CorpusOps.tfidfTopK(d)))
    }),

    // int8 quantization fidelity: recall@10 of the quantized cosine
    // ranking vs the exact float ranking — integer quantization grid, so
    // the oracle re-derives scales, quantized vectors and both rankings
    // from the raw embeddings alone
    "p64_quant_recall" -> ((s, dir) =>
      SimilarityOps.quantizedRecall(emb(s, dir))),

    // asymmetric containment dedup (quote/subset detection) over
    // long-gram winnowing fingerprints — runs the PRODUCTION path
    // (df-capped index + materialized fingerprint table); the oracle
    // replicates the cap, so the hash stays exact
    "p65_containment" -> ((s, dir) =>
      DedupOps.containmentPairs(docs(s, dir), materialize = true)
        .orderBy("doc_id", "container_id")),

    // corpus drift monitor: the even/odd doc_id slices stand in as two
    // crawl snapshots; top-100 tokens by absolute ppm-rate delta
    "p67_token_drift" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val d = docs(s, dir)
      graft.ops.CorpusOps.tokenDrift(
        d.where(col("doc_id") % 2 === 0),
        d.where(col("doc_id") % 2 === 1))
    }),

    // DSIR importance scoring: docs with doc_id % 20 == 0 stand in as the
    // target/exemplar distribution (p27/p30's eval-split convention), the
    // rest are the raw corpus ranked by smoothed target-vs-corpus unigram
    // ratio — integer grid, full SQL replica
    "p66_dsir" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val d = docs(s, dir)
      graft.ops.CorpusOps.dsirScores(
        d.where(col("doc_id") % 20 =!= 0),
        d.where(col("doc_id") % 20 === 0))
        .orderBy(col("doc_id"))
    }),

    // contrastive hard-negative mining: top-k most-similar OTHER-label
    // vectors per anchor (same-label rows are would-be positives and are
    // excluded, not mined) — the DPR/SimCSE training-pair recipe
    "p68_hard_negatives" -> ((s, dir) =>
      SimilarityOps.hardNegatives(emb(s, dir))),

    // tokenizer fertility by language: subword-per-word / subword-per-char
    // expansion per lang class — the multilingual token-budget table
    "p69_fertility" -> ((s, dir) =>
      TextOps.fertilityByLang(docs(s, dir))),

    // truncation-duplicate detection: crawl re-fetches cut off mid-page are
    // planted (doc_id % 9 == 4 → a 120-char truncated copy under a new id)
    // and recovered as (prefix_id, full_id) pairs — short side broadcast,
    // blocked on the first-64-char key, exact startsWith verify
    "p70_prefix_dups" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val variants = d
        .where(col("doc_id") % 9 === 4 && length(col("text")) >= 200)
        .select((col("doc_id") + 20000000L).as("doc_id"),
          col("text").substr(1, 120).as("text"))
      DedupOps.prefixDups(d.unionByName(variants))
        .orderBy("prefix_id", "full_id")
    }),

    // tokenizer-vocab coverage curve: corpus coverage ppm at vocab ranks
    // 10/100/1000/10000 — bounded TakeOrdered feeds a constant-size window
    "p71_vocab_coverage" -> ((s, dir) =>
      graft.ops.CorpusOps.vocabCoverage(docs(s, dir))),

    // integer-exact two-sample KS statistic between the even/odd doc_id
    // slices' length distributions (p67's two-snapshot convention) —
    // sup scaled by n_a*n_b so no division ever happens
    "p72_ks_drift" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val d = docs(s, dir)
      graft.ops.CorpusOps.ksDrift(
        d.where(col("doc_id") % 2 === 0),
        d.where(col("doc_id") % 2 === 1))
    }),

    // dedup-detector EVAL: precision of the simhash hamming≤3 candidate
    // pairs against the exact-Jaccard≥50% ground truth, per hamming
    // distance — the tuning table that justifies a detector threshold
    "p78_simhash_precision" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = docs(s, dir)
      val sim = DedupOps.simhashPairs(d)
      val exact = DedupOps.exactJaccardPairs(d)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("is_true"))
      sim.join(exact, Seq("doc_a", "doc_b"), "left")
        .groupBy(col("hamming"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(coalesce(col("is_true"), lit(0L))).as("n_true_dups"))
        .withColumn("precision_pct",
          expr("n_true_dups * 100L div n_pairs"))
        .orderBy(col("hamming"))
    }),

    // charset profile per language: alpha/digit/whitespace char shares in
    // ppm — the first table a tokenizer/normalizer design reads (is this
    // lang's text 'wordy' or symbol-heavy?). The counts use the
    // delete-and-diff regexp trick (length − length(strip(class))) so the
    // whole profile runs inside the scan's codegen; one partial+final
    // agg per lang. DuckDB's regexp_replace needs the 'g' flag to match
    // Spark's replace-all semantics — the pinned cross-engine trap.
    "p90_char_profile" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      docs(s, dir).select(col("lang"),
          length(col("text")).cast("long").as("n"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[A-Za-z]", "")))
            .cast("long").as("alpha"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[0-9]", "")))
            .cast("long").as("digit"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "\\s", "")))
            .cast("long").as("ws"))
        .groupBy(col("lang"))
        .agg(sum(col("n")).as("n_chars"), sum(col("alpha")).as("a"),
          sum(col("digit")).as("d"), sum(col("ws")).as("w"))
        .select(col("lang"), col("n_chars"),
          expr("a * 1000000L div n_chars").as("alpha_ppm"),
          expr("d * 1000000L div n_chars").as("digit_ppm"),
          expr("w * 1000000L div n_chars").as("ws_ppm"))
        .orderBy(col("lang"))
    }),

    // Zipf-fit slope over the term-frequency ranking: integer OLS of
    // bitlen(freq) against bitlen(rank) — the corpus-health statistic a
    // crawl pipeline watches for vocabulary collapse (a healthy corpus
    // fits slope ≈ −1; spam floods flatten it). bin()'s length is the
    // exact integer log2 in BOTH engines (the p38 trick), so the
    // (num, den) slope pair is hash-exact with no float regression. TF
    // comes from the explode-free typed pass (p71's tokenTf); the fit is
    // bounded to the top-10k ranks (TakeOrdered, never a global sort) —
    // the standard practice anyway, since the Zipf tail deviates.
    "p91_zipf_fit" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val tf = graft.ops.CorpusOps.tokenTf(docs(s, dir))
        .groupBy(col("token")).agg(sum(col("tf")).as("freq"))
        .orderBy(col("freq").desc, col("token").asc).limit(10000)
      tf.select(
          row_number().over(Window.orderBy(col("freq").desc, col("token").asc))
            .cast("long").as("rank"), col("freq"))
        .select((length(bin(col("rank"))) - 1).cast("long").as("x"),
                (length(bin(col("freq"))) - 1).cast("long").as("y"))
        .agg(count(lit(1)).as("n_terms"), sum(col("x")).as("sum_x"),
          sum(col("y")).as("sum_y"), sum(col("x") * col("y")).as("sum_xy"),
          sum(col("x") * col("x")).as("sum_x2"))
        .select(col("n_terms"), col("sum_x"), col("sum_y"),
          (col("n_terms") * col("sum_xy") - col("sum_x") * col("sum_y"))
            .as("slope_num"),
          (col("n_terms") * col("sum_x2") - col("sum_x") * col("sum_x"))
            .as("slope_den"))
    }),

    // MinHash band-configuration sweep: candidate count + recall vs the
    // exact Jaccard ≥ 60% pair set as 16 signature lanes regroup from
    // 2 bands × 8 rows (strict, low recall) to 16 × 1 (loose, high
    // recall) — the third leg of the tuning-curve family (p86 sweeps the
    // Jaccard threshold, p89 sweeps IVF nprobe, this sweeps the LSH
    // S-curve). Candidates dump per setting and the oracle re-verifies
    // them against its own exact pair set; the levels table LEFT JOINs so
    // zero-candidate settings still emit (the p89 lesson). The exact
    // ground truth materializes ONCE (localCheckpoint) — it feeds both
    // the 1-row total and the per-setting hit join.
    "p92_band_sweep" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      val d = docs(s, dir)
      val settings = Seq((2, 8), (4, 4), (8, 2), (16, 1))
      settings.map { case (b, r) =>
          DedupOps.minhashCandidates(d, bands = b, rowsPerBand = r)
            .select(lit(b.toLong).as("bands"), col("doc_a"), col("doc_b"))
        }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(bandSweepDumpPath(dir))
      val cand = s.read.parquet(bandSweepDumpPath(dir))
      val exact = DedupOps.exactJaccardPairs(d, minJaccardPct = 60)
        .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
      val ex = exact.agg(count(lit(1)).as("n_exact"))
      val hits = cand
        .join(exact.withColumn("is_exact", lit(1L)), Seq("doc_a", "doc_b"), "left")
        .groupBy(col("bands"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(coalesce(col("is_exact"), lit(0L))).as("n_hits"))
      settings.map(_._1.toLong).toDF("bands")
        .join(hits, Seq("bands"), "left")
        .crossJoin(broadcast(ex))
        .select(col("bands"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("n_exact"))
        .select(col("bands"), col("n_candidates"), col("n_hits"),
          col("n_exact"), expr("n_hits * 100 div n_exact").as("recall_pct"))
        .orderBy(col("bands"))
    }),

    // quality-rule AGREEMENT matrix: pairwise contingency (both / only-A /
    // only-B / neither) between p29's five Gopher rules — the redundancy
    // table that decides which filters an ensemble can drop. Signals
    // compute ONCE (the p29 kernel); the 5-rule vector fans out to the 10
    // unordered pairs via a constant ×10 struct-array explode inside the
    // map stage — the shuffle carries 10 tiny rows per doc pre-aggregated
    // by Catalyst's partial hash agg, never the text.
    "p95_filter_agreement" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val f = TextOps.qualityFilter(docs(s, dir)).select(
        expr("cast(n_tokens >= 30 AND n_tokens <= 100000 as long)").as("r1"),
        expr("cast(sum_token_chars >= 3 * n_tokens AND " +
          "sum_token_chars <= 10 * n_tokens as long)").as("r2"),
        expr("cast(100 * n_alpha_tokens >= 80 * n_tokens as long)").as("r3"),
        expr("cast(n_stop_hits >= 2 as long)").as("r4"),
        expr("cast(100 * n_top_bigram <= 20 * greatest(n_tokens - 1, 1) " +
          "as long)").as("r5"))
      val rs = expr("array(struct(1L AS rid, r1 AS v), " +
        "struct(2L AS rid, r2 AS v), struct(3L AS rid, r3 AS v), " +
        "struct(4L AS rid, r4 AS v), struct(5L AS rid, r5 AS v))")
      f.withColumn("rs", rs)
        .select(explode(col("rs")).as("a"), col("rs"))
        .select(col("a"), explode(col("rs")).as("b"))
        .where(col("a.rid") < col("b.rid"))
        .groupBy(col("a.rid").as("rule_a"), col("b.rid").as("rule_b"))
        .agg(sum(col("a.v") * col("b.v")).as("n_both"),
          sum(col("a.v") * (lit(1L) - col("b.v"))).as("n_only_a"),
          sum((lit(1L) - col("a.v")) * col("b.v")).as("n_only_b"),
          sum((lit(1L) - col("a.v")) * (lit(1L) - col("b.v")))
            .as("n_neither"))
        .orderBy(col("rule_a"), col("rule_b"))
    }),

    // HLL sketch algebra: vocabulary-intersection estimate of the en/fr
    // slices by inclusion–exclusion over cellwise-max register unions,
    // next to the exact keys-only intersection — p20 built the registers,
    // p35 validated the estimator, this validates the ALGEBRA (union
    // without rescans is why mergeable sketches exist at 10^12 rows).
    "p96_hll_intersect" -> ((s, dir) =>
      CorpusOps.hllIntersect(docs(s, dir), "en", "fr")),

    // cross-doc duplicated-substring SPANS (Lee et al. exact-substring
    // dedup at 4-gram resolution): maximal runs of corpus-duplicated gram
    // positions per doc — the spans a substring-cut pass would remove,
    // where p36 only reports gram coverage. Hash-only df census, distinct
    // dup-set join-back, doc-keyed island window (DedupOps.dupSpans).
    "p97_dup_spans" -> ((s, dir) => DedupOps.dupSpans(docs(s, dir))),

    // windowed co-occurrence LIFT top pairs (collocation mining; integer
    // lift = exp(PMI) ordering): bounded pair flatMap, minCo cut BEFORE
    // the marginal join, deterministic (co desc, pair) top-50
    "p98_pmi_pairs" -> ((s, dir) => CorpusOps.pmiPairs(docs(s, dir))),

    // greedy k-center diversity coreset (farthest-point traversal) over
    // integer-quantized embeddings — k scans + 1-row TakeOrdered per
    // round, exact integer argmax chain the oracle unrolls round-by-round
    "p99_kcenter" -> ((s, dir) => SimilarityOps.kcenterCoreset(emb(s, dir))),

    // per-source unigram entropy mass (mixing-time diversity metric;
    // integer bitlen arithmetic — p38's convention at source granularity)
    "p100_source_entropy" -> ((s, dir) =>
      CorpusOps.sourceEntropy(docs(s, dir))),

    // compression-ratio quality signal: codegen'd DeflateLength per doc
    // (the cheap perplexity stand-in), dumped so the oracle re-aggregates
    // without recomputing zlib
    "p102_compression_signal" -> ((s, dir) =>
      CorpusOps.compressionSignal(docs(s, dir), deflateDumpPath(dir))),

    // k-anonymity census over (source, lang, 256-char size bucket)
    // quasi-identifiers: group-size histogram + cumulative below-k docs
    "p103_k_anonymity" -> ((s, dir) => CorpusOps.kAnonymity(docs(s, dir))),

    // token-budget waterfilling (max-min-fair mixing allocator): exact
    // integer water level + largest-remainder distribution; one text pass
    // (source-keyed agg), then tiny-table math — sum(alloc) = budget
    // exactly, alloc ≤ supply row-wise
    "p104_budget_waterfill" -> ((s, dir) =>
      CorpusOps.budgetWaterfill(docs(s, dir))),

    // product quantization ADC recall audit: train the m×k integer
    // codebook, dump codebook + codes, then rank every vector by ADC
    // lookup tables vs the exact integer L2 ranking — the oracle
    // re-derives BOTH rankings from the dumps + raw embeddings (p13's
    // topKFrom contract; fully integer so no float hazard)
    "p105_pq_adc_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val cb = graft.ops.PqOps.train(e)
      graft.ops.PqOps.codebookDf(s, cb)
        .coalesce(1).write.mode("overwrite").parquet(pqCodebookPath(dir))
      graft.ops.PqOps.encode(e, cb)
        .write.mode("overwrite").parquet(pqCodesPath(dir))
      graft.ops.PqOps.adcRecallFrom(e,
        s.read.parquet(pqCodesPath(dir)),
        s.read.parquet(pqCodebookPath(dir)))
    }),

    // two-stage retrieval audit (the production ANN serving shape):
    // ADC top-50 candidate scan over codes, then exact re-rank of only
    // those candidates — graded vs the global exact top-10. Own dumps
    // (identical deterministic training) so query order can't matter.
    "p108_pq_rerank" -> ((s, dir) => {
      val e = emb(s, dir)
      val cb = graft.ops.PqOps.train(e)
      graft.ops.PqOps.codebookDf(s, cb)
        .coalesce(1).write.mode("overwrite")
        .parquet(pqRerankCodebookPath(dir))
      graft.ops.PqOps.encode(e, cb)
        .write.mode("overwrite").parquet(pqRerankCodesPath(dir))
      graft.ops.PqOps.rerankRecall(e,
        s.read.parquet(pqRerankCodesPath(dir)),
        s.read.parquet(pqRerankCodebookPath(dir)))
    }),

    // Matryoshka truncation audit: the first-16-dims ranking vs the full
    // 64-dim ranking, integer L2 both sides — what an adaptive-retrieval
    // candidate scan loses before the full-vector re-rank step
    "p107_matryoshka_recall" -> ((s, dir) =>
      graft.ops.PqOps.prefixRecall(emb(s, dir))),

    // chunk→document embedding pooling (integer mean on the grid): one
    // keyed partial+final agg via a typed vector-sum Aggregator — the
    // shuffle carries one partial row per (doc, partition), never chunks
    "p112_chunk_pooling" -> ((s, dir) =>
      graft.ops.PqOps.chunkPooling(emb(s, dir))),

    // prefix-filtered EXACT Jaccard (AllPairs/PPJoin): only the rarest
    // |x|−⌈t·|x|⌉+1 shingles per doc enter the self-join — stop-shingles
    // never generate candidates — yet the oracle computes the FULL
    // inverted-index join independently, so losslessness is checked
    "p113_jaccard_prefix" -> ((s, dir) =>
      DedupOps.prefixFilteredJaccardPairs(docs(s, dir), materialize = true)),

    // rendezvous-hash reshard plan: grow 16 → 17 shards; HRW moves ONLY
    // the ~1/17 of keys the new shard wins, all INTO shard 16 — the
    // minimal-disruption census a 10^12-key store reshard is planned from
    "p116_rendezvous_shards" -> ((s, dir) =>
      graft.ops.PackingOps.rendezvousShards(docs(s, dir))),

    // join-size pre-flight: predict the many-to-many self-join's exact
    // cardinality + per-key skew contribution from two narrow count
    // aggregates — the oracle EXECUTES the real join and must agree
    // row-for-row, proving a 10^12-row join can be sized without running
    "p117_join_size_plan" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      graft.ops.ProfileOps.joinSizePlan(
        li.filter(col("l_quantity") >= 10),
        li.filter(col("l_quantity") < 40), "l_suppkey")
    }),

    // NFC-canonical dedup: composed/decomposed Unicode twins planted per
    // %17 doc (same rendered text, different bytes) must cluster under
    // distributed suffix array (prefix doubling): global dense
    // lexicographic rank of EVERY suffix of every doc (128-char prefixes,
    // deterministic 1/16 corpus slice — n < 46k keeps the 4-tuple rank
    // packing in 63 bits, so 128 chars are covered in init + 2 rounds) —
    // the exact-substring-dedup primitive; suffix text never shuffles,
    // only (doc,pos,rank) triples. Census shards the rank domain and
    // product-checksums rank↔(doc,pos)
    "p123_suffix_ranks" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      graft.ops.SuffixOps.suffixCensus(
        docs(s, dir).filter(col("doc_id") % 16 === 0)
          .select(col("doc_id"), col("text")))
    }),

    // LCP census over the suffix order (Kasai companion to p123): for
    // each adjacent distinct-rank pair, the common-prefix length of the
    // two suffixes capped at a 64-char window — the repeated-substring
    // spectrum exact-substring dedup thresholds on. One representative
    // per rank class + windowed text (O(nd·64) bytes, never Σlen²),
    // codegen'd byte-loop LCP; chk_rnk binds each pair's LCP to its rank
    "p124_lcp_census" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      graft.ops.SuffixOps.lcpCensus(
        docs(s, dir).filter(col("doc_id") % 16 === 0)
          .select(col("doc_id"), col("text")))
    }),

    // verbatim-repeat removal plan (Lee et al. ExactSubstr, completed):
    // every suffix whose max-neighbor-LCP / duplicate-class length reaches
    // 20 chars flags [pos, pos+len), per-doc spans interval-union into the
    // byte ranges a dedup cut would remove; census binds count + bytes +
    // Σ start·len per doc. The oracle rebuilds the whole chain — suffix
    // sort, neighbor LCPs, islands merge — from scratch in SQL
    "p125_repeat_spans" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      graft.ops.SuffixOps.repeatSpans(
        docs(s, dir).filter(col("doc_id") % 4 === 0)
          .select(col("doc_id"), col("text")))
    }),

    // BPE merge-training loop (Sennrich et al. 2016 learn_bpe): 8 rounds
    // of weighted pair-count → (n DESC, l, r) argmax → greedy
    // non-overlapping merge over the (word, freq) vocab table the corpus
    // compresses into once; per-round census binds the merged pair, its
    // overlapping-count, and two corpus-wide post-apply checksums
    // (Σ freq·|syms| and distinct-symbol count). The oracle re-runs the
    // whole loop as 8 chained CTE rounds over the same bracketed-string
    // representation — replace() is left-to-right non-overlapping in
    // both engines, which IS BPE's apply rule
    "p126_bpe_train" -> ((s, dir) =>
      graft.ops.CorpusOps.bpeTrain(docs(s, dir))),

    // BPE ENCODE census (the apply half of p126): same merge loop, then
    // the whole corpus encodes through one (source, word) count agg + a
    // keyed join against the trained vocab — whose symbol sequences ARE
    // every word's encoding; per-source fertility in exact integers
    "p134_bpe_fertility" -> ((s, dir) =>
      graft.ops.CorpusOps.bpeEncodeCensus(docs(s, dir))),

    // GroupKFold by dup-cluster: folds assigned to whole near-dup
    // clusters so near-duplicates never straddle train/test (the p73
    // leakage channel closed by construction); census also counts the
    // clusters a DOC-level hash split would tear across folds
    "p136_group_kfold" -> ((s, dir) => {
      val d = docs(s, dir)
      DedupOps.groupKFold(d,
        DedupOps.dupClustersOverDocs(d)) // r6 rep-level CC
    }),

    // md5(NFC(text)) with n_raw=2 distinct byte hashes
    "p120_nfc_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val planted = d.filter(col("doc_id") % 17 === 0)
      val twins = planted.select((col("doc_id") + 500000L).as("doc_id"),
          concat(col("text"), lit(NFC_COMPOSED)).as("text"))
        .unionAll(planted.select((col("doc_id") + 600000L).as("doc_id"),
          concat(col("text"), lit(NFC_DECOMPOSED)).as("text")))
      graft.ops.DedupOps.nfcDupClusters(d.unionAll(twins))
    }),

    // retraction-IVM: maintain the per-(source,lang) rollup under a CDC
    // batch (deletes %10==3, updates %10==7 as retract+insert with doubled
    // n_chars, inserts %10==1 into a NEW source) by folding ONLY the
    // signed changelog — the oracle recomputes the rollup from the patched
    // base, so the gate checks the IVM theorem itself
    "p122_ivm_retracts" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"))
      val mv = d.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      def row(sign: Int, src: org.apache.spark.sql.Column,
              ch: org.apache.spark.sql.Column)(rows: DataFrame) =
        rows.select(lit(sign.toLong).as("sign"), src.as("source"),
          col("lang"), ch.as("n_chars"))
      val changelog =
        row(-1, col("source"), col("n_chars"))(
            d.filter(col("doc_id") % 10 === 3))
          .unionAll(row(-1, col("source"), col("n_chars"))(
            d.filter(col("doc_id") % 10 === 7)))
          .unionAll(row(1, col("source"), col("n_chars") * 2)(
            d.filter(col("doc_id") % 10 === 7)))
          .unionAll(row(1, lit("ivm_new"), col("n_chars") + 7)(
            d.filter(col("doc_id") % 10 === 1)))
      graft.ops.MergeOps.applyRetracts(mv, changelog,
          Seq("source", "lang"), "n_docs", "sum_chars", "n_chars")
        .orderBy(col("source"), col("lang"))
    }),

    // Feistel epoch permutation: collision-free deterministic global
    // shuffle — pos = 4-round Feistel over the 2^32 id domain, a bijection
    // computed row-locally (no rand() sort, reproducible, seekable). The
    // census PROVES injectivity (n_distinct_pos == n_docs per shard) and
    // domain tiling per (epoch, pos>>27) shard
    "p121_feistel_shuffle" -> ((s, dir) =>
      graft.ops.PackingOps.feistelShuffle(docs(s, dir))),

    // frame-sampling plan: the decode pre-flight manifest — which frames
    // each video contributes at a uniform 8/clip budget, NTSC-rational
    // timestamps in exact integer arithmetic (sequence→explode HOFs, no
    // shuffle, no UDF)
    "p119_frame_schedule" -> ((s, dir) => {
      MultimodalOps.mediaStatsDumped(SparkEntry.docTable(s, dir),
        mediaDumpPath(dir))
      MultimodalOps.frameSampleSchedule(s.read.parquet(mediaDumpPath(dir)))
    }),

    // record linkage (entity resolution): customers vs a deterministically
    // dirtied copy (digit-transposed names, ±75¢ balance drift, segment
    // wiped to UNKNOWN) linked WITHOUT a shared key via blocked
    // Fellegi–Sunter integer weights; is_true exposes the FP class (names
    // one digit apart) and blocking recall loss for the oracle to audit
    "p118_record_linkage" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("key"), col("c_name").as("name"),
          col("c_nationkey").cast("long").as("block"),
          (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"),
          col("c_mktsegment").as("seg"))
      val dirty = cust.filter(col("key") % 3 === 0)
        .withColumn("name",
          when(col("key") % 2 === 0,
            concat(substring(col("name"), 1, 16),
              substring(col("name"), 18, 1), substring(col("name"), 17, 1)))
            .otherwise(col("name")))
        .withColumn("cents", col("cents") + col("key") % 151 - 75)
        .withColumn("seg",
          when(col("key") % 5 === 0, lit("UNKNOWN")).otherwise(col("seg")))
      graft.ops.LinkageOps.fellegiSunterLinks(cust, dirty)
    }),
    // multi-pass blocking (p118's production absorb): nation block ∪
    // two offset-100 cents÷200 bandings — any pair within the 75-cent
    // tolerance is GUARANTEED to meet in a shifted band even with a
    // corrupted blocking field; oracle re-scores over the 3-way OR of
    // block predicates
    "p135_linkage_multipass" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("key"), col("c_name").as("name"),
          col("c_nationkey").cast("long").as("block"),
          (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"),
          col("c_mktsegment").as("seg"))
      val dirty = cust.filter(col("key") % 3 === 0)
        .withColumn("name",
          when(col("key") % 2 === 0,
            concat(substring(col("name"), 1, 16),
              substring(col("name"), 18, 1), substring(col("name"), 17, 1)))
            .otherwise(col("name")))
        .withColumn("cents", col("cents") + col("key") % 151 - 75)
        .withColumn("seg",
          when(col("key") % 5 === 0, lit("UNKNOWN")).otherwise(col("seg")))
      graft.ops.LinkageOps.fellegiSunterLinksMultiPass(cust, dirty)
    }),

    // weighted (bag) Jaccard: Σmin(tf)/Σmax(tf) over token term
    // frequencies — catches repetition-divergent near-dups set-Jaccard
    // scores identically; postings = (doc, hash, tf, wsum) only
    "p114_weighted_jaccard" -> ((s, dir) =>
      DedupOps.weightedJaccardPairs(docs(s, dir))),

    // homoglyph-skeleton dedup: spoofed copies planted by swapping Latin
    // letters for Cyrillic lookalikes + a zero-width tail — byte dedup
    // sees distinct docs, the skeleton collides them; exact dups excluded
    "p115_homoglyph_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val spoof = d.where(col("doc_id") % 251 === 7)
        .select((col("doc_id") + 1000000000L).as("doc_id"),
          concat(translate(col("text"), graft.ops.CorpusOps.confusableTo,
            graft.ops.CorpusOps.confusableFrom.substring(0, 10)),
            lit("\u200B")).as("text"))
      graft.ops.CorpusOps.homoglyphDedup(d.unionByName(spoof))
    }),

    // vector-QA census (the gate BEFORE indexing): per-vector NaN/Inf,
    // zero-norm and dimension census rolled up by norm² log2-bucket —
    // ANN/PQ/IVF all assume finite non-degenerate fixed-dim vectors
    "p111_vector_qa" -> ((s, dir) => graft.ops.PqOps.vectorQa(emb(s, dir))),

    // classifier feature-table export: p02 + p03 + p75 signals in ONE
    // zero-shuffle projection (PlanSpec-pinned) — the wide integer frame
    // a quality classifier trains on; exporting 10^12 docs costs one pass
    "p110_feature_table" -> ((s, dir) => TextOps.featureTable(docs(s, dir))),

    // frozen-codebook drift audit: codebook trained on the EVEN-vec_id
    // cohort only, everything encoded under it, per-cohort quantization
    // error compared — the retrain trigger a production PQ/IVF index
    // watches; error computed from the dumped codes, as the oracle does
    "p109_pq_drift" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val e = emb(s, dir)
      val cb = graft.ops.PqOps.train(e.where(col("vec_id") % 2 === 0))
      graft.ops.PqOps.codebookDf(s, cb)
        .coalesce(1).write.mode("overwrite")
        .parquet(pqDriftCodebookPath(dir))
      graft.ops.PqOps.encode(e, cb)
        .write.mode("overwrite").parquet(pqDriftCodesPath(dir))
      graft.ops.PqOps.driftAudit(e,
        s.read.parquet(pqDriftCodesPath(dir)),
        s.read.parquet(pqDriftCodebookPath(dir)))
    }),

    // rolling distinct via daily-HLL register-max algebra vs the exact
    // recount — the 10^12-row replacement for q78's distinct-band-join
    // (m=64 rows/day through the window instead of |distinct users|×3)
    "p101_hll_sliding_union" -> ((s, dir) =>
      graft.ops.EventOps.hllSlidingUnion(
        s.read.parquet(s"$dir/events.parquet"))),

    // SEMANTIC decontamination (the embedding twin of p27's n-gram rule):
    // every corpus vector is probed against the broadcast eval-benchmark
    // set at cosine ≥ 0.9; per-benchmark contamination counts emit with
    // zero-hit rows preserved (LEFT JOIN — the p89 lesson). The eval set
    // is planted in-query with arithmetic-free transforms so both engines
    // see bit-identical vectors: exact copies (cosine exactly 1 → always
    // caught) and reversed vectors (decorrelated, max cosine ≈ 0.5 →
    // never caught); the 0.9 threshold sits an enormous margin from both,
    // so the engine/oracle float compare can never flip. At 10^12 rows
    // the probe is the same broadcast pattern — eval benchmarks are tiny
    // by construction (p07's class); LSH/IVF buckets only if they're not.
    "p94_semantic_decon" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val e = emb(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .localCheckpoint(true)
      val ev = e.where(col("vec_id") % 37 === 0)
        .select((col("vec_id") + 1000000L).as("eval_id"),
          when(col("vec_id") % 74 === 0, col("v"))
            .otherwise(reverse(col("v"))).as("ev"))
      val hits = e.crossJoin(broadcast(ev))
        .where(graft.functions.functions.cosine_sim(col("v"), col("ev"))
          >= 0.9)
        .groupBy(col("eval_id")).agg(count(lit(1)).as("n_hits"))
      ev.select(col("eval_id")).join(hits, Seq("eval_id"), "left")
        .select(col("eval_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .orderBy(col("eval_id"))
    }),

    // data-constrained repetition plan (Muennighoff et al. 2023: repeating
    // up to ~4 epochs is near-free, beyond that returns decay): per source,
    // the equal-share token target, the integer repeat factor
    // least(4, ⌈target/tokens⌉), and the effective tokens that plan
    // yields — the UP-sampling twin of p50's down-sampling rates and p80's
    // temperature mix. ONE source-keyed aggregate; all plan arithmetic on
    // the tiny rollup against the broadcast 1-row total.
    "p93_repetition_plan" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      // materialized once: both the broadcast total and the plan rows read
      // it, and the rollup is source-cardinality tiny
      val per = docs(s, dir)
        .select(col("source"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
        .groupBy(col("source")).agg(sum(col("toks")).as("tokens"))
        .localCheckpoint(true)
      per.crossJoin(broadcast(
          per.agg(sum(col("tokens")).as("grand"),
            count(lit(1)).as("n_sources"))))
        .select(col("source"), col("tokens"),
          expr("grand div n_sources").as("target_tokens"))
        .select(col("source"), col("tokens"), col("target_tokens"),
          expr("least(4L, (target_tokens + tokens - 1) div tokens)")
            .as("repeat_factor"))
        .select(col("source"), col("tokens"), col("target_tokens"),
          col("repeat_factor"),
          expr("least(target_tokens, tokens * repeat_factor)")
            .as("effective_tokens"))
        .orderBy(col("source"))
    }),

    // IVF tuning table: recall@10 against the exact brute-force ranking
    // as nprobe sweeps 1 → 2 → 4 — THE accuracy/cost trade-off of the
    // 10^12-row ANN path (candidates scale with nprobe/k). Assignment +
    // ranked probe lists dump once; each sweep point reuses them. The
    // cosine is bit-matched between engines (established by p07), so
    // hit counts are exact, not approximate.
    "p89_ivf_recall_sweep" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val e = emb(s, dir)
      val cs = graft.ops.IvfOps.train(e)
      graft.ops.IvfOps.assign(e, cs)
        .write.mode("overwrite").parquet(ivfSweepAssignPath(dir))
      Seq(1, 2, 4).map(n => graft.ops.IvfOps.probes(e, cs, nprobe = n)
          .withColumn("nprobe", lit(n.toLong)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(ivfSweepProbePath(dir))
      val assigned = s.read.parquet(ivfSweepAssignPath(dir))
      val probed = s.read.parquet(ivfSweepProbePath(dir))
      // materialized once — three sweep branches reuse it (p82's idiom);
      // without this the full brute cross join re-executes per branch
      val brute = SimilarityOps.bruteTopK(e)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(true)
      Seq(1L, 2L, 4L).map { n =>
        graft.ops.IvfOps.topKFrom(e, assigned,
            probed.where(col("nprobe") === n)
              .select(col("query_id"), col("cell")))
          .join(brute, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(n).as("nprobe"), col("n_hits"))
      }.reduce(_ unionByName _)
        .withColumn("recall_ppm", expr("n_hits * 1000000L div 100"))
        .orderBy(col("nprobe"))
    }),

    // shard manifest with content ETAGS: per (epoch, shard) of p45's
    // deterministic assignment, an order-insensitive content hash —
    // bit_xor of per-doc md5-low63 — plus the doc count. Re-reading one
    // shard and xoring its doc hashes reproduces the etag, so shard
    // drift/corruption is detectable without comparing row sets; xor is
    // commutative/associative, i.e. partial-aggregable map-side like any
    // sum. (A wrap-around SUM etag would trip ANSI overflow; xor can't.)
    "p88_shard_etags" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      docs(s, dir).select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          val h = TextOps.md5Low63(text)
          Iterator.tabulate(2) { e =>
            (e.toLong, TextOps.md5Low63(id.toString + ":" + e) % 16, h)
          }
        }
        .toDF("epoch", "shard", "h")
        .groupBy(col("epoch"), col("shard"))
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("etag"))
        .orderBy(col("epoch"), col("shard"))
    }),

    // near-dup locality census: are duplicate pairs INTRA-source or
    // CROSS-source? If the mass is intra, 100-TB dedup can shard by
    // source (an embarrassingly-parallel restart of the whole family);
    // if cross, it must stay global. Pair set from p22's inverted index,
    // two broadcast-able source lookups, distinct involved docs per
    // class via one explode.
    "p87_dup_affinity" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = docs(s, dir)
      val src = d.select(col("doc_id"), col("source"))
      val pairs = DedupOps.exactJaccardPairs(d)
        .join(src.select(col("doc_id").as("doc_a"),
          col("source").as("src_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"),
          col("source").as("src_b")), "doc_b")
        .select(when(col("src_a") === col("src_b"), "intra")
          .otherwise("cross").as("affinity"),
          col("doc_a"), col("doc_b"))
      pairs
        .select(col("affinity"),
          explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .groupBy(col("affinity"))
        .agg(expr("count(1) div 2").as("n_pairs"),
          countDistinct(col("doc_id")).as("n_docs_involved"))
        .orderBy(col("affinity"))
    }),

    // dedup threshold tuning table: pair yield of the exact-Jaccard
    // detector at thresholds 50..90% — p78's tuning-census idea applied
    // to the exact family. One pass over the already-thresholded (≥50%)
    // pair stats; each pair fans out to the 5 threshold rows (a
    // constant), so the sweep costs nothing beyond p22's join.
    "p86_threshold_sweep" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      DedupOps.exactJaccardPairs(docs(s, dir))
        .select(explode(array(lit(50L), lit(60L), lit(70L), lit(80L),
          lit(90L))).as("threshold"), col("n_inter"), col("n_union"))
        .where(expr("n_inter * 100 >= n_union * threshold"))
        .groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("threshold"))
    }),

    // bitext-mining candidate generation: cross-lingual pairs (en ×
    // non-en) from the same source within a ±200-char length band — the
    // blocking stage every translation-pair miner runs before expensive
    // alignment scoring. The scale path is the banded bucket join (en
    // side explodes to its 3 neighboring 200-char buckets, equi-join on
    // (source, bucket), exact band re-check) — never source-wide
    // all-pairs; each qualifying pair matches exactly one bucket value
    // so no dedup pass is needed.
    "p84_bitext_candidates" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        col("source"), col("n_chars").cast("long").as("nc"))
      val en = d.where(col("lang") === "en")
        .select(col("doc_id").as("doc_a"), col("source"),
          col("nc").as("nc_a"),
          explode(array(expr("nc div 200 - 1"), expr("nc div 200"),
            expr("nc div 200 + 1"))).as("bucket"))
      val xx = d.where(col("lang") =!= "en")
        .select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
          col("source"), col("nc").as("nc_b"),
          expr("nc div 200").as("bucket"))
      en.join(xx, Seq("source", "bucket"))
        .where(expr("abs(nc_a - nc_b) <= 200"))
        .select(col("doc_a"), col("doc_b"), col("lang_b"),
          expr("abs(nc_a - nc_b)").as("len_diff"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // per-doc vocabulary novelty: the fraction (ppm) of a document's
    // distinct tokens whose corpus-wide FIRST occurrence is this doc —
    // the curriculum/crawl-frontier signal "is this doc still teaching
    // the model new words". Same first-occurrence table as p81, joined
    // back per doc; shuffles carry (doc, token) distinct rows only.
    "p85_novelty" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val tok = docs(s, dir)
        .select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .distinct()
      val first = tok.groupBy(col("tok"))
        .agg(min(col("doc_id")).as("first_doc"))
      tok.join(first, "tok")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_distinct"), col("n_novel"),
          expr("n_novel * 1000000L div n_distinct").as("novelty_ppm"))
        .orderBy(col("doc_id"))
    }),

    // quality-aware dedup keeper selection: production dedup keeps the
    // BEST doc per near-dup cluster, not the min-id one — keeper =
    // argmax (n_chars, then min doc_id) via max_by over a packed struct
    // (one keyed agg, no per-cluster window). Output per cluster: the
    // keeper, its size, the kept chars and the chars dropped with the
    // duplicates — the "what does dedup actually delete" audit.
    "p83_keeper_quality" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = docs(s, dir)
      val cl = DedupOps.dupClustersOverDocs(d) // r6 rep-level CC
      cl.join(d.select(col("doc_id"), col("n_chars").cast("long")
            .as("n_chars")), "doc_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"),
          max_by(col("doc_id"),
            struct(col("n_chars"), (-col("doc_id")).as("neg")))
            .as("keeper_doc"),
          max(col("n_chars")).as("keeper_chars"),
          sum(col("n_chars")).as("total_chars"))
        .select(col("cluster_id"), col("cluster_size"), col("keeper_doc"),
          col("keeper_chars"),
          expr("total_chars - keeper_chars").as("dropped_chars"))
        .orderBy(col("cluster_id"))
    }),

    // dedup yield forecast: duplicate-CLUSTER size histogram — per size,
    // how many clusters and docs (plus the singleton row: total −
    // clustered) — the table that turns "we found N near-dup pairs" into
    // "dedup keeps X% of the corpus". Rides p26's large-star/small-star
    // components; the histogram itself is two tiny rollups over the
    // cluster labels.
    "p82_cluster_sizes" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = docs(s, dir)
      val cl = DedupOps.dupClustersOverDocs(d) // r6 rep-level CC
        .localCheckpoint(true) // 3 plan branches below
      val hist = cl.groupBy(col("cluster_size"))
        .agg(countDistinct(col("cluster_id")).as("n_clusters"),
          count(lit(1)).as("n_docs"))
      val singles = d.agg(count(lit(1)).as("total"))
        .crossJoin(cl.agg(count(lit(1)).as("clustered")))
        .select(lit(1L).as("cluster_size"),
          expr("total - clustered").as("n_clusters"),
          expr("total - clustered").as("n_docs"))
      hist.unionByName(singles).orderBy(col("cluster_size"))
    }),

    // Heaps'-law vocabulary growth curve: distinct whitespace tokens and
    // total tokens at 10 corpus prefixes (doc_id deciles) — the curve
    // that says whether a corpus is still contributing new vocabulary or
    // has gone asymptotic (stop crawling / stop deduping signal). The
    // scale trick: NO per-checkpoint rescan — one explode+min computes
    // each token's FIRST-occurrence doc, then every checkpoint is a
    // count over that table (a token is in the prefix-k vocabulary iff
    // first_doc < lim_k). The 10 checkpoint rows broadcast.
    "p81_vocab_growth" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = docs(s, dir)
      val first = d
        .select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
      val cps = s.range(1, 11).toDF("k")
        .crossJoin(d.agg(max(col("doc_id")).as("mx")))
        .select(col("k"), expr("((mx + 1) * k) div 10").as("lim"))
      val vocab = first.crossJoin(broadcast(cps))
        .where(col("first_doc") < col("lim"))
        .groupBy(col("k")).agg(count(lit(1)).as("distinct_tokens"))
      val toks = d
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
        .crossJoin(broadcast(cps))
        .where(col("doc_id") < col("lim"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("total_tokens"))
      toks.join(vocab, "k")
        .select(col("k"), col("n_docs"), col("total_tokens"),
          col("distinct_tokens"))
        .orderBy(col("k"))
    }),

    // temperature-rebalanced language mixture (T = 2): target share ∝
    // √n_docs — the standard sublinear rebalancing that up-weights
    // low-resource languages in a multilingual training mix. Integer
    // exact: w = ⌊√n⌋ via correctly-rounded double sqrt (exact for
    // n < 2^52), shares in floor-divided ppm. One partial+final agg over
    // the corpus; the totals ride a 1-row broadcast cross join (p50's
    // idiom) so the per-lang rollup never collapses to one partition.
    "p80_temperature_mix" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val per = docs(s, dir).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("w",
          floor(sqrt(col("n_docs").cast("double"))).cast("long"))
      val tot = per.agg(sum(col("n_docs")).as("total"),
        sum(col("w")).as("sum_w"))
      per.crossJoin(tot)
        .select(col("lang"), col("n_docs"),
          expr("n_docs * 1000000L div total").as("raw_ppm"),
          expr("w * 1000000L div sum_w").as("temp_ppm"))
        .orderBy(col("lang"))
    }),

    // corpus-balance concentration census: per language, the
    // Herfindahl–Hirschman index of token share across sources, in integer
    // ppm (floor-divided share_ppm, squared, summed, rescaled) — the
    // dashboard number that says "this language's corpus is 90% one
    // domain" before a training mix is signed off. The raw corpus is
    // touched exactly once by the (lang, source) partial+final agg; the
    // window then runs over the tiny per-source rollup (≤ |sources| rows
    // per language). toks*1_000_000 stays within long up to ~9e12 tokens
    // per (lang, source) cell — comfortable at 10^12 docs.
    "p79_source_hhi" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val perSrc = docs(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(sum(size(split(trim(col("text")), "\\s+")).cast("long"))
          .as("toks"))
      val w = Window.partitionBy(col("lang"))
      perSrc
        .withColumn("total", sum(col("toks")).over(w))
        .withColumn("n_sources", count(lit(1)).over(w))
        .withColumn("share_ppm", expr("toks * 1000000L div total"))
        .groupBy(col("lang"))
        .agg(max(col("n_sources")).as("n_sources"),
          sum(expr("share_ppm * share_ppm")).as("sum_sq"))
        .select(col("lang"), col("n_sources"),
          expr("sum_sq div 1000000L").as("hhi_ppm"))
        .orderBy(col("lang"))
    }),

    // multi-pattern blocklist census: Aho–Corasick single pass over every
    // doc (k patterns at once); border-free literal patterns so the count
    // equals the oracle's per-pattern non-overlapping regexp count
    "p77_blocklist_scan" -> ((s, dir) =>
      graft.ops.BlocklistScan.blocklistCensus(docs(s, dir),
        blocklistPatterns)),

    // lang-ID confusion matrix: the classifier-eval table — p04's
    // prediction against the stored lang label, (label, pred) census.
    // Only (doc_id, pred)/(doc_id, lang) pairs cross the join shuffle.
    "p76_langid_confusion" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = docs(s, dir)
      TextOps.langId(d).select(col("doc_id"), col("lang_pred"))
        .join(d.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("lang_pred"))
    }),

    // feature-hashing doc vectors (signed hashing trick): integer L1/L2²/
    // nnz summary of the 64-bucket vector, md5-low63 bucket + sign hashes
    // shared with the oracle
    "p74_hash_vectors" -> ((s, dir) =>
      graft.ops.CorpusOps.hashVectorStats(docs(s, dir))),

    // integer Flesch-style readability: words/sentences/vowel-groups and
    // the milli-scaled reading-ease score, all codegen'd regexp counts
    "p75_readability" -> ((s, dir) =>
      TextOps.readability(docs(s, dir))),

    // leakage-safe splits: trivial variants (doc_id % 11 == 5 → upper-cased
    // double-spaced copy) must land in the SAME split as their original;
    // census counts the clusters a naive per-doc split would tear apart
    "p73_split_leakage" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val variants = d.where(col("doc_id") % 11 === 5)
        .select((col("doc_id") + 30000000L).as("doc_id"),
          upper(expr("replace(text, ' ', '  ')")).as("text"))
      graft.ops.CorpusOps.splitLeakage(d.unionByName(variants))
    }),

    // SemDeDup: k-means-cell-bounded semantic dedup. The quantizer is
    // engine code, so the cell assignment is dumped and the oracle
    // recomputes the within-cell pairwise-cosine prune from it.
    "p61_semdedup" -> ((s, dir) => {
      val e = emb(s, dir)
      val centroids = graft.ops.IvfOps.train(e)
      graft.ops.IvfOps.assign(e, centroids)
        .write.mode("overwrite").parquet(semDedupAssignPath(dir))
      SimilarityOps.semDedupFrom(e,
        s.read.parquet(semDedupAssignPath(dir)), tau = 0.45)
    }),

    // URL canonicalization dedup: synthetic URLs derived from (source,
    // doc_id) vary ONLY in host case, a utm_* tracking param and a trailing
    // slash — canonicalization (lowercase scheme+host, strip trailing
    // slash, drop utm_* params) must collapse them onto one key. Every
    // step is a codegen'd string/array expression; the oracle rebuilds and
    // canonicalizes the identical URLs in SQL.
    "p52_url_canonical" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val url = concat(lit("HTTPS://"), upper(col("source")),
        lit(".Example.com/p/"), (col("doc_id") % 40).cast("string"),
        when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0, lit("?utm_source=feed&x=1"))
          .otherwise(lit("?x=1")))
      val d = docs(s, dir).select(col("doc_id"), url.as("url"))
      val hostPat = "^([A-Za-z]+)://([^/?]+)"
      val scheme = lower(regexp_extract(col("url"), hostPat, 1))
      val host = lower(regexp_extract(col("url"), hostPat, 2))
      val path = regexp_extract(col("url"), "^[A-Za-z]+://[^/?]+([^?]*)", 1)
      val kept = filter(split(regexp_extract(col("url"), "\\?(.*)$", 1), "&"),
        p => !p.startsWith("utm_"))
      val canon = concat(scheme, lit("://"), host, rtrim(path, "/"),
        when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
          .otherwise(lit("")))
      d.select(col("doc_id"), canon.as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_urls"),
          min(col("doc_id")).as("keeper_doc_id"))
    }),

    // minhash estimator-ERROR validation (p46 measured candidate recall;
    // this measures signature accuracy): per exact near-dup pair, the
    // 16-lane md5-salted signature agreement vs exact Jaccard, integer pct
    "p49_minhash_estimate" -> ((s, dir) =>
      DedupOps.minhashEstimates(docs(s, dir))),

    // b-bit minhash (Li & König WWW'10, b=1): the 64×-compressed
    // signature (one bit per lane) graded per exact near-dup pair against
    // BOTH the full-lane estimator and exact Jaccard — the sketch you
    // actually ship at 10^12 docs, where k·64-bit signatures are the
    // dominant shuffle payload and k bits do the same banding job
    "p106_bbit_minhash" -> ((s, dir) =>
      DedupOps.minhashEstimates(docs(s, dir), bbit = true)),

    // incremental-crawl snapshot diff: v2 is planted deterministically from
    // v1 (doc%10==7 deleted, doc%10==3 text-changed, doc%10==1 re-added
    // under a new id), the diff classifies by content hash through a
    // full-outer join of (id, md5) projections — text never shuffles. The
    // oracle plants the identical v2 in SQL and recomputes the census.
    "p48_snapshot_diff" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val v1 = docs(s, dir).select(col("doc_id"), col("text"))
      val v2 = v1.filter(col("doc_id") % 10 =!= 7)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 3, concat(col("text"), lit(" v2delta")))
            .otherwise(col("text")).as("text"))
        .unionByName(v1.filter(col("doc_id") % 10 === 1)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(col("text"), lit(" new")).as("text")))
      graft.ops.CorpusOps.snapshotDiff(v1, v2)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc_id"),
          max(col("doc_id")).as("max_doc_id"))
        .orderBy(col("status"))
    }),

    // STREAMING decontamination driven end-to-end through a REAL
    // micro-batch query (MemoryStream → decontaminateStream → foreachBatch
    // parquet sink, 3 deterministic micro-batches): the op is per-doc
    // stateless, so the sink's union across batches equals the batch
    // recompute the oracle performs — the driver-verifiable CORRECTNESS
    // row for the streaming family (round-3 VERDICT next-round #4). Eval
    // set = docs with doc_id % 17 == 3; stream = the rest, batched by
    // doc_id % 3.
    "p137_stream_decontaminate" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val d = docs(s, dir)
      val bench = d.where(col("doc_id") % 17 === 3)
      // bounded driver collect: the MemoryStream FEED (the test-harness
      // ingest side, not an operator) — ≤ corpus rows of (id, text)
      val streamRows = d.where(col("doc_id") % 17 =!= 3)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val sink = streamDeconSinkPath(dir)
      deleteRecursively(sink)
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingExtraction
        .decontaminateStream(stream.toDS(), bench)
        .toDF("doc_id", "n_hit_grams")
        .writeStream.outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(sink); ()
        }
        .start()
      (0 until 3).foreach { k =>
        stream.addData(streamRows.filter(_._1 % 3 == k).toSeq)
        q.processAllAvailable()
      }
      q.stop()
      s.read.parquet(sink).orderBy(col("doc_id"))
    }),

    // STREAMING CDC upsert driven end-to-end (MemoryStream of (doc_id,
    // text, seq, is_delete) change rows → upsertStream → parquet
    // snapshot): three micro-batches — full insert, then updates+deletes,
    // then re-inserts+more deletes, seqs increasing per key across
    // batches — so the sequentially-maintained snapshot equals the
    // global last-write-wins the oracle computes with arg_max(·, seq).
    // The second driver-verifiable streaming row (the STATEFUL family:
    // foreachBatch + MergeOps.upsert, idempotent under replay per
    // StreamingSpec).
    "p138_stream_upsert" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      // bounded driver collect: the MemoryStream feed (harness ingest)
      val d = docs(s, dir).select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      def batchFor(seq: Long): Seq[(Long, String, Long, Boolean)] =
        seq match {
          case 1L => d.map { case (id, t) => (id, t, 1L, false) }
          case 2L =>
            d.filter(_._1 % 7 == 2)
              .map { case (id, t) => (id, t + " v2", 2L, false) } ++
              d.filter(_._1 % 7 == 3).map { case (id, _) => (id, "", 2L, true) }
          case _ =>
            d.filter(_._1 % 14 == 3)
              .map { case (id, t) => (id, t + " v3", 3L, false) } ++
              d.filter(_._1 % 7 == 5).map { case (id, _) => (id, "", 3L, true) }
        }
      val snap = streamUpsertSnapshotPath(dir)
      deleteRecursively(snap)
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, Long, Boolean)]
      val q = graft.streaming.StreamingExtraction
        .upsertStream(stream.toDS(), snap)
      (1L to 3L).foreach { k =>
        stream.addData(batchFor(k))
        q.processAllAvailable()
      }
      q.stop()
      s.read.parquet(snap)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // exact 8-NN adjacency — the graph half of the NSW/HNSW family: the
    // index structure graph-based ANN serves from, fully SQL-expressible
    // (row_number over cosine per node), so the oracle is exhaustive
    "p139_knn_graph" -> ((s, dir) =>
      graft.ops.GraphAnnOps.buildKnnGraph(emb(s, dir))),

    // NSW beam search over the M-NN graph: entry at min vec_id, 5 hops,
    // beam ef=8 — the VISITED set dumps to parquet and the output is its
    // exact top-10 re-rank (p13/p89 candidate-dump pattern: the walk's
    // output is verified exactly; the walk itself is pinned by spec +
    // the 8-vs-32-core determinism audit)
    "p140_graph_beam_topk" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val e = emb(s, dir)
      val g = graft.ops.GraphAnnOps.buildKnnGraph(e)
        .localCheckpoint(true)
      graft.ops.GraphAnnOps.beamVisited(e, g)
        .write.mode("overwrite").parquet(beamVisitedPath(dir))
      graft.ops.GraphAnnOps.topKFromVisited(e,
        s.read.parquet(beamVisitedPath(dir)))
    }),

    // feature-histogram drift census between two snapshots (v2 =
    // deterministic mutation: drop doc_id%5==0, lengthen doc_id%7==0):
    // per length-bin counts + ppm shares + |share delta| — the PSI/TVD
    // dashboard number, all-integer so it is bit-stable anywhere
    "p142_drift_census" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val v1 = docs(s, dir)
      val v2 = v1.where(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" drift drift drift drift")))
            .otherwise(col("text")).as("text"))
      CorpusOps.driftCensus(v1, v2,
        expr("least(length(text) div 128, 15)"))
    }),

    // Cohen's kappa between two deterministic quality raters (A: ≥60
    // whitespace tokens, B: n_chars ≥ 380) — chance-corrected label
    // agreement from one 4-cell count aggregation; κ floor-scaled to
    // milli on both engines (κ can be negative: trunc-vs-floor class)
    "p143_rater_agreement" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      graft.ops.ClassifierOps.raterAgreement(docs(s, dir),
        size(split(trim(col("text")), "\\s+")) >= 60,
        col("n_chars") >= 380)
    }),

    // STATEFUL streaming dedup driven end-to-end (MemoryStream → 3
    // deterministic micro-batches by doc_id % 3 → dedupStream
    // (flatMapGroupsWithState) → foreachBatch parquet sink): the keeper
    // per content hash is the min doc_id of the EARLIEST batch containing
    // the hash, so the oracle is arg_min by (batch index, doc_id) — the
    // third streaming driver row, covering the custom-state family. The
    // corpus has no duplicate texts, so every doc_id % 10 == 4 gets an
    // ECHO copy at +10^6 whose batch index (id % 3) may fall EARLIER or
    // LATER than the original's — cross-batch suppression is exercised
    // in both directions, deterministically
    "p144_stream_dedup" -> ((s, dir) => withStreamingPartitions(s) {
      import org.apache.spark.sql.functions._
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      // bounded driver collect: the MemoryStream feed (harness ingest)
      val originals = docs(s, dir)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect()
      val rows = (originals ++ originals.filter(_._1 % 10 == 4)
        .map { case (id, t) => (id + 1000000L, t) }).sortBy(_._1)
      val sink = streamDedupSinkPath(dir)
      deleteRecursively(sink)
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingExtraction.dedupStream(stream.toDS())
        .toDF("doc_id", "text")
        .writeStream.outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(sink); ()
        }
        .start()
      (0 until 3).foreach { k =>
        stream.addData(rows.filter(_._1 % 3 == k).toSeq)
        q.processAllAvailable()
      }
      q.stop()
      s.read.parquet(sink)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // beam recall over the PRODUCTION graph constructor (LSH-seeded
    // NN-descent, never collects the vector table) vs the exact brute
    // ranking — the r4 #1 item: p141 measures the search's recall on the
    // exact graph; this measures what the search loses when the graph
    // itself is approximate. Same ef-tagged visited-dump pattern, so the
    // oracle re-ranks the dump exactly and the recall table is
    // driver-oracled end to end
    "p145_graph_descent_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      // bits ≈ log2(N / wanted-bucket) — 64 buckets keeps seed
      // neighborhoods healthy from the 500-vector gate up to the sf1
      // campaign's 20k (and is a per-deployment knob beyond that)
      val g = graft.ops.GraphAnnOps.buildKnnGraphDescent(e)
        .localCheckpoint(true)
      // r6: one fused multi-ef sweep + one fused re-rank — row-identical
      // to the r5 per-ef union (spec-pinned per-slice equality)
      graft.ops.GraphAnnOps.beamVisitedSweep(e, g, Seq(2, 8, 32))
        .write.mode("overwrite").parquet(descentSweepPath(dir))
      graphRecallTable(s, e, s.read.parquet(descentSweepPath(dir)))
    }),

    // STREAMING session windows driven end-to-end (MemoryStream of
    // ts-ordered (ts, user_id) batches → session_window groupBy →
    // append-mode foreachBatch parquet sink): 3 batches split by GLOBAL
    // ts order — the watermark advances monotonically, nothing is late —
    // then a far-future sentinel event pushes the watermark past every
    // real session's close so append mode emits each session exactly
    // once. The fourth streaming driver row: the DYNAMIC-GAP session
    // state family (p137 stateless / p138 foreachBatch-merge / p144
    // custom state covered the other three shapes). Oracle replays the
    // gaps-and-islands rule: new session iff ts − lag(ts) ≥ gap (session
    // windows are half-open [start, last+gap), merging on strict
    // overlap), session_end = last_ts + gap.
    "p146_stream_sessions" -> ((s, dir) => withStreamingPartitions(s) {
      import org.apache.spark.sql.functions._
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      // bounded driver collect: the MemoryStream feed (harness ingest)
      val rows = s.read.parquet(s"$dir/events.parquet")
        .select(col("ts"), col("user_id").cast("long"))
        .as[(java.sql.Timestamp, Long)].collect().sortBy(_._1.getTime)
      val sink = streamSessionSinkPath(dir)
      deleteRecursively(sink)
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Long)]
      val q = graft.streaming.StreamingExtraction
        .sessionMetrics(stream.toDS().toDF("ts", "user_id"))
        .writeStream.outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(sink); ()
        }
        .start()
      val n = rows.length
      Seq(rows.slice(0, n / 3), rows.slice(n / 3, 2 * n / 3),
          rows.slice(2 * n / 3, n)).foreach { batch =>
        stream.addData(batch.toSeq)
        q.processAllAvailable()
      }
      val sentinel = new java.sql.Timestamp(
        rows.last._1.getTime + 86400L * 1000)
      stream.addData(Seq((sentinel, -1L)))
      q.processAllAvailable()
      q.processAllAvailable() // no-data batch finalizes the emit
      q.stop()
      s.read.parquet(sink)
        .where(col("user_id") >= 0) // sentinel key (never emits anyway)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // STREAM-STREAM interval join driven end-to-end (two MemoryStreams —
    // click events as the "purchase" side, view events as the "click"
    // side — fed in 3 SYNCHRONIZED batches split at the same global ts
    // cuts, so both watermarks advance together and state eviction can
    // never outrun a future match: a click evicted after batch k has
    // c_ts < cut_k − 3h while every batch-k+1 purchase needs c_ts >
    // cut_k − 1h). Inner join emits on match, not on watermark — no
    // sentinel needed; the emitted set equals the batch interval join
    // the oracle computes. The fifth streaming driver row: the
    // dual-state symmetric-join family.
    "p147_stream_interval_join" -> ((s, dir) => withStreamingPartitions(s) {
      import org.apache.spark.sql.functions._
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      // bounded driver collect: the MemoryStream feed (harness ingest)
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id").cast("long"), col("ts"),
          col("user_id").cast("long"), col("event_type"))
        .as[(Long, java.sql.Timestamp, Long, String)].collect()
        .sortBy(r => (r._2.getTime, r._1))
      val pRows = ev.filter(_._4 == "click").map(r => (r._3, r._2, r._1))
      val cRows = ev.filter(_._4 == "view").map(r => (r._3, r._2, r._1))
      val cut1 = ev(ev.length / 3)._2.getTime
      val cut2 = ev(2 * ev.length / 3)._2.getTime
      def batchOf(t: java.sql.Timestamp): Int =
        if (t.getTime <= cut1) 0 else if (t.getTime <= cut2) 1 else 2
      val sink = streamIntervalSinkPath(dir)
      deleteRecursively(sink)
      val pStream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Long)]
      val cStream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Long)]
      val q = graft.streaming.StreamingExtraction.intervalJoinStream(
          pStream.toDS().toDF("p_user", "p_ts", "p_id"),
          cStream.toDS().toDF("c_user", "c_ts", "c_id"))
        .writeStream.outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(sink); ()
        }
        .start()
      (0 until 3).foreach { k =>
        pStream.addData(pRows.filter(r => batchOf(r._2) == k).toSeq)
        cStream.addData(cRows.filter(r => batchOf(r._2) == k).toSeq)
        q.processAllAvailable()
      }
      q.stop()
      s.read.parquet(sink)
        .select(col("p_id"), col("c_id"), col("user_id"))
        .orderBy(col("p_id"), col("c_id"))
    }),

    // transformWithState running counts driven end-to-end (MemoryStream
    // of (user_id, event_id) in 3 batches by event_id % 3 → the
    // RunningCountProcessor's ValueState in the RocksDB store →
    // update-mode foreachBatch parquet sink): each batch emits one row
    // per key it touched carrying the key's CUMULATIVE count, so the
    // sink equals the per-(user, batch) running-sum table the oracle
    // computes. The sixth streaming driver row: Spark 4's
    // arbitrary-state API — the state shape a 10^12-key deployment runs
    // (typed state handles + RocksDB spill) — previously spec-only.
    "p148_stream_running_counts" -> ((s, dir) => withStreamingPartitions(s) {
      import org.apache.spark.sql.functions._
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      // bounded driver collect: the MemoryStream feed (harness ingest)
      val rows = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id").cast("long"), col("event_id").cast("long"))
        .as[(Long, Long)].collect().sortBy(_._2)
      val sink = streamTwsSinkPath(dir)
      deleteRecursively(sink)
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      try {
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Long)]
        val q = graft.streaming.StreamingExtraction
          .runningCountsTws(stream.toDS())
          .writeStream.outputMode("update")
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(sink); ()
          }
          .start()
        (0 until 3).foreach { k =>
          stream.addData(rows.filter(_._2 % 3 == k).toSeq)
          q.processAllAvailable()
        }
        q.stop()
      } finally prev match {
        case Some(p) => s.conf.set(key, p)
        case None => s.conf.unset(key)
      }
      s.read.parquet(sink).select(col("user_id"), col("n_events"))
        .orderBy(col("user_id"), col("n_events"))
    }),

    // INCREMENTAL IVF: train on the base split only, assign the delta
    // batch to the FROZEN centroids (assignment IS the whole insert
    // path — why IVF is the cheapest index to maintain), and search the
    // MERGED assignment: inserted vectors must be immediately reachable.
    // Same dumped-candidate re-rank oracle as p13, over base ∪ delta.
    "p149_ivf_incremental" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val e = emb(s, dir)
      val base = e.where(col("vec_id") % 7 =!= 3)
      val delta = e.where(col("vec_id") % 7 === 3)
      val centroids = graft.ops.IvfOps.train(base)
      graft.ops.IvfOps.assign(base, centroids)
        .write.mode("overwrite").parquet(ivfIncBasePath(dir))
      graft.ops.IvfOps.assign(delta, centroids)
        .write.mode("overwrite").parquet(ivfIncDeltaPath(dir))
      graft.ops.IvfOps.probes(e, centroids, nprobe = 2)
        .write.mode("overwrite").parquet(ivfIncProbePath(dir))
      graft.ops.IvfOps.topKFrom(e,
        s.read.parquet(ivfIncBasePath(dir))
          .unionByName(s.read.parquet(ivfIncDeltaPath(dir))),
        s.read.parquet(ivfIncProbePath(dir)))
    }),

    // the maintenance DECISION table for p149's incremental index: per
    // cell, base/delta/total counts, total share (ppm) and the retrain
    // trigger bit (total > 200% of ideal N/k) — retraining is monitored,
    // not a per-ingest reflex; oracle recomputes the census over the
    // same dumped assignment tables
    "p150_ivf_cell_census" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val e = emb(s, dir)
      val base = e.where(col("vec_id") % 7 =!= 3)
      val delta = e.where(col("vec_id") % 7 === 3)
      val centroids = graft.ops.IvfOps.train(base)
      graft.ops.IvfOps.assign(base, centroids)
        .write.mode("overwrite").parquet(ivfIncBasePath(dir))
      graft.ops.IvfOps.assign(delta, centroids)
        .write.mode("overwrite").parquet(ivfIncDeltaPath(dir))
      graft.ops.IvfOps.cellCensus(
        s.read.parquet(ivfIncBasePath(dir)),
        s.read.parquet(ivfIncDeltaPath(dir)), k = 16)
    }),

    // INCREMENTAL graph insert (the HNSW insertion primitive, batched):
    // build the descent graph on the base split, insert the delta batch
    // (beam-search candidates → top-m links → back-edge re-rank prune),
    // then sweep beam recall over the POST-INSERT graph for the standard
    // queries vs the exact brute ranking on the FULL set — inserted
    // vectors must be REACHABLE, and the recall cost of batch insertion
    // (no intra-batch edges) is measured, not asserted. Same ef-tagged
    // visited-dump oracle as p141/p145.
    "p151_graph_insert_recall" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val e = emb(s, dir)
      val base = e.where(col("vec_id") % 7 =!= 3)
      val delta = e.where(col("vec_id") % 7 === 3)
      val g0 = graft.ops.GraphAnnOps
        .buildKnnGraphDescent(base)
        .localCheckpoint(true)
      val g1 = graft.ops.GraphAnnOps.insertIntoGraph(e, g0, delta)
        .localCheckpoint(true)
      // r6: one fused multi-ef sweep + one fused re-rank — row-identical
      // to the r5 per-ef union (spec-pinned per-slice equality)
      graft.ops.GraphAnnOps.beamVisitedSweep(e, g1, Seq(2, 8, 32))
        .write.mode("overwrite").parquet(graphInsertSweepPath(dir))
      graphRecallTable(s, e, s.read.parquet(graphInsertSweepPath(dir)))
    }),

    // graph-ANN tuning table beside p89's IVF sweep: recall@10 vs the
    // exact brute ranking as the beam width ef sweeps 2 → 8 → 32 — THE
    // accuracy/cost trade-off of the graph path (visited candidates
    // scale with ef·M·hops, not N)
    "p141_graph_recall_sweep" -> ((s, dir) => {
      val e = emb(s, dir)
      val g = graft.ops.GraphAnnOps.buildKnnGraph(e)
        .localCheckpoint(true)
      // r6: one fused multi-ef sweep + one fused re-rank — row-identical
      // to the r5 per-ef union (spec-pinned per-slice equality)
      graft.ops.GraphAnnOps.beamVisitedSweep(e, g, Seq(2, 8, 32))
        .write.mode("overwrite").parquet(beamSweepPath(dir))
      graphRecallTable(s, e, s.read.parquet(beamSweepPath(dir)))
    })
  )

  /** r6 shared tail of the graph recall sweeps (p141/p145/p151): ONE
    * fused re-rank of the ef-tagged visited dump + ONE brute join,
    * grouped by ef — row-identical to the r5 per-ef agg union (the left
    * join + coalesce keeps the n_hits=0 row a bare groupBy would drop,
    * matching the old per-slice global agg's always-one-row semantics). */
  private def graphRecallTable(s: SparkSession,
                               embTab: org.apache.spark.sql.DataFrame,
                               vis: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val brute = SimilarityOps.bruteTopK(embTab)
      .select(col("query_id"), col("neighbor_id"))
    val hits = graft.ops.GraphAnnOps.topKFromVisitedSweep(embTab, vis)
      .join(brute, Seq("query_id", "neighbor_id"))
      .groupBy(col("ef")).agg(count(lit(1)).as("hits"))
    Seq(2L, 8L, 32L).toDF("ef")
      .join(hits, Seq("ef"), "left")
      .select(col("ef"), coalesce(col("hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_ppm", expr("n_hits * 1000000L div 100"))
      .orderBy(col("ef"))
  }

  /** Run a STREAMING driver row under a reduced shuffle-partition count:
    * a streaming query's state-store partition count is fixed by
    * `spark.sql.shuffle.partitions` at first start, and at gate scale
    * each micro-batch's cost is dominated by state-store INSTANCE
    * bookkeeping (32 instances × join sides × batches), not by data —
    * p147 spent 18.9 s of the sweep on exactly that. 8 partitions cuts
    * it 4× with zero semantic effect: output content is
    * partition-count-invariant (the 8-vs-32-core bit-identity audits pin
    * precisely this), and at 10^12 rows the same knob goes the OTHER
    * way — sized to executor count, which is why it is a per-query
    * setting here rather than a session constant. Restores the previous
    * value so batch queries are untouched. */
  private def withStreamingPartitions[A](s: SparkSession, n: Int = 8)
                                        (body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Local recursive delete for the streaming sink/snapshot dirs —
    * rerun-safe in one JVM and across JVMs (append-mode sinks would
    * otherwise accumulate stale batches). */
  private def deleteRecursively(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    val f = new java.io.File(path)
    if (f.exists) rm(f)
  }

  /** Independent re-run of the whole BPE training loop as `steps` chained
    * CTE rounds: the same bracketed-string representation, pair counts
    * from a lateral range over the symbol list, (n DESC, l, r) argmax,
    * and the greedy apply as replace() — left-to-right non-overlapping in
    * DuckDB exactly as in Spark, which IS BPE's merge rule. The rounds
    * are mechanical, so the SQL is generated, not hand-unrolled. The
    * argmax joins in as LEFT JOIN .. ON true (not a cross join): an empty
    * b$k on pair-vocab exhaustion must leave `s` unchanged, mirroring the
    * engine's `exhausted` halt, not collapse the vocab to zero rows. */
  private def bpeTrainOracle(steps: Int): String = {
    val sep = "chr(31)"
    val sep2 = "(chr(31) || chr(31))"
    val w0 =
      s"""WITH w0 AS (
         SELECT regexp_replace(w, '(.)', $sep || '\\1' || $sep, 'g') AS s,
                CAST(count(*) AS BIGINT) AS freq
         FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+'))
                 AS w FROM documents) t
         WHERE length(w) > 0 AND length(w) <= 32 AND strpos(w, $sep) = 0
         GROUP BY w)"""
    val rounds = (0 until steps).map { k =>
      s""",
         p$k AS (SELECT sy[i] AS l, sy[i + 1] AS r,
             CAST(sum(freq) AS BIGINT) AS n
           FROM (SELECT freq, sy, unnest(range(1, len(sy))) AS i
                 FROM (SELECT freq,
                         string_split(substr(s, 2, length(s) - 2), $sep2)
                           AS sy
                       FROM w$k) t0) t
           GROUP BY 1, 2),
         b$k AS (SELECT l, r, n FROM p$k ORDER BY n DESC, l, r LIMIT 1),
         w${k + 1} AS (SELECT CASE WHEN b.l IS NULL THEN t.s
             ELSE replace(t.s,
               $sep || b.l || $sep2 || b.r || $sep,
               $sep || b.l || b.r || $sep) END AS s, t.freq
           FROM w$k t LEFT JOIN b$k b ON true),
         c$k AS (SELECT CAST(${k + 1} AS BIGINT) AS step, b.l AS lsym,
             b.r AS rsym, b.n AS n_pair,
             (SELECT CAST(sum(freq *
                ((length(s) - length(replace(s, $sep, ''))) // 2))
                AS BIGINT) FROM w${k + 1}) AS tok_total,
             (SELECT CAST(count(DISTINCT sym) AS BIGINT) FROM
                (SELECT unnest(string_split(substr(s, 2, length(s) - 2),
                   $sep2)) AS sym FROM w${k + 1}) q) AS vocab_syms
           FROM b$k b)"""
    }.mkString
    val union = (0 until steps).map(k => s"SELECT * FROM c$k")
      .mkString("\n         ", "\n         UNION ALL ", "")
    s"$w0$rounds$union\n         ORDER BY step"
  }

  /** Independent re-run of the greedy facility-location loop as `k`
    * generated chained-CTE rounds: the same floor(x·1000) quantization,
    * exact integer dots (list_dot_product of BIGINT lists ≤ 6.4·10⁷ is
    * exact in float64), (gain DESC, id) argmax, and best/objective
    * updates — agreement per round proves pick, gain AND the whole
    * coverage state. */
  private def facilityOracle(k: Int): String = {
    val base =
      // every CTE is MATERIALIZED: DuckDB inlines plain CTEs per
      // reference, and an 8-deep chain of b/s rounds each referenced
      // twice re-evaluates combinatorially (and re-opens the parquet
      // until fds run out) — materialization makes each round run once
      """WITH e AS MATERIALIZED (SELECT vec_id AS id,
           list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
         FROM embeddings),
         cov AS MATERIALIZED (SELECT id AS j, qe AS qj
           FROM e WHERE id % 2 = 0),
         sims AS MATERIALIZED (SELECT e.id AS ca, c.j AS cb,
             CAST(list_dot_product(e.qe, c.qj) AS BIGINT) AS s
           FROM e CROSS JOIN cov c),
         b0 AS MATERIALIZED (SELECT j, CAST(0 AS BIGINT) AS best
           FROM cov)"""
    val rounds = (0 until k).map { r =>
      val excl =
        if (r == 0) ""
        else "WHERE ca NOT IN (" + (0 until r)
          .map(i => s"SELECT ca FROM s$i").mkString(" UNION ALL ") + ")\n           "
      s""",
         g$r AS MATERIALIZED (SELECT ca,
             CAST(sum(greatest(s - b.best, 0)) AS BIGINT)
             AS gain
           FROM sims JOIN b$r b ON b.j = sims.cb
           ${excl}GROUP BY ca),
         s$r AS MATERIALIZED (SELECT ca, gain FROM g$r
           ORDER BY gain DESC, ca LIMIT 1),
         b${r + 1} AS MATERIALIZED (SELECT b.j,
             greatest(b.best, coalesce(sm.s, 0))
             AS best
           FROM b$r b LEFT JOIN (SELECT cb, s FROM sims
             WHERE ca = (SELECT ca FROM s$r)) sm ON sm.cb = b.j),
         o$r AS MATERIALIZED (SELECT CAST(${r + 1} AS BIGINT) AS step,
             ca AS vec_id,
             gain,
             (SELECT CAST(sum(best) AS BIGINT) FROM b${r + 1}) AS objective
           FROM s$r)"""
    }.mkString
    val union = (0 until k).map(r => s"SELECT * FROM o$r")
      .mkString("\n         ", "\n         UNION ALL ", "")
    s"$base$rounds$union\n         ORDER BY step"
  }

  /** Independent re-run of the batch-perceptron loop: sparse hashed
    * features (md5_number_lower buckets, the engine-shared hash), then
    * `epochs` generated MATERIALIZED-CTE rounds of margin → misclassified
    * set → integer Δw → weight update, each censused by (n_mis, Σ|Δw|,
    * Σ wᵢ·(i+1)). Zero-token docs score margin 0 and stay misclassified
    * on both sides (the LEFT JOIN keeps them). */
  private def perceptronOracle(epochs: Int, dims: Int): String = {
    val base =
      s"""WITH toks AS MATERIALIZED (
           SELECT doc_id,
             CAST(md5_number_lower(substr(text, CAST(i AS INT), 3))
               & 9223372036854775807 AS BIGINT) % $dims AS b
           FROM (SELECT doc_id, text,
                   unnest(range(1, length(text) - 1)) AS i
                 FROM documents) q),
         docsy AS MATERIALIZED (SELECT doc_id,
             CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
                  ELSE CAST(-1 AS BIGINT) END AS y
           FROM documents),
         feats AS MATERIALIZED (SELECT t.doc_id, t.b,
             CAST(count(*) AS BIGINT) AS c
           FROM toks t GROUP BY 1, 2),
         w0 AS MATERIALIZED (SELECT unnest(range($dims)) AS i,
             CAST(0 AS BIGINT) AS wv)"""
    val rounds = (1 to epochs).map { e =>
      s""",
         m$e AS MATERIALIZED (
           SELECT d.doc_id, d.y,
             CAST(coalesce(sum(f.c * w.wv), 0) AS BIGINT) AS s
           FROM docsy d LEFT JOIN feats f ON f.doc_id = d.doc_id
             LEFT JOIN w${e - 1} w ON w.i = f.b
           GROUP BY 1, 2),
         mis$e AS MATERIALIZED (SELECT doc_id, y FROM m$e
           WHERE y * s <= 0),
         dw$e AS MATERIALIZED (SELECT f.b AS i,
             CAST(sum(f.c * mm.y) AS BIGINT) >> ${e - 1} AS dw
           FROM feats f JOIN mis$e mm ON mm.doc_id = f.doc_id
           GROUP BY 1),
         w$e AS MATERIALIZED (SELECT w.i,
             CAST(w.wv + coalesce(dd.dw, 0) AS BIGINT) AS wv
           FROM w${e - 1} w LEFT JOIN dw$e dd ON dd.i = w.i),
         o$e AS MATERIALIZED (SELECT CAST($e AS BIGINT) AS epoch,
             (SELECT CAST(count(*) AS BIGINT) FROM mis$e) AS n_mis,
             (SELECT CAST(coalesce(sum(abs(dw)), 0) AS BIGINT) FROM dw$e)
               AS delta_abs,
             (SELECT CAST(sum(wv * (i + 1)) AS BIGINT) FROM w$e)
               AS w_chk)"""
    }.mkString
    val union = (1 to epochs).map(e => s"SELECT * FROM o$e")
      .mkString("\n         ", "\n         UNION ALL ", "")
    s"$base$rounds$union\n         ORDER BY epoch"
  }

  /** Encode-phase companion to [[bpeTrainOracle]]: the same generated
    * merge rounds with the raw word CARRIED through the chain (replace
    * only rewrites `s`), then the per-source fertility census off the
    * final vocab — whose symbol sequences are every word's encoding. */
  private def bpeEncodeOracle(steps: Int): String = {
    val sep = "chr(31)"
    val sep2 = "(chr(31) || chr(31))"
    val w0 =
      s"""WITH w0 AS (
         SELECT w, regexp_replace(w, '(.)', $sep || '\\1' || $sep, 'g')
             AS s,
           CAST(count(*) AS BIGINT) AS freq
         FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+'))
                 AS w FROM documents) t
         WHERE length(w) > 0 AND length(w) <= 32 AND strpos(w, $sep) = 0
         GROUP BY w)"""
    val rounds = (0 until steps).map { k =>
      s""",
         p$k AS (SELECT sy[i] AS l, sy[i + 1] AS r,
             CAST(sum(freq) AS BIGINT) AS n
           FROM (SELECT freq, sy, unnest(range(1, len(sy))) AS i
                 FROM (SELECT freq,
                         string_split(substr(s, 2, length(s) - 2), $sep2)
                           AS sy
                       FROM w$k) t0) t
           GROUP BY 1, 2),
         b$k AS (SELECT l, r, n FROM p$k ORDER BY n DESC, l, r LIMIT 1),
         w${k + 1} AS (SELECT t.w, CASE WHEN b.l IS NULL THEN t.s
             ELSE replace(t.s,
               $sep || b.l || $sep2 || b.r || $sep,
               $sep || b.l || b.r || $sep) END AS s, t.freq
           FROM w$k t LEFT JOIN b$k b ON true)"""
    }.mkString
    s"""$w0$rounds,
         enc AS (SELECT w,
             (length(s) - length(replace(s, $sep, ''))) // 2 AS k
           FROM w$steps),
         occ AS (SELECT source, w, CAST(count(*) AS BIGINT) AS occ
           FROM (SELECT source,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
                 FROM documents) q
           WHERE length(w) > 0 AND length(w) <= 32
             AND strpos(w, $sep) = 0
           GROUP BY 1, 2)
         SELECT source, CAST(sum(occ) AS BIGINT) AS n_words,
           CAST(sum(occ * e.k) AS BIGINT) AS n_tokens,
           CAST(sum(occ * length(w)) AS BIGINT) AS n_chars,
           CAST(sum(occ * e.k) * 1000 // sum(occ) AS BIGINT)
             AS fertility_millis
         FROM occ JOIN enc e USING (w) GROUP BY source
         ORDER BY source"""
  }

  /** Oracles with dump paths interpolated for `dir` — Verify passes the sf
    * dir it actually ran, eliminating the hard-coded-sf0.01 failure mode
    * (round-2 VERDICT "What's wrong #2"). */
  def oracleSqlFor(dir: String): Map[String, String] = Map(
    "p126_bpe_train" -> bpeTrainOracle(8),
    "p134_bpe_fertility" -> bpeEncodeOracle(8),
    "p128_coreset_facility" -> facilityOracle(8),
    "p129_perceptron_train" -> perceptronOracle(8, 256),
    // same integer byte models re-derived: IS DISTINCT FROM lag per
    // (column, block) for run boundaries, minimal-width bin() bits,
    // (n·bits+7)//8 dict codes, dict<plain<rle tie order
    "p133_encoding_advisor" ->
      """WITH b AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
             l_returnflag AS c1, l_linestatus AS c2,
             CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS c3,
             CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS c4,
             (l_orderkey * 8 + l_linenumber) // 4096 AS blk
           FROM lineitem),
         u AS (SELECT 'returnflag' AS column_name, blk, ok, ln, c1 AS v
                 FROM b
               UNION ALL SELECT 'linestatus', blk, ok, ln, c2 FROM b
               UNION ALL SELECT 'quantity', blk, ok, ln, c3 FROM b
               UNION ALL SELECT 'shipdate', blk, ok, ln, c4 FROM b),
         r AS (SELECT column_name, v,
             CASE WHEN lag(v) OVER (PARTITION BY column_name, blk
                 ORDER BY ok, ln, v) IS DISTINCT FROM v
               THEN 1 ELSE 0 END AS bnd
           FROM u),
         agg AS (SELECT column_name, CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
             CAST(sum(bnd) AS BIGINT) AS n_runs,
             CAST(sum(length(v)) AS BIGINT) AS plain_bytes,
             CAST(sum(CASE WHEN bnd = 1 THEN length(v) + 4 ELSE 0 END)
               AS BIGINT) AS rle_bytes
           FROM r GROUP BY 1),
         dl AS (SELECT column_name, CAST(sum(length(v)) AS BIGINT) AS dvb
           FROM (SELECT DISTINCT column_name, v FROM u) q GROUP BY 1),
         fin AS (SELECT a.*, dl.dvb,
             CAST(length(bin(greatest(a.n_distinct - 1, 1))) AS BIGINT)
               AS bits
           FROM agg a JOIN dl USING (column_name))
         SELECT column_name, n, n_distinct, n_runs, plain_bytes,
           rle_bytes,
           CAST((n * bits + 7) // 8 + dvb AS BIGINT) AS dict_bytes,
           CASE WHEN (n * bits + 7) // 8 + dvb <= plain_bytes
                 AND (n * bits + 7) // 8 + dvb <= rle_bytes THEN 'dict'
                WHEN plain_bytes <= rle_bytes THEN 'plain'
                ELSE 'rle' END AS advice
         FROM fin ORDER BY column_name""",

    // independent formulation: NOT a replay of the PAV loop — the
    // closed-form minimax identity value(i) = max_{j≤i} min_{k≥i}
    // seg-rate[j..k], computed set-based over prefix sums (triples
    // bounded by bins³). Fraction argmin/argmax use a float64 key,
    // which is EXACT here: distinct rates with denominators ≤ n differ
    // by ≥ 1/n² ≫ double rounding, and equal-rate ties reduce to the
    // same gcd-canonical pair. Agreement with the engine's pooling
    // stack is the isotonic-regression theorem itself
    "p131_isotonic_calibration" ->
      """WITH s AS (SELECT
             least(CAST(floor(length(text) / 16) AS BIGINT), 31) AS bin,
             CASE WHEN strpos(text, 'the') > 0 THEN 1 ELSE 0 END AS pos
           FROM documents),
         g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS p
           FROM s GROUP BY bin),
         idx AS (SELECT bin, n, p,
             row_number() OVER (ORDER BY bin) AS i FROM g),
         pre AS (SELECT *, sum(n) OVER (ORDER BY i) AS cn,
             sum(p) OVER (ORDER BY i) AS cp FROM idx),
         seg AS (SELECT a.i AS j, b.i AS k,
             b.cp - coalesce(pj.cp, 0) AS num,
             b.cn - coalesce(pj.cn, 0) AS den
           FROM pre a JOIN pre b ON b.i >= a.i
           LEFT JOIN pre pj ON pj.i = a.i - 1),
         tri AS (SELECT s.j, m.i, s.num, s.den
           FROM seg s JOIN idx m ON m.i BETWEEN s.j AND s.k),
         inner_min AS (SELECT j, i,
             arg_min({'num': num, 'den': den},
               CAST(num AS DOUBLE) / den) AS f
           FROM tri GROUP BY j, i),
         outer_max AS (SELECT i,
             arg_max(f, CAST(f.num AS DOUBLE) / f.den) AS f
           FROM inner_min GROUP BY i),
         omx AS (SELECT i, f.num AS num, f.den AS den FROM outer_max)
         SELECT x.bin, x.n, x.p,
           CAST(o.num / greatest(gcd(o.num, o.den), 1) AS BIGINT)
             AS cal_num,
           CAST(o.den / greatest(gcd(o.num, o.den), 1) AS BIGINT)
             AS cal_den
         FROM idx x JOIN omx o ON o.i = x.i
         ORDER BY x.bin""",

    // independent re-derivation of the DP release: same md5 bits, the
    // trailing-zero count rebuilt with the q131-pinned two's-complement
    // identity tz = bit_count((h & -h) - 1), full public domain via
    // cross join so empty cells carry noise too
    "p130_dp_histogram" ->
      """WITH langs AS (SELECT DISTINCT lang FROM documents),
         srcs AS (SELECT DISTINCT source FROM documents),
         cnt AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
                 FROM documents GROUP BY 1, 2),
         cells AS (SELECT l.lang, s.source, coalesce(c.n, 0) AS n
                   FROM langs l CROSS JOIN srcs s
                   LEFT JOIN cnt c USING (lang, source)),
         hz AS (SELECT lang, source, n,
             CAST(md5_number_lower(lang || '|' || source || '|e1|a')
               & 9223372036854775807 AS BIGINT) AS h1,
             CAST(md5_number_lower(lang || '|' || source || '|e1|b')
               & 9223372036854775807 AS BIGINT) AS h2
           FROM cells),
         tz AS (SELECT lang, source, n,
             CAST(bit_count((h1 & -h1) - 1) AS BIGINT) AS t1,
             CAST(bit_count((h2 & -h2) - 1) AS BIGINT) AS t2
           FROM hz)
         SELECT lang, source, CAST(n + t1 - t2 AS BIGINT) AS noisy,
           CAST(greatest(n + t1 - t2, 0) AS BIGINT) AS released
         FROM tz ORDER BY lang, source""",
    "p01_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keeper_doc_id,
         count(*) AS n_docs
         FROM documents GROUP BY md5(text) ORDER BY text_hash""",
    "p02_token_counts" ->
      """SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish_tokens,
         length(text) AS n_chars
         FROM documents ORDER BY doc_id""",
    "p03_quality_counts" ->
      """SELECT doc_id, length(text) AS n_chars,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             t -> t IN ('the','a','of','and','to','in','is'))) AS n_stopwords,
         length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper
         FROM documents ORDER BY doc_id""",
    "p04_langid" ->
      """WITH hits AS (SELECT doc_id,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             t -> t IN ('the','a','of','and','is'))) AS en_hits,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             t -> t IN ('le','la','et','les','des'))) AS fr_hits,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             t -> t IN ('el','los','y','las','una'))) AS es_hits,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             t -> t IN ('der','die','und','das','ein'))) AS de_hits
         FROM documents)
         SELECT doc_id, en_hits, fr_hits, es_hits, de_hits,
         CASE
           WHEN en_hits > 0 AND en_hits >= fr_hits AND en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
           WHEN fr_hits > 0 AND fr_hits >= en_hits AND fr_hits >= es_hits AND fr_hits >= de_hits THEN 'fr'
           WHEN es_hits > 0 AND es_hits >= en_hits AND es_hits >= fr_hits AND es_hits >= de_hits THEN 'es'
           WHEN de_hits > 0 AND de_hits >= en_hits AND de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
           ELSE 'und' END AS lang_pred
         FROM hits ORDER BY doc_id""",
    "p07_ann_brute_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
                    FROM embeddings ORDER BY vec_id LIMIT 10),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
                  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q_emb) AS score
           FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM scored)
         SELECT query_id, rank, neighbor_id FROM ranked
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // hard negatives: p07's ranking with the same-label exclusion — the
    // cosine is bit-matched between engines (established by p07), so the
    // rank set is exact
    "p68_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id,
                    CAST(embedding AS DOUBLE[]) AS q_emb, label AS q_label
                    FROM embeddings ORDER BY vec_id LIMIT 10),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
                  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q_emb) AS score
           FROM embeddings e CROSS JOIN q WHERE e.label <> q.q_label),
         ranked AS (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM scored)
         SELECT query_id, rank, neighbor_id FROM ranked
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // fertility replica: p02's tokenizations aggregated per lang; both
    // floor divisions run on non-negative operands (// ≡ div there)
    "p69_fertility" ->
      """WITH t AS (SELECT lang,
           len(regexp_split_to_array(trim(text), '\s+')) AS ws,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bp,
           length(text) AS ch FROM documents)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(ws) AS BIGINT) AS sum_ws_tokens,
           CAST(sum(bp) AS BIGINT) AS sum_bpeish_tokens,
           CAST(sum(ch) AS BIGINT) AS sum_chars,
           CAST((sum(bp) * 100) // sum(ws) AS BIGINT) AS fert_per_100_words,
           CAST((sum(bp) * 1000) // sum(ch) AS BIGINT) AS toks_per_1000_chars
         FROM t GROUP BY lang ORDER BY lang""",
    // truncation dups: identical plant (120-char copies of doc_id%9==4),
    // identical blocking key + strict-prefix predicate
    "p70_prefix_dups" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 20000000, substr(text, 1, 120) FROM documents
           WHERE doc_id % 9 = 4 AND length(text) >= 200),
         shorts AS (SELECT doc_id AS prefix_id, text AS p_text,
                    length(text) AS prefix_len, substr(text, 1, 64) AS k
                    FROM corpus WHERE length(text) BETWEEN 64 AND 150),
         fulls AS (SELECT doc_id AS full_id, text, length(text) AS len,
                   substr(text, 1, 64) AS k FROM corpus)
         SELECT prefix_id, full_id, CAST(prefix_len AS BIGINT) AS prefix_len
         FROM fulls JOIN shorts USING (k)
         WHERE len > prefix_len AND substr(text, 1, prefix_len) = p_text
         ORDER BY prefix_id, full_id""",
    // vocab coverage: p14's whitespace tokenization with multiplicity,
    // rank ties broken by token string, integer ppm (// ≡ div, operands
    // non-negative)
    "p71_vocab_coverage" ->
      """WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                       FROM documents),
         tf AS (SELECT token, count(*) AS term_freq FROM toks GROUP BY token),
         tot AS (SELECT CAST(sum(term_freq) AS BIGINT) AS total_tokens FROM tf),
         ranked AS (SELECT token, CAST(term_freq AS BIGINT) AS term_freq,
           row_number() OVER (ORDER BY term_freq DESC, token ASC) AS rank,
           CAST(sum(term_freq) OVER (ORDER BY term_freq DESC, token ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
           FROM tf)
         SELECT CAST(rank AS BIGINT) AS rank, token, term_freq, cum_tokens,
           CAST(cum_tokens * 1000000 // total_tokens AS BIGINT) AS coverage_ppm
         FROM ranked, tot WHERE rank IN (3, 10, 30, 100, 1000, 10000)
         ORDER BY rank""",
    // both detector stacks rebuilt from scratch (p39's simhash bands +
    // p22's exact-Jaccard inverted index), then the same left-join census
    "p78_simhash_precision" ->
      """WITH toks AS (SELECT doc_id,
                unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
              FROM documents),
         votes AS (SELECT doc_id, b,
                sum(CASE WHEN ((md5_number_lower(tok) >> b) & 1) = 1
                    THEN 1 ELSE -1 END) AS v
              FROM toks, range(64) t(b) GROUP BY doc_id, b),
         bits AS (SELECT doc_id, b, CASE WHEN v > 0 THEN 1 ELSE 0 END AS bit
              FROM votes),
         bands AS (SELECT doc_id,
           CAST(sum(CASE WHEN b BETWEEN  0 AND 15 THEN bit << b        ELSE 0 END) AS BIGINT) AS band0,
           CAST(sum(CASE WHEN b BETWEEN 16 AND 31 THEN bit << (b - 16) ELSE 0 END) AS BIGINT) AS band1,
           CAST(sum(CASE WHEN b BETWEEN 32 AND 47 THEN bit << (b - 32) ELSE 0 END) AS BIGINT) AS band2,
           CAST(sum(CASE WHEN b BETWEEN 48 AND 63 THEN bit << (b - 48) ELSE 0 END) AS BIGINT) AS band3
         FROM bits GROUP BY doc_id),
         spairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1))
           + bit_count(xor(a.band2, b.band2)) + bit_count(xor(a.band3, b.band3))
               AS hamming
           FROM bands a JOIN bands b ON a.doc_id < b.doc_id
             AND (a.band0 = b.band0 OR a.band1 = b.band1
               OR a.band2 = b.band2 OR a.band3 = b.band3)),
         jtoks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
                       FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+2], ' ')) END)) AS s
                FROM jtoks),
         hs AS (SELECT DISTINCT doc_id,
                  CAST(md5_number_lower(s) & 9223372036854775807 AS BIGINT) AS h
                FROM sh),
         hn AS (SELECT doc_id, h,
                  count(*) OVER (PARTITION BY doc_id) AS n FROM hs),
         jpairs AS (SELECT doc_a, doc_b FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.n AS na, b.n AS nb, count(*) AS n_inter
             FROM hn a JOIN hn b ON a.h = b.h AND a.doc_id < b.doc_id
             GROUP BY 1, 2, 3, 4)
           WHERE n_inter * 100 >= (na + nb - n_inter) * 50),
         census AS (SELECT s.hamming,
             CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_true
           FROM (SELECT * FROM spairs WHERE hamming <= 3) s
           LEFT JOIN jpairs e ON s.doc_a = e.doc_a AND s.doc_b = e.doc_b)
         SELECT CAST(hamming AS BIGINT) AS hamming, count(*) AS n_pairs,
           CAST(sum(is_true) AS BIGINT) AS n_true_dups,
           CAST(sum(is_true) * 100 // count(*) AS BIGINT) AS precision_pct
         FROM census GROUP BY hamming ORDER BY hamming""",
    // same delete-and-diff counts; the 'g' flag makes DuckDB's
    // regexp_replace global like Spark's
    "p90_char_profile" ->
      """WITH per AS (SELECT lang, CAST(length(text) AS BIGINT) AS n,
             CAST(length(text) - length(regexp_replace(text, '[A-Za-z]',
               '', 'g')) AS BIGINT) AS alpha,
             CAST(length(text) - length(regexp_replace(text, '[0-9]',
               '', 'g')) AS BIGINT) AS digit,
             CAST(length(text) - length(regexp_replace(text, '\s',
               '', 'g')) AS BIGINT) AS ws
           FROM documents)
         SELECT lang, CAST(sum(n) AS BIGINT) AS n_chars,
           CAST(CAST(sum(alpha) AS BIGINT) * 1000000
             // CAST(sum(n) AS BIGINT) AS BIGINT) AS alpha_ppm,
           CAST(CAST(sum(digit) AS BIGINT) * 1000000
             // CAST(sum(n) AS BIGINT) AS BIGINT) AS digit_ppm,
           CAST(CAST(sum(ws) AS BIGINT) * 1000000
             // CAST(sum(n) AS BIGINT) AS BIGINT) AS ws_ppm
         FROM per GROUP BY lang ORDER BY lang""",
    // p29's signal CTEs verbatim, pair expansion via a VALUES table
    "p95_filter_agreement" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
                    FROM documents),
         bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
                  i -> tk[i] || ' ' || tk[i+1])) AS b
                FROM t),
         bgc AS (SELECT doc_id, max(c) AS top FROM
                   (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2)
                 GROUP BY doc_id),
         sig AS (SELECT doc_id,
                   CAST(len(tk) AS BIGINT) AS n_tokens,
                   CAST(list_sum(list_transform(tk, x -> length(x))) AS BIGINT)
                     AS sum_token_chars,
                   CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))
                     AS BIGINT) AS n_alpha_tokens,
                   CAST(len(list_filter(tk,
                     x -> x IN ('the','a','of','and','to','in','is')))
                     AS BIGINT) AS n_stop_hits
                 FROM t),
         f AS (SELECT
                 CAST(n_tokens BETWEEN 30 AND 100000 AS BIGINT) AS r1,
                 CAST(sum_token_chars BETWEEN 3 * n_tokens AND 10 * n_tokens
                   AS BIGINT) AS r2,
                 CAST(100 * n_alpha_tokens >= 80 * n_tokens AS BIGINT) AS r3,
                 CAST(n_stop_hits >= 2 AS BIGINT) AS r4,
                 CAST(100 * coalesce(b.top, 0) <= 20 * greatest(n_tokens - 1, 1)
                   AS BIGINT) AS r5
               FROM sig s LEFT JOIN bgc b USING (doc_id)),
         pairs AS (SELECT * FROM (VALUES (1,2),(1,3),(1,4),(1,5),(2,3),
                     (2,4),(2,5),(3,4),(3,5),(4,5)) pr(a, b)),
         lf AS (SELECT p.a, p.b,
                  CASE p.a WHEN 1 THEN r1 WHEN 2 THEN r2 WHEN 3 THEN r3
                           WHEN 4 THEN r4 ELSE r5 END AS va,
                  CASE p.b WHEN 1 THEN r1 WHEN 2 THEN r2 WHEN 3 THEN r3
                           WHEN 4 THEN r4 ELSE r5 END AS vb
                FROM f CROSS JOIN pairs p)
         SELECT CAST(a AS BIGINT) AS rule_a, CAST(b AS BIGINT) AS rule_b,
           CAST(sum(va * vb) AS BIGINT) AS n_both,
           CAST(sum(va * (1 - vb)) AS BIGINT) AS n_only_a,
           CAST(sum((1 - va) * vb) AS BIGINT) AS n_only_b,
           CAST(sum((1 - va) * (1 - vb)) AS BIGINT) AS n_neither
         FROM lf GROUP BY a, b ORDER BY rule_a, rule_b""",
    // p20's register CTE per slice, p35's integer estimator, cellwise-max
    // union over the full 64-cell domain (absent cells are rho = 0)
    "p96_hll_intersect" ->
      """WITH ta AS (SELECT DISTINCT
             unnest(regexp_split_to_array(trim(text), '\s+')) AS t
           FROM documents WHERE lang = 'en'),
         tb AS (SELECT DISTINCT
             unnest(regexp_split_to_array(trim(text), '\s+')) AS t
           FROM documents WHERE lang = 'fr'),
         ra AS (SELECT CAST(h & 63 AS INT) AS bucket,
                  max(CASE WHEN h >> 6 = 0 THEN 58
                      ELSE 58 - length(bin(h >> 6)) END) AS rho
                FROM (SELECT md5_number_lower(t) & 9223372036854775807 AS h
                      FROM ta) GROUP BY 1),
         rb AS (SELECT CAST(h & 63 AS INT) AS bucket,
                  max(CASE WHEN h >> 6 = 0 THEN 58
                      ELSE 58 - length(bin(h >> 6)) END) AS rho
                FROM (SELECT md5_number_lower(t) & 9223372036854775807 AS h
                      FROM tb) GROUP BY 1),
         cells AS (SELECT CAST(unnest(range(64)) AS INT) AS bucket),
         j AS (SELECT c.bucket, coalesce(ra.rho, 0) AS rho_a,
                 coalesce(rb.rho, 0) AS rho_b
               FROM cells c LEFT JOIN ra USING (bucket)
                            LEFT JOIN rb USING (bucket)),
         den AS (SELECT
             CAST(sum(CAST(1 AS BIGINT) << (30 - least(rho_a, 30)))
               AS BIGINT) AS dena,
             CAST(sum(CAST(1 AS BIGINT) << (30 - least(rho_b, 30)))
               AS BIGINT) AS denb,
             CAST(sum(CAST(1 AS BIGINT)
               << (30 - least(greatest(rho_a, rho_b), 30))) AS BIGINT) AS denu
           FROM j),
         est AS (SELECT
             CAST(709 * 64 * 64 * (CAST(1 AS BIGINT) << 30) // dena // 1000
               AS BIGINT) AS est_a,
             CAST(709 * 64 * 64 * (CAST(1 AS BIGINT) << 30) // denb // 1000
               AS BIGINT) AS est_b,
             CAST(709 * 64 * 64 * (CAST(1 AS BIGINT) << 30) // denu // 1000
               AS BIGINT) AS est_union
           FROM den),
         ex AS (SELECT CAST(count(*) AS BIGINT) AS n
                FROM ta JOIN tb ON ta.t = tb.t)
         SELECT CAST(64 AS BIGINT) AS m,
           (SELECT n FROM ex) AS n_exact_inter,
           est_a, est_b, est_union,
           CAST(est_a + est_b - est_union AS BIGINT) AS est_inter
         FROM est""",
    // positional (non-distinct) 4-grams, global occ >= 2 dup set,
    // gaps-and-islands on duplicated positions, span = max-min+4 tokens
    "p97_dup_spans" ->
      """WITH toks AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
         short AS (SELECT doc_id, CAST(1 AS BIGINT) AS pos,
             array_to_string(tk, ' ') AS s FROM toks WHERE len(tk) < 4),
         pos_ AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 2)) AS i
                  FROM toks WHERE len(tk) >= 4),
         g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 array_to_string(tk[i:i+3], ' ') AS s FROM pos_
               UNION ALL SELECT * FROM short),
         hs AS (SELECT doc_id, pos,
             CAST(md5_number_lower(s) & 9223372036854775807 AS BIGINT) AS h
           FROM g),
         tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
                 FROM hs GROUP BY doc_id),
         dup AS (SELECT h FROM hs GROUP BY h HAVING count(*) >= 2),
         hit AS (SELECT doc_id, pos FROM hs JOIN dup USING (h)),
         run AS (SELECT doc_id, pos, pos - row_number()
               OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM hit),
         sp AS (SELECT doc_id, grp, max(pos) - min(pos) + 4 AS span_tokens
                FROM run GROUP BY doc_id, grp),
         pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
             CAST(sum(span_tokens) AS BIGINT) AS dup_tokens,
             CAST(max(span_tokens) AS BIGINT) AS max_span_tokens
           FROM sp GROUP BY doc_id)
         SELECT t.doc_id, t.n_grams,
           CAST(COALESCE(pd.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(COALESCE(pd.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(COALESCE(pd.max_span_tokens, 0) AS BIGINT) AS max_span_tokens
         FROM tot t LEFT JOIN pd USING (doc_id) ORDER BY t.doc_id""",
    // p20's register CTE per DAY, window union = cellwise max over the
    // trailing 3 days, p35's integer estimator, exact trailing recount
    "p101_hll_sliding_union" ->
      """WITH ud AS (SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS day FROM events),
         days AS (SELECT DISTINCT day FROM ud),
         hs AS (SELECT day,
             CAST(md5_number_lower(CAST(user_id AS VARCHAR))
               & 9223372036854775807 AS BIGINT) AS h
           FROM ud),
         regs AS (SELECT day, CAST(h & 63 AS INT) AS bucket,
             max(CASE WHEN h >> 6 = 0 THEN 58
                 ELSE 58 - length(bin(h >> 6)) END) AS rho
           FROM hs GROUP BY 1, 2),
         wr AS (SELECT d.day AS wday, r.bucket, max(r.rho) AS rho
                FROM regs r JOIN days d ON d.day BETWEEN r.day AND r.day + 2
                GROUP BY 1, 2),
         cells AS (SELECT d.day AS wday, CAST(u.range AS INT) AS bucket
                   FROM days d, range(64) u),
         den AS (SELECT c.wday, CAST(sum(CAST(1 AS BIGINT)
               << (30 - least(coalesce(wr.rho, 0), 30))) AS BIGINT) AS denom
             FROM cells c LEFT JOIN wr ON wr.wday = c.wday
               AND wr.bucket = c.bucket
             GROUP BY c.wday),
         est AS (SELECT wday, CAST(709 * 64 * 64 * (CAST(1 AS BIGINT) << 30)
               // denom // 1000 AS BIGINT) AS est_int FROM den),
         ex AS (SELECT d.day AS wday,
             CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_exact
           FROM ud u JOIN days d ON d.day BETWEEN u.day AND u.day + 2
           GROUP BY 1)
         SELECT e.wday, x.n_exact, e.est_int,
           CAST(abs(e.est_int - x.n_exact) * 1000 // x.n_exact AS BIGINT)
             AS err_permille
         FROM est e JOIN ex x USING (wday) ORDER BY e.wday""",
    // re-aggregates the per-doc deflate dump (engine computed zlib once);
    // same integer ratio + repetitive-flag arithmetic
    "p102_compression_signal" ->
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(raw_bytes) AS BIGINT) AS sum_raw_bytes,
         CAST(sum(deflate_bytes) AS BIGINT) AS sum_deflate_bytes,
         CAST(sum(deflate_bytes) * 1000000 // sum(raw_bytes) AS BIGINT)
           AS ratio_ppm,
         CAST(sum(CASE WHEN deflate_bytes * 100 < raw_bytes * 35
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
         FROM read_parquet('${deflateDumpPath(dir)}/*.parquet')
         GROUP BY source ORDER BY source""",
    // same quasi-identifier grouping + histogram + running below-k total
    "p103_k_anonymity" ->
      """WITH g AS (SELECT source, lang, n_chars // 256 AS size_bucket,
             CAST(count(*) AS BIGINT) AS group_size
           FROM documents GROUP BY 1, 2, 3),
         h AS (SELECT group_size, CAST(count(*) AS BIGINT) AS n_groups,
             CAST(group_size * count(*) AS BIGINT) AS n_docs
           FROM g GROUP BY group_size)
         SELECT group_size, n_groups, n_docs,
           CAST(sum(n_docs) OVER (ORDER BY group_size
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_docs_at_or_below
         FROM h ORDER BY group_size""",
    // identical integer waterfill: same (supply asc, source asc) order,
    // same prefix-cost saturation rule, same largest-remainder bumps
    "p104_budget_waterfill" ->
      """WITH tok AS (SELECT source, CAST(count(*) AS BIGINT) AS supply
           FROM (SELECT source,
                   unnest(regexp_split_to_array(trim(text), '\s+')) AS t
                 FROM documents) GROUP BY source),
         r AS (SELECT source, supply,
             CAST(row_number() OVER (ORDER BY supply, source) AS BIGINT)
               AS i,
             CAST(sum(supply) OVER (ORDER BY supply, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS pfx
           FROM tok),
         t AS (SELECT CAST(sum(supply) AS BIGINT) AS total,
                 CAST(count(*) AS BIGINT) AS n FROM tok),
         c AS (SELECT r.*, (t.total * 2) // 5 AS budget, t.n,
                 pfx - supply + supply * (t.n - i + 1) AS cost
               FROM r, t),
         ka AS (SELECT
             COALESCE(max(CASE WHEN cost <= budget THEN i END), 0) AS k,
             COALESCE(max(CASE WHEN cost <= budget THEN pfx END), 0) AS pk,
             max(budget) AS b, max(n) AS nn FROM c),
         l AS (SELECT k, pk,
             CASE WHEN nn > k THEN (b - pk) // (nn - k) ELSE 0 END AS lev,
             CASE WHEN nn > k THEN (b - pk) % (nn - k) ELSE 0 END AS rem
           FROM ka)
         SELECT c.source, c.supply AS supply_tokens,
           CAST(CASE WHEN c.i <= l.k THEN c.supply
                     WHEN c.i - l.k <= l.rem THEN l.lev + 1
                     ELSE l.lev END AS BIGINT) AS alloc_tokens,
           CAST(CASE WHEN c.i <= l.k THEN 1 ELSE 0 END AS BIGINT)
             AS saturated
         FROM c, l ORDER BY c.source""",
    // ADC + exact rankings re-derived from the dumped codebook/codes and
    // raw embeddings on the p60 integer grid (floor(x·1000)); identical
    // (dist asc, cand asc) order, self excluded on both sides
    "p105_pq_adc_recall" ->
      s"""WITH qv AS (SELECT vec_id,
             CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS v,
             CAST(dim AS BIGINT) AS dim
           FROM (SELECT vec_id, unnest(embedding) AS x,
                   unnest(range(0, len(embedding))) AS dim FROM embeddings)),
         qs AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 10),
         q AS (SELECT * FROM qv WHERE vec_id IN (SELECT vec_id FROM qs)),
         cb AS (SELECT subspace, code, dim, cval
                FROM read_parquet('${pqCodebookPath(dir)}/*.parquet')),
         sd AS (SELECT max(dim) + 1 AS subdim FROM cb),
         cd AS (SELECT vec_id, subspace, code
                FROM read_parquet('${pqCodesPath(dir)}/*.parquet')),
         adc AS (SELECT q.vec_id AS query_id, cd.vec_id AS cand,
             CAST(sum((q.v - cb.cval) * (q.v - cb.cval)) AS BIGINT) AS dist
           FROM cd
           JOIN cb ON cb.subspace = cd.subspace AND cb.code = cd.code
           JOIN sd ON true
           JOIN q ON q.dim = cd.subspace * sd.subdim + cb.dim
           WHERE cd.vec_id <> q.vec_id
           GROUP BY 1, 2),
         adcr AS (SELECT query_id, cand, row_number() OVER (
             PARTITION BY query_id ORDER BY dist, cand) AS rk FROM adc),
         ex AS (SELECT q.vec_id AS query_id, c.vec_id AS cand,
             CAST(sum((q.v - c.v) * (q.v - c.v)) AS BIGINT) AS dist
           FROM q JOIN qv c ON q.dim = c.dim AND c.vec_id <> q.vec_id
           GROUP BY 1, 2),
         exr AS (SELECT query_id, cand, row_number() OVER (
             PARTITION BY query_id ORDER BY dist, cand) AS rk FROM ex),
         ov AS (SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_overlap
           FROM adcr a JOIN exr e
             ON a.query_id = e.query_id AND a.cand = e.cand
           WHERE a.rk <= 10 AND e.rk <= 10 GROUP BY 1)
         SELECT qs.vec_id AS query_id,
           COALESCE(ov.n_overlap, 0) AS n_overlap,
           a1.cand AS adc_top1, e1.cand AS exact_top1
         FROM qs
         LEFT JOIN ov ON ov.query_id = qs.vec_id
         JOIN adcr a1 ON a1.query_id = qs.vec_id AND a1.rk = 1
         JOIN exr e1 ON e1.query_id = qs.vec_id AND e1.rk = 1
         ORDER BY query_id""",
    // prefix (first-16-dims) vs full integer-L2 rankings, both re-derived
    // from raw embeddings alone
    "p107_matryoshka_recall" ->
      """WITH qv AS (SELECT vec_id,
             CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS v,
             CAST(dim AS BIGINT) AS dim
           FROM (SELECT vec_id, unnest(embedding) AS x,
                   unnest(range(0, len(embedding))) AS dim FROM embeddings)),
         qs AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 10),
         q AS (SELECT * FROM qv WHERE vec_id IN (SELECT vec_id FROM qs)),
         pre AS (SELECT q.vec_id AS query_id, c.vec_id AS cand,
             CAST(sum((q.v - c.v) * (q.v - c.v)) AS BIGINT) AS dist
           FROM q JOIN qv c ON q.dim = c.dim AND c.vec_id <> q.vec_id
           WHERE q.dim < 16 GROUP BY 1, 2),
         prer AS (SELECT query_id, cand, row_number() OVER (
             PARTITION BY query_id ORDER BY dist, cand) AS rk FROM pre),
         ex AS (SELECT q.vec_id AS query_id, c.vec_id AS cand,
             CAST(sum((q.v - c.v) * (q.v - c.v)) AS BIGINT) AS dist
           FROM q JOIN qv c ON q.dim = c.dim AND c.vec_id <> q.vec_id
           GROUP BY 1, 2),
         exr AS (SELECT query_id, cand, row_number() OVER (
             PARTITION BY query_id ORDER BY dist, cand) AS rk FROM ex),
         ov AS (SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_overlap
           FROM prer a JOIN exr e
             ON a.query_id = e.query_id AND a.cand = e.cand
           WHERE a.rk <= 10 AND e.rk <= 10 GROUP BY 1)
         SELECT qs.vec_id AS query_id,
           COALESCE(ov.n_overlap, 0) AS n_overlap,
           a1.cand AS prefix_top1, e1.cand AS exact_top1
         FROM qs
         LEFT JOIN ov ON ov.query_id = qs.vec_id
         JOIN prer a1 ON a1.query_id = qs.vec_id AND a1.rk = 1
         JOIN exr e1 ON e1.query_id = qs.vec_id AND e1.rk = 1
         ORDER BY query_id""",
    // ADC top-50 candidates from the p108 dumps, exact re-rank of only
    // those candidates, graded vs the global exact top-10
    "p108_pq_rerank" ->
      s"""WITH qv AS (SELECT vec_id,
             CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS v,
             CAST(dim AS BIGINT) AS dim
           FROM (SELECT vec_id, unnest(embedding) AS x,
                   unnest(range(0, len(embedding))) AS dim FROM embeddings)),
         qs AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 10),
         q AS (SELECT * FROM qv WHERE vec_id IN (SELECT vec_id FROM qs)),
         cb AS (SELECT subspace, code, dim, cval
                FROM read_parquet('${pqRerankCodebookPath(dir)}/*.parquet')),
         sd AS (SELECT max(dim) + 1 AS subdim FROM cb),
         cd AS (SELECT vec_id, subspace, code
                FROM read_parquet('${pqRerankCodesPath(dir)}/*.parquet')),
         adc AS (SELECT q.vec_id AS query_id, cd.vec_id AS cand,
             CAST(sum((q.v - cb.cval) * (q.v - cb.cval)) AS BIGINT) AS dist
           FROM cd
           JOIN cb ON cb.subspace = cd.subspace AND cb.code = cd.code
           JOIN sd ON true
           JOIN q ON q.dim = cd.subspace * sd.subdim + cb.dim
           WHERE cd.vec_id <> q.vec_id
           GROUP BY 1, 2),
         cands AS (SELECT query_id, cand FROM (
             SELECT query_id, cand, row_number() OVER (
               PARTITION BY query_id ORDER BY dist, cand) AS rk FROM adc)
           WHERE rk <= 50),
         rr AS (SELECT q.vec_id AS query_id, c.vec_id AS cand,
             CAST(sum((q.v - c.v) * (q.v - c.v)) AS BIGINT) AS dist
           FROM q JOIN qv c ON q.dim = c.dim
           JOIN cands ON cands.query_id = q.vec_id AND cands.cand = c.vec_id
           GROUP BY 1, 2),
         rrr AS (SELECT query_id, cand, row_number() OVER (
             PARTITION BY query_id ORDER BY dist, cand) AS rk FROM rr),
         ex AS (SELECT q.vec_id AS query_id, c.vec_id AS cand,
             CAST(sum((q.v - c.v) * (q.v - c.v)) AS BIGINT) AS dist
           FROM q JOIN qv c ON q.dim = c.dim AND c.vec_id <> q.vec_id
           GROUP BY 1, 2),
         exr AS (SELECT query_id, cand, row_number() OVER (
             PARTITION BY query_id ORDER BY dist, cand) AS rk FROM ex),
         ov AS (SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_overlap
           FROM rrr a JOIN exr e
             ON a.query_id = e.query_id AND a.cand = e.cand
           WHERE a.rk <= 10 AND e.rk <= 10 GROUP BY 1)
         SELECT qs.vec_id AS query_id,
           COALESCE(ov.n_overlap, 0) AS n_overlap,
           a1.cand AS rerank_top1, e1.cand AS exact_top1
         FROM qs
         LEFT JOIN ov ON ov.query_id = qs.vec_id
         JOIN rrr a1 ON a1.query_id = qs.vec_id AND a1.rk = 1
         JOIN exr e1 ON e1.query_id = qs.vec_id AND e1.rk = 1
         ORDER BY query_id""",
    // identical floor-mean pooling on the grid. DuckDB's integer // and %
    // truncate toward zero, so floor-division is rebuilt integer-exactly:
    // subtract the non-negative remainder ((s % n) + n) % n, then divide
    "p112_chunk_pooling" ->
      """WITH u AS (SELECT vec_id // 5 AS group_id, dim,
             CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS q
           FROM (SELECT vec_id, unnest(embedding) AS x,
                   unnest(range(0, len(embedding))) AS dim FROM embeddings)
           WHERE dim < 8)
         SELECT group_id, CAST(dim AS BIGINT) AS dim,
           CAST((sum(q) - ((sum(q) % count(*)) + count(*)) % count(*))
                // count(*) AS BIGINT) AS pooled_q
         FROM u GROUP BY 1, 2 ORDER BY 1, 2""",
    // identical per-vector derivation: bad = any NaN/Inf, norm² over the
    // integer grid excluding bad dims, bucket = bitlen−1 via bin()
    "p111_vector_qa" ->
      """WITH u AS (SELECT vec_id, len(embedding) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
         per AS (SELECT vec_id, any_value(dim) AS dim,
             max(CASE WHEN isnan(x) OR isinf(x) THEN 1 ELSE 0 END) AS bad,
             sum(CASE WHEN isnan(x) OR isinf(x) THEN 0
                 ELSE CAST(floor(x * 1000) AS BIGINT)
                    * CAST(floor(x * 1000) AS BIGINT) END) AS norm2
           FROM u GROUP BY vec_id)
         SELECT CAST(dim AS BIGINT) AS dim,
           CAST(CASE WHEN bad = 1 THEN -2 WHEN norm2 = 0 THEN -1
                ELSE length(bin(norm2)) - 1 END AS BIGINT)
             AS norm2_log2_bucket,
           CAST(count(*) AS BIGINT) AS n_vectors
         FROM per GROUP BY 1, 2 ORDER BY 1, 2""",
    // the p02/p03/p75 signal fragments verbatim, assembled into one row
    "p110_feature_table" ->
      """WITH c AS (SELECT doc_id, text,
           len(regexp_split_to_array(trim(text), '\s+')) AS w,
           greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
           len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y
           FROM documents)
         SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(w AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
             AS n_bpeish_tokens,
           CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
             AS BIGINT) AS n_punct,
           CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT)
             AS n_stopwords,
           CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS BIGINT)
             AS n_upper,
           CAST(s AS BIGINT) AS n_sentences,
           CAST(y AS BIGINT) AS n_vowel_groups,
           CAST(206835 - (1015 * w) // s
                - (84600 * y) // greatest(w, 1) AS BIGINT) AS flesch_milli
         FROM c ORDER BY doc_id""",
    // per-vector quantization error re-derived from the drift dumps +
    // raw embeddings; identical integer cohort rollup
    "p109_pq_drift" ->
      s"""WITH qv AS (SELECT vec_id,
             CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS v,
             CAST(dim AS BIGINT) AS dim
           FROM (SELECT vec_id, unnest(embedding) AS x,
                   unnest(range(0, len(embedding))) AS dim FROM embeddings)),
         cb AS (SELECT subspace, code, dim, cval
                FROM read_parquet('${pqDriftCodebookPath(dir)}/*.parquet')),
         sd AS (SELECT max(dim) + 1 AS subdim FROM cb),
         cd AS (SELECT vec_id, subspace, code
                FROM read_parquet('${pqDriftCodesPath(dir)}/*.parquet')),
         err AS (SELECT cd.vec_id,
             CAST(sum((qv.v - cb.cval) * (qv.v - cb.cval)) AS BIGINT) AS err
           FROM cd
           JOIN cb ON cb.subspace = cd.subspace AND cb.code = cd.code
           JOIN sd ON true
           JOIN qv ON qv.vec_id = cd.vec_id
                  AND qv.dim = cd.subspace * sd.subdim + cb.dim
           GROUP BY 1)
         SELECT CAST(vec_id % 2 AS BIGINT) AS cohort,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(err) AS BIGINT) AS sum_err,
           CAST(sum(err) // count(*) AS BIGINT) AS mean_err
         FROM err GROUP BY 1 ORDER BY 1""",
    // identical bitlen arithmetic via bin(); per-(source, token) counts
    // then the post-agg projection
    "p100_source_entropy" ->
      """WITH t AS (SELECT source,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
           FROM documents),
         c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
               FROM t GROUP BY 1, 2),
         agg AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(c * length(bin(c))) AS BIGINT) AS sum_c_bitlen
           FROM c GROUP BY source)
         SELECT source, n_tokens, n_distinct,
           CAST(n_tokens * length(bin(n_tokens)) - sum_c_bitlen AS BIGINT)
             AS entropy_mass
         FROM agg ORDER BY source""",
    // self-join pair generation (b.pos in (a.pos, a.pos+4]) replicates the
    // engine's windowed flatMap; identical BIGINT lift arithmetic
    "p98_pmi_pairs" ->
      """WITH toks AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
         pos_ AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
                  FROM toks),
         t AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, tk[i] AS tok
               FROM pos_),
         pr AS (SELECT least(a.tok, b.tok) AS tok_a,
                  greatest(a.tok, b.tok) AS tok_b
                FROM t a JOIN t b ON a.doc_id = b.doc_id
                  AND b.pos > a.pos AND b.pos <= a.pos + 4),
         co AS (SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS co
                FROM pr GROUP BY 1, 2 HAVING count(*) >= 2),
         cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
                 FROM t GROUP BY tok),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t)
         SELECT tok_a, tok_b, co, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
           CAST(co * 1000000 * (SELECT n FROM tot)
             // (ca.cnt * cb.cnt) AS BIGINT) AS lift_ppm
         FROM co JOIN cnt ca ON ca.tok = co.tok_a
                 JOIN cnt cb ON cb.tok = co.tok_b
         ORDER BY co DESC, tok_a, tok_b LIMIT 50""",
    // the same greedy chain unrolled: seed = min vec_id, then three
    // argmax-of-min-distance rounds over the identical quantized vectors
    "p99_kcenter" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
           FROM embeddings),
         s1 AS (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 1),
         m1 AS (SELECT a.vec_id, CAST(list_sum(list_transform(
                  range(1, len(a.v) + 1),
                  i -> (a.v[i] - s.v[i]) * (a.v[i] - s.v[i])))
                  AS BIGINT) AS d
                FROM q a CROSS JOIN s1 s),
         c2 AS (SELECT vec_id, d FROM m1 ORDER BY d DESC, vec_id LIMIT 1),
         s2 AS (SELECT q.vec_id, q.v FROM q JOIN c2 USING (vec_id)),
         m2 AS (SELECT a.vec_id, least(m.d, CAST(list_sum(list_transform(
                  range(1, len(a.v) + 1),
                  i -> (a.v[i] - s.v[i]) * (a.v[i] - s.v[i])))
                  AS BIGINT)) AS d
                FROM q a JOIN m1 m ON m.vec_id = a.vec_id
                CROSS JOIN s2 s),
         c3 AS (SELECT vec_id, d FROM m2 ORDER BY d DESC, vec_id LIMIT 1),
         s3 AS (SELECT q.vec_id, q.v FROM q JOIN c3 USING (vec_id)),
         m3 AS (SELECT a.vec_id, least(m.d, CAST(list_sum(list_transform(
                  range(1, len(a.v) + 1),
                  i -> (a.v[i] - s.v[i]) * (a.v[i] - s.v[i])))
                  AS BIGINT)) AS d
                FROM q a JOIN m2 m ON m.vec_id = a.vec_id
                CROSS JOIN s3 s),
         c4 AS (SELECT vec_id, d FROM m3 ORDER BY d DESC, vec_id LIMIT 1)
         SELECT CAST(1 AS BIGINT) AS iter,
           (SELECT vec_id FROM s1) AS vec_id,
           CAST(0 AS BIGINT) AS min_d2
         UNION ALL SELECT 2, vec_id, d FROM c2
         UNION ALL SELECT 3, vec_id, d FROM c3
         UNION ALL SELECT 4, vec_id, d FROM c4
         ORDER BY iter""",
    // same arithmetic-free plants (copy / list_reverse), DuckDB's own
    // cosine at the same threshold
    "p94_semantic_decon" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         ev AS (SELECT vec_id + 1000000 AS eval_id,
                  CASE WHEN vec_id % 74 = 0 THEN v
                       ELSE list_reverse(v) END AS ev
                FROM e WHERE vec_id % 37 = 0),
         hits AS (SELECT ev.eval_id, count(*) AS n_hits
                  FROM ev JOIN e
                    ON list_cosine_similarity(e.v, ev.ev) >= 0.9
                  GROUP BY ev.eval_id)
         SELECT CAST(eval_id AS BIGINT) AS eval_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
         FROM ev LEFT JOIN hits h USING (eval_id) ORDER BY eval_id""",
    // same tokenize, same equal-share target and capped-epoch arithmetic
    "p93_repetition_plan" ->
      """WITH per AS (SELECT source,
             CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
               AS BIGINT) AS tokens
           FROM documents GROUP BY source),
         tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS grand,
             count(*) AS n_sources FROM per),
         base AS (SELECT source, tokens,
             grand // n_sources AS target_tokens FROM per, tot),
         f AS (SELECT source, tokens, target_tokens,
             least(4, (target_tokens + tokens - 1) // tokens) AS repeat_factor
           FROM base)
         SELECT source, tokens, CAST(target_tokens AS BIGINT) AS target_tokens,
           CAST(repeat_factor AS BIGINT) AS repeat_factor,
           CAST(least(target_tokens, tokens * repeat_factor) AS BIGINT)
             AS effective_tokens
         FROM f ORDER BY source""",
    // same top-10k TF ranking, same bin()-length integer log2
    "p91_zipf_fit" ->
      """WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                       FROM documents),
         tf AS (SELECT token, count(*) AS freq FROM toks GROUP BY token
                ORDER BY freq DESC, token ASC LIMIT 10000),
         r AS (SELECT CAST(freq AS BIGINT) AS freq,
                 row_number() OVER (ORDER BY freq DESC, token ASC) AS rank
               FROM tf),
         p AS (SELECT CAST(length(bin(rank)) - 1 AS BIGINT) AS x,
                      CAST(length(bin(freq)) - 1 AS BIGINT) AS y FROM r)
         SELECT CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
           CAST(count(*) * CAST(sum(x * y) AS BIGINT)
             - CAST(sum(x) AS BIGINT) * CAST(sum(y) AS BIGINT) AS BIGINT)
             AS slope_num,
           CAST(count(*) * CAST(sum(x * x) AS BIGINT)
             - CAST(sum(x) AS BIGINT) * CAST(sum(x) AS BIGINT) AS BIGINT)
             AS slope_den
         FROM p""",
    // exact pair set rebuilt from scratch (p46's md5 inverted index);
    // dumped per-setting candidates re-verified against it; levels LEFT
    // JOIN so a zero-candidate setting still emits its row
    "p92_band_sweep" ->
      s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
                        FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+2], ' ')) END)) AS s
                FROM toks),
         hs AS (SELECT DISTINCT doc_id,
                  CAST(md5_number_lower(s) & 9223372036854775807 AS BIGINT) AS h
                FROM sh),
         hn AS (SELECT doc_id, h,
                  count(*) OVER (PARTITION BY doc_id) AS n FROM hs),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.n AS na, b.n AS nb, count(*) AS n_inter
                   FROM hn a JOIN hn b ON a.h = b.h AND a.doc_id < b.doc_id
                   GROUP BY 1, 2, 3, 4),
         exact AS (SELECT doc_a, doc_b FROM pairs
                   WHERE n_inter * 100 >= (na + nb - n_inter) * 60),
         ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
         cand AS (SELECT bands, doc_a, doc_b
                  FROM read_parquet('${bandSweepDumpPath(dir)}/*.parquet')),
         lv AS (SELECT * FROM (VALUES (2), (4), (8), (16)) AS t(bands)),
         per AS (SELECT c.bands, count(*) AS n_candidates,
                   sum(CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
                 FROM cand c LEFT JOIN exact e
                   ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
                 GROUP BY c.bands)
         SELECT CAST(lv.bands AS BIGINT) AS bands,
           CAST(coalesce(per.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(coalesce(per.n_hits, 0) AS BIGINT) AS n_hits,
           (SELECT n_exact FROM ex) AS n_exact,
           CAST(coalesce(per.n_hits, 0) * 100 // (SELECT n_exact FROM ex)
             AS BIGINT) AS recall_pct
         FROM lv LEFT JOIN per ON lv.bands = per.bands ORDER BY bands""",
    // candidate sets from the dumped assignment/probe tables, re-ranked
    // by DuckDB's own cosine, intersected with its own brute ranking
    "p89_ivf_recall_sweep" ->
      s"""WITH a AS (SELECT * FROM
             read_parquet('${ivfSweepAssignPath(dir)}/*.parquet')),
         p AS (SELECT * FROM
             read_parquet('${ivfSweepProbePath(dir)}/*.parquet')),
         q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
               FROM embeddings ORDER BY vec_id LIMIT 10),
         cand AS (SELECT p.nprobe, p.query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q_emb)
               AS score
           FROM embeddings e
           JOIN a ON e.vec_id = a.vec_id
           JOIN p ON a.cell = p.cell
           JOIN q ON q.query_id = p.query_id
           WHERE e.vec_id <> p.query_id),
         ivf AS (SELECT nprobe, query_id, neighbor_id FROM (
             SELECT nprobe, query_id, neighbor_id,
               row_number() OVER (PARTITION BY nprobe, query_id
                 ORDER BY score DESC, neighbor_id) AS rk FROM cand)
           WHERE rk <= 10),
         brute AS (SELECT query_id, neighbor_id FROM (
             SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                   q.q_emb) DESC, e.vec_id) AS rk
             FROM embeddings e CROSS JOIN q
             WHERE e.vec_id <> q.query_id)
           WHERE rk <= 10),
         hits AS (SELECT i.nprobe, count(*) AS n_hits
           FROM ivf i JOIN brute USING (query_id, neighbor_id)
           GROUP BY 1),
         levels AS (SELECT DISTINCT nprobe FROM p)
         SELECT CAST(l.nprobe AS BIGINT) AS nprobe,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) * 1000000 // 100 AS BIGINT)
             AS recall_ppm
         FROM levels l LEFT JOIN hits h ON l.nprobe = h.nprobe
         ORDER BY nprobe""",
    // identical md5-low63 hashes and xor etags via DuckDB bit_xor
    "p88_shard_etags" ->
      """WITH x AS (SELECT e.k AS epoch,
             CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || ':'
                 || CAST(e.k AS VARCHAR)) & 9223372036854775807) % 16
               AS BIGINT) AS shard,
             CAST(md5_number_lower(text) & 9223372036854775807 AS BIGINT)
               AS h
           FROM documents, range(0, 2) e(k))
         SELECT CAST(epoch AS BIGINT) AS epoch, shard, count(*) AS n_docs,
           CAST(bit_xor(h) AS BIGINT) AS etag
         FROM x GROUP BY 1, 2 ORDER BY epoch, shard""",
    // same pair set from shingle strings, source lookup, per-class census
    "p87_dup_affinity" ->
      """WITH toks AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+2], ' ')) END)) AS s
                FROM toks),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS n_inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         prs AS (SELECT doc_a, doc_b FROM pairs
           JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b
           WHERE n_inter * 100 >= (sa.n + sb.n - n_inter) * 50),
         aff AS (SELECT CASE WHEN da.source = db.source THEN 'intra'
               ELSE 'cross' END AS affinity, doc_a, doc_b
           FROM prs
           JOIN documents da ON da.doc_id = doc_a
           JOIN documents db ON db.doc_id = doc_b),
         ex AS (SELECT affinity, doc_a AS doc_id FROM aff
                UNION ALL SELECT affinity, doc_b FROM aff)
         SELECT affinity, count(*) // 2 AS n_pairs,
           count(DISTINCT doc_id) AS n_docs_involved
         FROM ex GROUP BY affinity ORDER BY affinity""",
    // exact pair stats rebuilt from shingle strings, swept by a range
    // table
    "p86_threshold_sweep" ->
      """WITH toks AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+2], ' ')) END)) AS s
                FROM toks),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS n_inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pu AS (SELECT n_inter, (sa.n + sb.n - n_inter) AS n_union
           FROM pairs
           JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b),
         th AS (SELECT k * 10 AS threshold FROM range(5, 10) t(k))
         SELECT CAST(threshold AS BIGINT) AS threshold,
           count(*) AS n_pairs
         FROM pu, th WHERE n_inter * 100 >= n_union * threshold
         GROUP BY threshold ORDER BY threshold""",
    // exact all-pairs formulation of the same band — independent of the
    // engine's bucket blocking
    "p84_bitext_candidates" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, b.lang AS lang_b,
           CAST(abs(a.n_chars - b.n_chars) AS BIGINT) AS len_diff
         FROM documents a JOIN documents b
           ON a.source = b.source AND a.lang = 'en' AND b.lang <> 'en'
          AND abs(a.n_chars - b.n_chars) <= 200
         ORDER BY doc_a, doc_b""",
    // same first-occurrence join, distinct (doc, token) grain
    "p85_novelty" ->
      """WITH tok AS (SELECT DISTINCT doc_id, tok FROM
             (SELECT doc_id,
                unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
              FROM documents)),
         first AS (SELECT tok, min(doc_id) AS first_doc FROM tok
           GROUP BY tok)
         SELECT t.doc_id, count(*) AS n_distinct,
           CAST(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel,
           CAST(CAST(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0
               END) AS BIGINT) * 1000000 // count(*) AS BIGINT)
             AS novelty_ppm
         FROM tok t JOIN first f USING (tok)
         GROUP BY t.doc_id ORDER BY t.doc_id""",
    // p26's recursive closure + argmax via row_number over (n_chars
    // desc, doc_id asc)
    "p83_keeper_quality" ->
      """WITH RECURSIVE toks AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+2], ' ')) END)) AS s
                FROM toks),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    count(*) AS n_inter
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
         prs AS (SELECT doc_a, doc_b FROM cand
                 JOIN sizes sa ON sa.doc_id = doc_a
                 JOIN sizes sb ON sb.doc_id = doc_b
                 WHERE n_inter * 100 >= (sa.n + sb.n - n_inter) * 60),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
                   UNION SELECT doc_b, doc_a FROM prs),
         reach AS (SELECT u, v FROM edges
                   UNION
                   SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         labels AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
                    FROM reach GROUP BY u),
         q AS (SELECT l.doc_id, l.cluster_id, d.n_chars,
             row_number() OVER (PARTITION BY l.cluster_id
               ORDER BY d.n_chars DESC, l.doc_id) AS rk
           FROM labels l JOIN documents d USING (doc_id))
         SELECT cluster_id, count(*) AS cluster_size,
           CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
             AS keeper_doc,
           CAST(max(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
             AS keeper_chars,
           CAST(sum(n_chars) - max(CASE WHEN rk = 1 THEN n_chars END)
             AS BIGINT) AS dropped_chars
         FROM q GROUP BY cluster_id ORDER BY cluster_id""",
    // p26's recursive transitive closure, rolled up into the histogram;
    // singleton row from the corpus total minus the clustered count
    "p82_cluster_sizes" ->
      """WITH RECURSIVE toks AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+2], ' ')) END)) AS s
                FROM toks),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    count(*) AS n_inter
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
         prs AS (SELECT doc_a, doc_b FROM cand
                 JOIN sizes sa ON sa.doc_id = doc_a
                 JOIN sizes sb ON sb.doc_id = doc_b
                 WHERE n_inter * 100 >= (sa.n + sb.n - n_inter) * 60),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
                   UNION SELECT doc_b, doc_a FROM prs),
         reach AS (SELECT u, v FROM edges
                   UNION
                   SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         labels AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
                    FROM reach GROUP BY u),
         szs AS (SELECT cluster_id, count(*) AS cluster_size
                 FROM labels GROUP BY cluster_id),
         hist AS (SELECT cluster_size, count(*) AS n_clusters,
             CAST(sum(cluster_size) AS BIGINT) AS n_docs
           FROM szs GROUP BY cluster_size),
         tot AS (SELECT count(*) AS total FROM documents),
         clu AS (SELECT count(*) AS clustered FROM labels)
         SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(n_clusters AS BIGINT) AS n_clusters, n_docs FROM hist
         UNION ALL
         SELECT 1, total - clustered, total - clustered FROM tot, clu
         ORDER BY cluster_size""",
    // same first-occurrence formulation: unnest + min, checkpoint join
    "p81_vocab_growth" ->
      """WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
         cps AS (SELECT k, ((mx + 1) * k) // 10 AS lim
             FROM range(1, 11) t(k), mx),
         tok AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
           FROM documents),
         first AS (SELECT tok, min(doc_id) AS first_doc FROM tok
           GROUP BY tok),
         vocab AS (SELECT k, count(*) AS distinct_tokens
           FROM first, cps WHERE first_doc < lim GROUP BY k),
         toks AS (SELECT k, count(*) AS n_docs,
             CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
               AS BIGINT) AS total_tokens
           FROM documents, cps WHERE doc_id < lim GROUP BY k)
         SELECT t.k, t.n_docs, t.total_tokens,
           CAST(v.distinct_tokens AS BIGINT) AS distinct_tokens
         FROM toks t JOIN vocab v USING (k) ORDER BY k""",
    // same ⌊√n⌋ weights and floor-divided ppm over the per-lang rollup
    "p80_temperature_mix" ->
      """WITH per AS (SELECT lang, count(*) AS n_docs,
             CAST(floor(sqrt(count(*))) AS BIGINT) AS w
           FROM documents GROUP BY lang),
         tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
             CAST(sum(w) AS BIGINT) AS sum_w FROM per)
         SELECT lang, n_docs, n_docs * 1000000 // total AS raw_ppm,
           w * 1000000 // sum_w AS temp_ppm
         FROM per, tot ORDER BY lang""",
    // same floor-divided integer HHI via window shares over the
    // (lang, source) rollup
    "p79_source_hhi" ->
      """WITH t AS (SELECT lang, source,
             CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
               AS BIGINT) AS toks
           FROM documents GROUP BY lang, source),
         s AS (SELECT lang, toks,
             CAST(sum(toks) OVER (PARTITION BY lang) AS BIGINT) AS total,
             count(*) OVER (PARTITION BY lang) AS n_sources FROM t)
         SELECT lang, CAST(max(n_sources) AS BIGINT) AS n_sources,
           CAST(sum((toks * 1000000 // total) * (toks * 1000000 // total))
             // 1000000 AS BIGINT) AS hhi_ppm
         FROM s GROUP BY lang ORDER BY lang""",
    // per-pattern non-overlapping regexp counts — equals AC all-matches
    // for the border-free pattern list
    "p77_blocklist_scan" ->
      """WITH pats(p) AS (VALUES ('customer'), ('data column'),
           ('fast key'), ('scan slow'), ('spark'), ('vector')),
         m AS (SELECT d.doc_id, p,
           len(regexp_extract_all(d.text, p)) AS c
           FROM documents d CROSS JOIN pats)
         SELECT p AS pattern,
           CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
           CAST(sum(c) AS BIGINT) AS n_matches
         FROM m GROUP BY p HAVING sum(c) > 0 ORDER BY pattern""",
    // p04's prediction chain joined back to the stored label
    "p76_langid_confusion" ->
      """WITH hits AS (SELECT doc_id, lang,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             t -> t IN ('the','a','of','and','is'))) AS en_hits,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             t -> t IN ('le','la','et','les','des'))) AS fr_hits,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             t -> t IN ('el','los','y','las','una'))) AS es_hits,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             t -> t IN ('der','die','und','das','ein'))) AS de_hits
         FROM documents),
         pred AS (SELECT lang,
         CASE
           WHEN en_hits > 0 AND en_hits >= fr_hits AND en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
           WHEN fr_hits > 0 AND fr_hits >= en_hits AND fr_hits >= es_hits AND fr_hits >= de_hits THEN 'fr'
           WHEN es_hits > 0 AND es_hits >= en_hits AND es_hits >= fr_hits AND es_hits >= de_hits THEN 'es'
           WHEN de_hits > 0 AND de_hits >= en_hits AND de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
           ELSE 'und' END AS lang_pred
         FROM hits)
         SELECT lang, lang_pred, count(*) AS n_docs
         FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred""",
    // feature-hashing vectors rebuilt in SQL from the raw corpus: same
    // salted md5-low63 bucket/sign hashes, same integer summaries
    "p74_hash_vectors" ->
      """WITH toks AS (SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\s+')) AS t
           FROM documents),
         b AS (SELECT doc_id,
           (md5_number_lower(t || '|fh') & 9223372036854775807) % 64 AS bucket,
           CASE WHEN (md5_number_lower(t || '|fhs') & 9223372036854775807) % 2 = 0
                THEN 1 ELSE -1 END AS sgn
           FROM toks),
         vec AS (SELECT doc_id, bucket, sum(sgn) AS v
                 FROM b GROUP BY doc_id, bucket)
         SELECT doc_id, CAST(sum(abs(v)) AS BIGINT) AS l1_norm,
           CAST(sum(v * v) AS BIGINT) AS l2sq_norm,
           CAST(sum(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz
         FROM vec GROUP BY doc_id ORDER BY doc_id""",
    // readability replica: same tokenization/sentence/vowel-group counts,
    // floor divisions on non-negative operands only
    "p75_readability" ->
      """WITH c AS (SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS w,
           greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
           len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y
           FROM documents)
         SELECT doc_id, CAST(w AS BIGINT) AS n_words,
           CAST(s AS BIGINT) AS n_sentences,
           CAST(y AS BIGINT) AS n_vowel_groups,
           CAST(w * 1000 // s AS BIGINT) AS wps_milli,
           CAST(y * 1000 // w AS BIGINT) AS spw_milli,
           CAST(206835 - (1015 * w) // s - (84600 * y) // w AS BIGINT)
             AS flesch_milli
         FROM c ORDER BY doc_id""",
    // KS drift: identical even/odd slices, cumulative conditional counts
    // over distinct lengths, sup of |F_a - F_b| scaled by n_a*n_b
    "p72_ks_drift" ->
      """WITH b AS (SELECT n_chars AS v,
           CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS ia,
           CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS ib FROM documents),
         byval AS (SELECT v, sum(ia) AS ca, sum(ib) AS cb FROM b GROUP BY v),
         tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                        CAST(sum(cb) AS BIGINT) AS n_b FROM byval),
         cum AS (SELECT v,
           sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
           sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
           FROM byval)
         SELECT CAST(v AS BIGINT) AS at_value, n_a, n_b,
           CAST(abs(cum_a * n_b - cum_b * n_a) AS BIGINT) AS ks_scaled
         FROM cum, tot ORDER BY ks_scaled DESC, at_value ASC LIMIT 1""",
    // split leakage: identical variant plant + normalization, cluster split
    // by md5-low63 of the representative (md5_number_lower & mask ≡ engine
    // md5Low63 — established), naive per-doc split recomputed per member
    "p73_split_leakage" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 30000000, upper(replace(text, ' ', '  '))
           FROM documents WHERE doc_id % 11 = 5),
         keyed AS (SELECT doc_id,
           md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nkey
           FROM corpus),
         docb AS (SELECT doc_id, nkey,
           (md5_number_lower(CAST(doc_id AS VARCHAR) || '|spl')
            & 9223372036854775807) % 100 AS b FROM keyed),
         clus AS (SELECT nkey, min(doc_id) AS rep, count(*) AS n,
           count(DISTINCT CASE WHEN b < 90 THEN 'train'
                 WHEN b < 95 THEN 'val' ELSE 'test' END) AS nsplits
           FROM docb GROUP BY nkey),
         asg AS (SELECT
           CASE WHEN rb < 90 THEN 'train' WHEN rb < 95 THEN 'val'
                ELSE 'test' END AS split, n,
           CASE WHEN n > 1 AND nsplits > 1 THEN 1 ELSE 0 END AS leaky
           FROM (SELECT clus.*,
             (md5_number_lower(CAST(rep AS VARCHAR) || '|spl')
              & 9223372036854775807) % 100 AS rb FROM clus))
         SELECT split, count(*) AS n_clusters,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(sum(leaky) AS BIGINT) AS n_leaky_naive
         FROM asg GROUP BY split ORDER BY split""",
    "p11_shingle_counts" ->
      """SELECT doc_id,
         len(list_distinct(list_transform(
           range(1, greatest(len(regexp_split_to_array(trim(text),'\s+')) - 2, 1) + 1),
           i -> array_to_string(regexp_split_to_array(trim(text),'\s+')[i:i+2], ' ')
         ))) AS n_shingles
         FROM documents ORDER BY doc_id""",
    // exact all-pairs shingle Jaccard — the LSH path must find exactly this
    // set (its parameters are chosen for recall ≈ 1 at the 60% threshold)
    "p05_minhash_neardup" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
                       FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+2], ' ')) END)) AS s
                FROM toks),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT doc_a, doc_b, n_inter, (sa.n + sb.n - n_inter) AS n_union
         FROM pairs
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE n_inter * 100 >= (sa.n + sb.n - n_inter) * 60
         ORDER BY doc_a, doc_b""",
    // connected components over the exact near-dup pair set (identical to
    // what the LSH path finds at these recall-1 parameters): symmetric
    // closure via recursive CTE, cluster_id = min reachable doc_id
    "p26_dup_clusters" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
                       FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+2], ' ')) END)) AS s
                FROM toks),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
         prs AS (SELECT doc_a, doc_b FROM cand
                 JOIN sizes sa ON sa.doc_id = doc_a
                 JOIN sizes sb ON sb.doc_id = doc_b
                 WHERE n_inter * 100 >= (sa.n + sb.n - n_inter) * 60),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
                   UNION SELECT doc_b, doc_a FROM prs),
         reach AS (SELECT u, v FROM edges
                   UNION
                   SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         labels AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
                    FROM reach GROUP BY u),
         szs AS (SELECT cluster_id, count(*) AS cluster_size
                 FROM labels GROUP BY cluster_id)
         SELECT l.doc_id, l.cluster_id, s.cluster_size
         FROM labels l JOIN szs s USING (cluster_id)
         ORDER BY l.doc_id""",
    // p26's cluster chain + the same unsigned md5-half fold hash
    // (Spark derives it via conv(hex,16,10) through DECIMAL(20);
    // DuckDB via the '0x'-string UBIGINT cast — identical big-endian
    // value), singletons labeled by themselves via the LEFT JOIN
    "p136_group_kfold" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
                       FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+2], ' ')) END)) AS s
                FROM toks),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
         prs AS (SELECT doc_a, doc_b FROM cand
                 JOIN sizes sa ON sa.doc_id = doc_a
                 JOIN sizes sb ON sb.doc_id = doc_b
                 WHERE n_inter * 100 >= (sa.n + sb.n - n_inter) * 60),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
                   UNION SELECT doc_b, doc_a FROM prs),
         reach AS (SELECT u, v FROM edges
                   UNION
                   SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         labels AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
                    FROM reach GROUP BY u),
         lbl AS (SELECT d.doc_id,
             coalesce(l.cluster_id, d.doc_id) AS cid
           FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
         asg AS (SELECT doc_id, cid,
             CAST(CAST(('0x' || substr(md5(CAST(cid AS VARCHAR)
               || ':fold'), 17, 16)) AS UBIGINT) % 5 AS BIGINT) AS fold,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
               || ':fold'), 17, 16)) AS UBIGINT) % 5 AS BIGINT)
               AS doc_fold
           FROM lbl),
         sp AS (SELECT CAST(count(*) AS BIGINT) AS s FROM (
             SELECT cid FROM asg GROUP BY cid
             HAVING count(DISTINCT doc_fold) > 1) q)
         SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT cid) AS BIGINT) AS n_clusters,
           (SELECT s FROM sp) AS doc_split_spanning
         FROM asg GROUP BY fold ORDER BY fold""",
    // the full-graph recompute the incremental path avoids: identical
    // chain to p26 (exact Jaccard≥0.6 pairs over the WHOLE corpus,
    // recursive-CTE reachability, min-label, sizes) — base∪delta must
    // reproduce it row-for-row
    "p132_cc_incremental" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
                       FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+2], ' ')) END)) AS s
                FROM toks),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
         prs AS (SELECT doc_a, doc_b FROM cand
                 JOIN sizes sa ON sa.doc_id = doc_a
                 JOIN sizes sb ON sb.doc_id = doc_b
                 WHERE n_inter * 100 >= (sa.n + sb.n - n_inter) * 60),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
                   UNION SELECT doc_b, doc_a FROM prs),
         reach AS (SELECT u, v FROM edges
                   UNION
                   SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         labels AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
                    FROM reach GROUP BY u),
         szs AS (SELECT cluster_id, count(*) AS cluster_size
                 FROM labels GROUP BY cluster_id)
         SELECT l.doc_id, l.cluster_id, s.cluster_size
         FROM labels l JOIN szs s USING (cluster_id)
         ORDER BY l.doc_id""",
    // quality-filter replica: same integer rule products, bigram top count
    // via per-doc group-max, keep as 0/1
    "p29_quality_filter" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
                    FROM documents),
         bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
                  i -> tk[i] || ' ' || tk[i+1])) AS b
                FROM t),
         bgc AS (SELECT doc_id, max(c) AS top FROM
                   (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2)
                 GROUP BY doc_id),
         sig AS (SELECT doc_id,
                   CAST(len(tk) AS BIGINT) AS n_tokens,
                   CAST(list_sum(list_transform(tk, x -> length(x))) AS BIGINT)
                     AS sum_token_chars,
                   CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))
                     AS BIGINT) AS n_alpha_tokens,
                   CAST(len(list_filter(tk,
                     x -> x IN ('the','a','of','and','to','in','is')))
                     AS BIGINT) AS n_stop_hits
                 FROM t)
         SELECT s.doc_id, n_tokens, sum_token_chars, n_alpha_tokens,
           n_stop_hits, CAST(coalesce(b.top, 0) AS BIGINT) AS n_top_bigram,
           CAST((n_tokens BETWEEN 30 AND 100000
             AND sum_token_chars BETWEEN 3 * n_tokens AND 10 * n_tokens
             AND 100 * n_alpha_tokens >= 80 * n_tokens
             AND n_stop_hits >= 2
             AND 100 * coalesce(b.top, 0) <= 20 * greatest(n_tokens - 1, 1))
             AS BIGINT) AS keep
         FROM sig s LEFT JOIN bgc b USING (doc_id)
         ORDER BY s.doc_id""",
    // quota-sample replica: same masked-md5 rank order per stratum
    "p32_quota_sample" ->
      """WITH ranked AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
                  row_number() OVER (PARTITION BY lang ORDER BY
                    (md5_number_lower(CAST(doc_id AS VARCHAR) || '|qta')
                     & 9223372036854775807) ASC, CAST(doc_id AS BIGINT) ASC)
                    AS rk
                FROM documents)
         SELECT doc_id, lang FROM ranked
         WHERE rk <= CASE WHEN lang = 'en' THEN 40 ELSE 15 END
         ORDER BY doc_id""",
    // OOV replica: same induced vocab (term_freq DESC, token ASC, LIMIT),
    // per-doc occurrence and type counts outside it
    "p31_oov_stats" ->
      """WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                  FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
         vocab AS (SELECT tok FROM
                     (SELECT tok, sum(tf) AS term_freq FROM tf GROUP BY tok)
                   ORDER BY term_freq DESC, tok LIMIT 20)
         SELECT doc_id,
           CAST(sum(CASE WHEN tok NOT IN (SELECT tok FROM vocab)
                    THEN tf ELSE 0 END) AS BIGINT) AS n_oov_tokens,
           CAST(sum(CASE WHEN tok NOT IN (SELECT tok FROM vocab)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_types
         FROM tf GROUP BY doc_id ORDER BY doc_id""",
    // curation-chain replica: the p29/p01/p27/p24 rules composed as CTEs
    // over the train split, rolled up per language
    "p30_curation_pipeline" ->
      """WITH train AS (SELECT * FROM documents WHERE doc_id % 20 <> 0),
         toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
                  FROM train),
         bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
                  i -> tk[i] || ' ' || tk[i+1])) AS b
                FROM toks),
         bgc AS (SELECT doc_id, max(c) AS top FROM
                   (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2)
                 GROUP BY doc_id),
         sig AS (SELECT doc_id,
                   CAST(len(tk) AS BIGINT) AS n_tokens,
                   CAST(list_sum(list_transform(tk, x -> length(x))) AS BIGINT)
                     AS sum_tc,
                   CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))
                     AS BIGINT) AS n_alpha,
                   CAST(len(list_filter(tk,
                     x -> x IN ('the','a','of','and','to','in','is')))
                     AS BIGINT) AS n_stop
                 FROM toks),
         quality AS (SELECT s.doc_id FROM sig s LEFT JOIN bgc b USING (doc_id)
                     WHERE n_tokens BETWEEN 30 AND 100000
                       AND sum_tc BETWEEN 3 * n_tokens AND 10 * n_tokens
                       AND 100 * n_alpha >= 80 * n_tokens
                       AND n_stop >= 2
                       AND 100 * coalesce(b.top, 0)
                           <= 20 * greatest(n_tokens - 1, 1)),
         keepers AS (SELECT min(doc_id) AS doc_id FROM train GROUP BY md5(text)),
         alltoks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
                     FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 4 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 2),
                         i -> array_to_string(tk[i:i+3], ' ')) END)) AS s
                FROM alltoks),
         hs AS (SELECT doc_id,
                  CAST(md5_number_lower(s) & 9223372036854775807 AS BIGINT) AS h
                FROM sh),
         bench AS (SELECT DISTINCT h FROM hs WHERE doc_id % 20 = 0),
         contaminated AS (SELECT DISTINCT doc_id FROM hs JOIN bench USING (h)
                          WHERE doc_id % 20 <> 0),
         sampled AS (SELECT doc_id FROM train
                     WHERE (md5_number_lower(CAST(doc_id AS VARCHAR) || '|smp')
                            & 9223372036854775807) % 100
                           < CASE WHEN lang = 'en' THEN 50 ELSE 20 END)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM train
         WHERE doc_id IN (SELECT doc_id FROM quality)
           AND doc_id IN (SELECT doc_id FROM keepers)
           AND doc_id NOT IN (SELECT doc_id FROM contaminated)
           AND doc_id IN (SELECT doc_id FROM sampled)
         GROUP BY lang ORDER BY lang""",
    // embedding cluster replica: p12's exact top-100 edge set → symmetric
    // recursive closure, cluster_id = min reachable vec_id
    "p28_embed_dup_clusters" ->
      """WITH RECURSIVE scored AS (
           SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) AS score
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
         top AS (SELECT vec_a, vec_b FROM scored
                 ORDER BY score DESC, vec_a, vec_b LIMIT 100),
         edges AS (SELECT vec_a AS u, vec_b AS v FROM top
                   UNION SELECT vec_b, vec_a FROM top),
         reach AS (SELECT u, v FROM edges
                   UNION
                   SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         labels AS (SELECT u AS vec_id, least(u, min(v)) AS cluster_id
                    FROM reach GROUP BY u),
         szs AS (SELECT cluster_id, count(*) AS cluster_size
                 FROM labels GROUP BY cluster_id)
         SELECT l.vec_id, l.cluster_id, s.cluster_size
         FROM labels l JOIN szs s USING (cluster_id)
         ORDER BY l.vec_id""",
    // decontamination replica: same masked md5-low63 gram hashes, same
    // doc_id % 20 eval split, distinct-gram hit counts per flagged doc
    "p27_decontaminate" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
                       FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 4 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 2),
                         i -> array_to_string(tk[i:i+3], ' ')) END)) AS s
                FROM toks),
         hs AS (SELECT doc_id,
                  CAST(md5_number_lower(s) & 9223372036854775807 AS BIGINT) AS h
                FROM sh),
         bench AS (SELECT DISTINCT h FROM hs WHERE doc_id % 20 = 0)
         SELECT doc_id, count(*) AS n_hit_grams
         FROM hs JOIN bench USING (h)
         WHERE doc_id % 20 <> 0
         GROUP BY doc_id ORDER BY doc_id""",
    // full simhash replica: md5-low64 per token, 64-bit vote, 16-bit bands
    "p06_simhash" ->
      """WITH toks AS (SELECT doc_id,
                unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
              FROM documents),
         votes AS (SELECT doc_id, b,
                sum(CASE WHEN ((md5_number_lower(tok) >> b) & 1) = 1
                    THEN 1 ELSE -1 END) AS v
              FROM toks, range(64) t(b) GROUP BY doc_id, b),
         bits AS (SELECT doc_id, b, CASE WHEN v > 0 THEN 1 ELSE 0 END AS bit
              FROM votes)
         SELECT doc_id,
           CAST(sum(CASE WHEN b BETWEEN  0 AND 15 THEN bit << b        ELSE 0 END) AS BIGINT) AS band0,
           CAST(sum(CASE WHEN b BETWEEN 16 AND 31 THEN bit << (b - 16) ELSE 0 END) AS BIGINT) AS band1,
           CAST(sum(CASE WHEN b BETWEEN 32 AND 47 THEN bit << (b - 32) ELSE 0 END) AS BIGINT) AS band2,
           CAST(sum(CASE WHEN b BETWEEN 48 AND 63 THEN bit << (b - 48) ELSE 0 END) AS BIGINT) AS band3
         FROM bits GROUP BY doc_id ORDER BY doc_id""",
    // winnowing replica: md5-low63 5-gram hashes, window-4 sliding min,
    // distinct mins exploded per doc
    "p09_fingerprints" ->
      """WITH h AS (SELECT doc_id,
                list_transform(range(1, length(text) - 3),
                  i -> CAST(md5_number_lower(text[i:i+4]) & 9223372036854775807
                       AS BIGINT)) AS hs
              FROM documents WHERE length(text) >= 5),
         f AS (SELECT doc_id,
                CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
                ELSE list_distinct(list_transform(range(1, len(hs) - 2),
                       w -> list_min(hs[w:w+3]))) END AS fp
              FROM h)
         SELECT doc_id, unnest(fp) AS fp FROM f ORDER BY doc_id, fp""",
    // aggregates over the media-table dump p10 materializes at query time
    // independent formulation: every dHash rebuilt from the payload with
    // ord(substr) grid reads and a HUGEINT bit sum (signed-long fold at
    // 2^63), then the EXACT all-pairs hamming join the bands avoid —
    // pigeonhole makes band recall 1.0 at the threshold, so the sets
    // must be identical, not just overlapping
    "p127_phash_neardups" ->
      s"""WITH refs AS (SELECT ref FROM
           read_parquet('${phashRefsPath(dir)}/*.parquet')),
         bits AS (SELECT ref, k,
             CASE WHEN (ord(substr(ref,
                   CAST(((k // 8) * 9 + (k % 8)) % length(ref) + 1 AS INT),
                   1)) * 37 + 11 * ((k // 8) * 9 + (k % 8))) % 256
               < (ord(substr(ref,
                   CAST(((k // 8) * 9 + (k % 8) + 1) % length(ref) + 1
                     AS INT), 1)) * 37
                  + 11 * ((k // 8) * 9 + (k % 8) + 1)) % 256
             THEN (CAST(1 AS HUGEINT) << k) ELSE CAST(0 AS HUGEINT) END AS v
           FROM refs CROSS JOIN (SELECT unnest(range(64)) AS k) g),
         hu AS (SELECT ref, CAST(sum(v) AS HUGEINT) AS uh
                FROM bits GROUP BY ref),
         h AS (SELECT ref, CAST(CASE
             WHEN uh >= CAST('9223372036854775808' AS HUGEINT)
             THEN uh - CAST('18446744073709551616' AS HUGEINT)
             ELSE uh END AS BIGINT) AS h FROM hu)
         SELECT a.ref AS ref_a, b.ref AS ref_b,
           CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
         FROM h a JOIN h b ON a.ref < b.ref
         WHERE bit_count(xor(a.h, b.h)) <= 3
         ORDER BY 1, 2""",

    "p10_media_stats" ->
      s"""SELECT format, count(*) AS n_media,
         CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         max(width) AS max_width, max(height) AS max_height
         FROM read_parquet('${mediaDumpPath(dir)}/*.parquet')
         GROUP BY format ORDER BY format""",
    "p14_token_df" ->
      """WITH tok AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS token
           FROM documents),
         per AS (SELECT doc_id, token, count(*) AS n FROM tok GROUP BY 1, 2)
         SELECT token, count(*) AS doc_freq,
                CAST(sum(n) AS BIGINT) AS term_freq
         FROM per GROUP BY token""",
    "p15_pii_scrub" ->
      """WITH aug AS (SELECT doc_id,
           text || CASE WHEN doc_id % 3 = 0 THEN ' contact john.doe@example.com now'
                        WHEN doc_id % 3 = 1 THEN ' call 9876543210 today'
                        ELSE '' END AS t2 FROM documents),
         scrub1 AS (SELECT doc_id, t2,
           regexp_replace(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                          '<EMAIL>', 'g') AS t3 FROM aug)
         SELECT doc_id,
           len(regexp_extract_all(t2,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(t3, '[0-9]{10,}')) AS n_phones,
           md5(regexp_replace(t3, '[0-9]{10,}', '<PHONE>', 'g')) AS scrubbed_md5
         FROM scrub1""",
    "p16_repetition_stats" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
           FROM documents),
         bi AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
                  i -> tk[i] || ' ' || tk[i+1])) AS bg FROM tok),
         top AS (SELECT doc_id, max(n) AS top_bigram_count FROM
                   (SELECT doc_id, bg, count(*) AS n FROM bi GROUP BY 1, 2)
                 GROUP BY doc_id)
         SELECT t.doc_id, len(tk) AS n_tokens,
                len(list_distinct(tk)) AS n_distinct_tokens,
                coalesce(top.top_bigram_count, 0) AS top_bigram_count
         FROM tok t LEFT JOIN top ON t.doc_id = top.doc_id""",
    "p17_source_rollup" ->
      """SELECT source, lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars, max(n_chars) AS max_chars
         FROM documents GROUP BY source, lang""",
    // exact cell-table replica of the count-min sketch (salted md5 rows)
    "p19_count_min_sketch" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS t
           FROM documents),
         cell AS (SELECT r.range AS row,
             CAST((md5_number_lower(t || '#' || CAST(r.range AS VARCHAR))
                   & 9223372036854775807) % 256 AS INT) AS bucket
           FROM tok, range(4) r)
         SELECT row, bucket, count(*) AS count
         FROM cell GROUP BY row, bucket""",
    // resize/border/frame-sample math replicated over the media dump
    "p18_media_preprocess" ->
      s"""SELECT doc_id, media_ref, width, height,
         1800 AS new_width,
         CAST(floor(CAST(height AS DOUBLE) * 1800 / width) AS INT) AS new_height,
         1900 AS padded_width,
         CAST(floor(CAST(height AS DOUBLE) * 1800 / width) AS INT) + 100 AS padded_height,
         CAST(floor((n_frames + 29) / 30.0) AS INT) AS n_sampled_frames
         FROM read_parquet('${mediaDumpPath(dir)}/*.parquet')""",
    // bucket-restricted ANN ranking recomputed over the bucket dump p08
    // materializes at query time (count-keyed path shared with the query)
    "p08_ann_lsh_topk" ->
      s"""WITH b AS (SELECT * FROM read_parquet('${lshBucketDumpPath(dir)}/*.parquet')),
         wb AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, b.bucket
                FROM embeddings e JOIN b USING (vec_id)),
         q AS (SELECT vec_id AS query_id, emb AS q_emb, bucket AS q_bucket
               FROM wb ORDER BY vec_id LIMIT 10),
         scored AS (SELECT q.query_id, w.vec_id AS neighbor_id,
                           list_cosine_similarity(w.emb, q.q_emb) AS score
                    FROM wb w JOIN q ON w.bucket = q.q_bucket
                    WHERE w.vec_id <> q.query_id),
         ranked AS (SELECT query_id, neighbor_id,
                           row_number() OVER (PARTITION BY query_id
                             ORDER BY score DESC, neighbor_id) AS rank
                    FROM scored)
         SELECT query_id, rank, neighbor_id FROM ranked
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // IVF candidate sets re-ranked from the dumped assignment/probe tables
    "p13_ann_ivf_topk" ->
      s"""WITH a AS (SELECT * FROM read_parquet('${ivfAssignPath(dir)}/*.parquet')),
         p AS (SELECT * FROM read_parquet('${ivfProbePath(dir)}/*.parquet')),
         q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
               FROM embeddings ORDER BY vec_id LIMIT 10),
         cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
                  FROM p JOIN a USING (cell)),
         scored AS (SELECT c.query_id, c.neighbor_id,
                      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             q.q_emb) AS score
                    FROM cand c
                    JOIN embeddings e ON e.vec_id = c.neighbor_id
                    JOIN q ON q.query_id = c.query_id
                    WHERE c.neighbor_id <> c.query_id),
         ranked AS (SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, neighbor_id) AS rank
                    FROM scored)
         SELECT query_id, rank, neighbor_id FROM ranked
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // HLL register-table replica: md5-low63 per DISTINCT token (max over
    // occurrences == max over distincts), bucket = low p bits, rho from
    // bin()-length (bin prints no leading zeros → length == bit position)
    "p20_hll_registers" ->
      """WITH tok AS (SELECT DISTINCT
             unnest(regexp_split_to_array(trim(text), '\s+')) AS t
           FROM documents),
         h AS (SELECT md5_number_lower(t) & 9223372036854775807 AS hash FROM tok),
         r AS (SELECT CAST(hash & 63 AS INT) AS bucket, hash >> 6 AS v FROM h)
         SELECT bucket,
                max(CASE WHEN v = 0 THEN 58
                    ELSE 58 - length(bin(v)) END) AS max_rho
         FROM r GROUP BY bucket ORDER BY bucket""",
    // Bloom filter bit-table replica: k=3 salted md5 bits over distinct
    // tokens, OR'd into 32-bit words via sum over distinct set bits
    "p21_bloom_filter" ->
      """WITH tok AS (SELECT DISTINCT
             unnest(regexp_split_to_array(trim(text), '\s+')) AS t
           FROM documents),
         bits AS (SELECT DISTINCT
             CAST((md5_number_lower(t || '!' || CAST(j.range AS VARCHAR))
                   & 9223372036854775807) % 2048 AS INT) AS bit
           FROM tok, range(3) j)
         SELECT bit // 32 AS word_idx,
                CAST(sum(CAST(1 AS BIGINT) << (bit % 32)) AS BIGINT) AS bits
         FROM bits GROUP BY 1 ORDER BY 1""",
    // exact shingle-Jaccard pairs over md5-low63 shingle hashes (the
    // inverted-index join the Spark side runs, replicated hash-exactly)
    "p22_jaccard_pairs" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
                       FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+2], ' ')) END)) AS s
                FROM toks),
         hs AS (SELECT DISTINCT doc_id,
                  CAST(md5_number_lower(s) & 9223372036854775807 AS BIGINT) AS h
                FROM sh),
         hn AS (SELECT doc_id, h,
                  count(*) OVER (PARTITION BY doc_id) AS n FROM hs),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.n AS na, b.n AS nb, count(*) AS n_inter
                   FROM hn a JOIN hn b ON a.h = b.h AND a.doc_id < b.doc_id
                   GROUP BY 1, 2, 3, 4)
         SELECT doc_a, doc_b, n_inter, (na + nb - n_inter) AS n_union
         FROM pairs WHERE n_inter * 100 >= (na + nb - n_inter) * 50
         ORDER BY doc_a, doc_b""",
    // identical HRW argmax via arg_max over the same md5 hex-slice weights
    "p116_rendezvous_shards" ->
      """WITH w AS (SELECT doc_id, s,
             substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
               CAST(s AS VARCHAR)), 17, 16) AS wt
           FROM documents, range(17) t(s)),
         a16 AS (SELECT doc_id, arg_max(s, wt) AS s_old
                 FROM w WHERE s < 16 GROUP BY doc_id),
         a17 AS (SELECT doc_id, arg_max(s, wt) AS s_new
                 FROM w GROUP BY doc_id)
         SELECT s_new, count(*) AS n_docs,
           CAST(sum(CASE WHEN s_old <> s_new THEN 1 ELSE 0 END) AS BIGINT)
             AS n_moved
         FROM a16 JOIN a17 USING (doc_id) GROUP BY 1 ORDER BY 1""",
    // independent formulation: the oracle MATERIALIZES every suffix
    // string and sorts it — the Σlen²/2-byte plan prefix doubling exists
    // to avoid — then dense_rank() must agree with the doubling ranks on
    // every shard count and both product checksums. Binary-collation
    // ORDER BY equals the engine's char-code ranks on the ASCII corpus
    "p123_suffix_ranks" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 128) AS t
           FROM documents WHERE doc_id % 16 = 0),
         sfx AS (SELECT doc_id, pos, substr(t, CAST(pos AS INT) + 1) AS s
                 FROM d, range(128) r(pos) WHERE pos < length(t)),
         rk AS (SELECT doc_id, pos,
                  dense_rank() OVER (ORDER BY s) - 1 AS rnk FROM sfx)
         SELECT rnk >> 9 AS shard, count(*) AS n_suffixes,
           CAST(count(DISTINCT rnk) AS BIGINT) AS n_distinct,
           CAST(sum(pos) AS BIGINT) AS sum_pos,
           CAST(sum(rnk * (pos + 1)) AS BIGINT) AS chk_pos,
           CAST(sum(rnk * (doc_id % 997 + 1)) AS BIGINT) AS chk_doc
         FROM rk GROUP BY 1 ORDER BY 1""",

    // independent formulation: the oracle again materializes and sorts
    // every suffix string, takes one representative window per distinct
    // suffix, pairs adjacent ranks, and computes each LCP as a correlated
    // max-k over prefix equality (the O(W²)-per-pair plan the codegen
    // byte loop replaces); prefix equality is monotone so max-k is the LCP
    "p124_lcp_census" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 128) AS t
           FROM documents WHERE doc_id % 16 = 0),
         sfx AS (SELECT substr(t, CAST(pos AS INT) + 1) AS s
                 FROM d, range(128) r(pos) WHERE pos < length(t)),
         rk AS (SELECT s, dense_rank() OVER (ORDER BY s) - 1 AS rnk
                FROM sfx),
         rep AS (SELECT rnk, substr(min(s), 1, 64) AS win
                 FROM rk GROUP BY rnk),
         pr AS (SELECT a.rnk AS rnk, a.win AS wa, b.win AS wb
                FROM rep a JOIN rep b ON b.rnk = a.rnk + 1),
         l AS (SELECT rnk, coalesce((SELECT max(k) FROM range(1, 65) g(k)
                 WHERE substr(wa, 1, CAST(k AS INT)) =
                       substr(wb, 1, CAST(k AS INT))), 0) AS lcp
               FROM pr)
         SELECT CAST(lcp AS BIGINT) AS lcp, count(*) AS n_pairs,
           CAST(sum(rnk) AS BIGINT) AS chk_rnk
         FROM l GROUP BY 1 ORDER BY 1""",

    // independent formulation of the whole removal-plan chain: suffix
    // sort + dense_rank, class sizes, neighbor LCPs as correlated max-k
    // probes, member spans via greatest(neighbor, dup-class length), and
    // the interval union as the classic running-max islands window — the
    // engine's sorted-array fold must agree row-for-row per doc
    "p125_repeat_spans" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 128) AS t
           FROM documents WHERE doc_id % 4 = 0),
         sfx AS (SELECT doc_id, pos, length(t) AS len,
                   substr(t, CAST(pos AS INT) + 1) AS s
                 FROM d, range(128) r(pos) WHERE pos < length(t)),
         rk AS (SELECT doc_id, pos, len, s,
                  dense_rank() OVER (ORDER BY s) - 1 AS rnk FROM sfx),
         cls AS (SELECT rnk, count(*) AS n_members,
                   substr(min(s), 1, 64) AS win
                 FROM rk GROUP BY rnk),
         nxt AS (SELECT a.rnk AS rnk,
                   coalesce((SELECT max(k) FROM range(1, 65) g(k)
                     WHERE substr(a.win, 1, CAST(k AS INT)) =
                           substr(b.win, 1, CAST(k AS INT))), 0) AS lcp
                 FROM cls a JOIN cls b ON b.rnk = a.rnk + 1),
         crep AS (SELECT c.rnk, c.n_members,
                    greatest(coalesce(n1.lcp, 0), coalesce(n0.lcp, 0))
                      AS nbr_lcp
                  FROM cls c LEFT JOIN nxt n1 ON n1.rnk = c.rnk
                    LEFT JOIN nxt n0 ON n0.rnk = c.rnk - 1),
         spans AS (SELECT rk.doc_id, rk.pos AS s,
                     rk.pos + greatest(crep.nbr_lcp,
                       CASE WHEN crep.n_members >= 2
                            THEN least(rk.len - rk.pos, 64) ELSE 0 END)
                       AS e
                   FROM rk JOIN crep ON crep.rnk = rk.rnk
                   WHERE greatest(crep.nbr_lcp,
                       CASE WHEN crep.n_members >= 2
                            THEN least(rk.len - rk.pos, 64) ELSE 0 END)
                     >= 20),
         ordered AS (SELECT doc_id, s, e,
                       max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         AS prev_max
                     FROM spans),
         isl AS (SELECT doc_id, s, e,
                   sum(CASE WHEN prev_max IS NULL OR s > prev_max
                            THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY s, e
                           ROWS UNBOUNDED PRECEDING) AS island
                 FROM ordered),
         merged AS (SELECT doc_id, island, min(s) AS ms, max(e) AS me
                    FROM isl GROUP BY 1, 2),
         rawc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_raw
                  FROM spans GROUP BY 1)
         SELECT m.doc_id AS doc_id, rawc.n_raw AS n_raw,
           CAST(count(*) AS BIGINT) AS n_merged,
           CAST(sum(me - ms) AS BIGINT) AS bytes_flagged,
           CAST(sum(ms * (me - ms)) AS BIGINT) AS chk
         FROM merged m JOIN rawc ON rawc.doc_id = m.doc_id
         GROUP BY 1, 2 ORDER BY 1""",

    // independent formulation: the oracle RECOMPUTES the rollup from the
    // patched base (the 100 TB scan IVM avoids) — delta-apply must agree
    "p122_ivm_retracts" ->
      """WITH patched AS (
           SELECT source, lang, n_chars FROM documents
             WHERE doc_id % 10 <> 3 AND doc_id % 10 <> 7
           UNION ALL SELECT source, lang, n_chars * 2 FROM documents
             WHERE doc_id % 10 = 7
           UNION ALL SELECT 'ivm_new' AS source, lang, n_chars + 7
             FROM documents WHERE doc_id % 10 = 1)
         SELECT source, lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM patched GROUP BY 1, 2 ORDER BY 1, 2""",

    // identical 4-round Feistel arithmetic unrolled as chained CTEs; all
    // intermediates < 2^48 so BIGINT %, >>, & and xor() agree exactly
    "p121_feistel_shuffle" ->
      """WITH e AS (SELECT doc_id, e FROM documents, range(2) t(e)),
         r0 AS (SELECT doc_id, e, doc_id >> 16 AS l, doc_id & 65535 AS r
                FROM e),
         r1 AS (SELECT doc_id, e, r AS l, xor(l, ((r * 2654435761 +
             (e*1000003 + 0*7919 + 104729) * 40503 + 97) % 4294967296) >> 16)
             AS r FROM r0),
         r2 AS (SELECT doc_id, e, r AS l, xor(l, ((r * 2654435761 +
             (e*1000003 + 1*7919 + 104729) * 40503 + 97) % 4294967296) >> 16)
             AS r FROM r1),
         r3 AS (SELECT doc_id, e, r AS l, xor(l, ((r * 2654435761 +
             (e*1000003 + 2*7919 + 104729) * 40503 + 97) % 4294967296) >> 16)
             AS r FROM r2),
         r4 AS (SELECT doc_id, e, r AS l, xor(l, ((r * 2654435761 +
             (e*1000003 + 3*7919 + 104729) * 40503 + 97) % 4294967296) >> 16)
             AS r FROM r3),
         p AS (SELECT doc_id, e AS epoch, l*65536 + r AS pos FROM r4)
         SELECT epoch, pos >> 27 AS shard, count(*) AS n_docs,
           CAST(count(DISTINCT pos) AS BIGINT) AS n_distinct_pos,
           min(pos) AS min_pos, max(pos) AS max_pos
         FROM p GROUP BY 1, 2 ORDER BY 1, 2""",

    // the oracle RUNS the join the plan only predicted: per-key counted
    // output of the real many-to-many join must equal rows_a*rows_b
    "p117_join_size_plan" ->
      """WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_quantity >= 10),
         b AS (SELECT l_suppkey FROM lineitem WHERE l_quantity < 40),
         j AS (SELECT a.l_suppkey AS l_suppkey, count(*) AS join_rows
               FROM a JOIN b ON a.l_suppkey = b.l_suppkey GROUP BY 1),
         ca AS (SELECT l_suppkey, count(*) AS rows_a FROM a GROUP BY 1),
         cb AS (SELECT l_suppkey, count(*) AS rows_b FROM b GROUP BY 1),
         tot AS (SELECT sum(join_rows) AS t FROM j)
         SELECT j.l_suppkey, rows_a, rows_b,
           CAST(join_rows AS BIGINT) AS join_rows,
           CAST(join_rows * 1000000 // t AS BIGINT) AS share_ppm
         FROM j JOIN ca ON j.l_suppkey = ca.l_suppkey
                JOIN cb ON j.l_suppkey = cb.l_suppkey, tot
         ORDER BY j.l_suppkey""",
    // same planting via chr() codepoints (233 composed, 769 combining
    // acute); utf8proc's nfc_normalize must agree with the JDK normalizer
    "p120_nfc_dedup" ->
      """WITH plant AS (SELECT doc_id, text FROM documents
             WHERE doc_id % 17 = 0),
         u AS (SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 500000, text || 'caf' || chr(233)
                 FROM plant
               UNION ALL SELECT doc_id + 600000,
                 text || 'cafe' || chr(769) FROM plant),
         c AS (SELECT md5(nfc_normalize(text)) AS nfc_md5,
                 count(*) AS n_members,
                 count(DISTINCT md5(text)) AS n_raw,
                 min(doc_id) AS min_doc_id
               FROM u GROUP BY 1)
         SELECT nfc_md5, CAST(n_members AS BIGINT) AS n_members,
           CAST(n_raw AS BIGINT) AS n_raw, min_doc_id
         FROM c WHERE n_members > 1 ORDER BY min_doc_id""",
    // the oracle regenerates the schedule with lateral generate_series and
    // DuckDB's // integer division over the same dumped media table
    "p119_frame_schedule" ->
      s"""WITH m AS (SELECT doc_id, media_ref,
             CAST(n_frames AS BIGINT) AS n_frames,
             CAST(least(8, n_frames) AS BIGINT) AS sample_k
           FROM read_parquet('${mediaDumpPath(dir)}/*.parquet'))
         SELECT doc_id, media_ref, n_frames, sample_k,
           CAST((j * n_frames) // sample_k AS BIGINT) AS frame_idx,
           CAST(((j * n_frames) // sample_k * 1001000) // 24000 AS BIGINT)
             AS ts_ms
         FROM m, UNNEST(generate_series(0, sample_k - 1)) AS u(j)
         ORDER BY doc_id, media_ref, frame_idx""",
    // the oracle replays the dirtying AND the integer scoring verbatim:
    // same digit transposition, same drift, same weights — any divergence
    // in levenshtein/substr/CASE semantics between engines surfaces here
    "p118_record_linkage" ->
      """WITH a AS (SELECT c_custkey AS key, c_name AS name,
             CAST(c_nationkey AS BIGINT) AS block,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             c_mktsegment AS seg FROM customer),
         b AS (SELECT key,
             CASE WHEN key % 2 = 0 THEN substr(name, 1, 16)
                    || substr(name, 18, 1) || substr(name, 17, 1)
                  ELSE name END AS name,
             block, cents + key % 151 - 75 AS cents,
             CASE WHEN key % 5 = 0 THEN 'UNKNOWN' ELSE seg END AS seg
           FROM a WHERE key % 3 = 0),
         s AS (SELECT a.key AS a_key, b.key AS b_key,
             CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev,
             a.cents AS a_cents, b.cents AS b_cents,
             a.seg AS a_seg, b.seg AS b_seg
           FROM a JOIN b ON a.block = b.block),
         w AS (SELECT a_key, b_key, lev,
             CASE WHEN lev = 0 THEN 24 WHEN lev <= 2 THEN 12
                  ELSE -8 END AS w_name,
             CASE WHEN abs(a_cents - b_cents) <= 75 THEN 10
                  ELSE -6 END AS w_bal,
             CASE WHEN a_seg = b_seg THEN 6 ELSE -4 END AS w_seg
           FROM s)
         SELECT a_key, b_key, lev,
           CAST(w_name AS BIGINT) AS w_name, CAST(w_bal AS BIGINT) AS w_bal,
           CAST(w_seg AS BIGINT) AS w_seg,
           CAST(w_name + w_bal + w_seg AS BIGINT) AS score,
           CAST(a_key = b_key AS BIGINT) AS is_true
         FROM w WHERE w_name + w_bal + w_seg >= 18
         ORDER BY a_key, b_key""",
    // p118's scoring verbatim over the UNION of block predicates (the
    // multi-pass candidate set): same dirtying, same weights, join ON
    // nation-block OR either offset cents band
    "p135_linkage_multipass" ->
      """WITH a AS (SELECT c_custkey AS key, c_name AS name,
             CAST(c_nationkey AS BIGINT) AS block,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             c_mktsegment AS seg FROM customer),
         b AS (SELECT key,
             CASE WHEN key % 2 = 0 THEN substr(name, 1, 16)
                    || substr(name, 18, 1) || substr(name, 17, 1)
                  ELSE name END AS name,
             block, cents + key % 151 - 75 AS cents,
             CASE WHEN key % 5 = 0 THEN 'UNKNOWN' ELSE seg END AS seg
           FROM a WHERE key % 3 = 0),
         s AS (SELECT a.key AS a_key, b.key AS b_key,
             CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev,
             a.cents AS a_cents, b.cents AS b_cents,
             a.seg AS a_seg, b.seg AS b_seg
           FROM a JOIN b ON a.block = b.block
             OR a.cents // 200 = b.cents // 200
             OR (a.cents + 100) // 200 = (b.cents + 100) // 200),
         w AS (SELECT a_key, b_key, lev,
             CASE WHEN lev = 0 THEN 24 WHEN lev <= 2 THEN 12
                  ELSE -8 END AS w_name,
             CASE WHEN abs(a_cents - b_cents) <= 75 THEN 10
                  ELSE -6 END AS w_bal,
             CASE WHEN a_seg = b_seg THEN 6 ELSE -4 END AS w_seg
           FROM s)
         SELECT a_key, b_key, lev,
           CAST(w_name AS BIGINT) AS w_name, CAST(w_bal AS BIGINT) AS w_bal,
           CAST(w_seg AS BIGINT) AS w_seg,
           CAST(w_name + w_bal + w_seg AS BIGINT) AS score,
           CAST(a_key = b_key AS BIGINT) AS is_true
         FROM w WHERE w_name + w_bal + w_seg >= 18
         ORDER BY a_key, b_key""",
    // identical bag-Jaccard derivation over NON-distinct shingles: tf maps
    // keyed by the masked md5-low64 hash, Σmax = wsum_a + wsum_b − Σmin
    "p114_weighted_jaccard" ->
      """WITH toks AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
         sh AS (SELECT doc_id, unnest(
                  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+2], ' ')) END) AS t
                FROM toks),
         tf AS (SELECT doc_id,
             CAST(md5_number_lower(t) & 9223372036854775807 AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS tf FROM sh GROUP BY 1, 2),
         ws AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS wsum
                FROM tf GROUP BY 1),
         j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS w_inter
               FROM tf a JOIN tf b ON a.h = b.h AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
         SELECT doc_a, doc_b, w_inter,
           CAST(wa.wsum + wb.wsum - w_inter AS BIGINT) AS w_union
         FROM j JOIN ws wa ON wa.doc_id = j.doc_a
                JOIN ws wb ON wb.doc_id = j.doc_b
         WHERE w_inter * 100 >= (wa.wsum + wb.wsum - w_inter) * 50
         ORDER BY doc_a, doc_b""",
    // identical spoof planting and skeleton rule (translate folds the ten
    // Cyrillic lookalikes, zero-widths deleted by the short 'to' string)
    "p115_homoglyph_dedup" ->
      ("""WITH spoof AS (SELECT doc_id + 1000000000 AS doc_id,
             translate(text, 'aeopcyxisj', '""" + CYRILLIC_LOOKALIKES +
        """') || chr(8203) AS text
           FROM documents WHERE doc_id % 251 = 7),
         u AS (SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id, text FROM spoof),
         k AS (SELECT doc_id,
             md5(lower(translate(text, '""" + CYRILLIC_LOOKALIKES +
        """' || chr(8203) || chr(8204) || chr(8205) || chr(65279),
               'aeopcyxisj'))) AS skeleton_md5,
             md5(text) AS raw_md5 FROM u)
         SELECT skeleton_md5, count(*) AS n_docs,
           CAST(count(DISTINCT raw_md5) AS BIGINT) AS n_raw,
           min(doc_id) AS keeper_doc_id
         FROM k GROUP BY 1
         HAVING count(*) >= 2 AND count(DISTINCT raw_md5) >= 2
         ORDER BY skeleton_md5"""),
    // the FULL inverted-index join, computed independently of the engine's
    // prefix filter — identical rows prove the prefix candidates lossless
    "p113_jaccard_prefix" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
                       FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+2], ' ')) END)) AS s
                FROM toks),
         hs AS (SELECT DISTINCT doc_id,
                  CAST(md5_number_lower(s) & 9223372036854775807 AS BIGINT) AS h
                FROM sh),
         hn AS (SELECT doc_id, h,
                  count(*) OVER (PARTITION BY doc_id) AS n FROM hs),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.n AS na, b.n AS nb, count(*) AS n_inter
                   FROM hn a JOIN hn b ON a.h = b.h AND a.doc_id < b.doc_id
                   GROUP BY 1, 2, 3, 4)
         SELECT doc_a, doc_b, n_inter, (na + nb - n_inter) AS n_union
         FROM pairs WHERE n_inter * 100 >= (na + nb - n_inter) * 50
         ORDER BY doc_a, doc_b""",
    // df-capped variant: identical pipeline with postings of shingle keys
    // whose document frequency exceeds the cap removed before the
    // self-join; set sizes (and so n_union) remain the uncapped ones
    "p25_jaccard_capped" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
                       FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+2], ' ')) END)) AS s
                FROM toks),
         hs AS (SELECT DISTINCT doc_id,
                  CAST(md5_number_lower(s) & 9223372036854775807 AS BIGINT) AS h
                FROM sh),
         hn AS (SELECT doc_id, h,
                  count(*) OVER (PARTITION BY doc_id) AS n FROM hs),
         dfreq AS (SELECT h, count(*) AS df FROM hs GROUP BY h),
         idx AS (SELECT hn.doc_id, hn.h, hn.n
                 FROM hn JOIN dfreq USING (h) WHERE dfreq.df <= 3),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.n AS na, b.n AS nb, count(*) AS n_inter
                   FROM idx a JOIN idx b ON a.h = b.h AND a.doc_id < b.doc_id
                   GROUP BY 1, 2, 3, 4)
         SELECT doc_a, doc_b, n_inter, (na + nb - n_inter) AS n_union
         FROM pairs WHERE n_inter * 100 >= (na + nb - n_inter) * 50
         ORDER BY doc_a, doc_b""",
    // TF-IDF top-k ranking replica: integer idf via // division, dot over
    // shared tokens only, ties by neighbor_id
    "p23_tfidf_topk" ->
      """WITH tok AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         idf AS (SELECT token,
             ((SELECT count(*) FROM documents) * 100) // count(*) AS idf
           FROM tf GROUP BY token),
         w AS (SELECT tf.doc_id, tf.token, tf.tf * idf.idf AS wt
               FROM tf JOIN idf USING (token)),
         scored AS (SELECT q.doc_id AS query_id, d.doc_id AS neighbor_id,
                      sum(d.wt * q.wt) AS dot
                    FROM w d JOIN w q ON d.token = q.token
                      AND q.doc_id < 10 AND d.doc_id <> q.doc_id
                    GROUP BY 1, 2),
         ranked AS (SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY dot DESC, neighbor_id) AS rank
                    FROM scored)
         SELECT query_id, rank, neighbor_id FROM ranked
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // deterministic stratified sample replica (same md5 rule, same salt)
    "p24_hash_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE (md5_number_lower(CAST(doc_id AS VARCHAR) || '|smp')
                & 9223372036854775807) % 100
               < CASE WHEN lang = 'en' THEN 50 ELSE 20 END
         ORDER BY doc_id""",
    // exact all-pairs cosine top-k (the Spark side must reproduce it from
    // the distributed bounded-heap)
    "p12_embedding_top_pairs" ->
      """WITH scored AS (
           SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) AS score
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         SELECT row_number() OVER (ORDER BY score DESC, vec_a, vec_b) AS rank,
                vec_a, vec_b
         FROM scored ORDER BY score DESC, vec_a, vec_b LIMIT 100""",
    // packing replica: the exclusive running-sum window over doc_id order
    "p33_seq_packing" ->
      """WITH t AS (SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
             CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS global_offset
           FROM t)
         SELECT doc_id, n_tokens, global_offset,
                CAST(global_offset // 256 AS BIGINT) AS start_pack,
                CAST((global_offset + greatest(n_tokens, 1) - 1) // 256
                     AS BIGINT) AS end_pack
         FROM c ORDER BY doc_id""",
    // per-source cap replica: quality-rank window, longest-first
    "p34_domain_cap" ->
      """WITH r AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
           FROM documents)
         SELECT doc_id, source, n_chars, rk FROM r
         WHERE rk <= 10 ORDER BY source, rk""",
    // HLL validation replica: same register build as p20 but keyed by
    // (doc_id|token), then the identical integer estimator formula
    "p35_hll_validate" ->
      """WITH pairs AS (SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS t
           FROM documents),
         h AS (SELECT md5_number_lower(CAST(doc_id AS VARCHAR) || '|' || t)
                      & 9223372036854775807 AS hash FROM pairs),
         r AS (SELECT CAST(hash & 63 AS INT) AS bucket, hash >> 6 AS v FROM h),
         regs AS (SELECT bucket,
             max(CASE WHEN v = 0 THEN 58
                 ELSE 58 - length(bin(v)) END) AS rho
           FROM r GROUP BY bucket),
         fullr AS (SELECT b.range AS bucket, COALESCE(regs.rho, 0) AS rho
           FROM range(64) b LEFT JOIN regs ON regs.bucket = b.range),
         den AS (SELECT sum(CAST(1 AS BIGINT) << (30 - least(rho, 30)))
                   AS denom FROM fullr),
         ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM pairs),
         est AS (SELECT CAST((709 * 64 * 64 * (CAST(1 AS BIGINT) << 30))
                   // denom // 1000 AS BIGINT) AS est_int FROM den)
         SELECT CAST(64 AS BIGINT) AS m, n_exact, est_int,
                CAST(abs(est_int - n_exact) * 1000 // n_exact AS BIGINT)
                  AS err_permille
         FROM ex, est""",
    // repeated-gram coverage replica: distinct 4-gram md5-low63 hashes,
    // df >= 2 set, per-doc totals + hit counts
    "p36_repeated_grams" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
                       FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 4 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 2),
                         i -> array_to_string(tk[i:i+3], ' ')) END)) AS s
                FROM toks),
         hs AS (SELECT doc_id,
                  CAST(md5_number_lower(s) & 9223372036854775807 AS BIGINT) AS h
                FROM sh),
         tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
                 FROM hs GROUP BY doc_id),
         rep AS (SELECT h FROM hs GROUP BY h HAVING count(*) >= 2),
         hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                 FROM hs JOIN rep USING (h) GROUP BY doc_id)
         SELECT t.doc_id, t.n_grams,
                CAST(COALESCE(hit.n, 0) AS BIGINT) AS n_repeated_grams
         FROM tot t LEFT JOIN hit USING (doc_id) ORDER BY t.doc_id""",
    // CMS validation replica: p19's cell table + exact top-20 counts,
    // point estimate = min over the 4 salted-row cells
    "p37_cms_validate" ->
      """WITH occ AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS t
           FROM documents),
         cells AS (SELECT r.range AS row,
             CAST((md5_number_lower(t || '#' || CAST(r.range AS VARCHAR))
                   & 9223372036854775807) % 256 AS INT) AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
           FROM occ, range(4) r GROUP BY 1, 2),
         ex AS (SELECT t, CAST(count(*) AS BIGINT) AS exact_count
                FROM occ GROUP BY t
                ORDER BY exact_count DESC, t LIMIT 20),
         est AS (SELECT e.t, e.exact_count, min(c.cnt) AS est_count
           FROM ex e CROSS JOIN range(4) r
           JOIN cells c ON c.row = r.range
             AND c.bucket = CAST((md5_number_lower(e.t || '#' ||
                 CAST(r.range AS VARCHAR)) & 9223372036854775807) % 256 AS INT)
           GROUP BY e.t, e.exact_count)
         SELECT t AS token, exact_count,
                CAST(est_count AS BIGINT) AS est_count,
                CAST(est_count - exact_count AS BIGINT) AS overshoot
         FROM est ORDER BY token""",
    // surprisal replica: same bit-length arithmetic, same top-20 vocab
    // boundary (freq DESC, token ASC), OOV scores as tf = 1
    "p38_surprisal" ->
      """WITH occ AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS t
           FROM documents),
         gtf AS (SELECT t, CAST(count(*) AS BIGINT) AS gtf
                 FROM occ GROUP BY t),
         tot AS (SELECT CAST(sum(gtf) AS BIGINT) AS n FROM gtf),
         vocab AS (SELECT t, gtf FROM gtf ORDER BY gtf DESC, t LIMIT 20)
         SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum((SELECT length(bin(n)) FROM tot)
                         - length(bin(COALESCE(v.gtf, 1)))) AS BIGINT)
                  AS surprisal
         FROM occ o LEFT JOIN vocab v ON o.t = v.t
         GROUP BY o.doc_id ORDER BY o.doc_id""",
    // simhash pair replica: p06's band table, candidate = any shared band,
    // hamming = per-band popcount sum (composing the 64-bit sig would
    // overflow DuckDB's signed BIGINT on band3 << 48)
    "p39_simhash_pairs" ->
      """WITH toks AS (SELECT doc_id,
                unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
              FROM documents),
         votes AS (SELECT doc_id, b,
                sum(CASE WHEN ((md5_number_lower(tok) >> b) & 1) = 1
                    THEN 1 ELSE -1 END) AS v
              FROM toks, range(64) t(b) GROUP BY doc_id, b),
         bits AS (SELECT doc_id, b, CASE WHEN v > 0 THEN 1 ELSE 0 END AS bit
              FROM votes),
         bands AS (SELECT doc_id,
           CAST(sum(CASE WHEN b BETWEEN  0 AND 15 THEN bit << b        ELSE 0 END) AS BIGINT) AS band0,
           CAST(sum(CASE WHEN b BETWEEN 16 AND 31 THEN bit << (b - 16) ELSE 0 END) AS BIGINT) AS band1,
           CAST(sum(CASE WHEN b BETWEEN 32 AND 47 THEN bit << (b - 32) ELSE 0 END) AS BIGINT) AS band2,
           CAST(sum(CASE WHEN b BETWEEN 48 AND 63 THEN bit << (b - 48) ELSE 0 END) AS BIGINT) AS band3
         FROM bits GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1))
           + bit_count(xor(a.band2, b.band2)) + bit_count(xor(a.band3, b.band3))
               AS hamming
           FROM bands a JOIN bands b ON a.doc_id < b.doc_id
             AND (a.band0 = b.band0 OR a.band1 = b.band1
               OR a.band2 = b.band2 OR a.band3 = b.band3))
         SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
         FROM pairs WHERE hamming <= 3 ORDER BY doc_a, doc_b""",
    // candidate set rebuilt from the dumped multi-table buckets (the
    // hyperplane hash is engine code; the dump pins it), then every
    // candidate pair re-verified against DuckDB's own cosine
    "p40_embed_near_dups" ->
      s"""WITH b AS (SELECT * FROM read_parquet('${multiBucketDumpPath(dir)}/*.parquet')),
         cand AS (SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
                  FROM b l JOIN b r ON l.table_id = r.table_id
                    AND l.bucket = r.bucket AND l.vec_id < r.vec_id)
         SELECT c.vec_a, c.vec_b FROM cand c
         JOIN embeddings ea ON ea.vec_id = c.vec_a
         JOIN embeddings eb ON eb.vec_id = c.vec_b
         WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                      CAST(eb.embedding AS DOUBLE[])) >= 0.45
         ORDER BY c.vec_a, c.vec_b""",
    // fixed 8-token blocks; a block is duplicated when its md5 occurs >= 2
    // times corpus-wide (slice clamping at the last partial block matches
    // Spark's slice semantics)
    "p41_line_dedup" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                    FROM documents),
         b AS (SELECT doc_id,
                 unnest(range(CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS blk,
                 toks FROM t),
         blocks AS (SELECT doc_id,
                 md5(array_to_string(toks[(blk*8 + 1):(blk*8 + 8)], ' ')) AS bh
               FROM b),
         occ AS (SELECT bh, count(*) AS occ FROM blocks GROUP BY bh)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
                CAST(sum(CASE WHEN occ.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dup_blocks
         FROM blocks JOIN occ USING (bh)
         GROUP BY doc_id ORDER BY doc_id""",
    // identical junk plants (chr(9)=\t, chr(7)/chr(11) = the stripped
    // controls) + the identical two-regexp normalize chain; 'g' because
    // DuckDB's regexp_replace is first-match-only by default
    "p42_normalize_text" ->
      """WITH aug AS (SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN chr(9) || '  ' || text || ' ' || chr(9)
                WHEN doc_id % 3 = 1 THEN replace(text, ' ', '  ')
                ELSE text || chr(7) || chr(11) || ' end' END AS raw
           FROM documents),
         n AS (SELECT doc_id, raw,
           trim(regexp_replace(regexp_replace(raw,
             '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
             '\s+', ' ', 'g')) AS norm FROM aug)
         SELECT doc_id, md5(norm) AS norm_hash,
                CAST(length(norm) AS BIGINT) AS norm_len,
                CAST(length(raw) - length(norm) AS BIGINT) AS n_removed
         FROM n ORDER BY doc_id""",
    // within-token adjacent char pairs, corpus-weighted; ties broken by
    // pair so the top-50 cut is deterministic in both engines
    "p43_bpe_pairs" ->
      """WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
                         AS tok FROM documents),
         pairs AS (SELECT substring(tok, CAST(i AS INT), 2) AS pair
                   FROM toks, unnest(range(1, length(tok))) t(i))
         SELECT pair, CAST(count(*) AS BIGINT) AS n
         FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 50""",
    // same masked-md5 gram hashes + per-doc distinct as the p27 oracle,
    // distinct per source, df-cap <= 64 sources, self-join pair rollup
    "p44_source_overlap" ->
      """WITH toks AS (SELECT source, regexp_split_to_array(trim(text), '\s+') AS tk
                       FROM documents),
         sh AS (SELECT source, unnest(list_distinct(
                  CASE WHEN len(tk) < 4 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 2),
                         i -> array_to_string(tk[i:i+3], ' ')) END)) AS s
                FROM toks),
         hs AS (SELECT DISTINCT source,
                  CAST(md5_number_lower(s) & 9223372036854775807 AS BIGINT) AS h
                FROM sh),
         d AS (SELECT h FROM hs GROUP BY h HAVING count(*) <= 64),
         k AS (SELECT hs.source, hs.h FROM hs JOIN d USING (h))
         SELECT l.source AS src_a, r.source AS src_b,
                CAST(count(*) AS BIGINT) AS n_shared
         FROM k l JOIN k r ON l.h = r.h AND l.source < r.source
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // shard = md5-low63("id:epoch") % 16 — identical arithmetic in DuckDB
    "p45_epoch_shards" ->
      """WITH sh AS (SELECT doc_id, e.epoch,
             CAST(md5_number_lower(CAST(doc_id AS VARCHAR) || ':' ||
                                   CAST(e.epoch AS VARCHAR))
                  & 9223372036854775807 AS BIGINT) % 16 AS shard
           FROM documents, (VALUES (0), (1)) e(epoch))
         SELECT CAST(epoch AS BIGINT) AS epoch, CAST(shard AS BIGINT) AS shard,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
         FROM sh GROUP BY 1, 2 ORDER BY 1, 2""",
    // exact pairs recomputed at threshold 60 (p22's machinery); candidates
    // read from the engine dump; recall counted by the oracle itself
    "p46_lsh_recall" ->
      s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
                        FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+2], ' ')) END)) AS s
                FROM toks),
         hs AS (SELECT DISTINCT doc_id,
                  CAST(md5_number_lower(s) & 9223372036854775807 AS BIGINT) AS h
                FROM sh),
         hn AS (SELECT doc_id, h,
                  count(*) OVER (PARTITION BY doc_id) AS n FROM hs),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.n AS na, b.n AS nb, count(*) AS n_inter
                   FROM hn a JOIN hn b ON a.h = b.h AND a.doc_id < b.doc_id
                   GROUP BY 1, 2, 3, 4),
         exact AS (SELECT doc_a, doc_b FROM pairs
                   WHERE n_inter * 100 >= (na + nb - n_inter) * 60),
         cand AS (SELECT doc_a, doc_b
                  FROM read_parquet('${lshRecallDumpPath(dir)}/*.parquet')),
         hit AS (SELECT * FROM exact JOIN cand USING (doc_a, doc_b))
         SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
                CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
                CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hits,
                CAST(((SELECT count(*) FROM hit) * 100)
                     // (SELECT count(*) FROM exact) AS BIGINT) AS recall_pct""",
    // quantile validation replica: same bottom-256-by-md5 sample, same
    // integer rank rule ceil(q·n/100) = (q·n + 99) // 100 on both sides
    "p47_quantile_validate" ->
      """WITH v AS (SELECT CAST(doc_id AS BIGINT) AS id,
                CAST(n_chars AS BIGINT) AS value,
                md5_number_lower(CAST(doc_id AS VARCHAR) || '|qtl')
                  & 9223372036854775807 AS h
              FROM documents),
         fullr AS (SELECT value,
             CAST(row_number() OVER (ORDER BY value) AS BIGINT) AS rn FROM v),
         nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM v),
         samp AS (SELECT value FROM v ORDER BY h, id LIMIT 256),
         sr AS (SELECT value,
             CAST(row_number() OVER (ORDER BY value) AS BIGINT) AS rn FROM samp),
         ks AS (SELECT CAST(count(*) AS BIGINT) AS k_sample FROM samp),
         qs AS (SELECT CAST(unnest([25, 50, 75, 90]) AS BIGINT) AS q),
         ex AS (SELECT q, n_total, value AS exact_val
                FROM qs CROSS JOIN nt CROSS JOIN fullr
                WHERE fullr.rn = (q * n_total + 99) // 100),
         es AS (SELECT q, k_sample, value AS est_val
                FROM qs CROSS JOIN ks CROSS JOIN sr
                WHERE sr.rn = (q * k_sample + 99) // 100)
         SELECT ex.q, n_total, k_sample, exact_val, est_val,
                CAST(abs(est_val - exact_val) * 1000
                     // greatest(exact_val, 1) AS BIGINT) AS err_permille
         FROM ex JOIN es ON ex.q = es.q ORDER BY ex.q""",
    // chunking replica: identical 64/48 windows rebuilt with zipped
    // unnests (range is end-exclusive; list slices are 1-based inclusive
    // and clamp at the end)
    "p53_chunking" ->
      """WITH t AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS tk
           FROM documents),
         s AS (SELECT doc_id, tk, range(0, len(tk), 48) AS starts FROM t),
         c AS (SELECT doc_id,
             unnest(range(0, len(starts))) AS chunk_idx,
             unnest(list_transform(starts, st -> tk[st+1 : st+64])) AS chunk
           FROM s)
         SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
                CAST(len(chunk) AS INT) AS n_chunk_tokens,
                md5(array_to_string(chunk, ' ')) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_idx""",
    // incremental near-dup replica: exact delta-vs-rest Jaccard pairs —
    // same shingle/threshold rules as p05, endpoints split by doc_id % 10
    "p54_incremental_neardup" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
                       FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+2], ' ')) END)) AS s
                FROM toks),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          count(*) AS n_inter
                   FROM sh a JOIN sh b ON a.s = b.s
                   WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
                   GROUP BY 1, 2)
         SELECT doc_a, doc_b, n_inter, (sa.n + sb.n - n_inter) AS n_union
         FROM pairs
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE n_inter * 100 >= (sa.n + sb.n - n_inter) * 60
         ORDER BY doc_a, doc_b""",
    // phrase replica: zipped-unnest positions, same 3-token adjacency
    "p55_phrase_search" ->
      """WITH t AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
         p AS (SELECT doc_id, unnest(range(1, len(tk) - 1)) AS i, tk FROM t)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
         FROM p
         WHERE tk[i] = 'slow' AND tk[i+1] = 'hash' AND tk[i+2] = 'batch'
         GROUP BY doc_id ORDER BY doc_id""",
    // profile replica: per-column UNION ALL over the same normalization
    "p56_profile" ->
      ("""WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
            o_orderpriority,
            CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
              AS o_price_cents,
            epoch_us(o_orderdate) AS o_orderdate_us FROM orders)
          SELECT * FROM (""" +
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "o_price_cents", "o_orderdate_us").map(c =>
          s"""SELECT '$c' AS column_name, count(*) AS n_rows,
              count(*) - count($c) AS n_null,
              count(DISTINCT $c) AS n_distinct,
              CAST(min($c) AS VARCHAR) AS min_v,
              CAST(max($c) AS VARCHAR) AS max_v FROM o""")
          .mkString(" UNION ALL ") +
        ") ORDER BY column_name"),
    // Misra-Gries replica: exact counts + threshold over the identical
    // planted stream select the TRUE heavy hitters (layout-invariant);
    // the engine's dumped summary is re-read to re-derive the
    // completeness and undercount-bound verdicts from the same bytes
    "p57_heavy_hitters" ->
      s"""WITH ex AS (SELECT tok AS token,
             CAST(count(*) AS BIGINT) AS exact_cnt FROM (
             SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
             FROM documents
             UNION ALL
             SELECT 'hot_' || CAST(doc_id % 3 AS VARCHAR) AS tok
             FROM documents, (SELECT unnest(range(0, 20)) AS j) r
             WHERE doc_id % 2 = 0
           ) GROUP BY tok),
         nt AS (SELECT sum(exact_cnt) AS n FROM ex),
         d AS (SELECT * FROM read_parquet('${mgDumpPath(dir)}/*.parquet')),
         heavy AS (SELECT token, exact_cnt FROM ex, nt
                   WHERE exact_cnt > nt.n // 65)
         SELECT h.token, h.exact_cnt,
           CAST(CASE WHEN d.token IS NOT NULL THEN 1 ELSE 0 END AS INT)
             AS in_summary,
           CAST(CASE WHEN d.token IS NOT NULL
                 AND d.est_cnt <= h.exact_cnt
                 AND h.exact_cnt - d.est_cnt <= (SELECT n // 65 FROM nt)
                 THEN 1 ELSE 0 END AS INT) AS bound_ok
         FROM heavy h LEFT JOIN d USING (token) ORDER BY h.token""",
    // bigram replica: zipped unnests build the identical (w1, pair)
    // stream; same MLE context counts and bit-length arithmetic
    "p58_bigram_surprisal" ->
      """WITH tk AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
         pr AS (SELECT doc_id,
             unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
             unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1])) AS pair
           FROM tk),
         c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
                FROM pr GROUP BY w1),
         c12 AS (SELECT pair, CAST(count(*) AS BIGINT) AS c12
                 FROM pr GROUP BY pair)
         SELECT pr.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(sum(length(bin(c1.c1)) - length(bin(c12.c12)))
                     AS BIGINT) AS bigram_surprisal
         FROM pr JOIN c1 USING (w1) JOIN c12 USING (pair)
         GROUP BY pr.doc_id ORDER BY pr.doc_id""",

    // embedding-stats replica: zipped unnest with ordinality, identical
    // float32→float64 widening + floor quantization
    "p60_embedding_stats" ->
      """WITH c AS (SELECT unnest(embedding) AS x,
                      unnest(range(0, len(embedding))) AS dim
                    FROM embeddings),
         q AS (SELECT dim,
                 CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS q
               FROM c)
         SELECT CAST(dim AS INT) AS dim, count(*) AS n,
                CAST(sum(q) AS BIGINT) AS sum_q,
                CAST(sum(q * q) AS BIGINT) AS sum_sq_q,
                min(q) AS min_q, max(q) AS max_q
         FROM q GROUP BY dim ORDER BY dim""",

    // BM25 replica: identical integer-scaled Okapi term, same integer idf,
    // qtf=1 query simplification, ties by neighbor_id
    "p62_bm25_topk" ->
      """WITH tok AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len
                  FROM tf GROUP BY 1),
         stats AS (SELECT (SELECT count(*) FROM documents) AS n,
                          (SELECT CAST(sum(tf) AS BIGINT) FROM tf) AS L),
         idf AS (SELECT token,
             ((SELECT n FROM stats) * 100) // count(*) AS idf
           FROM tf GROUP BY token),
         w AS (SELECT tf.doc_id, tf.token,
                 idf.idf * ((22000 * s.L * tf.tf) //
                   (10 * s.L * tf.tf + 3 * s.L + 9 * s.n * lens.len)) AS wt
               FROM tf JOIN idf USING (token) JOIN lens USING (doc_id),
                    stats s),
         scored AS (SELECT q.doc_id AS query_id, d.doc_id AS neighbor_id,
                      sum(d.wt) AS score
                    FROM w d JOIN tf q ON d.token = q.token
                      AND q.doc_id < 10 AND d.doc_id <> q.doc_id
                    GROUP BY 1, 2),
         ranked AS (SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, neighbor_id) AS rank
                    FROM scored)
         SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id
         FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""",

    // RRF replica: both retrievers' stacks share tok/tf/idf, each ranking
    // is cut at k=10, contributions 1000000 // (60 + rank) sum per
    // candidate, re-ranked with the same neighbor-id tiebreak
    "p63_rrf_fusion" ->
      """WITH tok AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len
                  FROM tf GROUP BY 1),
         stats AS (SELECT (SELECT count(*) FROM documents) AS n,
                          (SELECT CAST(sum(tf) AS BIGINT) FROM tf) AS L),
         idf AS (SELECT token,
             ((SELECT n FROM stats) * 100) // count(*) AS idf
           FROM tf GROUP BY token),
         wb AS (SELECT tf.doc_id, tf.token,
                 idf.idf * ((22000 * s.L * tf.tf) //
                   (10 * s.L * tf.tf + 3 * s.L + 9 * s.n * lens.len)) AS wt
               FROM tf JOIN idf USING (token) JOIN lens USING (doc_id),
                    stats s),
         sb AS (SELECT q.doc_id AS query_id, d.doc_id AS neighbor_id,
                  sum(d.wt) AS score
                FROM wb d JOIN tf q ON d.token = q.token
                  AND q.doc_id < 10 AND d.doc_id <> q.doc_id
                GROUP BY 1, 2),
         rb AS (SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id) AS rank
                FROM sb),
         wt AS (SELECT tf.doc_id, tf.token, tf.tf * idf.idf AS wt
                FROM tf JOIN idf USING (token)),
         st AS (SELECT q.query_id, d.doc_id AS neighbor_id,
                  sum(d.wt * q.wt) AS dot
                FROM wt d JOIN (SELECT doc_id AS query_id, token, wt
                                FROM wt WHERE doc_id < 10) q
                  ON d.token = q.token AND d.doc_id <> q.query_id
                GROUP BY 1, 2),
         rt AS (SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY dot DESC, neighbor_id) AS rank
                FROM st),
         fused AS (SELECT query_id, neighbor_id,
                     CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS s
                   FROM (SELECT query_id, neighbor_id, rank FROM rb
                           WHERE rank <= 10
                         UNION ALL
                         SELECT query_id, neighbor_id, rank FROM rt
                           WHERE rank <= 10)
                   GROUP BY 1, 2),
         rr AS (SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY s DESC, neighbor_id) AS rank
                FROM fused)
         SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id
         FROM rr WHERE rank <= 10 ORDER BY query_id, rank""",

    // int8-quantization recall replica: the p60 integer grid derives the
    // per-dim scales, round-half-away-from-zero on non-negative operands
    // only (// = div there), quantized + exact rankings both rebuilt from
    // raw embeddings, overlap counted per query
    "p64_quant_recall" ->
      """WITH c AS (SELECT vec_id, unnest(embedding) AS x,
                      unnest(range(0, len(embedding))) AS dim
                    FROM embeddings),
         q0 AS (SELECT vec_id, dim,
                  CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS fq
                FROM c),
         sc AS (SELECT dim, greatest(max(fq), -min(fq), 1) AS scale
                FROM q0 GROUP BY dim),
         qq AS (SELECT vec_id, dim,
                  CASE WHEN fq >= 0 THEN (fq * 254 + scale) // (2 * scale)
                       ELSE -(((-fq) * 254 + scale) // (2 * scale))
                  END AS qv
                FROM q0 JOIN sc USING (dim)),
         qv AS (SELECT vec_id, list(CAST(qv AS DOUBLE) ORDER BY dim) AS v
                FROM qq GROUP BY vec_id),
         qs AS (SELECT vec_id AS query_id, v AS q_v FROM qv
                ORDER BY vec_id LIMIT 10),
         qsc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                   list_cosine_similarity(e.v, q.q_v) AS s
                 FROM qv e CROSS JOIN qs q WHERE e.vec_id <> q.query_id),
         qr AS (SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY s DESC, neighbor_id) AS rank
                FROM qsc),
         eq AS (SELECT vec_id AS query_id,
                  CAST(embedding AS DOUBLE[]) AS q_emb
                FROM embeddings ORDER BY vec_id LIMIT 10),
         esc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          q.q_emb) AS s
                 FROM embeddings e CROSS JOIN eq q
                 WHERE e.vec_id <> q.query_id),
         er AS (SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY s DESC, neighbor_id) AS rank
                FROM esc),
         ov AS (SELECT a.query_id, count(*) AS n_overlap
                FROM (SELECT query_id, neighbor_id FROM qr WHERE rank <= 10) a
                JOIN (SELECT query_id, neighbor_id FROM er WHERE rank <= 10) b
                  USING (query_id, neighbor_id)
                GROUP BY 1)
         SELECT qs.query_id,
                CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
                CAST((coalesce(ov.n_overlap, 0) * 100) // 10 AS BIGINT)
                  AS recall_pct
         FROM qs LEFT JOIN ov USING (query_id) ORDER BY query_id""",

    // containment replica: p09's winnowing CTE with k=12-char grams and
    // window 8, inverted-index self-join, directional percentage
    "p65_containment" ->
      """WITH h AS (SELECT doc_id,
                list_transform(range(1, length(text) - 10),
                  i -> CAST(md5_number_lower(text[i:i+11]) & 9223372036854775807
                       AS BIGINT)) AS hs
              FROM documents WHERE length(text) >= 12),
         f AS (SELECT doc_id,
                CASE WHEN len(hs) <= 8 THEN [list_min(hs)]
                ELSE list_distinct(list_transform(range(1, len(hs) - 6),
                       w -> list_min(hs[w:w+7]))) END AS fp
              FROM h),
         fp AS (SELECT doc_id, unnest(fp) AS fp FROM f),
         sz AS (SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY doc_id),
         fpk AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 64),
         fpc AS (SELECT f2.doc_id, f2.fp FROM fp f2 JOIN fpk USING (fp)),
         pr AS (SELECT a.doc_id AS doc_id, b.doc_id AS container_id,
                  count(*) AS n_shared
                FROM fpc a JOIN fpc b
                  ON a.fp = b.fp AND a.doc_id <> b.doc_id
                GROUP BY 1, 2)
         SELECT pr.doc_id, pr.container_id, pr.n_shared, sz.n_fp,
                (pr.n_shared * 100) // sz.n_fp AS containment_pct
         FROM pr JOIN sz ON pr.doc_id = sz.doc_id
         WHERE (pr.n_shared * 100) // sz.n_fp >= 50
         ORDER BY pr.doc_id, pr.container_id""",

    // drift replica: ppm rates per side via integer floor division over
    // the full-outer token join, top-100 by absolute delta
    "p67_token_drift" ->
      """WITH os AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
         ns AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
         ot AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
                  AS token FROM os),
         nt AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
                  AS token FROM ns),
         oc AS (SELECT token, CAST(count(*) AS BIGINT) AS c
                FROM ot GROUP BY token),
         nc AS (SELECT token, CAST(count(*) AS BIGINT) AS c
                FROM nt GROUP BY token),
         j AS (SELECT coalesce(oc.token, nc.token) AS token,
                 coalesce(oc.c, 0) AS c_old, coalesce(nc.c, 0) AS c_new
               FROM oc FULL OUTER JOIN nc ON oc.token = nc.token),
         r AS (SELECT token, c_old, c_new,
                 (c_old * 1000000) //
                   greatest((SELECT count(*) FROM ot), 1) AS rate_old_ppm,
                 (c_new * 1000000) //
                   greatest((SELECT count(*) FROM nt), 1) AS rate_new_ppm
               FROM j)
         SELECT token, c_old, c_new,
                CAST(rate_old_ppm AS BIGINT) AS rate_old_ppm,
                CAST(rate_new_ppm AS BIGINT) AS rate_new_ppm,
                CAST(abs(rate_new_ppm - rate_old_ppm) AS BIGINT)
                  AS drift_ppm
         FROM r ORDER BY drift_ppm DESC, token LIMIT 100""",

    // DSIR replica: Laplace-smoothed target-vs-corpus unigram ratio on the
    // 10000 grid, length-normalized integer score per corpus doc
    "p66_dsir" ->
      """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 20 <> 0),
         tgt AS (SELECT * FROM documents WHERE doc_id % 20 = 0),
         tok AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS token
           FROM corpus),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len
                  FROM tf GROUP BY 1),
         cc AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cc
                FROM tf GROUP BY token),
         ttok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
                    AS token
                  FROM tgt),
         tc AS (SELECT token, count(*) AS tc FROM ttok GROUP BY token),
         w AS (SELECT cc.token,
                 ((coalesce(tc.tc, 0) + 1) * 10000) // (cc.cc + 1) AS w
               FROM cc LEFT JOIN tc USING (token)),
         sc AS (SELECT tf.doc_id, CAST(sum(tf.tf * w.w) AS BIGINT)
                  AS raw_score
                FROM tf JOIN w USING (token) GROUP BY 1)
         SELECT sc.doc_id, lens.len, sc.raw_score,
                sc.raw_score // lens.len AS score
         FROM sc JOIN lens USING (doc_id) ORDER BY sc.doc_id""",

    // SemDeDup replica: same within-cell closed-form prune over the
    // dumped assignment; list_cosine_similarity matches the engine's
    // codegen'd cosine bit-for-bit (established by p12/p13/p28/p40)
    "p61_semdedup" ->
      s"""WITH a AS (SELECT * FROM read_parquet('${semDedupAssignPath(dir)}/*.parquet')),
         v AS (SELECT a.cell, e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb
               FROM a JOIN embeddings e USING (vec_id))
         SELECT r.vec_id, CAST(l.cell AS INT) AS cell,
                min(l.vec_id) AS canonical_id
         FROM v l JOIN v r ON l.cell = r.cell AND l.vec_id < r.vec_id
         WHERE list_cosine_similarity(l.emb, r.emb) >= 0.45
         GROUP BY r.vec_id, l.cell
         ORDER BY r.vec_id""",

    // weighted-sample replica: identical md5 rate + draw arithmetic
    "p59_weighted_sample" ->
      """WITH d AS (SELECT source,
             CAST((md5_number_lower(source || '|wsr')
                   & 9223372036854775807) % 500 + 250 AS BIGINT)
               AS rate_permille,
             CASE WHEN (md5_number_lower(CAST(doc_id AS VARCHAR) || '|wsmp')
                        & 9223372036854775807) % 1000
                  < (md5_number_lower(source || '|wsr')
                     & 9223372036854775807) % 500 + 250
                  THEN 1 ELSE 0 END AS kept
           FROM documents)
         SELECT source, rate_permille,
                CAST(sum(kept) AS BIGINT) AS n_kept,
                count(*) AS n_total
         FROM d GROUP BY source, rate_permille ORDER BY source""",

    // URL-canonicalization replica: identical synthetic URLs and the same
    // lowercase/strip-slash/drop-utm rules in SQL
    "p52_url_canonical" ->
      """WITH u AS (SELECT doc_id,
             'HTTPS://' || upper(source) || '.Example.com/p/' ||
             CAST(doc_id % 40 AS VARCHAR) ||
             CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
             CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&x=1'
                  ELSE '?x=1' END AS url
           FROM documents),
         k AS (SELECT doc_id, url,
             list_filter(string_split(regexp_extract(url, '\?(.*)$', 1), '&'),
               p -> NOT starts_with(p, 'utm_')) AS kept
           FROM u),
         c AS (SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z]+)://([^/?]+)', 1)) ||
             '://' ||
             lower(regexp_extract(url, '^([A-Za-z]+)://([^/?]+)', 2)) ||
             rtrim(regexp_extract(url, '^[A-Za-z]+://[^/?]+([^?]*)', 1), '/')
             || CASE WHEN len(kept) > 0
                     THEN '?' || array_to_string(kept, '&') ELSE '' END
               AS canonical_url
           FROM k)
         SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_urls,
                min(doc_id) AS keeper_doc_id
         FROM c GROUP BY canonical_url ORDER BY canonical_url""",
    // edit-distance replica: identical planted typo twins, exact all-pairs
    // levenshtein — the blocking path must reproduce this set exactly
    "p51_editdist_neardup" ->
      """WITH base AS (SELECT doc_id, substring(text, 1, 40) AS title
                       FROM documents),
         typ AS (SELECT od + 5000000 AS doc_id,
                   substring(title, 1, CAST(od % 10 AS INT)) ||
                   substring(title, CAST(od % 10 + 2 AS INT)) AS title
                 FROM (SELECT doc_id AS od, title FROM base
                       WHERE doc_id % 17 = 3)),
         al AS (SELECT doc_id, title FROM base
                UNION ALL SELECT doc_id, title FROM typ)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(levenshtein(a.title, b.title) AS INT) AS edit_dist
         FROM al a JOIN al b ON a.doc_id < b.doc_id
         WHERE levenshtein(a.title, b.title) <= 1
         ORDER BY doc_a, doc_b""",
    // mixture-plan replica: identical md5 weights and floor-div chain
    "p50_mixture_plan" ->
      """WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
                  AS BIGINT) AS n_tokens,
             CAST((md5_number_lower(source || '|mix')
                   & 9223372036854775807) % 5 + 1 AS BIGINT) AS weight
           FROM documents GROUP BY source),
         tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_tokens,
                        CAST(sum(weight) AS BIGINT) AS t_weight FROM per),
         x AS (SELECT p.*,
                 (((t_tokens * 60) // 100) * weight) // t_weight
                   AS target_tokens
               FROM per p CROSS JOIN tot),
         y AS (SELECT *, least(1000, (target_tokens * 1000) // n_tokens)
                   AS rate_permille FROM x),
         z AS (SELECT *, (n_tokens * rate_permille) // 1000
                   AS planned_tokens FROM y)
         SELECT source, n_docs, n_tokens, weight,
                CAST(target_tokens AS BIGINT) AS target_tokens,
                CAST(rate_permille AS BIGINT) AS rate_permille,
                CAST(planned_tokens AS BIGINT) AS planned_tokens,
                CAST(greatest(target_tokens - planned_tokens, 0) AS BIGINT)
                  AS deficit
         FROM z ORDER BY source""",

    // minhash-estimator replica: identical md5-salted 16-lane signatures
    // rebuilt from scratch in SQL, same exact-pair set as p46's rule at 60%
    "p49_minhash_estimate" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
                       FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+2], ' ')) END)) AS s
                FROM toks),
         hs AS (SELECT DISTINCT doc_id,
                  CAST(md5_number_lower(s) & 9223372036854775807 AS BIGINT) AS h
                FROM sh),
         hn AS (SELECT doc_id, h,
                  count(*) OVER (PARTITION BY doc_id) AS n FROM hs),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.n AS na, b.n AS nb, count(*) AS n_inter
                   FROM hn a JOIN hn b ON a.h = b.h AND a.doc_id < b.doc_id
                   GROUP BY 1, 2, 3, 4),
         exact AS (SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
                     CAST(na + nb - n_inter AS BIGINT) AS n_union
                   FROM pairs
                   WHERE n_inter * 100 >= (na + nb - n_inter) * 60),
         sigs AS (SELECT doc_id, r.range AS i,
                    min(CAST(md5_number_lower(s || '#' || CAST(r.range AS VARCHAR))
                        & 9223372036854775807 AS BIGINT)) AS sig
                  FROM sh CROSS JOIN range(16) r GROUP BY doc_id, r.range),
         m AS (SELECT e.doc_a, e.doc_b, e.n_inter, e.n_union,
                 CAST(count(CASE WHEN sa.sig = sb.sig THEN 1 END) AS BIGINT)
                   AS n_match
               FROM exact e JOIN sigs sa ON sa.doc_id = e.doc_a
                    JOIN sigs sb ON sb.doc_id = e.doc_b AND sb.i = sa.i
               GROUP BY 1, 2, 3, 4)
         SELECT doc_a, doc_b, n_inter, n_union,
                CAST(n_inter * 100 // n_union AS BIGINT) AS exact_pct,
                n_match,
                CAST(n_match * 100 // 16 AS BIGINT) AS est_pct,
                CAST(abs(n_match * 100 // 16 - n_inter * 100 // n_union)
                     AS BIGINT) AS err_pp
         FROM m ORDER BY doc_a, doc_b""",

    // p49's replica extended with the low-bit lanes: same signatures, bit
    // agreement count, Ĵ = max(0, 2r−1) in the identical integer form
    "p106_bbit_minhash" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
                       FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+2], ' ')) END)) AS s
                FROM toks),
         hs AS (SELECT DISTINCT doc_id,
                  CAST(md5_number_lower(s) & 9223372036854775807 AS BIGINT) AS h
                FROM sh),
         hn AS (SELECT doc_id, h,
                  count(*) OVER (PARTITION BY doc_id) AS n FROM hs),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.n AS na, b.n AS nb, count(*) AS n_inter
                   FROM hn a JOIN hn b ON a.h = b.h AND a.doc_id < b.doc_id
                   GROUP BY 1, 2, 3, 4),
         exact AS (SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
                     CAST(na + nb - n_inter AS BIGINT) AS n_union
                   FROM pairs
                   WHERE n_inter * 100 >= (na + nb - n_inter) * 60),
         sigs AS (SELECT doc_id, r.range AS i,
                    min(CAST(md5_number_lower(s || '#' || CAST(r.range AS VARCHAR))
                        & 9223372036854775807 AS BIGINT)) AS sig
                  FROM sh CROSS JOIN range(16) r GROUP BY doc_id, r.range),
         m AS (SELECT e.doc_a, e.doc_b, e.n_inter, e.n_union,
                 CAST(count(CASE WHEN sa.sig = sb.sig THEN 1 END) AS BIGINT)
                   AS n_match,
                 CAST(count(CASE WHEN sa.sig % 2 = sb.sig % 2 THEN 1 END)
                      AS BIGINT) AS n_bit_match
               FROM exact e JOIN sigs sa ON sa.doc_id = e.doc_a
                    JOIN sigs sb ON sb.doc_id = e.doc_b AND sb.i = sa.i
               GROUP BY 1, 2, 3, 4)
         SELECT doc_a, doc_b, n_inter, n_union,
                CAST(n_inter * 100 // n_union AS BIGINT) AS exact_pct,
                n_match,
                CAST(n_match * 100 // 16 AS BIGINT) AS est_pct,
                n_bit_match,
                CAST(greatest(0, n_bit_match * 200 // 16 - 100) AS BIGINT)
                  AS est_bbit_pct,
                CAST(abs(n_match * 100 // 16 - n_inter * 100 // n_union)
                     AS BIGINT) AS err_pp,
                CAST(abs(greatest(0, n_bit_match * 200 // 16 - 100)
                         - n_inter * 100 // n_union) AS BIGINT) AS err_bbit_pp
         FROM m ORDER BY doc_a, doc_b""",

    // snapshot-diff replica: identical planted v2 (delete %10==7, change
    // %10==3, re-add %10==1 under id+10M), identical hash-diff census
    "p48_snapshot_diff" ->
      """WITH v1 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, md5(text) AS h
              FROM documents),
         v2 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  md5(CASE WHEN doc_id % 10 = 3 THEN text || ' v2delta'
                      ELSE text END) AS h
                FROM documents WHERE doc_id % 10 <> 7
                UNION ALL
                SELECT CAST(doc_id + 10000000 AS BIGINT), md5(text || ' new')
                FROM documents WHERE doc_id % 10 = 1),
         j AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
                 CASE WHEN a.doc_id IS NULL THEN 'added'
                      WHEN b.doc_id IS NULL THEN 'deleted'
                      WHEN a.h <> b.h THEN 'changed'
                      ELSE 'unchanged' END AS status
               FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
         SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(min(doc_id) AS BIGINT) AS min_doc_id,
                CAST(max(doc_id) AS BIGINT) AS max_doc_id
         FROM j GROUP BY status ORDER BY status""",
    // batch recompute of the streaming decontamination (the op is per-doc
    // stateless, so the micro-batched sink must equal this): same word
    // 4-gram md5-low63 hashing as p27, eval set doc_id % 17 == 3
    "p137_stream_decontaminate" ->
      """WITH toks AS (SELECT doc_id,
                regexp_split_to_array(trim(text), '\s+') AS tk
              FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) < 4 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 2),
                         i -> array_to_string(tk[i:i+3], ' ')) END)) AS s
                FROM toks),
         hs AS (SELECT doc_id,
                  CAST(md5_number_lower(s) & 9223372036854775807 AS BIGINT) AS h
                FROM sh),
         bench AS (SELECT DISTINCT h FROM hs WHERE doc_id % 17 = 3)
         SELECT CAST(doc_id AS BIGINT) AS doc_id, count(*) AS n_hit_grams
         FROM hs JOIN bench USING (h)
         WHERE doc_id % 17 <> 3
         GROUP BY doc_id ORDER BY doc_id""",
    // global last-write-wins over the SAME generated change rows the
    // stream fed batch-by-batch: per-key seqs increase across batches, so
    // sequential snapshot maintenance == arg_max by seq, deletes dropping
    // the key
    "p138_stream_upsert" ->
      """WITH c AS (
           SELECT CAST(doc_id AS BIGINT) AS doc_id, text, 1 AS seq,
                  FALSE AS del FROM documents
           UNION ALL SELECT doc_id, text || ' v2', 2, FALSE
             FROM documents WHERE doc_id % 7 = 2
           UNION ALL SELECT doc_id, '', 2, TRUE
             FROM documents WHERE doc_id % 7 = 3
           UNION ALL SELECT doc_id, text || ' v3', 3, FALSE
             FROM documents WHERE doc_id % 14 = 3
           UNION ALL SELECT doc_id, '', 3, TRUE
             FROM documents WHERE doc_id % 7 = 5),
         f AS (SELECT doc_id, arg_max(text, seq) AS text,
                 arg_max(del, seq) AS del
               FROM c GROUP BY doc_id)
         SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
         FROM f WHERE NOT del ORDER BY doc_id""",
    // identical mutation + binning + full-outer share census; // floors
    // but every operand is nonnegative so it equals Spark's div
    "p142_drift_census" ->
      """WITH v1 AS (SELECT least(length(text) // 128, 15) AS bin
             FROM documents),
         v2 AS (SELECT least(length(CASE WHEN doc_id % 7 = 0
                 THEN text || ' drift drift drift drift' ELSE text END)
               // 128, 15) AS bin
             FROM documents WHERE doc_id % 5 <> 0),
         a AS (SELECT bin, CAST(count(*) AS BIGINT) AS c FROM v1 GROUP BY bin),
         b AS (SELECT bin, CAST(count(*) AS BIGINT) AS c FROM v2 GROUP BY bin),
         ta AS (SELECT greatest(sum(c), 1) AS t FROM a),
         tb AS (SELECT greatest(sum(c), 1) AS t FROM b)
         SELECT CAST(COALESCE(a.bin, b.bin) AS BIGINT) AS bin,
           CAST(COALESCE(a.c, 0) AS BIGINT) AS n_v1,
           CAST(COALESCE(b.c, 0) AS BIGINT) AS n_v2,
           CAST(COALESCE(a.c, 0) * 1000000 // ta.t AS BIGINT)
             AS share_v1_ppm,
           CAST(COALESCE(b.c, 0) * 1000000 // tb.t AS BIGINT)
             AS share_v2_ppm,
           CAST(abs(COALESCE(a.c, 0) * 1000000 // ta.t
                  - COALESCE(b.c, 0) * 1000000 // tb.t) AS BIGINT)
             AS delta_ppm
         FROM a FULL OUTER JOIN b ON a.bin = b.bin, ta, tb
         ORDER BY bin""",
    // identical 2x2 contingency + exact-integer kappa; DuckDB // FLOORS
    // the (possibly negative) kappa numerator exactly like the engine's
    // Math.floorDiv convention
    "p143_rater_agreement" ->
      """WITH r AS (SELECT
             (len(regexp_split_to_array(trim(text), '\s+')) >= 60) AS a,
             (n_chars >= 380) AS b
           FROM documents),
         c AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
             CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
             CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
           FROM r),
         k AS (SELECT n, n11, n10, n01, n00,
             -- HUGEINT numerators: pe reaches n², so plain BIGINT
             -- overflows past ~10^8 docs while the engine side already
             -- runs BigInt — both halves now share the ~3e9-row headroom
             CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
               + CAST(n01 + n00 AS HUGEINT) * (n10 + n00) AS pe
           FROM c)
         SELECT n, n11, n10, n01, n00,
           CAST(CAST(n11 + n00 AS HUGEINT) * 1000000 // n AS BIGINT)
             AS po_ppm,
           CAST(pe * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT)
             AS pe_ppm,
           CAST(CASE WHEN CAST(n AS HUGEINT) * n = pe THEN 0
                ELSE (CAST(n AS HUGEINT) * (n11 + n00) - pe) * 1000
                  // (CAST(n AS HUGEINT) * n - pe)
                END AS BIGINT) AS kappa_milli
         FROM k""",
    // first-batch-keeper recompute over the identically planted echo
    // stream: batches are doc_id % 3 ascending, so the kept row per
    // content hash is arg_min by (batch index, doc_id)
    "p144_stream_dedup" ->
      """WITH r AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text
             FROM documents
           UNION ALL SELECT doc_id + 1000000, text
             FROM documents WHERE doc_id % 10 = 4),
         h AS (SELECT doc_id, text, md5(text) AS h FROM r),
         k AS (SELECT h, arg_min(doc_id,
                 (doc_id % 3) * 100000000 + doc_id) AS doc_id
               FROM h GROUP BY h)
         SELECT k.doc_id, CAST(length(t.text) AS BIGINT) AS n_chars
         FROM k JOIN h t ON t.doc_id = k.doc_id ORDER BY k.doc_id""",
    // gaps-and-islands replay of the session rule: new session iff
    // ts − lag(ts) ≥ gap (session windows are half-open [start,
    // last+gap), merging only on STRICT overlap), end = last + gap —
    // the sentinel never appears (real events only)
    "p146_stream_sessions" ->
      """WITH e AS (SELECT CAST(user_id AS BIGINT) AS user_id, ts
             FROM events),
         g AS (SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    >= INTERVAL 30 MINUTE
             THEN 1 ELSE 0 END AS new_s FROM e),
         s AS (SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid FROM g)
         SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
         FROM s GROUP BY user_id, sid
         ORDER BY user_id, session_start""",
    // plain batch interval join over the same click/view split — the
    // streaming inner join must emit exactly this set, once each
    "p147_stream_interval_join" ->
      """WITH p AS (SELECT CAST(user_id AS BIGINT) AS user_id, ts AS p_ts,
               CAST(event_id AS BIGINT) AS p_id
             FROM events WHERE event_type = 'click'),
         c AS (SELECT CAST(user_id AS BIGINT) AS user_id, ts AS c_ts,
               CAST(event_id AS BIGINT) AS c_id
             FROM events WHERE event_type = 'view')
         SELECT p.p_id, c.c_id, p.user_id
         FROM p JOIN c ON p.user_id = c.user_id
           AND c.c_ts >= p.p_ts - INTERVAL 3600 SECOND
           AND c.c_ts <= p.p_ts
         ORDER BY p.p_id, c.c_id""",
    // per-(user, batch) running sum: update mode emits each touched
    // key's cumulative count once per batch
    "p148_stream_running_counts" ->
      """WITH e AS (SELECT CAST(user_id AS BIGINT) AS user_id,
             event_id % 3 AS b FROM events),
         per AS (SELECT user_id, b, count(*) AS n FROM e GROUP BY 1, 2),
         cum AS (SELECT user_id,
             CAST(sum(n) OVER (PARTITION BY user_id ORDER BY b
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_events FROM per)
         SELECT user_id, n_events FROM cum
         ORDER BY user_id, n_events""",

    // exhaustive adjacency oracle: per node, top-4 by (cosine DESC,
    // neighbor_id) over ALL pairs — cosine bit-matched between engines
    // (established by p07)
    "p139_knn_graph" ->
      """WITH e AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
               CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         s AS (SELECT a.vec_id AS node_id, b.vec_id AS neighbor_id,
                 list_cosine_similarity(a.v, b.v) AS score
               FROM e a JOIN e b ON a.vec_id <> b.vec_id),
         r AS (SELECT node_id, neighbor_id,
                 row_number() OVER (PARTITION BY node_id
                   ORDER BY score DESC, neighbor_id) AS rnk
               FROM s)
         SELECT node_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id
         FROM r WHERE rnk <= 8 ORDER BY node_id, rnk""",
    // exact re-rank of the engine's own dumped visited set — identical
    // tie order (score DESC, neighbor_id), self-matches excluded
    "p140_graph_beam_topk" ->
      s"""WITH vis AS (SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(node_id AS BIGINT) AS node_id
             FROM read_parquet('${beamVisitedPath(dir)}/*.parquet')),
         q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
               FROM embeddings ORDER BY vec_id LIMIT 10),
         sc AS (SELECT v.query_id, v.node_id AS neighbor_id,
                  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                    q.q_emb) AS score
                FROM vis v JOIN embeddings e ON e.vec_id = v.node_id
                  JOIN q ON q.query_id = v.query_id
                WHERE v.node_id <> v.query_id),
         r AS (SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, neighbor_id) AS rank
               FROM sc)
         SELECT query_id, rank, neighbor_id FROM r
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // same recall-table recompute as p141, over the NN-descent walk's
    // ef-tagged visited dump — the graph build is pinned by spec
    // (deterministic, layout-invariant, zero-job lazy construction); its
    // SEARCH OUTPUT is what the oracle re-ranks exactly
    "p145_graph_descent_recall" ->
      s"""WITH vis AS (SELECT CAST(ef AS BIGINT) AS ef,
               CAST(query_id AS BIGINT) AS query_id,
               CAST(node_id AS BIGINT) AS node_id
             FROM read_parquet('${descentSweepPath(dir)}/*.parquet')),
         q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
               FROM embeddings ORDER BY vec_id LIMIT 10),
         sc AS (SELECT v.ef, v.query_id, v.node_id AS neighbor_id,
                  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                    q.q_emb) AS score
                FROM vis v JOIN embeddings e ON e.vec_id = v.node_id
                  JOIN q ON q.query_id = v.query_id
                WHERE v.node_id <> v.query_id),
         g AS (SELECT ef, query_id, neighbor_id FROM (
                 SELECT ef, query_id, neighbor_id,
                   row_number() OVER (PARTITION BY ef, query_id
                     ORDER BY score DESC, neighbor_id) AS rk
                 FROM sc) WHERE rk <= 10),
         brute AS (SELECT query_id, neighbor_id FROM (
             SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                   q.q_emb) DESC, e.vec_id) AS rk
             FROM embeddings e CROSS JOIN q
             WHERE e.vec_id <> q.query_id) WHERE rk <= 10),
         hits AS (SELECT g.ef, count(*) AS n_hits
           FROM g JOIN brute USING (query_id, neighbor_id) GROUP BY 1),
         levels AS (SELECT DISTINCT ef FROM vis)
         SELECT l.ef, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) * 1000000 // 100 AS BIGINT)
             AS recall_ppm
         FROM levels l LEFT JOIN hits h ON l.ef = h.ef ORDER BY l.ef""",

    // merged-index (base ∪ delta assignment) candidate re-rank — the p13
    // oracle over the incremental dumps: inserted vectors that the probes
    // reach MUST appear exactly where the exhaustive re-rank puts them
    "p149_ivf_incremental" ->
      s"""WITH a AS (SELECT * FROM read_parquet('${ivfIncBasePath(dir)}/*.parquet')
               UNION ALL
             SELECT * FROM read_parquet('${ivfIncDeltaPath(dir)}/*.parquet')),
         p AS (SELECT * FROM read_parquet('${ivfIncProbePath(dir)}/*.parquet')),
         q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
               FROM embeddings ORDER BY vec_id LIMIT 10),
         cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
                  FROM p JOIN a USING (cell)),
         scored AS (SELECT c.query_id, c.neighbor_id,
                      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             q.q_emb) AS score
                    FROM cand c
                    JOIN embeddings e ON e.vec_id = c.neighbor_id
                    JOIN q ON q.query_id = c.query_id
                    WHERE c.neighbor_id <> c.query_id),
         ranked AS (SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, neighbor_id) AS rank
                    FROM scored)
         SELECT query_id, rank, neighbor_id FROM ranked
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // census recompute over the same dumped assignment tables: counts,
    // ppm share and the >200%-of-ideal retrain bit, every cell present
    "p150_ivf_cell_census" ->
      s"""WITH b AS (SELECT cell, count(*) AS n_base
             FROM read_parquet('${ivfIncBasePath(dir)}/*.parquet')
             GROUP BY 1),
         d AS (SELECT cell, count(*) AS n_delta
             FROM read_parquet('${ivfIncDeltaPath(dir)}/*.parquet')
             GROUP BY 1),
         cells AS (SELECT unnest(range(16)) AS cell),
         j AS (SELECT CAST(c.cell AS BIGINT) AS cell,
                 CAST(coalesce(b.n_base, 0) AS BIGINT) AS n_base,
                 CAST(coalesce(d.n_delta, 0) AS BIGINT) AS n_delta
               FROM cells c LEFT JOIN b ON b.cell = c.cell
                 LEFT JOIN d ON d.cell = c.cell),
         t AS (SELECT *, n_base + n_delta AS n_total,
                 sum(n_base + n_delta) OVER () AS grand FROM j)
         SELECT cell, n_base, n_delta, CAST(n_total AS BIGINT) AS n_total,
           CAST(n_total * 1000000 // grand AS BIGINT) AS share_ppm,
           CAST(CASE WHEN n_total * 16 * 100 > grand * 200
                THEN 1 ELSE 0 END AS BIGINT) AS retrain_bit
         FROM t ORDER BY cell""",
    // post-insert beam recall re-ranked from the ef-tagged visited dump —
    // the p141/p145 oracle over the merged graph's walk
    "p151_graph_insert_recall" ->
      s"""WITH vis AS (SELECT CAST(ef AS BIGINT) AS ef,
               CAST(query_id AS BIGINT) AS query_id,
               CAST(node_id AS BIGINT) AS node_id
             FROM read_parquet('${graphInsertSweepPath(dir)}/*.parquet')),
         q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
               FROM embeddings ORDER BY vec_id LIMIT 10),
         sc AS (SELECT v.ef, v.query_id, v.node_id AS neighbor_id,
                  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                    q.q_emb) AS score
                FROM vis v JOIN embeddings e ON e.vec_id = v.node_id
                  JOIN q ON q.query_id = v.query_id
                WHERE v.node_id <> v.query_id),
         g AS (SELECT ef, query_id, neighbor_id FROM (
                 SELECT ef, query_id, neighbor_id,
                   row_number() OVER (PARTITION BY ef, query_id
                     ORDER BY score DESC, neighbor_id) AS rk
                 FROM sc) WHERE rk <= 10),
         brute AS (SELECT query_id, neighbor_id FROM (
             SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                   q.q_emb) DESC, e.vec_id) AS rk
             FROM embeddings e CROSS JOIN q
             WHERE e.vec_id <> q.query_id) WHERE rk <= 10),
         hits AS (SELECT g.ef, count(*) AS n_hits
           FROM g JOIN brute USING (query_id, neighbor_id) GROUP BY 1),
         levels AS (SELECT DISTINCT ef FROM vis)
         SELECT l.ef, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) * 1000000 // 100 AS BIGINT)
             AS recall_ppm
         FROM levels l LEFT JOIN hits h ON l.ef = h.ef ORDER BY l.ef""",

    // recall table recomputed from the ef-tagged visited dump vs a full
    // brute re-rank; zero-hit sweep levels preserved (the p89 lesson)
    "p141_graph_recall_sweep" ->
      s"""WITH vis AS (SELECT CAST(ef AS BIGINT) AS ef,
               CAST(query_id AS BIGINT) AS query_id,
               CAST(node_id AS BIGINT) AS node_id
             FROM read_parquet('${beamSweepPath(dir)}/*.parquet')),
         q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
               FROM embeddings ORDER BY vec_id LIMIT 10),
         sc AS (SELECT v.ef, v.query_id, v.node_id AS neighbor_id,
                  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                    q.q_emb) AS score
                FROM vis v JOIN embeddings e ON e.vec_id = v.node_id
                  JOIN q ON q.query_id = v.query_id
                WHERE v.node_id <> v.query_id),
         g AS (SELECT ef, query_id, neighbor_id FROM (
                 SELECT ef, query_id, neighbor_id,
                   row_number() OVER (PARTITION BY ef, query_id
                     ORDER BY score DESC, neighbor_id) AS rk
                 FROM sc) WHERE rk <= 10),
         brute AS (SELECT query_id, neighbor_id FROM (
             SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                   q.q_emb) DESC, e.vec_id) AS rk
             FROM embeddings e CROSS JOIN q
             WHERE e.vec_id <> q.query_id) WHERE rk <= 10),
         hits AS (SELECT g.ef, count(*) AS n_hits
           FROM g JOIN brute USING (query_id, neighbor_id) GROUP BY 1),
         levels AS (SELECT DISTINCT ef FROM vis)
         SELECT l.ef, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) * 1000000 // 100 AS BIGINT)
             AS recall_ppm
         FROM levels l LEFT JOIN hits h ON l.ef = h.ef ORDER BY l.ef"""
  )
}
