package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.Doc

/** Multimodal-column plumbing: media content as opaque `binary` columns with
  * typed metadata, decoded/feature-extracted in a batched per-partition
  * kernel. The image/audio codecs are NOT in this container, so the decode
  * step is a clearly-marked deterministic surrogate (`fakeDecode`) — the
  * Spark-side contract (schema, batching, partitioning, kernel shape) is
  * real and a codec-backed decoder drops in behind the same signature.
  */
object MultimodalOps {

  final case class MediaMeta(
      doc_id: String,
      media_ref: String,
      n_bytes: Int,
      width: Int,
      height: Int,
      format: String,
      n_frames: Int,
      feature: Array[Float])

  /** SURROGATE for the real decoder (cv2.imread/resize in the reference,
    * preprocess.py:51-87): metadata and a feature vector derived
    * deterministically from the bytes. Replace with a codec call in prod. */
  private[graft] def fakeDecode(ref: String, bytes: Array[Byte])
    : (Int, Int, String, Int, Array[Float]) = {
    val h = graft.io.Corpus.hash(ref)
    val width = 640 + (math.abs(h) % 1280).toInt
    val height = 480 + (math.abs(h >> 16) % 960).toInt
    val fmt = if ((h & 1) == 0) "jpeg" else "png"
    val nFrames = 1 + (math.abs(h >> 24) % 240).toInt // video-style surrogate
    val feat = Array.tabulate(8)(i => (((h >> (i * 8)) & 0xff).toFloat) / 255f)
    (width, height, fmt, nFrames, feat)
  }

  /** Extract every media span as (doc_id, media_ref, content: binary), then
    * decode in a mapPartitions kernel batched 64 at a time (the
    * shape a GPU/codec batch API needs). */
  def mediaTable(docs: Dataset[Doc]): Dataset[MediaMeta] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap(d => d.spans.filter(_.kind == "media")
        .map(s => (d.doc_id, s.media_ref,
          s.media_ref.getBytes("UTF-8")))) // binary payload surrogate
      .mapPartitions { it =>
        it.grouped(64).flatMap { batch =>
          // batch boundary = where a real codec/model call would go
          batch.iterator.map { case (docId, ref, bytes) =>
            val (w, h, fmt, nf, feat) = fakeDecode(ref, bytes)
            MediaMeta(docId, ref, bytes.length, w, h, fmt, nf, feat)
          }
        }
      }
  }

  /** Frame-sampling PLAN for video media — the decode pre-flight: before
    * any codec runs, emit exactly which frames each clip contributes at a
    * uniform budget of maxSamples = 8 frames/clip, with NTSC-rational
    * timestamps (`fps = fpsNum/fpsDen` = 24000/1001) kept in exact
    * integer arithmetic (`ts_ms = idx·1000·fpsDen DIV fpsNum`) so the
    * schedule is bit-reproducible — float fps drifts one frame every few
    * minutes and desyncs re-extraction. The selector
    * `idx_j = j·n DIV k, j < k = min(maxSamples, n)` is strictly
    * increasing (n ≥ k), covers the clip uniformly, and degrades to
    * all-frames for short clips.
    *
    * Scale shape: one codegen HOF chain (`sequence → transform`) and an
    * explode per media row — narrow, no shuffle, no UDF; the output IS the
    * work manifest a 10^12-doc frame-extraction stage shards by. */
  def frameSampleSchedule(media: DataFrame): DataFrame = {
    val k = least(lit(8L), col("n_frames").cast("long"))
    media
      .select(col("doc_id"), col("media_ref"),
        col("n_frames").cast("long").as("n_frames"), k.as("sample_k"))
      .withColumn("j", explode(sequence(lit(0L), col("sample_k") - 1)))
      .withColumn("frame_idx",
        expr("CAST(j * n_frames DIV sample_k AS BIGINT)"))
      .withColumn("ts_ms",
        expr("CAST(frame_idx * 1000 * 1001 DIV 24000 AS BIGINT)"))
      .drop("j")
      .orderBy(col("doc_id"), col("media_ref"), col("frame_idx"))
  }

  private def statsOver(media: DataFrame): DataFrame =
    media.groupBy(col("format"))
      .agg(count(lit(1)).as("n_media"),
           sum(col("n_bytes")).as("total_bytes"),
           max(col("width")).as("max_width"),
           max(col("height")).as("max_height"))
      .orderBy(col("format"))

  /** Per-format media statistics over the decoded metadata, with the
    * decoded media table materialized to `dumpPath` first, then
    * aggregated from the dump — the dump is what gives the
    * driver's DuckDB oracle a table to aggregate over (the media table
    * itself is Scala-synthesized, so SQL can't rebuild it from parquet). */
  def mediaStatsDumped(docs: Dataset[Doc], dumpPath: String): DataFrame = {
    val spark = docs.sparkSession
    mediaTable(docs).toDF()
      .select(col("doc_id"), col("media_ref"), col("n_bytes"),
        col("width"), col("height"), col("format"), col("n_frames"))
      .write.mode("overwrite").parquet(dumpPath)
    statsOver(spark.read.parquet(dumpPath))
  }

  /** Perceptual-hash near-duplicate pairs over media payloads — the image
    * half of the dedup family (LAION-style pipelines run exactly this
    * beside text MinHash): every distinct media payload gets a 64-bit
    * dHash (`functions.DHash64`, one codegen byte pass over the decoded
    * grid — payload-byte surrogate here, codec-backed grid in prod), the
    * hash splits into four 16-bit bands, and candidates are pairs sharing
    * ANY band — by pigeonhole a pair within hamming ≤ 3 differs in at
    * most 3 of 4 bands, so banding has RECALL 1.0 at the threshold (the
    * guarantee MinHash only approaches probabilistically). Candidates are
    * verified exactly with one codegen `bit_count(ha ^ hb)`.
    *
    * Scale shape: the banded self-join shuffles (ref, 8-byte hash,
    * 2-byte band key) — never payloads or pixel grids; the verify runs
    * only on band-collision candidates. The distinct-ref table is dumped
    * first so the oracle can recompute every hash from the payload and
    * brute-force the exact all-pairs answer the bands must reproduce. */
  /** Scale fix (r4 "What's wrong #1" — sf1 showed ~19× wall for 10×
    * data): the band join runs over ONE REPRESENTATIVE PER DISTINCT
    * 64-BIT HASH, not per ref. Exact-dup clusters (hash-identical refs —
    * the dominant image-dup structure in any crawl) used to pair
    * quadratically through all four bands before the distinct(); now
    * their pairs are emitted arithmetically from a plain equi-join on
    * the full hash (output-sized, lossless: hamming(x,x)=0 always
    * qualifies) and the band join's input shrinks to the distinct-hash
    * count. On top, `MaxBandBucket` caps reps per (band, key) bucket —
    * flat/synthetic images concentrate on hot 16-bit keys and a hot
    * bucket is quadratic in the join; like p25's maxDf this is a
    * DOCUMENTED recall trade (pairs whose ONLY shared band is capped are
    * missed — the cap is far above anything the test corpora reach,
    * so the oracle's exact-equality contract is unaffected). Pairs are
    * kept at hamming ≤ 3. */
  def phashNearDupsDumped(docs: Dataset[Doc], dumpPath: String): DataFrame =
    phashNearDupsCapped(docs, dumpPath, MaxBandBucket)

  /** Reps per (band, key) bucket above which [[phashNearDupsDumped]]
    * prunes the bucket. */
  private val MaxBandBucket = 4096

  /** [[phashNearDupsDumped]] at an explicit bucket cap — the spec entry
    * for the cap's recall trade, which no test corpus reaches at
    * `MaxBandBucket`. */
  private[graft] def phashNearDupsCapped(docs: Dataset[Doc], dumpPath: String,
                                         maxBandBucket: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap(d => d.spans.filter(_.kind == "media").map(_.media_ref))
      .toDF("ref").distinct()
      .write.mode("overwrite").parquet(dumpPath)
    val hashed = spark.read.parquet(dumpPath)
      .select(col("ref"), graft.functions.functions.d_hash64(col("ref"))
        .as("h"))
    // hash-identical pairs: equi-join on the full 64-bit hash — no
    // banding, no distinct; the join is output-sized by construction
    val samePairs = hashed.as("x").join(hashed.as("y"),
        col("x.h") === col("y.h") && col("x.ref") < col("y.ref"))
      .select(col("x.ref").as("ref_a"), col("y.ref").as("ref_b"),
        lit(0L).as("hamming"))
    // distinct-hash representatives carry the banded candidate search;
    // any cross-hash pair within hamming ≤ 3 differs in ≤ 3 of 4 bands,
    // so its two hashes still share a band (pigeonhole recall 1.0)
    val reps = hashed.groupBy(col("h")).agg(min(col("ref")).as("rep"))
    val banded = reps.select(col("h"),
      explode(expr("transform(sequence(0, 3), b -> struct(b AS band, " +
        "CAST(shiftright(h, b * 16) & 65535 AS INT) AS key))")).as("bk"))
      .select(col("h"), col("bk.band").as("band"), col("bk.key").as("key"))
    val okBuckets = banded.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") <= maxBandBucket)
      .select(col("band"), col("key"))
    val pruned = banded.join(okBuckets, Seq("band", "key"))
    val hashPairs = pruned.as("a").join(pruned.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.h") < col("b.h"))
      .select(col("a.h").as("ha"), col("b.h").as("hb"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
      .filter(col("hamming") <= 3)
    // expand qualifying hash pairs back to member refs (output-sized)
    val crossPairs = hashPairs
      .join(hashed.select(col("h").as("ha"), col("ref").as("ra")), "ha")
      .join(hashed.select(col("h").as("hb"), col("ref").as("rb")), "hb")
      .select(least(col("ra"), col("rb")).as("ref_a"),
        greatest(col("ra"), col("rb")).as("ref_b"), col("hamming"))
    samePairs.unionByName(crossPairs)
      .orderBy(col("ref_a"), col("ref_b"))
  }

  /** Preprocess plan over a decoded media table: the reference's OCR input
    * normalization (width → 1800 px with proportional height, then a 50 px
    * white border — `preprocess.py:61,79-80`) plus every-30th frame
    * sampling for video-style media. Pure integer/codegen math so the plan
    * is oracle-checkable over the dumped media table; the actual pixel
    * resample happens in the batched decode kernel at execution time. */
  def preprocessPlan(media: DataFrame): DataFrame = {
    val targetWidth = 1800
    val border = 50
    val frameStep = 30
    media.select(
      col("doc_id"), col("media_ref"), col("width"), col("height"),
      lit(targetWidth).as("new_width"),
      floor(col("height").cast("double") * targetWidth /
        col("width")).cast("int").as("new_height"),
      (lit(targetWidth) + 2 * border).as("padded_width"),
      (floor(col("height").cast("double") * targetWidth / col("width"))
        .cast("int") + 2 * border).as("padded_height"),
      // frames 0, step, 2·step, … < n_frames — explicit floor() because
      // int/int division is double in both engines and DuckDB's
      // double→int cast rounds half-even while Spark's truncates
      floor((col("n_frames") + frameStep - 1) / frameStep).cast("int")
        .as("n_sampled_frames"))
  }
}
