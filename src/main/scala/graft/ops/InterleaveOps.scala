package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.Doc

/** Operators over the INTERLEAVED span payload itself — the text+media
  * alternation structure of a doc, not just its flattened text. Span order
  * is row-local (the array inside the row), so every stat here is one
  * narrow typed pass: the interleave structure never explodes into a
  * shuffle. The driver oracle gets an exploded (doc_id, ord, kind) dump and
  * recomputes the run structure with window functions — engine aggregation
  * checked by an independent formulation, extraction itself stays
  * parity-gated. */
object InterleaveOps {

  /** Per-doc interleave/run statistics: span counts by kind, number of
    * kind-alternation runs, longest media and text runs, and the count of
    * text→media adjacencies (caption candidates — the alignment signal
    * multimodal curation filters on). */
  def spanRunStats(docs: Dataset[Doc]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.map { d =>
      var nText = 0L; var nMedia = 0L
      var runs = 0L; var maxMediaRun = 0L; var maxTextRun = 0L
      var textThenMedia = 0L
      var prev: String = null
      var cur = 0L
      d.spans.foreach { s =>
        if (s.kind == "media") nMedia += 1 else nText += 1
        if (prev == null || s.kind != prev) {
          if (prev != null) {
            if (prev == "media") maxMediaRun = math.max(maxMediaRun, cur)
            else maxTextRun = math.max(maxTextRun, cur)
          }
          if (prev != null && prev != "media" && s.kind == "media")
            textThenMedia += 1
          runs += 1
          cur = 1L
          prev = s.kind
        } else cur += 1
      }
      if (prev != null) {
        if (prev == "media") maxMediaRun = math.max(maxMediaRun, cur)
        else maxTextRun = math.max(maxTextRun, cur)
      }
      (d.doc_id, (nText + nMedia), nText, nMedia, runs, maxTextRun,
        maxMediaRun, textThenMedia)
    }.toDF("doc_id", "n_spans", "n_text_spans", "n_media_spans", "n_runs",
      "max_text_run", "max_media_run", "n_text_media_adj")
  }

  /** Exploded (doc_id, ord, kind) span table — the oracle's independent
    * view of the interleave structure. */
  def spanKindDump(docs: Dataset[Doc]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap { d =>
      d.spans.iterator.zipWithIndex.map { case (s, i) =>
        (d.doc_id, i.toLong, s.kind)
      }
    }.toDF("doc_id", "ord", "kind")
  }

  /** Exploded (doc_id, ord, offset) rows — x11's oracle recomputes the
    * audit below from this dump with window functions. */
  def spanOffsetDump(docs: Dataset[Doc]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap { d =>
      val id = d.doc_id.stripPrefix("doc-").toLong
      d.spans.iterator.zipWithIndex.map { case (s, i) =>
        (id, i.toLong, s.offset.toLong)
      }
    }.toDF("doc_id", "ord", "offset")
  }

  /** Span-CONTRACT audit over the interleaved payload — the ingestion-time
    * validation an Iceberg writer enforces before committing a snapshot:
    * per doc, offset-monotonicity violations (offset[i] ≤ offset[i-1] in
    * span order) and negative offsets, plus a well-formed verdict. One
    * row-local pass; like every op in this file the structure never
    * explodes into a shuffle. */
  def spanAudit(docs: Dataset[Doc]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.map { d =>
      var viol = 0L; var neg = 0L
      var prev = Long.MinValue
      d.spans.foreach { s =>
        if (s.offset <= prev) viol += 1
        prev = s.offset
        if (s.offset < 0) neg += 1
      }
      (d.doc_id.stripPrefix("doc-").toLong, d.spans.size.toLong, viol, neg,
        if (viol == 0 && neg == 0) 1L else 0L)
    }.toDF("doc_id", "n_spans", "n_order_violations", "n_negative_offsets",
      "is_wellformed")
  }

  /** Exploded FULL span dump (doc_id, ord, kind, text, media_ref, offset) —
    * x12's oracle re-renders the interleaved payload independently from
    * this table with an ordered string_agg. */
  def spanFullDump(docs: Dataset[Doc]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap { d =>
      val id = d.doc_id.stripPrefix("doc-").toLong
      d.spans.iterator.zipWithIndex.map { case (s, i) =>
        (id, i.toLong, s.kind, s.text, s.media_ref, s.offset.toLong)
      }
    }.toDF("doc_id", "ord", "kind", "text", "media_ref", "offset")
  }

  /** Interleaved→training-text rendering — the flattening a multimodal
    * training pipeline feeds the tokenizer: text spans verbatim, every
    * non-text span replaced by a deterministic `<|kind:media_ref|>`
    * sentinel the model's special-token vocabulary carries, concatenated
    * in (offset, array-position) order. One row-local typed pass (the
    * interleave never shuffles); the output pins length + md5 of the
    * rendered bytes so the driver compare stays compact while fixing the
    * exact rendering. */
  def renderInterleaved(docs: Dataset[Doc]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.map { d =>
      val sorted = d.spans.zipWithIndex
        .sortBy { case (s, i) => (s.offset, i) }
      val sb = new StringBuilder
      var nMedia = 0L
      sorted.foreach { case (s, _) =>
        if (s.kind == "text") sb.append(s.text)
        else {
          nMedia += 1
          sb.append("<|").append(s.kind).append(':')
            .append(s.media_ref).append("|>")
        }
      }
      (d.doc_id.stripPrefix("doc-").toLong, d.spans.size.toLong, nMedia,
        sb.toString)
    }.toDF("doc_id", "n_spans", "n_media", "rendered")
      .select(col("doc_id"), col("n_spans"), col("n_media"),
        length(col("rendered")).cast("long").as("rendered_len"),
        md5(col("rendered").cast("binary")).as("rendered_hash"))
  }

  /** CLIP-style (media, caption) pair mining over the interleaved payload:
    * a media span's caption candidate is the text span that IMMEDIATELY
    * follows it in render order ((offset, array-position) — the same order
    * x12 renders in), the adjacency heuristic image–text contrastive
    * pipelines mine pairs with. One row-local typed pass — like every op
    * here the interleave structure never shuffles; the caption bytes are
    * pinned by length + md5 so the driver compare stays compact while
    * fixing the exact pairing. `ord` is the media span's render position
    * (0-based), which keys the pair uniquely inside its doc. */
  def captionPairs(docs: Dataset[Doc]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap { d =>
      val id = d.doc_id.stripPrefix("doc-").toLong
      val arr = d.spans.zipWithIndex
        .sortBy { case (s, i) => (s.offset, i) }.map(_._1).toIndexedSeq
      (0 until arr.length - 1).iterator.collect {
        case i if arr(i).kind == "media" && arr(i + 1).kind == "text" =>
          (id, i.toLong, arr(i).media_ref, arr(i + 1).text)
      }
    }.toDF("doc_id", "ord", "media_ref", "caption")
      .select(col("doc_id"), col("ord"), col("media_ref"),
        length(col("caption")).cast("long").as("caption_len"),
        md5(col("caption").cast("binary")).as("caption_hash"))
  }

  /** Per-doc MULTIMODAL packing cost: whitespace tokens of the text spans
    * plus 64 tokens per media span (a vision encoder emits a fixed
    * patch-token budget per image — 64 here). One typed pass; feeds
    * `PackingOps.packChunksCost`. */
  def mmCosts(docs: Dataset[Doc]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wsPat = "\\s+"
    docs.map { d =>
      var cost = 0L
      d.spans.foreach { s =>
        if (s.kind == "media") cost += 64
        else {
          val t = s.text.trim
          cost += (if (t.isEmpty) 1 else t.split(wsPat).length)
        }
      }
      // numeric id (doc_id is "doc-%012d") — packing needs an ordered key
      (d.doc_id.stripPrefix("doc-").toLong, cost)
    }.toDF("doc_id", "cost")
  }

  /** Corpus-level span-kind transition matrix (the Markov structure of the
    * interleaved payload): counts of each consecutive (from_kind, to_kind)
    * pair across all docs, plus one '^' start row per doc — what a layout
    * model or packing policy reads to know how media and text actually
    * alternate. Transitions are row-local (the span array is in the row),
    * so the only shuffle is the final few-row (from, to) aggregation;
    * the oracle recomputes the matrix with lag() windows over the
    * exploded kind dump. */
  def kindTransitions(docs: Dataset[Doc]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap { d =>
      val kinds = d.spans.iterator.map(_.kind)
      var prev = "^"
      kinds.map { k => val p = prev; prev = k; (p, k) }
    }.toDF("from_kind", "to_kind")
      .groupBy(col("from_kind"), col("to_kind"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy(col("from_kind"), col("to_kind"))
  }
}
