package graft.pipe

import org.apache.spark.sql.Dataset
import graft.kernel.Backends
import graft.model.{Doc, DocResult}

/** Skew handling for media-heavy documents (SURVEY.md §4 "salting").
  *
  * A document with 50 media spans costs ~50× the median in the OCR kernel;
  * at coarse partition granularity a few such docs can straggle a task.
  * This path splits each heavy doc into salted span groups (`doc_id × salt`)
  * so the kernel cost spreads across tasks, then re-merges by doc_id — the
  * ONLY shuffle in the whole extraction pipeline, applied ONLY to the heavy
  * slice (light docs stay on the fused zero-shuffle path).
  *
  * Equality with the fused path is proven by SaltedPipelineSpec.
  */
object SaltedPipeline {

  /** Partial OCR result of one salted span group. */
  final case class OcrPiece(
      doc_id: String,
      first_offset: Int,
      lines: Seq[String],
      confs: Seq[Double],
      face_offset: Int, // offset of the first face-carrying media span, or -1
      face_ref: String,
      face_b64: String,
      media_refs: Seq[String],
      failures: Long)

  /** Spans per salted group of a heavy doc. */
  private val GroupSize = 4

  /** Spans at which a doc counts as heavy. */
  private val HeavyThreshold = 8

  /** Salted run: heavy docs (≥ `HeavyThreshold` spans) are exploded into span
    * groups of `GroupSize`, OCR'd in parallel, re-merged by doc_id; light
    * docs take the fused path. So do oversize docs, heavy or not: the fused
    * path turns them into `Rejected` rows in its kernel, so the cap is never
    * re-checked here. Like the fused path's default, it runs without the
    * Donut fallback. */
  def run(docs: Dataset[Doc]): Dataset[DocResult] = {
    val spark = docs.sparkSession
    import spark.implicits._

    val isHeavy = (d: Doc) =>
      d.spans.length >= HeavyThreshold && !ExtractionPipeline.oversize(d)
    val light = docs.filter(d => !isHeavy(d))
    val heavy = docs.filter(isHeavy)

    // explode heavy docs into salted groups of contiguous spans
    val pieces = heavy.flatMap { d =>
      d.spans.sortBy(_.offset).grouped(GroupSize).map(g => (d.doc_id, g))
    }.mapPartitions { it =>
      val backend = Backends.ocr()
      it.map { case (docId, spans) =>
        val (o, confs) = ExtractionPipeline.ocrDocFull(Doc(docId, spans), backend)
        val faceOff =
          if (o.face_ref == null) -1
          else spans.filter(_.kind == "media")
            .find(s => s"face:${s.media_ref}" == o.face_ref)
            .map(_.offset).getOrElse(-1)
        OcrPiece(docId, spans.map(_.offset).min, o.lines, confs,
          faceOff, o.face_ref, o.face_b64, o.media_refs, o.failures)
      }
    }

    // re-merge by doc_id (the single shuffle, heavy slice only).
    // Confs concatenate in offset order, so the mean is the SAME float
    // operation sequence as the fused single-pass — bit-identical scores.
    val heavyOcr = pieces.groupByKey(_.doc_id).mapGroups { (docId, it) =>
      val ps = it.toVector.sortBy(_.first_offset)
      val lines = ps.flatMap(_.lines)
      val confs = ps.flatMap(_.confs)
      val faces = ps.filter(_.face_offset >= 0).sortBy(_.face_offset)
      val face = faces.headOption
      DocOcr(docId, lines.mkString(" "), lines,
        if (confs.nonEmpty) confs.sum / confs.length else 0.0,
        face.map(_.face_ref).orNull, face.map(_.face_b64).orNull,
        ps.flatMap(_.media_refs), ps.map(_.failures).sum)
    }

    val lightResults = ExtractionPipeline.run(light)
    val heavyResults = ExtractionPipeline.extractStage(heavyOcr)
    lightResults.union(heavyResults)
  }
}
