package graft.pipe

import org.apache.spark.sql.Dataset
import graft.classify.DocTypeClassifier
import graft.html.BoilerplateStrip
import graft.kernel.{Backends, DonutBackend, OcrBackend}
import graft.model._
import graft.text.PyText
import graft.validate.Validator

/** Post-OCR intermediate row (stage A output — SURVEY.md §7.4):
  * the reference's (raw_text, lines, avg_confidence) IR plus face and the
  * media refs (kept for the Donut fallback kernel). */
final case class DocOcr(
    doc_id: String,
    raw_text: String,
    lines: Seq[String],
    avg_conf: Double,
    face_ref: String,
    face_b64: String,
    media_refs: Seq[String],
    failures: Long,
    oversize: Boolean = false)

/** The end-to-end extraction pipeline: a single narrow (shuffle-free) chain
  * scan → OCR kernel (mapPartitions) → extract/validate (map) → spans.
  * Span order is a row-local array property, so the plan needs NO shuffle
  * between stages — the property that makes near-linear scaling to 10^12
  * docs plausible (SURVEY.md §4).
  *
  * This is the only extraction path: batch (`run`), checkpointed
  * (`CheckpointRunner`), salted (`SaltedPipeline`'s light slice, which also
  * carries every oversize doc) and streaming (`run` on a streaming
  * Dataset) extraction all run `ocrStage → extractStage`. The 16 MB
  * ingestion cap is decided only here (`oversize`); other entry points
  * route on it.
  */
object ExtractionPipeline {

  /** Input-validation cap — the reference rejects uploads over 16 MB at
    * ingestion (`app/main.py:41` MAX_CONTENT_LENGTH, HTTP 413). The engine
    * analogue: oversize rows skip the OCR kernel entirely (checked per row
    * INSIDE the fused stage — no second input scan) and surface as
    * `Rejected` DocResults, so they land in the rejected sink partition and
    * count in the metrics rollup. */
  val MaxInputBytes: Long = 16L * 1024 * 1024

  /** Payload size of a doc: text chars + media-ref bytes (the synthesized
    * media payload is keyed by its ref; a real binary column would sum the
    * binary lengths here). */
  private def docBytes(doc: Doc): Long = {
    var n = 0L
    doc.spans.foreach { s =>
      if (s.text != null) n += s.text.length
      if (s.media_ref != null) n += s.media_ref.length
    }
    n
  }

  /** The one cap test: true when `doc` is over `MaxInputBytes`. */
  def oversize(doc: Doc): Boolean = docBytes(doc) > MaxInputBytes

  private def oversizeOcr(doc: Doc): DocOcr =
    DocOcr(doc.doc_id, "", Vector.empty, 0.0, null, null, Vector.empty, 0L,
      oversize = true)

  private def rejectedResult(o: DocOcr): DocResult =
    DocResult(
      doc_id = o.doc_id,
      document_type = "Rejected",
      doc_type_dir = "rejected",
      is_valid = false,
      validation_error = s"payload exceeds $MaxInputBytes-byte cap (app/main.py:41)",
      ocr_accuracy_score = 0.0,
      record_json = "{}",
      spans = Vector.empty)

  /** OCR + content assembly for one doc. Spans are processed in offset
    * order: text spans through the HTML main-content extractor, media spans
    * through the OCR backend with the reference's drop_score=0.8 filter
    * (ocr_engine.py:23) and a retry-on-crash fallback (ocr_engine.py:40-43).
    * raw_text joins all lines with " " (ocr_engine.py:71); avg confidence is
    * the mean over kept OCR lines, 0.0 when none (ocr_engine.py:72). The
    * face comes from the first media span that carries one
    * (preprocess.py:18-49 — the reference has exactly one image per doc). */
  def ocrDoc(doc: Doc, backend: OcrBackend): DocOcr = ocrDocFull(doc, backend)._1

  /** ocrDoc plus the kept per-line confidences (needed by the salted path
    * to reassemble a bit-identical mean). */
  def ocrDocFull(doc: Doc, backend: OcrBackend): (DocOcr, Vector[Double]) = {
    val lines = Vector.newBuilder[String]
    val confs = Vector.newBuilder[Double]
    val mediaRefs = Vector.newBuilder[String]
    var faceRef: String = null
    var faceB64: String = null
    var failures = 0L

    // spans are contiguous-by-offset in well-formed docs; sort only when not
    var sorted = true
    var k = 1
    while (k < doc.spans.length && sorted) {
      if (doc.spans(k).offset < doc.spans(k - 1).offset) sorted = false
      k += 1
    }
    val ordered = if (sorted) doc.spans else doc.spans.sortBy(_.offset)
    ordered.foreach { s =>
      s.kind match {
        case "text" =>
          lines ++= BoilerplateStrip.lines(s.text)
        case "media" =>
          mediaRefs += s.media_ref
          val (ls, cs, faceOpt) =
            try backend.decode(s.media_ref)
            catch {
              case _: Exception =>
                // crash fallback: one retry on a fresh safe path
                failures += 1
                try backend.decode(s.media_ref)
                catch {
                  case _: Exception =>
                    (Vector.empty[String], Vector.empty[Double], None)
                }
            }
          var i = 0
          while (i < ls.length) {
            if (i >= cs.length || cs(i) >= 0.8) { // drop_score
              lines += ls(i)
              if (i < cs.length) confs += cs(i)
            }
            i += 1
          }
          if (faceRef == null) {
            faceOpt.foreach { b64 =>
              faceRef = s"face:${s.media_ref}"
              faceB64 = b64
            }
          }
        case _ => // unknown span kinds pass through untouched
      }
    }
    val ls = lines.result()
    val cs = confs.result()
    val avg = if (cs.nonEmpty) cs.sum / cs.length else 0.0
    (DocOcr(doc.doc_id, ls.mkString(" "), ls, avg, faceRef, faceB64,
      mediaRefs.result(), failures), cs)
  }

  /** Regex extraction → optional Donut fallback → metadata → validation →
    * span emission. Mirrors `pipeline/extractor.py:27-127` exactly;
    * the Donut kernel is invoked per-row only for still-Unknown docs
    * (cheap-regex-first ordering, extractor.py:96-99). */
  def extractDoc(o: DocOcr, useDonut: Boolean, donut: () => DonutBackend): DocResult = {
    val extracted = DocTypeClassifier.extractWithRouting(o.raw_text, o.lines)

    if (useDonut && extracted.get("document_type").contains("Unknown") &&
        o.media_refs.nonEmpty) {
      val donutData = donut().process(o.media_refs.head)
      DocTypeClassifier.mergeDonut(extracted,
        if (donutData.fields.nonEmpty) Some(donutData) else None)
    }

    // raw-text passthrough — extractor.py:110-111
    if (extracted.get("document_type").contains("Unknown") && o.raw_text.nonEmpty)
      extracted("raw_text") = o.raw_text

    // metadata — extractor.py:113-114
    extracted("face_image") = o.face_b64 // null when absent (Python None)
    extracted("ocr_accuracy_score") = PyText.round2(o.avg_conf * 100)

    val (isValid, record, errorMsg) = Validator.validateDocument(extracted.toJ)

    val docType = record.get("document_type") match {
      case Some(JStr(s)) => s
      case _             => "Unknown"
    }
    val score = PyText.round2(o.avg_conf * 100)

    // Output span contract (SURVEY.md §7.2): one field span per record key
    // in dict order, then the face media span, then the trailing metric span.
    val spans = Vector.newBuilder[Span]
    var off = 0
    record.fields.foreach { case (k, v) =>
      spans += Span(s"field:$k", JValue.spanText(v), null, off)
      off += 1
    }
    if (o.face_ref != null) {
      spans += Span("media", "", o.face_ref, off)
      off += 1
    }
    spans += Span("metric", JValue.pyFloatRepr(score), null, off)

    DocResult(
      doc_id = o.doc_id,
      document_type = docType,
      doc_type_dir = docType.replace(" ", "_").toLowerCase, // dataset_builder.py:26
      is_valid = isValid,
      validation_error = errorMsg,
      ocr_accuracy_score = score,
      record_json = JValue.toJson(record),
      spans = spans.result())
  }

  /** Stage A as a Dataset transform — the mapPartitions inference kernel.
    * Backend init happens once per executor JVM (Backends holder). */
  def ocrStage(docs: Dataset[Doc]): Dataset[DocOcr] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.mapPartitions { it =>
      val backend = Backends.ocr()
      it.map(d => if (oversize(d)) oversizeOcr(d) else ocrDoc(d, backend))
    }
  }

  /** Stage B: extraction + validation + span emission. */
  def extractStage(ocr: Dataset[DocOcr], useDonut: Boolean = false): Dataset[DocResult] = {
    val spark = ocr.sparkSession
    import spark.implicits._
    ocr.mapPartitions { it =>
      val donut = () => Backends.donut()
      it.map(o => if (o.oversize) rejectedResult(o)
                  else extractDoc(o, useDonut, donut))
    }
  }

  /** Fused end-to-end pipeline (the production path): one narrow stage,
    * whole pipeline runs scan→write with zero shuffles. */
  def run(docs: Dataset[Doc], useDonut: Boolean = false): Dataset[DocResult] =
    extractStage(ocrStage(docs), useDonut)
}
