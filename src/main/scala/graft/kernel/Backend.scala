package graft.kernel

import java.util.Base64
import graft.io.Corpus
import graft.model.JObj

/** Inference backends for the mapPartitions kernels (SURVEY.md §7.5).
  *
  * The sandbox has no PaddleOCR/Donut models, so the default backend is the
  * deterministic inverse of the Corpus content keys; the kernel architecture
  * (one lazy init per executor JVM, batching, crash fallback) is real and a
  * model-backed implementation can be dropped in behind the same trait.
  * Reference analogue of the lazy per-worker init: `app/tasks.py:13-25`,
  * `pipeline/ocr_engine.py:13-30`.
  */
trait OcrBackend extends Serializable {
  /** media ref → (recognized lines, per-line confidences) — pre-drop_score. */
  def ocr(mediaRef: String): (Vector[String], Vector[Double])
  /** media ref → base64 face crop, if the media carries a face
    * (ref: pipeline/preprocess.py:18-49). */
  def face(mediaRef: String): Option[String]
  /** Fused decode — one media access for OCR + face (the hot path). */
  def decode(mediaRef: String): (Vector[String], Vector[Double], Option[String]) = {
    val (ls, cs) = ocr(mediaRef)
    (ls, cs, face(mediaRef))
  }
}

trait DonutBackend extends Serializable {
  /** media ref → structured field dict ({} on failure) —
    * ref: pipeline/donut_engine.py:33-68. */
  def process(mediaRef: String): JObj
}

final class DeterministicOcrBackend extends OcrBackend {
  private def faceOf(p: Corpus.MediaPayload, mediaRef: String): Option[String] =
    if (p.hasFace)
      Some(Base64.getEncoder.encodeToString(s"FACE:$mediaRef".getBytes("UTF-8")))
    else None
  def ocr(mediaRef: String): (Vector[String], Vector[Double]) = {
    val p = Corpus.render(mediaRef)
    (p.lines, p.confs)
  }
  def face(mediaRef: String): Option[String] =
    faceOf(Corpus.render(mediaRef), mediaRef)
  override def decode(mediaRef: String): (Vector[String], Vector[Double], Option[String]) = {
    val p = Corpus.render(mediaRef) // single media access
    (p.lines, p.confs, faceOf(p, mediaRef))
  }
}

final class DeterministicDonutBackend extends DonutBackend {
  def process(mediaRef: String): JObj = Corpus.render(mediaRef).donut
}

/** Per-JVM backend holders: initialized lazily ONCE per executor and shared
  * by every partition that executor processes — the Spark restatement of the
  * reference's per-worker model singletons (O25). "deterministic" is the
  * only backend; any other name is an error. */
object Backends {
  private lazy val deterministicOcr: OcrBackend = new DeterministicOcrBackend
  private lazy val deterministicDonut: DonutBackend = new DeterministicDonutBackend

  def ocr(name: String = "deterministic"): OcrBackend = name match {
    case "deterministic" => deterministicOcr
    case other => throw new IllegalArgumentException(s"unknown OCR backend: $other")
  }

  def donut(name: String = "deterministic"): DonutBackend = name match {
    case "deterministic" => deterministicDonut
    case other => throw new IllegalArgumentException(s"unknown Donut backend: $other")
  }
}
