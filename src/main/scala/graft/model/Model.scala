package graft.model

import scala.collection.mutable

/** Input span per BASELINE.json `input_hint`:
  * (doc_id, spans: array<struct<kind,text,media_ref,offset>>).
  * `text` spans carry HTML-ish content; `media` spans carry a content key.
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

final case class Doc(doc_id: String, spans: Seq[Span])

/** Final per-document pipeline result. `spans` is the equality-bearing
  * output sequence (kind, text, media_ref, offset) per SURVEY.md §7.2. */
final case class DocResult(
    doc_id: String,
    document_type: String,
    doc_type_dir: String, // ref: dataset_builder.py:26 replace(" ","_").lower()
    is_valid: Boolean,
    validation_error: String,
    ocr_accuracy_score: Double,
    record_json: String,
    spans: Seq[Span]
)

/** Per-stage, per-partition lineage row (SURVEY.md §7.4). */
final case class LineageRow(
    stage: String,
    partition_id: Int,
    doc_count: Long,
    span_count: Long,
    avg_conf: Double,
    failures: Long,
    wall_ms: Long
)

// ---------------------------------------------------------------------------
// Ordered JSON model. Python dicts are insertion-ordered and that order is
// part of the reference's output contract (SURVEY.md §7.6); JObj preserves it.
// ---------------------------------------------------------------------------

sealed trait JValue {
  /** Python truthiness (`not x`) — ref: pipeline/extractor.py:106. */
  def isFalsy: Boolean = this match {
    case JNull        => true
    case JStr(s)      => s.isEmpty
    case JNum(d)      => d == 0.0
    case JBool(b)     => !b
    case JArr(items)  => items.isEmpty
    case JObj(fields) => fields.isEmpty
  }
}
case object JNull extends JValue
final case class JStr(v: String) extends JValue
final case class JNum(v: Double) extends JValue
final case class JBool(v: Boolean) extends JValue
final case class JArr(items: Vector[JValue]) extends JValue
final case class JObj(fields: Vector[(String, JValue)]) extends JValue {
  def get(k: String): Option[JValue] = fields.find(_._1 == k).map(_._2)
  def contains(k: String): Boolean = fields.exists(_._1 == k)
  /** Python `d[k] = v`: replace in place if present, else append. */
  def updated(k: String, v: JValue): JObj =
    if (contains(k)) JObj(fields.map { case (f, old) => if (f == k) (f, v) else (f, old) })
    else JObj(fields :+ (k -> v))
}

object JValue {
  /** Compact JSON with preserved key order (Python json.dumps-compatible
    * for the value domain the pipeline produces). */
  def toJson(v: JValue): String = {
    val sb = new java.lang.StringBuilder
    write(v, sb); sb.toString
  }
  private def write(v: JValue, sb: java.lang.StringBuilder): Unit = v match {
    case JNull    => sb.append("null")
    case JBool(b) => sb.append(if (b) "true" else "false")
    case JNum(d)  => sb.append(pyFloatRepr(d))
    case JStr(s)  => writeString(s, sb)
    case JArr(items) =>
      sb.append('[')
      var first = true
      items.foreach { i => if (!first) sb.append(", "); write(i, sb); first = false }
      sb.append(']')
    case JObj(fields) =>
      sb.append('{')
      var first = true
      fields.foreach { case (k, fv) =>
        if (!first) sb.append(", ")
        writeString(k, sb); sb.append(": "); write(fv, sb); first = false
      }
      sb.append('}')
  }
  private def writeString(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case '\n'          => sb.append("\\n")
      case '\r'          => sb.append("\\r")
      case '\t'          => sb.append("\\t")
      case c if c < ' '  => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.append('"')
  }
  /** Python float repr for the score domain (finite, modest magnitude). */
  def pyFloatRepr(d: Double): String = {
    if (d == Math.rint(d) && !d.isInfinite && Math.abs(d) < 1e16) {
      val l = d.toLong
      s"$l.0"
    } else Double.box(d).toString
  }
  /** Span text rendering for a field value (SURVEY.md §7.2): strings are
    * raw; everything else is compact JSON. */
  def spanText(v: JValue): String = v match {
    case JStr(s) => s
    case other   => toJson(other)
  }
}

// ---------------------------------------------------------------------------
// PyDict — a mutable, insertion-ordered dict mirroring Python dict semantics,
// used inside the extractors (which mutate nested dicts in place, e.g.
// cleaner.py:354 data["address"]["full_raw_address"] = ...). Converted to an
// immutable JObj at the extractor boundary.
// ---------------------------------------------------------------------------
final class PyDict {
  private val m = mutable.LinkedHashMap[String, Any]()
  def update(k: String, v: Any): Unit = m(k) = v
  def apply(k: String): Any = m(k)
  def get(k: String): Option[Any] = m.get(k)
  def contains(k: String): Boolean = m.contains(k)
  def isEmpty: Boolean = m.isEmpty
  /** Python `d.get(k)` truthiness test helper. */
  def truthy(k: String): Boolean = m.get(k).exists(v => !PyDict.isFalsy(v))
  def toJ: JObj = JObj(m.iterator.map { case (k, v) => k -> PyDict.anyToJ(v) }.toVector)
}
object PyDict {
  def apply(kvs: (String, Any)*): PyDict = {
    val d = new PyDict
    kvs.foreach { case (k, v) => d(k) = v }
    d
  }
  def isFalsy(v: Any): Boolean = v match {
    case null                   => true
    case s: String              => s.isEmpty
    case d: Double              => d == 0.0
    case b: Boolean             => !b
    case buf: mutable.Buffer[_] => buf.isEmpty
    case seq: Seq[_]            => seq.isEmpty
    case pd: PyDict             => pd.isEmpty
    case j: JValue              => j.isFalsy
    case _                      => false
  }
  def anyToJ(v: Any): JValue = v match {
    case null                   => JNull
    case s: String              => JStr(s)
    case d: Double              => JNum(d)
    case i: Int                 => JNum(i.toDouble)
    case b: Boolean             => JBool(b)
    case pd: PyDict             => pd.toJ
    case j: JValue              => j
    case buf: mutable.Buffer[_] => JArr(buf.iterator.map(anyToJ).toVector)
    case seq: Seq[_]            => JArr(seq.iterator.map(anyToJ).toVector)
    case lhm: mutable.LinkedHashMap[_, _] =>
      JObj(lhm.iterator.map { case (k, vv) => k.toString -> anyToJ(vv) }.toVector)
    case other => JStr(other.toString)
  }
}
