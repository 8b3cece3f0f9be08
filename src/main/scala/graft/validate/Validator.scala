package graft.validate

import java.util.regex.Pattern
import graft.model._
import graft.text.PyText._

/** Schema validation — semantics of reference `pipeline/validator.py:18-52`
  * plus the per-type Pydantic schemas under `schemas/`.
  *
  * A valid document returns the schema-shaped `model_dump()`: declared
  * fields in schema order (parent fields first, as pydantic v2 does),
  * defaults filled for unset optionals, extras appended in input insertion
  * order. An invalid document returns the RAW input dict unchanged
  * (validator.py:48) plus a canonical error message.
  *
  * Error strings use a stable canonical format
  * ("N validation error(s) for <Schema>\n<field>\n  <message>") rather than
  * byte-matching pydantic's version-dependent rendering; the message bodies
  * ("Field required", "Value error, <custom>") match pydantic's.
  */
object Validator {

  final case class FieldSpec(
      name: String,
      required: Boolean = false,
      default: JValue = JNull,
      check: JValue => Option[String] = _ => None,
      coerce: JValue => JValue = identity)

  final case class Schema(name: String, fields: Vector[FieldSpec])

  // --- field validators (schemas/*.py) -------------------------------------
  private val aadhaarNumPat = Pattern.compile("^\\d{4} \\d{4} \\d{4}$")
  private def checkAadhaar(v: JValue): Option[String] = v match {
    case JStr(s) if reMatch(aadhaarNumPat, s).isDefined => None
    case _ => Some("Aadhaar number must be in XXXX XXXX XXXX format")
  }
  private val panNumPat = Pattern.compile("^[A-Z]{5}[0-9]{4}[A-Z]$")
  private def checkPan(v: JValue): Option[String] = v match {
    case JStr(s) if reMatch(panNumPat, s).isDefined => None
    case _ => Some("PAN number must be 5 letters, 4 numbers, 1 letter")
  }
  private val dlStrictPat = Pattern.compile("^[A-Z]{2}[0-9]{2,14}$")
  private def checkDlStrict(v: JValue): Option[String] = v match {
    case JStr(s) if reMatch(dlStrictPat, s.replace(" ", "").replace("-", "")).isDefined => None
    case _ => Some("Invalid Driving License Number format")
  }
  private val epicPat = Pattern.compile("^[A-Z]{3}[0-9]{7}$")
  private def checkEpic(v: JValue): Option[String] = v match {
    case JStr(s) if reMatch(epicPat, s.replace(" ", "")).isDefined => None
    case _ => Some("Invalid Voter ID Number format (EPIC should be 3 letters + 7 digits)")
  }

  // --- SubjectSchema coercion (schemas/marksheet_schema.py:5-13) ------------
  private val subjectFields = Vector("subject_code", "subject_name", "internal_marks",
    "external_marks", "total", "result", "grade", "credits")
  private def coerceSubject(v: JValue): JValue = v match {
    case o: JObj => JObj(subjectFields.map(f => f -> o.get(f).getOrElse(JNull)))
    case other   => other
  }
  private def coerceSubjectList(v: JValue): JValue = v match {
    case JArr(items) => JArr(items.map(coerceSubject))
    case other       => other
  }

  // --- schemas (field order = pydantic v2 model_fields order:
  //     BaseDocumentSchema fields first, then subclass additions) -----------
  private val base = Vector(
    FieldSpec("document_type", required = true),
    FieldSpec("ocr_accuracy_score"),
    FieldSpec("face_image"))

  val AadhaarSchema: Schema = Schema("AadhaarSchema", base ++ Vector(
    FieldSpec("name"), FieldSpec("dob"), FieldSpec("gender"),
    FieldSpec("aadhaar_number", required = true, check = checkAadhaar)))

  val PANSchema: Schema = Schema("PANSchema", base ++ Vector(
    FieldSpec("name"), FieldSpec("father_name"), FieldSpec("dob"),
    FieldSpec("pan_number", required = true, check = checkPan)))

  val DLSchema: Schema = Schema("DLSchema", base ++ Vector(
    FieldSpec("name"), FieldSpec("dob"),
    FieldSpec("dl_number", required = true, check = checkDlStrict),
    FieldSpec("issue_date"), FieldSpec("valid_till"), FieldSpec("address")))

  val DrivingLicenseSchema: Schema = Schema("DrivingLicenseSchema", base ++ Vector(
    FieldSpec("dl_number", required = true),
    FieldSpec("name"), FieldSpec("father_name"), FieldSpec("date_of_birth"),
    FieldSpec("date_of_issue"), FieldSpec("valid_till"), FieldSpec("issuing_authority"),
    FieldSpec("address"), FieldSpec("vehicle_classes", default = JArr(Vector.empty)),
    FieldSpec("national_validity"), FieldSpec("form_number")))

  val PassportSchema: Schema = Schema("PassportSchema", base ++ Vector(
    FieldSpec("country"), FieldSpec("passport_number", required = true),
    FieldSpec("type"), FieldSpec("country_code"), FieldSpec("nationality"),
    FieldSpec("surname"), FieldSpec("given_names"), FieldSpec("full_name"),
    FieldSpec("date_of_birth"), FieldSpec("sex"), FieldSpec("place_of_birth"),
    FieldSpec("place_of_issue"), FieldSpec("date_of_issue"), FieldSpec("date_of_expiry"),
    FieldSpec("mrz")))

  val MarksheetSchema: Schema = Schema("MarksheetSchema", base ++ Vector(
    FieldSpec("student_name"),
    FieldSpec("university_name", default = JStr("Unknown")),
    FieldSpec("college_name", default = JStr("Unknown")),
    FieldSpec("university_seat_number", default = JStr("Unknown")),
    FieldSpec("semester", default = JStr("Unknown")),
    FieldSpec("subjects", default = JArr(Vector.empty), coerce = coerceSubjectList),
    FieldSpec("semester_1", default = JArr(Vector.empty), coerce = coerceSubjectList),
    FieldSpec("semester_2", default = JArr(Vector.empty), coerce = coerceSubjectList),
    FieldSpec("remarks")))

  val VoterIDSchema: Schema = Schema("VoterIDSchema", base ++ Vector(
    FieldSpec("name"), FieldSpec("father_name"), FieldSpec("dob"),
    FieldSpec("voter_id_number", required = true, check = checkEpic),
    FieldSpec("gender")))

  val BaseDocumentSchema: Schema = Schema("BaseDocumentSchema", base)

  /** Dispatch on document_type — validator.py:26-41. */
  private def schemaFor(docType: String): Schema = docType match {
    case "Aadhaar Card"            => AadhaarSchema
    case "PAN Card"                => PANSchema
    case "Driving License"         => DLSchema
    case "driving_license"         => DrivingLicenseSchema
    case "Passport" | "passport"   => PassportSchema
    case "Marksheet"               => MarksheetSchema
    case "Voter ID"                => VoterIDSchema
    case _                         => BaseDocumentSchema
  }

  /** Returns (is_valid, record, error_msg) — validator.py:18-52. */
  def validateDocument(data: JObj): (Boolean, JObj, String) = {
    val docType = data.get("document_type") match {
      case Some(JStr(s)) => s
      case _             => "Unknown"
    }
    val schema = schemaFor(docType)
    val errors = Vector.newBuilder[(String, String)]
    val out = Vector.newBuilder[(String, JValue)]
    val declared = schema.fields.map(_.name).toSet

    schema.fields.foreach { f =>
      data.get(f.name) match {
        case Some(v) =>
          f.check(v) match {
            case Some(msg) => errors += (f.name -> s"Value error, $msg")
            case None      => out += (f.name -> f.coerce(v))
          }
        case None =>
          if (f.required) errors += (f.name -> "Field required")
          else out += (f.name -> f.default)
      }
    }
    // extras (ConfigDict(extra='allow'), schemas/base.py:4-8) — appended in
    // input insertion order
    data.fields.foreach { case (k, v) => if (!declared.contains(k)) out += (k -> v) }

    val errs = errors.result()
    if (errs.isEmpty) (true, JObj(out.result()), "")
    else {
      val n = errs.length
      val header = s"$n validation error${if (n > 1) "s" else ""} for ${schema.name}"
      val body = errs.map { case (field, msg) => s"$field\n  $msg" }.mkString("\n")
      (false, data, s"$header\n$body")
    }
  }
}
