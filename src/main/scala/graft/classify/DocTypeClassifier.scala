package graft.classify

import java.util.regex.Pattern
import graft.model.{JObj, PyDict}
import graft.extract._
import graft.text.PyText._

/** Document-type classification + extraction dispatch.
  *
  * Primary ordered predicate chain — reference `pipeline/cleaner.py:404-424`
  * (`extract_document`, first match wins); secondary DL/Passport routing on
  * the LOWERCASED text — reference `pipeline/extractor.py:53-94`. Order is
  * semantics: a text containing both MALE and a PAN number classifies
  * Aadhaar-first.
  */
object DocTypeClassifier {
  private val aadhaarNumPat = Pattern.compile("\\b\\d{4}\\s?\\d{4}\\s?\\d{4}\\b")
  private val panPat = Pattern.compile("[A-Z]{5}\\d{4}[A-Z]")

  // extractor.py:60-73 — searched against raw_text.lower(). r6 hot-path
  // form: each regex is guarded by a `contains` of a literal substring
  // the pattern REQUIRES ("dl\sno" cannot match without "dl", etc.), so
  // the common all-miss path (every Unknown noise doc) costs intrinsified
  // indexOf scans instead of regex passes — boolean-identical by
  // construction (guard ∧ regex ≡ regex when the guard is implied).
  // A fused single-alternation form was tried first and MEASURED SLOWER
  // (220 → 322 ms/20k docs): the alternation loses java.util.regex's
  // per-pattern Boyer-Moore literal-prefix optimization.
  private val dlNoPat = Pattern.compile("dl\\sno")
  private val dlLicencePat = Pattern.compile("driving\\slicence")
  private val dlLicensePat = Pattern.compile("driving\\slicense")
  private val dlValidPat = Pattern.compile("valid\\sthroughout\\sindia")
  private val dlMcwgPat = Pattern.compile("\\bmcwg\\b")
  private val dlLmvPat = Pattern.compile("\\blmv\\b")
  private val dlForm7Pat = Pattern.compile("\\bform\\s7\\b")

  // extractor.py:75-89 — searched against lowered text AND its
  // space-stripped variant (the uppercase-only patterns are dead on the
  // lowered input; the reference keeps them, so we do too). Pure-literal
  // patterns ("passport", "p<ind", "/nationality", "/placeofssue") ARE
  // their own guards (contains == find); the clean variant is built only
  // when some guard needs it (the reference allocates it unconditionally
  // — allocation order is unobservable).
  private val passRepublicPat = Pattern.compile("republic\\s*of\\s*india")
  private val passX7Pat = Pattern.compile("x[0-9]{7}")
  private val passPltPat = Pattern.compile("\\bp<")

  private def isDrivingLicense(textLower: String): Boolean =
    (textLower.contains("dl") && reTest(dlNoPat, textLower)) ||
    (textLower.contains("driving") &&
      (reTest(dlLicencePat, textLower) || reTest(dlLicensePat, textLower))) ||
    (textLower.contains("valid") && reTest(dlValidPat, textLower)) ||
    (textLower.contains("mcwg") && reTest(dlMcwgPat, textLower)) ||
    (textLower.contains("lmv") && reTest(dlLmvPat, textLower)) ||
    (textLower.contains("form") && reTest(dlForm7Pat, textLower))

  private def passportHit(t: String): Boolean =
    t.contains("passport") || t.contains("p<ind") ||
    (t.contains("republic") && reTest(passRepublicPat, t)) ||
    t.contains("/nationality") || t.contains("/placeofssue") ||
    (t.contains("x") && reTest(passX7Pat, t)) ||
    (t.contains("p<") && reTest(passPltPat, t))

  private def isPassport(textLower: String): Boolean =
    passportHit(textLower) || passportHit(textLower.replace(" ", ""))

  // NOTE (r6): a fused one-pass bitmask over `upper` for the ten trigger
  // literals was tried and MEASURED SLOWER than the separate contains
  // battery (199 → 263 ms/20k docs): String.indexOf is JIT-intrinsified
  // (vectorized) and ten intrinsified scans beat one per-char Scala loop.
  // Same lesson as the routing alternation below — keep literal searches
  // on the intrinsic path.

  /** Primary chain — cleaner.py:404-424. */
  private def extractDocument(rawText: String, lines: Seq[String]): PyDict = {
    val upper = rawText.toUpperCase
    var baseData = new PyDict

    // exact guard for the two number regexes (r6): \d and [0-9] cannot
    // match a digit-free text (java \d is ASCII [0-9] without
    // UNICODE_CHARACTER_CLASS), and the noise-page majority of the corpus
    // carries no digits — one cheap char scan skips both regex passes
    val hasDigit = {
      var i = 0; var f = false
      while (!f && i < rawText.length) {
        val c = rawText.charAt(i)
        if (c >= '0' && c <= '9') f = true
        i += 1
      }
      f
    }

    if ((hasDigit && reTest(aadhaarNumPat, rawText)) ||
        upper.contains("MALE") ||
        upper.contains("FEMALE") || upper.contains("DOB"))
      baseData = AadhaarExtractor.extract(rawText, lines)

    if (!baseData.truthy("document_type") && hasDigit &&
        reTest(panPat, rawText))
      baseData = PanExtractor.extract(rawText, lines)

    if (!baseData.truthy("document_type") &&
        (upper.contains("UNIVERSITY") || upper.contains("MARKS") ||
         upper.contains("RESULT")))
      baseData = MarksheetExtractor.extract(rawText, lines)

    if (!baseData.truthy("document_type") &&
        (rawText.contains("DL No") || rawText.contains("DLNo") ||
         upper.contains("DRIVING LICENCE") ||
         upper.contains("THROUGHOUT INDIA") ||
         upper.contains("LICENCING AUTHORITY")))
      baseData = DlExtractor.extract(rawText, lines)

    if (!baseData.truthy("document_type"))
      baseData("document_type") = "Unknown"

    baseData
  }

  /** Full regex-extraction stage incl. the secondary routing —
    * extractor.py:50-94. */
  def extractWithRouting(rawText: String, lines: Seq[String]): PyDict = {
    var extracted = extractDocument(rawText, lines)
    if (extracted.get("document_type").contains("Unknown")) {
      val textLower = rawText.toLowerCase
      if (isDrivingLicense(textLower))
        extracted = DrivingLicenseExtractor.extract(rawText, lines)
      else if (isPassport(textLower))
        extracted = PassportExtractor.extract(rawText, lines)
    }
    extracted
  }

  /** Donut fill-missing merge — extractor.py:102-107: only keys that are
    * absent or falsy in the target are copied, and only when the donut dict
    * contains a document_type key. Note document_type itself is "Unknown"
    * (truthy) at this point, so the type is never overridden. */
  def mergeDonut(extracted: PyDict, donut: Option[JObj]): Unit = donut match {
    case Some(d) if d.contains("document_type") =>
      d.fields.foreach { case (k, v) =>
        if (!extracted.contains(k) || PyDict.isFalsy(extracted(k)))
          extracted(k) = v
      }
    case _ =>
  }
}
