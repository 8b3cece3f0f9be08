package graft.io

import graft.model.{JObj, JStr}

/** Deterministic content corpus shared by the Synthesizer (which composes
  * documents out of media refs) and the DeterministicBackend (which "OCRs" a
  * media ref back into its line set) — SURVEY.md §7.5: the sandbox has no
  * Paddle/Donut models, so media content is addressed by a key the backend
  * inverts exactly. Line sets per document family exercise every branch of
  * the reference extractors (FIXTURES.md §2).
  *
  * media_ref format: `m:<family>:<variant>:<n>` (n = per-doc seed).
  */
object Corpus {

  final case class MediaPayload(
      lines: Vector[String],
      confs: Vector[Double],
      hasFace: Boolean,
      donut: JObj)

  // --- deterministic PRNG (splitmix64) --------------------------------------
  final class Rng(seed0: Long) {
    private var s = seed0
    def nextLong(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def nextInt(bound: Int): Int = {
      val l = nextLong() & Long.MaxValue
      (l % bound).toInt
    }
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
    def pick[A](xs: IndexedSeq[A]): A = xs(nextInt(xs.length))
    def digits(n: Int): String = (1 to n).map(_ => ('0' + nextInt(10)).toChar).mkString
  }

  /** FNV-1a over the string's UTF-16 chars: the stable 64-bit hash that
    * seeds every synthesized doc and media payload, and the minhash lanes
    * of `graft.ops.DedupOps` (String.hashCode is 32-bit and JVM-pinned). */
  def hash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  val firstNames: Vector[String] = Vector("Ramesh", "Suresh", "Anita", "Kavita",
    "Girish", "Deepa", "Arjun", "Meena", "Vijay", "Lakshmi", "Rahul", "Priya",
    "Amit", "Sneha", "Kiran", "Divya")
  val lastNames: Vector[String] = Vector("Kumar", "Sharma", "Reddy", "Patel",
    "Gowda", "Iyer", "Nair", "Singh", "Das", "Rao", "Hegde", "Shetty", "Joshi",
    "Menon", "Bhat", "Verma")

  // Noise vocabulary: verified free of classifier trigger substrings
  // (no "male"/"dob"/"marks"/"result"/"university"/"passport"/"lmv"/"mcwg"/
  //  "india"/"dl no"/"p<"/long digit runs) — property-tested in PropertySpec.
  val safeLetters: Vector[Char] = "BCDFGHJKLNPQRSTVWXZ".toVector

  val noiseWords: Vector[String] = Vector("garden", "bridge", "copper", "meadow",
    "lantern", "harbor", "violet", "timber", "quarry", "saffron", "monsoon",
    "bazaar", "temple", "cotton", "spice", "river", "granite", "jasmine",
    "peacock", "lotus")

  def variantCount(family: String): Int = family match {
    case "aadhaar"   => 6
    case "pan"       => 5
    case "marksheet" => 7
    case "dl"        => 6
    case "dls"       => 5
    case "passport"  => 8
    case "voter"     => 1
    case "page"      => 1
    case _           => 1
  }

  def mediaRef(family: String, variant: Int, n: Long): String = s"m:$family:$variant:$n"

  final case class RefParts(family: String, variant: Int, n: Long)
  private def parseRef(ref: String): RefParts = {
    val p = ref.split(":")
    RefParts(p(1), p(2).toInt, p(3).toLong)
  }

  /** The deterministic OCR inverse: media ref → (lines, confidences, face).
    * Low-confidence junk lines (< 0.8) are included so the kernel's
    * drop_score filter (ref: ocr_engine.py:23) has real work to do. */
  def render(ref: String): MediaPayload = {
    val rp = parseRef(ref)
    val rng = new Rng(hash(ref))
    val first = rng.pick(firstNames)
    val last = rng.pick(lastNames)
    val fatherFirst = rng.pick(firstNames)
    val name = s"$first $last"
    val nameCaps = name.toUpperCase
    val fatherCaps = s"$fatherFirst $last".toUpperCase
    def date(sepStr: String, yearLo: Int, yearHi: Int): String = {
      val d = 1 + rng.nextInt(28)
      val m = 1 + rng.nextInt(12)
      val y = yearLo + rng.nextInt(yearHi - yearLo + 1)
      f"$d%02d$sepStr$m%02d$sepStr$y%04d"
    }
    def conf(): Double = math.rint((0.80 + 0.19 * rng.nextDouble()) * 10000) / 10000

    var donut: JObj = JObj(Vector.empty)
    val lines = Vector.newBuilder[String]

    rp.family match {
      case "aadhaar" =>
        val num12 = "2" + rng.digits(11) // avoid leading 0; 12 digits
        val spaced = s"${num12.substring(0, 4)} ${num12.substring(4, 8)} ${num12.substring(8)}"
        rp.variant match {
          case 0 =>
            lines += "Government of India" += "Unique Identification Authority" +=
              name += s"DOB: ${date("/", 1960, 2002)}" += "Male" += spaced
          case 1 =>
            lines += "Government of India" += nameCaps +=
              s"Year of Birth: ${1960 + rng.nextInt(40)}" += "FEMALE" += num12
          case 2 => // no number → invalid (Field required)
            lines += "Government of India" += name +=
              s"DOB: ${date("/", 1960, 2002)}" += "Male"
          case 3 => // one-word ALL-CAPS name rejected first (< 2 words)
            lines += first.toUpperCase += nameCaps +=
              "Female" += spaced += s"DOB: ${date("-", 1960, 2002)}"
          case 4 =>
            lines += "Unique Identification Authority of India" += name +=
              s"${date("-", 1960, 2002)}" += "MALE" += spaced += "www.uidai.gov.in"
          case _ => // all candidate lines vetoed -> no name extracted
            lines += "Enrollment No 991" += s"Help: www.portal.example" +=
              "MALE" += spaced += s"DOB: ${date("/", 1960, 2002)}"
        }
      case "pan" =>
        // vowel-free letter pool: random letters can never spell a
        // classifier trigger substring (MALE/DOB/…)
        val pan = (1 to 5).map(_ => rng.pick(safeLetters)).mkString +
          rng.digits(4) + rng.pick(safeLetters)
        rp.variant match {
          case 0 =>
            lines += "INCOME TAX DEPARTMENT" += "Name" += nameCaps +=
              "Father's Name" += fatherCaps += "Date of Birth" +=
              date("/", 1960, 2002) += pan += "Permanent Account"
          case 1 => // positional fallback: name = dob-2, father = dob-1
            lines += "INCOME TAX DEPARTMENT GOVT. OF INDIA" += nameCaps +=
              fatherCaps += date("/", 1960, 2002) += pan
          case 2 => // dob on line 0 → positional bails (dob_index < 2)
            lines += s"${date("/", 1960, 2002)} $pan" += "Permanent Account"
          case 3 => // label candidates vetoed, positional candidates vetoed
            lines += "Name" += "Permanent Card" += "GOVT. OF INDIA" +=
              "INCOME TAX" += date("/", 1960, 2002) += pan
          case _ => // Mother label branch (cleaner.py:57)
            lines += "Mother's Name" += fatherCaps += "Name" += nameCaps +=
              pan += date("/", 1960, 2002)
        }
      case "marksheet" =>
        val usn = s"${1 + rng.nextInt(4)}AB${10 + rng.nextInt(90)}CS${rng.nextInt(999)}"
        def subject(code: String, sname: Seq[String], marks: Seq[String], res: String): Unit = {
          lines += code
          sname.foreach(lines += _)
          marks.foreach(lines += _)
          lines += res
        }
        rp.variant match {
          case 0 =>
            lines += "VISVESVARAYA TECHNOLOGICAL UNIVERSITY" +=
              s"Name : $name" += s"USN $usn" += "Semester: 3"
            subject("18CS32", Seq("Data Structures"), Seq("38", "52"), "90")
            lines += "P"
            subject("18CS33", Seq("Analog Electronics"), Seq("35", "45"), "80")
            lines += "PASS"
          case 1 => // multi-semester with backlogs
            lines += "VTU" += s"Name : $name" += s"USN $usn" += "Semester: 1"
            subject("18MA11", Seq("Calculus"), Seq("30", "40"), "70")
            lines += "P"
            lines += "Semester: 2"
            subject("18PH21", Seq("Physics"), Seq("25", "35"), "60")
            lines += "F"
            lines += "Semester: 3"
            subject("18CS31", Seq("Discrete Maths"), Seq("33", "44"), "77")
            lines += "P"
          case 2 => // force-push: new code arrives while result missing
            lines += "Anna University" += s"Name : $name" += "Semester: 2"
            lines += "CS201"
            lines += "Operating Systems"
            lines += "30"
            lines += "42"
            lines += "72" // stuck: no result letter before next code
            subject("CS202", Seq("Compilers"), Seq("28", "39"), "67")
            lines += "P"
          case 3 => // orphan-name append after a completed subject
            lines += "VTU" += s"NAME" += s": $name" += s"USN $usn" += "Semester: 4"
            subject("18CS41", Seq("Microprocessors and"), Seq("31", "41"), "72")
            lines += "P"
            lines += "Controllers" // orphan → appended to subject_name
            lines += "Total"       // skipped
            lines += "2023-04-15"  // skipped (date)
          case 4 => // result variants and '-'→0, 'A' as mark
            lines += "RESULT SHEET UNIVERSITY" += s"Name : $name" += "Semester - 2"
            subject("18ME21", Seq("Thermodynamics"), Seq("40", "A", "-"), "0F")
            subject("18ME22", Seq("Materials"), Seq("20", "30", "50"), "W")
          case 5 => // no USN, no semester header → Unknown fields
            lines += "PROVISIONAL MARKS CARD" += s"Name : $name"
          case _ => // Code/Subject header lines are never codes; NA result
            lines += "VTU RESULT SHEET" += s"Name : $name" += "Semester: 5"
            lines += "Subject Code" // excluded by the Code/Subject veto
            lines += "18CS51"
            lines += "Software Engineering"
            lines += "30" += "40" += "70"
            lines += "zz" // ignored in LOOKING_FOR_MARKS
            lines += "NA" // result "NA" kept verbatim
        }
      case "dl" =>
        val dlNum = s"KA${10 + rng.nextInt(80)}" + " " + rng.digits(4) + rng.digits(7)
        val doi = date("-", 2010, 2022)
        rp.variant match {
          case 0 =>
            lines += "FORM - 7" += "DRIVING LICENCE" += s"DL No : $dlNum" +=
              s"DOI : $doi" += "NAME" += nameCaps += "D.O.B" +=
              date("-", 1960, 2000) += s"VALID TILL ${date("-", 2030, 2045)}" +=
              s"S/O : $fatherCaps" += "MCWG" += doi += s"LMV $doi" +=
              "ADDRESS : 12 MG ROAD, BANGALORE KARNATAKA, 560001" +=
              "RTO BANGALORE CENTRAL"
          case 1 => // DL number on next line; TOWN address split
            lines += "DRIVING LICENCE" += "VALID THROUGHOUT INDIA" += "DL No" +=
              s": ${dlNum.replace(" ", "")}" += "NAME" += nameCaps +=
              "ADDRESS" += "45 CHURCH ROAD ANEKAL TOWN" += "Sign. Authority"
          case 2 => // STREET-split address with duplicated trailing city
            lines += "DRIVING LICENCE" += s"DLNo : ${dlNum.replace(" ", "")}" +=
              "HMV" += doi += "ADDRESS : CHURCH ROAD MARATA STREET HOSUR ANEKAL ANEKAL, 562106" +=
              s"RTO ANEKAL"
          case 3 => // no DL number → invalid (Field required)
            lines += "DRIVING LICENCE" += "NAME" += nameCaps += "MCWOG" += doi
          case 4 => // class dedup + DOI-carrying class line
            lines += "DRIVING LICENCE" += s"DL No : $dlNum" += s"MCWG DOI $doi" +=
              "MCWG" += doi += s"LMV" += "THROUGHOUT INDIA"
          case _ => // CDOI line must NOT set date_of_issue; startswith("DL")
            lines += "DRIVING LICENCE" += s"CDOI : $doi" +=
              s"DLNUM RECORD" += s": ${dlNum.replace(" ", "")}" +=
              s"DOI : ${date("-", 2012, 2020)}"
        }
      case "dls" =>
        val dlNum = s"KA${10 + rng.nextInt(80)} ${rng.digits(4)} ${rng.digits(7)}"
        rp.variant match {
          case 0 =>
            lines += s"DL NO: $dlNum," += s"NAME $nameCaps" +=
              s"D.O.B: ${date("-", 1960, 2000)}" +=
              s"VALID TILL: ${date("-", 2030, 2045)}" +=
              "ADDRESS: 22 TEMPLE ROAD MYSURU 570001 SIGN. RTO MYSURU"
          case 1 => // raw-format fallback (no DL NO label), routed via mcwg
            lines += "MCWG CATEGORY PERMIT" += s"HOLDER $nameCaps" +=
              s"KA${10 + rng.nextInt(80)} ${rng.digits(4)} ${rng.digits(7)}" +=
              s"VALID TILL: ${date("-", 2030, 2045)}"
          case 2 => // fallback DL with >14 digits → schema-invalid
            lines += "MCWG CATEGORY PERMIT" +=
              s"KA${10 + rng.nextInt(80)}${rng.digits(15)}" += s"NAME $nameCaps"
          case 3 => // no DL number at all → invalid (Field required)
            lines += "MCWG VEHICLE CATEGORY" += s"NAME $nameCaps" +=
              s"D.O.B: ${date("-", 1960, 2000)}"
          case _ => // address block terminated by SIGN LICENCING
            lines += s"DL NO: $dlNum," += s"NAME $nameCaps" +=
              "ADDRESS: 4 FORT ROAD TUMKURU 572101 SIGN LICENCING AUTHORITY"
        }
      case "passport" =>
        val ppNum = ('A' + rng.nextInt(26)).toChar.toString + rng.digits(7)
        val dob = date("/", 1960, 2002)
        val issueY = 2012 + rng.nextInt(8)
        val issue = f"${1 + rng.nextInt(28)}%02d/${1 + rng.nextInt(12)}%02d/$issueY"
        val expiry = f"${1 + rng.nextInt(28)}%02d/${1 + rng.nextInt(12)}%02d/${issueY + 10}"
        rp.variant match {
          case 0 =>
            lines += "PASSPORT" += "REPUBLIC OF INDIA" += s"PASSPORT NO: $ppNum" +=
              s"SURNAME: ${last.toUpperCase}" += s"GIVEN NAMES: ${first.toUpperCase}" +=
              s"DATE OF BIRTH: $dob" += "Sex: M" += issue += expiry +=
              "PLACE OF ISSUE" += "BENGALURU"
          case 1 => // positional name fallback between pp-number and /Sex
            lines += "PASSPORT" += ppNum += last.toUpperCase += first.toUpperCase +=
              fatherFirst.toUpperCase += "/Sex" += dob += issue += expiry
          case 2 => // two MRZ lines carry names + sex
            lines += "TRAVEL DOCUMENT PAGE" +=
              s"P<${last.toUpperCase}<<${first.toUpperCase}<RAJ<<<<<<<<<<<<<<<<<<<<" +=
              s"$ppNum<4IND${rng.digits(7)}M${rng.digits(7)}<<<<<<<<<<<<<<<4"
          case 3 => // single truncated MRZ line; digit-flanked sex
            lines += "PASSPORT APPLICATION COPY" +=
              s"${rng.digits(7)}<4IND${rng.digits(6)}F${rng.digits(5)}"
          case 4 => // no number anywhere → invalid (Field required)
            lines += "PASSPORT SEVA KENDRA" += "APPLICATION RECEIPT" +=
              s"SURNAME: ${last.toUpperCase}" += s"GIVEN NAME: ${first.toUpperCase}"
          case 5 => // BENGALURU dash → place_of_birth
            lines += "PASSPORT" += s"PASSPORT NO: $ppNum" += "BENGALURU - KARNATAKA" +=
              s"DATE OF BIRTH: $dob" += "Sex: F"
          case 6 => // GIVEN NAME(S) label form; surname before DATE so the
            // lookahead terminator can fire
            lines += "PASSPORT" += s"GIVEN NAME(S): ${first.toUpperCase}" +=
              s"SURNAME: ${last.toUpperCase}" += s"DATE OF BIRTH: $dob" +=
              "Sex: M" += s"PASSPORT NO: $ppNum" += issue += expiry
          case _ => // "BENGALURU, KARNATAKA" is excluded from place_of_issue
            lines += "PASSPORT" += s"PASSPORT NO: $ppNum" +=
              "BENGALURU, KARNATAKA" += s"DATE OF BIRTH: $dob"
        }
      case "voter" =>
        val epic = (1 to 3).map(_ => rng.pick(safeLetters)).mkString + rng.digits(7)
        lines += "ELECTION COMMISSION" += "ELECTOR PHOTO IDENTITY CARD" +=
          epic += nameCaps
        donut = JObj(Vector(
          "document_type" -> JStr("Voter ID"),
          "voter_id_number" -> JStr(epic),
          "name" -> JStr(nameCaps)))
      case "page" => // generic scanned page (heavy docs)
        val n = 3 + rng.nextInt(5)
        (1 to n).foreach { _ =>
          lines += (1 to (4 + rng.nextInt(6))).map(_ => rng.pick(noiseWords)).mkString(" ")
        }
      case other =>
        lines += s"unrenderable media family $other"
    }

    val kept = lines.result()
    val confs = kept.map(_ => conf())
    // splice deterministic low-confidence junk the kernel must drop (O7)
    val withJunk =
      if (rng.nextInt(3) == 0) (kept :+ "~~smudge~~", confs :+ 0.42)
      else (kept, confs)
    val hasFace = Set("aadhaar", "pan", "dl", "dls", "passport", "voter").contains(rp.family)
    MediaPayload(withJunk._1, withJunk._2, hasFace, donut)
  }
}
