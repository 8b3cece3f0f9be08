package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.text.PyText
import graft.html.BoilerplateStrip
import graft.model._
import graft.classify.DocTypeClassifier
import graft.io.Corpus

/** Python-parity helpers: each case hand-checked against CPython. */
class PyTextSpec extends AnyFunSuite {
  test("title() matches Python str.title() on non-alpha boundaries") {
    assert(PyText.title("ramesh kumar") === "Ramesh Kumar")
    assert(PyText.title("o'neil 2nd-gen x1a") === "O'Neil 2Nd-Gen X1A")
    assert(PyText.title("ABC DEF") === "Abc Def")
    assert(PyText.title("") === "")
    assert(PyText.title("a1b2") === "A1B2") // digits reset casing
  }
  test("isDigit matches Python str.isdigit()") {
    assert(PyText.isDigit("12345"))
    assert(!PyText.isDigit(""))
    assert(!PyText.isDigit("12a"))
    assert(!PyText.isDigit("-12"))
  }
  test("round2 is banker's rounding on the exact binary value") {
    assert(PyText.round2(0.125) === 0.12)   // Python round(0.125, 2) == 0.12
    assert(PyText.round2(0.135) === 0.14)   // 0.135 binary is slightly above
    assert(PyText.round2(87.345) === 87.34) // 87.345 binary is slightly below
    assert(PyText.round2(2.675) === 2.67)   // classic: binary is below 2.675
  }
  test("splitLit keeps empty fields like Python str.split(sep)") {
    assert(PyText.splitLit("a::b", ":") === Vector("a", "", "b"))
    assert(PyText.splitLit(":x:", ":") === Vector("", "x", ""))
  }
  test("reSplitWithGroups includes captured delimiters (re.split parity)") {
    val p = java.util.regex.Pattern.compile("(?i)(TOWN\\b)")
    assert(PyText.reSplitWithGroups(p, "ANEKAL TOWN Anekal") ===
      Vector("ANEKAL ", "TOWN", " Anekal"))
  }
  test("removeFirst drops only the first occurrence (list.remove parity)") {
    assert(PyText.removeFirst(Vector("a", "b", "a"), "a") === Vector("b", "a"))
    assert(PyText.removeFirst(Vector("b"), "z") === Vector("b"))
  }
}

class BoilerplateStripSpec extends AnyFunSuite {
  test("strips chrome containers and keeps main content") {
    val html = """<html><head><style>x{}</style></head><body>
      <nav><a href="#">home</a> <a href="#">about</a></nav>
      <div><p>real content line</p><p>second line</p></div>
      <footer>copyright 2026 all rights reserved</footer>
      <script>var x=1;</script></body></html>"""
    assert(BoilerplateStrip.lines(html) === Vector("real content line", "second line"))
  }
  test("link-dense short blocks are dropped (DOM heuristic)") {
    val html = """<div><a href="/a">one</a> <a href="/b">two</a> <a href="/c">three</a></div>
      <div><p>body text stays</p></div>"""
    assert(BoilerplateStrip.lines(html) === Vector("body text stays"))
  }
  test("entities are decoded; plain text passes through") {
    assert(BoilerplateStrip.lines("<p>fish &amp; chips</p>") === Vector("fish & chips"))
    assert(BoilerplateStrip.lines("no tags at all") === Vector("no tags at all"))
    assert(BoilerplateStrip.lines("") === Vector.empty)
  }
  test("boilerplate keyword lines are vetoed") {
    val html = "<p>subscribe to our newsletter</p><p>actual article</p>"
    assert(BoilerplateStrip.lines(html) === Vector("actual article"))
  }

  // --- reference implementation: the original two-pass replaceAll +
  // chained-String.replace form, kept verbatim so the fused/single-scan
  // hot path is equivalence-tested against it --------------------------
  private object ChainedStrip {
    import java.util.regex.Pattern
    private val chromePat = Pattern.compile(
      "(?is)<!--.*?-->|<(script|style|nav|header|footer|aside|noscript)\\b.*?</\\1\\s*>")
    private val blockBoundaryPat = Pattern.compile(
      "(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|td|table|section|article|blockquote|pre|hr)\\b[^>]*>")
    private val tagPat = Pattern.compile("<[^>]*>")
    private val linkPat = Pattern.compile("(?i)<a\\b")
    private val wsRunPat = Pattern.compile("\\s+")
    private val boilerKeywords = Seq(
      "cookie", "subscribe", "copyright", "©", "all rights reserved",
      "privacy policy", "terms of service", "sign up", "log in", "newsletter")
    private def decodeEntities(s: String): String =
      s.replace("&nbsp;", " ").replace("&lt;", "<").replace("&gt;", ">")
        .replace("&quot;", "\"").replace("&#39;", "'").replace("&amp;", "&")
    def lines(html: String): Vector[String] = {
      if (html == null || html.isEmpty) return Vector.empty
      val sep = "\u0000BLOCK\u0000"
      var s = chromePat.matcher(html).replaceAll("\n")
      s = blockBoundaryPat.matcher(s).replaceAll(
        "\n" + java.util.regex.Matcher.quoteReplacement(sep) + "\n")
      val blocks = s.split(Pattern.quote(sep))
      val out = Vector.newBuilder[String]
      for (block <- blocks) {
        val linkCount = {
          val m = linkPat.matcher(block)
          var c = 0
          while (m.find()) c += 1
          c
        }
        val text = decodeEntities(tagPat.matcher(block).replaceAll(" "))
        for (rawLine <- text.split('\n')) {
          val line = wsRunPat.matcher(rawLine).replaceAll(" ").trim
          if (line.nonEmpty) {
            val navLike = linkCount >= 2 && line.length < 80
            val lower = line.toLowerCase
            val boiler = boilerKeywords.exists(lower.contains)
            if (!navLike && !boiler) out += line
          }
        }
      }
      out.result()
    }
  }

  test("fused strip equals the chained two-pass form on corpus spans") {
    val docs = (0L until 2000L).map(graft.io.Synthesizer.genDoc(42L, _))
    docs.flatMap(_.spans.filter(_.kind == "text").map(_.text)).foreach { t =>
      assert(BoilerplateStrip.lines(t) === ChainedStrip.lines(t))
    }
  }

  test("fused strip equals the chained form on adversarial random html") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val frag = Gen.oneOf(
      "<p>", "</p>", "<div class=x>", "</div>", "<script>", "</script>",
      "<nav>", "</nav>", "<!--", "-->", "<a href=\"#\">", "</a>",
      "&amp;", "&nbsp;", "&lt;", "&zz;", "&", "<", ">", "text words ",
      "copyright ", "newsletter ", "plain", " \n ", "<br/>", "<h1>",
      // r6 hand-scanner edges: mixed case, ws-closed chrome, name+\b
      // near-misses, boundary-name prefixes, unclosed tags, h7
      "<SCRIPT>", "</SCRIPT >", "<Style>x</style\n>", "<scriptx>",
      "<pre>", "</pre>", "<h7>", "<h1x>", "<ph>", "<table>", "</table>",
      "<p <x>", "<noscript>", "</noscript>", "<NAV", "<!---->", "<!-->",
      "<p\tclass=y>", "<hr/>", "<td>", "<blockquote>",
      // non-ASCII close-tag names: the regex folds ASCII only, so none of
      // these closes a chrome block (U+0130 İ, U+017F ſ, U+212A Kelvin K)
      "<style>", "</scr\u0130pt>", "</\u017Ftyle>", "</SCR\u0130PT>",
      "</bloc\u212Aquote>", "<bloc\u212Aquote>")
    val htmlGen = Gen.chooseNum(0, 30).flatMap(n =>
      Gen.listOfN(n, frag).map(_.mkString))
    val res = SCTest.check(SCTest.Parameters.default,
      Prop.forAll(htmlGen)(h => BoilerplateStrip.lines(h) == ChainedStrip.lines(h)))
    assert(res.passed)
  }
}

/** Properties from SURVEY.md §5.3. */
class PropertySpec extends AnyFunSuite {
  private def check(p: Prop): Unit =
    assert(SCTest.check(SCTest.Parameters.default, p).passed)

  private val noiseLineGen: Gen[String] = for {
    n <- Gen.choose(1, 8)
    ws <- Gen.listOfN(n, Gen.oneOf(Corpus.noiseWords))
  } yield ws.mkString(" ")

  test("classifier totality: every text classifies; noise classifies Unknown") {
    check(Prop.forAll(Gen.listOf(noiseLineGen)) { lines =>
      val raw = lines.mkString(" ")
      val d = DocTypeClassifier.extractWithRouting(raw, lines)
      d.get("document_type").contains("Unknown")
    })
  }

  test("noise vocabulary is trigger-free (safety invariant for fixtures)") {
    val triggers = Seq("male", "dob", "marks", "result", "university",
      "passport", "lmv", "mcwg", "india", "dl no", "p<", "driving")
    Corpus.noiseWords.foreach { w =>
      triggers.foreach(t => assert(!w.contains(t), s"noise word $w contains $t"))
    }
  }

  test("donut merge never overwrites truthy values (extractor.py:106)") {
    val donut = JObj(Vector(
      "document_type" -> JStr("Voter ID"),
      "name" -> JStr("DONUT NAME"),
      "extra" -> JStr("added")))
    val target = PyDict("document_type" -> "Unknown", "name" -> "KEPT NAME",
      "empty" -> "")
    DocTypeClassifier.mergeDonut(target, Some(donut))
    assert(target("document_type") === "Unknown") // truthy, never overwritten
    assert(target("name") === "KEPT NAME")
    assert(target("extra") === JStr("added"))
  }

  test("aadhaar number reformat is idempotent") {
    check(Prop.forAll(Gen.listOfN(12, Gen.choose(0, 9))) { ds =>
      val num = ds.mkString
      val spaced = s"${num.take(4)} ${num.slice(4, 8)} ${num.drop(8)}"
      val d1 = graft.extract.AadhaarExtractor.extract(num, Seq(num))
      val d2 = graft.extract.AadhaarExtractor.extract(spaced, Seq(spaced))
      d1.get("aadhaar_number") == d2.get("aadhaar_number")
    })
  }

  test("JObj.updated preserves key position like Python dict assignment") {
    val o = JObj(Vector("a" -> JStr("1"), "b" -> JStr("2")))
    assert(o.updated("a", JStr("9")).fields.map(_._1) === Vector("a", "b"))
    assert(o.updated("c", JStr("3")).fields.map(_._1) === Vector("a", "b", "c"))
  }

  // --- token2json round-trip: generate a random nested structure, render
  // it as a Donut tag stream, and parse it back --------------------------
  // globally-unique keys: a repeated key along an ancestor path is
  // ambiguous in the tag format itself (the end-tag search finds the inner
  // closer first — the reference parser behaves identically), so the
  // round-trip property holds only for path-distinct keys
  private val keyCounter = new java.util.concurrent.atomic.AtomicInteger
  private val keyGen: Gen[String] =
    Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar)
        .map(_.mkString + "_" + keyCounter.incrementAndGet()))
  private val leafGen: Gen[String] =
    Gen.chooseNum(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.identifier.map(_.take(5))).map(_.mkString(" ")))

  private def structGen(depth: Int): Gen[JObj] = for {
    n <- Gen.choose(1, 3)
    keys <- Gen.listOfN(n, keyGen).map(_.distinct)
    vals <- Gen.sequence[List[JValue], JValue](keys.map { _ =>
      if (depth <= 0) leafGen.map(JStr(_): JValue)
      else Gen.frequency(
        3 -> leafGen.map(JStr(_): JValue),
        1 -> structGen(depth - 1))
    })
  } yield JObj(keys.zip(vals).toVector)

  private def render(v: JValue): String = v match {
    case JObj(fields) =>
      fields.map { case (k, x) => s"<s_$k>${render(x)}</s_$k>" }.mkString
    case JStr(s) => s
    case other   => other.toString
  }

  test("token2json round-trips rendered nested dicts (property)") {
    check(Prop.forAll(structGen(2)) { obj =>
      graft.kernel.TokenJson.token2json(render(obj)) == obj
    })
  }

  // --- top-k aggregator vs a sort-based reference ------------------------
  test("rankTopK equals sort-based top-k on random scored sets (property)") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val rowGen = for {
      q <- Gen.choose(0L, 3L)
      n <- Gen.choose(0L, 40L)
      s <- Gen.choose(0, 8).map(_.toDouble) // coarse scores force ties
    } yield (q, n, s)
    check(Prop.forAll(Gen.listOfN(120, rowGen)) { rows0 =>
      val rows = rows0.distinct
      val got = graft.ops.SimilarityOps
        .rankTopK(rows.toDF("query_id", "neighbor_id", "score"), 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toList
      val want = rows.groupBy(_._1).toList.flatMap { case (q, rs) =>
        rs.map(r => (r._3, r._2)).distinct
          .sortBy { case (s, id) => (-s, id) }.take(5).zipWithIndex
          .map { case ((_, id), i) => (q, i + 1, id) }
      }.sortBy(t => (t._1, t._2))
      got == want
    })
  }
}

/** The headline-efficiency selector decides the driver-visible scaling
  * number; these pin the two windows actually observed on this VM
  * (BASELINE.md runs 15/16). */
class BenchSelectSpec extends AnyFunSuite {
  import graft.BenchSelect._

  test("credible band is (0, 1.05]") {
    assert(credible(0.8) && credible(1.0) && credible(1.05))
    assert(!credible(1.06) && !credible(0.0) && !credible(-0.1))
  }

  test("run-16 window: clean round's honest value beats dirty >1 whipsaws") {
    // eff_envelope_pair [0.584, 0.753, 0.821], clean=[true,false,false]
    assert(headline(Seq(0.584, 0.753, 0.821), Seq(0)) === 0.584)
    // eff_raw [0.757, 0.415, 0.165] → clean round wins
    assert(headline(Seq(0.757, 0.415, 0.165), Seq(0)) === 0.757)
    // normalized [1.204, 1.021, 0.362]: clean round's 1.204 NOT credible →
    // falls back to best credible anywhere (1.021)
    assert(headline(Seq(1.204, 1.021, 0.362), Seq(0)) === 1.021)
  }

  test("no clean round: best credible anywhere; none credible: minimum") {
    assert(headline(Seq(1.523, 0.945, 1.133), Seq.empty) === 0.945)
    assert(headline(Seq(1.2, 1.4), Seq.empty) === 1.2)
  }

  test("run-23 window: honest <=1 clean value outranks clean >1 jitter; " +
    "the envelope-normalized candidate can win the pick") {
    // 2->8 envelope pairs [1.015, 0.793, 1.04], clean=[false,true,true]:
    // the clean 1.04 is jitter-band, the clean 0.793 is the honest value
    assert(headline(Seq(1.015, 0.793, 1.04), Seq(1, 2)) === 0.793)
    // dirty rounds keep the old credible-max rule (deflation artifact)
    assert(headline(Seq(1.204, 1.021, 0.362), Seq.empty) === 1.021)
    // run-23 candidates after the fix: the honest envnorm 0.865 wins
    // over both the raw 0.768 and what used to be a 1.04 headline
    assert(pick(Seq("8->32" -> 0.768, "2->8" -> 0.793,
        "8->32 envnorm" -> 0.865), fallback = "8->32" -> 0.768) ===
      ("best_credible_round(8->32 envnorm)", 0.865))
    // honest <=1 beats jitter >1 inside pick as well
    assert(pick(Seq("2->8" -> 1.04, "8->32" -> 0.865),
      fallback = "8->32" -> 0.865) ===
      ("best_credible_round(8->32)", 0.865))
  }

  test("pick takes the best credible pair and names it") {
    // run-15 shape after the clean-preference fix: 8->32 clean 0.724,
    // 2->8 clean 0.874 → 2->8 wins
    assert(pick(Seq("8->32" -> 0.724, "2->8" -> 0.874),
      fallback = "8->32" -> 0.724) ===
      ("best_credible_round(2->8)", 0.874))
    // neither credible → fallback pair, value kept honest, label says so
    assert(pick(Seq("8->32" -> 1.2, "2->8" -> 1.4),
      fallback = "8->32" -> 1.2) ===
      ("fallback(8->32)", 1.2))
  }
}
