package graft.html

import java.util.regex.Pattern
import graft.text.PyText

/** Main-content extraction for `text`-kind spans (HTML boilerplate strip +
  * DOM heuristics) — the north_rule addition on top of the reference's
  * line-veto approach (analogue: `pipeline/cleaner.py:30-31` veto lists).
  *
  * Deterministic, dependency-free: chrome containers (script/style/nav/
  * header/footer/aside) are dropped wholesale, the remaining markup is split
  * into blocks at block-level tag boundaries, each block is scored with a
  * link-density heuristic (≥2 links and short text ⇒ navigation), tags are
  * stripped, entities decoded, and boilerplate-keyword lines vetoed.
  *
  * Hot path: one fused matcher pass handles chrome removal AND block
  * boundaries (two chained replaceAll scans measured ~2× the cost), and
  * entity decoding is a single char scan instead of six chained
  * String.replace passes — equivalence with the chained form is
  * property-tested (BoilerplateStripSpec).
  */
object BoilerplateStrip {
  // the fused chrome/boundary pass is the hand scanner below
  // (chromeAndBoundaries) — semantics of the regex it replaced:
  //   (?is)<!--.*?-->
  //   |<(script|style|nav|header|footer|aside|noscript)\b.*?</\1\s*>
  //   |(?-s:</?(p|div|...|pre|hr)\b[^>]*>)
  // comment/chrome → "\n", boundary → the BLOCK sentinel
  private val linkPat = Pattern.compile("(?i)<a\\b")
  // tag strip, \s+ collapse and the keyword veto are hand scans below
  // (r6 hot path — equivalence-pinned against the chained regex form in
  // UnitSpecs' ChainedStrip property tests)

  private val entities: Array[(String, Char)] = Array(
    "&nbsp;" -> ' ', "&lt;" -> '<', "&gt;" -> '>',
    "&quot;" -> '"', "&#39;" -> '\'', "&amp;" -> '&')

  /** Single-scan entity decode, same fixed precedence as the chained
    * String.replace form (decoded output is never rescanned, matching the
    * pass-per-entity semantics where only `&amp;` — last — emits a '&'). */
  private def decodeEntities(s: String): String = {
    var i = s.indexOf('&')
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    sb.append(s, 0, i)
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        var matched = -1
        var e = 0
        while (matched < 0 && e < entities.length) {
          if (s.regionMatches(i, entities(e)._1, 0, entities(e)._1.length))
            matched = e
          else e += 1
        }
        if (matched >= 0) {
          sb.append(entities(matched)._2)
          i += entities(matched)._1.length
        } else {
          sb.append(c); i += 1
        }
      } else {
        sb.append(c); i += 1
      }
    }
    sb.toString
  }

  private val BlockSep = "\u0000BLOCK\u0000"

  private val BoundaryRepl = "\n\u0000BLOCK\u0000\n"

  private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
    (c >= '0' && c <= '9') || c == '_'

  private val chromeNames = Array("script", "style", "nav", "header",
    "footer", "aside", "noscript")
  private val boundaryNames = Array("p", "div", "br", "li", "ul", "ol",
    "h1", "h2", "h3", "h4", "h5", "h6", "tr", "td", "table", "section",
    "article", "blockquote", "pre", "hr")

  /** True when `s` at `start` spells the lowercase ASCII `name` under an
    * ASCII-only case fold (A–Z → a–z, every other char unchanged) — the
    * fold of the regex's CASE_INSENSITIVE without UNICODE_CASE.
    * `regionMatches(true, …)` folds across Unicode and would accept e.g.
    * U+0130 'İ' for 'i', U+017F 'ſ' for 's' or the Kelvin sign for 'k'. */
  private def asciiFoldMatches(s: String, start: Int, name: String): Boolean = {
    if (start + name.length > s.length) return false
    var k = 0
    while (k < name.length) {
      val c = s.charAt(start + k)
      val lower = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      if (lower != name.charAt(k)) return false
      k += 1
    }
    true
  }

  private def nameIn(set: Array[String], s: String, start: Int,
                     len: Int): String = {
    var k = 0
    while (k < set.length) {
      val cand = set(k)
      if (cand.length == len && asciiFoldMatches(s, start, cand))
        return cand
      k += 1
    }
    null
  }

  /** End index (exclusive) of the first `</name\s*>` at or after `from`
    * (name ASCII-case-insensitive, \s = [ \t\n\x0B\f\r]); -1 when none —
    * the lazy `.*?</\1\s*>` tail of the chrome branch. */
  private def findClose(s: String, from: Int, name: String): Int = {
    val n = s.length
    var i = s.indexOf('<', from)
    while (i >= 0) {
      if (i + 1 < n && s.charAt(i + 1) == '/' &&
          asciiFoldMatches(s, i + 2, name)) {
        var j = i + 2 + name.length
        while (j < n && {
          val c = s.charAt(j); c == ' ' || (c >= '\t' && c <= '\r')
        }) j += 1
        if (j < n && s.charAt(j) == '>') return j + 1
      }
      i = s.indexOf('<', i + 1)
    }
    -1
  }

  /** Hand-rolled equivalent of the fused chromeOrBoundary regex pass (r6
    * hot path — the regex alternation was the strip's dominant cost):
    * visits '<' positions only (every alternative starts with '<'), tries
    * the branches in the regex's order at each position, and reproduces
    * the exact failure semantics — an unclosed comment or chrome tag
    * matches nothing at that position and scanning resumes at the NEXT
    * '<' (regex: next position, but no alternative can start before the
    * next '<'). Name+\b is matched as "the maximal word run equals the
    * name" (every name is a full word, so \b enforces exactly that),
    * which also makes the in-order alternation ("p" before "pre")
    * order-free. Equivalence is property-pinned against ChainedStrip in
    * UnitSpecs. */
  private def chromeAndBoundaries(html: String): String = {
    val n = html.length
    var i = html.indexOf('<')
    if (i < 0) return html
    val sb = new java.lang.StringBuilder(n)
    var start = 0
    while (i >= 0) {
      var matchEnd = -1
      var repl: String = null
      if (html.startsWith("<!--", i)) {
        val close = html.indexOf("-->", i + 4)
        if (close >= 0) { matchEnd = close + 3; repl = "\n" }
      }
      if (matchEnd < 0 && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (c1 == '/' || isWordChar(c1)) {
          val nameStart = if (c1 == '/') i + 2 else i + 1
          var j = nameStart
          while (j < n && isWordChar(html.charAt(j))) j += 1
          val len = j - nameStart
          if (len > 0) {
            if (c1 != '/') {
              val cn = nameIn(chromeNames, html, nameStart, len)
              if (cn != null) {
                val end = findClose(html, j, cn)
                if (end >= 0) { matchEnd = end; repl = "\n" }
              }
            }
            if (matchEnd < 0 &&
                nameIn(boundaryNames, html, nameStart, len) != null) {
              val gt = html.indexOf('>', j) // [^>]* then '>'
              if (gt >= 0) { matchEnd = gt + 1; repl = BoundaryRepl }
            }
          }
        }
      }
      if (matchEnd >= 0) {
        sb.append(html, start, i).append(repl)
        start = matchEnd
        i = html.indexOf('<', matchEnd)
      } else {
        i = html.indexOf('<', i + 1)
      }
    }
    if (start == 0) html
    else { sb.append(html, start, n); sb.toString }
  }

  /** HTML → main-content lines. Plain text (no tags) passes through as
    * trimmed nonempty lines. */
  def lines(html: String): Vector[String] = {
    if (html == null || html.isEmpty) return Vector.empty
    // fused chrome-strip + block-boundary pass (one scan; hand scanner)
    val s = chromeAndBoundaries(html)

    val blocks = PyText.splitLit(s, BlockSep)
    val out = Vector.newBuilder[String]
    for (block <- blocks) {
      val linkCount = {
        // only the >= 2 threshold is observed — stop counting at 2
        val lm = linkPat.matcher(block)
        var c = 0
        while (c < 2 && lm.find()) c += 1
        c
      }
      val noTags = stripTags(block)
      val text = decodeEntities(noTags)
      for (rawLine <- text.split('\n')) {
        val line = collapseWs(rawLine).trim
        if (line.nonEmpty) {
          // DOM heuristic: link-dense short blocks are navigation chrome
          val navLike = linkCount >= 2 && line.length < 80
          val boiler = hasBoilerKeyword(line.toLowerCase)
          if (!navLike && !boiler) out += line
        }
      }
    }
    out.result()
  }

  /** `<[^>]*>` → " " as a hand scan (r6 hot path): same semantics — a
    * '<' with no later '>' never matches and passes through verbatim,
    * greedy [^>]* stops at the FIRST '>' after the '<'. One builder, no
    * matcher allocation per block. */
  private def stripTags(s: String): String = {
    var i = s.indexOf('<')
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var start = 0
    while (i >= 0) {
      val close = s.indexOf('>', i + 1)
      if (close < 0) i = -1
      else {
        sb.append(s, start, i).append(' ')
        start = close + 1
        i = s.indexOf('<', start)
      }
    }
    sb.append(s, start, s.length)
    sb.toString
  }

  /** `\s+` → " " as a single pass (java \s is exactly [ \t\n\x0B\f\r]:
    * chars 9–13 and 32) — equivalent to wsRunPat.replaceAll(" "), minus
    * the per-line matcher + result allocations. */
  private def collapseWs(s: String): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var inRun = false
    while (i < n) {
      val c = s.charAt(i)
      if (c == ' ' || (c >= '\t' && c <= '\r')) {
        if (!inRun) { sb.append(' '); inRun = true }
      } else { sb.append(c); inRun = false }
      i += 1
    }
    sb.toString
  }

  /** One-pass keyword veto over the lowered line — boolean-identical to
    * `boilerKeywords.exists(lower.contains)` (any position starting any
    * keyword), instead of ten full indexOf scans per line. */
  private def hasBoilerKeyword(lower: String): Boolean = {
    val n = lower.length
    var i = 0
    while (i < n) {
      lower.charAt(i) match {
        case 'c' =>
          if (lower.startsWith("cookie", i) ||
              lower.startsWith("copyright", i)) return true
        case 's' =>
          if (lower.startsWith("subscribe", i) ||
              lower.startsWith("sign up", i)) return true
        case 'a' =>
          if (lower.startsWith("all rights reserved", i)) return true
        case 'p' =>
          if (lower.startsWith("privacy policy", i)) return true
        case 't' =>
          if (lower.startsWith("terms of service", i)) return true
        case 'l' =>
          if (lower.startsWith("log in", i)) return true
        case 'n' =>
          if (lower.startsWith("newsletter", i)) return true
        case '©' => return true
        case _ =>
      }
      i += 1
    }
    false
  }
}
