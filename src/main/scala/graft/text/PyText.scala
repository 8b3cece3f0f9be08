package graft.text

import java.util.regex.{Matcher, Pattern}

/** Python string/number semantics ports (SURVEY.md §7.6 parity-trap list).
  * Each function is bit-compatible with the CPython behavior the reference
  * relies on, for the ASCII-centric value domain the pipeline produces.
  */
object PyText {

  /** Python `str.title()` (ref use: cleaner.py:34,116,128,136,377,380).
    * Uppercases a cased char that follows a non-cased char; lowercases
    * otherwise. Unlike Spark `initcap`, digits/apostrophes reset casing.
    */
  def title(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var prevCased = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val cased = Character.isLetter(c)
      if (cased) {
        sb.append(if (prevCased) Character.toLowerCase(c) else Character.toUpperCase(c))
        prevCased = true
      } else {
        sb.append(c)
        prevCased = false
      }
      i += 1
    }
    sb.toString
  }

  /** Python `str.isdigit()` (ref: cleaner.py:201,214): nonempty and all
    * chars are digits. */
  def isDigit(s: String): Boolean = s.nonEmpty && s.forall(Character.isDigit)

  /** Python `str.strip()` — strips Unicode whitespace from both ends. */
  def strip(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && Character.isWhitespace(s.charAt(a))) a += 1
    while (b > a && Character.isWhitespace(s.charAt(b - 1))) b -= 1
    s.substring(a, b)
  }

  private val wsRunPat = Pattern.compile("\\s+")

  /** Python `str.split()` with no args: split on whitespace runs, drop
    * empties (ref: cleaner.py:33 `line.split()`). Precompiled — String.split
    * with a multi-char regex recompiles the pattern per call. */
  def splitWs(s: String): Vector[String] =
    wsRunPat.split(strip(s)).toVector.filter(_.nonEmpty)

  /** Python `str.split(sep)` — keeps empty fields (ref: cleaner.py:275
    * `line.split(":")[1]`). */
  def splitLit(s: String, sep: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var start = 0
    var idx = s.indexOf(sep, start)
    while (idx >= 0) {
      out += s.substring(start, idx)
      start = idx + sep.length
      idx = s.indexOf(sep, start)
    }
    out += s.substring(start)
    out.result()
  }

  /** Python `round(x, 2)` — banker's rounding on the exact binary value
    * (ref: extractor.py:114). Spark/Java `round` is HALF_UP; don't use it. */
  def round2(x: Double): Double = {
    if (x.isNaN || x.isInfinite) x
    else new java.math.BigDecimal(x)
      .setScale(2, java.math.RoundingMode.HALF_EVEN)
      .doubleValue()
  }

  /** Python `re.search(pat, s)` → first match or None. */
  def reSearch(p: Pattern, s: String): Option[Matcher] = {
    val m = p.matcher(s)
    if (m.find()) Some(m) else None
  }

  /** Python `re.match(pat, s)` → match anchored at the start only
    * (NOT a full match) — ref: cleaner.py:291 uses the prefix semantics. */
  def reMatch(p: Pattern, s: String): Option[Matcher] = {
    val m = p.matcher(s)
    if (m.lookingAt()) Some(m) else None
  }

  def reTest(p: Pattern, s: String): Boolean = p.matcher(s).find()

  /** Python `re.sub(pat, repl, s)` with a literal replacement. */
  def reSubLit(p: Pattern, repl: String, s: String): String =
    p.matcher(s).replaceAll(Matcher.quoteReplacement(repl))

  /** Python `re.split(pat, s)` where `pat` contains a capturing group:
    * the captured delimiter text is included in the result list
    * (ref: cleaner.py:363 `re.split(r'(?i)(TOWN\b)', street_val)`).
    * Java's Pattern.split drops delimiters, so this is hand-rolled. */
  def reSplitWithGroups(p: Pattern, s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val m = p.matcher(s)
    var last = 0
    while (m.find()) {
      out += s.substring(last, m.start())
      var g = 1
      while (g <= m.groupCount()) {
        if (m.group(g) != null) out += m.group(g)
        g += 1
      }
      last = m.end()
    }
    out += s.substring(last)
    out.result()
  }

  /** Python `list.remove(x)` — drops the FIRST occurrence only
    * (ref: passport_processor.py:77). */
  def removeFirst[A](xs: Vector[A], x: A): Vector[A] = {
    val i = xs.indexOf(x)
    if (i < 0) xs else xs.patch(i, Nil, 1)
  }
}
