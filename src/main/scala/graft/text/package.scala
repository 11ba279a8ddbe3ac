package graft

/** Shared helpers for the pure text operators (SURVEY §2.3–2.4).
  *
  * The reference is Python; a few of its primitives need care to reproduce
  * byte-identically on the JVM:
  *  - Python `round(x, n)` rounds the exact binary double, ties-to-even.
  *  - Python `re` treats `\d`/`\w`/`\s`/`\b` as Unicode classes on `str`.
  *  - Python `str.isdigit`/`isalnum` are Unicode-aware.
  *
  * BMP-ONLY CONTRACT: the per-`Char` class helpers (isPyDigit,
  * isRegexWordChar, isRegexWs, …) iterate UTF-16 code UNITS, while
  * Python's regex engine iterates code POINTS. They agree on every BMP
  * character (exhaustively fuzzed in RegexParitySpec) but diverge on
  * supplementary-plane characters — e.g. U+1D7CE MATHEMATICAL BOLD DIGIT
  * ZERO matches Python `\d` but is two surrogates here, neither a digit.
  * The counters built on them (digitCount, maxDigitRun, countWords
  * gates) therefore treat astral digits/letters as noise. This is a
  * deliberate trade: code-point iteration costs a branch per char in the
  * hottest loops, and astral DIGITS in crawled fintech documents are
  * adversarial-exotic (the reference's own OCR route can't even emit
  * them — its recognizer alphabet is BMP). RegexParitySpec pins the
  * divergence explicitly so a future contract change is a conscious one.
  */
package object text {

  /** Python-compatible round(x, n): exact binary value, HALF_EVEN. */
  def pyRound(x: Double, n: Int): Double = {
    if (x.isNaN || x.isInfinite) x
    else new java.math.BigDecimal(x)
      .setScale(n, java.math.RoundingMode.HALF_EVEN)
      .doubleValue()
  }

  /** Python str.isdigit() per char (Unicode decimal digits). */
  @inline def isPyDigit(c: Char): Boolean = Character.isDigit(c)

  /** Python str.isalnum() per char (letters or digits, Unicode). */
  @inline def isPyAlnum(c: Char): Boolean = Character.isLetterOrDigit(c)

  /** Python str.isspace() per char. */
  @inline def isPySpace(c: Char): Boolean =
    Character.isWhitespace(c) || Character.isSpaceChar(c)

  /** Count of digit chars — `_digit_count`, ocr_engine.py:361-364. */
  def digitCount(s: String): Int = {
    var n = 0; var i = 0
    while (i < s.length) { if (isPyDigit(s.charAt(i))) n += 1; i += 1 }
    n
  }

  /** Non-digit, non-space char count ("noise"), ocr_engine.py:1057. */
  def noiseCount(s: String): Int = {
    var n = 0; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!isPyDigit(c) && !isPySpace(c)) n += 1
      i += 1
    }
    n
  }

  /** Digits-only projection (re.sub(r"\D", "", s)). */
  def digitsOnly(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isPyDigit(c)) sb.append(c)
      i += 1
    }
    sb.toString
  }

  import java.util.regex.Pattern
  /** Compile with Unicode classes to match Python `re` semantics. */
  def uPattern(regex: String, flags: Int = 0): Pattern =
    Pattern.compile(regex, flags | Pattern.UNICODE_CHARACTER_CLASS)

  /** Exactly the char set Java regex `\s` matches under
    * UNICODE_CHARACTER_CLASS (Unicode White_Space) — NOT the same as
    * `Character.isWhitespace` (which excludes NEL/NBSP-family chars).
    * Kept in sync by the RegexParitySpec fuzz test. */
  @inline def isRegexWs(c: Char): Boolean =
    (c >= 0x09 && c <= 0x0d) || c == ' ' || c == 0x85 || c == 0xa0 ||
      c == 0x1680 || (c >= 0x2000 && c <= 0x200a) || c == 0x2028 ||
      c == 0x2029 || c == 0x202f || c == 0x205f || c == 0x3000

  /** re.sub(r"\s+", " ", s) with Unicode whitespace. Hand-rolled single
    * pass with a zero-copy fast path (already-collapsed input — the
    * common case on the sanitize→analyze hot path — returns `s` itself). */
  def collapseWs(s: String): String = {
    var i = 0
    val n = s.length
    var clean = true
    while (i < n && clean) {
      val c = s.charAt(i)
      if (isRegexWs(c) && (c != ' ' || (i + 1 < n && isRegexWs(s.charAt(i + 1)))))
        clean = false
      i += 1
    }
    if (clean) return s
    val sb = new java.lang.StringBuilder(n)
    i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (isRegexWs(c)) {
        sb.append(' ')
        i += 1
        while (i < n && isRegexWs(s.charAt(i))) i += 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** re.sub(r"\s+", " ", s).strip() */
  def collapseWsStrip(s: String): String = collapseWs(s).trim

  /** Python str.strip(): strips Unicode whitespace at both ends
    * (Java's String.trim is ASCII-only). */
  def pyStrip(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && isPySpace(s.charAt(a))) a += 1
    while (b > a && isPySpace(s.charAt(b - 1))) b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** All runs of digits (re.findall(r"\d+", s)) — hand-rolled single
    * pass; `isPyDigit` is exactly `\d` under UNICODE_CHARACTER_CLASS
    * (`\p{Nd}`, fuzz-checked in RegexParitySpec). */
  def digitGroups(s: String): List[String] = {
    val b = List.newBuilder[String]
    var i = 0
    val n = s.length
    while (i < n) {
      if (isPyDigit(s.charAt(i))) {
        val start = i
        while (i < n && isPyDigit(s.charAt(i))) i += 1
        b += s.substring(start, i)
      } else i += 1
    }
    b.result()
  }

  /** Exactly Java regex `\w` under UNICODE_CHARACTER_CLASS:
    * [\p{Alpha}\p{gc=Mn}\p{gc=Me}\p{gc=Mc}\p{Digit}\p{gc=Pc}\p{Join_Control}].
    * Kept in sync by the RegexParitySpec fuzz test. */
  @inline def isRegexWordChar(c: Char): Boolean = {
    if (Character.isAlphabetic(c) || Character.isDigit(c)) true
    else {
      val t = Character.getType(c)
      t == Character.NON_SPACING_MARK || t == Character.ENCLOSING_MARK ||
        t == Character.COMBINING_SPACING_MARK ||
        t == Character.CONNECTOR_PUNCTUATION || c == 0x200c || c == 0x200d
    }
  }

  /** Chars whose one-to-one `String.toLowerCase` image disagrees with
    * the fold a case-insensitive matcher applies, so the aligned
    * lowercase probe copy lies about matchability and the length check
    * alone cannot catch it:
    *  - regex double fold `toLower(toUpper(c))` differs from
    *    `toLower(c)`: U+0131 ı and U+017F ſ match I/S under
    *    CASE_INSENSITIVE|UNICODE_CASE yet never equal an i/s gate in
    *    the lowercase copy (a missed match);
    *  - a non-ASCII char lowercases INTO ASCII: U+212A KELVIN SIGN →
    *    'k' gate-hits the probe copy where an ASCII-CI Pattern (no
    *    UNICODE_CASE) would not match (a false positive).
    * Fast-path scanners fall back to the real Pattern when any such
    * char is present — the fallback is always-correct, just slower. */
  @inline def isFoldDivergent(c: Char): Boolean =
    c >= 0x80 && {
      val lo = Character.toLowerCase(c)
      lo != Character.toLowerCase(Character.toUpperCase(c)) || lo < 0x80
    }

  /** Any fold-divergent char in `s` (scan the ORIGINAL text — Kelvin K
    * is invisible in the lowercase copy). */
  def hasFoldDivergent(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (isFoldDivergent(s.charAt(i))) return true
      i += 1
    }
    false
  }

  /** Longest run of consecutive digit chars — cheap necessary-condition
    * gate for digit-shaped regexes (a pattern needing k consecutive
    * digits cannot match when maxDigitRun < k). */
  def maxDigitRun(s: String): Int = {
    var best = 0
    var run = 0
    var i = 0
    while (i < s.length) {
      if (isPyDigit(s.charAt(i))) { run += 1; if (run > best) best = run }
      else run = 0
      i += 1
    }
    best
  }

  /** " ".join(s[i:i+4] for i in range(0,len,4)).strip() — group in 4s. */
  def groupIn4s(s: String): String = {
    if (s.isEmpty) return ""
    val sb = new java.lang.StringBuilder(s.length + s.length / 4 + 1)
    var i = 0
    while (i < s.length) {
      if (i > 0) sb.append(' ')
      sb.append(s, i, math.min(i + 4, s.length))
      i += 4
    }
    sb.toString.trim
  }
}
