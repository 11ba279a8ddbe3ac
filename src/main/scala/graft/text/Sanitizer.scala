package graft.text

import java.util.regex.{Matcher, Pattern}

/** Text sanitization: ports (byte-identically) the reference's
  * `sanitize_text` (ocr_service/modules/ocr_engine.py:303-359).
  */
object Sanitizer {

  private val MaxLen = 10000

  /** string.punctuation in Python. */
  private val Punctuation = """!"#$%&'()*+,-./:;<=>?@[\]^_`{|}~"""

  private[text] val allowedAscii: Array[Boolean] = {
    val a = new Array[Boolean](128)
    for (c <- 'a' to 'z') a(c) = true
    for (c <- 'A' to 'Z') a(c) = true
    for (c <- '0' to '9') a(c) = true
    Punctuation.foreach(c => a(c) = true)
    a(' ') = true; a('\n') = true; a('\t') = true
    a
  }

  // (?:\d[-–—−\/|.,:;'‘’"“”\s]*){11,19}  — long digit span (11–19 digits
  // interleaved with separators), ocr_engine.py:327-337
  private val longDigitSpan: Pattern = uPattern(
    "(?:\\d[-–—−\\\\/|.,:;'‘’\"“”\\s]*){11,19}")

  // separator runs inside a span → single space, ocr_engine.py:320-326
  private val spanSepRun: Pattern = uPattern(
    "[-–—−\\\\/|.,:;'‘’\"“”]+")

  // fixpoint pair normalization dddd-dddd → dddd dddd, ocr_engine.py:338-345
  private val pairSep: Pattern = uPattern(
    "(\\d{3,4})\\s*[-–—−.,:;]+\\s*(\\d{3,4})")

  // trailing separator strip, ocr_engine.py:346-350
  private val trailingSep: Pattern = uPattern(
    "(\\d{3,4})[-–—−.,:;]+(?=\\s|$)")

  /** Python `s.encode('utf-8', errors='ignore').decode('utf-8')`:
    * identity except unpaired surrogates are dropped. */
  private[text] def dropUnpairedSurrogates(s: String): String = {
    var hasBad = false
    var i = 0
    while (i < s.length && !hasBad) {
      val c = s.charAt(i)
      if (Character.isHighSurrogate(c))
        hasBad = i + 1 >= s.length || !Character.isLowSurrogate(s.charAt(i + 1))
      else if (Character.isLowSurrogate(c)) hasBad = true
      if (Character.isHighSurrogate(c) && !hasBad) i += 2 else i += 1
    }
    if (!hasBad) return s
    val sb = new java.lang.StringBuilder(s.length)
    i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isHighSurrogate(c)) {
        if (i + 1 < s.length && Character.isLowSurrogate(s.charAt(i + 1))) {
          sb.append(c).append(s.charAt(i + 1)); i += 2
        } else i += 1
      } else if (Character.isLowSurrogate(c)) i += 1
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def normalizeSpan(span: String): String =
    collapseWsStrip(spanSepRun.matcher(span).replaceAll(" "))

  /** Fused first phase of sanitize — byte-identical to the sequential
    * `dropUnpairedSurrogates` → allowed-ASCII filter → `collapseWsStrip`
    * composition, in ONE detection pass + at most ONE build pass
    * (sequential staging cost three scans and an intermediate string;
    * the "\n\n" block joins mean collapse rebuilt on nearly every doc).
    * A char dropped by an earlier stage simply never reaches the
    * collapse automaton, which is exactly the sequential semantics. */
  private[text] def scrubFilterCollapse(s: String): String = {
    // fast path: nothing dropped, no collapsible/strippable ws, no
    // unpaired surrogate → the input IS the answer
    var clean = true
    var i = 0
    val n = s.length
    while (clean && i < n) {
      val c = s.charAt(i)
      if (c <= 127) {
        if (!allowedAscii(c)) clean = false
        else if (c == '\n' || c == '\t') clean = false // regex-ws ≠ ' '
        else if (c == ' ' && (i == 0 || i + 1 >= n ||
          isRegexWs(s.charAt(i + 1)))) clean = false // run/edge space
      } else if (Character.isHighSurrogate(c)) {
        if (i + 1 >= n || !Character.isLowSurrogate(s.charAt(i + 1)))
          clean = false
        else i += 1 // skip the low half of a valid pair
      } else if (Character.isLowSurrogate(c)) clean = false
      else if (isRegexWs(c)) clean = false // non-space unicode ws
      i += 1
    }
    if (clean) return s

    val sb = new java.lang.StringBuilder(n)
    var pendingSpace = false
    i = 0
    while (i < n) {
      val c = s.charAt(i)
      var keep = true
      var advance = 1
      if (Character.isHighSurrogate(c)) {
        if (i + 1 < n && Character.isLowSurrogate(s.charAt(i + 1))) {
          // valid pair: both halves pass the >127 filter, never ws
          if (pendingSpace && sb.length() > 0) sb.append(' ')
          pendingSpace = false
          sb.append(c).append(s.charAt(i + 1))
          advance = 2
        } // else: unpaired high — dropped
        keep = false // handled above
      } else if (Character.isLowSurrogate(c)) {
        keep = false // unpaired low — dropped
      } else if (c <= 127 && !allowedAscii(c)) {
        keep = false // filtered ASCII
      }
      if (keep) {
        if (isRegexWs(c)) pendingSpace = true
        else {
          if (pendingSpace && sb.length() > 0) sb.append(' ')
          pendingSpace = false
          sb.append(c)
        }
      }
      i += advance
    }
    sb.toString // trailing pendingSpace never flushed == strip
  }

  /** `sanitize_text` — UTF-8 scrub → allowed-char filter → whitespace
    * collapse → long-digit-span normalization → pair fixpoint → trailing
    * separator strip → 10k truncation with "...". */
  def sanitize(text: String): String = {
    if (text == null || text.isEmpty) return ""
    var s = scrubFilterCollapse(text)

    // necessary-condition gates, one fused pass (none of the rules adds
    // or removes digits, so the stats stay valid throughout):
    //  - longDigitSpan needs ≥11 digits inside ONE run of span chars
    //    (digits + its separator class + \s) — `maxSpanDigits`; a bare
    //    total-digit count lets date/amount-rich receipts pay the
    //    {11,19} quantifier scan for nothing
    //  - pairSep/trailingSep both open with \d{3,4} — `maxRun ≥ 3`
    val (nDigits, maxRun, maxSpanDigits) = digitStats(s)

    // long digit spans: separators → spaces within the span
    if (maxSpanDigits >= 11) {
      val m: Matcher = longDigitSpan.matcher(s)
      if (m.find()) {
        val sb = new java.lang.StringBuilder(s.length)
        m.reset()
        while (m.find())
          m.appendReplacement(sb, Matcher.quoteReplacement(normalizeSpan(m.group())))
        m.appendTail(sb)
        s = sb.toString
      }
    }

    // fixpoint: dddd-dddd → dddd dddd
    if (nDigits >= 6 && maxRun >= 3) {
      var previous = ""
      while (previous != s) {
        previous = s
        s = pairSep.matcher(s).replaceAll("$1 $2")
      }
    }
    if (nDigits >= 3 && maxRun >= 3) s = trailingSep.matcher(s).replaceAll("$1")

    if (s.length > MaxLen) s.substring(0, MaxLen) + "..." else s
  }

  /** Chars the longDigitSpan separator class admits between digits. */
  @inline private def isSpanSep(c: Char): Boolean =
    c == '-' || c == '–' || c == '—' || c == '−' || c == '\\' ||
      c == '/' || c == '|' || c == '.' || c == ',' || c == ':' ||
      c == ';' || c == '\'' || c == '‘' || c == '’' || c == '"' ||
      c == '“' || c == '”'

  /** One pass: (total digits, longest consecutive-digit run, max digit
    * count within a single run of span-admissible chars). Every
    * longDigitSpan match lies inside one maximal run of
    * digit/separator/\s chars, so `maxSpanDigits < 11` proves no match
    * exists — exact necessary conditions, never behavior changes. */
  private def digitStats(s: String): (Int, Int, Int) = {
    var n = 0
    var run = 0; var maxRun = 0
    var spanDigits = 0; var maxSpan = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isPyDigit(c)) {
        n += 1
        run += 1; if (run > maxRun) maxRun = run
        spanDigits += 1; if (spanDigits > maxSpan) maxSpan = spanDigits
      } else {
        run = 0
        if (!isSpanSep(c) && !isRegexWs(c)) spanDigits = 0
      }
      i += 1
    }
    (n, maxRun, maxSpan)
  }
}
