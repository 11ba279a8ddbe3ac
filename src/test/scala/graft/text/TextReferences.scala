package graft.text

/** Staged and regex-only forms of text kernels: the references the
  * parity specs compare the fused and word-probe fast paths against. */
object TextReferences {

  /** [[Sanitizer.scrubFilterCollapse]] as three passes: drop unpaired
    * surrogates, filter disallowed ASCII, collapse whitespace. */
  def scrubFilterCollapse(s: String): String = {
    val scrubbed = Sanitizer.dropUnpairedSurrogates(s)
    var drop = 0
    var i = 0
    while (i < scrubbed.length) {
      val c = scrubbed.charAt(i)
      if (c <= 127 && !Sanitizer.allowedAscii(c)) drop += 1
      i += 1
    }
    val filtered =
      if (drop == 0) scrubbed
      else {
        val kept = new java.lang.StringBuilder(scrubbed.length - drop)
        i = 0
        while (i < scrubbed.length) {
          val c = scrubbed.charAt(i)
          if (c > 127 || Sanitizer.allowedAscii(c)) kept.append(c)
          i += 1
        }
        kept.toString
      }
    collapseWsStrip(filtered)
  }

  /** [[LangHints.detectLower]] with every hint matched by its regex. */
  def detectLower(t: String, lower: String): (String, String) =
    LangHints.Hints.collectFirst {
      case (pat, _, lang, country) if pat.matcher(t).find() =>
        (lang, country)
    }.getOrElse(("en", ""))

  // The reference's digit-candidate helpers (ocr_engine.py), ported
  // byte-identically; no extraction path calls them.

  private val nonDigitSpace = uPattern("[^0-9\\s]")

  /** `_normalize_digit_candidate` — keep digits/spaces; if a compact run of
    * ≥12 digits has no internal spaces, group in 4s. ocr_engine.py:416-429 */
  def normalizeDigitCandidate(text: String): String = {
    if (text == null) return ""
    val candidate = collapseWsStrip(nonDigitSpace.matcher(text).replaceAll(""))
    if (candidate.isEmpty) return ""
    val compact = candidate.replace(" ", "")
    if (compact.length >= 12 && !candidate.contains(' ')) groupIn4s(compact)
    else candidate
  }

  /** `_needs_digit_rescue` — ≥8 digits, letters/!| present, ≥65% digit
    * ratio over the space-stripped text. ocr_engine.py:370-384 */
  def needsDigitRescue(text: String): Boolean = {
    if (text == null) return false
    val compact = uPattern("\\s+").matcher(text).replaceAll("")
    if (compact.isEmpty) return false
    val digits = digitCount(compact)
    if (digits < 8) return false
    var hasAmbiguous = false
    var i = 0
    while (i < compact.length && !hasAmbiguous) {
      val c = compact.charAt(i)
      hasAmbiguous = Character.isLetter(c) || c == '!' || c == '|'
      i += 1
    }
    hasAmbiguous && digits.toDouble / compact.length >= 0.65
  }

  /** `_digit_candidate_score` → (digits, -noise, compact_len). */
  def digitCandidateScore(text: String): (Int, Int, Int) =
    (digitCount(text), -noiseCount(text), text.replace(" ", "").length)

  /** `_compact_digit_score` → (len≥13, -|16-len|, len). */
  def compactDigitScore(compactDigits: String): (Int, Int, Int) = {
    val n = compactDigits.length
    (if (n >= 13) 1 else 0, -math.abs(16 - n), n)
  }
}
