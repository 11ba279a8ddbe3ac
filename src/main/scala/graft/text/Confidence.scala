package graft.text

/** OCR-style confidence scorer.
  *
  * Ports `ConfidenceScorer.calculate` (/root/reference/ocr_service/modules/
  * confidence.py:17-57): 0.4·alnum_density + 0.4·min(words/10,1) +
  * min(0.05·marker_hits, 0.2), scaled by min(len/100,1), rounded to 2 dp.
  */
object Confidence {

  private val Markers = List(
    "date", "fecha", "total", "invoice", "factura", "name", "nombre", "id",
    "dni", "tax", "iva")

  // substring semantics (`mk in lower`), one Aho-Corasick pass instead
  // of 11 full `contains` scans (the markers were the dominant cost of
  // this scorer: 11 × text length per doc)
  private val markerAc = AhoCorasick.build(Markers.toIndexedSeq)

  // \b[a-zA-ZáéíóúüñÁÉÍÓÚÜÑ]{2,}\b — confidence.py:45. Counted by a
  // hand-rolled scan: a match is exactly a maximal \w-run that lies
  // entirely in the class with length ≥ 2 (\b only exists at run edges;
  // a non-class \w char anywhere in the run kills every candidate).
  // Equivalence fuzz-checked against the regex in RegexParitySpec.
  @inline private def inWordClass(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      "áéíóúüñÁÉÍÓÚÜÑ".indexOf(c) >= 0

  private[text] def countWords(text: String): Int = {
    var count = 0
    var i = 0
    val n = text.length
    while (i < n) {
      if (isRegexWordChar(text.charAt(i))) {
        val start = i
        var allInClass = true
        while (i < n && isRegexWordChar(text.charAt(i))) {
          if (!inWordClass(text.charAt(i))) allInClass = false
          i += 1
        }
        if (allInClass && i - start >= 2) count += 1
      } else i += 1
    }
    count
  }

  def calculate(text: String): Double =
    if (text == null) 0.0 else calculateLower(text, text.toLowerCase(java.util.Locale.ROOT))

  /** calculate() with a caller-provided lowercase copy. */
  def calculateLower(text: String, lowerIn: String): Double = {
    if (text == null || pyStrip(text).isEmpty) return 0.0

    var alnum = 0
    var i = 0
    while (i < text.length) {
      if (isPyAlnum(text.charAt(i))) alnum += 1
      i += 1
    }
    val density = alnum.toDouble / text.length

    val wordCount = countWords(text)

    val hits = markerAc.matchedSet(lowerIn)
    var markerScore = 0.0
    var m = 0
    while (m < hits.length) {
      if (hits(m)) markerScore += 0.05
      m += 1
    }
    markerScore = math.min(0.2, markerScore)

    val lengthFactor = math.min(1.0, text.length / 100.0)
    val wordFactor = if (wordCount > 0) math.min(1.0, wordCount / 10.0) else 0.0

    val baseScore = density * 0.4 + wordFactor * 0.4 + markerScore
    pyRound(baseScore * lengthFactor, 2)
  }
}
