package graft.html

/** Text-density + link-density main-content classification
  * (Boilerpipe/jusText-style; north_star) — the analog of the reference's
  * region filtering + reconstruction overlay removal (K4/K6, SURVEY §2.2).
  *
  * Three strategies form the escalation ladder (O4 — the analog of
  * `OpenSourceOCRRouter.process_document`, /root/reference/ocr_service/
  * modules/open_source_ocr_stack.py:356-412):
  *   layer1 `mainContent`    — strict density classifier
  *   layer2 `allContent`     — every non-boilerplate block
  *   layer3 `fullText`       — everything, including chrome
  */
object ContentClassifier {

  /** Link-density above this marks a block as boilerplate (link farms,
    * nav lists). */
  val MaxLinkDensity = 0.33
  /** Word count at/above which a low-link block is content on its own. */
  val GoodWords = 20
  /** Medium blocks accepted when nearly link-free. */
  val MediumWords = 10
  val MediumMaxLinkDensity = 0.15
  /** Link-density cap for absorbed short neighbors / headings. */
  val NeighborMaxLinkDensity = 0.25

  private val Bad = 0
  private val Short = 1
  private val Good = 2

  /** jusText-style stopword density: share of words that are function
    * words. High-density blocks are running prose (main content); low
    * density suggests navigation/labels. Multilingual small list (the
    * corpus langs: en/es/fr/de/pt). */
  val StopwordMinDensity = 0.18
  private val Stopwords: java.util.HashSet[String] = {
    val set = new java.util.HashSet[String](128)
    Seq(
      // en
      "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
      "for", "on", "with", "that", "this", "it", "as", "at", "by", "be",
      // es
      "el", "la", "los", "las", "un", "una", "y", "o", "de", "en", "que",
      "por", "para", "con", "es", "del",
      // fr
      "le", "les", "des", "du", "et", "ou", "dans", "pour", "sur", "est",
      // de
      "der", "die", "das", "und", "oder", "ist", "mit", "ein", "eine",
      "für", "auf", "von", "zu",
      // pt
      "os", "um", "uma", "e", "ou", "não", "com", "mais", "como", "dos"
    ).foreach(set.add)
    set
  }

  /** Fraction of whitespace tokens that are stopwords (lowercased). */
  def stopwordDensity(text: String): Double = {
    var hits = 0
    var words = 0
    var start = 0
    val n = text.length
    var i = 0
    while (i <= n) {
      if (i == n || text.charAt(i) == ' ') {
        if (i > start) {
          words += 1
          // strip trailing punctuation cheaply for the lookup
          var e = i
          while (e > start && !Character.isLetter(text.charAt(e - 1))) e -= 1
          if (e > start &&
              Stopwords.contains(text.substring(start, e).toLowerCase(java.util.Locale.ROOT)))
            hits += 1
        }
        start = i + 1
      }
      i += 1
    }
    if (words == 0) 0.0 else hits.toDouble / words
  }

  /** Per-block labels for the strict classifier (Boilerpipe word-count +
    * link-density rules, refined by jusText stopword density: a
    * long low-link block still needs function-word structure to count as
    * prose on its own; keyword/field blocks get in via absorption). */
  def labels(blocks: Vector[Block]): Array[Int] = {
    val n = blocks.size
    val lab = new Array[Int](n)
    var i = 0
    while (i < n) {
      val b = blocks(i)
      lab(i) =
        if (b.inBoiler || b.linkDensity > MaxLinkDensity) Bad
        else if (b.words >= GoodWords) Good // long blocks: prose or data tables
        else if (b.words >= MediumWords &&
                 (b.linkDensity <= MediumMaxLinkDensity ||
                  stopwordDensity(b.text) >= StopwordMinDensity)) Good
        else Short
      i += 1
    }
    // absorption pass: short blocks adjacent to good ones join the content
    // (jusText-style neighbor smoothing); headings preceding good blocks too.
    val out = lab.clone()
    i = 0
    while (i < n) {
      if (lab(i) == Short) {
        val b = blocks(i)
        val prevGood = i > 0 && lab(i - 1) == Good
        val nextGood = i + 1 < n && lab(i + 1) == Good
        if ((prevGood || nextGood) && b.linkDensity <= NeighborMaxLinkDensity)
          out(i) = Good
        else if (b.heading && nextGood) out(i) = Good
      }
      i += 1
    }
    out
  }

  /** layer1 — blocks labeled Good by the density classifier, in order. */
  def mainContent(blocks: Vector[Block]): Vector[Block] =
    select(blocks, labels(blocks), Good)

  /** layer2 — all non-boilerplate, non-link-farm blocks. */
  def allContent(blocks: Vector[Block]): Vector[Block] =
    blocks.filter(b => !b.inBoiler && b.linkDensity <= MaxLinkDensity)

  /** layer3 — everything. */
  def fullText(blocks: Vector[Block]): Vector[Block] = blocks

  private def select(blocks: Vector[Block], lab: Array[Int],
      want: Int): Vector[Block] = {
    val out = Vector.newBuilder[Block]
    var i = 0
    while (i < blocks.size) {
      if (lab(i) == want) out += blocks(i)
      i += 1
    }
    out.result()
  }

  /** Both ladder layers from ONE labeling pass: (main, all, identical?).
    * `identical` when every non-boiler low-link block is already Good —
    * the extractor then reuses layer-1's text/quality for layer 2. */
  def ladderLayers(blocks: Vector[Block])
      : (Vector[Block], Vector[Block], Boolean) = {
    val lab = labels(blocks)
    val main = select(blocks, lab, Good)
    val all = allContent(blocks)
    (main, all, main.size == all.size)
  }

  /** Accepted blocks joined in document order with "\n\n" — the same
    * assembly contract as region extraction (K12,
    * /root/reference/ocr_service/modules/ocr_engine.py:1438-1467). */
  def assemble(blocks: Vector[Block]): String =
    blocks.iterator.map(_.text).filter(_.nonEmpty).mkString("\n\n")
}
