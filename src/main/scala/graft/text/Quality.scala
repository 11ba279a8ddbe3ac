package graft.text

import graft.model.QualityResult

/** Rule-based extraction-quality evaluator.
  *
  * Ports `FintechQualityEvaluator` (/root/reference/ocr_service/modules/
  * open_source_ocr_stack.py:61-205): base = 0.35·min(len/700,1) +
  * 0.35·alnum_ratio + 0.30·printable_ratio, plus doc-type signal bonuses;
  * classify GOOD≥0.75 / UNUSABLE<0.45 / else PARTIAL.
  */
object Quality {

  private val txnLike = uPattern("\\b\\d{1,2}[/-]\\d{1,2}([/-]\\d{2,4})?\\b")
  private val currency = uPattern("\\b(?:USD|EUR|GBP|MXN|COP|\\$|€)\\s?\\d+[\\d,\\.]*\\b")
  private val accountLike = uPattern("\\b(?:acct|account|iban|clabe|iban:)\\b",
    java.util.regex.Pattern.CASE_INSENSITIVE)
  private val dateLike = uPattern("\\b\\d{1,2}[/-]\\d{1,2}[/-]\\d{2,4}\\b")
  private val idLike = uPattern("\\b(?:id|passport|dni|ssn|tax id)\\b",
    java.util.regex.Pattern.CASE_INSENSITIVE)
  private val merchantLike = uPattern(
    "\\b(?:store|market|shop|merchant|invoice|receipt)\\b",
    java.util.regex.Pattern.CASE_INSENSITIVE)
  private val totalLike = uPattern("\\b(?:total|amount due|grand total)\\b",
    java.util.regex.Pattern.CASE_INSENSITIVE)
  private val nameWord = uPattern("\\bname\\b",
    java.util.regex.Pattern.CASE_INSENSITIVE)
  private val addressWord = uPattern("\\baddress\\b",
    java.util.regex.Pattern.CASE_INSENSITIVE)

  private def countMatches(p: java.util.regex.Pattern, s: String): Int = {
    val m = p.matcher(s); var n = 0
    while (m.find()) n += 1
    n
  }
  private def has(p: java.util.regex.Pattern, s: String): Boolean =
    p.matcher(s).find()

  // ---- fast exact twins of the word-alternation `has` checks ----------
  // (WordAlts probes indexOf positions instead of a full regex scan; the
  // Pattern stays as the fallback for case-misaligned text and as the
  // fuzz-parity reference in ScoringSpec)
  // literals(): inner spaces in these regexes are literal single spaces
  private val merchantAlts = WordAlts.literals(
    "store|market|shop|merchant|invoice|receipt")
  private val totalAlts = WordAlts.literals("total|amount due|grand total")
  private val nameAlts = WordAlts.literals("name")
  private val addressAlts = WordAlts.literals("address")
  private val idAlts = WordAlts.literals("id|passport|dni|ssn|tax id")
  // `iban:` is subsumed by `iban` for existence (same start, \b after n)
  private val accountAlts = WordAlts.literals("acct|account|iban|clabe")

  private def hasW(lower: String, alts: Array[Array[String]],
      p: java.util.regex.Pattern, text: String, aligned: Boolean): Boolean =
    if (aligned) WordAlts.has(lower, alts) else has(p, text)

  /** Necessary condition for [[dateLike]]/[[txnLike]]: a digit directly
    * followed by '/' or '-' and another digit. One cheap pass. */
  private def hasDateShape(s: String): Boolean = {
    var i = 0
    val n = s.length
    while (i + 2 < n) {
      if (isPyDigit(s.charAt(i))) { // \d is Unicode under this flag set
        val sep = s.charAt(i + 1)
        if ((sep == '/' || sep == '-') && isPyDigit(s.charAt(i + 2)))
          return true
      }
      i += 1
    }
    false
  }

  /** Necessary condition for [[currency]]: one of its leading tokens. */
  private def hasCurrencyToken(lower: String): Boolean =
    lower.indexOf('$') >= 0 || lower.indexOf('€') >= 0 ||
      lower.contains("usd") || lower.contains("eur") ||
      lower.contains("gbp") || lower.contains("mxn") || lower.contains("cop")

  // test hooks: (fast word-alt table, regex it must equal) + the
  // necessary-condition gates vs the regexes they guard — ScoringSpec
  // fuzz-asserts both directions
  private[text] def wordAltParityCases
      : Seq[(Array[Array[String]], java.util.regex.Pattern)] = Seq(
    merchantAlts -> merchantLike, totalAlts -> totalLike,
    nameAlts -> nameWord, addressAlts -> addressWord,
    idAlts -> idLike, accountAlts -> accountLike)
  private[text] def dateShapeGate(s: String): Boolean = hasDateShape(s)
  private[text] def currencyGate(lower: String): Boolean =
    hasCurrencyToken(lower)
  private[text] def dateLikePattern: java.util.regex.Pattern = dateLike
  private[text] def txnLikePattern: java.util.regex.Pattern = txnLike
  private[text] def currencyPattern: java.util.regex.Pattern = currency

  private def alnumRatio(text: String): Double = {
    if (text.isEmpty) return 0.0
    var n = 0; var i = 0
    while (i < text.length) { if (isPyAlnum(text.charAt(i))) n += 1; i += 1 }
    n.toDouble / math.max(text.length, 1)
  }

  private def printableRatio(text: String): Double = {
    if (text.isEmpty) return 0.0
    var n = 0; var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if ((c > 31 && c < 127) || c == '\n' || c == '\r' || c == '\t') n += 1
      i += 1
    }
    n.toDouble / math.max(text.length, 1)
  }

  private def bankStatementHits(text: String, lower: String,
      aligned: Boolean): Int =
    (if (hasW(lower, accountAlts, accountLike, text, aligned)) 1 else 0) +
      (if (hasCurrencyToken(lower) && countMatches(currency, text) >= 2) 1 else 0) +
      (if (hasDateShape(text) && countMatches(txnLike, text) >= 3) 1 else 0)

  private def kycHits(text: String, lower: String, aligned: Boolean): Int =
    (if (hasW(lower, nameAlts, nameWord, text, aligned)) 1 else 0) +
      (if (hasDateShape(text) && has(dateLike, text)) 1 else 0) +
      (if (hasW(lower, addressAlts, addressWord, text, aligned)) 1 else 0) +
      (if (hasW(lower, idAlts, idLike, text, aligned)) 1 else 0)

  private def receiptHits(text: String, lower: String,
      aligned: Boolean): Int =
    (if (hasW(lower, merchantAlts, merchantLike, text, aligned)) 1 else 0) +
      (if (hasDateShape(text) && has(dateLike, text)) 1 else 0) +
      (if (hasW(lower, totalAlts, totalLike, text, aligned)) 1 else 0) +
      (if (hasCurrencyToken(lower) && has(currency, text)) 1 else 0)

  def evaluate(rawText: String, documentType: String): QualityResult =
    evaluate(rawText, documentType, foldSafeHint = None)

  /** Variant with the caller-precomputed fold-safety verdict (one scan
    * per document across all keyword operators). Valid because
    * `pyStrip` only removes whitespace, which always lowercases 1:1 and
    * is never fold-divergent — foldSafe(raw) == foldSafe(stripped). */
  def evaluate(rawText: String, documentType: String,
      foldSafeHint: Option[Boolean]): QualityResult = {
    // Python str.strip() semantics (Unicode whitespace), see pyStrip
    val text = pyStrip(if (rawText == null) "" else rawText)
    if (text.isEmpty)
      return QualityResult(0.0, "UNUSABLE", Seq("EMPTY_TEXT"))

    val alnum = alnumRatio(text)
    val printable = printableRatio(text)
    val lengthScore = math.min(text.length / 700.0, 1.0)

    val baseScore = 0.35 * lengthScore + 0.35 * alnum + 0.30 * printable
    var score = math.min(math.max(baseScore, 0.0), 1.0)
    val reasons = scala.collection.mutable.ListBuffer.empty[String]

    val docType =
      (if (documentType == null) "other" else documentType).toLowerCase(java.util.Locale.ROOT).trim
    // doc-type signal bonuses, open_source_ocr_stack.py:119-147
    if (docType == "bank_statement" || docType == "loan_application" ||
        docType == "kyc_form" || docType == "receipt" || docType == "invoice") {
      val lower = text.toLowerCase(java.util.Locale.ROOT)
      // length check catches 1:2 lowercasing; hasFoldDivergent catches
      // same-length divergence (incl. U+212A Kelvin → 'k', which would
      // false-positive the probe copy vs these ASCII-CI patterns)
      val aligned = foldSafeHint.getOrElse(
        lower.length == text.length && !graft.text.hasFoldDivergent(text))
      if (docType == "bank_statement") {
        val hits = bankStatementHits(text, lower, aligned)
        if (hits < 2) reasons += "BANK_STATEMENT_SIGNALS_WEAK"
        score = math.min(1.0, score + 0.12 * hits)
      } else if (docType == "receipt" || docType == "invoice") {
        val hits = receiptHits(text, lower, aligned)
        if (hits < 2) reasons += "RECEIPT_SIGNALS_WEAK"
        score = math.min(1.0, score + 0.09 * hits)
      } else {
        val hits = kycHits(text, lower, aligned)
        if (hits < 2) reasons += "KYC_SIGNALS_WEAK"
        score = math.min(1.0, score + 0.10 * hits)
      }
    }

    if (printable < 0.85) reasons += "LOW_PRINTABLE_RATIO"
    if (alnum < 0.35) reasons += "LOW_ALNUM_RATIO"
    if (text.length < 30) reasons += "TEXT_TOO_SHORT"

    val classification =
      if (score >= 0.75) "GOOD"
      else if (score < 0.45) "UNUSABLE"
      else "PARTIAL"

    QualityResult(pyRound(score, 4), classification, reasons.toList)
  }
}
