package graft.text

import graft.model.{CardAnalysis, CardCandidate}

/** Document-type classification + card-number analysis.
  *
  * Ports `DocumentIntelligence` (/root/reference/ocr_service/modules/
  * document_intelligence.py) with identical keyword sets, thresholds and
  * confidence constants. BIN enrichment (network) is excluded — it is
  * disabled by default in the reference too (ocr_config.py:32).
  */
object CardIntel {

  private val MaxTypeConfidence = 0.95
  private val BasePersonalDocConfidence = 0.70
  private val KeywordScoreWeight = 0.05

  // keyword sets, document_intelligence.py:35-206
  private val CardKeywords = Set(
    "tarjeta", "card", "credito", "crédito", "debit", "débito", "visa",
    "mastercard", "amex", "diners", "cvv", "cvc", "exp", "venc")
  private val InvoiceKeywords = Set(
    "factura", "invoice", "subtotal", "iva", "ruc", "impuesto", "total")
  private val ReceiptKeywords = Set(
    "recibo", "receipt", "merchant", "store", "autorizacion",
    "autorización", "terminal")
  private val IdKeywords = Set(
    "dni", "cedula", "cédula", "pasaporte", "passport", "identidad", "id")
  private val PassportKeywords = Set(
    "passport", "pasaporte", "passeport", "reisepass", "mrz", "p<",
    "nationality", "nacionalidad", "place of birth")
  private val DriverLicenseKeywords = Set(
    "driving licence", "driver's license", "driver license",
    "licencia de conducir", "permis de conduire", "führerschein",
    "fuhrerschein", "driving", "categories", "vehicle")
  private val NationalIdKeywords = Set(
    "national id", "national identity", "cedula de identidad",
    "documento nacional", "numero de identificacion",
    "número de identificación", "identity card", "carte nationale",
    "personalausweis")
  private val TaxIdKeywords = Set(
    "tax id", "taxpayer", "nif", "cif", "rfc", "cpf", "cnpj", "tin", "vat",
    "fiscal", "tributario", "identification number")
  private val UtilityBillKeywords = Set(
    "utility", "electricity", "electric", "water", "gas", "internet",
    "phone bill", "kwh", "meter reading", "consumption", "lectura",
    "consumo", "servicio", "suministro")
  private val BankStatementKeywords = Set(
    "bank statement", "account statement", "estado de cuenta", "extracto",
    "balance", "transactions", "transacciones", "opening balance",
    "closing balance", "debit", "credit", "iban", "swift", "routing")
  private val PayslipKeywords = Set(
    "payslip", "pay stub", "salary", "salario", "nomina", "nómina",
    "payroll", "earnings", "deductions", "gross", "net pay", "employer",
    "employee id")
  private val EmploymentLetterKeywords = Set(
    "employment letter", "carta de empleo", "carta laboral",
    "to whom it may concern", "a quien corresponda", "employed",
    "employment", "position", "designation", "annual salary", "full time")
  private val ResidencePermitKeywords = Set(
    "residence permit", "permiso de residencia", "residency", "resident",
    "visa", "immigration", "foreign national", "valid for")
  private val MembershipCardKeywords = Set(
    "membership", "member", "club", "loyalty", "rewards", "points",
    "member since", "member id")

  // (?:\d[\s\-]*){11,19} — document_intelligence.py:25
  private val cardPattern = uPattern("(?:\\d[\\s\\-]*){11,19}")

  /** `_extract_card_candidates` — unique digit strings of length 11–19,
    * first-seen order. document_intelligence.py:307-321 */
  def extractCardCandidates(text: String): List[String] = {
    if (text == null) return Nil
    // necessary condition: the pattern consumes ≥11 `\d` chars — skip
    // the regex scan entirely on digit-poor text (identical results)
    if (digitCount(text) < 11) return Nil
    val m = cardPattern.matcher(text)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (m.find()) {
      val digits = digitsOnly(m.group())
      if (digits.length >= 11 && digits.length <= 19) seen += digits
    }
    seen.toList
  }

  /** `_mask_number` — keep last 4, group masked string in 4s.
    * document_intelligence.py:329-334 */
  def maskNumber(number: String): String = {
    if (number.length <= 4) return number
    val masked = "*" * (number.length - 4) + number.takeRight(4)
    groupIn4s(masked)
  }

  private def isMastercard(n: String): Boolean = {
    if (n.length != 16) return false
    val prefix2 = if (n.length >= 2) n.substring(0, 2).toInt else 0
    val prefix4 = if (n.length >= 4) n.substring(0, 4).toInt else 0
    (prefix2 >= 51 && prefix2 <= 55) || (prefix4 >= 2221 && prefix4 <= 2720)
  }

  private def isDiscover(n: String): Boolean = {
    if (n.startsWith("6011") || n.startsWith("65")) return true
    if (n.length >= 3) {
      val p3 = n.substring(0, 3).toInt
      if (p3 >= 644 && p3 <= 649) return true
    }
    n.length >= 6 && {
      val p6 = n.substring(0, 6).toInt
      p6 >= 622126 && p6 <= 622925
    }
  }

  private def isDiners(n: String): Boolean = {
    if (n.length != 14) return false
    if (n.length >= 3) {
      val p3 = n.substring(0, 3).toInt
      if (p3 >= 300 && p3 <= 305) return true
    }
    n.length >= 2 && Set("36", "38", "39").contains(n.substring(0, 2))
  }

  private def guessMinorBrand(n: String): String = {
    if (n.length >= 4) {
      val p4 = n.substring(0, 4).toInt
      if (p4 >= 3528 && p4 <= 3589) return "jcb"
    }
    if (n.startsWith("62")) "unionpay" else "unknown"
  }

  /** `guess_card_brand` — IIN prefix heuristic.
    * document_intelligence.py:357-366 */
  def guessCardBrand(n: String): String = {
    if (n.startsWith("4") && Set(13, 16, 19).contains(n.length)) return "visa"
    if (n.length == 15 && n.length >= 2 &&
        Set("34", "37").contains(n.substring(0, 2))) return "amex"
    if (isMastercard(n)) "mastercard"
    else if (isDiscover(n)) "discover"
    else if (isDiners(n)) "diners"
    else guessMinorBrand(n)
  }

  /** Card analysis struct — `analyze` card portion,
    * document_intelligence.py:275-297. */
  def cardAnalysis(text: String): CardAnalysis = {
    val rows = extractCardCandidates(text).map { number =>
      CardCandidate(
        masked = maskNumber(number),
        length = number.length,
        luhn_valid = Luhn.isValidCardNumber(number),
        brand_guess = guessCardBrand(number))
    }
    val luhnValidCount = rows.count(_.luhn_valid)
    CardAnalysis(
      detected = rows.nonEmpty,
      candidate_count = rows.size,
      luhn_valid_count = luhnValidCount,
      requires_manual_review = rows.nonEmpty && luhnValidCount == 0,
      candidates = rows)
  }

  /** Full analyze() result: (document_type, type_confidence, card_analysis).
    * document_intelligence.py:263-305 */
  def analyze(text: String, layoutType: String = "unknown")
      : (String, Double, CardAnalysis) = {
    val t = if (text == null) "" else text
    analyzeLower(t, t.toLowerCase(java.util.Locale.ROOT), layoutType)
  }

  /** analyze() with a caller-provided lowercase copy (hot path: the
    * extractor shares one lowercased text across all operators). */
  def analyzeLower(text: String, lower: String, layoutType: String)
      : (String, Double, CardAnalysis) = {
    val cards = cardAnalysis(text)
    val (docType, conf) = classifyLower(lower, layoutType, cards)
    (docType, conf, cards)
  }

  // One Aho-Corasick automaton over ALL keywords: presence semantics are
  // identical to the reference's per-keyword `in` scans
  // (document_intelligence.py:397-404) but need one text pass, not ~160.
  private val AllKeywordSets: List[Set[String]] = List(
    CardKeywords, InvoiceKeywords, ReceiptKeywords, IdKeywords,
    PassportKeywords, DriverLicenseKeywords, NationalIdKeywords,
    TaxIdKeywords, UtilityBillKeywords, BankStatementKeywords,
    PayslipKeywords, EmploymentLetterKeywords, ResidencePermitKeywords,
    MembershipCardKeywords)
  private val AllKeywords: IndexedSeq[String] =
    AllKeywordSets.flatten.distinct.toIndexedSeq
  private val KeywordId: Map[String, Int] = AllKeywords.zipWithIndex.toMap
  private val Matcher = AhoCorasick.build(AllKeywords)
  private val SetIds: Array[Array[Int]] =
    AllKeywordSets.map(_.map(KeywordId).toArray).toArray

  /** `_classify_document_type` — keyword-set scoring over 14 doc types.
    * document_intelligence.py:379-474 */
  def classifyDocumentType(
      text: String,
      layoutType: String,
      cards: CardAnalysis): (String, Double) =
    classifyLower((if (text == null) "" else text).toLowerCase(java.util.Locale.ROOT),
      layoutType, cards)

  def classifyLower(
      lower: String,
      layoutType: String,
      cards: CardAnalysis): (String, Double) = {
    val found = Matcher.matchedSet(lower)

    def scoreOf(setIdx: Int): Int = {
      val ids = SetIds(setIdx)
      var n = 0; var i = 0
      while (i < ids.length) { if (found(ids(i))) n += 1; i += 1 }
      n
    }

    val hasCardKeyword = scoreOf(0) > 0
    val hasInvoiceKeyword = scoreOf(1) > 0
    val hasReceiptKeyword = scoreOf(2) > 0
    val hasIdKeyword = scoreOf(3) > 0
    val hasValidCard = cards.candidates.exists(_.luhn_valid)
    val hasCardCandidates = cards.candidates.nonEmpty
    val maxCardLen =
      if (cards.candidates.isEmpty) 0 else cards.candidates.map(_.length).max

    // order matters: Python max() keeps the FIRST max on ties
    val personalCandidates: List[(String, Int)] = List(
      "passport" -> scoreOf(4),
      "driver_license" -> scoreOf(5),
      "national_id" -> scoreOf(6),
      "tax_id" -> scoreOf(7),
      "utility_bill" -> scoreOf(8),
      "bank_statement" -> scoreOf(9),
      "payslip" -> scoreOf(10),
      "employment_letter" -> scoreOf(11),
      "residence_permit" -> scoreOf(12),
      "membership_card" -> scoreOf(13))
    val (bestPersonalType, bestPersonalScore) =
      personalCandidates.maxBy(_._2) // first-max on ties, like Python max()

    if (bestPersonalScore >= 2) {
      val confidence = math.min(
        MaxTypeConfidence,
        BasePersonalDocConfidence + bestPersonalScore * KeywordScoreWeight)
      return (bestPersonalType, pyRound(confidence, 2))
    }
    if (hasInvoiceKeyword) return ("invoice", 0.90)
    if (hasReceiptKeyword) return ("receipt", 0.88)
    if (hasValidCard) return ("bank_card", 0.95)
    if (hasCardCandidates && (hasCardKeyword || maxCardLen >= 11))
      return ("bank_card", 0.80)

    classifyFallback(bestPersonalScore, bestPersonalType, hasIdKeyword, layoutType)
  }

  /** `_classify_fallback`, document_intelligence.py:454-474 */
  private def classifyFallback(
      bestPersonalScore: Int,
      bestPersonalType: String,
      hasIdKeyword: Boolean,
      layoutType: String): (String, Double) = {
    if (hasIdKeyword) {
      if (bestPersonalScore == 1) {
        val idTypes = Set("passport", "national_id", "driver_license")
        if (idTypes.contains(bestPersonalType)) (bestPersonalType, 0.65)
        else ("id_document", 0.60)
      } else ("id_document", 0.55)
    } else if (layoutType == "dense_text") ("statement", 0.60)
    else if (layoutType == "large_blocks") ("form", 0.55)
    else ("generic_document", 0.40)
  }
}
