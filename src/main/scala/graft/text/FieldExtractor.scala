package graft.text

import java.util.regex.Pattern
import graft.model.FieldRow

/** Personal-document field extraction.
  *
  * Ports `PersonalDocExtractor` + the FIELD_DEFINITIONS pattern tables
  * (/root/reference/ocr_service/modules/personal_doc_extractor.py:48-600)
  * with identical patterns, normalizers, validators and confidence rules.
  *
  * Determinism note: the reference's expiry validator calls
  * `datetime.date.today()` (personal_doc_extractor.py:397); here the run
  * year is injected (`runYear`) per SURVEY §2.3 T22.
  */
object FieldExtractor {

  /** Fixed default run year (no wall-clock in the kernel). */
  val DefaultRunYear = 2026

  private val F = Pattern.CASE_INSENSITIVE | Pattern.MULTILINE |
    Pattern.UNICODE_CASE | Pattern.UNICODE_CHARACTER_CLASS
  private def p(re: String): Pattern = Pattern.compile(re, F)

  /** A pattern plus a cheap necessary-condition prefilter: if none of the
    * lowercase `gates` literals occur in the (lowercased) text, the regex
    * CANNOT match and is skipped — pure pruning, identical results. Empty
    * gates = always run. `mrzRun` gates on a ≥30-char [A-Za-z0-9<] run
    * (necessary for the MRZ patterns) instead of a literal. `minDigitRun`
    * gates on the longest consecutive-digit run (a pattern containing
    * `\d{k}` cannot match text whose longest run is < k).
    *
    * `anchored = true` declares the stronger property that EVERY
    * alternative of the pattern BEGINS with one of the `gates` literals
    * (case-folded 1:1), so every match must start at a gate-literal
    * occurrence in the lowercased text. The matcher then only attempts
    * `lookingAt` at those positions (transparent bounds keep \b and
    * lookarounds exact) instead of crawling every position of the text —
    * identical results, verified by the anchored-vs-find parity fuzz in
    * FieldExtractorSpec and the corpus fingerprint. */
  final case class Gated(pattern: Pattern, gates: List[String] = Nil,
      mrzRun: Boolean = false, minDigitRun: Int = 0,
      anchored: Boolean = false) {
    val gatesArr: Array[String] = gates.toArray
  }

  private def hasMrzRun(text: String): Boolean = {
    var run = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      val in = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9') || c == '<'
      if (in) { run += 1; if (run >= 30) return true } else run = 0
      i += 1
    }
    false
  }

  private val DatePatterns = List(
    Gated(p("\\b(\\d{4}[-/]\\d{2}[-/]\\d{2})\\b"), minDigitRun = 4),
    Gated(p("\\b(\\d{1,2}[/.\\-]\\d{1,2}[/.\\-]\\d{2,4})\\b"), minDigitRun = 1),
    Gated(p("\\b(\\d{1,2}[/]\\d{1,2}[/]\\d{2,4})\\b"), minDigitRun = 1))

  private val DocNumberPatterns = List(
    Gated(p("\\b(?:DNI|NIE|NIF|ID|No\\.?|NUM\\.?|CÉDULA|CEDULA|DOC)[\\s:#]*([A-Z0-9?]{6,20})(?=[^A-Z0-9?]|$)"),
      List("dni", "nie", "nif", "id", "no", "num", "cédula", "cedula", "doc"),
      anchored = true),
    Gated(p("\\b([A-Z]{1,3}\\s?\\d{6,12})\\b"), minDigitRun = 6),
    Gated(p("\\b(\\d{7,12}[A-Z]?)\\b"), minDigitRun = 7))

  private val PassportNumberPatterns = List(
    Gated(p("\\b([A-Z]{1,2}\\d{6,8})\\b"), minDigitRun = 6),
    Gated(p("\\b([A-Z0-9]{8,9})\\b")))

  private val MrzPatterns = List(
    Gated(p("([A-Z0-9<]{30,44}\\n[A-Z0-9<]{30,44})"), mrzRun = true),
    Gated(p("([A-Z0-9<]{30,44})"), mrzRun = true))

  private val NamePatterns = List(
    Gated(p("(?:FULL\\s+NAME|NOMBRE\\s+COMPLETO)[:\\s]+([A-ZÁÉÍÓÚÜÑ][A-ZÁÉÍÓÚÜÑ\\s\\-']{4,60})"),
      List("full", "nombre"), anchored = true),
    Gated(p("P<[A-Z]{3}<([A-Z<]{5,44})"), List("p<"), anchored = true),
    Gated(p("(?:SURNAME|APELLIDOS?|LAST\\s+NAME|NOM)[:\\s]+([A-ZÁÉÍÓÚÜÑ][A-ZÁÉÍÓÚÜÑ\\s\\-']{2,50})"),
      List("surname", "apellido", "last", "nom"), anchored = true),
    Gated(p("(?:GIVEN\\s+NAMES?|NOMBRES?|FIRST\\s+NAME|PRÉNOM)[:\\s]+([A-ZÁÉÍÓÚÜÑ][A-ZÁÉÍÓÚÜÑ\\s\\-']{2,40})"),
      List("given", "nombre", "first", "prénom"), anchored = true))

  private val AddressPatterns = List(
    Gated(p("(?:ADDRESS|DIRECCIÓN|DOMICILIO|ADRESSE)[:\\s]+(.{10,100}?)(?:\\n|$)"),
      List("address", "dirección", "domicilio", "adresse"), anchored = true),
    Gated(p("(?:STREET|CALLE|RUE|STRASSE)[:\\s]+(.{5,80}?)(?:\\n|$)"),
      List("street", "calle", "rue", "strasse"), anchored = true))

  private val ExpiryPatterns = List(
    Gated(p("(?:EXPIRY|EXPIRATION|EXP\\.?|VENC\\.?|VÁLIDO\\s+HASTA|VALID\\s+(?:THRU|UNTIL))[:\\s/]+(\\d{1,2}[/.\\-]\\d{1,2}[/.\\-]\\d{2,4})"),
      List("exp", "venc", "válido", "valid"), anchored = true),
    Gated(p("(?:EXPIRY|EXP\\.?|EXPIRATION|VENC\\.?|VALID\\s+THRU)[:\\s/]+(\\d{1,2}[/.\\-]\\d{2,4})(?![/.\\-]\\d{2,4})"),
      List("exp", "venc", "valid"), anchored = true))

  private val NationalityPatterns = List(
    Gated(p("(?:NATIONALITY|NACIONALIDAD|NATIONALITÉ)[:\\s]+([A-Z]{2,3}|[A-Za-z]{4,20})"),
      List("nationali", "nacionalidad"), anchored = true))

  private val GenderPatterns = List(
    Gated(p("(?:SEX|SEXO|GENRE|GESCHLECHT)[:\\s]+([MFX])"),
      List("sex", "genre", "geschlecht"), anchored = true),
    Gated(p("\\b(MALE|FEMALE|MASCULINO|FEMENINO)\\b"),
      List("male", "female", "masculino", "femenino"), anchored = true))

  private val TaxNumberPatterns = List(
    Gated(p("(?:NIF|NIE|RFC|CPF|CNPJ|TIN|VAT|TAX\\s+ID)[:\\s#]*([A-Z0-9\\-\\.]{6,20})"),
      List("nif", "nie", "rfc", "cpf", "cnpj", "tin", "vat", "tax"),
      anchored = true),
    Gated(p("\\b(\\d{3}[.\\-]\\d{3}[.\\-]\\d{3}[.\\-]\\d{1,2})\\b"), minDigitRun = 3),
    Gated(p("\\b([A-Z]{4}\\d{6}[A-Z0-9]{3})\\b"), minDigitRun = 6))

  private val PanPatterns = List(
    Gated(p("\\b(\\d{4}[\\s\\-]?\\d{4}[\\s\\-]?\\d{4}[\\s\\-]?\\d{4})\\b"), minDigitRun = 4),
    Gated(p("\\b(\\d{4}[\\s\\-]?\\d{6}[\\s\\-]?\\d{5})\\b"), minDigitRun = 4))

  private val CvvPatterns = List(
    Gated(p("(?:CVV|CVC|CVV2|CVC2|CSC)[:\\s]+(\\d{3,4})"),
      List("cvv", "cvc", "csc"), anchored = true))

  private val AccountNumberPatterns = List(
    Gated(p("(?:ACCOUNT\\s+(?:NUMBER|NO\\.?)|CUENTA|IBAN|NUMÉRO\\s+DE\\s+COMPTE)[:\\s#]*([A-Z0-9\\s\\-]{8,34})"),
      List("account", "cuenta", "iban", "numéro"), anchored = true),
    Gated(p("\\b(IBAN[\\s:]+[A-Z]{2}\\d{2}[A-Z0-9\\s]{11,29})\\b"),
      List("iban"), anchored = true))

  private val EmployerPatterns = List(
    Gated(p("(?:EMPLOYER|EMPRESA|COMPANY|EMPLOYEUR)[:\\s]+(.{3,60}?)(?:\\n|$)"),
      List("employer", "empresa", "company", "employeur"), anchored = true))

  private val SalaryPatterns = List(
    Gated(p("(?:SALARY|SALARIO|GROSS\\s+PAY|NET\\s+PAY|SALAIRE)[:\\s]+([£$€\\d,\\.\\s]+)"),
      List("salar", "salaire", "gross", "net"), anchored = true),
    Gated(p("(?:TOTAL\\s+EARNINGS|TOTAL\\s+SALARIO)[:\\s]+([£$€\\d,\\.\\s]+)"),
      List("total"), anchored = true))

  private val PeriodPatterns = List(
    Gated(p("(?:PAY\\s+PERIOD|PERIODO|PERIOD|FOR\\s+THE\\s+MONTH\\s+OF)[:\\s]+(.{3,40}?)(?:\\n|$)"),
      List("period", "month", "pay", "for"), anchored = true),
    Gated(p("(?:STATEMENT\\s+PERIOD|FROM|DESDE)[:\\s]+(\\d{1,2}[/.\\-]\\d{1,2}[/.\\-]\\d{2,4})"),
      List("statement", "from", "desde"), anchored = true))

  private val TotalPatterns = List(
    Gated(p("(?:TOTAL\\s+AMOUNT|TOTAL|IMPORTE\\s+TOTAL|MONTANT\\s+TOTAL)[:\\s]+([£$€\\d,\\.\\s]+)"),
      List("total", "importe", "montant"), anchored = true),
    Gated(p("(?:AMOUNT\\s+DUE|SALDO\\s+TOTAL|BALANCE\\s+DUE)[:\\s]+([£$€\\d,\\.\\s]+)"),
      List("amount", "saldo", "balance"), anchored = true))

  private val OpeningBalancePatterns = List(
    Gated(p("(?:OPENING\\s+BALANCE|SALDO\\s+INICIAL|SOLDE\\s+INITIAL|ANFANGSSALDO)[:\\s]+([£$€\\d,\\.\\s]+)"),
      List("opening", "saldo", "solde", "anfangssaldo"), anchored = true),
    Gated(p("(?:BALANCE\\s+BROUGHT\\s+FORWARD|B/F)[:\\s]+([£$€\\d,\\.\\s]+)"),
      List("balance", "b/f"), anchored = true))

  private val ClosingBalancePatterns = List(
    Gated(p("(?:CLOSING\\s+BALANCE|SALDO\\s+FINAL|SOLDE\\s+FINAL|ENDSALDO)[:\\s]+([£$€\\d,\\.\\s]+)"),
      List("closing", "saldo", "solde", "endsaldo"), anchored = true),
    Gated(p("(?:BALANCE\\s+CARRIED\\s+FORWARD|C/F|FINAL\\s+BALANCE)[:\\s]+([£$€\\d,\\.\\s]+)"),
      List("balance", "c/f"), anchored = true))

  private val VatPatterns = List(
    Gated(p("(?:VAT|IVA|TVA|TAX\\s+AMOUNT|MWST)[:\\s]+([£$€\\d,\\.\\s%]+)"),
      List("vat", "iva", "tva", "tax", "mwst"), anchored = true),
    Gated(p("(?:VALUE\\s+ADDED\\s+TAX)[:\\s]+([£$€\\d,\\.\\s]+)"),
      List("value"), anchored = true))

  private val IssueDatePatterns = List(
    Gated(p("(?:ISSUE\\s+DATE|DATE\\s+OF\\s+ISSUE|ISSUED|EMISSION\\s+DATE|FECHA\\s+DE\\s+EMISI[OÓ]N)[:\\s]+(\\d{1,2}[/.\\-]\\d{1,2}[/.\\-]\\d{2,4})"),
      List("issue", "emission", "emisi", "date", "fecha"), anchored = true),
    Gated(p("(?:DATE\\s+ISSUED|FECHA\\s+DE\\s+EXPEDICI[OÓ]N)[:\\s]+(\\d{1,2}[/.\\-]\\d{1,2}[/.\\-]\\d{2,4})"),
      List("issued", "expedici", "date", "fecha"), anchored = true))

  private val PlaceOfBirthPatterns = List(
    Gated(p("(?:PLACE\\s+OF\\s+BIRTH|LIEU\\s+DE\\s+NAISSANCE|LUGAR\\s+DE\\s+NACIMIENTO|LUOGO\\s+DI\\s+NASCITA|GEBURTSORT)[:\\s]+([A-ZÁÉÍÓÚÜÑ][A-ZÁÉÍÓÚÜÑA-Za-z\\s\\-,]{2,50})"),
      List("birth", "naissance", "nacimiento", "nascita", "geburtsort",
        "place", "lieu", "lugar", "luogo"), anchored = true),
    Gated(p("(?:POB|NACIDO\\s+EN|BORN\\s+IN)[:\\s]+([A-ZÁÉÍÓÚÜÑ][A-ZÁÉÍÓÚÜÑA-Za-z\\s\\-,]{2,50})"),
      List("pob", "nacido", "born"), anchored = true))

  final case class FieldDef(
      name: String,
      patterns: List[Gated],
      sensitive: Boolean,
      baseConfidence: String)

  private val idDocumentDefs = List(
    FieldDef("full_name", NamePatterns, false, "medium"),
    FieldDef("date_of_birth", DatePatterns, false, "high"),
    FieldDef("document_number", DocNumberPatterns, false, "medium"),
    FieldDef("expiry_date", ExpiryPatterns, false, "high"),
    FieldDef("nationality", NationalityPatterns, false, "high"),
    FieldDef("gender", GenderPatterns, false, "high"),
    FieldDef("address", AddressPatterns, false, "low"),
    FieldDef("place_of_birth", PlaceOfBirthPatterns, false, "medium"))

  val FieldDefinitions: Map[String, List[FieldDef]] = {
    val base = Map(
      "id_document" -> idDocumentDefs,
      "national_id" -> idDocumentDefs,
      "passport" -> List(
        FieldDef("full_name", NamePatterns, false, "medium"),
        FieldDef("date_of_birth", DatePatterns, false, "high"),
        FieldDef("document_number", PassportNumberPatterns, false, "high"),
        FieldDef("expiry_date", ExpiryPatterns, false, "high"),
        FieldDef("nationality", NationalityPatterns, false, "high"),
        FieldDef("gender", GenderPatterns, false, "high"),
        FieldDef("mrz_data", MrzPatterns, false, "medium"),
        FieldDef("place_of_birth", PlaceOfBirthPatterns, false, "medium")),
      "driver_license" -> List(
        FieldDef("full_name", NamePatterns, false, "medium"),
        FieldDef("date_of_birth", DatePatterns, false, "high"),
        FieldDef("document_number", DocNumberPatterns, false, "medium"),
        FieldDef("expiry_date", ExpiryPatterns, false, "high"),
        FieldDef("address", AddressPatterns, false, "low")),
      "tax_id" -> List(
        FieldDef("full_name", NamePatterns, false, "medium"),
        FieldDef("tax_number", TaxNumberPatterns, false, "high"),
        FieldDef("date_of_birth", DatePatterns, false, "medium"),
        FieldDef("address", AddressPatterns, false, "low")),
      "bank_card" -> List(
        FieldDef("card_number", PanPatterns, true, "high"),
        FieldDef("expiry_date", ExpiryPatterns, false, "high"),
        FieldDef("cvv", CvvPatterns, true, "high"),
        FieldDef("cardholder_name", NamePatterns, false, "medium")),
      "utility_bill" -> List(
        FieldDef("full_name", NamePatterns, false, "medium"),
        FieldDef("address", AddressPatterns, false, "medium"),
        FieldDef("account_number", AccountNumberPatterns, false, "medium"),
        FieldDef("period", PeriodPatterns, false, "high"),
        FieldDef("total_amount", TotalPatterns, false, "high")),
      "bank_statement" -> List(
        FieldDef("full_name", NamePatterns, false, "medium"),
        FieldDef("address", AddressPatterns, false, "medium"),
        FieldDef("account_number", AccountNumberPatterns, false, "medium"),
        FieldDef("period", PeriodPatterns, false, "high"),
        FieldDef("opening_balance", OpeningBalancePatterns, false, "medium"),
        FieldDef("closing_balance", ClosingBalancePatterns, false, "medium"),
        FieldDef("total_amount", TotalPatterns, false, "medium")),
      "statement" -> List(
        FieldDef("full_name", NamePatterns, false, "medium"),
        FieldDef("account_number", AccountNumberPatterns, false, "medium"),
        FieldDef("period", PeriodPatterns, false, "high"),
        FieldDef("total_amount", TotalPatterns, false, "medium")),
      "payslip" -> List(
        FieldDef("full_name", NamePatterns, false, "medium"),
        FieldDef("employer", EmployerPatterns, false, "medium"),
        FieldDef("salary", SalaryPatterns, false, "high"),
        FieldDef("period", PeriodPatterns, false, "high")),
      "employment_letter" -> List(
        FieldDef("full_name", NamePatterns, false, "medium"),
        FieldDef("employer", EmployerPatterns, false, "medium"),
        FieldDef("salary", SalaryPatterns, false, "low")),
      "residence_permit" -> List(
        FieldDef("full_name", NamePatterns, false, "medium"),
        FieldDef("date_of_birth", DatePatterns, false, "high"),
        FieldDef("document_number", DocNumberPatterns, false, "medium"),
        FieldDef("expiry_date", ExpiryPatterns, false, "high"),
        FieldDef("nationality", NationalityPatterns, false, "high")),
      "membership_card" -> List(
        FieldDef("full_name", NamePatterns, false, "medium"),
        FieldDef("document_number", DocNumberPatterns, false, "medium"),
        FieldDef("expiry_date", ExpiryPatterns, false, "high")),
      "invoice" -> List(
        FieldDef("full_name", NamePatterns, false, "low"),
        FieldDef("total_amount", TotalPatterns, false, "high"),
        FieldDef("account_number", AccountNumberPatterns, false, "medium"),
        FieldDef("period", PeriodPatterns, false, "medium"),
        FieldDef("vat_amount", VatPatterns, false, "medium"),
        FieldDef("issue_date", IssueDatePatterns, false, "medium")),
      "receipt" -> List(
        FieldDef("total_amount", TotalPatterns, false, "high")))
    // aliases, personal_doc_extractor.py:283-289
    base ++ Map(
      "id_card" -> base("national_id"),
      "credit_card" -> base("bank_card"),
      "debit_card" -> base("bank_card"))
  }

  private val GenericDocTypes =
    Set("generic", "generic_document", "form", "unknown")
  private val SensitiveFields =
    Set("card_number", "cvv", "pan", "cvc", "cvv2", "cvc2")
  private val OmitFromResponse = Set("cvv", "cvc", "cvv2", "cvc2")

  // ------------------------------------------------------------------
  // normalizers, personal_doc_extractor.py:429-453

  private val ltRun = uPattern("<+")
  private def normalizeFullName(v: String): String =
    collapseWs(ltRun.matcher(v).replaceAll(" ")).toUpperCase(java.util.Locale.ROOT).trim

  private val nonMrzChar = uPattern("[^\\w<\\n]")
  private def normalizeMrz(v: String): String =
    nonMrzChar.matcher(v).replaceAll("").trim

  private val GenderMap =
    Map("MALE" -> "M", "FEMALE" -> "F", "MASCULINO" -> "M", "FEMENINO" -> "F")
  private def normalizeGender(v: String): String =
    GenderMap.getOrElse(v.toUpperCase(java.util.Locale.ROOT),
      if (v.isEmpty) "" else v.toUpperCase(java.util.Locale.ROOT).substring(0, 1))

  private val dateSeps = uPattern("[./]")

  /** `_normalize`, personal_doc_extractor.py:570-581 */
  def normalize(fieldName: String, raw: String): String = {
    var value = raw.trim
    if (fieldName.contains("date") || fieldName == "expiry_date")
      value = dateSeps.matcher(value).replaceAll("-")
    fieldName match {
      case "full_name" => normalizeFullName(value)
      case "mrz_data" => normalizeMrz(value)
      case "nationality" => value.toUpperCase(java.util.Locale.ROOT).trim
      case "gender" => normalizeGender(value)
      case _ => value
    }
  }

  /** `_adjust_confidence`, personal_doc_extractor.py:583-600 */
  def adjustConfidence(base: String, raw: String, normalized: String): String = {
    if (raw.contains('?')) return "low"
    val suspicious = raw.count(c => c == '!' || c == '|')
    if (suspicious >= 2) return "low"
    if (raw != normalized && base == "high") return "medium"
    base
  }

  // ------------------------------------------------------------------
  // validators, personal_doc_extractor.py:335-426

  private val panCharset = uPattern("[0-9\\s\\-]+")

  /** `_validate_pan` → (confidenceOverride, note). */
  def validatePan(raw: String): (Option[String], Option[String]) = {
    if (!panCharset.matcher(raw).matches())
      return (Some("low"), Some(
        "card_number contains invalid characters (only digits, spaces, and " +
          "hyphens are allowed); value likely misread"))
    val digits = digitsOnly(raw)
    if (digits.isEmpty)
      return (Some("low"), Some(
        "card_number does not contain any digits; value likely misread"))
    if (digits.length < 13 || digits.length > 19)
      return (Some("low"), Some(
        s"card_number digit count (${digits.length}) is outside expected " +
          "range 13-19; verify manually"))
    if (Luhn.isValidCardNumber(digits))
      (Some("high"), Some("Luhn check passed; confidence boosted to high"))
    else
      (Some("low"),
        Some("Luhn check failed; card number likely misread – verify manually"))
  }

  private val InvalidMonthMsg =
    "Expiry date has invalid month (must be 01-12); verify manually"

  private def checkExpiryMonthYear(month: Int, year: Int, cutoffYear: Int,
      fmt: String): (Option[String], Option[String]) = {
    if (month < 1 || month > 12) (Some("low"), Some(InvalidMonthMsg))
    else if (year >= cutoffYear)
      (Some("high"), Some(s"Expiry date format valid ($fmt)"))
    else (None, None)
  }

  private val mmYy = uPattern("^(\\d{1,2})-(\\d{2})$")
  private val mmYyyy = uPattern("^(\\d{1,2})-(\\d{4})$")
  private val ddMmY = uPattern("^(\\d{1,2})-(\\d{1,2})-(\\d{2,4})$")

  /** `_validate_expiry_date` with injected run year (determinism). */
  def validateExpiryDate(value: String, runYear: Int)
      : (Option[String], Option[String]) = {
    val cutoffYear = runYear - 10
    val m1 = mmYy.matcher(value)
    if (m1.matches())
      return checkExpiryMonthYear(
        m1.group(1).toInt, 2000 + m1.group(2).toInt, cutoffYear, "MM/YY")
    val m2 = mmYyyy.matcher(value)
    if (m2.matches())
      return checkExpiryMonthYear(
        m2.group(1).toInt, m2.group(2).toInt, cutoffYear, "MM/YYYY")
    val m3 = ddMmY.matcher(value)
    if (m3.matches()) {
      val day = m3.group(1).toInt
      if (day < 1 || day > 31)
        return (Some("low"),
          Some("Expiry date has invalid day (must be 01-31); verify manually"))
      val ys = m3.group(3)
      val year = if (ys.length == 4) ys.toInt else 2000 + ys.toInt
      return checkExpiryMonthYear(m3.group(2).toInt, year, cutoffYear, "DD/MM/YYYY")
    }
    (None, None)
  }

  /** `_mask_pan`, personal_doc_extractor.py:319-327 */
  def maskPan(value: String): String = {
    val digits = digitsOnly(value)
    if (digits.length <= 4) return value
    groupIn4s("*" * (digits.length - 4) + digits.takeRight(4))
  }

  /** `_try_patterns`, personal_doc_extractor.py:559-568 — with the Gated
    * literal prefilter (skips regexes that cannot match; identical
    * results, far fewer full-text scans). */
  def tryPatterns(text: String, patterns: List[Gated]): Option[String] =
    tryPatternsLower(text, text.toLowerCase(java.util.Locale.ROOT), patterns)

  def tryPatternsLower(text: String, lower: String,
      patterns: List[Gated]): Option[String] =
    tryPatternsLower(text, lower, patterns, graft.text.maxDigitRun(text))

  /** Leftmost match by probing ONLY gate-literal positions (see
    * [[Gated]] `anchored`). Transparent bounds make \b and lookbehinds
    * see the full text; anchoring bounds stay default so `$` still
    * matches at the true end of input (every region ends there). */
  private def findAnchored(text: String, lower: String,
      g: Gated): Option[String] = {
    val m = g.pattern.matcher(text)
    m.useTransparentBounds(true)
    val gates = g.gatesArr
    val next = new Array[Int](gates.length)
    var i = 0
    while (i < gates.length) { next(i) = lower.indexOf(gates(i)); i += 1 }
    while (true) {
      var p = Int.MaxValue
      i = 0
      while (i < gates.length) {
        val n = next(i)
        if (n >= 0 && n < p) p = n
        i += 1
      }
      if (p == Int.MaxValue) return None
      m.region(p, text.length)
      if (m.lookingAt()) {
        val v =
          if (m.groupCount() >= 1 && m.group(1) != null) m.group(1)
          else m.group()
        return Some(v.trim)
      }
      i = 0
      while (i < gates.length) {
        if (next(i) == p) next(i) = lower.indexOf(gates(i), p + 1)
        i += 1
      }
    }
    None // unreachable
  }

  /** Reference scan with anchoring disabled — the parity-fuzz baseline
    * (FieldExtractorSpec asserts it equals the anchored path on
    * adversarial inputs). */
  private[text] def tryPatternsNoAnchor(text: String, lower: String,
      patterns: List[Gated]): Option[String] =
    tryPatternsLower(text, lower, patterns.map(_.copy(anchored = false)),
      graft.text.maxDigitRun(text))

  /** Variant with the caller-precomputed longest digit run (one pass per
    * document instead of one per pattern list). */
  def tryPatternsLower(text: String, lower: String,
      patterns: List[Gated], textMaxDigitRun: Int): Option[String] =
    tryPatternsLower(text, lower, patterns, textMaxDigitRun,
      lower.length == text.length && !graft.text.hasFoldDivergent(text))

  /** Variant with the caller-precomputed fold-safety verdict (one scan
    * per document instead of one per pattern list). */
  def tryPatternsLower(text: String, lower: String, patterns: List[Gated],
      textMaxDigitRun: Int, foldSafe: Boolean): Option[String] = {
    // positional anchoring needs index alignment between text and its
    // lowercase copy: rare chars (e.g. U+0130) lowercase to TWO chars —
    // the length check catches those — and U+0131/U+017F/U+212A fold
    // divergently at the SAME length (see graft.text.isFoldDivergent),
    // which the caller's hasFoldDivergent scan catches
    val aligned = foldSafe
    patterns.foreach { g =>
      if (g.anchored && aligned && g.minDigitRun == 0 && !g.mrzRun) {
        findAnchored(text, lower, g) match {
          case some @ Some(_) => return some
          case None => // next pattern
        }
      } else {
        // literal gates probe the lowercase copy, so they only prune
        // when it is aligned; otherwise the regex itself decides
        val gateOk =
          (g.minDigitRun == 0 || textMaxDigitRun >= g.minDigitRun) &&
          (if (g.mrzRun) hasMrzRun(text)
           else !aligned || g.gates.isEmpty || g.gates.exists(lower.contains))
        if (gateOk) {
          val m = g.pattern.matcher(text)
          if (m.find()) {
            val v =
              if (m.groupCount() >= 1 && m.group(1) != null) m.group(1)
              else m.group()
            return Some(v.trim)
          }
        }
      }
    }
    None
  }

  private def buildField(
      fieldName: String,
      rawValue: String,
      isSensitive: Boolean,
      baseConfidence: String,
      runYear: Int): (FieldRow, List[String]) = {
    val fieldWarnings = scala.collection.mutable.ListBuffer.empty[String]
    val normalized = normalize(fieldName, rawValue)
    var confidence = adjustConfidence(baseConfidence, rawValue, normalized)

    var validatorNote: Option[String] = None
    val validatorResult: Option[(Option[String], Option[String])] =
      fieldName match {
        case "card_number" => Some(validatePan(rawValue))
        case "expiry_date" => Some(validateExpiryDate(normalized, runYear))
        case _ => None
      }
    validatorResult.foreach { case (confOverride, note) =>
      confOverride.foreach(confidence = _)
      validatorNote = note
      note.foreach(fieldWarnings += _)
    }

    val displayValue =
      if (isSensitive || SensitiveFields.contains(fieldName)) maskPan(normalized)
      else normalized

    val row = FieldRow(
      name = fieldName,
      value = displayValue,
      raw_ocr = if (isSensitive) "[REDACTED]" else rawValue,
      confidence_level = confidence)

    if (confidence == "low" && validatorNote.isEmpty)
      fieldWarnings += s"$fieldName extracted with low confidence; verify manually"
    else if (confidence == "medium" && normalized != rawValue)
      fieldWarnings +=
        s"$fieldName partially reconstructed from OCR output; verify manually"

    (row, fieldWarnings.toList)
  }

  /** `extract` — (fields, warnings) for a document type.
    * personal_doc_extractor.py:470-508 */
  def extract(text: String, documentType: String,
      runYear: Int = DefaultRunYear): (List[FieldRow], List[String]) =
    extractLower(text, text.toLowerCase(java.util.Locale.ROOT), documentType, runYear)

  /** extract() with a caller-provided lowercase copy. */
  def extractLower(text: String, lower: String, documentType: String,
      runYear: Int = DefaultRunYear): (List[FieldRow], List[String]) =
    extractLower(text, lower, documentType, runYear,
      lower.length == text.length && !graft.text.hasFoldDivergent(text))

  /** extractLower() with the caller-precomputed fold-safety verdict. */
  def extractLower(text: String, lower: String, documentType: String,
      runYear: Int, foldSafe: Boolean): (List[FieldRow], List[String]) = {
    if (GenericDocTypes.contains(documentType)) return (Nil, Nil)
    val definitions =
      FieldDefinitions.getOrElse(documentType, FieldDefinitions("id_document"))

    val runLen = graft.text.maxDigitRun(text)
    val fields = List.newBuilder[FieldRow]
    val warnings = List.newBuilder[String]
    definitions.foreach { d =>
      if (!OmitFromResponse.contains(d.name)) {
        tryPatternsLower(text, lower, d.patterns, runLen, foldSafe).foreach { raw =>
          val (row, w) = buildField(d.name, raw, d.sensitive, d.baseConfidence, runYear)
          fields += row
          warnings ++= w
        }
      }
    }
    (fields.result(), warnings.result())
  }
}
