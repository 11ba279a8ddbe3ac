package graft.text

import java.util.regex.Pattern

/** Language/country hinting from text cues.
  *
  * Ports `_LANG_HINTS` / `_detect_language_and_country` / `detect_metadata`
  * (/root/reference/ocr_service/modules/personal_doc_extractor.py:297-316,
  * :603-609): first matching hint wins; default ("en", "").
  */
object LangHints {

  private val F = Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE |
    Pattern.UNICODE_CHARACTER_CLASS
  private def p(re: String) = Pattern.compile(re, F)

  // Each hint is a word-literal alternation: evaluated exactly by
  // WordAlts over the aligned lowercase copy (indexOf probes instead of
  // a full regex scan per hint — the regex stays as the misalignment
  // fallback and the fuzz-parity reference). First matching hint wins.
  private[text] val Hints: List[(Pattern, Array[Array[String]], String, String)] = List(
    (p("\\b(cpf|cnpj|rg)\\b"), WordAlts.phrases("cpf|cnpj|rg"), "pt", "BR"),
    (p("\\b(rfc|curp|ine)\\b"), WordAlts.phrases("rfc|curp|ine"), "es", "MX"),
    (p("\\b(dni|nie)\\b"), WordAlts.phrases("dni|nie"), "es", "ES"),
    (p("\\b(ced[uú]la)\\b"), WordAlts.phrases("cedula|cedúla"), "es", "CO"),
    (p("\\b(apellido|nombre|fecha|número)\\b"),
      WordAlts.phrases("apellido|nombre|fecha|número"), "es", ""),
    (p("\\b(nom|prénom|date\\s+de\\s+naissance)\\b"),
      WordAlts.phrases("nom|prénom|date de naissance"), "fr", "FR"),
    (p("\\b(vorname|nachname|geburtsdatum)\\b"),
      WordAlts.phrases("vorname|nachname|geburtsdatum"), "de", "DE"),
    (p("\\b(nome|data\\s+di\\s+nascita)\\b"),
      WordAlts.phrases("nome|data di nascita"), "it", "IT"),
    (p("\\b(national\\s+insurance|ni\\s+number)\\b"),
      WordAlts.phrases("national insurance|ni number"), "en", "GB"),
    (p("\\b(social\\s+security|ssn)\\b"),
      WordAlts.phrases("social security|ssn"), "en", "US"))

  /** Returns (language_code, country_code); country may be "". */
  def detect(text: String): (String, String) = {
    val t = if (text == null) "" else text
    detectLower(t, t.toLowerCase(java.util.Locale.ROOT))
  }

  /** detect() with a caller-provided lowercase copy. */
  def detectLower(t: String, lower: String): (String, String) =
    // length check catches 1:2 lowercasing (U+0130); hasFoldDivergent
    // catches same-length fold divergence (U+0131/U+017F/U+212A) that
    // would make the indexOf probe disagree with the Pattern
    detectLower(t, lower,
      lower.length == t.length && !graft.text.hasFoldDivergent(t))

  /** Variant with the caller-precomputed fold-safety verdict. */
  def detectLower(t: String, lower: String,
      foldSafe: Boolean): (String, String) = {
    val aligned = foldSafe
    Hints.collectFirst {
      case (pat, alts, lang, country)
          if (if (aligned) WordAlts.has(lower, alts)
              else pat.matcher(t).find()) =>
        (lang, country)
    }.getOrElse(("en", ""))
  }
}
