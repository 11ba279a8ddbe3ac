package graft.text

import org.scalatest.funsuite.AnyFunSuite
import graft.model.FieldRow

/** Confidence (confidence.py), Quality (open_source_ocr_stack.py:61-205),
  * Readiness (test_decision_readiness.py:16-70), CardScore (ocr_engine.py). */
class ScoringSpec extends AnyFunSuite {

  // ---- Confidence (C1) ----
  test("confidence empty → 0") {
    assert(Confidence.calculate("") == 0.0)
    assert(Confidence.calculate("   ") == 0.0)
    assert(Confidence.calculate(null) == 0.0)
  }

  test("confidence grows with markers and words, bounded markers") {
    val base = Confidence.calculate("hello world this is a normal sentence " +
      "with several proper words inside of it here")
    val marked = Confidence.calculate("invoice date total name id tax " +
      "hello world this is a normal sentence with several proper words")
    assert(marked > base)
  }

  test("confidence 2-dp rounding") {
    val c = Confidence.calculate("Invoice date: total amount due for payment " +
      "by the customer name registered identifier")
    assert((c * 100).round / 100.0 == c)
  }

  // ---- Quality (C4) ----
  test("quality empty text UNUSABLE") {
    val q = Quality.evaluate("", "other")
    assert(q.quality_score == 0.0)
    assert(q.classification == "UNUSABLE")
    assert(q.reasons == Seq("EMPTY_TEXT"))
  }

  test("quality long clean text GOOD") {
    val text = ("Account statement for customer. " * 30).trim
    val q = Quality.evaluate(text, "other")
    assert(q.classification == "GOOD")
    assert(q.quality_score >= 0.75)
  }

  test("quality short text has TEXT_TOO_SHORT reason") {
    val q = Quality.evaluate("hi there", "other")
    assert(q.reasons.contains("TEXT_TOO_SHORT"))
  }

  test("quality bank_statement bonus applies") {
    val text = "account 12345678\n01/02/2024 coffee $4.50\n" +
      "02/02/2024 rent $800.00\n03/02/2024 salary $2,000.00\nUSD 100 USD 200"
    val weak = Quality.evaluate(text, "other")
    val boosted = Quality.evaluate(text, "bank_statement")
    assert(boosted.quality_score > weak.quality_score)
    assert(!boosted.reasons.contains("BANK_STATEMENT_SIGNALS_WEAK"))
  }

  test("quality receipt weak signals flagged") {
    val q = Quality.evaluate("just some text without any receipt signals at all",
      "receipt")
    assert(q.reasons.contains("RECEIPT_SIGNALS_WEAK"))
  }

  // ---- Readiness (C5/C6) ----
  private def f(name: String, conf: String = "high") =
    FieldRow(name, "value", "value", conf)

  test("passport all fields high confidence → ready") {
    val fields = Readiness.MandatoryFields("passport").map(f(_))
    val r = Readiness.compute("passport", fields, 0.90)
    assert(r.ready)
    assert(r.score >= 0.70)
    assert(r.missing_mandatory.isEmpty)
  }

  test("passport missing fields → not ready") {
    val r = Readiness.compute("passport",
      List(f("full_name"), f("date_of_birth")), 0.40)
    assert(!r.ready)
    assert(r.missing_mandatory.contains("document_number"))
    assert(r.missing_mandatory.contains("expiry_date"))
  }

  test("all low confidence → score < 0.70") {
    val fields = Readiness.MandatoryFields("passport").map(f(_, "low"))
    val r = Readiness.compute("passport", fields, 0.50)
    assert(r.score < 0.70)
    assert(!r.ready)
  }

  test("unknown document type") {
    val r = Readiness.compute("alien_form", Nil, 0.50)
    assert(!r.ready)
    assert(r.recommendation.toLowerCase.contains("unknown document type"))
  }

  test("bank card readiness") {
    val r = Readiness.compute("bank_card",
      List(f("card_number"), f("expiry_date")), 0.85)
    assert(r.ready)
    assert(r.missing_mandatory.isEmpty)
  }

  test("score bounded 0..1") {
    val fields = Readiness.MandatoryFields("passport").map(f(_))
    val r = Readiness.compute("passport", fields, 1.0)
    assert(r.score >= 0.0 && r.score <= 1.0)
  }

  test("quality bands") {
    assert(Readiness.qualityBand(0.86) == "excellent")
    assert(Readiness.qualityBand(0.85) == "excellent")
    assert(Readiness.qualityBand(0.65) == "good")
    assert(Readiness.qualityBand(0.40) == "fair")
    assert(Readiness.qualityBand(0.39) == "poor")
  }

  // ---- CardScore (T3-T8) ----
  test("score prefers luhn-valid text") {
    val valid = CardScore.scoreCardText("4111 1111 1111 1111")
    val invalid = CardScore.scoreCardText("4111 1111 1111 1112")
    assert(CardScore.Score.ordering.gt(valid, invalid))
  }

  test("suspicious partial zero tail detected") {
    assert(CardScore.hasSuspiciousPartialZeroTail("4048 3700 0450"))
    assert(!CardScore.hasSuspiciousPartialZeroTail("4111 1111 1111 1111"))
    assert(!CardScore.hasSuspiciousPartialZeroTail("4048 3700 0451"))
  }

  test("markUncertainPartialCardTail replaces trailing 0 with ?") {
    assert(CardScore.markUncertainPartialCardTail("4048 3700 0450") ==
      "4048 3700 045?")
    assert(CardScore.markUncertainPartialCardTail("4111 1111 1111 1111") ==
      "4111 1111 1111 1111")
  }

  test("trimSpuriousTrailingZeroVariant drops one zero keeping grouping") {
    val v = CardScore.trimSpuriousTrailingZeroVariant("4048 3700 0450")
    assert(v == "4048 3700 045")
    assert(CardScore.trimSpuriousTrailingZeroVariant("4111 1111 1111 1111") == "")
  }

  test("formatDigitsLikeBase preserves base grouping when lengths match") {
    assert(CardScore.formatDigitsLikeBase("40483700045", "4048 3700 0450".take(13)) ==
      CardScore.formatDigitsLikeBase("40483700045", "4048 3700 045"))
    assert(CardScore.formatDigitsLikeBase("1234567890123456", "no digits here") ==
      "1234 5678 9012 3456")
  }

  test("usable card capture gate") {
    assert(CardScore.isUsableCardCapture("4111 1111 1111 1111"))
    assert(!CardScore.isUsableCardCapture("hello"))
    assert(!CardScore.isUsableCardCapture(""))
    // 8 digits but no 11-19-digit candidate → max_len 0 → rejected
    assert(!CardScore.isUsableCardCapture("4048 3700"))
    // 12 digits, low noise → accepted via digit_count>=12 clause
    assert(CardScore.isUsableCardCapture("4048 3700 0450"))
  }

  // ---- Normalizer (T16-T19) ----
  test("splitSections on blank lines") {
    assert(Normalizer.splitSections("a\n\nb\n \nc") == List("a", "b", "c"))
    assert(Normalizer.splitSections("") == Nil)
  }

  test("transaction lines need date+amount") {
    val text = "01/02/2024 coffee 4.50\nno amounts here\n02/03 rent $800.00"
    assert(Normalizer.transactionLines(text).size == 2)
  }

  test("receipt items capped at 25, need 2 tokens") {
    val lines = (1 to 30).map(i => s"item$i 12.$i%02d 1.00").mkString("\n")
    assert(Normalizer.receiptItems(lines).size == 25)
    assert(Normalizer.receiptItems("9.99") == Nil)
  }

  test("quality: strong bank statement text scores usable (reference mirror)") {
    val text = "Account Number: 123456789\n" +
      "Statement period: 01/01/2026 - 01/31/2026\n" +
      "01/02 Grocery Store $12.30\n01/04 Salary USD 2100.00\n" +
      "01/05 Utility USD 94.50"
    val q = Quality.evaluate(text, "bank_statement")
    assert(q.quality_score >= 0.6)
    assert(Set("GOOD", "PARTIAL").contains(q.classification))
  }

  test("normalizer assembles receipt/invoice schema (reference mirror)") {
    val text = "Merchant: Corner Shop\nDate: 02/14/2026\nTotal Amount: USD 32.50"
    val r = Normalizer.normalizeReceiptInvoice(text)
    assert(r.total_amount.isDefined)
    assert(r.merchant.contains("Corner Shop"))
    assert(r.date.contains("02/14/2026"))
  }

  test("normalizer assembles bank statement schema") {
    val text = "Account Holder: ALICE BROWN\nAccount Number: GB29BARC20031536\n" +
      "Statement Period: 01/2024 - 02/2024\n" +
      "01/02/2024 coffee 4.50\nBalance USD 950.00"
    val b = Normalizer.normalizeBankStatement(text)
    assert(b.account_holder.isDefined)
    assert(b.account_number.isDefined)
    assert(b.currency.contains("USD"))
    assert(b.transactions.nonEmpty)
  }

  test("normalizer assembles loan application schema") {
    val text = "Name: JOHN DOE\nAddress: 12 Baker Street London\n" +
      "Employer: ACME Corp\nIncome: $5,000\nLoan Amount: $20,000"
    val l = Normalizer.normalizeLoanApplication(text)
    assert(l.name.isDefined && l.employer.isDefined)
    assert(l.income.isDefined && l.amount.isDefined)
  }

  test("firstMatch returns group 1") {
    assert(Normalizer.firstMatch("Total: $15.00",
      "(?i)(?:total)[:\\s-]*([\\$A-Z]{0,3}\\s?\\d+[\\d,\\.]{0,20})") ==
      Some("$15.00"))
    assert(Normalizer.firstMatch("none", "xyz") == None)
  }

  test("WordAlts.has == word-alternation regex (fuzz) + gates necessary") {
    val fragments = Array(
      "Total: 42.00", "subtotal", "TOTAL", "amount due", "amount  due",
      "amount\tdue", "amountdue", "grand total", "grand-total", "GRAND\nTOTAL",
      "store", "restored", "megastore", "shop!", "merchant:", "invoice#12",
      "receipt", "receipts", "name", "names", "surname", "address", "ADDRESSEE",
      "id", "idx", "valid", "passport", "dni", "ssn", "tax id", "tax  id",
      "taxid", "acct", "account", "IBAN: GB00", "iban", "clabe", "ibanx",
      "USD 100", "eur 5,00", "€9", "$5.00", "gbp", "copper", "mxn 12",
      "12/05/1990", "1-2-34", "9/9", "x/y", "5-a", "—", "über",
      "nom", "prénom", "date de naissance", "date  de  naissance",
      "date de", "national insurance", "ni number", "ni\tnumber",
      "social security", "vorname", "geburtsdatum", "nome",
      "data di nascita", "cedula", "cedúla", "número", "fecha",
      "İĞİ İstanbul", "a1 b2", "", "\n\n")
    val r = new scala.util.Random(7)
    val cases = Quality.wordAltParityCases
    for (round <- 0 until 500) {
      val text = (0 until 1 + r.nextInt(6)).map { _ =>
        val f = fragments(r.nextInt(fragments.length))
        if (r.nextBoolean()) f
        else if (r.nextBoolean()) f.toUpperCase else f.toLowerCase
      }.mkString(if (r.nextBoolean()) " " else if (r.nextBoolean()) "\n" else "x")
      val lower = text.toLowerCase
      if (lower.length == text.length) {
        for ((alts, pat) <- cases) {
          assert(WordAlts.has(lower, alts) == pat.matcher(text).find(),
            s"round=$round pattern=${pat.pattern()} text='$text'")
        }
        // LangHints full-path parity (fast path vs regex-only reference)
        assert(LangHints.detectLower(text, lower) ==
          TextReferences.detectLower(text, lower), s"langhints '$text'")
      }
      // necessary-condition gates can only prune true negatives
      if (Quality.dateLikePattern.matcher(text).find() ||
          Quality.txnLikePattern.matcher(text).find())
        assert(Quality.dateShapeGate(text), s"date gate pruned a match '$text'")
      if (Quality.currencyPattern.matcher(text).find())
        assert(Quality.currencyGate(lower), s"currency gate pruned '$text'")
    }
  }

  test("fold-divergent chars force LangHints/WordAlts to the regex path") {
    // same-length fold divergence the aligned-length check can't see:
    // ſ matches s under UNICODE_CASE (ſsn ≡ ssn for the regex) but the
    // lowercase probe copy keeps ſ — the fast path must fall back
    val cases = Seq(
      "my ſsn number",        // long s: regex hit, probe copy miss
      "ſocial ſecurity data", // long s in a phrase alternation
      "DNı: 12345678X")       // dotless i: dni ≡ dnı for the regex
    cases.foreach { t =>
      val lower = t.toLowerCase
      assert(lower.length == t.length)
      assert(LangHints.detectLower(t, lower) ==
        TextReferences.detectLower(t, lower), s"'$t'")
    }
    assert(LangHints.detect("my ſsn number") == ("en", "US"))
    assert(LangHints.detect("DNı: 12345678X") == ("es", "ES"))
  }
}
