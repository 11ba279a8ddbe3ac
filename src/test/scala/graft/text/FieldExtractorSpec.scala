package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Mirrors /root/reference/ocr_service/tests/test_personal_doc_extractor.py:95-320. */
class FieldExtractorSpec extends AnyFunSuite {

  private def names(fs: Seq[graft.model.FieldRow]) = fs.map(_.name).toSet

  /** The first pattern whose bare regex finds a match (group 1 when it
    * has one), trimmed: no literal, digit-run or MRZ gate, no anchoring. */
  private def bareRegex(text: String,
      patterns: List[FieldExtractor.Gated]): Option[String] =
    patterns.iterator.map(_.pattern.matcher(text)).collectFirst {
      case m if m.find() =>
        (if (m.groupCount() >= 1 && m.group(1) != null) m.group(1)
         else m.group()).trim
    }

  test("extract passport fields") {
    val text = "PASSPORT\nSurname: SMITH\nGiven Names: JOHN\nNationality: GBR\n" +
      "Date of Birth: 15/03/1985\nPassport No: AB123456\nDate of Expiry: 25/09/2030\n"
    val (fields, _) = FieldExtractor.extract(text, "passport")
    val n = names(fields)
    assert(n.contains("date_of_birth"))
    assert(n.contains("document_number"))
    assert(n.contains("nationality"))
    assert(n.contains("expiry_date"))
  }

  test("extract id_document fields") {
    val text = "IDENTITY CARD\nDNI: 12345678X\nJUAN PÉREZ GARCÍA\n" +
      "Date of Birth: 12/05/1990\nExpiry: 01/01/2030\n"
    val (fields, _) = FieldExtractor.extract(text, "id_document")
    assert(names(fields).contains("document_number"))
    assert(names(fields).contains("date_of_birth"))
  }

  test("bank card PAN is masked, raw redacted") {
    val text = "VISA\n4111 1111 1111 1111\nJOHN SMITH\nEXP 12/26\n"
    val (fields, _) = FieldExtractor.extract(text, "bank_card")
    val card = fields.find(_.name == "card_number").get
    assert(card.value.contains("1111"))
    assert(!card.value.contains("4111 1111 1111 1111"))
    assert(card.raw_ocr == "[REDACTED]")
    assert(card.value == "**** **** **** 1111")
  }

  test("CVV omitted from response") {
    val text = "4111 1111 1111 1111\nCVV 123\nEXP 12/26\n"
    val (fields, _) = FieldExtractor.extract(text, "bank_card")
    assert(!fields.exists(f => Set("cvv", "cvc", "cvv2", "cvc2").contains(f.name)))
  }

  test("generic document returns no fields") {
    val (fields, warnings) =
      FieldExtractor.extract("Some generic text", "generic_document")
    assert(fields.isEmpty && warnings.isEmpty)
  }

  test("utility bill fields") {
    val text = "ELECTRICITY BILL\nFull Name: JANE DOE\nAddress: 123 Main Street\n" +
      "Account Number: ACC-9876543210\nPay Period: January 2024\nTotal Amount: $150.00\n"
    val (fields, _) = FieldExtractor.extract(text, "utility_bill")
    assert(names(fields).contains("total_amount") || names(fields).contains("period"))
  }

  test("payslip fields") {
    val text = "PAYSLIP\nEmployee: ALICE JONES\nEmployer: ACME Corp\n" +
      "Gross Pay: $5,000.00\nPay Period: March 2024\n"
    val (fields, _) = FieldExtractor.extract(text, "payslip")
    assert(names(fields).contains("employer") || names(fields).contains("salary"))
  }

  test("ambiguous '?' chars force low confidence") {
    val (fields, warnings) = FieldExtractor.extract("DNI: 1234?678X\n", "id_document")
    val doc = fields.find(_.name == "document_number").get
    assert(doc.confidence_level == "low")
    assert(warnings.exists(_.contains("low confidence")))
  }

  test("detect metadata Spanish") {
    assert(LangHints.detect(
      "Apellido: GARCIA\nNombre: JUAN\nFecha de nacimiento: 12/05/1990")._1 == "es")
  }
  test("detect metadata English fallback") {
    assert(LangHints.detect(
      "Surname: Smith Given Names: John Date of Birth: 15/03/1985") == (("en", "")))
  }
  test("detect metadata Brazil") {
    assert(LangHints.detect("CPF: 123.456.789-00\nNome: Maria Silva") == (("pt", "BR")))
  }

  test("tax id fields") {
    val (fields, _) =
      FieldExtractor.extract("NIF: A1234567B\nFull Name: CARLOS LOPEZ\n", "tax_id")
    assert(names(fields).contains("tax_number"))
  }

  test("driver license fields") {
    val text = "DRIVING LICENCE\nSurname: BROWN\nGiven Names: EMILY\n" +
      "Date of Birth: 01/06/1992\nExpiry: 01/06/2032\nAddress: 42 Oak Lane, London\n"
    val (fields, _) = FieldExtractor.extract(text, "driver_license")
    assert(names(fields).contains("date_of_birth"))
    assert(names(fields).contains("expiry_date"))
  }

  test("Luhn-valid card boosts confidence to high with note") {
    val (fields, warnings) = FieldExtractor.extract(
      "VISA\n4111 1111 1111 1111\nJOHN SMITH\nEXP 12/26\n", "bank_card")
    val card = fields.find(_.name == "card_number").get
    assert(card.confidence_level == "high")
    assert(warnings.exists(_.contains("Luhn check passed")))
  }

  test("Luhn-invalid card lowers confidence to low with warning") {
    val (fields, warnings) = FieldExtractor.extract(
      "VISA\n4111 1111 1111 1112\nJOHN SMITH\nEXP 12/26\n", "bank_card")
    val card = fields.find(_.name == "card_number").get
    assert(card.confidence_level == "low")
    assert(warnings.exists(_.contains("Luhn check failed")))
  }

  test("valid MM/YY expiry boosts to high") {
    val (fields, warnings) = FieldExtractor.extract(
      "VISA\n4111 1111 1111 1111\nEXP 12/26\n", "bank_card")
    val exp = fields.find(_.name == "expiry_date").get
    assert(exp.confidence_level == "high")
    assert(warnings.exists(_.contains("format valid")))
  }

  test("invalid expiry month lowers confidence") {
    val (fields, warnings) = FieldExtractor.extract("EXP 13/26\n", "bank_card")
    fields.find(_.name == "expiry_date").foreach { exp =>
      assert(exp.confidence_level == "low")
      assert(warnings.exists(_.contains("invalid month")))
    }
  }

  test("passport DD/MM/YYYY expiry boosts to high") {
    val (fields, warnings) = FieldExtractor.extract(
      "PASSPORT\nDate of Expiry: 25/09/2030\n", "passport")
    val exp = fields.find(_.name == "expiry_date").get
    assert(exp.confidence_level == "high")
    assert(warnings.exists(_.contains("format valid")))
  }

  test("MRZ full name normalization: '<' to spaces + upper") {
    assert(FieldExtractor.normalize("full_name", "SMITH<<JOHN") == "SMITH JOHN")
    assert(FieldExtractor.normalize("gender", "Male") == "M")
    assert(FieldExtractor.normalize("nationality", "gbr") == "GBR")
    assert(FieldExtractor.normalize("date_of_birth", "15/03/1985") == "15-03-1985")
  }

  test("anchored gate scan == plain regex scan (adversarial fuzz)") {
    // the anchored path probes only gate-literal positions; it must
    // return EXACTLY what a full find() returns, on inputs crafted to
    // break it: keywords as substrings (female/subtotal/denomination),
    // case variants, accents, keywords at 0/end, and U+0130 (whose
    // lowercase is two chars → alignment fallback)
    val fragments = Array(
      "FULL NAME: JUAN PÉREZ GÓMEZ", "nombre completo: ANA MARÍA",
      "Female", "MALE", "female driver", "normalcy denomination economy",
      "subtotal 12.99", "TOTAL: 145.00", "total amount due",
      "VAT: 20.50", "privat bank", "iva incluida", "TAX ID: ABC-123456",
      "Valid Thru: 12/28", "EXPIRY 01-01-2030", "expo line",
      "surname: GARCÍA", "last name: O'BRIEN", "nom: DUPONT",
      "metronom timing", "ADDRESS: 12 Long Street Name, City",
      "address", "ACCOUNT NUMBER: GB82 WEST 1234 5698 7654 32",
      "no 1234567 id X9878987", "DNI: 45678912Q", "IDENTIFIER",
      "PAY PERIOD: March 2024", "for the month of April",
      "FOR x", "periodic table", "İstanbul İĞİ", "place of birth: LIMA",
      "BORN IN: OSLO", "amount outstanding: 99.10", "past due: 5.00",
      "OPENING BALANCE: 100.00", "B/F: 20.00", "C/F: 30.00",
      "CLOSING BALANCE: 80.00", "ISSUE DATE: 01/02/2023",
      "date of issue: 03/04/2021", "fecha de emisión: 05/06/2020",
      "SEX: M", "sexo: F", "CVV: 123", "cvc2: 9999",
      "EMPLOYER: ACME GMBH", "company: Widgets Ltd", "GROSS PAY: 2,500.00",
      "salary: £1,900.00", "STATEMENT PERIOD FROM: 01/01/2024",
      "desde: 02/02/2024", "nationality: ESP", "NATIONALITÉ: FRA",
      "\n", " ", "....", "1234 5678 9012 3456")
    val allPatternLists =
      FieldExtractor.FieldDefinitions.values.flatten.map(_.patterns).toSet
    val r = new scala.util.Random(2026)
    for (round <- 0 until 400) {
      val n = 1 + r.nextInt(8)
      val text = (0 until n).map { _ =>
        val f = fragments(r.nextInt(fragments.length))
        if (r.nextBoolean()) f else if (r.nextBoolean()) f.toUpperCase else f.toLowerCase
      }.mkString(if (r.nextBoolean()) " " else "\n")
      val lower = text.toLowerCase
      for (patterns <- allPatternLists) {
        val fast = FieldExtractor.tryPatternsLower(text, lower, patterns,
          graft.text.maxDigitRun(text))
        val ref = FieldExtractor.tryPatternsNoAnchor(text, lower, patterns)
        assert(fast == ref,
          s"round=$round patterns=${patterns.head.pattern.pattern()} text='$text'")
      }
    }
  }

  test("fold-divergent chars (ı ſ K) force the regex fallback — parity holds") {
    // U+0131/U+017F match i/s under CASE_INSENSITIVE|UNICODE_CASE but
    // survive toLowerCase unchanged, so the anchored indexOf probe can
    // never see them; U+212A lowercases INTO 'k'. The length-equality
    // alignment check misses all three (1:1 lowercasing) — the
    // hasFoldDivergent guard must catch them.
    assert(graft.text.isFoldDivergent('ı')) // dotless i
    assert(graft.text.isFoldDivergent('ſ')) // long s
    assert(graft.text.isFoldDivergent('K')) // Kelvin K
    assert(!graft.text.isFoldDivergent('i'))
    assert(!graft.text.isFoldDivergent('é'))
    assert(!graft.text.isFoldDivergent('ß'))

    // 'ı' inside a gate literal: regex matches, a lowercase probe never
    // would — the anchored path must agree with the unanchored reference
    val texts = Seq(
      "PASSPORT\nDate of Bırth: 15/03/1985\nPassport No: AB123456\n",
      "paſſport no: X1234567\nDate of Birth: 01/02/1990",
      "banK card\ncard number: 4111 1111 1111 1111",
      "ſEX: M\nDate of Birth: 01/02/1990")
    texts.foreach { text =>
      val lower = text.toLowerCase
      assert(lower.length == text.length, "1:1 case must hold for this test")
      for (patterns <- FieldExtractor.FieldDefinitions.values.flatten
          .map(_.patterns).toSeq.distinct) {
        val fast = FieldExtractor.tryPatternsLower(text, lower, patterns,
          graft.text.maxDigitRun(text))
        // the bare regex, not tryPatternsNoAnchor: that one applies the
        // same literal gates and would share a gate miss
        val ref = bareRegex(text, patterns)
        assert(fast == ref,
          s"patterns=${patterns.head.pattern.pattern()} text='$text'")
      }
    }
    // end-to-end: the ı'd passport still yields date_of_birth
    val (fields, _) = FieldExtractor.extract(texts.head, "passport")
    assert(names(fields).contains("date_of_birth"))
  }

  test("fold-unsafe text skips the literal gates: ſEX: M keeps its gender") {
    // ſ (U+017F) matches s under CASE_INSENSITIVE|UNICODE_CASE (and
    // Python's re.I), but the lowercase copy holds no "sex" gate literal
    def gender(text: String) =
      FieldExtractor.extract(text, "id_document")._1
        .find(_.name == "gender").map(_.value)
    assert(gender("SEX: M") == Some("M"))
    assert(gender("ſEX: M") == Some("M"))
  }

  test("property: maskPan preserves last 4 and hides the rest") {
    val panGen = Gen.chooseNum(13, 19).flatMap(n =>
      Gen.listOfN(n, Gen.numChar).map(_.mkString))
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200),
      Prop.forAll(panGen) { pan =>
        val masked = FieldExtractor.maskPan(pan)
        val compact = masked.replace(" ", "")
        compact.takeRight(4) == pan.takeRight(4) &&
          compact.dropRight(4).forall(_ == '*')
      })
    assert(res.passed, res.status.toString)
  }
}
