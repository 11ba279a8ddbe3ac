package graft.pipeline

import graft.model.{Analytics, CardAnalysis, ExtractResult, PageRow, QualityResult}
import graft.html.{BlockSegmenter, ContentClassifier, HtmlTokenizer}
import graft.pdf.PdfParser
import graft.text._

/** Per-row extraction kernel — the typed-map stage body (O1, the analog of
  * `IterativeOCREngine.process_image`, /root/reference/ocr_service/modules/
  * ocr_engine.py:1516-1618, and the escalation router O4,
  * open_source_ocr_stack.py:356-412).
  *
  * Pure function PageRow → ExtractResult. All failures become status rows,
  * never exceptions (ocr_engine.py:1610-1615) — one bad page must not kill
  * a 10^12-row job.
  */
object Extractor {

  /** 10 MB input cap — `max_image_size_mb`, ocr_config.py:26. */
  val MaxBytes: Int = 10 * 1024 * 1024

  /** Critical doc types that justify the layer-3 escalation
    * (open_source_ocr_stack.py:509-520). */
  private val CriticalDocTypes = Set(
    "bank_statement", "loan_application", "kyc_form", "contract", "disclosure")

  def extract(row: PageRow): ExtractResult = {
    try {
      if (row.html == null || row.html.isEmpty)
        failed(row, "EMPTY_INPUT")
      else if (row.html.length > MaxBytes)
        failed(row, "SIZE_EXCEEDED")
      else if (PdfParser.isPdf(row.html))
        extractPdf(row)
      else
        extractHtml(row)
    } catch {
      case e: Throwable =>
        failed(row, s"EXTRACTION_ERROR: ${e.getClass.getSimpleName}")
    }
  }

  private def extractHtml(row: PageRow): ExtractResult = {
    val dom = HtmlTokenizer.parse(row.html)
    val seg = BlockSegmenter.segment(dom)
    val chain = scala.collection.mutable.ListBuffer.empty[String]

    // escalation ladder (O4): strict density classifier → all content →
    // full text; each layer evaluated structurally ("other": no doc-type
    // bonus yet, matching the router's pre-classification evaluation).
    chain += "layer1:density_classifier"
    val (mainBlocks, allBlocks, layersIdentical) =
      ContentClassifier.ladderLayers(seg.blocks)
    val l1 = Sanitizer.sanitize(ContentClassifier.assemble(mainBlocks))
    val q1 = Quality.evaluate(l1, "other")

    var text = l1
    var quality = q1
    if (q1.classification != "GOOD") {
      chain += "layer2:all_content"
      // layer 2 recomputes only when it actually differs from layer 1
      val l2 = if (layersIdentical) l1
        else Sanitizer.sanitize(ContentClassifier.assemble(allBlocks))
      val q2 = if (layersIdentical) q1 else Quality.evaluate(l2, "other")
      text = l2
      quality = q2
      if (q2.classification != "GOOD") {
        // escalate to full text for critical detected types or empty output.
        // NOTE: classification here runs on the pre-mark text; finish()
        // re-analyzes the marked final text (reference order, O4+C9).
        val (detType, _, _) = CardIntel.analyze(l2, seg.layoutType)
        if (CriticalDocTypes.contains(detType) || l2.isEmpty) {
          chain += "layer3:full_text"
          val l3 = Sanitizer.sanitize(
            ContentClassifier.assemble(ContentClassifier.fullText(seg.blocks)))
          text = l3
          quality = Quality.evaluate(l3, "other")
        }
      }
    }

    finish(row, text, seg.layoutType, chain.toList)
  }

  private def extractPdf(row: PageRow): ExtractResult = {
    val raw = PdfParser.extractText(row.html)
    val text = Sanitizer.sanitize(raw)
    // layout stats over per-line pseudo-regions (K7 thresholds,
    // layout.py:74-93: regions>20 & small avg area → dense; <10 regions
    // & one region >0.4 of the page → large blocks). The area-ratio
    // analog is each line's share of total chars; the dense test uses
    // the MAX share (mean share is 1/lines by construction — the
    // round-1 stat was degenerate and carried no signal).
    val lines = raw.split('\n').iterator.map(_.trim).filter(_.nonEmpty).toVector
    val layout =
      if (lines.isEmpty) "empty"
      else {
        val total = math.max(1L, lines.map(_.length.toLong).sum).toDouble
        val maxShare = lines.map(_.length / total).max
        if (lines.size > 20 && maxShare < 0.1) "dense_text"
        else if (lines.size < 10 && maxShare > 0.4) "large_blocks"
        else "standard_form"
      }
    finish(row, text, layout, List("pdf:xycut"))
  }

  /** Post-extraction analytics shared by both routes — classification (C2),
    * card analysis (C3), fields (T20-23), confidence (C1), quality (C4),
    * readiness (C5/C6), analytics assembly (C7, routers/ocr.py:144-175). */
  private def finish(
      row: PageRow,
      sanitizedText: String,
      layoutType: String,
      fallbackChain: List[String]): ExtractResult = {
    // the reference marks a suspicious trailing partial-card zero in EVERY
    // final text (T4; _build_response, ocr_engine.py:2112-2113)
    val text = CardScore.markUncertainPartialCardTail(sanitizedText)
    val lower = text.toLowerCase(java.util.Locale.ROOT) // shared across all keyword operators
    // one fold-safety scan per document, shared by every indexOf-probe
    // fast path (FieldExtractor gates, Quality/LangHints word matchers)
    val foldSafe =
      lower.length == text.length && !graft.text.hasFoldDivergent(text)
    val (docType, typeConfRaw, cards) =
      CardIntel.analyzeLower(text, lower, layoutType)
    val typeConfidence = pyRound(typeConfRaw, 2)
    val (fields, warnings) = FieldExtractor.extractLower(text, lower, docType,
      FieldExtractor.DefaultRunYear, foldSafe)
    val confidence = Confidence.calculateLower(text, lower)
    val quality = Quality.evaluate(text, docType, Some(foldSafe))

    val status =
      if (quality.classification == "GOOD") "OK"
      else if (quality.classification == "PARTIAL") "PARTIAL"
      else "FAILED"
    val errors = {
      val base = if (text.isEmpty) List("EMPTY_RESULT") else Nil
      if (status != "OK") base ++ quality.reasons else base
    }

    val readiness = graft.text.Readiness.compute(docType, fields, typeConfidence)
    val band = graft.text.Readiness.qualityBand(typeConfidence)
    val requiresReview = band == "fair" || band == "poor" || !readiness.ready
    val expected = graft.text.Readiness.MandatoryFields.getOrElse(docType, Nil)
    val hints = remediationHints(band, readiness.missing_mandatory)
    val completeness =
      if (expected.isEmpty) None
      else {
        val present = math.max(0, expected.size - readiness.missing_mandatory.size)
        Some(pyRound(math.max(0.0,
          math.min(1.0, present.toDouble / expected.size)), 4))
      }

    val coverage = pyRound(
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toDouble /
        math.max(1, row.html.length), 4)

    val (lang, country) = LangHints.detectLower(text, lower, foldSafe)
    // readability_index = clamped confidence, 4 dp (ocr_engine.py:2134)
    val readability = pyRound(math.max(0.0, math.min(1.0, confidence)), 4)

    ExtractResult(
      url = row.url,
      warc_ts = row.warc_ts,
      text = text,
      confidence = confidence,
      document_type = docType,
      type_confidence = typeConfidence,
      layout_type = layoutType,
      fields = fields,
      warnings = warnings,
      card_analysis = cards,
      quality = quality,
      analytics = Analytics(
        coverage_ratio = coverage,
        readability_index = readability,
        decision_readiness = readiness,
        quality_band = band,
        requires_manual_review = requiresReview,
        remediation_hints = hints,
        field_completeness_ratio = completeness,
        fields_extracted_count = fields.size,
        fields_expected_count = expected.size),
      language_guess = lang,
      country_guess = country,
      status = status,
      errors = errors,
      fallback_chain = fallbackChain,
      bytes_in = if (row.html == null) 0L else row.html.length.toLong)
  }

  /** `_build_remediation_hints`, routers/ocr.py:108-129 */
  private def remediationHints(band: String, missing: Seq[String]): List[String] = {
    val hints = scala.collection.mutable.ListBuffer.empty[String]
    if (band == "poor")
      hints += "Image quality is poor; consider re-scanning at higher resolution."
    else if (band == "fair")
      hints += "Image quality is fair; manual verification recommended."
    missing.foreach { m =>
      hints += s"Mandatory field '$m' could not be extracted; verify manually."
    }
    hints.toList
  }

  private def failed(row: PageRow, error: String): ExtractResult =
    ExtractResult(
      url = row.url,
      warc_ts = row.warc_ts,
      text = "",
      confidence = 0.0,
      document_type = "generic_document",
      type_confidence = 0.0,
      layout_type = "empty",
      fields = Nil,
      warnings = Nil,
      card_analysis = CardAnalysis.empty,
      quality = QualityResult(0.0, "UNUSABLE", List("EMPTY_TEXT")),
      analytics = Analytics(
        coverage_ratio = 0.0,
        readability_index = 0.0,
        decision_readiness = graft.text.Readiness.compute("generic_document", Nil, 0.0),
        quality_band = "poor",
        requires_manual_review = true,
        remediation_hints = Nil,
        field_completeness_ratio = None,
        fields_extracted_count = 0,
        fields_expected_count = 0),
      language_guess = "en",
      country_guess = "",
      status = "FAILED",
      errors = List(error),
      fallback_chain = Nil,
      bytes_in = if (row.html == null) 0L else row.html.length.toLong)
}
