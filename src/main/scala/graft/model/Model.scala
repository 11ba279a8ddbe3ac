package graft.model

/** Data model for the extraction engine.
  *
  * Mirrors the reference's record shapes (see /root/reference):
  *  - input row     ~ DocumentInput, ocr_service/modules/open_source_ocr_stack.py:23-32,
  *    with the schema mandated by BASELINE.json input_hint:
  *    (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)
  *  - output row    ~ DocumentResult/DocumentResponse,
  *    open_source_ocr_stack.py:35-47 + ocr_service/schemas.py:74-90
  *  - field         ~ ExtractedField, ocr_service/modules/personal_doc_extractor.py:38-45
  *  - card analysis ~ DocumentIntelligence.analyze output,
  *    ocr_service/modules/document_intelligence.py:263-305
  */
final case class PageRow(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

final case class FieldRow(
    name: String,
    value: String,
    raw_ocr: String,
    confidence_level: String
)

final case class CardCandidate(
    masked: String,
    length: Int,
    luhn_valid: Boolean,
    brand_guess: String
)

final case class CardAnalysis(
    detected: Boolean,
    candidate_count: Int,
    luhn_valid_count: Int,
    requires_manual_review: Boolean,
    candidates: Seq[CardCandidate]
)

object CardAnalysis {
  val empty: CardAnalysis = CardAnalysis(
    detected = false, candidate_count = 0, luhn_valid_count = 0,
    requires_manual_review = false, candidates = Nil)
}

/** ~ compute_decision_readiness output, decision_readiness.py:90-138 */
final case class Readiness(
    score: Double,
    ready: Boolean,
    missing_mandatory: Seq[String],
    recommendation: String
)

/** ~ FintechQualityEvaluator.evaluate output, open_source_ocr_stack.py:80-117 */
final case class QualityResult(
    quality_score: Double,
    classification: String,
    reasons: Seq[String]
)

/** ~ DocumentAnalytics, ocr_service/schemas.py:53-71 + routers/ocr.py:144-175.
  * coverage_ratio = extracted-text bytes / html bytes (the text analog of the
  * reference's pixel_coverage_ratio, ocr_engine.py:2043-2070).
  */
final case class Analytics(
    coverage_ratio: Double,
    readability_index: Double,
    decision_readiness: Readiness,
    quality_band: String,
    requires_manual_review: Boolean,
    remediation_hints: Seq[String],
    field_completeness_ratio: Option[Double],
    fields_extracted_count: Int,
    fields_expected_count: Int
)

final case class ExtractResult(
    url: String,
    warc_ts: java.sql.Timestamp, // crawl/ingestion time, carried for provenance + recency retention
    text: String,
    confidence: Double,
    document_type: String,
    type_confidence: Double,
    layout_type: String,
    fields: Seq[FieldRow],
    warnings: Seq[String],
    card_analysis: CardAnalysis,
    quality: QualityResult,
    analytics: Analytics,
    language_guess: String,
    country_guess: String,
    status: String,
    errors: Seq[String],
    fallback_chain: Seq[String],
    bytes_in: Long
)

object Model {
  /** Bump when extraction semantics change (golden fixtures must be
    * regenerated on bump; FIXTURES.md §2). */
  val ExtractorVersion = "graft-0.1.2"
}
