package graftbench

import scala.collection.mutable

import graft.html.{BlockSegmenter, ContentClassifier, HtmlTokenizer}
import graft.model.PageRow
import graft.pdf.PdfParser
import graft.pipeline.Extractor
import graft.text._

/** Single-threaded replay of the extraction kernel over a fixed sample of
  * a workload's own rows, calling each stage's public function directly
  * (the same calls `Extractor` makes, in the same order). Reports mean
  * microseconds per call for each stage and, per route, for the whole
  * `Extractor.extract`.
  */
object Replay {

  /** Seed-independent 1-in-50 sample of row indexes. */
  def sampled(i: Long): Boolean = java.lang.Long.remainderUnsigned(Gen.shape(11, i, 0), 50) == 0

  def route(b: Array[Byte]): String =
    if (b == null || b.isEmpty || b.length > Extractor.MaxBytes) "other"
    else if (PdfParser.isPdf(b)) "pdf"
    else {
      var k = 0
      while (k < b.length && (b(k) == ' ' || b(k) == '\n' || b(k) == '\r' || b(k) == '\t')) k += 1
      if (k < b.length && b(k) == '<') "html" else "other"
    }

  private final class Acc { var ns = 0L; var n = 0L
    def add(d: Long): Unit = { ns += d; n += 1 }
    def meanUs: Double = if (n == 0) 0.0 else ns / 1000.0 / n
  }

  def run(rows: Iterator[PageRow]): Map[String, Double] = {
    val acc = mutable.LinkedHashMap.empty[String, Acc]
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val v = f
      acc.getOrElseUpdate(name, new Acc).add(System.nanoTime() - t0)
      v
    }
    var extractCoveredNs = 0L

    // the analytics every route shares (Extractor.finish)
    def finish(text0: String, layout: String): Unit = {
      val text = CardScore.markUncertainPartialCardTail(text0)
      val lower = text.toLowerCase
      val foldSafe = lower.length == text.length && !hasFoldDivergent(text)
      val (docType, typeConf, _) = timed("text.cardintel_us")(CardIntel.analyzeLower(text, lower, layout))
      val (fields, _) = timed("text.fields_us")(
        FieldExtractor.extractLower(text, lower, docType, FieldExtractor.DefaultRunYear, foldSafe))
      timed("text.confidence_us")(Confidence.calculateLower(text, lower))
      timed("text.quality_us")(Quality.evaluate(text, docType, Some(foldSafe)))
      timed("text.readiness_us")(Readiness.compute(docType, fields, typeConf))
      timed("text.langhints_us")(LangHints.detectLower(text, lower, foldSafe))
    }

    rows.foreach { row =>
      val r = route(row.html)
      val t0 = System.nanoTime()
      Extractor.extract(row)
      val d = System.nanoTime() - t0
      acc.getOrElseUpdate(s"pipeline.extract_us.$r", new Acc).add(d)
      if (r != "other") {
        extractCoveredNs += d
        r match {
          case "html" =>
            val dom = timed("html.parse_us")(HtmlTokenizer.parse(row.html))
            val seg = timed("html.segment_us")(BlockSegmenter.segment(dom))
            val l1raw = timed("html.classify_us") {
              val (main, _, _) = ContentClassifier.ladderLayers(seg.blocks)
              ContentClassifier.assemble(main)
            }
            val l1 = timed("text.sanitize_us")(Sanitizer.sanitize(l1raw))
            timed("text.quality_us")(Quality.evaluate(l1, "other"))
            finish(l1, seg.layoutType)
          case _ =>
            val raw = timed("pdf.extract_us")(PdfParser.extractText(row.html))
            val text = timed("text.sanitize_us")(Sanitizer.sanitize(raw))
            finish(text, "standard_form")
        }
      }
    }
    val stageNs = acc.collect {
      case (k, a) if !k.startsWith("pipeline.") => a.ns
    }.sum
    acc.map { case (k, a) => k -> a.meanUs }.toMap +
      ("text.replay_coverage" ->
        (if (extractCoveredNs == 0) 0.0 else stageNs.toDouble / extractCoveredNs))
  }
}
