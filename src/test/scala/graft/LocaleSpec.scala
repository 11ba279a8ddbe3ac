package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.GoldenGen
import graft.model.PageRow
import graft.pipeline.{Extractor, PagesSynth}
import graft.sources.Warc

/** Ingest and extraction do not depend on the JVM's default locale.
  * Turkish lowercases I to dotless ı, which under default-locale case
  * mapping turned the `WARC-Target-URI` header name into
  * `warc-target-urı` (so every record lost its URL) and `INVOICE` into
  * `ınvoıce` (so keyword scorers missed it). */
class LocaleSpec extends AnyFunSuite {

  private def withLocale[T](tag: String)(body: => T): T = {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag(tag))
    try body
    finally Locale.setDefault(saved)
  }

  test("tr-TR: WARC records keep their URI and record id") {
    val bos = new ByteArrayOutputStream()
    Warc.Writer.response(bos, "http://ist.test/INDEX", Instant.ofEpochSecond(1500000000L),
      "<html><body>ISTANBUL INVOICE</body></html>".getBytes(UTF_8),
      chunked = true, gzipBody = true)
    def read() = Warc.records(new ByteArrayInputStream(bos.toByteArray)).toList
      .map(r => (r.warc_type, r.url, r.record_id, r.http_status,
        r.http_content_type, r.payload.toSeq, r.truncated))
    val en = withLocale("en-US")(read())
    val tr = withLocale("tr-TR") {
      assert("I".toLowerCase == "ı") // the locale is in effect
      read()
    }
    assert(en.map(_._2) == List("http://ist.test/INDEX"))
    assert(en.head._3.nonEmpty)
    assert(tr == en)
  }

  test("tr-TR: extraction of the golden inputs equals en-US") {
    val invoice = PageRow("http://ist.test/invoice", new java.sql.Timestamp(0L),
      ("<html><body><h1>INVOICE</h1><p>INVOICE NUMBER: INV-2024-0042</p>" +
        "<p>BILL TO: ACME LIMITED, 12 HIGH STREET, ISTANBUL</p>" +
        "<p>SUBTOTAL: 120.00</p><p>VAT: 24.00</p><p>TOTAL DUE: 144.00</p>" +
        "<p>ISSUE DATE: 01/02/2024</p></body></html>").getBytes(UTF_8), "", "")
    val rows = (0L until GoldenGen.Rows).map(PagesSynth.row) :+ invoice
    val en = withLocale("en-US")(rows.map(Extractor.extract))
    val tr = withLocale("tr-TR")(rows.map(Extractor.extract))
    rows.indices.foreach(i => assert(tr(i) == en(i), s"row $i ${rows(i).url}"))
  }
}
