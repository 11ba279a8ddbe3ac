package graft.pipeline

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import graft.model.PageRow
import graft.pdf.PdfParser

/** Robustness fuzz: the kernels must never throw on arbitrary bytes —
  * a 10^12-row job cannot afford a single row-killing input (SURVEY §7.4).
  */
class FuzzSpec extends AnyFunSuite {
  import FuzzSpec.PdfCase

  private def page(html: Array[Byte]) =
    PageRow("https://f.example/x", new java.sql.Timestamp(0), html, "", "en")

  test("random bytes never throw (html route)") {
    val r = new java.util.Random(99)
    for (_ <- 0 until 300) {
      val b = new Array[Byte](r.nextInt(4096))
      r.nextBytes(b)
      val res = Extractor.extract(page(b))
      assert(Set("OK", "PARTIAL", "FAILED").contains(res.status))
    }
  }

  test("random bytes with PDF magic never throw (pdf route)") {
    val r = new java.util.Random(77)
    for (_ <- 0 until 200) {
      val b = new Array[Byte](16 + r.nextInt(4096))
      r.nextBytes(b)
      b(0) = '%'; b(1) = 'P'; b(2) = 'D'; b(3) = 'F'; b(4) = '-'
      val res = Extractor.extract(page(b))
      assert(Set("OK", "PARTIAL", "FAILED").contains(res.status))
    }
  }

  test("FlateDecode stream with a preset dictionary (FDICT) ends as a status row") {
    // Inflater.inflate returns 0 with needsDictionary() set and input
    // left, forever: the stream must be reported corrupt, not spun on
    val content = "BT /F1 12 Tf 72 720 Td (Dictionary hello) Tj ET".getBytes("UTF-8")
    val d = new java.util.zip.Deflater()
    d.setDictionary("BT ET Tj Tf Td".getBytes("UTF-8"))
    d.setInput(content); d.finish()
    val buf = new Array[Byte](4096)
    val z = java.util.Arrays.copyOf(buf, d.deflate(buf))
    d.end()
    assert((z(1) & 0x20) != 0, "zlib header must set FDICT")
    val pdf = ("%PDF-1.4\n1 0 obj << /Length " + z.length +
      " /Filter /FlateDecode >>\nstream\n").getBytes("UTF-8") ++ z ++
      "\nendstream\nendobj\n%%EOF\n".getBytes("UTF-8")
    val res = graft.Deadline(10)(Extractor.extract(page(pdf)))
    assert(Set("OK", "PARTIAL", "FAILED").contains(res.status))
  }

  /** 64 MB of RunLength repeat pairs (each expands 2 B → 128 B, 4 GB in
    * all) deflated to a ~65 KB `[/FlateDecode /RunLengthDecode]` stream. */
  private def flateRunLengthBomb(): Array[Byte] = {
    val chunk = Array.tabulate[Byte](1 << 16)(i => if (i % 2 == 0) 0x81.toByte else 'A')
    val d = new java.util.zip.Deflater(9)
    val zs = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    for (_ <- 0 until 1024) {
      d.setInput(chunk)
      while (!d.needsInput()) zs.write(buf, 0, d.deflate(buf))
    }
    d.finish()
    while (!d.finished()) zs.write(buf, 0, d.deflate(buf))
    d.end()
    val z = zs.toByteArray
    assert(z.length < (100 << 10), s"bomb stream is ${z.length} B")
    ("%PDF-1.4\n1 0 obj << /Length " + z.length +
      " /Filter [/FlateDecode /RunLengthDecode] >>\nstream\n")
      .getBytes("UTF-8") ++ z ++ "\nendstream\nendobj\n%%EOF\n".getBytes("UTF-8")
  }

  test("[/FlateDecode /RunLengthDecode] bomb ends as a status row, not an OOM") {
    // the stages must stop at their bound instead of growing their
    // buffers to the heap
    val pdf = flateRunLengthBomb()
    val res = graft.Deadline(10)(Extractor.extract(page(pdf)))
    assert(Set("OK", "PARTIAL", "FAILED").contains(res.status))
    assert(!res.errors.exists(_.contains("OutOfMemoryError")), res.errors)
  }

  // ------------------------------------------------------------------
  // per-document decode budget

  /** Bytes a PDF of this size may decode (PdfParser's budget). */
  private def decodeBudget(pdf: Array[Byte]): Long =
    math.min(PdfParser.DecodeCeiling, PdfParser.DecodeMultiple * pdf.length)

  /** Extracts `pdf` under a 10 s deadline and an allocation bound of
    * `multiple` × its decode budget; the row must fail with the budget
    * code. */
  private def endsOnBudget(pdf: Array[Byte], multiple: Double = 4.0): Unit = {
    val (res, allocated, nanos) = graft.Deadline.bounded(10,
      (multiple * decodeBudget(pdf)).toLong)(Extractor.extract(page(pdf)))
    assert(res.status == "FAILED")
    assert(res.errors == Seq("EXTRACTION_ERROR: DecodeBudgetExceeded"),
      res.errors)
    info(f"${pdf.length >> 10} KB in: ${nanos / 1e6}%.1f ms, " +
      f"${allocated / 1e6}%.1f MB allocated, budget " +
      f"${decodeBudget(pdf) / 1e6}%.1f MB")
  }

  /** Deflated 32 MB of zeros. */
  private lazy val zeros32m: Array[Byte] = {
    val d = new java.util.zip.Deflater(9)
    val zs = new java.io.ByteArrayOutputStream()
    val zeros = new Array[Byte](1 << 20)
    val buf = new Array[Byte](1 << 16)
    for (_ <- 0 until 32) {
      d.setInput(zeros)
      while (!d.needsInput()) zs.write(buf, 0, d.deflate(buf))
    }
    d.finish()
    while (!d.finished()) zs.write(buf, 0, d.deflate(buf))
    d.end()
    zs.toByteArray
  }

  /** `n` objects, each a /FlateDecode stream that inflates to 32 MB of
    * zeros; with `tree`, a page tree gives each stream its own page. */
  private def zeroBombs(n: Int, tree: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(UTF_8))
    w("%PDF-1.4\n")
    val firstStream = if (tree) n + 2 else 1
    if (tree) {
      w((2 until n + 2).map(k => s"$k 0 R")
        .mkString("1 0 obj << /Type /Pages /Kids [", " ", s"] /Count $n >>\nendobj\n"))
      for (k <- 0 until n)
        w(s"${k + 2} 0 obj << /Type /Page /Parent 1 0 R " +
          s"/Contents ${firstStream + k} 0 R >>\nendobj\n")
    }
    for (k <- 0 until n) {
      w(s"${firstStream + k} 0 obj << /Length ${zeros32m.length} " +
        "/Filter /FlateDecode >>\nstream\n")
      out.write(zeros32m)
      w("\nendstream\nendobj\n")
    }
    w("%%EOF\n")
    out.toByteArray
  }

  for (n <- Seq(1, 20, 200); tree <- Seq(false, true))
    test(s"$n Flate streams of 32 MB zeros " +
      s"${if (tree) "under" else "without"} a page tree end on the decode budget") {
      // under a page tree the first page's stream decodes to the
      // ceiling, and its String copy is charged before it is made: ~2.2×
      endsOnBudget(zeroBombs(n, tree), if (tree) 2.5 else 4.0)
    }

  test("[/FlateDecode /RunLengthDecode] bomb ends on the decode budget") {
    endsOnBudget(flateRunLengthBomb())
  }

  // ------------------------------------------------------------------
  // structure-aware PDF mutation

  private val word = Gen.oneOf("alpha", "Beta", "(paren)", "back\\slash",
    "café", "4111", "x", "total:", "Z")
  private val pdfCase: Gen[PdfCase] = for {
    pages <- Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n,
      Gen.chooseNum(1, 8).flatMap(k => Gen.listOfN(k,
        Gen.chooseNum(1, 6).flatMap(w => Gen.listOfN(w, word))
          .map(_.mkString(" "))))))
    tree <- Gen.oneOf(true, false)
    objStm <- Gen.oneOf(true, false)
    enc <- Gen.chooseNum(0, 5)
    mutation <- Gen.chooseNum(0, 6)
    seed <- Gen.long
  } yield PdfCase(pages, tree, objStm, enc, mutation, seed)

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(b); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def ascii85(b: Array[Byte]): Array[Byte] = {
    val sb = new java.lang.StringBuilder()
    for (i <- b.indices by 4) {
      val n = math.min(4, b.length - i)
      val v = (0 until 4).foldLeft(0L)((v, k) =>
        (v << 8) | (if (k < n) b(i + k) & 0xffL else 0L))
      val c = (0 until 5).map(j => ('!' + (v / math.pow(85, 4 - j).toLong) % 85).toChar)
      sb.append(c.take(n + 1).mkString)
    }
    sb.append("~>").toString.getBytes(ISO_8859_1)
  }

  /** RunLength literal runs of ≤ 128 bytes, then EOD. */
  private def runLength(b: Array[Byte]): Array[Byte] =
    b.grouped(128).flatMap(g => (g.length - 1).toByte +: g).toArray :+ 128.toByte

  /** PNG "None" rows of 16 columns, for /Predictor 12. */
  private def pngRows(b: Array[Byte]): Array[Byte] =
    b.padTo((b.length + 15) / 16 * 16, ' '.toByte).grouped(16)
      .flatMap(0.toByte +: _).toArray

  /** (declared /Filter and /DecodeParms, encoder) per `enc`. */
  private val encodings: Vector[(String, Array[Byte] => Array[Byte])] = Vector(
    ("", identity),
    (" /Filter /FlateDecode", deflate),
    (" /Filter [/ASCII85Decode /FlateDecode]", b => ascii85(deflate(b))),
    (" /Filter /ASCIIHexDecode", b => b.map(x => f"$x%02x").mkString.getBytes(ISO_8859_1)),
    (" /Filter /RunLengthDecode", runLength),
    (" /Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 16 >>",
      b => deflate(pngRows(b))))

  private val filterNames = Vector("FlateDecode", "LZWDecode", "RunLengthDecode",
    "ASCII85Decode", "ASCIIHexDecode", "DCTDecode", "Fl", "RL")

  private def render(c: PdfCase): Array[Byte] = {
    val r = new java.util.Random(c.seed)
    def int(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    val n = c.pages.size
    val (encDict, encode) = encodings(c.enc)
    val streamDict = c.mutation match {
      case 1 => (0 until int(0, 3)).map(_ => "/" + filterNames(r.nextInt(filterNames.size)))
        .mkString(" /Filter [", " ", "]")
      case 2 => encDict.replaceAll(" /DecodeParms.*", "") +
        s" /DecodeParms << /Predictor ${Seq(1, 2, 3, 10, 12, 15, 99)(int(0, 6))} " +
        s"/Colors ${int(0, 4)} /BitsPerComponent ${Seq(1, 2, 8, 16)(int(0, 3))} " +
        s"/Columns ${int(0, 300)} >>"
      case _ => encDict
    }
    def length(real: Int): String =
      if (c.mutation == 3) s"/Length ${Seq(-1, 0, real / 2, real + 7, 1 << 30)(int(0, 4))}"
      else s"/Length $real"
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    def stream(num: Int, dict: String, data: Array[Byte]): Unit = {
      w(s"$num 0 obj\n<< ${length(data.length)}$dict >>\nstream\n")
      out.write(data)
      w("\nendstream\nendobj\n")
    }
    w("%PDF-1.5\n")
    val contentNums = if (c.tree) (0 until n).map(4 + n + _) else (1 to n)
    if (c.tree) {
      val dicts = Seq(1 -> "<< /Type /Catalog /Pages 2 0 R >>",
        2 -> (4 until 4 + n).map(k => s"$k 0 R")
          .mkString("<< /Type /Pages /Kids [", " ", s"] /Count $n >>"),
        3 -> "<< /Type /Font /Subtype /Type1 /Encoding /WinAnsiEncoding >>") ++
        (0 until n).map(k => (4 + k) -> (s"<< /Type /Page /Parent 2 0 R " +
          s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${contentNums(k)} 0 R >>"))
      if (c.objStm) {
        val header = new java.lang.StringBuilder
        val bodies = new java.lang.StringBuilder
        dicts.foreach { case (num, d) =>
          header.append(num).append(' ').append(bodies.length).append(' ')
          bodies.append(d).append('\n')
        }
        val (nDecl, first) =
          if (c.mutation == 4) (int(-2, 2 * dicts.size), int(-2, header.length + 40))
          else (dicts.size, header.length)
        stream(4 + 2 * n, s" /Type /ObjStm /N $nDecl /First $first /Filter /FlateDecode",
          deflate((header.toString + bodies).getBytes(ISO_8859_1)))
      } else dicts.foreach { case (num, d) => w(s"$num 0 obj\n$d\nendobj\n") }
    }
    val count = if (c.mutation == 5) int(0, 3 * n) else n
    for (k <- 0 until count) {
      val lines = c.pages(k % n).zipWithIndex.map { case (l, i) =>
        val esc = l.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
        s"1 0 0 1 72 ${720 - 14 * i} Tm ($esc) Tj"
      }
      val content = lines.mkString("BT /F1 12 Tf\n", "\n", "\nET")
      stream(if (k < n) contentNums(k) else 100 + k, streamDict,
        encode(content.getBytes(ISO_8859_1)))
    }
    w("trailer\n<< /Root 1 0 R >>\n%%EOF\n")
    val bytes = out.toByteArray
    if (c.mutation == 6) bytes.take(r.nextInt(bytes.length + 1)) else bytes
  }

  test("property: mutated PDFs end in bounded time, and the same way twice") {
    val cases = 4000
    val prop = Prop.forAll(pdfCase) { c =>
      val pdf = render(c)
      val (a, b) = graft.Deadline(10)(
        (Extractor.extract(page(pdf)), Extractor.extract(page(pdf))))
      Set("OK", "PARTIAL", "FAILED").contains(a.status) && a == b
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(cases).withWorkers(1)
      .withInitialSeed(Seed(20261020L)), prop)
    assert(res.passed, res.status.toString)
    assert(res.succeeded >= cases)
  }

  test("property: the generator's unmutated PDFs extract every line") {
    val prop = Prop.forAll(pdfCase.map(_.copy(mutation = 0))) { c =>
      val text = PdfParser.extractText(render(c))
      c.pages.flatten.forall(text.contains)
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(500).withWorkers(1)
      .withInitialSeed(Seed(7L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("hostile html shapes never throw") {
    val cases = Seq(
      "<" * 5000,
      ">" * 5000,
      "<div>" * 3000, // deep nesting (iterative traversal must hold)
      "</div>" * 3000,
      "<p " + "a='b' " * 2000 + ">x</p>",
      "&" * 4000,
      "&#xFFFFFFFF;&#0;&#55296;",
      "<script>" + "x" * 5000, // unterminated raw text
      "<!--" + "y" * 5000, // unterminated comment
      " 𐏿<p>z</p>",
      ("<a href='x'>" * 2000) + "t")
    cases.foreach { html =>
      val res = Extractor.extract(page(html.getBytes("UTF-8")))
      assert(Set("OK", "PARTIAL", "FAILED").contains(res.status))
    }
  }

  test("property: tokenizer preserves non-markup text content") {
    // plain words placed in block elements must all appear in the
    // assembled full text (SURVEY §5 "tokenizer never loses text bytes")
    val r = new java.util.Random(13)
    for (_ <- 0 until 100) {
      val words = (0 until 5 + r.nextInt(20)).map(i => s"w${r.nextInt(1000)}x$i")
      val html = "<html><body>" +
        words.map(w => s"<p>$w</p>").mkString + "</body></html>"
      val seg = graft.html.BlockSegmenter.segment(
        graft.html.HtmlTokenizer.parseString(html))
      val full = graft.html.ContentClassifier.assemble(
        graft.html.ContentClassifier.fullText(seg.blocks))
      words.foreach(w => assert(full.contains(w), s"lost $w"))
    }
  }
}

object FuzzSpec {

  /** A valid PDF plus one mutation. `tree` builds a catalog, page tree
    * and font (packed into a Flate /ObjStm when `objStm`) over one
    * content stream per page, as the benchmark's generator does; without
    * it, bare content streams as the golden fixture's PDFs. `enc` picks
    * the content encoding; `mutation` 0 keeps the document valid, 1-6
    * rewrite one field with values drawn from `seed`: the filter chain,
    * /DecodeParms, /Length, the ObjStm /N and /First, the stream count,
    * or a truncation offset. */
  private final case class PdfCase(pages: List[List[String]], tree: Boolean,
      objStm: Boolean, enc: Int, mutation: Int, seed: Long)
}
