package graft.pdf

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

class PdfKernelSpec extends AnyFunSuite {

  private def budget = new PdfParser.DecodeBudget(1L << 20)

  private def pdf(content: String): Array[Byte] =
    (s"%PDF-1.4\n1 0 obj << /Length ${content.length} >>\nstream\n" +
      content + "\nendstream\nendobj\n%%EOF\n").getBytes(UTF_8)

  test("magic-byte detection") {
    assert(PdfParser.isPdf("%PDF-1.4".getBytes(UTF_8)))
    assert(!PdfParser.isPdf("<html>".getBytes(UTF_8)))
    assert(!PdfParser.isPdf(Array.emptyByteArray))
    assert(!PdfParser.isPdf(null))
  }

  test("single column reads top to bottom") {
    val content = "BT /F1 12 Tf 72 720 Td (First line) Tj " +
      "0 -14 Td (Second line) Tj 0 -14 Td (Third line) Tj ET"
    val text = PdfParser.extractText(pdf(content))
    assert(text == "First line\nSecond line\nThird line")
  }

  test("two columns read left column first") {
    val content = "BT /F1 12 Tf " +
      "1 0 0 1 72 720 Tm (L one) Tj 1 0 0 1 72 706 Tm (L two) Tj " +
      "1 0 0 1 400 720 Tm (R one) Tj 1 0 0 1 400 706 Tm (R two) Tj ET"
    val text = PdfParser.extractText(pdf(content))
    assert(text == "L one\nL two\nR one\nR two")
  }

  test("TJ arrays and escapes") {
    val content = "BT /F1 12 Tf 72 720 Td [(Hel) (lo)] TJ " +
      "0 -14 Td (paren \\( ok \\)) Tj ET"
    val text = PdfParser.extractText(pdf(content))
    assert(text.startsWith("Hello"))
    assert(text.contains("paren ( ok )"))
  }

  test("hex strings decoded") {
    val content = "BT /F1 12 Tf 72 720 Td <48 65 6C 6C 6F> Tj ET"
    assert(PdfParser.extractText(pdf(content)) == "Hello")
  }

  test("multi-page joined with PAGE BREAK separator") {
    val c1 = "BT /F1 12 Tf 72 720 Td (Page one) Tj ET"
    val c2 = "BT /F1 12 Tf 72 720 Td (Page two) Tj ET"
    val bytes = (s"%PDF-1.4\n" +
      s"1 0 obj << /Length ${c1.length} >>\nstream\n$c1\nendstream\nendobj\n" +
      s"2 0 obj << /Length ${c2.length} >>\nstream\n$c2\nendstream\nendobj\n" +
      "%%EOF\n").getBytes(UTF_8)
    assert(PdfParser.extractText(bytes) ==
      "Page one\n\n--- PAGE BREAK ---\n\nPage two")
  }

  test("FlateDecode streams inflated") {
    val content = "BT /F1 12 Tf 72 720 Td (Compressed hello) Tj ET"
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(content.getBytes(UTF_8)); deflater.finish()
    val buf = new Array[Byte](4096)
    val n = deflater.deflate(buf)
    val compressed = java.util.Arrays.copyOf(buf, n)
    val bytes = ("%PDF-1.4\n1 0 obj << /Length " + n +
      " /Filter /FlateDecode >>\nstream\n").getBytes(UTF_8) ++ compressed ++
      "\nendstream\nendobj\n%%EOF\n".getBytes(UTF_8)
    assert(PdfParser.extractText(bytes) == "Compressed hello")
  }

  // ---- stream filters beyond Flate ---------------------------------

  /** Reference TIFF/PDF LZW encoder (EarlyChange = 1) for roundtrip
    * tests: 9→12-bit codes MSB-first, clear = 256, EOD = 257. */
  private def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val table = scala.collection.mutable.HashMap.empty[Seq[Byte], Int]
    for (b <- 0 until 256) table(Seq(b.toByte)) = b
    var dictSize = 258
    var codeBits = 9
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0
    def emit(code: Int): Unit = {
      bitBuf = (bitBuf << codeBits) | code
      bitCnt += codeBits
      while (bitCnt >= 8) {
        out.write(((bitBuf >> (bitCnt - 8)) & 0xff).toInt)
        bitCnt -= 8
      }
    }
    emit(256) // leading clear (common in real encoders)
    var w = Seq.empty[Byte]
    data.foreach { c =>
      val wc = w :+ c
      if (table.contains(wc)) w = wc
      else {
        emit(table(w))
        if (dictSize < 4096) {
          table(wc) = dictSize
          dictSize += 1
          // encoder switches one ADD later than the decoder's
          // (dictSize + 1) rule: the decoder's table lags by one entry
          // at read time, so both sides widen before the same code
          if (codeBits < 12 && dictSize >= (1 << codeBits)) codeBits += 1
        }
        w = Seq(c)
      }
    }
    if (w.nonEmpty) emit(table(w))
    emit(257) // EOD
    if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt)
    out.toByteArray
  }

  /** Build a one-object PDF whose stream carries `payload` with the
    * given /Filter entry. */
  private def filteredPdf(filterEntry: String, payload: Array[Byte]): Array[Byte] =
    (s"%PDF-1.4\n1 0 obj << /Length ${payload.length} " +
      s"/Filter $filterEntry >>\nstream\n").getBytes(UTF_8) ++ payload ++
      "\nendstream\nendobj\n%%EOF\n".getBytes(UTF_8)

  private val filterContent =
    "BT /F1 12 Tf 72 720 Td (Filtered hello) Tj 0 -14 Td (line two) Tj ET"
  private val filterExpect = "Filtered hello\nline two"

  test("ASCIIHexDecode streams decode (whitespace + odd digit + >)") {
    val hex = filterContent.getBytes(UTF_8)
      .map(b => f"${b & 0xff}%02X").mkString(" ") + " >"
    assert(PdfParser.extractText(
      filteredPdf("/ASCIIHexDecode", hex.getBytes(UTF_8))) == filterExpect)
    // odd trailing digit pads with 0
    assert(PdfParser.asciiHexDecode("41424 >".getBytes(UTF_8))
      .sameElements(Array[Byte]('A', 'B', 0x40)))
  }

  test("ASCII85Decode streams decode (z shortcut, partial group, ~>)") {
    // encode with a reference implementation in the test
    def enc(data: Array[Byte]): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < data.length) {
        val n = math.min(4, data.length - i)
        var t = 0L
        for (j <- 0 until 4)
          t = (t << 8) | (if (i + j < data.length) data(i + j) & 0xff else 0)
        if (n == 4 && t == 0L) sb += 'z'
        else {
          val cs = new Array[Char](5)
          var v = t
          for (j <- 4 to 0 by -1) { cs(j) = ('!' + (v % 85).toInt).toChar; v /= 85 }
          sb.appendAll(cs, 0, n + 1)
        }
        i += n
      }
      sb.append("~>").toString
    }
    val payload = enc(filterContent.getBytes(UTF_8))
    assert(PdfParser.extractText(
      filteredPdf("/ASCII85Decode", payload.getBytes(UTF_8))) == filterExpect)
    // z = four zero bytes
    assert(PdfParser.ascii85Decode("z~>".getBytes(UTF_8), budget)
      .sameElements(Array[Byte](0, 0, 0, 0)))
  }

  test("RunLengthDecode streams decode (literal + run + EOD)") {
    // hand-built chunks: literal, 40-byte run of 'u', literal, EOD
    val head = "BT /F1 12 Tf 72 720 Td (r".getBytes(UTF_8)
    val tail = "n) Tj ET".getBytes(UTF_8)
    val out = new java.io.ByteArrayOutputStream()
    out.write(head.length - 1); out.write(head, 0, head.length)
    out.write(257 - 40); out.write('u') // run: repeat 'u' 40 times
    out.write(tail.length - 1); out.write(tail, 0, tail.length)
    out.write(128) // EOD
    val raw = head ++ Array.fill(40)('u'.toByte) ++ tail
    assert(PdfParser.runLengthDecode(out.toByteArray, budget).sameElements(raw))
    assert(PdfParser.extractText(
      filteredPdf("/RunLengthDecode", out.toByteArray)) ==
      "r" + "u" * 40 + "n")
  }

  test("LZWDecode streams decode (incl. table growth past 9 bits)") {
    // content long enough to push the table past 511 entries (10-bit
    // codes) so the EarlyChange width switch is exercised
    val long = (0 until 300).map(i => s"(w$i x${i * 7 % 97}) Tj 0 -2 Td")
      .mkString("BT /F1 4 Tf 72 9000 Td ", " ", " ET")
    val raw = long.getBytes(UTF_8)
    val encoded = lzwEncode(raw)
    assert(PdfParser.lzwDecode(encoded, budget).sameElements(raw),
      "lzw roundtrip mismatch")
    // and through the full parser on a simple doc
    val simple = "BT /F1 12 Tf 72 720 Td (Filtered hello) Tj 0 -14 Td (line two) Tj ET"
    assert(PdfParser.extractText(
      filteredPdf("/LZWDecode", lzwEncode(simple.getBytes(UTF_8)))) ==
      filterExpect)
    // KwKwK pattern (code == dictSize at decode time)
    val kwk = "ababababab".getBytes(UTF_8)
    assert(PdfParser.lzwDecode(lzwEncode(kwk), budget).sameElements(kwk))
  }

  test("filter arrays apply first-to-last: [/ASCII85Decode /FlateDecode]") {
    val deflater = new java.util.zip.Deflater()
    val raw = filterContent.getBytes(UTF_8)
    deflater.setInput(raw); deflater.finish()
    val buf = new Array[Byte](4096)
    val n = deflater.deflate(buf)
    val compressed = java.util.Arrays.copyOf(buf, n)
    // writer order: deflate first, THEN ascii85-armor — the reader
    // must undo ascii85 first, then inflate
    def enc85(data: Array[Byte]): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < data.length) {
        val k = math.min(4, data.length - i)
        var t = 0L
        for (j <- 0 until 4)
          t = (t << 8) | (if (i + j < data.length) data(i + j) & 0xff else 0)
        if (k == 4 && t == 0L) sb += 'z'
        else {
          val cs = new Array[Char](5)
          var v = t
          for (j <- 4 to 0 by -1) { cs(j) = ('!' + (v % 85).toInt).toChar; v /= 85 }
          sb.appendAll(cs, 0, k + 1)
        }
        i += k
      }
      sb.append("~>").toString
    }
    val armored = enc85(compressed).getBytes(UTF_8)
    assert(PdfParser.extractText(
      filteredPdf("[ /ASCII85Decode /FlateDecode ]", armored)) == filterExpect)
    assert(PdfParser.filtersOf("<< /Filter [ /ASCII85Decode /FlateDecode ] >>")
      == List("ASCII85Decode", "FlateDecode"))
    assert(PdfParser.filtersOf("<< /Filter /FlateDecode >>")
      == List("FlateDecode"))
    assert(PdfParser.filtersOf("<< /Length 5 >>") == Nil)
  }

  // ---- /DecodeParms predictors (§7.4.4.4) --------------------------

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](raw.length * 2 + 64)
    val n = d.deflate(buf)
    java.util.Arrays.copyOf(buf, n)
  }

  /** Reference PNG row-filter ENCODER (colors=1, bpc=8): one tag byte
    * per row, cycling through all five filter types so every un-filter
    * branch is exercised. */
  private def pngPredict(data: Array[Byte], columns: Int): Array[Byte] = {
    require(data.length % columns == 0)
    val rows = data.length / columns
    val out = new Array[Byte](rows * (columns + 1))
    for (r <- 0 until rows) {
      val tag = r % 5
      out(r * (columns + 1)) = tag.toByte
      for (i <- 0 until columns) {
        val x = data(r * columns + i) & 0xff
        val left = if (i >= 1) data(r * columns + i - 1) & 0xff else 0
        val up = if (r > 0) data((r - 1) * columns + i) & 0xff else 0
        val ul = if (r > 0 && i >= 1) data((r - 1) * columns + i - 1) & 0xff else 0
        val pred = tag match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) >> 1
          case _ =>
            val pp = left + up - ul
            val pa = math.abs(pp - left); val pb = math.abs(pp - up)
            val pc = math.abs(pp - ul)
            if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
        }
        out(r * (columns + 1) + 1 + i) = (x - pred).toByte
      }
    }
    out
  }

  /** Pad with spaces (whitespace between PDF tokens) to a row multiple. */
  private def padTo(content: String, columns: Int): String =
    content + " " * ((columns - content.length % columns) % columns)

  test("PNG predictor 12 on a Flate content stream is byte-identical") {
    val columns = 7
    val content = padTo(
      "BT /F1 12 Tf 72 720 Td (Predictor twelve ok) Tj " +
        "0 -14 Td (second line) Tj ET", columns)
    val expect = PdfParser.extractText(pdf(content))
    assert(expect.contains("Predictor twelve ok"))
    val predicted = pngPredict(content.getBytes(UTF_8), columns)
    val payload = deflate(predicted)
    val bytes = (s"%PDF-1.4\n1 0 obj << /Length ${payload.length} " +
      s"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns $columns >> " +
      ">>\nstream\n").getBytes(UTF_8) ++ payload ++
      "\nendstream\nendobj\n%%EOF\n".getBytes(UTF_8)
    assert(PdfParser.extractText(bytes) == expect)
  }

  test("TIFF predictor 2 (horizontal differencing) decodes") {
    val columns = 9
    val content = padTo(
      "BT /F1 12 Tf 72 720 Td (Tiff predictor ok) Tj ET", columns)
    val expect = PdfParser.extractText(pdf(content))
    val raw = content.getBytes(UTF_8)
    val diffed = raw.clone()
    for (r <- 0 until raw.length / columns;
         i <- (r * columns + columns - 1) to (r * columns + 1) by -1)
      diffed(i) = (raw(i) - raw(i - 1)).toByte
    val payload = deflate(diffed)
    val bytes = (s"%PDF-1.4\n1 0 obj << /Length ${payload.length} " +
      s"/Filter /FlateDecode /DecodeParms << /Predictor 2 /Columns $columns >> " +
      ">>\nstream\n").getBytes(UTF_8) ++ payload ++
      "\nendstream\nendobj\n%%EOF\n".getBytes(UTF_8)
    assert(PdfParser.extractText(bytes) == expect)
  }

  test("DecodeParms ARRAY aligns positionally with the filter array") {
    val columns = 5
    val content = padTo(
      "BT /F1 12 Tf 72 720 Td (Array parms ok) Tj ET", columns)
    val expect = PdfParser.extractText(pdf(content))
    val predicted = pngPredict(content.getBytes(UTF_8), columns)
    // writer: predict → deflate → hex-armor; reader: hex → inflate+unpredict
    val hex = deflate(predicted).map(b => f"${b & 0xff}%02X").mkString + ">"
    val bytes = (s"%PDF-1.4\n1 0 obj << /Length ${hex.length} " +
      "/Filter [ /ASCIIHexDecode /FlateDecode ] " +
      s"/DecodeParms [ null << /Predictor 10 /Columns $columns >> ] " +
      ">>\nstream\n").getBytes(UTF_8) ++ hex.getBytes(UTF_8) ++
      "\nendstream\nendobj\n%%EOF\n".getBytes(UTF_8)
    assert(PdfParser.extractText(bytes) == expect)
  }

  test("/DP abbreviation and LZW+predictor chains decode") {
    val columns = 4
    val content = padTo(
      "BT /F1 12 Tf 72 720 Td (DP lzw ok) Tj ET", columns)
    val expect = PdfParser.extractText(pdf(content))
    val predicted = pngPredict(content.getBytes(UTF_8), columns)
    val payload = lzwEncode(predicted)
    val bytes = (s"%PDF-1.4\n1 0 obj << /Length ${payload.length} " +
      s"/Filter /LZWDecode /DP << /Predictor 15 /Columns $columns >> " +
      ">>\nstream\n").getBytes(UTF_8) ++ payload ++
      "\nendstream\nendobj\n%%EOF\n".getBytes(UTF_8)
    assert(PdfParser.extractText(bytes) == expect)
    // parms parser forms
    val single = PdfParser.decodeParmsOf(
      "<< /Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 7 /Colors 3 >> >>")
    assert(single(0) == PdfParser.PredictorParms(12, 3, 8, 7))
    assert(single(1) == PdfParser.PredictorParms(1, 1, 8, 1))
    val arr = PdfParser.decodeParmsOf(
      "<< /Filter [ /AHx /Fl ] /DecodeParms [ null << /Predictor 2 /Columns 9 >> ] >>")
    assert(arr(0) == PdfParser.PredictorParms(1, 1, 8, 1))
    assert(arr(1) == PdfParser.PredictorParms(2, 1, 8, 9))
    assert(PdfParser.decodeParmsOf("<< /Length 5 >>")(0) ==
      PdfParser.PredictorParms(1, 1, 8, 1))
  }

  test("undecodable predictor geometry yields no garbage text") {
    // declared Columns disagrees with the data length → the stream is
    // undecodable (null), never predictor-encoded bytes fed to the
    // interpreter as content
    val content = padTo("BT (never surfaces) Tj ET", 7)
    val predicted = pngPredict(content.getBytes(UTF_8), 7)
    val payload = deflate(predicted)
    val bytes = (s"%PDF-1.4\n1 0 obj << /Length ${payload.length} " +
      "/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 1000 >> " +
      ">>\nstream\n").getBytes(UTF_8) ++ payload ++
      "\nendstream\nendobj\n%%EOF\n".getBytes(UTF_8)
    val text = PdfParser.extractText(bytes)
    assert(text == "", s"expected no decodable stream, got: '$text'")
    // unit geometry checks
    assert(PdfParser.applyPredictor(
      PdfParser.PredictorParms(12, 1, 8, 4), new Array[Byte](7)) == null)
    assert(PdfParser.applyPredictor(
      PdfParser.PredictorParms(2, 1, 4, 4), new Array[Byte](8)) == null)
    assert(PdfParser.applyPredictor(
      PdfParser.PredictorParms(7, 1, 8, 4), new Array[Byte](8)) == null)
  }

  test("quote operator advances line") {
    val content = "BT /F1 12 Tf 14 TL 72 720 Td (a) Tj (b) ' ET"
    assert(PdfParser.extractText(pdf(content)) == "a\nb")
  }

  test("page tree: one page split across two content streams is ONE page") {
    val c1 = "BT /F1 12 Tf 72 720 Td (Top half) Tj ET"
    val c2 = "BT /F1 12 Tf 72 700 Td (Bottom half) Tj ET"
    val bytes = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents [4 0 R 5 0 R] >> endobj\n" +
      s"4 0 obj << /Length ${c1.length} >>\nstream\n$c1\nendstream\nendobj\n" +
      s"5 0 obj << /Length ${c2.length} >>\nstream\n$c2\nendstream\nendobj\n" +
      "%%EOF\n").getBytes(UTF_8)
    // no PAGE BREAK: both streams belong to page 3
    assert(PdfParser.extractText(bytes) == "Top half\nBottom half")
  }

  test("page tree: kid order wins over object order") {
    val c1 = "BT /F1 12 Tf 72 720 Td (Second in file, first in tree) Tj ET"
    val c2 = "BT /F1 12 Tf 72 720 Td (First in file, second in tree) Tj ET"
    val bytes = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [6 0 R 3 0 R] /Count 2 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
      s"4 0 obj << /Length ${c2.length} >>\nstream\n$c2\nendstream\nendobj\n" +
      s"5 0 obj << /Length ${c1.length} >>\nstream\n$c1\nendstream\nendobj\n" +
      "6 0 obj << /Type /Page /Parent 2 0 R /Contents 5 0 R >> endobj\n" +
      "%%EOF\n").getBytes(UTF_8)
    assert(PdfParser.extractText(bytes) ==
      "Second in file, first in tree\n\n--- PAGE BREAK ---\n\n" +
        "First in file, second in tree")
  }

  test("CID hex strings map through ToUnicode; unmapped becomes U+FFFD") {
    // ToUnicode CMap: CID 0001->H, 0002->i, range 0010..0012 -> a,b,c
    val cmap = "/CIDInit /ProcSet findresource begin begincmap\n" +
      "2 beginbfchar\n<0001> <0048>\n<0002> <0069>\nendbfchar\n" +
      "1 beginbfrange\n<0010> <0012> <0061>\nendbfrange\n" +
      "endcmap end"
    val content = "BT /F1 12 Tf 72 720 Td <0001 0002> Tj " +
      "0 -14 Td <0010 0011 0012> Tj 0 -14 Td <0001 00FF> Tj ET"
    val bytes = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
      s"4 0 obj << /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n" +
      "5 0 obj << /Type /Font /Subtype /Type0 /Encoding /Identity-H " +
      "/ToUnicode 6 0 R >> endobj\n" +
      s"6 0 obj << /Length ${cmap.length} >>\nstream\n$cmap\nendstream\nendobj\n" +
      "%%EOF\n").getBytes(UTF_8)
    val text = PdfParser.extractText(bytes)
    assert(text == "Hi\nabc\nH�", text.map(_.toInt).mkString(","))
  }

  test("WinAnsi /Encoding decodes cp1252 bytes (accented text, typography)") {
    // 0xE9 = é in cp1252; 0x93/0x94 = curly quotes; 0x85 = ellipsis
    val content =
      "BT /F1 12 Tf 72 720 Td (caf\u00e9 \u0093ok\u0094\u0085) Tj ET"
    val bytes = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /Font << /F1 5 0 R >> >> >> endobj\n" +
      s"4 0 obj << /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n" +
      "5 0 obj << /Type /Font /Subtype /TrueType /BaseFont /Helv " +
      "/Encoding /WinAnsiEncoding >> endobj\n" +
      "%%EOF\n").getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val text = PdfParser.extractText(bytes)
    assert(text == "café “ok”…", text.map(_.toInt).mkString(","))
  }

  test("/Differences remaps codes over the base encoding") {
    // code 65 ('A') → eacute, 66 ('B') → Euro via uni20AC, 67 stays 'C'
    val content = "BT /F1 12 Tf 72 720 Td (ABC) Tj ET"
    val bytes = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /Font << /F1 5 0 R >> >> >> endobj\n" +
      s"4 0 obj << /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n" +
      "5 0 obj << /Type /Font /Subtype /Type1 /Encoding 6 0 R >> endobj\n" +
      "6 0 obj << /Type /Encoding /BaseEncoding /WinAnsiEncoding " +
      "/Differences [ 65 /eacute 66 /uni20AC ] >> endobj\n" +
      "%%EOF\n").getBytes(UTF_8)
    assert(PdfParser.extractText(bytes) == "é€C")
  }

  test("unencoded fonts keep byte-identity (no /Encoding, no table)") {
    val content = "BT /F1 12 Tf 72 720 Td (plain ascii) Tj ET"
    assert(PdfParser.extractText(pdf(content)) == "plain ascii")
  }

  test("bfrange array form maps each code to its own target") {
    val cmap = "begincmap\n" +
      "1 beginbfrange\n<0005> <0007> [<0058> <0059> <005A>]\nendbfrange\n" +
      "1 beginbfrange\n<0020> <0021> <0030>\nendbfrange\nendcmap"
    val content = "BT /F1 12 Tf 72 720 Td <0005 0006 0007 0020 0021> Tj ET"
    val bytes = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
      s"4 0 obj << /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n" +
      "5 0 obj << /Type /Font /Subtype /Type0 /Encoding /Identity-H " +
      "/ToUnicode 6 0 R >> endobj\n" +
      s"6 0 obj << /Length ${cmap.length} >>\nstream\n$cmap\nendstream\nendobj\n" +
      "%%EOF\n").getBytes(UTF_8)
    assert(PdfParser.extractText(bytes) == "XYZ01")
  }

  test("phantom 'obj' bytes inside stream payloads create no objects") {
    // the payload spells "7 0 obj << /Type /Page ..." — a naive scanner
    // would register object 7 and corrupt the page set
    val trap = "7 0 obj << /Type /Page /Contents 9 0 R >> endobj"
    val content = "BT /F1 12 Tf 72 720 Td (real page) Tj ET"
    val bytes = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
      s"5 0 obj << /Length ${trap.length} >>\nstream\n$trap\nendstream\nendobj\n" +
      s"4 0 obj << /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n" +
      "%%EOF\n").getBytes(UTF_8)
    assert(PdfParser.extractText(bytes) == "real page")
  }

  test("per-page /Resources scope font tables (simple /F1 vs Type0 /F1)") {
    // page 1 binds /F1 to a WinAnsi simple font; page 2 binds the SAME
    // name to a Type0 CID font — a document-wide first-binding-wins
    // table would byte-decode page 2's 2-byte CID hex into mojibake
    val cmap = "begincmap\n2 beginbfchar\n<0001> <0048>\n<0002> <0069>\n" +
      "endbfchar\nendcmap"
    val c1 = "BT /F1 12 Tf 72 720 Td (café) Tj ET" // 0xE9 = WinAnsi é
    val c2 = "BT /F1 12 Tf 72 720 Td <0001 0002> Tj ET" // CIDs → "Hi"
    val bytes = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R 7 0 R] /Count 2 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /Font << /F1 5 0 R >> >> >> endobj\n" +
      s"4 0 obj << /Length ${c1.length} >>\nstream\n$c1\nendstream\nendobj\n" +
      "5 0 obj << /Type /Font /Subtype /TrueType " +
      "/Encoding /WinAnsiEncoding >> endobj\n" +
      "7 0 obj << /Type /Page /Parent 2 0 R /Contents 8 0 R " +
      "/Resources << /Font << /F1 9 0 R >> >> >> endobj\n" +
      s"8 0 obj << /Length ${c2.length} >>\nstream\n$c2\nendstream\nendobj\n" +
      "9 0 obj << /Type /Font /Subtype /Type0 /Encoding /Identity-H " +
      "/ToUnicode 10 0 R >> endobj\n" +
      s"10 0 obj << /Length ${cmap.length} >>\nstream\n$cmap\nendstream\nendobj\n" +
      "%%EOF\n").getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val text = PdfParser.extractText(bytes)
    assert(text == "café\n\n--- PAGE BREAK ---\n\nHi",
      text.map(_.toInt).mkString(","))
  }

  test("indirect /Resources and indirect /Font dicts resolve") {
    val content = "BT /F1 12 Tf 72 720 Td (café) Tj ET"
    val bytes = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources 6 0 R >> endobj\n" +
      s"4 0 obj << /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n" +
      "6 0 obj << /Font 7 0 R >> endobj\n" +
      "7 0 obj << /F1 5 0 R >> endobj\n" +
      "5 0 obj << /Type /Font /Subtype /TrueType " +
      "/Encoding /WinAnsiEncoding >> endobj\n" +
      "%%EOF\n").getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(PdfParser.extractText(bytes) == "café")
  }

  test("PDF 1.5 object streams: page tree inside a compressed /ObjStm") {
    // catalog + pages + page dicts live INSIDE a FlateDecode /ObjStm
    // (how modern writers emit them); only the content stream is a
    // regular top-level object
    val embedded = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    val bodies = embedded.map(_._2)
    val offsets = bodies.scanLeft(0)(_ + _.length + 1).init
    val header = embedded.map(_._1).zip(offsets)
      .map { case (num, off) => s"$num $off" }.mkString(" ") + " "
    val payload = header + bodies.mkString("\n") + "\n"
    val first = header.length
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(payload.getBytes(UTF_8)); deflater.finish()
    val buf = new Array[Byte](8192)
    val zn = deflater.deflate(buf)
    val z = java.util.Arrays.copyOf(buf, zn)
    val content = "BT /F1 12 Tf 72 720 Td (From an object stream) Tj ET"
    val bytes = ("%PDF-1.5\n" +
      s"5 0 obj << /Type /ObjStm /N 3 /First $first /Length $zn " +
      "/Filter /FlateDecode >>\nstream\n").getBytes(UTF_8) ++ z ++
      ("\nendstream\nendobj\n" +
        s"4 0 obj << /Length ${content.length} >>\nstream\n$content" +
        "\nendstream\nendobj\n%%EOF\n").getBytes(UTF_8)
    assert(PdfParser.extractText(bytes) == "From an object stream")
    // top-level objects override same-numbered embedded ones
    assert(PdfParser.unpackObjStm("<< /Type /ObjStm /N 1 /First 4 >>",
      "9 0 << /A 1 >>") == List(9 -> "<< /A 1 >>"))
  }

  test("ObjStm pages resolve fonts from their compressed /Resources") {
    // the page dict AND its font dict live inside the ObjStm; the
    // page's /Resources must resolve through the unpacked object table
    val embedded = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> ("<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
        "/Resources << /Font << /F1 6 0 R >> >> >>"),
      6 -> "<< /Type /Font /Subtype /TrueType /Encoding /WinAnsiEncoding >>")
    val bodies = embedded.map(_._2)
    val offsets = bodies.scanLeft(0)(_ + _.length + 1).init
    val header = embedded.map(_._1).zip(offsets)
      .map { case (num, off) => s"$num $off" }.mkString(" ") + " "
    val payload = header + bodies.mkString("\n") + "\n"
    val first = header.length
    val content = "BT /F1 12 Tf 72 720 Td (café) Tj ET" // 0xE9 WinAnsi
    val bytes = ("%PDF-1.5\n" +
      s"5 0 obj << /Type /ObjStm /N 4 /First $first " +
      s"/Length ${payload.length} >>\nstream\n$payload\nendstream\nendobj\n" +
      s"4 0 obj << /Length ${content.length} >>\nstream\n$content" +
      "\nendstream\nendobj\n%%EOF\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(PdfParser.extractText(bytes) == "café")
  }

  test("dict-less stream spam stays linear (bounded backscan)") {
    // a malformed doc repeating `stream` with no dicts once cost O(len)
    // of backward scan PER token (quadratic overall); streams are now
    // read only inside object bodies. 2 MB / ~60k tokens must finish fast.
    val sb = new StringBuilder("%PDF-1.4\n")
    while (sb.length < 2 * 1024 * 1024) sb.append("stream endstream ")
    val bytes = sb.toString
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val t0 = System.nanoTime()
    PdfParser.extractText(bytes) // must not throw, must not crawl
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 10.0, f"dict-less stream spam took $sec%.1f s")
  }

  test("garbage never throws") {
    assert(PdfParser.extractText("%PDF-1.4 garbage".getBytes(UTF_8)) == "")
    val r = new java.util.Random(1)
    val junk = new Array[Byte](1024)
    r.nextBytes(junk)
    junk(0) = '%'; junk(1) = 'P'; junk(2) = 'D'; junk(3) = 'F'; junk(4) = '-'
    PdfParser.extractText(junk) // must not throw
  }

  // ------------------------------------------------------------------
  // one object scan, decode on demand

  private def streamObj(num: Int, dict: String, data: String): String =
    s"$num 0 obj << /Length ${data.length}$dict >>\nstream\n$data\nendstream\nendobj\n"

  test("tree-less incremental update: both definitions of an object, in scan order") {
    // the fallback reads every stream object the scan met, the
    // shadowed first definition of object 1 included
    val bytes = ("%PDF-1.4\n" +
      streamObj(1, "", "BT /F1 12 Tf 72 720 Td (Old page) Tj ET") +
      streamObj(2, "", "BT /F1 12 Tf 72 720 Td (Other page) Tj ET") +
      "%%EOF\n" +
      streamObj(1, "", "BT /F1 12 Tf 72 720 Td (New page) Tj ET") +
      "%%EOF\n").getBytes(UTF_8)
    assert(PdfParser.extractText(bytes).split(PdfParser.PageBreak).toSeq ==
      Seq("Old page", "Other page", "New page"))
  }

  test("a PDF cut inside its page tree falls back to stream order") {
    val bytes = ("%PDF-1.4\n" +
      streamObj(4, "", "BT /F1 12 Tf 72 720 Td (Second by tree) Tj ET") +
      streamObj(5, "", "BT /F1 12 Tf 72 720 Td (First by tree) Tj ET") +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [6 0 R 3 0 R] /Count 2 >> endobj\n" +
      "6 0 obj << /Type /Page /Parent 2 0 R /Contents 5 0 R >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
      "%%EOF\n").getBytes(UTF_8)
    assert(PdfParser.extractText(bytes).split(PdfParser.PageBreak).toSeq ==
      Seq("First by tree", "Second by tree"))
    val cut = new String(bytes, UTF_8).indexOf("[6 0 R") + 3
    assert(PdfParser.extractText(bytes.take(cut)).split(PdfParser.PageBreak)
      .toSeq == Seq("Second by tree", "First by tree"))
  }

  test("CID text with a large Flate image: the image is never decoded") {
    // 16 MB of zeros deflate to ~16 KB: decoding the image would spend
    // far more than this document's decode budget
    val d = new java.util.zip.Deflater(9)
    val zs = new java.io.ByteArrayOutputStream()
    val zeros = new Array[Byte](1 << 20)
    val buf = new Array[Byte](1 << 16)
    for (_ <- 0 until 16) {
      d.setInput(zeros)
      while (!d.needsInput()) zs.write(buf, 0, d.deflate(buf))
    }
    d.finish()
    while (!d.finished()) zs.write(buf, 0, d.deflate(buf))
    d.end()
    val image = zs.toByteArray
    val cmap = "/CIDInit /ProcSet findresource begin begincmap\n" +
      "2 beginbfchar\n<0001> <0048>\n<0002> <0069>\nendbfchar\nendcmap end"
    val content = "BT /F1 12 Tf 72 720 Td <0001 0002> Tj ET"
    val head = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /XObject << /Im1 7 0 R >> >> >> endobj\n" +
      streamObj(4, "", content) +
      "5 0 obj << /Type /Font /Subtype /Type0 /Encoding /Identity-H " +
      "/ToUnicode 6 0 R >> endobj\n" +
      streamObj(6, "", cmap) +
      s"7 0 obj << /Type /XObject /Subtype /Image /Width 4096 /Height 4096 " +
      s"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length ${image.length} " +
      "/Filter /FlateDecode >>\nstream\n").getBytes(UTF_8)
    val bytes = head ++ image ++ "\nendstream\nendobj\n%%EOF\n".getBytes(UTF_8)
    assert(PdfParser.DecodeMultiple * bytes.length < (16 << 20))
    assert(PdfParser.extractText(bytes) == "Hi")
  }

  test("a stream with no object header is not read") {
    // not valid PDF; xref reconstruction does not find it either
    val bytes = ("%PDF-1.4\n<< /Length 36 >>\nstream\n" +
      "BT /F1 12 Tf 72 720 Td (Hidden) Tj ET\nendstream\n%%EOF\n")
      .getBytes(UTF_8)
    assert(PdfParser.extractText(bytes) == "")
  }

  test("a document that decodes past its budget throws the budget error") {
    val d = new java.util.zip.Deflater(9)
    d.setInput(new Array[Byte](1 << 20)); d.finish()
    val buf = new Array[Byte](1 << 16)
    val z = java.util.Arrays.copyOf(buf, d.deflate(buf))
    d.end()
    val bytes = ("%PDF-1.4\n" + s"1 0 obj << /Length ${z.length} " +
      "/Filter /FlateDecode >>\nstream\n").getBytes(UTF_8) ++ z ++
      "\nendstream\nendobj\n%%EOF\n".getBytes(UTF_8)
    assert(PdfParser.DecodeMultiple * bytes.length < (1 << 20))
    intercept[PdfParser.DecodeBudgetExceeded](PdfParser.extractText(bytes))
  }
}
