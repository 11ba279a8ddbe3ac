package graftbench

import java.io.{ByteArrayOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.SplittableRandom
import java.util.zip.{Deflater, DeflaterOutputStream, GZIPOutputStream}

/** Input generators owned by the benchmark. Every input byte comes from
  * here; nothing calls the program's own synthesizers or writers, so a
  * program change cannot change the input.
  *
  * Seed invariance: the document index alone fixes each document's
  * kind, structure, word count, duplicate/cluster membership, edit
  * positions and planted corruption. The seed only picks which words
  * fill the slots (and the digits of amounts), so counts and route mix
  * are identical across seeds and byte totals agree within a fraction
  * of a percent.
  */
object Gen {

  // ------------------------------------------------------------ randomness

  def mix64(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Per-document stream: depends on (seed, stream tag, index). */
  def rng(seed: Long, tag: Int, i: Long): SplittableRandom =
    new SplittableRandom(mix64(mix64(seed * 0x9e3779b97f4a7c15L + tag) ^ i))

  /** Seed-independent hash of structure coordinates (edit positions, …). */
  def shape(tag: Int, a: Long, b: Long): Long =
    mix64(mix64(tag.toLong * 0x632be59bd9b4e019L + a) ^ (b * 0x9e3779b97f4a7c15L))

  // ---------------------------------------------------------------- words

  /** Fixed pseudo-word tables (built from a constant seed): the run seed
    * picks words from them but never changes them. */
  object Vocab {
    private val Syl = Array("ka", "lo", "mi", "ter", "van", "sul", "po",
      "rid", "nex", "ba", "tor", "gel", "mun", "cas", "fir", "dal", "ven",
      "sor", "plu", "kim", "zan", "bre", "tul", "hom", "jex", "wal", "ric",
      "nov", "pim", "sat")
    private val EditSyl = Array("qy", "xw", "vq", "zq", "wx", "qz")

    /** Marker words per language, each used by one language only. */
    val Markers: Map[String, Array[String]] = Map(
      "en" -> Array("the", "and", "of", "is", "that", "with", "this", "are",
        "was", "not", "you"),
      "es" -> Array("el", "los", "las", "una", "con"),
      "fr" -> Array("le", "les", "des", "une", "est", "dans", "qui", "avec",
        "sur", "pas"),
      "de" -> Array("der", "die", "und", "ist", "nicht", "mit", "ein",
        "eine", "auf", "werden"),
      "pt" -> Array("o", "os", "um", "uma", "não", "com", "mais", "como",
        "foi"))
    val Langs: Array[String] = Array("en", "es", "fr", "de", "pt")

    private val allMarkers: Set[String] = Markers.values.flatten.toSet

    private def build(n: Int, syl: Array[String], fixedSeed: Long,
        minSyl: Int): Array[String] = {
      val r = new SplittableRandom(fixedSeed)
      val out = scala.collection.mutable.LinkedHashSet.empty[String]
      while (out.size < n) {
        val k = minSyl + r.nextInt(2)
        val w = (0 until k).map(_ => syl(r.nextInt(syl.length))).mkString
        if (!allMarkers.contains(w)) out += w
      }
      out.toArray
    }

    /** Content words (2-3 syllables, 4-9 letters). */
    val Content: Array[String] = build(4096, Syl, 17L, 2)
    /** Replacement words for near-dup edits: built from syllables that
      * never occur in [[Content]], so an edit never restores a word. */
    val Edit: Array[String] = build(256, EditSyl ++ Syl.take(6), 29L, 3)
      .filter(w => EditSyl.exists(w.contains))
  }

  def word(r: SplittableRandom): String =
    Vocab.Content(r.nextInt(Vocab.Content.length))

  /** `n` space-separated words; one in three is a marker of `lang`. */
  def words(r: SplittableRandom, n: Int, lang: String = "en"): String = {
    val m = Vocab.Markers(lang)
    val sb = new java.lang.StringBuilder(n * 8)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(if (i % 3 == 1) m(r.nextInt(m.length)) else word(r))
      i += 1
    }
    sb.toString
  }

  def sentence(r: SplittableRandom, n: Int): String = {
    val s = words(r, n)
    Character.toUpperCase(s.charAt(0)) + s.substring(1) + "."
  }

  private def money(r: SplittableRandom, lo: Int, span: Int): String = {
    val cents = lo + r.nextInt(span)
    f"${cents / 100}%d.${cents % 100}%02d"
  }

  private def digits(r: SplittableRandom, n: Int): String = {
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(('0' + r.nextInt(10)).toChar); i += 1 }
    sb.toString
  }

  private def luhnPan(r: SplittableRandom): String = {
    val body = "4" + digits(r, 14)
    var sum = 0
    var i = 0
    while (i < body.length) {
      // doubling from the rightmost digit of the body (check digit follows)
      var d = body.charAt(body.length - 1 - i) - '0'
      if (i % 2 == 0) { d *= 2; if (d > 9) d -= 9 }
      sum += d
      i += 1
    }
    body + ((10 - sum % 10) % 10).toString
  }

  // ------------------------------------------------------------------ html

  private def page(title: String, body: String): String =
    "<!DOCTYPE html><html><head><meta charset=\"utf-8\"><title>" + title +
      "</title><style>body{font:14px serif}</style>" +
      "<script>window.cfg={a:1};</script></head><body><header><nav><ul>" +
      "<li><a href=\"/\">Home</a></li><li><a href=\"/news\">News</a></li>" +
      "<li><a href=\"/about\">About</a></li></ul></nav></header><main>" +
      body + "</main><footer><p><a href=\"/terms\">Terms</a> | " +
      "<a href=\"/privacy\">Privacy</a></p></footer></body></html>"

  private def article(r: SplittableRandom, i: Long): String = {
    val paras = 6 + (i % 8).toInt
    val sents = 3 + ((i / 8) % 4).toInt
    val sb = new java.lang.StringBuilder
    sb.append("<article><h2>").append(sentence(r, 5)).append("</h2>")
    var p = 0
    while (p < paras) {
      sb.append("<p>")
      var s = 0
      while (s < sents) {
        if (s > 0) sb.append(' ')
        sb.append(sentence(r, 8 + ((i + p + s) % 7).toInt))
        s += 1
      }
      sb.append("</p>")
      p += 1
    }
    sb.append("</article>")
    page("Article " + word(r), sb.toString)
  }

  private def linkFarm(r: SplittableRandom, i: Long): String = {
    val n = 40 + (i % 40).toInt
    val sb = new java.lang.StringBuilder("<div><ul>")
    var k = 0
    while (k < n) {
      sb.append("<li><a href=\"/d/").append(k).append("\">")
        .append(words(r, 3)).append("</a></li>")
      k += 1
    }
    sb.append("</ul><p>").append(sentence(r, 14)).append("</p></div>")
    page("Directory", sb.toString)
  }

  private def fintech(r: SplittableRandom, i: Long): String = {
    val kind = ((i / 100) % 6).toInt
    val body = kind match {
      case 0 =>
        val items = (0 until 3 + (i % 5).toInt).map(k =>
          s"<tr><td>Item ${k + 1} ${word(r)}</td><td>${money(r, 100, 90000)}</td></tr>")
          .mkString
        s"<div><h2>INVOICE</h2><p>Invoice No: INV-${digits(r, 5)}</p>" +
          s"<p>Issue Date: 1${r.nextInt(9)}/0${1 + r.nextInt(9)}/2024</p>" +
          s"<table>$items</table><p>Subtotal: $$${money(r, 1000, 90000)}</p>" +
          s"<p>Total Amount: $$${money(r, 1000, 90000)}</p></div>"
      case 1 =>
        val items = (0 until 3 + (i % 4).toInt).map(k =>
          s"<p>item${k + 1} ${word(r)} ${money(r, 50, 2000)}</p>").mkString
        s"<div><h2>RECEIPT</h2><p>Merchant: STORE ${digits(r, 2)}</p>" +
          s"<p>Terminal: T${digits(r, 3)}</p>$items" +
          s"<p>Total: $$${money(r, 100, 9000)}</p></div>"
      case 2 =>
        val txns = (0 until 15 + (i % 20).toInt).map(_ =>
          s"<p>0${1 + r.nextInt(9)}/1${r.nextInt(9)}/2024 payment ${word(r)} ${money(r, 100, 90000)}</p>")
          .mkString
        s"<div><h2>BANK STATEMENT</h2><p>Account Holder: ALICE ${word(r).toUpperCase}</p>" +
          s"<p>Account Number: GB${digits(r, 2)}BARC${digits(r, 8)}</p>" +
          s"<p>Opening Balance: $$${money(r, 1000, 900000)}</p>$txns" +
          s"<p>Closing Balance: $$${money(r, 1000, 900000)}</p></div>"
      case 3 =>
        s"<div><h2>PAYSLIP</h2><p>Employee: CARLA ${word(r).toUpperCase}</p>" +
          s"<p>Employer: ${word(r)} Corp</p><p>Gross Pay: $$${money(r, 300000, 400000)}</p>" +
          s"<p>Net Pay: $$${money(r, 200000, 300000)}</p>" +
          "<p>Pay Period: March 2024</p><p>Deductions: tax, payroll</p></div>"
      case 4 =>
        s"<div><h2>PASSPORT</h2><p>Surname: ${word(r).toUpperCase}</p>" +
          "<p>Given Names: JOHN</p><p>Nationality: GBR</p>" +
          s"<p>Date of Birth: 1${r.nextInt(9)}/0${1 + r.nextInt(9)}/19${70 + r.nextInt(29)}</p>" +
          s"<p>Passport No: AB${digits(r, 6)}</p>" +
          s"<p>Date of Expiry: 1${r.nextInt(9)}/0${1 + r.nextInt(9)}/203${r.nextInt(9)}</p></div>"
      case _ =>
        val pan = luhnPan(r).grouped(4).mkString(" ")
        s"<div><h2>VISA card</h2><p>EXP 0${1 + r.nextInt(9)}/2${6 + r.nextInt(3)}</p>" +
          s"<p>JOHN ${word(r).toUpperCase}</p><p>$pan</p></div>"
    }
    page(s"Document ${word(r)}", body)
  }

  private def noisy(r: SplittableRandom, i: Long): String = {
    val junk = "4048-3700-0450 \u0007\u0001 " + sentence(r, 12) +
      " 4111.1111.1111.1111 " + ("x" * (200 + (i % 600).toInt))
    val paras = (0 until 5).map(_ => s"<p>${sentence(r, 16)}</p>").mkString
    page("Noisy", s"<div><p>$junk</p>$paras</div>")
  }

  // ------------------------------------------------------------------- pdf

  private def pdfEsc(s: String): String =
    s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(b.length / 2 + 64)
    val d = new Deflater(Deflater.BEST_SPEED)
    val out = new DeflaterOutputStream(bos, d)
    out.write(b); out.close(); d.end()
    bos.toByteArray
  }

  /** ASCII85 with the `~>` end marker (PDF 32000-1 §7.4.3). */
  private def ascii85(b: Array[Byte]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(b.length * 5 / 4 + 8)
    var i = 0
    while (i < b.length) {
      val n = math.min(4, b.length - i)
      var v = 0L
      var k = 0
      while (k < 4) {
        v = (v << 8) | (if (k < n) (b(i + k) & 0xff).toLong else 0L)
        k += 1
      }
      if (n == 4 && v == 0L) sb.append('z')
      else {
        val c = new Array[Char](5)
        var j = 4
        while (j >= 0) { c(j) = ('!' + (v % 85)).toChar; v /= 85; j -= 1 }
        sb.append(c, 0, n + 1)
      }
      i += 4
    }
    sb.append("~>").toString.getBytes(ISO_8859_1)
  }

  /** A minimal but complete PDF: catalog, page tree, one Type1 font, and
    * one content stream per page. `enc` 0 = FlateDecode content, 1 =
    * ASCII85 over Flate, 2 = FlateDecode content with the catalog, page
    * tree, font and page dicts packed into a Flate `/ObjStm`. */
  def pdf(pages: Seq[Seq[(Int, Int, String)]], enc: Int): Array[Byte] = {
    val n = pages.size
    // object numbers: 1 catalog, 2 pages, 3 font, 4..3+n pages,
    // 4+n..3+2n contents, 4+2n object stream
    val pageNums = (0 until n).map(4 + _)
    val contentNums = (0 until n).map(4 + n + _)
    val dicts: Seq[(Int, String)] =
      Seq(1 -> "<< /Type /Catalog /Pages 2 0 R >>",
        2 -> s"<< /Type /Pages /Kids [${pageNums.map(k => s"$k 0 R").mkString(" ")}] /Count $n >>",
        3 -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>") ++
        pageNums.zip(contentNums).map { case (p, c) =>
          p -> (s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
            s"/Resources << /Font << /F1 3 0 R >> >> /Contents $c 0 R >>")
        }
    val out = new ByteArrayOutputStream(4096)
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    w("%PDF-1.5\n%âãÏÓ\n")
    if (enc == 2) {
      val header = new java.lang.StringBuilder
      val bodies = new java.lang.StringBuilder
      dicts.foreach { case (num, d) =>
        header.append(num).append(' ').append(bodies.length).append(' ')
        bodies.append(d).append('\n')
      }
      val first = header.length
      val raw = (header.toString + bodies.toString).getBytes(ISO_8859_1)
      val z = deflate(raw)
      w(s"${4 + 2 * n} 0 obj\n<< /Type /ObjStm /N ${dicts.size} /First $first " +
        s"/Length ${z.length} /Filter /FlateDecode >>\nstream\n")
      out.write(z)
      w("\nendstream\nendobj\n")
    } else dicts.foreach { case (num, d) => w(s"$num 0 obj\n$d\nendobj\n") }
    pages.zip(contentNums).foreach { case (runs, c) =>
      val cs = new java.lang.StringBuilder("BT /F1 11 Tf\n")
      runs.foreach { case (x, y, s) =>
        cs.append("1 0 0 1 ").append(x).append(' ').append(y)
          .append(" Tm (").append(pdfEsc(s)).append(") Tj\n")
      }
      cs.append("ET\n")
      val z = deflate(cs.toString.getBytes(ISO_8859_1))
      val (data, filter) =
        if (enc == 1) (ascii85(z), "[/ASCII85Decode /FlateDecode]")
        else (z, "/FlateDecode")
      w(s"$c 0 obj\n<< /Length ${data.length} /Filter $filter >>\nstream\n")
      out.write(data)
      w("\nendstream\nendobj\n")
    }
    w("trailer\n<< /Root 1 0 R >>\n%%EOF\n")
    out.toByteArray
  }

  /** PDF of layout `kind` (0 single column, 1 two columns, 2 three
    * pages) and encoding `i % 3`. */
  def pdfDoc(r: SplittableRandom, i: Long): Array[Byte] = {
    val kind = ((i / 3) % 3).toInt
    val pages: Seq[Seq[(Int, Int, String)]] = kind match {
      case 0 => Seq((0 until 28 + (i % 12).toInt).map(k =>
        (72, 720 - k * 14, sentence(r, 7 + (k % 4)))))
      case 1 => Seq((0 until 26).flatMap(k => Seq(
        (72, 720 - k * 14, sentence(r, 4)),
        (330, 720 - k * 14, sentence(r, 4)))))
      case _ => (0 until 3).map(_ => (0 until 18).map(k =>
        (72, 720 - k * 14, sentence(r, 6))))
    }
    pdf(pages, (i % 3).toInt)
  }

  // ----------------------------------------------------------------- pages

  /** The input-row shape (url, warc_ts, html, text, lang). */
  final case class Page(url: String, warc_ts: java.sql.Timestamp,
      html: Array[Byte], text: String, lang: String)

  val EpochMs = 1714521600000L // 2024-05-01T00:00:00Z, fixed
  val HotHosts = 10
  /** Rows over the 10 MB input cap; a fixed count at every size. */
  val OversizeRows = 2
  val OversizeBytes: Int = 10 * 1024 * 1024 + 4096

  /** Route of page row `i`: the 100-slot pattern fixes the mix —
    * 90 HTML (36 article, 14 link farm, 24 fintech, 16 noisy), 5 PDF
    * and 5 empty/malformed/oversize. */
  def pageKind(i: Long): String = {
    if (i < OversizeRows) "oversize"
    else (i % 100).toInt match {
      case s if s < 36 => "article"
      case s if s < 50 => "linkfarm"
      case s if s < 74 => "fintech"
      case s if s < 90 => "noisy"
      case s if s < 95 => "pdf"
      case 95 | 96 => "empty"
      case _ => "malformed"
    }
  }

  def host(i: Long): String =
    if (i % 5 == 0) s"hot${(i / 5) % HotHosts}.example"
    else s"site${java.lang.Math.floorMod(shape(3, i, 0), 20000L)}.example"

  def url(i: Long): String = s"https://${host(i)}/p/$i"

  def htmlBody(r: SplittableRandom, kind: String, i: Long): Array[Byte] =
    kind match {
      case "article" => article(r, i).getBytes(UTF_8)
      case "linkfarm" => linkFarm(r, i).getBytes(UTF_8)
      case "fintech" => fintech(r, i).getBytes(UTF_8)
      case "noisy" => noisy(r, i).getBytes(UTF_8)
      case "pdf" => pdfDoc(r, i)
      case "empty" => Array.emptyByteArray
      case "oversize" =>
        val a = new Array[Byte](OversizeBytes)
        java.util.Arrays.fill(a, 'x'.toByte)
        a
      case _ => // malformed: truncated markup or binary garbage
        if (i % 2 == 0) article(r, i).getBytes(UTF_8).take(60 + (i % 90).toInt)
        else { val a = new Array[Byte](300 + (i % 400).toInt); r.nextBytes(a); a(0) = 0; a }
    }

  def pageHtml(seed: Long, i: Long): Array[Byte] = htmlBody(rng(seed, 1, i), pageKind(i), i)

  def pageRow(seed: Long, i: Long): Page = {
    val html = pageHtml(seed, i)
    // raw side channel about as large as the html (the engine never
    // reads it; it costs scan bytes only)
    val r = rng(seed, 10, i)
    val target = if (pageKind(i) == "oversize") 0 else html.length
    val tb = new java.lang.StringBuilder(target + 16)
    while (tb.length < target) { if (tb.length > 0) tb.append(' '); tb.append(word(r)) }
    Page(url(i), ts(i), html, tb.toString, Vocab.Langs((i % 5).toInt))
  }

  /** Capture time of page or response `i`. */
  def ts(i: Long): java.sql.Timestamp = new java.sql.Timestamp(EpochMs + i * 1000L)

  // ------------------------------------------------------------------ warc

  private val HtmlKinds = Array("article", "linkfarm", "fintech", "noisy")

  /** Route of WARC response `j`: 50 PDF, 40 HTML, 10 other per 100. */
  def warcKind(j: Long): String = (j % 100).toInt match {
    case s if s < 50 => "pdf"
    case s if s < 90 => HtmlKinds((s - 50) % 4)
    case s if s < 96 => "text"
    case _ => "binary"
  }

  /** Response body of WARC response `j` and its content type. */
  def warcPayload(seed: Long, j: Long): (Array[Byte], String) = {
    val r = rng(seed, 2, j)
    warcKind(j) match {
      case "pdf" => (pdfDoc(r, j), "application/pdf")
      case "text" =>
        (("Plain notice. " + sentence(r, 60) + "\n" + sentence(r, 40))
          .getBytes(UTF_8), "text/plain")
      case "binary" =>
        val a = new Array[Byte](600 + (j % 700).toInt)
        r.nextBytes(a)
        a(0) = 0x89.toByte; a(1) = 'P'; a(2) = 'N'; a(3) = 'G'
        (a, "image/png")
      case k => (htmlBody(r, k, j), "text/html; charset=utf-8")
    }
  }

  def warcUrl(j: Long): String = s"https://${host(j)}/w/$j"

  /** Planted corrupt gzip members per WARC file: one run of garbage
    * between members, one torn member header, one member whose trailer
    * CRC is wrong (its record still decodes). */
  val CorruptPerFile = 3

  private final class FastGzip(out: OutputStream)
      extends GZIPOutputStream(out, 1 << 14) {
    `def`.setLevel(Deflater.BEST_SPEED)
  }

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(b.length / 3 + 64)
    val g = new FastGzip(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  private def record(kind: String, uri: String, ts: Long, id: Long,
      contentType: String, block: Array[Byte]): Array[Byte] = {
    val date = java.time.Instant.ofEpochMilli(ts).toString
    val head = "WARC/1.0\r\n" + s"WARC-Type: $kind\r\n" +
      (if (uri.isEmpty) "" else s"WARC-Target-URI: $uri\r\n") +
      s"WARC-Date: $date\r\n" +
      f"WARC-Record-ID: <urn:uuid:00000000-0000-4000-8000-$id%012x>\r\n" +
      s"Content-Type: $contentType\r\n" +
      s"Content-Length: ${block.length}\r\n\r\n"
    val bos = new ByteArrayOutputStream(head.length + block.length + 4)
    bos.write(head.getBytes(UTF_8)); bos.write(block)
    bos.write("\r\n\r\n".getBytes(ISO_8859_1))
    bos.toByteArray
  }

  private def chunked(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(b.length + 64)
    var off = 0
    while (off < b.length) {
      val n = math.min(4096, b.length - off)
      bos.write(s"${Integer.toHexString(n)}\r\n".getBytes(ISO_8859_1))
      bos.write(b, off, n)
      bos.write("\r\n".getBytes(ISO_8859_1))
      off += n
    }
    bos.write("0\r\n\r\n".getBytes(ISO_8859_1))
    bos.toByteArray
  }

  /** HTTP response message for response `j`: plain, chunked, gzip
    * Content-Encoding or both, fixed by `j % 5`. */
  private def httpMessage(body: Array[Byte], ct: String, j: Long): Array[Byte] = {
    val mode = (j % 5).toInt
    val gz = mode == 2 || mode == 3
    val ch = mode == 1 || mode == 3
    var payload = if (gz) gzip(body) else body
    val hdr = new java.lang.StringBuilder("HTTP/1.1 200 OK\r\n")
    hdr.append("Content-Type: ").append(ct).append("\r\n")
    if (gz) hdr.append("Content-Encoding: gzip\r\n")
    if (ch) { hdr.append("Transfer-Encoding: chunked\r\n"); payload = chunked(payload) }
    else hdr.append("Content-Length: ").append(payload.length).append("\r\n")
    hdr.append("\r\n")
    val bos = new ByteArrayOutputStream(hdr.length + payload.length)
    bos.write(hdr.toString.getBytes(ISO_8859_1)); bos.write(payload)
    bos.toByteArray
  }

  /** Write WARC file `f` of `files`, holding responses j ≡ f (mod files)
    * below `responses`. Returns (bytes written, records written). */
  def writeWarcFile(path: java.nio.file.Path, seed: Long, f: Int,
      files: Int, responses: Long): (Long, Long) = {
    val out = new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(path), 1 << 16)
    var bytes = 0L
    var recs = 0L
    def emit(b: Array[Byte]): Unit = { out.write(b); bytes += b.length }
    try {
      emit(gzip(record("warcinfo", "", EpochMs, f.toLong << 40,
        "application/warc-fields",
        s"software: graftbench\r\nformat: WARC/1.0\r\nfile: $f\r\n".getBytes(UTF_8))))
      recs += 1
      val mine = (f.toLong until responses by files.toLong)
      val n = mine.size
      mine.zipWithIndex.foreach { case (j, k) =>
        val ts = EpochMs + j * 1000L
        if (k == n / 4)
          emit(("garbage between members: " + ("#" * 80)).getBytes(ISO_8859_1))
        if (k == n / 2)
          emit(Array[Byte](0x1f, 0x8b.toByte, 8, 0xe0.toByte) ++
            ("torn member header " + ("=" * 60)).getBytes(ISO_8859_1))
        if (j % 2 == 0) {
          val req = s"GET /w/$j HTTP/1.1\r\nHost: ${host(j)}\r\nUser-Agent: graftbench\r\n\r\n"
          emit(gzip(record("request", warcUrl(j), ts, (j << 1) | 1,
            "application/http; msgtype=request", req.getBytes(ISO_8859_1))))
          recs += 1
        }
        val (body, ct) = warcPayload(seed, j)
        val member = gzip(record("response", warcUrl(j), ts, j << 1,
          "application/http; msgtype=response", httpMessage(body, ct, j)))
        if (k == (3 * n) / 4) {
          // corrupt the trailer CRC (first 4 of the last 8 bytes)
          val p = member.length - 8
          member(p) = (member(p) ^ 0x5a).toByte
        }
        emit(member)
        recs += 1
      }
    } finally out.close()
    (bytes, recs)
  }

  // ------------------------------------------------------------ text corpus

  /** 100-slot layout of the curation corpus. Per block of 100 ids:
    *  - 0-4   repetitive low-quality docs (fail the repetition gate);
    *  - 5-19  near-dup clusters of 5, 4, 3 and 3 docs (first = base);
    *  - 20-29 exact copies of docs 30-39 of the same block;
    *  - 30-99 plain docs; those with id % 10 in {0, 2, 5, 7} carry one
    *          or two shared boilerplate paragraphs.
    * Cluster copies 1-2 replace 1% of the base's words (pairs, Jaccard
    * ≥ 0.88), copies 3-4 replace 5% (Jaccard ≤ 0.74, not pairs). */
  object Corpus {
    val Clusters: Seq[(Int, Int)] = Seq(5 -> 5, 10 -> 4, 14 -> 3, 17 -> 3)
    val BoilerPool = 64

    def lang(k: Int): String = {
      val base = if (k >= 5 && k < 20) Clusters.find { case (s, n) => k >= s && k < s + n }.get._1
        else if (k >= 20 && k < 30) k + 10 else k
      if (base % 10 < 6) "en" else Vocab.Langs(base % 10 - 5)
    }

    def wordCount(b: Long, k: Int): Int = 180 + ((b * 7 + k * 13) % 420).toInt

    /** Boilerplate paragraph `p` of the pool. */
    def boiler(seed: Long, p: Int): String = {
      val r = rng(seed, 4, p)
      words(r, 40 + p % 20, "en") + "."
    }

    /** Paragraphs of the "own" text of doc (b, k) in language `lang`:
      * n / 60 paragraphs, the last one taking the remainder, so no
      * paragraph is short enough to recur in another doc by chance. */
    private def ownParas(seed: Long, b: Long, k: Int, lang: String): Array[String] = {
      val r = rng(seed, 5, b * 100 + k)
      val n = wordCount(b, k)
      val ws = words(r, n, lang).split(' ')
      val np = math.max(1, n / 60)
      (0 until np).map { p =>
        ws.slice(p * 60, if (p == np - 1) n else (p + 1) * 60).mkString(" ")
      }.toArray
    }

    /** Copies 1-2 replace every 100th word, copies 3-4 every 20th, at
      * offsets that differ per copy: evenly spaced edits each break
      * three shingles, which keeps every pair's Jaccard far from 0.8. */
    def editPeriod(copy: Int): Int = if (copy <= 2) 100 else 20

    /** Replace the words at this copy's fixed edit positions. */
    private def edit(seed: Long, paras: Array[String], id: Long, copy: Int): Array[String] = {
      val r = rng(seed, 6, id)
      val period = editPeriod(copy)
      var pos = copy * 7
      paras.map { p =>
        p.split(' ').map { w =>
          val hit = pos % period == 0
          pos += 1
          if (hit) Vocab.Edit(r.nextInt(Vocab.Edit.length)) else w
        }.mkString(" ")
      }
    }

    private def withBoiler(seed: Long, paras: Array[String], id: Long): Array[String] = {
      val h = shape(8, id, 0)
      val p1 = boiler(seed, java.lang.Long.remainderUnsigned(h, BoilerPool).toInt)
      val two = (h >>> 20) % 3 == 0
      val p2 = boiler(seed, java.lang.Long.remainderUnsigned(h >>> 32, BoilerPool).toInt)
      val front = (id % 2 == 0)
      val withOne = if (front) p1 +: paras else paras :+ p1
      if (two && p2 != p1) withOne :+ p2 else withOne
    }

    /** Text of doc `id`; paragraphs joined by a blank line. */
    def text(seed: Long, id: Long): String = {
      val b = id / 100
      val k = (id % 100).toInt
      val paras: Array[String] =
        if (k < 5) {
          val r = rng(seed, 9, id)
          val phrase = s"${word(r)} ${word(r)} ${word(r)}"
          Array(Array.fill(60 + k * 20)(phrase).mkString(" "))
        } else if (k < 20) {
          val (start, _) = Clusters.find { case (s, n) => k >= s && k < s + n }.get
          val base = ownParas(seed, b, start, lang(k))
          if (k == start) base else edit(seed, base, id, k - start)
        } else if (k < 30) return text(seed, id + 10)
        else {
          val own = ownParas(seed, b, k, lang(k))
          if (Set(0, 2, 5, 7).contains(k % 10)) withBoiler(seed, own, id) else own
        }
      paras.mkString("\n\n")
    }
  }
}
