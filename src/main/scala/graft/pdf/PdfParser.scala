package graft.pdf

import java.util.zip.Inflater

/** Minimal structural PDF text extractor.
  *
  * The Spark-native analog of the reference's PDF route
  * (`pdf_converter.py` rasterize → OCR, /root/reference/ocr_service/
  * modules/pdf_converter.py:37-113): instead of rasterizing, content
  * streams are lexed directly into positioned glyph runs, which [[XYCut]]
  * clusters into columns/lines (the analog of the `scripts/` column-profile
  * analysis, e.g. scripts/card_column_analysis.py:11-114).
  *
  * Supported: uncompressed, FlateDecode, LZWDecode, ASCIIHexDecode,
  * ASCII85Decode and RunLengthDecode content streams (and filter
  * ARRAYS, applied first-to-last); Tj/TJ/quote show ops; Td, TD, Tm,
  * T-star, TL positioning; literal and hex strings.
  * Caps: ≤ `MaxPages` pages (reference cap, pdf_converter.py:28).
  */
object PdfParser {

  val MaxPages = 20
  val PageBreak = "\n\n--- PAGE BREAK ---\n\n" // processor.py:433-435

  /** `is_pdf` — magic-byte routing (S3, pdf_converter.py:26-34). */
  def isPdf(data: Array[Byte]): Boolean =
    data != null && data.length >= 5 &&
      data(0) == '%' && data(1) == 'P' && data(2) == 'D' &&
      data(3) == 'F' && data(4) == '-'

  final case class GlyphRun(x: Double, y: Double, size: Double, text: String) {
    def width: Double = 0.5 * size * text.length
  }

  /** Extract document text: pages joined with the reference's page-break
    * separator (O6, processor.py:391-438). Returns "" when nothing parses. */
  def extractText(bytes: Array[Byte]): String =
    extractPages(bytes).mkString(PageBreak)

  /** Page texts. Page boundaries come from the page tree (Catalog →
    * Pages → Kids): a page whose /Contents is an ARRAY of streams is one
    * page, not several (stream-order counting got this wrong). Falls back
    * to stream-order when no page tree parses (truncated/malformed docs).
    * 2-byte CID hex strings (Type0/Identity-H docs) are mapped through
    * the ToUnicode CMap when present; unmapped codes become U+FFFD
    * instead of garbage. A stream decodes only when something uses it;
    * decoding past the document's budget throws [[DecodeBudgetExceeded]]. */
  def extractPages(bytes: Array[Byte]): List[String] = {
    val (objs, streams) = parseObjects(bytes)
    val cidDoc = objs.values.exists(o =>
      o.dict.contains("/Type0") || o.dict.contains("/Identity-H"))
    val toUni = if (cidDoc) parseToUnicode(objs) else Map.empty[Int, String]
    val docFonts = parseFontEncodings(objs)
    val pageContents = pageContentStreamsWithIds(objs)
    // font tables are scoped PER PAGE (a page's /Resources may bind /F1
    // to a simple font while another page's /F1 is a Type0 CID font —
    // a document-wide first-binding-wins table would byte-decode that
    // page's 2-byte CID strings into mojibake); pages without their own
    // /Resources (inherited) fall back to the document-wide table
    val sources: Iterator[(String, Map[String, Array[String]])] =
      if (pageContents.hasNext)
        pageContents.map { case (num, s) =>
          (s, pageFontEncodings(objs, num).getOrElse(docFonts))
        }
      else streams.iterator.flatMap(_.stream).map((_, docFonts)) // legacy stream order
    sources.map { case (s, fonts) => interpretContent(s, cidDoc, toUni, fonts) }
      .filter(_.nonEmpty).take(MaxPages).map(XYCut.layout).toList
  }

  // ------------------------------------------------------------------
  // object table + page tree

  /** One indirect object: its dict text and, for a stream object, the
    * extent of its raw payload in the input (no copy). `stream` decodes
    * the payload on first use and keeps the result; it is None for a
    * dict-only object or a stream that does not decode. The String copy
    * is charged to the budget before it is made, so a stream that
    * decodes to most of the budget fails before the copy and the
    * interpreter's scan of it. */
  private[pdf] final class PdfObj(val dict: String, src: Array[Byte] = null,
      from: Int = 0, until: Int = 0, budget: DecodeBudget = null) {
    lazy val stream: Option[String] =
      if (src == null) None
      else Option(decodeStream(dict, java.util.Arrays.copyOfRange(src, from, until),
        budget)).map { b =>
        budget.charge(b.length)
        new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
      }
  }

  private val objHeader =
    java.util.regex.Pattern.compile("(\\d+)\\s+\\d+\\s+obj\\b")
  private val refPattern =
    java.util.regex.Pattern.compile("(\\d+)\\s+\\d+\\s+R\\b")

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Indirect objects by number, and every stream object in scan order
    * (shadowed redefinitions included) for the no-page-tree fallback.
    * All of them share one decode budget, sized from the input.
    *
    * The scanner resumes AFTER each object's endstream/endobj, so byte
    * sequences that happen to spell "N 0 obj" inside binary stream
    * payloads can never create phantom objects (which used to overwrite
    * real entries and corrupt page-tree order in compressed PDFs). The
    * 10000-object guard is logged when it truncates — never a silent
    * cap. */
  private[pdf] def parseObjects(
      bytes: Array[Byte]): (Map[Int, PdfObj], List[PdfObj]) = {
    if (bytes == null || bytes.length < 16) return (Map.empty, Nil)
    val budget = new DecodeBudget(
      math.min(DecodeCeiling, DecodeMultiple * bytes.length))
    val doc = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val out = Map.newBuilder[Int, PdfObj]
    val streams = List.newBuilder[PdfObj]
    val m = objHeader.matcher(doc)
    var guard = 0
    var from = 0
    while (from < doc.length && m.find(from) && guard < 10000) {
      guard += 1
      val num = m.group(1).toInt
      val bodyStart = m.end()
      val endObj = doc.indexOf("endobj", bodyStart)
      val bodyEnd = if (endObj < 0) doc.length else endObj
      val si = doc.indexOf("stream", bodyStart)
      if (si >= 0 && si < bodyEnd) {
        val dict = doc.substring(bodyStart, si)
        var dataStart = si + "stream".length
        if (dataStart < doc.length && doc.charAt(dataStart) == '\r') dataStart += 1
        if (dataStart < doc.length && doc.charAt(dataStart) == '\n') dataStart += 1
        val ei = doc.indexOf("endstream", dataStart)
        if (ei >= 0) {
          var dataEnd = ei
          if (dataEnd > dataStart && doc.charAt(dataEnd - 1) == '\n') dataEnd -= 1
          if (dataEnd > dataStart && doc.charAt(dataEnd - 1) == '\r') dataEnd -= 1
          val o = new PdfObj(dict, bytes, dataStart, dataEnd, budget)
          out += num -> o
          streams += o
          // skip past the stream payload: its bytes must never be
          // scanned for object headers
          val eo = doc.indexOf("endobj", ei)
          from = if (eo >= 0) eo + "endobj".length else ei + "endstream".length
        } else {
          out += num -> new PdfObj(dict)
          from = doc.length // unterminated stream: nothing trustworthy after
        }
      } else {
        out += num -> new PdfObj(doc.substring(bodyStart, bodyEnd))
        from = if (endObj >= 0) endObj + "endobj".length else bodyEnd
      }
      if (from <= bodyStart) from = bodyStart // monotone progress
    }
    if (guard >= 10000 && from < doc.length && m.find(from))
      log.warn(s"parseObjects: 10000-object guard truncated the scan " +
        s"(${doc.length} bytes; objects beyond offset $from were dropped)")
    val base = out.result()
    // PDF 1.5+ object streams: /Type /ObjStm payloads hold N compressed
    // objects (page/font/encoding dicts of most modern PDFs). Unpack
    // them into the object table; a top-level object with the same
    // number wins (incremental updates append uncompressed overrides).
    val unpacked = base.values
      .filter(_.dict.contains("/ObjStm"))
      .flatMap(o => o.stream.toList.flatMap(unpackObjStm(o.dict, _)))
      .collect { case (num, d) if !base.contains(num) => num -> new PdfObj(d) }
    (if (unpacked.isEmpty) base else base ++ unpacked, streams.result())
  }

  private val intToken = java.util.regex.Pattern.compile("\\d+")

  private def intAfter(dict: String, key: String): Int = {
    val i = dict.indexOf(key)
    if (i < 0) return -1
    val m = intToken.matcher(dict)
    if (m.find(i + key.length)) m.group().toInt else -1
  }

  /** Embedded (objNum → dict) pairs of one /ObjStm payload `s`: header
    * is N (objnum, offset) integer pairs, bodies start at /First. Objects
    * inside an ObjStm are dict-only (the spec forbids nested streams). */
  private[pdf] def unpackObjStm(dict: String, s: String): List[(Int, String)] = {
    val n = intAfter(dict, "/N")
    val first = intAfter(dict, "/First")
    if (n <= 0 || n > 10000 || first <= 0 || first > s.length) return Nil
    val m = intToken.matcher(s.substring(0, first))
    val header = new Array[Int](2 * n)
    var i = 0
    while (i < 2 * n && m.find()) {
      header(i) =
        try m.group().toInt
        catch { case _: NumberFormatException => return Nil }
      i += 1
    }
    if (i < 2 * n) return Nil
    val out = List.newBuilder[(Int, String)]
    var k = 0
    while (k < n) {
      val num = header(2 * k)
      val start = first + header(2 * k + 1)
      val end =
        if (k + 1 < n) math.min(s.length, first + header(2 * k + 3))
        else s.length
      if (start >= 0 && start <= end)
        out += num -> s.substring(start, end)
      k += 1
    }
    out.result()
  }

  private def refsIn(s: String): List[Int] = {
    val m = refPattern.matcher(s)
    val b = List.newBuilder[Int]
    while (m.find()) b += m.group(1).toInt
    b.result()
  }

  private def dictValue(dict: String, key: String): Option[String] = {
    val i = dict.indexOf(key)
    if (i < 0) return None
    // up to the next key or dict end — enough for refs/arrays
    var j = i + key.length
    var depth = 0
    val sb = new java.lang.StringBuilder()
    var done = false
    while (j < dict.length && !done) {
      val c = dict.charAt(j)
      if (c == '[') { depth += 1; sb.append(c); j += 1 }
      else if (c == ']') {
        depth -= 1; sb.append(c); j += 1
        if (depth == 0) done = true
      }
      else if (c == '/' && depth == 0 && sb.length() > 0) done = true
      else if (c == '>' && depth == 0) done = true
      else { sb.append(c); j += 1 }
    }
    Some(sb.toString)
  }

  private val typePage =
    java.util.regex.Pattern.compile("/Type\\s*/Page(?![a-zA-Z])")
  private val typePages =
    java.util.regex.Pattern.compile("/Type\\s*/Pages(?![a-zA-Z])")

  /** (page object number, concatenated content) per page, page-tree
    * order — the id lets the caller resolve per-page /Resources. Lazy:
    * a page's content streams decode when the caller reaches it. */
  private[pdf] def pageContentStreamsWithIds(
      objs: Map[Int, PdfObj]): Iterator[(Int, String)] = {
    if (objs.isEmpty) return Iterator.empty
    // roots: /Pages nodes not referenced as a Kid of another /Pages node
    val pagesNodes = objs.filter(o => typePages.matcher(o._2.dict).find())
    val pageObjs = objs.filter(o => typePage.matcher(o._2.dict).find())
    if (pageObjs.isEmpty) return Iterator.empty

    val kidRefs: Map[Int, List[Int]] = pagesNodes.map { case (n, o) =>
      n -> dictValue(o.dict, "/Kids").map(refsIn).getOrElse(Nil)
    }
    val allKids = kidRefs.values.flatten.toSet
    val roots = pagesNodes.keys.filterNot(allKids.contains).toList.sorted

    val ordered = List.newBuilder[Int]
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(n: Int, depth: Int): Unit = {
      if (depth > 32 || seen.contains(n)) return
      seen += n
      if (pageObjs.contains(n)) ordered += n
      else kidRefs.getOrElse(n, Nil).foreach(walk(_, depth + 1))
    }
    roots.foreach(walk(_, 0))
    // pages outside any discovered tree (orphan Page objects): append in
    // object order so malformed docs still extract
    pageObjs.keys.toList.sorted.foreach(n =>
      if (!seen.contains(n)) ordered += n)

    ordered.result().iterator.flatMap { n =>
      val contents = dictValue(pageObjs(n).dict, "/Contents")
        .map(refsIn).getOrElse(Nil)
      val parts = contents.flatMap(objs.get).flatMap(_.stream)
      if (parts.isEmpty) None
      else Some((n, if (parts.tail.isEmpty) parts.head else parts.mkString("\n")))
    }
  }

  // ------------------------------------------------------------------
  // simple-font /Encoding tables (WinAnsi/MacRoman + /Differences)

  private val fontEntry =
    java.util.regex.Pattern.compile("/([^\\s/<>\\[\\]()]+)\\s+(\\d+)\\s+\\d+\\s+R")
  private val encodingName =
    java.util.regex.Pattern.compile("/(WinAnsiEncoding|MacRomanEncoding|StandardEncoding|PDFDocEncoding)")
  private val diffToken =
    java.util.regex.Pattern.compile("(\\d+)|/([^\\s/<>\\[\\]()]+)")

  /** Balanced `<< ... >>` substring starting at `start` (which must point
    * at the opening `<<`); empty when unbalanced. */
  private def balancedDict(s: String, start: Int): String = {
    var depth = 0
    var i = start
    while (i < s.length - 1) {
      if (s.charAt(i) == '<' && s.charAt(i + 1) == '<') { depth += 1; i += 2 }
      else if (s.charAt(i) == '>' && s.charAt(i + 1) == '>') {
        depth -= 1; i += 2
        if (depth == 0) return s.substring(start, i)
      }
      else i += 1
    }
    ""
  }

  /** Decode table from an /Encoding value: a base-encoding name, or a
    * dict (inline or via `ref`) with /BaseEncoding + /Differences. */
  private def encodingTable(objs: Map[Int, PdfObj],
      fontDict: String): Option[Array[String]] = {
    val i = fontDict.indexOf("/Encoding")
    if (i < 0) return None
    // an inline or indirect dict, or a bare name like /WinAnsiEncoding
    val encSrc = dictAfterKey(objs, fontDict, i + "/Encoding".length,
      orName = true)
    if (encSrc.isEmpty) return None
    val base = {
      val bm = encodingName.matcher(encSrc)
      if (bm.find()) PdfEncodings.baseTable(bm.group(1)) else PdfEncodings.Identity
    }
    val di = encSrc.indexOf("/Differences")
    if (di < 0) {
      if (base eq PdfEncodings.Identity) None else Some(base)
    } else {
      val lb = encSrc.indexOf('[', di)
      val rb = if (lb < 0) -1 else encSrc.indexOf(']', lb)
      if (lb < 0 || rb < 0) return Some(base)
      val dm = diffToken.matcher(encSrc.substring(lb + 1, rb))
      val diffs = List.newBuilder[(Int, String)]
      var code = 0
      while (dm.find()) {
        if (dm.group(1) != null) code = dm.group(1).toInt
        else { diffs += ((code, dm.group(2))); code += 1 }
      }
      Some(PdfEncodings.withDifferences(base, diffs.result()))
    }
  }

  /** Resolve the value following `key` in `src` as a dict: inline
    * `<< ... >>` or an indirect reference to one; when neither, the next
    * 40 chars if `orName` (a bare name), else "". */
  private def dictAfterKey(objs: Map[Int, PdfObj], src: String,
      keyEnd: Int, orName: Boolean = false): String = {
    var j = keyEnd
    while (j < src.length && Character.isWhitespace(src.charAt(j))) j += 1
    if (j + 1 < src.length && src.charAt(j) == '<' && src.charAt(j + 1) == '<')
      balancedDict(src, j)
    else {
      val tail = src.substring(j, math.min(src.length, j + 40))
      val rm = refPattern.matcher(tail)
      if (rm.lookingAt) objs.get(rm.group(1).toInt).map(_.dict).getOrElse("")
      else if (orName) tail
      else ""
    }
  }

  /** Scan `src` for /Font blocks (inline or indirect) and collect
    * name → decode table for non-CID fonts declaring an /Encoding.
    * First binding per name wins within `src`. */
  private def fontsInDict(objs: Map[Int, PdfObj], src: String,
      out: scala.collection.mutable.LinkedHashMap[String, Array[String]])
      : Unit = {
    var fi = src.indexOf("/Font")
    while (fi >= 0) {
      // "/FontDescriptor"/"/FontFile" never parse as a dict-or-ref value
      val block = dictAfterKey(objs, src, fi + "/Font".length)
      val em = fontEntry.matcher(block)
      while (em.find()) {
        val name = em.group(1)
        if (!out.contains(name)) {
          objs.get(em.group(2).toInt).foreach { fontObj =>
            if (!fontObj.dict.contains("/Type0")) // CID handled via CMap
              encodingTable(objs, fontObj.dict).foreach(out(name) = _)
          }
        }
      }
      fi = src.indexOf("/Font", fi + 5)
    }
  }

  /** Document-wide map: font resource name (the /F1 of `Tf`) → 256-entry
    * byte decode table, for non-CID fonts that declare an /Encoding.
    * First binding per name wins. Used as the FALLBACK for pages without
    * their own /Resources (inherited resources) and for the legacy
    * stream-order path — pages that do declare /Resources get a
    * page-scoped table from [[pageFontEncodings]] instead, so one page's
    * simple-font /F1 can never shadow another page's Type0 /F1. */
  private[pdf] def parseFontEncodings(
      objs: Map[Int, PdfObj]): Map[String, Array[String]] = {
    if (!objs.values.exists(_.dict.contains("/Encoding"))) return Map.empty
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Array[String]]
    objs.toSeq.sortBy(_._1).foreach { case (_, o) =>
      fontsInDict(objs, o.dict, out)
    }
    out.toMap
  }

  /** Page-scoped font tables from the page object's own /Resources
    * (inline or indirect); None when the page declares none (resources
    * inherited from an ancestor /Pages node — caller falls back to the
    * document-wide table). */
  private[pdf] def pageFontEncodings(objs: Map[Int, PdfObj],
      pageNum: Int): Option[Map[String, Array[String]]] = {
    val dict = objs.get(pageNum).map(_.dict).getOrElse("")
    val ri = dict.indexOf("/Resources")
    if (ri < 0) return None
    val resSrc = dictAfterKey(objs, dict, ri + "/Resources".length)
    if (resSrc.isEmpty) return None
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Array[String]]
    fontsInDict(objs, resSrc, out)
    Some(out.toMap)
  }

  // ------------------------------------------------------------------
  // ToUnicode CMaps (bfchar/bfrange), merged document-wide

  private val hexPair = java.util.regex.Pattern.compile(
    "<([0-9a-fA-F]+)>\\s*<([0-9a-fA-F]+)>")
  private val hexTriple = java.util.regex.Pattern.compile(
    "<([0-9a-fA-F]+)>\\s*<([0-9a-fA-F]+)>\\s*<([0-9a-fA-F]+)>")
  private val hexSingle = java.util.regex.Pattern.compile(
    "<([0-9a-fA-F]+)>")
  private val hexArrayRange = java.util.regex.Pattern.compile(
    "<([0-9a-fA-F]+)>\\s*<([0-9a-fA-F]+)>\\s*\\[((?:\\s*<[0-9a-fA-F]+>)+)\\s*\\]")

  private def utf16beOfHex(hex: String): String = {
    val sb = new java.lang.StringBuilder(hex.length / 4 + 1)
    var k = 0
    while (k + 4 <= hex.length) {
      sb.append(Integer.parseInt(hex.substring(k, k + 4), 16).toChar)
      k += 4
    }
    if (k < hex.length) // odd tail: best-effort single byte
      sb.append(Integer.parseInt(hex.substring(k), 16).toChar)
    sb.toString
  }

  private val subtypeImage =
    java.util.regex.Pattern.compile("/Subtype\\s*/Image(?![a-zA-Z])")

  /** Merge every ToUnicode CMap in the document: CID code → string.
    * Image XObjects never hold a CMap, so they are not decoded. */
  private[pdf] def parseToUnicode(objs: Map[Int, PdfObj]): Map[Int, String] = {
    val out = scala.collection.mutable.HashMap.empty[Int, String]
    objs.values.filterNot(o => subtypeImage.matcher(o.dict).find())
      .flatMap(_.stream).foreach { s =>
      if (s.contains("begincmap") || s.contains("beginbfchar") ||
          s.contains("beginbfrange")) {
        // bfchar sections: <src> <dst>
        var i = 0
        while ({ i = s.indexOf("beginbfchar", i); i >= 0 }) {
          val end = s.indexOf("endbfchar", i)
          val section = if (end < 0) s.substring(i) else s.substring(i, end)
          val m = hexPair.matcher(section)
          while (m.find() && out.size < 65536)
            out(Integer.parseInt(m.group(1), 16)) = utf16beOfHex(m.group(2))
          i = if (end < 0) s.length else end + 1
        }
        // bfrange sections: <lo> <hi> <dstStart>, or the array form
        // <lo> <hi> [<d1> <d2> ...] (one dst per code)
        i = 0
        while ({ i = s.indexOf("beginbfrange", i); i >= 0 }) {
          val end = s.indexOf("endbfrange", i)
          val rawSection = if (end < 0) s.substring(i) else s.substring(i, end)
          // array form first; matches are removed so the triple matcher
          // can't misalign across an array's elements
          val am = hexArrayRange.matcher(rawSection)
          val sb = new java.lang.StringBuilder()
          var last = 0
          while (am.find() && out.size < 65536) {
            sb.append(rawSection, last, am.start())
            last = am.end()
            val lo = Integer.parseInt(am.group(1), 16)
            val dm = hexSingle.matcher(am.group(3))
            var c = lo
            val hi = Integer.parseInt(am.group(2), 16)
            while (dm.find() && c <= hi && out.size < 65536) {
              out(c) = utf16beOfHex(dm.group(1))
              c += 1
            }
          }
          sb.append(rawSection, last, rawSection.length)
          val section = sb.toString
          val m = hexTriple.matcher(section)
          while (m.find() && out.size < 65536) {
            val lo = Integer.parseInt(m.group(1), 16)
            val hi = math.min(Integer.parseInt(m.group(2), 16), lo + 65535)
            val dst = utf16beOfHex(m.group(3))
            var c = lo
            while (c <= hi && out.size < 65536) {
              val shifted =
                if (dst.isEmpty) ""
                else dst.substring(0, dst.length - 1) +
                  (dst.charAt(dst.length - 1) + (c - lo)).toChar
              out(c) = shifted
              c += 1
            }
          }
          i = if (end < 0) s.length else end + 1
        }
      }
    }
    out.toMap
  }

  // ------------------------------------------------------------------
  // stream filters (PDF 32000-1 §7.4): FlateDecode, LZWDecode,
  // ASCIIHexDecode, ASCII85Decode, RunLengthDecode, and filter ARRAYS
  // applied first-to-last, with /DecodeParms predictors (TIFF 2, PNG
  // 10–15, §7.4.4.4) after the Flate/LZW stage they parameterize

  private val filterNameToken =
    java.util.regex.Pattern.compile("/([A-Za-z0-9]+)")

  /** Filter names in application order; Nil when the stream declares
    * none (or an unsupported indirect /Filter reference). */
  private[pdf] def filtersOf(dict: String): List[String] = {
    var fi = dict.indexOf("/Filter")
    while (fi >= 0) {
      var j = fi + "/Filter".length
      while (j < dict.length && Character.isWhitespace(dict.charAt(j))) j += 1
      if (j < dict.length && dict.charAt(j) == '[') {
        val rb = dict.indexOf(']', j)
        val body = if (rb < 0) dict.substring(j + 1) else dict.substring(j + 1, rb)
        val m = filterNameToken.matcher(body)
        val b = List.newBuilder[String]
        while (m.find()) b += m.group(1)
        return b.result()
      } else if (j < dict.length && dict.charAt(j) == '/') {
        val m = filterNameToken.matcher(dict)
        if (m.find(j)) return List(m.group(1))
      }
      // "/FilterXyz" or a ref — try a later occurrence
      fi = dict.indexOf("/Filter", fi + 7)
    }
    Nil
  }

  /** Bytes one document may decode, summed over every expanding stage
    * (Flate, LZW, RunLength, ASCII85) of every stream it decodes and
    * each decoded stream's String copy: `DecodeMultiple` × its input
    * size, at most `DecodeCeiling`. The largest decoded/input ratio
    * measured over the golden fixture, the benchmark's seed-7 PDFs and
    * the PDF kernel spec is 2.18 (a benchmark PDF whose content is
    * ASCII85 over Flate). The String copies add at most that again plus
    * the unfiltered streams' raw bytes (at most the input), so such a
    * document charges under 5.4× its input: 64 leaves ~12× headroom,
    * while a deflated run of zeros (~1000×) stops early. */
  private[graft] val DecodeMultiple = 64L
  private[graft] val DecodeCeiling = 32L << 20

  /** One document's decode allowance; [[charge]] throws
    * [[DecodeBudgetExceeded]] once it is spent. */
  private[pdf] final class DecodeBudget(private[pdf] var left: Long) {
    def charge(n: Int): Unit = {
      left -= n
      if (left < 0) throw new DecodeBudgetExceeded
    }
  }

  /** A document decoded past its budget: the row fails with
    * `EXTRACTION_ERROR: DecodeBudgetExceeded`. */
  final class DecodeBudgetExceeded
      extends RuntimeException("PDF decode budget exceeded", null, false, false)

  /** Output buffer of an expanding stage: each write is charged to the
    * budget before it is stored, and the buffer never grows past what
    * the budget still allows. */
  private final class Sink(budget: DecodeBudget, hint: Int) {
    private[this] var buf =
      new Array[Byte](math.max(64L, math.min(hint.toLong, budget.left)).toInt)
    private[this] var n = 0
    def write(b: Array[Byte], off: Int, len: Int): Unit = {
      budget.charge(len)
      if (n + len > buf.length) { // double, or take all that is left
        val allowed = n + len + budget.left
        val doubled = math.max(n + len, 2L * buf.length)
        buf = java.util.Arrays.copyOf(buf,
          (if (2 * doubled > allowed) allowed else doubled).toInt)
      }
      System.arraycopy(b, off, buf, n, len)
      n += len
    }
    def bytes: Array[Byte] =
      if (n == buf.length) buf else java.util.Arrays.copyOf(buf, n)
  }

  /** Apply the stream's declared filter chain; null on corrupt data
    * (caller treats as undecodable). Unknown filters pass data through
    * unchanged (image codecs never reach the text interpreter — it
    * gates on "BT"). /DecodeParms predictors (>1) are un-applied right
    * after the Flate/LZW stage they parameterize; a predictor this
    * decoder can't invert yields null rather than predictor-encoded
    * garbage flowing into the content interpreter. */
  private[pdf] def decodeStream(dict: String, raw: Array[Byte],
      budget: DecodeBudget): Array[Byte] = {
    val parms = decodeParmsOf(dict)
    filtersOf(dict).zipWithIndex.foldLeft(raw) { case (data, (f, idx)) =>
      if (data == null) null
      else f match {
        case "FlateDecode" | "Fl" => applyPredictor(parms(idx), inflate(data, budget))
        case "LZWDecode" | "LZW" => applyPredictor(parms(idx), lzwDecode(data, budget))
        case "ASCIIHexDecode" | "AHx" => asciiHexDecode(data)
        case "ASCII85Decode" | "A85" => ascii85Decode(data, budget)
        case "RunLengthDecode" | "RL" => runLengthDecode(data, budget)
        case _ => data
      }
    }
  }

  /** Predictor parameters of one /DecodeParms entry (spec defaults:
    * Predictor 1, Colors 1, BitsPerComponent 8, Columns 1). */
  private[pdf] final case class PredictorParms(
      predictor: Int, colors: Int, bpc: Int, columns: Int)

  private val intEntryToken =
    java.util.regex.Pattern.compile("/(Predictor|Colors|BitsPerComponent|Columns)\\s+(\\d+)")

  private def parseParmsDict(body: String): PredictorParms = {
    var pred = 1; var colors = 1; var bpc = 8; var columns = 1
    val m = intEntryToken.matcher(body)
    while (m.find()) {
      val v = m.group(2).toInt
      m.group(1) match {
        case "Predictor" => pred = v
        case "Colors" => colors = v
        case "BitsPerComponent" => bpc = v
        case "Columns" => columns = v
      }
    }
    PredictorParms(pred, colors, bpc, columns)
  }

  /** /DecodeParms (or abbreviated /DP) entries as an index-aligned view
    * over the filter chain: a single dict parameterizes filter 0, an
    * array of dicts/nulls aligns positionally (§7.3.8.2). Returns the
    * identity parms when absent — every index is total. */
  private[pdf] def decodeParmsOf(dict: String): Int => PredictorParms = {
    val none = PredictorParms(1, 1, 8, 1)
    var pi = dict.indexOf("/DecodeParms")
    var keyLen = "/DecodeParms".length
    if (pi < 0) { pi = dict.indexOf("/DP"); keyLen = "/DP".length }
    if (pi < 0) return _ => none
    var j = pi + keyLen
    while (j < dict.length && Character.isWhitespace(dict.charAt(j))) j += 1
    if (j + 1 < dict.length && dict.charAt(j) == '<' && dict.charAt(j + 1) == '<') {
      val end = dict.indexOf(">>", j)
      val body = if (end < 0) dict.substring(j) else dict.substring(j, end)
      val p = parseParmsDict(body)
      i => if (i == 0) p else none
    } else if (j < dict.length && dict.charAt(j) == '[') {
      // array of << dict >> | null, positional per filter
      val rb = dict.indexOf(']', j)
      val body = if (rb < 0) dict.substring(j + 1) else dict.substring(j + 1, rb)
      val out = List.newBuilder[PredictorParms]
      var k = 0
      while (k < body.length) {
        if (body.startsWith("<<", k)) {
          val end = body.indexOf(">>", k)
          val dictBody = if (end < 0) body.substring(k) else body.substring(k, end)
          out += parseParmsDict(dictBody)
          k = if (end < 0) body.length else end + 2
        } else if (body.startsWith("null", k)) { out += none; k += 4 }
        else k += 1
      }
      val arr = out.result().toArray
      i => if (i >= 0 && i < arr.length) arr(i) else none
    } else _ => none // indirect ref or malformed — treat as no predictor
  }

  /** Invert the declared predictor (§7.4.4.4). Predictor 1 is identity;
    * 2 is TIFF horizontal differencing (8-bit components only here —
    * sub-byte TIFF differencing yields null/undecodable rather than
    * garbage); 10–15 are the PNG row filters, where each row carries
    * its own tag byte (the /Predictor value ≥10 only signals "PNG
    * predictors in use"). Malformed geometry → null. */
  private[pdf] def applyPredictor(p: PredictorParms,
      data: Array[Byte]): Array[Byte] = {
    if (data == null || p.predictor <= 1) return data
    val rowLen = (p.columns * p.colors * p.bpc + 7) / 8
    if (rowLen <= 0) return null
    val bpp = math.max(1, (p.colors * p.bpc + 7) / 8)
    if (p.predictor == 2) {
      if (p.bpc != 8) return null
      if (data.length % rowLen != 0) return null
      val out = data.clone()
      var r = 0
      while (r < out.length) {
        var i = r + bpp
        val end = r + rowLen
        while (i < end) { out(i) = (out(i) + out(i - bpp)).toByte; i += 1 }
        r += rowLen
      }
      out
    } else if (p.predictor >= 10 && p.predictor <= 15) {
      if (data.length % (rowLen + 1) != 0) return null
      val rows = data.length / (rowLen + 1)
      val out = new Array[Byte](rows.toLong.toInt * rowLen)
      val prev = new Array[Byte](rowLen) // row above, zeros for row 0
      var r = 0
      while (r < rows) {
        val tag = data(r * (rowLen + 1)) & 0xff
        val src = r * (rowLen + 1) + 1
        val dst = r * rowLen
        var i = 0
        tag match {
          case 0 => // None
            System.arraycopy(data, src, out, dst, rowLen)
          case 1 => // Sub
            while (i < rowLen) {
              val left = if (i >= bpp) out(dst + i - bpp) & 0xff else 0
              out(dst + i) = ((data(src + i) & 0xff) + left).toByte
              i += 1
            }
          case 2 => // Up
            while (i < rowLen) {
              out(dst + i) = ((data(src + i) & 0xff) + (prev(i) & 0xff)).toByte
              i += 1
            }
          case 3 => // Average
            while (i < rowLen) {
              val left = if (i >= bpp) out(dst + i - bpp) & 0xff else 0
              val up = prev(i) & 0xff
              out(dst + i) = ((data(src + i) & 0xff) + ((left + up) >> 1)).toByte
              i += 1
            }
          case 4 => // Paeth
            while (i < rowLen) {
              val a = if (i >= bpp) out(dst + i - bpp) & 0xff else 0
              val b = prev(i) & 0xff
              val c = if (i >= bpp) prev(i - bpp) & 0xff else 0
              val pp = a + b - c
              val pa = math.abs(pp - a); val pb = math.abs(pp - b)
              val pc = math.abs(pp - c)
              val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
              out(dst + i) = ((data(src + i) & 0xff) + pred).toByte
              i += 1
            }
          case _ => return null // unknown row tag — corrupt
        }
        System.arraycopy(out, dst, prev, 0, rowLen)
        r += 1
      }
      out
    } else null // predictors 3..9 are not defined by the spec
  }

  /** ASCIIHexDecode: hex pairs, whitespace ignored, `>` terminates, an
    * odd trailing digit is padded with 0 (spec §7.4.2). */
  private[pdf] def asciiHexDecode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 1)
    var hi = -1
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val c = data(i).toChar
      if (c == '>') done = true
      else {
        val d = Character.digit(c, 16)
        if (d >= 0) {
          if (hi < 0) hi = d
          else { out.write((hi << 4) | d); hi = -1 }
        }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi << 4)
    out.toByteArray
  }

  /** ASCII85Decode: 5 chars (!..u) → 4 bytes base-85; `z` = four zero
    * bytes; `~>` terminates; a partial group of n chars yields n−1
    * bytes after padding with 'u' (spec §7.4.3). */
  private[pdf] def ascii85Decode(data: Array[Byte],
      budget: DecodeBudget): Array[Byte] = {
    val out = new Sink(budget, data.length * 4 / 5 + 4)
    val group = new Array[Byte](4)
    var tuple = 0L
    var cnt = 0
    var i = 0
    if (data.length >= 2 && data(0) == '<' && data(1) == '~') i = 2
    var done = false
    while (i < data.length && !done) {
      val c = data(i).toChar
      if (c == '~') done = true
      else if (c == 'z' && cnt == 0) {
        bigEndian(0L, group)
        out.write(group, 0, 4)
      } else if (c >= '!' && c <= 'u') {
        tuple = tuple * 85 + (c - '!')
        cnt += 1
        if (cnt == 5) {
          bigEndian(tuple, group)
          out.write(group, 0, 4)
          tuple = 0L; cnt = 0
        }
      } // anything else (whitespace): skip
      i += 1
    }
    if (cnt > 1) {
      var p = cnt
      while (p < 5) { tuple = tuple * 85 + 84; p += 1 } // pad with 'u'
      bigEndian(tuple, group)
      out.write(group, 0, cnt - 1)
    }
    out.bytes
  }

  private def bigEndian(v: Long, to: Array[Byte]): Unit =
    for (k <- 0 until 4) to(k) = (v >> (24 - 8 * k)).toByte

  /** RunLengthDecode: length byte L ∈ [0,127] copies the next L+1 bytes
    * literally; L ∈ [129,255] repeats the next byte 257−L times; 128 is
    * EOD (spec §7.4.5). */
  private[pdf] def runLengthDecode(data: Array[Byte],
      budget: DecodeBudget): Array[Byte] = {
    val out = new Sink(budget, data.length * 2)
    val run = new Array[Byte](128)
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val l = data(i) & 0xff
      i += 1
      if (l == 128) done = true
      else if (l < 128) {
        val n = math.min(l + 1, data.length - i)
        out.write(data, i, n)
        i += n
      } else if (i < data.length) {
        java.util.Arrays.fill(run, 0, 257 - l, data(i))
        out.write(run, 0, 257 - l)
        i += 1
      } else done = true
    }
    out.bytes
  }

  /** LZWDecode (spec §7.4.4, TIFF-style): 9→12-bit codes MSB-first,
    * 256 = clear table, 257 = EOD, entries from 258; code width grows
    * one entry EARLY (EarlyChange default 1: at table sizes 511, 1023,
    * 2047). Truncated/invalid input yields the bytes decoded so far. */
  private[pdf] def lzwDecode(data: Array[Byte],
      budget: DecodeBudget): Array[Byte] = {
    val out = new Sink(budget, data.length * 3)
    val table = new Array[Array[Byte]](4096)
    var dictSize = 258
    var codeBits = 9
    var prev: Array[Byte] = null
    var bitBuf = 0L
    var bitCnt = 0
    var i = 0
    var done = false
    while (!done) {
      while (bitCnt < codeBits && i < data.length) {
        bitBuf = (bitBuf << 8) | (data(i) & 0xff)
        bitCnt += 8
        i += 1
      }
      if (bitCnt < codeBits) done = true // truncated input
      else {
        val code =
          ((bitBuf >> (bitCnt - codeBits)) & ((1 << codeBits) - 1)).toInt
        bitCnt -= codeBits
        if (code == 256) { dictSize = 258; codeBits = 9; prev = null }
        else if (code == 257) done = true
        else {
          val entry: Array[Byte] =
            if (code < 256) Array(code.toByte)
            else if (code < dictSize && table(code) != null) table(code)
            else if (prev != null) prev :+ prev(0) // KwKwK
            else return out.bytes // invalid leading code
          out.write(entry, 0, entry.length)
          if (prev != null && dictSize < 4096) {
            table(dictSize) = prev :+ entry(0)
            dictSize += 1
          }
          prev = entry
          if (codeBits < 12 && dictSize + 1 >= (1 << codeBits))
            codeBits += 1 // EarlyChange = 1
        }
      }
    }
    out.bytes
  }

  /** Null on a corrupt stream. A stream that needs a preset dictionary
    * (zlib FDICT) cannot be decoded: there `inflate` returns 0 with input
    * left, so "no output and input left" ends the loop as corrupt
    * instead of spinning; a truncated stream keeps what it decoded. */
  private def inflate(data: Array[Byte], budget: DecodeBudget): Array[Byte] = {
    val inf = new Inflater()
    try {
      inf.setInput(data)
      val out = new Sink(budget, data.length * 4)
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished() &&
            (inf.needsDictionary() || !inf.needsInput())) return null
        if (n == 0 && inf.needsInput()) return out.bytes
        out.write(buf, 0, n)
      }
      out.bytes
    } catch { case _: java.util.zip.DataFormatException => null }
    finally inf.end()
  }

  // ------------------------------------------------------------------
  // content-stream interpreter

  private sealed trait Tok
  private final case class TNum(v: Double) extends Tok
  private final case class TStr(v: String, hex: Boolean = false) extends Tok
  private final case class TName(v: String) extends Tok
  private final case class TOp(v: String) extends Tok
  private case object TArrOpen extends Tok
  private case object TArrClose extends Tok

  private def tokenize(s: String): Iterator[Tok] = new Iterator[Tok] {
    private var i = 0
    private var nextTok: Tok = advance()

    private def skipWs(): Unit = {
      var going = true
      while (going && i < s.length) {
        val c = s.charAt(i)
        if (c == '%') { // comment to EOL
          while (i < s.length && s.charAt(i) != '\n') i += 1
        } else if (c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '\f' || c == 0)
          i += 1
        else going = false
      }
    }

    private def readLiteralString(): String = {
      // s(i) == '('
      i += 1
      val sb = new java.lang.StringBuilder()
      var depth = 1
      while (i < s.length && depth > 0) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          val e = s.charAt(i + 1)
          e match {
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case '(' => sb.append('('); i += 2
            case ')' => sb.append(')'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case '\n' => i += 2 // line continuation
            case d if d >= '0' && d <= '7' =>
              var v = 0; var k = 0; i += 1
              while (k < 3 && i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '7') {
                v = v * 8 + (s.charAt(i) - '0'); i += 1; k += 1
              }
              sb.append(v.toChar)
            case other => sb.append(other); i += 2
          }
        } else if (c == '(') { depth += 1; sb.append(c); i += 1 }
        else if (c == ')') { depth -= 1; if (depth > 0) sb.append(c); i += 1 }
        else { sb.append(c); i += 1 }
      }
      sb.toString
    }

    private def readHexString(): String = {
      i += 1 // '<'
      val sb = new java.lang.StringBuilder()
      val hex = new java.lang.StringBuilder()
      while (i < s.length && s.charAt(i) != '>') {
        val c = s.charAt(i)
        if (Character.digit(c, 16) >= 0) hex.append(c)
        i += 1
      }
      if (i < s.length) i += 1 // '>'
      if (hex.length() % 2 == 1) hex.append('0')
      var k = 0
      while (k + 1 < hex.length() + 1 && k + 2 <= hex.length()) {
        sb.append(Integer.parseInt(hex.substring(k, k + 2), 16).toChar)
        k += 2
      }
      sb.toString
    }

    private def advance(): Tok = {
      skipWs()
      if (i >= s.length) return null
      val c = s.charAt(i)
      if (c == '(') TStr(readLiteralString())
      else if (c == '<' && i + 1 < s.length && s.charAt(i + 1) == '<') {
        i += 2; TOp("<<")
      } else if (c == '<') TStr(readHexString(), hex = true)
      else if (c == '>' && i + 1 < s.length && s.charAt(i + 1) == '>') {
        i += 2; TOp(">>")
      } else if (c == '[') { i += 1; TArrOpen }
      else if (c == ']') { i += 1; TArrClose }
      else if (c == '/') {
        val st = i + 1; i += 1
        while (i < s.length && !isDelim(s.charAt(i))) i += 1
        TName(s.substring(st, i))
      } else if (c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
        val st = i
        i += 1
        while (i < s.length && (s.charAt(i) == '.' ||
          (s.charAt(i) >= '0' && s.charAt(i) <= '9'))) i += 1
        try TNum(s.substring(st, i).toDouble)
        catch { case _: NumberFormatException => TOp(s.substring(st, i)) }
      } else {
        val st = i
        while (i < s.length && !isDelim(s.charAt(i))) i += 1
        if (i == st) { i += 1; TOp(c.toString) }
        else TOp(s.substring(st, i))
      }
    }

    private def isDelim(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '\f' ||
        c == '(' || c == ')' || c == '<' || c == '>' || c == '[' ||
        c == ']' || c == '/' || c == '%' || c == 0

    def hasNext: Boolean = nextTok != null
    def next(): Tok = { val t = nextTok; nextTok = advance(); t }
  }

  /** Map a hex string's byte-chars as 2-byte CIDs through the ToUnicode
    * table; unmapped codes (and odd trailing bytes) become U+FFFD. */
  private def decodeCid(raw: String, toUni: Map[Int, String]): String = {
    val sb = new java.lang.StringBuilder(raw.length / 2 + 1)
    var k = 0
    while (k + 1 < raw.length) {
      val code = (raw.charAt(k) << 8) | raw.charAt(k + 1)
      sb.append(toUni.getOrElse(code, "\uFFFD"))
      k += 2
    }
    if (k < raw.length) sb.append('\uFFFD')
    sb.toString
  }

  /** Interpret one content stream into positioned glyph runs. */
  private[pdf] def interpretContent(content: String, cid: Boolean,
      toUni: Map[Int, String],
      fonts: Map[String, Array[String]]): List[GlyphRun] = {
    if (!content.contains("BT")) return Nil
    val runs = List.newBuilder[GlyphRun]
    var count = 0

    var fontSize = 12.0
    var leading = 14.0
    var lineX = 0.0; var lineY = 0.0
    var curX = 0.0; var curY = 0.0
    // current simple-font decode table (null = identity); selected by Tf
    var fontTable: Array[String] = null
    var lastName: String = null
    // operand stack (numbers/strings since last operator)
    val nums = scala.collection.mutable.ArrayBuffer.empty[Double]
    var lastStr: String = null
    var lastStrCid = false // CID hex strings are already fully decoded
    val arr = scala.collection.mutable.ArrayBuffer.empty[Either[String, Double]]
    var arrCid = false // uniform per array: Tf cannot occur inside [ ]
    var inArray = false

    def show(text: String, cidDecoded: Boolean): Unit = {
      if (text.nonEmpty && count < 100000) {
        val decoded =
          if (cidDecoded || fontTable == null) text
          else PdfEncodings.decode(text, fontTable)
        runs += GlyphRun(curX, curY, fontSize, decoded)
        count += 1
        curX += 0.5 * fontSize * text.length
      }
    }

    val it = tokenize(content)
    while (it.hasNext) {
      it.next() match {
        case TNum(v) =>
          if (inArray) arr += Right(v) else nums += v
        case TStr(raw, isHex) =>
          // hex strings route through the CID CMap only when no simple
          // font is selected (a Type0 font is never in `fonts`)
          val viaCid = cid && isHex && fontTable == null
          val v = if (viaCid) decodeCid(raw, toUni) else raw
          if (inArray) { arr += Left(v); arrCid = viaCid }
          else { lastStr = v; lastStrCid = viaCid }
        case TArrOpen => inArray = true; arr.clear()
        case TArrClose => inArray = false
        case TName(v) => lastName = v // consumed by Tf
        case TOp(op) =>
          op match {
            case "Tf" =>
              if (nums.nonEmpty) fontSize = nums.last
              fontTable =
                if (lastName != null) fonts.getOrElse(lastName, null) else null
            case "TL" =>
              if (nums.nonEmpty) leading = nums.last
            case "Td" | "TD" =>
              if (nums.size >= 2) {
                if (op == "TD") leading = -nums.last
                lineX += nums(nums.size - 2); lineY += nums.last
                curX = lineX; curY = lineY
              }
            case "Tm" =>
              // translation components only; glyph scale approximated by Tf
              if (nums.size >= 6) {
                lineX = nums(nums.size - 2); lineY = nums.last
                curX = lineX; curY = lineY
              }
            case "T*" =>
              lineY -= leading; curX = lineX; curY = lineY
            case "BT" =>
              lineX = 0; lineY = 0; curX = 0; curY = 0
            case "ET" => // end text
            case "Tj" =>
              if (lastStr != null) { show(lastStr, lastStrCid); lastStr = null }
            case "'" | "\"" =>
              lineY -= leading; curX = lineX; curY = lineY
              if (lastStr != null) { show(lastStr, lastStrCid); lastStr = null }
            case "TJ" =>
              arr.foreach {
                case Left(s) => show(s, arrCid)
                case Right(adj) => curX -= adj / 1000.0 * fontSize
              }
              arr.clear()
            case _ => // unknown operator — ignore
          }
          nums.clear()
      }
    }
    runs.result()
  }
}
