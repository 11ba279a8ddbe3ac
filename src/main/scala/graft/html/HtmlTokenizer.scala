package graft.html

/** Hand-rolled, allocation-disciplined HTML tokenizer → [[DomArena]].
  *
  * The Spark-native analog of the reference's core recognition kernel
  * (K11, /root/reference/ocr_reconstruct/modules/ocr.py:12-23 — the black
  * box that turns pixels into text; here: bytes → tags/text). No external
  * parser (north_rule: "hand-rolled HTML tokenizer"). Tolerant of broken
  * markup: mis-nesting, unclosed tags and stray `</...>` never throw.
  *
  * Bounded per-row cost (SURVEY §4 resource caps): `MaxNodes` caps arena
  * growth so one pathological document cannot stall a task.
  */
object HtmlTokenizer {

  /** Upper bound on arena nodes per document (defensive; a 10 MB page of
    * 1-char tags stays under this). */
  val MaxNodes: Int = 1 << 21

  /** Per-thread reusable scratch. A Spark task processes thousands of
    * documents on one thread; fresh builder arrays + StringBuilders per
    * document made the kernel allocation-bound at high core counts (GC
    * contention was the round-1 scaling-efficiency gap). Escaped values
    * (`DomArena`, result strings) are always exact-size copies. */
  private final class Scratch {
    val builder = new DomArena.Builder(4096)
    var stackNodes = new Array[Int](64)
    var stackTags = new Array[Int](64)
    val textBuf = new java.lang.StringBuilder(256)
    val decodeBuf = new java.lang.StringBuilder(8192)
  }
  private val tlScratch: ThreadLocal[Scratch] =
    ThreadLocal.withInitial(() => new Scratch)

  /** UTF-8 decode dropping invalid sequences — the byte-level analog of
    * Python's `bytes.decode('utf-8', errors='ignore')` used throughout the
    * reference (e.g. ocr_engine.py:309). Skips a UTF-8 BOM. */
  def decodeUtf8Ignore(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.isEmpty) return ""
    val sb = tlScratch.get().decodeBuf
    sb.setLength(0)
    sb.ensureCapacity(bytes.length)
    var i = 0
    if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef &&
        (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf) i = 3
    val n = bytes.length
    while (i < n) {
      val b0 = bytes(i) & 0xff
      if (b0 < 0x80) { sb.append(b0.toChar); i += 1 }
      else if (b0 < 0xc2) i += 1 // invalid lead / stray continuation
      else if (b0 < 0xe0) { // 2-byte
        if (i + 1 < n && (bytes(i + 1) & 0xc0) == 0x80) {
          sb.append((((b0 & 0x1f) << 6) | (bytes(i + 1) & 0x3f)).toChar)
          i += 2
        } else i += 1
      } else if (b0 < 0xf0) { // 3-byte
        if (i + 2 < n && (bytes(i + 1) & 0xc0) == 0x80 &&
            (bytes(i + 2) & 0xc0) == 0x80) {
          val cp = ((b0 & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) |
            (bytes(i + 2) & 0x3f)
          // reject overlongs and surrogates like Python does
          if (cp >= 0x800 && !(cp >= 0xd800 && cp <= 0xdfff))
            sb.append(cp.toChar)
          i += 3
        } else i += 1
      } else if (b0 < 0xf5) { // 4-byte
        if (i + 3 < n && (bytes(i + 1) & 0xc0) == 0x80 &&
            (bytes(i + 2) & 0xc0) == 0x80 && (bytes(i + 3) & 0xc0) == 0x80) {
          val cp = ((b0 & 0x07) << 18) | ((bytes(i + 1) & 0x3f) << 12) |
            ((bytes(i + 2) & 0x3f) << 6) | (bytes(i + 3) & 0x3f)
          if (cp >= 0x10000 && cp <= 0x10ffff) sb.appendCodePoint(cp)
          i += 4
        } else i += 1
      } else i += 1
    }
    sb.toString
  }

  private val NamedEntities: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String](64)
    m.put("amp", "&"); m.put("lt", "<"); m.put("gt", ">")
    m.put("quot", "\""); m.put("apos", "'"); m.put("nbsp", " ")
    m.put("copy", "©"); m.put("reg", "®"); m.put("trade", "™")
    m.put("mdash", "—"); m.put("ndash", "–"); m.put("hellip", "…")
    m.put("lsquo", "‘"); m.put("rsquo", "’")
    m.put("ldquo", "“"); m.put("rdquo", "”")
    m.put("eacute", "é"); m.put("egrave", "è"); m.put("agrave", "à")
    m.put("aacute", "á"); m.put("iacute", "í"); m.put("oacute", "ó")
    m.put("uacute", "ú"); m.put("ntilde", "ñ"); m.put("uuml", "ü")
    m.put("ouml", "ö"); m.put("auml", "ä"); m.put("szlig", "ß")
    m.put("ccedil", "ç"); m.put("euro", "€"); m.put("pound", "£")
    m.put("yen", "¥"); m.put("cent", "¢"); m.put("sect", "§")
    m.put("middot", "·"); m.put("bull", "•"); m.put("deg", "°")
    m.put("laquo", "«"); m.put("raquo", "»"); m.put("times", "×")
    m.put("divide", "÷"); m.put("frac12", "½"); m.put("frac14", "¼")
    m
  }

  /** Decode character references in `s[start,end)` into `out`. */
  private def appendEntityDecoded(
      out: java.lang.StringBuilder, s: String, start: Int, end: Int): Unit = {
    var i = start
    while (i < end) {
      val c = s.charAt(i)
      if (c != '&') { out.append(c); i += 1 }
      else {
        // find ';' within 32 chars
        var j = i + 1
        val lim = math.min(end, i + 33)
        var semi = -1
        while (j < lim && semi < 0) {
          val cj = s.charAt(j)
          if (cj == ';') semi = j
          else if (cj == '&' || cj == '<' || Character.isWhitespace(cj)) j = lim
          else j += 1
        }
        if (semi < 0) { out.append('&'); i += 1 }
        else {
          val body = s.substring(i + 1, semi)
          if (body.startsWith("#")) {
            val cp =
              try {
                if (body.length > 1 && (body.charAt(1) == 'x' || body.charAt(1) == 'X'))
                  Integer.parseInt(body.substring(2), 16)
                else Integer.parseInt(body.substring(1))
              } catch { case _: NumberFormatException => -1 }
            if (cp > 0 && cp <= 0x10ffff && !(cp >= 0xd800 && cp <= 0xdfff)) {
              out.appendCodePoint(cp); i = semi + 1
            } else { out.append('&'); i += 1 }
          } else {
            val rep = NamedEntities.get(body)
            if (rep != null) { out.append(rep); i = semi + 1 }
            else { out.append('&'); i += 1 }
          }
        }
      }
    }
  }

  @inline private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  @inline private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'

  /** Charset sniff over the first 1024 bytes (meta charset=... /
    * http-equiv content-type), the way real Common-Crawl payloads declare
    * non-UTF-8 encodings. Only latin-1-family charsets are special-cased;
    * everything else (incl. utf-8) takes the UTF-8-ignore path. */
  private[html] def sniffCharset(bytes: Array[Byte]): String = {
    val n = math.min(bytes.length, 1024)
    val head = new String(bytes, 0, n,
      java.nio.charset.StandardCharsets.ISO_8859_1).toLowerCase(java.util.Locale.ROOT)
    val i = head.indexOf("charset=")
    if (i < 0) return "utf-8"
    var j = i + "charset=".length
    while (j < head.length && (head.charAt(j) == '"' || head.charAt(j) == '\'' ||
           head.charAt(j) == ' ')) j += 1
    val start = j
    while (j < head.length && (Character.isLetterOrDigit(head.charAt(j)) ||
           head.charAt(j) == '-' || head.charAt(j) == '_')) j += 1
    head.substring(start, j) match {
      case "iso-8859-1" | "latin-1" | "latin1" | "windows-1252" | "cp1252" =>
        "latin-1"
      case _ => "utf-8"
    }
  }

  /** Decode per sniffed charset; latin-1 is total (no invalid bytes). */
  def decodeBytes(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.isEmpty) ""
    else if (sniffCharset(bytes) == "latin-1")
      new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    else decodeUtf8Ignore(bytes)
  }

  /** Parse HTML bytes into a DOM arena. Never throws on malformed input. */
  def parse(bytes: Array[Byte]): DomArena = parseString(decodeBytes(bytes))

  def parseString(doc: String): DomArena = {
    val scratch = tlScratch.get()
    val b = scratch.builder
    b.reset()
    val root = b.addElement(HtmlTags.id("html"), DomArena.NoNode)
    // open-element stack: node indices + tag ids (parallel, primitive,
    // thread-local — grown arrays persist across documents)
    var stackNodes = scratch.stackNodes
    var stackTags = scratch.stackTags
    var sp = 0
    def push(node: Int, tagId: Int): Unit = {
      if (sp == stackNodes.length) {
        stackNodes = java.util.Arrays.copyOf(stackNodes, sp * 2)
        stackTags = java.util.Arrays.copyOf(stackTags, sp * 2)
        scratch.stackNodes = stackNodes
        scratch.stackTags = stackTags
      }
      stackNodes(sp) = node; stackTags(sp) = tagId; sp += 1
    }
    def top: Int = if (sp == 0) root else stackNodes(sp - 1)

    val n = doc.length
    var i = 0
    var textStart = 0
    val textBuf = scratch.textBuf

    def flushText(endExclusive: Int): Unit = {
      if (endExclusive > textStart) {
        textBuf.setLength(0)
        appendEntityDecoded(textBuf, doc, textStart, endExclusive)
        // collapse all-whitespace runs into a single-space node
        // (preserves word separation across inline-tag boundaries)
        var k = 0
        var allWs = true
        while (k < textBuf.length() && allWs) {
          if (!Character.isWhitespace(textBuf.charAt(k))) allWs = false
          k += 1
        }
        if (b.nodeCount < MaxNodes) {
          if (allWs) b.addText(top, " ")
          else b.addText(top, textBuf.toString)
        }
      }
    }

    def skipTo(seq: String, from: Int): Int = {
      val idx = doc.indexOf(seq, from)
      if (idx < 0) n else idx + seq.length
    }

    while (i < n) {
      val c = doc.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = doc.charAt(i + 1)
        if (c1 == '!') {
          flushText(i)
          i = if (doc.startsWith("<!--", i)) skipTo("-->", i + 4)
              else skipTo(">", i + 2)
          textStart = i
        } else if (c1 == '?') {
          flushText(i)
          i = skipTo(">", i + 2)
          textStart = i
        } else if (c1 == '/') {
          flushText(i)
          // parse close-tag name
          var j = i + 2
          val nameStart = j
          while (j < n && isNameChar(doc.charAt(j))) j += 1
          val tagName = doc.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
          val tagId = HtmlTags.id(tagName)
          i = skipTo(">", j)
          textStart = i
          // pop to matching open tag if present (tolerant close)
          var k = sp - 1
          while (k >= 0 && stackTags(k) != tagId) k -= 1
          if (k >= 0) sp = k
        } else if (isNameStart(c1)) {
          flushText(i)
          var j = i + 1
          val nameStart = j
          while (j < n && isNameChar(doc.charAt(j))) j += 1
          val tagName = doc.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
          val tagId = HtmlTags.id(tagName)
          // skip attributes (quote-aware) to '>'
          var selfClosing = false
          var inQuote: Char = 0
          var done = false
          while (j < n && !done) {
            val cj = doc.charAt(j)
            if (inQuote != 0) { if (cj == inQuote) inQuote = 0; j += 1 }
            else if (cj == '"' || cj == '\'') { inQuote = cj; j += 1 }
            else if (cj == '>') {
              selfClosing = j > nameStart && doc.charAt(j - 1) == '/'
              j += 1; done = true
            } else j += 1
          }
          i = j
          textStart = i
          if (b.nodeCount < MaxNodes) {
            if (HtmlTags.isRawText(tagId)) {
              // capture raw content until matching close tag
              val node = b.addElement(tagId, top)
              val closeSeq = "</" + tagName
              var endIdx = indexOfIgnoreCase(doc, closeSeq, i)
              if (endIdx < 0) endIdx = n
              // title content is kept (metadata); script/style content dropped
              if (tagId == HtmlTags.id("title") && endIdx > i) {
                textBuf.setLength(0)
                appendEntityDecoded(textBuf, doc, i, endIdx)
                if (textBuf.length() > 0) b.addText(node, textBuf.toString)
              }
              i = if (endIdx >= n) n else skipTo(">", endIdx)
              textStart = i
            } else if (HtmlTags.isVoid(tagId) || selfClosing) {
              b.addElement(tagId, top)
            } else {
              val node = b.addElement(tagId, top)
              push(node, tagId)
            }
          }
        } else { i += 1 } // stray '<'
      } else i += 1
    }
    flushText(n)
    b.result()
  }

  /** Case-insensitive indexOf for ASCII needles (close tags). */
  private def indexOfIgnoreCase(hay: String, needle: String, from: Int): Int = {
    val nh = hay.length
    val nn = needle.length
    var i = math.max(0, from)
    while (i + nn <= nh) {
      var j = 0
      var ok = true
      while (j < nn && ok) {
        val a = Character.toLowerCase(hay.charAt(i + j))
        val bch = Character.toLowerCase(needle.charAt(j))
        if (a != bch) ok = false
        j += 1
      }
      if (ok) return i
      i += 1
    }
    -1
  }
}
