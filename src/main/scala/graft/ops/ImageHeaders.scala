package graft.ops

/** Pure-Scala image container codecs for the multimodal column family —
  * REAL formats, not the synthetic stub: PNG (signature + IHDR chunk)
  * and BMP (BITMAPFILEHEADER + BITMAPINFOHEADER). The encoders emit
  * fully valid minimal files (correct CRCs, zlib-stored IDAT, padded
  * 24-bpp pixel rows) with arithmetic-predictable byte lengths, so the
  * DuckDB oracle can recompute `bytes` per media row independently:
  *
  *  - PNG total = 8 (sig) + 25 (IHDR) + 12 + zlen + 12 (IEND), where
  *    zlen = 2 (zlib hdr) + 5 (one stored block ≤ 64 KB) + D + 4
  *    (adler32) and D = h · (1 + 3·w) raw filter+RGB bytes
  *    → total = 68 + h · (1 + 3·w).
  *  - BMP total = 14 + 40 + h · rowSize, rowSize = ((3·w + 3) / 4) · 4.
  *
  * Public-spec formats: PNG per RFC 2083 / ISO 15948, BMP per the
  * Windows BITMAPINFOHEADER layout. Audio/video use real RIFF
  * containers — see [[RiffContainers]] (WAV and AVI).
  */
object ImageHeaders {

  val PngSignature: Array[Byte] =
    Array(0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')

  /** Does the payload start with the 8-byte PNG signature? */
  def isPng(b: Array[Byte]): Boolean =
    b != null && b.length >= 8 && {
      var i = 0
      while (i < 8 && b(i) == PngSignature(i)) i += 1
      i == 8
    }

  /** BMP magic "BM" + a plausible header length. */
  def isBmp(b: Array[Byte]): Boolean =
    b != null && b.length >= 54 && b(0) == 'B' && b(1) == 'M'

  private def be32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private[ops] def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  /** IHDR parse: (width, height, bitDepth) — the IHDR chunk is required
    * to be first (offset 8: length, 12: "IHDR", 16: fields). None when
    * the signature or chunk tag is absent or dimensions are invalid. */
  def decodePng(b: Array[Byte]): Option[(Int, Int, Int)] = {
    if (!isPng(b) || b.length < 26) return None
    if (b(12) != 'I' || b(13) != 'H' || b(14) != 'D' || b(15) != 'R')
      return None
    val w = be32(b, 16)
    val h = be32(b, 20)
    val depth = b(24) & 0xff
    if (w <= 0 || h <= 0) None else Some((w, h, depth))
  }

  /** BITMAPINFOHEADER parse: (width, height, bitsPerPixel). Height may
    * be negative (top-down rows) — reported as its magnitude. */
  def decodeBmp(b: Array[Byte]): Option[(Int, Int, Int)] = {
    if (!isBmp(b)) return None
    val w = le32(b, 18)
    val h = le32(b, 22)
    val bpp = (b(28) & 0xff) | ((b(29) & 0xff) << 8)
    if (w <= 0 || h == 0) None else Some((w, math.abs(h), bpp))
  }

  private def crc32(parts: Array[Byte]*): Int = {
    val c = new java.util.zip.CRC32()
    parts.foreach(p => c.update(p))
    c.getValue.toInt
  }

  private def putBe32(bb: java.nio.ByteBuffer, v: Int): Unit = bb.putInt(v)

  /** Minimal VALID 8-bit RGB PNG: IHDR + one stored-mode zlib IDAT
    * (deterministic pixel bytes from `seed`) + IEND. Byte length is
    * exactly 68 + h·(1 + 3·w) — see object doc. */
  def encodePng(w: Int, h: Int, seed: Long): Array[Byte] = {
    val d = h * (1 + 3 * w) // filter byte + RGB per row
    require(d <= 65535, s"stored-block encoder caps one block: $d")
    val raw = new Array[Byte](d)
    var x = seed | 1L
    var p = 0
    var row = 0
    while (row < h) {
      raw(p) = 0 // filter: None
      p += 1
      var c = 0
      while (c < 3 * w) {
        x = x * 6364136223846793005L + 1442695040888963407L
        raw(p) = (x >>> 56).toByte
        p += 1
        c += 1
      }
      row += 1
    }
    // zlib stream: 0x78 0x01 header, one final stored block, adler32
    val adler = { val a = new java.util.zip.Adler32(); a.update(raw); a.getValue }
    val z = java.nio.ByteBuffer.allocate(2 + 5 + d + 4)
    z.put(0x78.toByte).put(0x01.toByte)
    z.put(0x01.toByte) // BFINAL=1, BTYPE=00 (stored)
    z.put((d & 0xff).toByte).put(((d >> 8) & 0xff).toByte)
    z.put(((d ^ 0xffff) & 0xff).toByte).put((((d ^ 0xffff) >> 8) & 0xff).toByte)
    z.put(raw)
    z.putInt(adler.toInt)
    val idat = z.array()

    val ihdrBody = java.nio.ByteBuffer.allocate(13)
    putBe32(ihdrBody, w); putBe32(ihdrBody, h)
    ihdrBody.put(8.toByte)  // bit depth
    ihdrBody.put(2.toByte)  // color type: truecolor RGB
    ihdrBody.put(0.toByte).put(0.toByte).put(0.toByte) // deflate/none/none

    val out = java.nio.ByteBuffer.allocate(8 + 25 + 12 + idat.length + 12)
    out.put(PngSignature)
    def chunk(tag: String, body: Array[Byte]): Unit = {
      out.putInt(body.length)
      val t = tag.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out.put(t).put(body)
      out.putInt(crc32(t, body))
    }
    chunk("IHDR", ihdrBody.array())
    chunk("IDAT", idat)
    chunk("IEND", Array.emptyByteArray)
    out.array()
  }

  /** Minimal valid bottom-up 24-bpp BMP with deterministic pixels.
    * Byte length is exactly 54 + h·((3·w + 3)/4·4). */
  def encodeBmp(w: Int, h: Int, seed: Long): Array[Byte] = {
    val rowSize = ((3 * w + 3) / 4) * 4
    val dataSize = h * rowSize
    val total = 54 + dataSize
    val bb = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte)
    bb.putInt(total)
    bb.putShort(0).putShort(0)
    bb.putInt(54) // pixel data offset
    bb.putInt(40) // BITMAPINFOHEADER size
    bb.putInt(w)
    bb.putInt(h)
    bb.putShort(1)  // planes
    bb.putShort(24) // bpp
    bb.putInt(0)    // BI_RGB
    bb.putInt(dataSize)
    bb.putInt(2835).putInt(2835) // 72 dpi
    bb.putInt(0).putInt(0)
    var x = seed | 1L
    var i = 0
    while (i < dataSize) {
      x = x * 6364136223846793005L + 1442695040888963407L
      bb.put((x >>> 56).toByte)
      i += 1
    }
    bb.array()
  }

  /** JPEG magic: SOI marker followed by another marker byte. */
  def isJpeg(b: Array[Byte]): Boolean =
    b != null && b.length >= 4 && (b(0) & 0xff) == 0xff &&
      (b(1) & 0xff) == 0xd8 && (b(2) & 0xff) == 0xff

  /** Segment walk to the first SOF0–SOF3 frame header:
    * (width, height, precision). Unknown markers are skipped by their
    * declared length; a torn segment or SOS-before-SOF returns None. */
  def decodeJpeg(b: Array[Byte]): Option[(Int, Int, Int)] = {
    if (!isJpeg(b)) return None
    var i = 2
    while (i + 3 < b.length) {
      if ((b(i) & 0xff) != 0xff) return None // lost marker sync
      val m = b(i + 1) & 0xff
      if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2
      else {
        val len = ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
        if (len < 2 || i + 2 + len > b.length) return None
        if (m >= 0xc0 && m <= 0xc3) { // SOF0..SOF3
          if (len < 9) return None
          val prec = b(i + 4) & 0xff
          val h = ((b(i + 5) & 0xff) << 8) | (b(i + 6) & 0xff)
          val w = ((b(i + 7) & 0xff) << 8) | (b(i + 8) & 0xff)
          return if (w > 0 && h > 0) Some((w, h, prec)) else None
        }
        if (m == 0xda) return None // scan started, no frame header seen
        i += 2 + len
      }
    }
    None
  }

  /** Minimal VALID baseline JFIF: APP0 + DQT + grayscale SOF0 + one DC
    * Huffman table + SOS + seeded entropy filler (0xff excluded — no
    * byte-stuffing needed) + EOI. Byte length is exactly
    * 137 + (w·h)/4 (integer division). */
  def encodeJpeg(w: Int, h: Int, seed: Long): Array[Byte] = {
    val entropy = w * h / 4 + 1
    val bb = java.nio.ByteBuffer.allocate(136 + entropy)
    def marker(m: Int): Unit = { bb.put(0xff.toByte).put(m.toByte) }
    marker(0xd8) // SOI
    marker(0xe0) // APP0 / JFIF
    bb.putShort(16)
    bb.put("JFIF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    bb.put(0.toByte)
    bb.put(1.toByte).put(1.toByte) // version 1.1
    bb.put(0.toByte)               // units: aspect only
    bb.putShort(1).putShort(1)     // density 1x1
    bb.put(0.toByte).put(0.toByte) // no thumbnail
    marker(0xdb) // DQT
    bb.putShort(67)
    bb.put(0.toByte) // 8-bit precision, table 0
    var i = 0
    while (i < 64) { bb.put(16.toByte); i += 1 } // flat table
    marker(0xc0) // SOF0: 8-bit grayscale
    bb.putShort(11)
    bb.put(8.toByte)
    bb.putShort(h.toShort).putShort(w.toShort)
    bb.put(1.toByte) // one component
    bb.put(1.toByte).put(0x11.toByte).put(0.toByte)
    marker(0xc4) // DHT: DC table 0, single zero-length code
    bb.putShort(20)
    bb.put(0.toByte) // class 0 (DC), id 0
    bb.put(1.toByte)
    i = 0
    while (i < 15) { bb.put(0.toByte); i += 1 }
    bb.put(0.toByte) // the one symbol: category 0
    marker(0xda) // SOS
    bb.putShort(8)
    bb.put(1.toByte)
    bb.put(1.toByte).put(0.toByte) // component 1, DC 0 / AC 0
    bb.put(0.toByte).put(63.toByte).put(0.toByte)
    var x = seed | 1L
    i = 0
    while (i < entropy) {
      x = x * 6364136223846793005L + 1442695040888963407L
      val v = ((x >>> 56) & 0xff).toInt
      bb.put((if (v == 0xff) 0xfe else v).toByte)
      i += 1
    }
    marker(0xd9) // EOI
    bb.array()
  }
}

/** Pure-Scala RIFF container codecs for audio/video media rows — real
  * public-spec formats (no AV codec libraries needed for container
  * metadata): WAV per the Microsoft/IBM RIFF WAVE layout (RIFF +
  * `fmt ` PCM chunk + `data` chunk) and AVI per the RIFF AVI layout
  * (RIFF + LIST `hdrl` with the 56-byte `avih` main header + LIST
  * `movi` with one frame chunk). The encoders emit valid minimal files
  * with closed-form byte lengths, so the DuckDB oracle recomputes
  * `bytes` per row independently:
  *
  *  - WAV total = 12 (RIFF hdr) + 24 (fmt) + 8 (data hdr) + dataLen
  *    = 44 + nFrames · channels · 2 (16-bit PCM).
  *  - AVI total = 12 (RIFF hdr) + 76 (LIST hdrl + avih) + 12 (LIST
  *    movi hdr) + 8 (00dc hdr) + bodyLen + (bodyLen mod 2) (RIFF
  *    chunks pad to even) = 108 + bodyLen + (bodyLen mod 2).
  */
object RiffContainers {
  import ImageHeaders.le32

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def tagAt(b: Array[Byte], off: Int, tag: String): Boolean =
    off + 4 <= b.length && b(off) == tag.charAt(0) && b(off + 1) == tag.charAt(1) &&
      b(off + 2) == tag.charAt(2) && b(off + 3) == tag.charAt(3)

  def isWav(b: Array[Byte]): Boolean =
    b != null && b.length >= 44 && tagAt(b, 0, "RIFF") && tagAt(b, 8, "WAVE")

  def isAvi(b: Array[Byte]): Boolean =
    b != null && b.length >= 12 && tagAt(b, 0, "RIFF") && tagAt(b, 8, "AVI ")

  /** Minimal valid 16-bit PCM WAV with deterministic samples. */
  def encodeWav(channels: Int, sampleRate: Int, nFrames: Int,
      seed: Long): Array[Byte] = {
    val blockAlign = channels * 2
    val dataLen = nFrames * blockAlign
    val total = 44 + dataLen
    val bb = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(total - 8)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb.putShort(1) // PCM
    bb.putShort(channels.toShort)
    bb.putInt(sampleRate)
    bb.putInt(sampleRate * blockAlign) // byte rate
    bb.putShort(blockAlign.toShort)
    bb.putShort(16) // bits per sample
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var x = seed | 1L
    var i = 0
    while (i < dataLen / 2) {
      x = x * 6364136223846793005L + 1442695040888963407L
      bb.putShort((x >>> 48).toShort)
      i += 1
    }
    bb.array()
  }

  /** (channels, sampleRate, pcmFrames) from real fmt/data chunk bytes —
    * chunk-walk, not fixed offsets (a LIST or fact chunk before `data`
    * parses fine). None when not a PCM-bearing WAV. */
  def decodeWav(b: Array[Byte]): Option[(Int, Int, Int)] = {
    if (!isWav(b)) return None
    var off = 12
    var channels = -1; var rate = -1; var blockAlign = -1; var dataLen = -1
    while (off + 8 <= b.length) {
      val size = le32(b, off + 4)
      if (size < 0 || off + 8 + size > b.length) return None
      if (tagAt(b, off, "fmt ") && size >= 16) {
        channels = le16(b, off + 10)
        rate = le32(b, off + 12)
        blockAlign = le16(b, off + 20)
      } else if (tagAt(b, off, "data")) dataLen = size
      off += 8 + size + (size & 1)
    }
    if (channels <= 0 || rate <= 0 || blockAlign <= 0 || dataLen < 0) None
    else Some((channels, rate, dataLen / blockAlign))
  }

  /** Minimal valid AVI: LIST hdrl (avih main header with real
    * width/height/totalFrames) + LIST movi with one `00dc` frame chunk
    * of `bodyLen` deterministic bytes. */
  def encodeAvi(w: Int, h: Int, frames: Int, bodyLen: Int,
      seed: Long): Array[Byte] = {
    val pad = bodyLen & 1
    val total = 108 + bodyLen + pad
    val bb = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(total - 8)
      .put("AVI ".getBytes("US-ASCII"))
    // LIST hdrl: 4 (type) + 8 + 56 (avih) = 68
    bb.put("LIST".getBytes("US-ASCII")).putInt(68)
      .put("hdrl".getBytes("US-ASCII"))
    bb.put("avih".getBytes("US-ASCII")).putInt(56)
    bb.putInt(40000) // microseconds per frame (25 fps)
    bb.putInt(0)     // max bytes per second
    bb.putInt(0)     // padding granularity
    bb.putInt(0)     // flags
    bb.putInt(frames) // total frames
    bb.putInt(0)     // initial frames
    bb.putInt(1)     // streams
    bb.putInt(0)     // suggested buffer size
    bb.putInt(w)
    bb.putInt(h)
    bb.putInt(0).putInt(0).putInt(0).putInt(0) // reserved
    // LIST movi: 4 (type) + 8 + bodyLen + pad
    bb.put("LIST".getBytes("US-ASCII")).putInt(4 + 8 + bodyLen + pad)
      .put("movi".getBytes("US-ASCII"))
    bb.put("00dc".getBytes("US-ASCII")).putInt(bodyLen)
    var x = seed | 1L
    var i = 0
    while (i < bodyLen) {
      x = x * 6364136223846793005L + 1442695040888963407L
      bb.put((x >>> 56).toByte)
      i += 1
    }
    if (pad == 1) bb.put(0.toByte)
    bb.array()
  }

  /** (width, height, totalFrames) from the real avih chunk — LIST-walk
    * to hdrl/avih rather than fixed offsets. None when absent. */
  def decodeAvi(b: Array[Byte]): Option[(Int, Int, Int)] = {
    if (!isAvi(b)) return None
    var off = 12
    while (off + 12 <= b.length) {
      val size = le32(b, off + 4)
      if (size < 0 || off + 8 + size > b.length) return None
      if (tagAt(b, off, "LIST") && tagAt(b, off + 8, "hdrl")) {
        // chunks inside the hdrl list; avih is required first
        var in = off + 12
        val end = off + 8 + size
        while (in + 8 <= end) {
          val csize = le32(b, in + 4)
          if (csize < 0 || in + 8 + csize > end) return None
          if (tagAt(b, in, "avih") && csize >= 56) {
            val frames = le32(b, in + 8 + 16)
            val w = le32(b, in + 8 + 32)
            val h = le32(b, in + 8 + 36)
            return if (w <= 0 || h <= 0) None else Some((w, h, frames))
          }
          in += 8 + csize + (csize & 1)
        }
      }
      off += 8 + size + (size & 1)
    }
    None
  }
}
