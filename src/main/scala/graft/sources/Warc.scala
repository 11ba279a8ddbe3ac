package graft.sources

import java.io.{BufferedInputStream, ByteArrayInputStream, ByteArrayOutputStream, EOFException, InputStream, ObjectInputStream, ObjectOutputStream, OutputStream, PushbackInputStream}
import java.nio.charset.StandardCharsets.{ISO_8859_1, US_ASCII}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.PageRow

/** One parsed WARC record. For `response` records carrying an HTTP
  * payload, `payload` is the HTTP message BODY (after de-chunking and
  * Content-Encoding: gzip inflation); for every other record type it is
  * the raw WARC block. `truncated` marks payloads cut at the byte cap.
  */
final case class WarcRecordRow(
    warc_type: String,
    url: String,
    warc_ts: java.sql.Timestamp,
    record_id: String,
    content_type: String,
    http_status: Int,
    http_content_type: String,
    payload: Array[Byte],
    truncated: Boolean
)

/** Serializable Hadoop `Configuration` carrier (the stock Spark one is
  * `private[spark]`); `Configuration` itself is a Hadoop `Writable`. */
final class SerializableHadoopConf(@transient var conf: Configuration)
    extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject(); conf.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}

/** Streaming WARC (ISO 28500) reader + a minimal writer for tests and
  * synthetic corpora.
  *
  * The Common-Crawl container format: the north-rule input table
  * (url, warc_ts, html, ...) is exactly what a crawl dump's `response`
  * records carry, so this is the engine's raw-ingest edge — parse WARC
  * once at the cluster edge, land the pages table, run every downstream
  * operator off the columnar table.
  *
  * Parser properties (all bounded-work, never throws):
  *  - streams record-by-record from an InputStream — constant memory in
  *    file size, at most one `maxPayload` block buffered at a time;
  *  - accepts plain `.warc`, gzipped `.warc.gz` (including the standard
  *    per-record concatenated gzip members) and zstd `.warc.zst`
  *    streams, detected by magic bytes, not filename;
  *  - for `response` records parses the enclosed HTTP message: status
  *    line, headers, `Transfer-Encoding: chunked` de-chunking and
  *    `Content-Encoding: gzip` inflation, yielding the original body
  *    bytes;
  *  - malformed input resyncs forward to the next `WARC/` version line
  *    (forward-only, so total work stays O(bytes)); oversized blocks
  *    are truncated at `maxPayload` and flagged, mirroring the 10 MB
  *    input cap (reference ocr_config.py:26).
  *
  * Scale shape: one task per work unit ([[WarcSplit]]), by default one
  * whole WARC file — the Common-Crawl unit, no shuffle at the ingest
  * edge. Records stream straight into the extraction pipeline's salted
  * repartition; per-record gzip members (and marker-framed zstd) also
  * allow sub-file units for rogue giants ([[planSplits]]).
  */
object Warc {

  /** Default payload cap per record — the pipeline's 10 MB input cap. */
  val DefaultMaxPayload: Int = graft.pipeline.Extractor.MaxBytes

  private val MaxHeaderBytes = 64 * 1024
  private val MaxLineBytes = 8 * 1024

  // ---------------------------------------------------------------- parse

  /** The one compression sniff, from a stream's first `n` bytes of `m`:
    * gzip (1f 8b — the canonical Common-Crawl member-per-record layout),
    * zstd (standard frame 28 b5 2f fd, or a leading skippable frame
    * 5x 2a 4d 18), or plain. */
  private sealed trait Codec
  private case object Plain extends Codec
  private case object Gzip extends Codec
  private case object Zstd extends Codec

  private def codecOf(m: Array[Byte], n: Int): Codec = {
    def b(i: Int): Int = m(i) & 0xff
    if (n >= 2 && b(0) == 0x1f && b(1) == 0x8b) Gzip
    else if (n >= 4 &&
        ((b(0) == 0x28 && b(1) == 0xb5 && b(2) == 0x2f && b(3) == 0xfd) ||
          ((b(0) & 0xf0) == 0x50 && b(1) == 0x2a && b(2) == 0x4d && b(3) == 0x18)))
      Zstd
    else Plain
  }

  /** Every record of the raw bytes `in`, through a buffered decoding
    * stream: gzip through the member-resync stream, so bit rot costs
    * one record; zstd via Spark's bundled zstd-jni in continuous
    * multi-frame mode, behind a lenient wrapper so corruption truncates
    * instead of throwing; plain as is. Closing cascades through the
    * decoder (freeing its native Inflater/zstd context) down to `in`. */
  private def wholeUnit(codec: Codec, in: InputStream,
                        maxPayload: Int): UnitRecords = {
    val (stream, corrupt) = codec match {
      case Gzip =>
        val gz = new GzipMemberResyncStream(in)
        (new BufferedInputStream(gz, 1 << 16), () => gz.corruptMembers.toLong)
      case Zstd =>
        val raw = new com.github.luben.zstd.ZstdInputStream(in)
        raw.setContinuous(true) // read across frame boundaries
        val zst = new ZstdLenientStream(raw)
        (new BufferedInputStream(zst, 1 << 16),
          () => if (zst.aborted) 1L else 0L)
      case Plain => (in, () => 0L)
    }
    new UnitRecords(wholeIterator(stream, maxPayload), stream, corrupt)
  }

  /** Lazily parse all records from `in` (plain, gzip, or zstd —
    * sniffed); `in` is closed once the records are drained. */
  def records(in: InputStream,
              maxPayload: Int = DefaultMaxPayload): Iterator[WarcRecordRow] = {
    val pb = new PushbackInputStream(new BufferedInputStream(in, 1 << 16), 4)
    val m = new Array[Byte](4)
    val n = pb.readNBytes(m, 0, 4)
    if (n > 0) pb.unread(m, 0, n)
    wholeUnit(codecOf(m, n), pb, maxPayload)
  }

  /** Every record of a decoded stream: the record loop with no split
    * end, every version line in unit 0. */
  private def wholeIterator(in: InputStream,
                            maxPayload: Int): Iterator[WarcRecordRow] =
    splitIterator(in, maxPayload, Long.MaxValue,
      sync = () => syncToVersionLine(in, () => 0L))

  /** The record loop: `sync` scans to the next version line and
    * returns its container-unit start (−1 at EOF); units at or past
    * `endExclusive` belong to the next split. `unitNow` (gz splits)
    * reports the container unit currently being decoded, for the
    * corruption-merge guard below; −1 disables it (whole streams and
    * plain files, whose line-position attribution can't cross-claim). */
  private def splitIterator(in: InputStream, maxPayload: Int,
      endExclusive: Long, sync: () => Long,
      unitNow: () => Long = () => -1L): Iterator[WarcRecordRow] =
    new Iterator[WarcRecordRow] {
      private var nextRec: WarcRecordRow = null
      private var done = false
      private def advance(): Unit = {
        while (nextRec == null && !done) {
          val unit = sync()
          if (unit < 0 || unit >= endExclusive) done = true
          else {
            nextRec = parseOne(in, maxPayload) // null on malformed → resync
            // corruption-merge guard: a damaged member can abort
            // mid-record and resync into the NEXT member, whose header
            // lines then merge into (and take over) the in-flight
            // parse — the emitted record's bytes actually live in a
            // later unit. If that unit is at/past the split end, the
            // record belongs to the NEXT split (which reads its member
            // from a clean seek): emitting it here would duplicate it
            // across splits. Within-split merges keep whole-file
            // semantics (record emitted once, torn predecessor lost).
            val after = unitNow()
            if (nextRec != null && after >= endExclusive && after != unit)
              nextRec = null
          }
        }
      }
      override def hasNext: Boolean = { advance(); nextRec != null }
      override def next(): WarcRecordRow = {
        advance()
        if (nextRec == null) throw new NoSuchElementException("WARC EOF")
        val r = nextRec; nextRec = null; r
      }
    }

  /** Read lines until one starts with "WARC/" (the version line) and
    * return its start position, `pos` sampled immediately before each
    * line read; −1 at EOF. Forward-only: total resync work across a
    * file is O(bytes). */
  private[sources] def syncToVersionLine(in: InputStream, pos: () => Long): Long = {
    var start = pos()
    var line = readLine(in)
    while (line != null) {
      if (line.startsWith("WARC/")) return start
      start = pos()
      line = readLine(in)
    }
    -1L
  }

  /** One line, terminator (CRLF or LF) consumed and stripped; null at
    * EOF before any byte; capped at MaxLineBytes (overflow discarded).
    * Accumulated as BYTES and decoded UTF-8 (ISO 28500 allows UTF-8
    * header values — per-byte toChar would mojibake a non-ASCII
    * WARC-Target-URI into downstream page keys), falling back to
    * ISO-8859-1 when the bytes are not valid UTF-8. */
  private def readLine(in: InputStream): String = {
    val buf = new ByteArrayOutputStream(80)
    var c = in.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') {
      if (buf.size < MaxLineBytes) buf.write(c)
      c = in.read()
    }
    val bytes = buf.toByteArray
    var n = bytes.length
    if (n > 0 && bytes(n - 1) == '\r') n -= 1
    decodeHeaderBytes(bytes, n)
  }

  /** UTF-8 strict decode with ISO-8859-1 fallback (lossless: every byte
    * maps to a char, so a malformed line survives round-trippable). */
  private def decodeHeaderBytes(bytes: Array[Byte], n: Int): String = {
    import java.nio.charset.{StandardCharsets, CodingErrorAction}
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try dec.decode(java.nio.ByteBuffer.wrap(bytes, 0, n)).toString
    catch {
      case _: java.nio.charset.CharacterCodingException =>
        new String(bytes, 0, n, ISO_8859_1)
    }
  }

  /** Parse one record given that the version line was just consumed.
    * Returns null on malformed structure (caller resyncs). */
  private[sources] def parseOne(in: InputStream, maxPayload: Int): WarcRecordRow = {
    // -- WARC named fields until the blank line
    var warcType = ""; var uri = ""; var date = ""; var id = ""
    var contentType = ""; var contentLength = -1L
    var headerBytes = 0
    var line = readLine(in)
    while (line != null && line.nonEmpty) {
      headerBytes += line.length + 2
      if (headerBytes > MaxHeaderBytes) return null
      val colon = line.indexOf(':')
      if (colon > 0) {
        val name = line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(colon + 1).trim
        name match {
          case "warc-type" => warcType = value
          case "warc-target-uri" => uri = stripAngles(value)
          case "warc-date" => date = value
          case "warc-record-id" => id = stripAngles(value)
          case "content-type" => contentType = value
          case "content-length" =>
            contentLength = try value.toLong catch { case _: Exception => -1L }
          case _ => ()
        }
      }
      line = readLine(in)
    }
    if (line == null || contentLength < 0) return null

    // -- block (truncate at cap, skip the remainder so the stream stays
    //    positioned at the record boundary)
    val toRead = math.min(contentLength, maxPayload.toLong).toInt
    val block = new Array[Byte](toRead)
    var off = 0
    while (off < toRead) {
      val n = in.read(block, off, toRead - off)
      if (n < 0) return null // truncated file: drop the partial record
      off += n
    }
    var toSkip = contentLength - toRead
    while (toSkip > 0) {
      val n = in.skip(toSkip)
      if (n <= 0) {
        if (in.read() < 0) return null
        toSkip -= 1
      } else toSkip -= n
    }
    val truncated = contentLength > toRead

    val ts = parseTs(date)
    val isHttpResponse = warcType.equalsIgnoreCase("response") &&
      contentType.toLowerCase(java.util.Locale.ROOT).startsWith("application/http")
    if (!isHttpResponse)
      return WarcRecordRow(warcType.toLowerCase(java.util.Locale.ROOT), uri, ts,
        id, contentType, -1, "", block, truncated)

    val (status, httpCt, body, bodyTrunc) = parseHttp(block, maxPayload)
    WarcRecordRow("response", uri, ts, id, contentType, status, httpCt,
      body, truncated || bodyTrunc)
  }

  private def stripAngles(s: String): String =
    if (s.length >= 2 && s.charAt(0) == '<' && s.charAt(s.length - 1) == '>')
      s.substring(1, s.length - 1)
    else s

  private def parseTs(iso: String): java.sql.Timestamp =
    try java.sql.Timestamp.from(java.time.Instant.parse(iso))
    catch {
      case _: Exception =>
        try java.sql.Timestamp.from(
          java.time.OffsetDateTime.parse(iso).toInstant)
        catch { case _: Exception => null }
    }

  /** HTTP response message → (status, content-type, body, truncated).
    * De-chunks `Transfer-Encoding: chunked` and inflates
    * `Content-Encoding: gzip` bodies; on any malformation falls back to
    * the raw remaining bytes (never throws, never loses the payload). */
  private def parseHttp(block: Array[Byte],
                        maxPayload: Int): (Int, String, Array[Byte], Boolean) = {
    val hdrEnd = headerTerminator(block)
    if (hdrEnd < 0) return (-1, "", block, false)
    val head = new String(block, 0, hdrEnd, ISO_8859_1)
    val lines = head.split("\r?\n")
    var status = -1
    if (lines.nonEmpty && lines(0).startsWith("HTTP/")) {
      val parts = lines(0).split(" +", 3)
      if (parts.length >= 2)
        status = try parts(1).toInt catch { case _: Exception => -1 }
    }
    var chunked = false; var gzipped = false; var httpCt = ""
    var i = 1
    while (i < lines.length) {
      val l = lines(i); val colon = l.indexOf(':')
      if (colon > 0) {
        val name = l.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
        val value = l.substring(colon + 1).trim
        name match {
          case "transfer-encoding" =>
            chunked = value.toLowerCase(java.util.Locale.ROOT).contains("chunked")
          case "content-encoding" =>
            val v = value.toLowerCase(java.util.Locale.ROOT)
            gzipped = v == "gzip" || v == "x-gzip"
          case "content-type" => httpCt = value
          case _ => ()
        }
      }
      i += 1
    }
    var body = java.util.Arrays.copyOfRange(block, skipBlank(block, hdrEnd),
      block.length)
    if (chunked) body = dechunk(body)
    var trunc = false
    if (gzipped && body.length >= 2 &&
        (body(0) & 0xff) == 0x1f && (body(1) & 0xff) == 0x8b) {
      val (inflated, t) = gunzipCapped(body, maxPayload)
      if (inflated != null) { body = inflated; trunc = t }
    }
    (status, httpCt, body, trunc)
  }

  /** Index of the first header terminator (CRLFCRLF or LFLF); -1 if none. */
  private def headerTerminator(b: Array[Byte]): Int = {
    var i = 0
    while (i + 1 < b.length) {
      if (b(i) == '\n' &&
          (b(i + 1) == '\n' || (i + 2 < b.length && b(i + 1) == '\r' &&
            b(i + 2) == '\n'))) return i
      i += 1
    }
    -1
  }

  /** First body byte after the terminator starting at `nl`. */
  private def skipBlank(b: Array[Byte], nl: Int): Int =
    if (nl + 2 < b.length && b(nl + 1) == '\r') nl + 3 else nl + 2

  /** Decode chunked transfer encoding; on malformed chunk geometry
    * returns the chunks decoded so far. */
  private[sources] def dechunk(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(b.length)
    var i = 0
    var ok = true
    while (ok && i < b.length) {
      var j = i
      while (j < b.length && b(j) != '\n') j += 1
      if (j >= b.length) { ok = false }
      else {
        var lineEnd = j
        if (lineEnd > i && b(lineEnd - 1) == '\r') lineEnd -= 1
        val sizeStr = new String(b, i, lineEnd - i, US_ASCII).trim
        val semi = sizeStr.indexOf(';') // chunk extensions
        val hex = if (semi >= 0) sizeStr.substring(0, semi) else sizeStr
        val size = try java.lang.Long.parseLong(hex.trim, 16).toInt
          catch { case _: Exception => -1 }
        if (size < 0 || j + 1 + size > b.length) ok = false
        else if (size == 0) { i = b.length } // trailers ignored
        else {
          out.write(b, j + 1, size)
          i = j + 1 + size
          // consume the CRLF after the chunk data
          if (i < b.length && b(i) == '\r') i += 1
          if (i < b.length && b(i) == '\n') i += 1
        }
      }
    }
    out.toByteArray
  }

  /** Inflate a gzip body, capped; (null, _) if the stream is corrupt. */
  private def gunzipCapped(b: Array[Byte],
                           cap: Int): (Array[Byte], Boolean) =
    try {
      val in = new GZIPInputStream(new ByteArrayInputStream(b), 1 << 14)
      val out = new ByteArrayOutputStream(math.min(b.length * 3, cap))
      val buf = new Array[Byte](8192)
      var total = 0
      var truncated = false
      var n = in.read(buf)
      while (n > 0 && !truncated) {
        val take = math.min(n, cap - total)
        out.write(buf, 0, take)
        total += take
        if (total >= cap && (n > take || in.read() >= 0)) truncated = true
        else n = in.read(buf)
      }
      (out.toByteArray, truncated)
    } catch { case _: Exception => (null, false) }

  // ---------------------------------------------------------------- spark

  /** All records of every WARC file matching `glob`, one task per file:
    * the split reader over one whole-file unit per file. */
  def warcRecords(spark: SparkSession, glob: String,
                  maxPayload: Int = DefaultMaxPayload): Dataset[WarcRecordRow] =
    warcSplitRecords(spark, planSplits(spark, glob, WholeFiles), maxPayload)

  /** `response` records as the canonical pages-table rows:
    * (url, warc_ts, html, text="", lang="") — feed straight into
    * `ExtractPipeline.extract` / land as the Iceberg pages table. */
  def warcFiles(spark: SparkSession, glob: String,
                maxPayload: Int = DefaultMaxPayload): Dataset[PageRow] =
    warcSplitFiles(spark, planSplits(spark, glob, WholeFiles), maxPayload)

  /** One work unit: the records whose CONTAINER UNIT (gzip member for
    * `.warc.gz`, marker frame for framed `.warc.zst`, the record itself
    * for plain `.warc`) starts in `[offset, offset + length)`. The final
    * unit may extend past the end — so adjacent splits of one file are
    * exhaustive and disjoint, the same contract as Hadoop text splits
    * and CDX-indexed WARC ranges. */
  final case class WarcSplit(path: String, offset: Long, length: Long)

  /** [[planSplits]] unit size that keeps every file one unit: one task
    * per file — the Common-Crawl unit (~1 GB gzip each, so 10^5 files
    * at 100 TB: ample parallelism for a 1000-executor cluster). */
  val WholeFiles: Long = Long.MaxValue

  /** Dataset over explicit work units, one task each: whole files, or
    * sub-file units for a rogue giant. Offsets need NOT be aligned: the
    * reader resyncs forward to the next container boundary, so
    * `(0, L), (L, L), …` byte-range slicing is valid. For gzip-membered
    * files boundary discovery is exact (member signatures + deflate
    * framing); for plain files it is the WARC version-line resync (exact
    * unless a payload line itself starts with "WARC/"). zstd files are
    * splittable when written by [[Writer.zstdMember]] (in-band
    * [[ZstdMarkerSig]] skippable-frame markers); LEGACY zstd files
    * without markers are not — schedule those as one `(0, fileLen)`
    * unit (offset > 0 units read nothing by contract). */
  def warcSplitRecords(spark: SparkSession, splits: Seq[WarcSplit],
                       maxPayload: Int = DefaultMaxPayload)
      : Dataset[WarcRecordRow] = {
    import spark.implicits._
    unitTasks(spark, splits, maxPayload)((_, unit) => unit)
  }

  /** [[warcSplitRecords]] as page rows: `response` records with a URL. */
  def warcSplitFiles(spark: SparkSession, splits: Seq[WarcSplit],
                     maxPayload: Int = DefaultMaxPayload): Dataset[PageRow] = {
    import spark.implicits._
    warcSplitRecords(spark, splits, maxPayload)
      .filter(r => r.warc_type == "response" && r.url.nonEmpty)
      .map(r => PageRow(r.url, r.warc_ts, r.payload, "", ""))
  }

  /** Slice every file matching `glob` into ≈`splitBytes` work units
    * (files at or under one unit stay whole; [[WholeFiles]] keeps them
    * all whole), in path order — the scheduling front-end for
    * [[warcSplitRecords]]. A rogue 100 GB file becomes ~100 concurrent
    * units instead of one 100 GB task. Marker-framed zstd files
    * ([[Writer.zstdMember]]) split like gzip; LEGACY zstd files
    * scheduled in pieces read everything in their first unit and
    * nothing in the rest (no in-band resync point — see
    * [[splitRecordIterator]]): correct, just not parallel. */
  def planSplits(spark: SparkSession, glob: String, splitBytes: Long)
      : Seq[WarcSplit] = {
    require(splitBytes > 0, s"splitBytes must be positive (got $splitBytes)")
    listFilesWithLen(spark, glob).flatMap { case (p, len) =>
      if (len <= splitBytes) Seq(WarcSplit(p, 0L, math.max(len, 1L)))
      else (0L until len by splitBytes).map(off =>
        WarcSplit(p, off, math.min(splitBytes, len - off)))
    }
  }

  /** The Spark side of every WARC read: one partition per unit
    * (parallelize is the one API with exact partition control; the
    * per-partition work is a genuine imperative stream parse), `f` over
    * each unit's records. A unit closes once — at exhaustion for the
    * common full-drain case, and at task completion for early
    * termination (limit, downstream failure): an executor outlives many
    * tasks, and 10^5 leaked handles/Inflaters add up. */
  private def unitTasks[T: Encoder](spark: SparkSession,
      splits: Seq[WarcSplit], maxPayload: Int)(
      f: (WarcSplit, UnitRecords) => Iterator[T]): Dataset[T] = {
    import spark.implicits._
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val rdd = spark.sparkContext
      .parallelize(splits, math.max(1, splits.length))
    spark.createDataset(rdd).mapPartitions { it =>
      it.flatMap { sp =>
        val path = new Path(sp.path)
        val unit = splitRecordIterator(path.getFileSystem(conf.conf)
          .open(path), sp.offset, sp.length, maxPayload)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => unit.close()))
        f(sp, unit)
      }
    }
  }

  /** Write (url, warc_ts, text) rows as Common-Crawl WET-style files:
    * one `part-NNNNN.warc.wet.gz` per partition of `conversion`
    * records, per-record gzip members (the CC on-disk layout), or with
    * `codec = "zstd"` one `.warc.wet.zst` of marker-framed zstd members
    * ([[Writer.zstdMember]]). Either way the output is splittable via
    * [[planSplits]] and readable by [[warcRecords]]. The deliverable
    * format of a crawl-extraction pipeline: consumers of CC WET files
    * can switch input paths and read ours. Empty partitions write no
    * file; each partition commits via attempt-unique temp + rename
    * ([[writeWetPartition]] — speculation-safe). Returns
    * (file, records) per written file. */
  def writeWet(rows: DataFrame, dir: String,
               codec: String = "gzip",
               cdx: Boolean = false): Seq[(String, Long)] = {
    require(codec == "gzip" || codec == "zstd",
      s"unsupported WET codec '$codec' (gzip | zstd)")
    val spark = rows.sparkSession
    import spark.implicits._
    PartFiles.write(rows.select(col("url"), col("warc_ts"), col("text"))
      .as[(String, java.sql.Timestamp, String)], dir, WetTmpDir)(
      writeWetPartition(_, dir, _, _, _, codec, cdx))
  }

  private[sources] val WetTmpDir = "_wet_tmp"

  /** One task attempt's WET partition write, committed by
    * [[PartFiles.commit]] (the r6 version wrote the FINAL path directly
    * with overwrite=true, so a speculative duplicate attempt — which §4
    * recommends enabling — could interleave two streams into one
    * corrupt file). The CDX sidecar streams to its own temp alongside
    * the data and commits only with it. */
  private[sources] def writeWetPartition(
      it: Iterator[(String, java.sql.Timestamp, String)], dir: String,
      pid: Int, attemptUid: String,
      conf: org.apache.hadoop.conf.Configuration,
      codec: String = "gzip",
      cdx: Boolean = false): (String, Long) = {
    val ext = if (codec == "zstd") "zst" else "gz"
    val finName = f"part-$pid%05d.warc.wet.$ext"
    val ctmp = new Path(f"$dir/$WetTmpDir/part-$pid%05d-$attemptUid.cdx.gz")
    PartFiles.commit(new Path(s"$dir/$finName"),
      new Path(f"$dir/$WetTmpDir/part-$pid%05d-$attemptUid.warc.wet.$ext"),
      if (cdx) Seq(ctmp -> new Path(f"$dir/part-$pid%05d.cdx.gz")) else Nil,
      conf)(new CountingOutputStream(_)) { out =>
      // the sidecar streams to its own temp alongside the data (an
      // in-memory line buffer would be O(partition) at crawl scale)
      val cout = if (cdx) new java.util.zip.GZIPOutputStream(
        ctmp.getFileSystem(conf).create(ctmp, true)) else null
      var n = 0L
      try {
        it.foreach { case (url, ts, text) =>
          val u = if (url == null) "" else url
          val when = if (ts == null) java.time.Instant.EPOCH else ts.toInstant
          val body = (if (text == null) "" else text)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val off = out.count
          if (codec == "zstd") {
            val raw = new ByteArrayOutputStream(body.length + 256)
            Writer.conversion(raw, u, when, body, gzipMember = false)
            Writer.zstdMember(out, raw.toByteArray)
          } else {
            Writer.conversion(out, u, when, body, gzipMember = true)
          }
          if (cdx) cout.write(cdxLine(u, when, off, out.count - off, finName)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          n += 1
        }
      } finally if (cout != null) cout.close()
      n
    }
  }

  private val Ts14 = java.time.format.DateTimeFormatter
    .ofPattern("yyyyMMddHHmmss").withZone(java.time.ZoneOffset.UTC)

  /** One CDXJ-style index line: `urlkey ts14 {json}` (the Common-Crawl
    * index layout — searchable key, 14-digit UTC timestamp, JSON blob
    * with the capture's byte extent). urlkey is the SURT form
    * ([[graft.ops.UrlDedup.surtKey]] — host labels reversed, so sorted
    * keys range-scan by registered domain, the property CDX consumers
    * rely on); the json `url` field carries the exact original. */
  private[sources] def cdxLine(url: String, ts: java.time.Instant,
      offset: Long, length: Long, filename: String): String = {
    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    val key = graft.ops.UrlDedup.surtKey(url)
    s"${esc(key).replace(" ", "%20")} ${Ts14.format(ts)} " +
      s"""{"url":"${esc(url)}","offset":"$offset","length":"$length",""" +
      s""""filename":"${esc(filename)}"}""" + "\n"
  }

  /** Parse CDX sidecars (written by [[writeWet]] with `cdx = true`)
    * into (urlkey, ts14, url, offset, length, filename, cdx_file) — all
    * native expressions over `spark.read.text` (gzip text decodes
    * transparently), no driver-side work, so the index of a 10^12-record
    * crawl reads with full scan parallelism. */
  def cdxEntries(spark: SparkSession, glob: String): DataFrame = {
    val line = trim(col("value"))
    val json = expr("substring(value, instr(value, '{'))")
    spark.read.text(glob)
      .withColumn("cdx_file", input_file_name())
      .filter(length(line) > 0)
      .select(
        split_part(line, lit(" "), lit(1)).as("urlkey"),
        split_part(line, lit(" "), lit(2)).as("ts14"),
        from_json(json, org.apache.spark.sql.types.StructType.fromDDL(
          "url STRING, offset STRING, length STRING, filename STRING"))
          .as("j"),
        col("cdx_file"))
      .select(col("urlkey"), col("ts14"), col("j.url").as("url"),
        col("j.offset").cast("long").as("offset"),
        col("j.length").cast("long").as("length"),
        col("j.filename").as("filename"), col("cdx_file"))
  }

  /** Random-access record fetch through a CDX index — the wayback-style
    * consumer contract: for each index entry, seek to `offset` in the
    * named data file, read EXACTLY `length` bytes, decode that one
    * compression unit, parse the one record inside. No resync scanning
    * anywhere, so a wrong offset or length fails loudly (truncated unit)
    * instead of being silently repaired — this is what makes the CDX
    * roundtrip a sharp oracle. Entries are fetched with full executor
    * parallelism grouped by data file (one open per file per task,
    * entries read in offset order — sequential I/O on the common path).
    */
  def readCdxRecords(spark: SparkSession, cdxGlob: String,
                     maxPayload: Int = DefaultMaxPayload): DataFrame = {
    import spark.implicits._
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    // Option-encoded extents: a malformed index line (json-less, or
    // non-numeric offset) surfaces as None and fails below with a
    // message naming the sidecar — not as an encoder NPE
    val entries = cdxEntries(spark, cdxGlob)
      .select(col("cdx_file"), col("filename"), col("offset"), col("length"))
      .as[(String, Option[String], Option[Long], Option[Long])]
    entries
      .repartition(col("filename"))
      .sortWithinPartitions(col("filename"), col("offset"))
      .mapPartitions { it =>
        var fs: org.apache.hadoop.fs.FileSystem = null
        var open: (String, org.apache.hadoop.fs.FSDataInputStream) = null
        def closeOpen(): Unit =
          if (open != null) { open._2.close(); open = null }
        val ctx = org.apache.spark.TaskContext.get()
        if (ctx != null) ctx.addTaskCompletionListener[Unit](_ => closeOpen())
        val out = it.flatMap { case (cdxFile, dataNameO, offO, lenO) =>
          require(dataNameO.isDefined && offO.isDefined && lenO.isDefined,
            s"malformed CDX line in $cdxFile (missing filename/offset/length)")
          val (dataName, off, len) = (dataNameO.get, offO.get, lenO.get)
          // the data file sits next to its sidecar
          val dataPath = new Path(new Path(cdxFile).getParent, dataName)
          if (fs == null) fs = dataPath.getFileSystem(conf.conf)
          if (open == null || open._1 != dataPath.toString) {
            closeOpen()
            open = (dataPath.toString, fs.open(dataPath))
          }
          require(len > 0 && len <= ZstdFrameCap,
            s"CDX length $len out of range for $dataName@$off")
          val slice = new Array[Byte](len.toInt)
          open._2.readFully(off, slice, 0, len.toInt)
          val rec = records(new java.io.ByteArrayInputStream(slice),
            maxPayload)
          if (!rec.hasNext)
            throw new java.io.IOException(
              s"CDX slice $dataName@$off+$len holds no record")
          Iterator.single(rec.next())
        }
        new UnitRecords(out, () => closeOpen())
      }.toDF()
  }

  /** Signature of the zstd split marker: a skippable frame (RFC 8878
    * §3.1.2, LE magic 0x184D2A5E, LE32 size 8) whose payload starts
    * with "GZS1" — 12 fixed bytes a reader can scan for byte-at-a-time
    * from any offset. The remaining 4 payload bytes carry the LE32
    * compressed length of the data frame that follows, so a resynced
    * reader slices frames exactly without a streaming decoder.
    * Decoders that don't know the convention (including our own
    * stream reader [[records]]: ZstdInputStream in continuous mode)
    * skip skippable frames transparently, so framed files stay
    * ordinary multi-frame zstd. */
  private[sources] val ZstdMarkerSig: Array[Byte] = Array[Byte](
    0x5e, 0x2a, 0x4d, 0x18, // skippable-frame magic 0x184D2A5E (LE)
    0x08, 0x00, 0x00, 0x00, // frame size: 8-byte payload
    'G', 'Z', 'S', '1')

  /** Hard cap on a marker's declared data-frame length: a corrupted
    * length field must not turn into a multi-GB allocation. Generous —
    * one record block compresses well under this. */
  private[sources] val ZstdFrameCap: Int = 1 << 30

  /** Read over a marker-framed zstd file: scan from `offset` for the
    * next [[ZstdMarkerSig]], slice the declared data frame and parse it
    * through the whole-stream zstd decoder. The marker START is the
    * container-unit position — same ownership convention as gzip
    * members (units starting in [offset, end) belong to this split), so
    * arbitrary slicing stays exhaustive and disjoint. A frame that fails
    * to decode costs its own records only, matching the gz resync
    * behavior; an over-cap record truncates at `maxPayload`. [[close]]
    * frees the current frame's decoder. */
  private final class ZstdMarkerWalk(in: org.apache.hadoop.fs.FSDataInputStream,
      offset: Long, end: Long, maxPayload: Int)
      extends Iterator[WarcRecordRow] with java.io.Closeable {
    in.seek(offset)
    private val c = new CountingInputStream(new BufferedInputStream(in, 1 << 16))
    private val sig = ZstdMarkerSig
    private var frame: UnitRecords = null // the data frame being parsed
    private var dropped = 0L // frames lost before decoding
    private var done = false

    /** Frames skipped so far: a corrupt length field, a truncated tail
      * frame, or a frame whose decode aborted (counted once the decoder
      * reaches the damage, since frames decode lazily). */
    def skipped: Long =
      dropped + (if (frame == null) 0L else frame.corruptUnits())

    /** Scan to the next full signature; absolute start pos or -1. */
    private def scanMarker(): Long = {
      var matched = 0
      while (matched < sig.length) {
        val x = c.read()
        if (x < 0) return -1L
        if (x.toByte == sig(matched)) matched += 1
        else matched = if (x.toByte == sig(0)) 1 else 0
      }
      offset + c.count - sig.length
    }

    private def readLE32(): Long = {
      val b = new Array[Byte](4)
      if (c.readNBytes(b, 0, 4) < 4) -1L
      else (b(0) & 0xffL) | ((b(1) & 0xffL) << 8) |
        ((b(2) & 0xffL) << 16) | ((b(3) & 0xffL) << 24)
    }

    private def advance(): Unit = {
      while ((frame == null || !frame.hasNext) && !done) {
        val markerStart = scanMarker()
        if (markerStart < 0 || markerStart >= end) { done = true }
        else {
          val len = readLE32()
          if (len < 0) { done = true; dropped += 1 }
          else if (len == 0 || len > ZstdFrameCap) dropped += 1 // rescan
          else {
            val bytes = new Array[Byte](len.toInt)
            if (c.readNBytes(bytes, 0, bytes.length) < bytes.length) {
              done = true; dropped += 1 // truncated tail frame
            } else {
              if (frame != null) dropped += frame.corruptUnits()
              frame = wholeUnit(Zstd, new ByteArrayInputStream(bytes),
                maxPayload)
            }
          }
        }
      }
    }
    override def hasNext: Boolean = { advance(); frame != null && frame.hasNext }
    override def next(): WarcRecordRow = {
      if (!hasNext) throw new NoSuchElementException("WARC EOF")
      frame.next()
    }
    override def close(): Unit = if (frame != null) frame.close()
  }

  /** One unit's records. [[close]] frees the file handle and the
    * decoder's native context, once: at exhaustion, or earlier from the
    * task-completion listener. `corruptUnits` counts the damaged
    * compression units seen so far: gzip members skipped by the resync
    * reader, zstd frames skipped by the marker walk, or 1 when a
    * whole-stream zstd decode aborted. */
  private[sources] final class UnitRecords(rows: Iterator[WarcRecordRow],
      resource: java.io.Closeable, val corruptUnits: () => Long = () => 0L)
      extends Iterator[WarcRecordRow] with java.io.Closeable {
    private var open = true
    override def hasNext: Boolean = rows.hasNext || { close(); false }
    override def next(): WarcRecordRow = rows.next()
    override def close(): Unit = if (open) { open = false; resource.close() }
  }

  /** Records of one unit of a seekable file (exposed for tests); closes
    * `in` when drained. Sniffs the compression magic at position 0.
    *  - Marker-framed zstd takes the marker walk, whole file or not.
    *  - A unit covering its whole file (and the first unit of a legacy
    *    zstd file, which has no in-band resync point) reads through the
    *    buffered decoding stream: with no split end there is no member
    *    to attribute, so gzip inflates through a read-ahead buffer.
    *  - Any other unit seeks to `offset` and resyncs forward. */
  private[sources] def splitRecordIterator(
      in: org.apache.hadoop.fs.FSDataInputStream, offset: Long,
      length: Long, maxPayload: Int): UnitRecords = {
    if (length <= 0) return new UnitRecords(Iterator.empty, in)
    val end = offset + length
    val head = new Array[Byte](ZstdMarkerSig.length)
    var n = 0
    var r = 0
    while (n < head.length && { r = in.read(n.toLong, head, n, head.length - n); r > 0 })
      n += r
    val codec = codecOf(head, n)
    if (n == head.length && java.util.Arrays.equals(head, ZstdMarkerSig)) {
      // splittable: files produced by [[Writer.zstdMember]] start with a
      // marker skippable frame (RFC 8878 §3.1.2 magic 0x184D2A5E +
      // "GZS1" payload) before every record's data frame, giving the
      // reader an in-band, validated resync point
      val walk = new ZstdMarkerWalk(in, offset, end, maxPayload)
      return new UnitRecords(walk, () => { walk.close(); in.close() },
        () => walk.skipped)
    }
    if (offset == 0L && (codec == Zstd || !hasByteAt(in, end))) {
      in.seek(0L)
      return wholeUnit(codec, new BufferedInputStream(in, 1 << 16), maxPayload)
    }
    if (codec == Zstd) return new UnitRecords(Iterator.empty, in)
    in.seek(offset)
    if (codec == Gzip) {
      // UNBUFFERED decompressed side: member starts must be
      // demand-driven so memberStartPos at sync time is the version
      // line's member (a read-ahead buffer would start future members
      // early and misattribute units). Header lines cost ~300 small
      // inflate calls per record; payloads inflate in bulk.
      // no extra raw buffer: the resync stream reads raw in 64 K chunks
      val gz = new GzipMemberResyncStream(in,
        basePos = offset, startAtSignature = offset > 0)
      new UnitRecords(splitIterator(gz, maxPayload, end,
        sync = () => if (syncToVersionLine(gz, () => 0L) < 0) -1L
          else gz.memberStartPos,
        unitNow = () => gz.memberStartPos), gz, () => gz.corruptMembers.toLong)
    } else {
      // plain: the record itself is the container unit; count consumed
      // bytes ABOVE the buffer so the parser's position is exact
      val c = new CountingInputStream(new BufferedInputStream(in, 1 << 16))
      new UnitRecords(splitIterator(c, maxPayload, end,
        sync = () => syncToVersionLine(c, () => offset + c.count)), in)
    }
  }

  /** Whether the file has a byte at `pos` (a seek past EOF is none). */
  private def hasByteAt(in: org.apache.hadoop.fs.FSDataInputStream,
      pos: Long): Boolean =
    try in.read(pos, new Array[Byte](1), 0, 1) > 0
    catch { case _: EOFException => false }

  /** Consumed-byte counter ABOVE buffering — exact parser positions for
    * plain-file splits. */
  private final class CountingInputStream(in: InputStream)
      extends InputStream {
    var count: Long = 0L
    override def read(): Int = {
      val b = in.read()
      if (b >= 0) count += 1
      b
    }
    override def read(out: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(out, off, len)
      if (n > 0) count += n
      n
    }
  }

  /** Byte-position-tracking sink for building a CDX-style member index
    * while writing: snapshot `count` before/after each
    * [[Writer]].record/response call to get that record's (offset,
    * length) — the split units [[warcSplitRecords]] consumes. */
  final class CountingOutputStream(out: OutputStream) extends OutputStream {
    var count: Long = 0L
    override def write(b: Int): Unit = { out.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len); count += len
    }
    override def flush(): Unit = out.flush()
    override def close(): Unit = out.close()
  }

  /** Record-level stats frame (no payload bytes — safe to collect). */
  def warcStats(spark: SparkSession, glob: String,
                maxPayload: Int = DefaultMaxPayload): DataFrame =
    warcRecords(spark, glob, maxPayload)
      .select(col("warc_type"), col("url"), col("http_status"),
        col("http_content_type"),
        length(col("payload")).as("payload_bytes"), col("truncated"))

  /** Per-file ingest health — one row per WARC file: record/response/
    * truncation counts plus the damaged-compression-unit counter (gzip
    * members skipped by the resync reader, zstd frames skipped by the
    * marker walk, or a whole-stream zstd abort; 0 for plain files). The
    * operational view for a 10^5-file crawl load:
    * `WHERE corrupt_members > 0` lists the files bit rot touched, with
    * the parallelism (one task per file) of the ingest itself. */
  def warcFileSummaries(spark: SparkSession, glob: String,
                        maxPayload: Int = DefaultMaxPayload): DataFrame = {
    import spark.implicits._
    unitTasks(spark, planSplits(spark, glob, WholeFiles), maxPayload) {
      (sp, unit) =>
        var records = 0L; var responses = 0L; var truncated = 0L
        var payloadBytes = 0L
        unit.foreach { r =>
          records += 1
          if (r.warc_type == "response") responses += 1
          if (r.truncated) truncated += 1
          if (r.payload != null) payloadBytes += r.payload.length
        }
        Iterator.single((sp.path, records, responses, truncated,
          payloadBytes, unit.corruptUnits()))
    }.toDF("file", "records", "responses", "truncated_records",
      "payload_bytes", "corrupt_members")
  }

  private def listFilesWithLen(spark: SparkSession, glob: String)
      : Seq[(String, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(glob)
    val fs = p.getFileSystem(conf)
    val matched: Array[FileStatus] = Option(fs.globStatus(p)).getOrElse(Array.empty)
    val files = matched.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile)
      else Array(st)
    }
    files.map(st => (st.getPath.toString, st.getLen)).sortBy(_._1).toSeq
  }

  // ---------------------------------------------------------------- write

  /** Minimal WARC writer (tests + synthetic corpora). Each call appends
    * one record; `gzipMember = true` wraps the record in its own gzip
    * member (the Common-Crawl on-disk layout). */
  object Writer {

    private val Iso = java.time.format.DateTimeFormatter.ISO_INSTANT

    def response(out: OutputStream, url: String, ts: java.time.Instant,
                 body: Array[Byte], status: Int = 200,
                 httpContentType: String = "text/html",
                 chunked: Boolean = false, gzipBody: Boolean = false,
                 gzipMember: Boolean = false): Unit = {
      var payload = body
      var extra = ""
      if (gzipBody) {
        val bos = new ByteArrayOutputStream()
        val gz = new GZIPOutputStream(bos)
        gz.write(body); gz.finish()
        payload = bos.toByteArray
        extra += "Content-Encoding: gzip\r\n"
      }
      if (chunked) {
        payload = chunk(payload)
        extra += "Transfer-Encoding: chunked\r\n"
      } else {
        extra += s"Content-Length: ${payload.length}\r\n"
      }
      val httpHead =
        (s"HTTP/1.1 $status OK\r\nContent-Type: $httpContentType\r\n" +
          extra + "\r\n").getBytes(ISO_8859_1)
      val block = new Array[Byte](httpHead.length + payload.length)
      System.arraycopy(httpHead, 0, block, 0, httpHead.length)
      System.arraycopy(payload, 0, block, httpHead.length, payload.length)
      record(out, "response", url, ts, "application/http; msgtype=response",
        block, gzipMember)
    }

    /** WET-style `conversion` record (the Common-Crawl extracted-text
      * format): text/plain body, one record per document. */
    def conversion(out: OutputStream, url: String, ts: java.time.Instant,
                   text: Array[Byte], gzipMember: Boolean = false): Unit =
      record(out, "conversion", url, ts, "text/plain", text, gzipMember)

    def request(out: OutputStream, url: String, ts: java.time.Instant,
                gzipMember: Boolean = false): Unit = {
      val block = (s"GET $url HTTP/1.1\r\nHost: x\r\n\r\n").getBytes(ISO_8859_1)
      record(out, "request", url, ts, "application/http; msgtype=request",
        block, gzipMember)
    }

    def warcinfo(out: OutputStream, ts: java.time.Instant,
                 gzipMember: Boolean = false): Unit =
      record(out, "warcinfo", "", ts, "application/warc-fields",
        "software: graft-synth\r\n".getBytes(ISO_8859_1), gzipMember)

    def record(out: OutputStream, warcType: String, url: String,
               ts: java.time.Instant, contentType: String,
               block: Array[Byte], gzipMember: Boolean): Unit = {
      // each gzip member gets its own GZIPOutputStream; close() it (via
      // a close-shielding wrapper over `out`) so the native Deflater is
      // released deterministically — finish() alone leaves it to GC,
      // and multi-member corpora accumulate native memory
      val target: OutputStream =
        if (gzipMember)
          new GZIPOutputStream(new java.io.FilterOutputStream(out) {
            // FilterOutputStream's default 3-arg write loops per byte
            // (this.out == the ctor arg; qualified to avoid the
            // inherited-vs-outer shadowing ambiguity)
            override def write(b: Array[Byte], off: Int, len: Int): Unit =
              this.out.write(b, off, len)
            override def close(): Unit = flush() // shield `out`
          })
        else out
      // crawl-derived URLs are untrusted: a raw CR/LF (or any C0
      // control) in the value would terminate the header line early and
      // let the remainder inject fake headers / corrupt record framing
      // in the emitted file — percent-encode them, as reference WARC
      // writers do (ISO 28500 URIs exclude control characters)
      val safeUrl = encodeHeaderValue(url)
      val uriLine = if (safeUrl.nonEmpty) s"WARC-Target-URI: $safeUrl\r\n" else ""
      // UTF-8 per ISO 28500 (identical bytes for ASCII headers; a
      // non-ASCII WARC-Target-URI would be '?'-mangled by Latin-1)
      val head =
        (s"WARC/1.0\r\nWARC-Type: $warcType\r\n" + uriLine +
          s"WARC-Date: ${Iso.format(ts)}\r\n" +
          s"WARC-Record-ID: <urn:graft:${warcType}:${url.hashCode}>\r\n" +
          s"Content-Type: $contentType\r\n" +
          s"Content-Length: ${block.length}\r\n\r\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      target.write(head)
      target.write(block)
      target.write("\r\n\r\n".getBytes(ISO_8859_1))
      target match {
        case gz: GZIPOutputStream => gz.close()
        case _ => ()
      }
    }

    /** Write `rawRecord` (one or more UNCOMPRESSED WARC records) as a
      * splittable zstd member: the [[ZstdMarkerSig]] skippable frame
      * (with the data frame's compressed length in its payload), then
      * one zstd data frame. Concatenated members are a legal multi-
      * frame zstd stream — standard decoders (and our stream reader
      * [[records]]) skip the markers transparently; [[splitRecordIterator]]
      * resyncs on them, making `.warc.zst` splittable the way
      * member-per-record `.warc.gz` is. */
    def zstdMember(out: OutputStream, rawRecord: Array[Byte],
                   level: Int = 3): Unit = {
      val frame = com.github.luben.zstd.Zstd.compress(rawRecord, level)
      require(frame.length <= ZstdFrameCap,
        s"zstd member frame ${frame.length} B exceeds cap $ZstdFrameCap B")
      out.write(ZstdMarkerSig)
      val len = frame.length
      out.write(len & 0xff); out.write((len >>> 8) & 0xff)
      out.write((len >>> 16) & 0xff); out.write((len >>> 24) & 0xff)
      out.write(frame)
    }

    /** Percent-encode C0 controls + DEL in a header value so no
      * crawl-derived string can break WARC record framing. Identity on
      * well-formed URLs (which contain no control characters). */
    private[sources] def encodeHeaderValue(v: String): String = {
      if (v == null) return ""
      var i = 0
      var clean = true
      while (clean && i < v.length) {
        val c = v.charAt(i)
        if (c < 0x20 || c == 0x7f) clean = false
        i += 1
      }
      if (clean) v
      else {
        val sb = new StringBuilder(v.length + 8)
        v.foreach { c =>
          if (c < 0x20 || c == 0x7f) sb ++= f"%%${c.toInt}%02X"
          else sb += c
        }
        sb.toString
      }
    }

    private def chunk(body: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream(body.length + 64)
      var i = 0
      while (i < body.length) {
        val n = math.min(1024, body.length - i)
        out.write(s"${n.toHexString}\r\n".getBytes(US_ASCII))
        out.write(body, i, n)
        out.write("\r\n".getBytes(US_ASCII))
        i += n
      }
      out.write("0\r\n\r\n".getBytes(US_ASCII))
      out.toByteArray
    }
  }
}
