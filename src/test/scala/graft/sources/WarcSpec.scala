package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.ExtractPipeline

/** WARC reader/writer: container round-trips, HTTP decodings, malformed
  * resync, caps, and end-to-end byte-identity through the extraction
  * pipeline. */
class WarcSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-warc-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(i: Int): Instant = Instant.ofEpochSecond(1500000000L + i)

  private def parseAll(bytes: Array[Byte]): List[WarcRecordRow] =
    Warc.records(new ByteArrayInputStream(bytes)).toList

  /** Offsets of every gzip member signature (1f 8b 08) in `bytes`. */
  private def memberStarts(bytes: Array[Byte]): Seq[Int] =
    bytes.indices.filter(i => i + 2 < bytes.length &&
      (bytes(i) & 0xff) == 0x1f && (bytes(i + 1) & 0xff) == 0x8b &&
      (bytes(i + 2) & 0xff) == 0x08)

  test("plain single response record round-trips") {
    val bos = new ByteArrayOutputStream()
    val body = "<html><body>hello warc</body></html>".getBytes(UTF_8)
    Warc.Writer.response(bos, "http://a.test/x", ts(1), body)
    val rs = parseAll(bos.toByteArray)
    assert(rs.length == 1)
    val r = rs.head
    assert(r.warc_type == "response")
    assert(r.url == "http://a.test/x")
    assert(r.http_status == 200)
    assert(r.http_content_type == "text/html")
    assert(java.util.Arrays.equals(r.payload, body))
    assert(r.warc_ts.toInstant == ts(1))
    assert(!r.truncated)
  }

  test("UTF-8 header values decode; bare Latin-1 bytes fall back lossless") {
    // ISO 28500 allows UTF-8 in header values — a non-ASCII
    // WARC-Target-URI must survive into the page key, not mojibake
    val bos = new ByteArrayOutputStream()
    val url = "https://ex.ample/päge/驚"
    Warc.Writer.response(bos, url, ts(1), "x".getBytes(UTF_8))
    val rs = parseAll(bos.toByteArray)
    assert(rs.head.url == url)
    // a header line carrying a bare 0xE9 (Latin-1 'é', invalid UTF-8)
    // decodes through the ISO-8859-1 fallback instead of replacement
    val raw = new ByteArrayOutputStream()
    raw.write(("WARC/1.0\r\nWARC-Type: response\r\n").getBytes(UTF_8))
    raw.write("WARC-Target-URI: <http://l1.test/caf".getBytes(UTF_8))
    raw.write(0xe9)
    raw.write(">\r\n".getBytes(UTF_8))
    raw.write("Content-Type: application/http; msgtype=response\r\n".getBytes(UTF_8))
    val httpBlock = "HTTP/1.1 200 OK\r\nContent-Length: 1\r\n\r\nz"
    raw.write(s"Content-Length: ${httpBlock.length}\r\n\r\n".getBytes(UTF_8))
    raw.write(httpBlock.getBytes(UTF_8))
    raw.write("\r\n\r\n".getBytes(UTF_8))
    val lat = parseAll(raw.toByteArray)
    assert(lat.head.url == "http://l1.test/café")
  }

  test("chunked and gzip-encoded bodies decode to the original bytes") {
    val body = ("abc" * 2000 + "tail").getBytes(UTF_8) // crosses chunk size
    for ((ch, gz) <- Seq((true, false), (false, true), (true, true))) {
      val bos = new ByteArrayOutputStream()
      Warc.Writer.response(bos, "http://a.test/c", ts(2), body,
        chunked = ch, gzipBody = gz)
      val r = parseAll(bos.toByteArray).head
      assert(java.util.Arrays.equals(r.payload, body), s"chunked=$ch gzip=$gz")
    }
  }

  test("per-record gzip members (Common-Crawl layout) parse as a stream") {
    val bos = new ByteArrayOutputStream()
    Warc.Writer.warcinfo(bos, ts(0), gzipMember = true)
    for (i <- 0 until 5)
      Warc.Writer.response(bos, s"http://a.test/$i", ts(i),
        s"<p>doc $i</p>".getBytes(UTF_8), gzipMember = true)
    val rs = parseAll(bos.toByteArray)
    assert(rs.map(_.warc_type) == "warcinfo" :: List.fill(5)("response"))
    assert(rs.last.url == "http://a.test/4")
    assert(new String(rs.last.payload, UTF_8) == "<p>doc 4</p>")
  }

  test("malformed garbage between records resyncs; partial tail dropped") {
    val bos = new ByteArrayOutputStream()
    Warc.Writer.response(bos, "http://a.test/1", ts(1), "one".getBytes(UTF_8))
    bos.write("GARBAGE bytes that are not a record\r\nmore junk\r\n"
      .getBytes(UTF_8))
    Warc.Writer.response(bos, "http://a.test/2", ts(2), "two".getBytes(UTF_8))
    // truncated record at EOF: header promises more bytes than present
    bos.write(("WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Type: application/http\r\nContent-Length: 99999\r\n\r\nshort")
      .getBytes(UTF_8))
    val rs = parseAll(bos.toByteArray)
    assert(rs.map(_.url) == List("http://a.test/1", "http://a.test/2"))
  }

  test("missing Content-Length is skipped, following record survives") {
    val bos = new ByteArrayOutputStream()
    bos.write("WARC/1.0\r\nWARC-Type: metadata\r\n\r\n".getBytes(UTF_8))
    Warc.Writer.response(bos, "http://a.test/ok", ts(3), "ok".getBytes(UTF_8))
    val rs = parseAll(bos.toByteArray)
    assert(rs.map(_.url) == List("http://a.test/ok"))
  }

  test("LF-only header lines are tolerated") {
    val body = "lf body"
    val rec = "WARC/1.0\nWARC-Type: response\n" +
      "WARC-Target-URI: http://lf.test/\n" +
      "WARC-Date: 2017-03-06T04:03:53Z\n" +
      "Content-Type: application/http; msgtype=response\n" +
      s"Content-Length: ${("HTTP/1.1 200 OK\n\n" + body).length}\n\n" +
      "HTTP/1.1 200 OK\n\n" + body
    val rs = parseAll(rec.getBytes(UTF_8))
    assert(rs.length == 1)
    assert(rs.head.url == "http://lf.test/")
    assert(new String(rs.head.payload, UTF_8) == body)
  }

  test("oversized block truncates at the cap and flags it") {
    val bos = new ByteArrayOutputStream()
    Warc.Writer.response(bos, "http://big.test/", ts(4),
      ("x" * 5000).getBytes(UTF_8))
    Warc.Writer.response(bos, "http://after.test/", ts(5),
      "after".getBytes(UTF_8))
    val rs = Warc.records(new ByteArrayInputStream(bos.toByteArray),
      maxPayload = 1024).toList
    assert(rs.length == 2)
    assert(rs.head.truncated)
    assert(rs.head.payload.length <= 1024)
    assert(rs(1).url == "http://after.test/" && !rs(1).truncated)
  }

  test("warcFiles: synth corpus → .warc.gz → byte-identical extraction") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-warc").toFile
    dir.deleteOnExit()
    val pages = ExtractPipeline.pages(spark, 120, 4).collect().sortBy(_.url)
    // 3 files, per-record gzip members, with request/warcinfo noise
    pages.grouped(40).zipWithIndex.foreach { case (group, gi) =>
      val f = new java.io.File(dir, f"synth-$gi%02d.warc.gz")
      val out = new FileOutputStream(f)
      Warc.Writer.warcinfo(out, ts(0), gzipMember = true)
      group.foreach { p =>
        Warc.Writer.request(out, p.url, p.warc_ts.toInstant, gzipMember = true)
        Warc.Writer.response(out, p.url, p.warc_ts.toInstant, p.html,
          chunked = p.url.hashCode % 3 == 0,
          gzipBody = p.url.hashCode % 2 == 0, gzipMember = true)
      }
      out.close()
    }
    val back = Warc.warcFiles(spark, dir.getAbsolutePath + "/*.warc.gz")
    val byUrl = back.collect().map(r => r.url -> r).toMap
    assert(byUrl.size == pages.length)
    pages.foreach { p =>
      assert(java.util.Arrays.equals(byUrl(p.url).html, p.html), p.url)
      assert(byUrl(p.url).warc_ts.toInstant == p.warc_ts.toInstant)
    }
    // end-to-end: extraction over the WARC-read table matches extraction
    // over the original pages byte-for-byte
    val direct = ExtractPipeline.extract(
        spark.createDataset(pages.toIndexedSeq), 8)
      .collect().map(r => r.url -> r.text).toMap
    val viaWarc = ExtractPipeline.extract(back, 8)
      .collect().map(r => r.url -> r.text).toMap
    assert(viaWarc == direct)
    // one task per file
    assert(Warc.warcRecords(spark, dir.getAbsolutePath + "/*.warc.gz")
      .rdd.getNumPartitions == 3)
    // early termination (limit) leaves cleanup to the task-completion
    // listener — must not error or wedge
    assert(Warc.warcFiles(spark, dir.getAbsolutePath + "/*.warc.gz")
      .limit(7).count() == 7)
  }

  test("corrupt gzip member loses one record, not the rest of the file") {
    val bos = new ByteArrayOutputStream()
    for (i <- 0 until 5)
      Warc.Writer.response(bos, s"http://a.test/$i", ts(i),
        s"<p>member $i with enough body text to be visible</p>".getBytes(UTF_8),
        gzipMember = true)
    val bytes = bos.toByteArray
    // find member boundaries (1f 8b 08 signatures), corrupt the deflate
    // data of member 2 well past its header
    val starts = memberStarts(bytes)
    assert(starts.length == 5)
    val corrupted = bytes.clone()
    for (off <- 15 until 23) corrupted(starts(2) + off) = 0x55
    val rs = parseAll(corrupted)
    val urls = rs.map(_.url)
    // members 0,1,3,4 must all survive; the torn member may vanish
    for (i <- Seq(0, 1, 3, 4)) assert(urls.contains(s"http://a.test/$i"),
      s"member $i lost; got $urls")
    assert(!urls.contains("http://a.test/2") ||
      rs.find(_.url == "http://a.test/2").forall(r => r.payload != null))
  }

  test("gzip resync: signature after 1f-tailed garbage survives; counts") {
    def member(s: String): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(s.getBytes(UTF_8)); gz.close(); bos.toByteArray
    }
    def drain(bytes: Array[Byte]): (String, Int) = {
      val st = new GzipMemberResyncStream(new ByteArrayInputStream(bytes))
      val out = new ByteArrayOutputStream()
      val b = new Array[Byte](4096)
      var n = st.read(b)
      while (n >= 0) { out.write(b, 0, n); n = st.read(b) }
      (new String(out.toByteArray, UTF_8), st.corruptMembers)
    }
    // adversarial inter-member garbage ending in the signature's own
    // prefix bytes — a consumed-lookahead scan would eat the real
    // member's 1f and skip it entirely
    for (garbage <- Seq(Array[Byte](0x41, 0x1f), Array[Byte](0x41, 0x1f, 0x8b.toByte))) {
      val bytes = member("AAA") ++ garbage ++ member("BBB")
      val (text, bad) = drain(bytes)
      assert(text == "AAABBB", s"garbage=${garbage.toList}: got '$text'")
      assert(bad == 1) // the garbage gap counts once
    }
    // benign trailing garbage is tolerated and NOT counted
    val (t2, c2) = drain(member("AAA") ++ Array[Byte](1, 2, 3, 4))
    assert(t2 == "AAA" && c2 == 0)
    // a corrupt middle member counts once; neighbors survive
    val mid = member("MMMMMMMM")
    for (off <- 12 until 16) mid(off) = 0x77
    val (t3, c3) = drain(member("AAA") ++ mid ++ member("CCC"))
    assert(t3.startsWith("AAA") && t3.endsWith("CCC"), t3)
    assert(c3 == 1, s"corruptMembers=$c3")
  }

  test("corruption fuzz: flips/truncations/splices never throw") {
    // mixed corpus: warcinfo + responses alternating plain/gzip-member,
    // chunked and gzip-encoded bodies included
    val bos = new ByteArrayOutputStream()
    Warc.Writer.warcinfo(bos, ts(0), gzipMember = true)
    for (i <- 0 until 8)
      Warc.Writer.response(bos, s"http://f.test/$i", ts(i),
        (s"<html><body>fuzz doc $i " + "x" * (50 * i) + "</body></html>")
          .getBytes(UTF_8),
        gzipMember = i % 2 == 0, chunked = i % 3 == 0, gzipBody = i % 4 == 0)
    val base = bos.toByteArray
    val rnd = new java.util.Random(0x5eed)
    for (trial <- 0 until 300) {
      val b = base.clone()
      val mutated: Array[Byte] = rnd.nextInt(3) match {
        case 0 => // flip 1-16 bytes anywhere
          for (_ <- 0 to rnd.nextInt(16))
            b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
          b
        case 1 => // truncate at a random offset
          java.util.Arrays.copyOf(b, rnd.nextInt(b.length))
        case 2 => // splice random garbage at a random offset
          val g = new Array[Byte](1 + rnd.nextInt(64))
          rnd.nextBytes(g)
          val at = rnd.nextInt(b.length)
          val out = new Array[Byte](b.length + g.length)
          System.arraycopy(b, 0, out, 0, at)
          System.arraycopy(g, 0, out, at, g.length)
          System.arraycopy(b, at, out, at + g.length, b.length - at)
          out
      }
      val rs = try parseAll(mutated) catch {
        case e: Throwable => fail(s"trial $trial threw: $e")
      }
      rs.foreach { r =>
        assert(r.payload != null, s"trial $trial: null payload")
        assert(r.payload.length <= Warc.DefaultMaxPayload)
        assert(r.warc_type != null && r.url != null)
      }
    }
  }

  test("warcStats surfaces types and byte counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-warc2").toFile
    dir.deleteOnExit()
    val f = new java.io.File(dir, "s.warc")
    val out = new FileOutputStream(f)
    Warc.Writer.warcinfo(out, ts(0))
    Warc.Writer.response(out, "http://a.test/s", ts(1), "12345".getBytes(UTF_8))
    out.close()
    val stats = Warc.warcStats(spark, f.getAbsolutePath).collect()
    assert(stats.length == 2)
    val resp = stats.find(_.getString(0) == "response").get
    assert(resp.getInt(4) == 5)
  }

  test("zstd-compressed WARC streams parse (multi-frame, sniffed)") {
    // whole-file single frame
    val bos1 = new ByteArrayOutputStream()
    val z1 = new com.github.luben.zstd.ZstdOutputStream(bos1)
    val rec = new ByteArrayOutputStream()
    for (i <- 0 until 4)
      Warc.Writer.response(rec, s"http://z.test/$i", ts(i),
        s"<p>zstd doc $i</p>".getBytes(UTF_8))
    z1.write(rec.toByteArray); z1.close()
    val rs1 = parseAll(bos1.toByteArray)
    assert(rs1.map(_.url) == (0 until 4).map(i => s"http://z.test/$i").toList)
    assert(new String(rs1.head.payload, UTF_8) == "<p>zstd doc 0</p>")
    // frame-per-record concatenation (continuous mode)
    val bos2 = new ByteArrayOutputStream()
    for (i <- 0 until 3) {
      val one = new ByteArrayOutputStream()
      Warc.Writer.response(one, s"http://z.test/m$i", ts(i),
        s"<p>member frame $i</p>".getBytes(UTF_8))
      bos2.write(com.github.luben.zstd.Zstd.compress(one.toByteArray))
    }
    val rs2 = parseAll(bos2.toByteArray)
    assert(rs2.map(_.url) == (0 until 3).map(i => s"http://z.test/m$i").toList)
  }

  test("zstd corruption truncates, never throws; skippable frames skip") {
    val rec = new ByteArrayOutputStream()
    for (i <- 0 until 4)
      Warc.Writer.response(rec, s"http://zc.test/$i", ts(i),
        s"<p>zstd corrupt trial doc $i</p>".getBytes(UTF_8))
    val frame = com.github.luben.zstd.Zstd.compress(rec.toByteArray)
    // flip every byte position in turn: parse must never throw, and any
    // records returned must be a prefix-consistent subset
    for (pos <- frame.indices by 7) {
      val bad = frame.clone()
      bad(pos) = (bad(pos) ^ 0x55).toByte
      val rs = try parseAll(bad) catch {
        case e: Throwable => fail(s"flip@$pos threw: $e")
      }
      rs.foreach(r => assert(r.payload != null))
    }
    // inter-frame garbage: records before the damage survive
    val twoFrames = new ByteArrayOutputStream()
    val one = new ByteArrayOutputStream()
    Warc.Writer.response(one, "http://zc.test/first", ts(9),
      "<p>first frame</p>".getBytes(UTF_8))
    twoFrames.write(com.github.luben.zstd.Zstd.compress(one.toByteArray))
    twoFrames.write(Array[Byte](0x7f, 0x33, 0x11, 0x00)) // garbage
    val rsGap = parseAll(twoFrames.toByteArray)
    assert(rsGap.map(_.url) == List("http://zc.test/first"))
    // leading skippable frame (magic 5x 2a 4d 18) routes into the zstd
    // branch and is skipped transparently
    val withSkip = new ByteArrayOutputStream()
    withSkip.write(Array[Byte](0x50, 0x2a, 0x4d, 0x18, 4, 0, 0, 0, 1, 2, 3, 4))
    withSkip.write(com.github.luben.zstd.Zstd.compress(one.toByteArray))
    val rsSkip = parseAll(withSkip.toByteArray)
    assert(rsSkip.map(_.url) == List("http://zc.test/first"))
  }

  test("warcFileSummaries: per-file health incl. corrupt-member counter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-warc3").toFile
    dir.deleteOnExit()
    // clean file: 3 gzip-member responses
    val clean = new java.io.File(dir, "a_clean.warc.gz")
    val o1 = new FileOutputStream(clean)
    for (i <- 0 until 3)
      Warc.Writer.response(o1, s"http://h.test/$i", ts(i),
        s"<p>ok $i</p>".getBytes(UTF_8), gzipMember = true)
    o1.close()
    // damaged file: middle member's deflate bytes corrupted
    val bos = new ByteArrayOutputStream()
    for (i <- 0 until 3)
      Warc.Writer.response(bos, s"http://h.test/d$i", ts(i),
        s"<p>damaged $i</p>".getBytes(UTF_8), gzipMember = true)
    val bytes = bos.toByteArray
    val starts = memberStarts(bytes)
    for (off <- 15 until 23) bytes(starts(1) + off) = 0x55
    val damaged = new java.io.File(dir, "b_damaged.warc.gz")
    val o2 = new FileOutputStream(damaged)
    o2.write(bytes); o2.close()

    val rows = Warc.warcFileSummaries(spark, dir.getAbsolutePath + "/*.warc.gz")
      .collect().map(r => r.getString(0).split('/').last ->
        (r.getLong(1), r.getLong(2), r.getLong(5))).toMap
    assert(rows("a_clean.warc.gz") == ((3L, 3L, 0L)), rows.toString)
    val (recs, resps, corrupt) = rows("b_damaged.warc.gz")
    assert(corrupt >= 1L, s"corrupt=$corrupt")
    assert(recs >= 2L && resps >= 2L, s"recs=$recs resps=$resps")

    // a zstd file with a damaged frame reports the abort in the same
    // counter; a clean zstd file reports 0
    val zrec = new ByteArrayOutputStream()
    for (i <- 0 until 3)
      Warc.Writer.response(zrec, s"http://h.test/z$i", ts(i),
        s"<p>zstd $i</p>".getBytes(UTF_8))
    val zframe = com.github.luben.zstd.Zstd.compress(zrec.toByteArray)
    val o3 = new FileOutputStream(new java.io.File(dir, "c_clean.warc.zst"))
    o3.write(zframe); o3.close()
    // deterministic damage: garbage where the next frame header should
    // be ("Unknown frame descriptor" in zstd-jni) — a mid-frame literal
    // flip can decode "cleanly" to wrong bytes, which the WARC layer,
    // not the container, is responsible for catching
    val o4 = new FileOutputStream(new java.io.File(dir, "d_damaged.warc.zst"))
    o4.write(zframe); o4.write(Array[Byte](0x7f, 0x33, 0x11, 0x00)); o4.close()
    val zrows = Warc.warcFileSummaries(spark, dir.getAbsolutePath + "/*.warc.zst")
      .collect().map(r => r.getString(0).split('/').last ->
        (r.getLong(1), r.getLong(5))).toMap
    assert(zrows("c_clean.warc.zst") == ((3L, 0L)), zrows.toString)
    assert(zrows("d_damaged.warc.zst")._2 == 1L, zrows.toString)
  }

  test("dechunk handles extensions and malformed sizes") {
    val chunked = "5;ext=1\r\nhello\r\n3\r\n wo\r\n0\r\n\r\n".getBytes(UTF_8)
    assert(new String(Warc.dechunk(chunked), UTF_8) == "hello wo")
    val bad = "ZZ\r\nhello\r\n".getBytes(UTF_8)
    assert(Warc.dechunk(bad).length == 0) // malformed → decoded prefix
  }

  test("sub-file splits: CDX index + arbitrary byte slicing, gz and plain") {
    val dir = java.nio.file.Files.createTempDirectory("graft-split").toFile
    dir.deleteOnExit()
    val n = 60
    // write both layouts while building a CDX-style (offset, length)
    // member index through CountingOutputStream
    val files = Seq(true, false).map { gz =>
      val name = if (gz) "s.warc.gz" else "s.warc"
      val f = new java.io.File(dir, name)
      val out = new Warc.CountingOutputStream(new FileOutputStream(f))
      val index = (0 until n).map { i =>
        val before = out.count
        Warc.Writer.response(out, s"http://sp.test/$i", ts(i),
          (s"body-$i-" + "y" * (50 + i % 13)).getBytes(UTF_8),
          chunked = i % 5 == 0, gzipBody = i % 3 == 0, gzipMember = gz)
        (before, out.count - before)
      }
      out.close()
      (f, index)
    }
    for ((f, index) <- files) {
      val fs = new org.apache.hadoop.fs.Path(f.getAbsolutePath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val fileLen = f.length()
      def readSplit(off: Long, len: Long): List[String] = {
        val in = fs.open(new org.apache.hadoop.fs.Path(f.getAbsolutePath))
        try Warc.splitRecordIterator(in, off, len, 10 << 20)
          .map(_.url).toList
        finally in.close()
      }
      // member-aligned splits from the index: exact per-range contents
      val mid = index(n / 2)._1
      val firstHalf = readSplit(0, mid)
      val secondHalf = readSplit(mid, fileLen - mid)
      assert(firstHalf == (0 until n / 2).map(i => s"http://sp.test/$i"))
      assert(secondHalf == (n / 2 until n).map(i => s"http://sp.test/$i"))
      // arbitrary (unaligned) equal slicing: exhaustive and disjoint
      for (parts <- Seq(3, 7)) {
        val step = fileLen / parts + 1
        val all = (0 until parts).flatMap(p => readSplit(p * step, step))
        assert(all == (0 until n).map(i => s"http://sp.test/$i"),
          s"file=${f.getName} parts=$parts")
      }
      // an empty tail split yields nothing
      assert(readSplit(fileLen, 1000) == Nil)
    }
    // Dataset-level: two splits of the gz file, one task each
    val (gzFile, gzIndex) = files.head
    val cut = gzIndex(20)._1
    val ds = Warc.warcSplitFiles(spark, Seq(
      Warc.WarcSplit(gzFile.getAbsolutePath, 0, cut),
      Warc.WarcSplit(gzFile.getAbsolutePath, cut, gzFile.length() - cut)))
    assert(ds.count() == n)
    assert(ds.rdd.getNumPartitions == 2)
    // planSplits front-end: 2 KB slicing of the whole dir fans both
    // files into multiple units and still reads every record once
    val planned = Warc.planSplits(spark, dir.getAbsolutePath + "/*", 2048)
    assert(planned.count(_.path.endsWith("s.warc.gz")) > 1)
    assert(planned.count(_.path.endsWith("/s.warc")) > 1)
    assert(Warc.warcSplitRecords(spark, planned).count() == 2L * n)

    // corruption inside one member: sliced reads stay exhaustive and
    // disjoint MINUS the torn record (the resync machinery is shared
    // with the whole-file reader; a damaged unit must not tear its
    // neighbours or leak into an adjacent split)
    val (gzF, gzIdx) = files.head
    val bytes = java.nio.file.Files.readAllBytes(gzF.toPath)
    val (vOff, vLen) = gzIdx(30) // damage the 31st member's middle
    var i = vOff.toInt + vLen.toInt / 2
    val end = math.min(i + 40, vOff.toInt + vLen.toInt - 9)
    while (i < end) { bytes(i) = (bytes(i) ^ 0x5a).toByte; i += 3 }
    // zstd: not splittable — the whole-file unit reads everything, any
    // offset > 0 unit is empty by contract (planSplits slices blindly;
    // the reader enforces)
    val zrec = new ByteArrayOutputStream()
    (0 until 5).foreach(i => Warc.Writer.response(zrec,
      s"http://z.test/$i", ts(i), s"zz-$i".getBytes(UTF_8)))
    val zf = new java.io.File(dir, "s.warc.zst")
    val zo = new FileOutputStream(zf)
    zo.write(com.github.luben.zstd.Zstd.compress(zrec.toByteArray)); zo.close()
    val zPlan = Warc.planSplits(spark, zf.getAbsolutePath, 64)
    assert(zPlan.size > 1) // sliced blindly...
    val zUrls = Warc.warcSplitRecords(spark, zPlan).collect().map(_.url).toSeq
    assert(zUrls.sorted == (0 until 5).map(i => s"http://z.test/$i"))

    val dmg = new java.io.File(dir, "dmg.warc.gz")
    java.nio.file.Files.write(dmg.toPath, bytes)
    for (parts <- Seq(1, 4)) {
      val step = dmg.length() / parts + 1
      val plan = (0 until parts).map(p =>
        Warc.WarcSplit(dmg.getAbsolutePath, p * step, step))
      val urls = Warc.warcSplitRecords(spark, plan)
        .collect().map(_.url).toSeq
      assert(urls.distinct.size == urls.size, s"dups at parts=$parts")
      val missing = (0 until n).map(i2 => s"http://sp.test/$i2")
        .filterNot(urls.contains)
      assert(missing.size <= 2, s"lost ${missing.size} at parts=$parts")
      assert(missing.contains("http://sp.test/30"), s"parts=$parts")
    }
  }

  test("marker-framed zstd splits: exhaustive + disjoint, any slicing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zsplit_")
      .toFile
    val n = 64
    val zf = new java.io.File(dir, "f.warc.zst")
    val fo = new FileOutputStream(zf)
    (0 until n).foreach { i =>
      val raw = new ByteArrayOutputStream()
      Warc.Writer.response(raw, s"http://zs.test/$i", ts(i),
        (s"payload-$i " * 30).getBytes(UTF_8))
      Warc.Writer.zstdMember(fo, raw.toByteArray)
    }
    fo.close()

    // whole-file path: ZstdInputStream continuous mode skips the
    // marker skippable frames transparently — framed files stay
    // ordinary multi-frame zstd for non-split readers
    val whole = parseAll(java.nio.file.Files.readAllBytes(zf.toPath))
    assert(whole.map(_.url) == (0 until n).map(i => s"http://zs.test/$i"))

    // arbitrary byte slicing through the Spark split reader must stay
    // exhaustive and disjoint — the gzip-member split contract, now on
    // zstd (units = marker starts in [off, off+len))
    for (parts <- Seq(2, 5, 16, 64)) {
      val step = zf.length() / parts + 1
      val plan = (0 until parts).map(p =>
        Warc.WarcSplit(zf.getAbsolutePath, p * step, step))
      val urls = Warc.warcSplitRecords(spark, plan).collect().map(_.url).toSeq
      assert(urls.sorted == (0 until n).map(i => s"http://zs.test/$i").sorted,
        s"parts=$parts")
    }
    // planSplits front-end fans it into multiple units
    val planned = Warc.planSplits(spark, zf.getAbsolutePath, 2048)
    assert(planned.size > 1)
    assert(Warc.warcSplitRecords(spark, planned).count() == n)

    // corruption inside one data frame costs exactly that record; the
    // slicing stays exhaustive+disjoint for the survivors
    val bytes = java.nio.file.Files.readAllBytes(zf.toPath)
    // find the 31st marker, damage the middle of its data frame
    var found = 0; var pos = -1
    var i = 0
    while (found <= 30 && i < bytes.length - 11) {
      if (bytes(i) == 0x5e.toByte && bytes(i + 1) == 0x2a.toByte &&
          bytes(i + 2) == 0x4d.toByte && bytes(i + 3) == 0x18.toByte) {
        found += 1; pos = i
      }
      i += 1
    }
    assert(found == 31)
    // damage the data-frame HEADER (starts at marker+16): a corrupt
    // frame descriptor fails deterministically, whereas a mid-frame
    // literal flip can decode "cleanly" to wrong bytes (no content
    // checksum by default) — the reader must skip the frame either way,
    // but the spec pins the deterministic path
    (pos + 16 until pos + 24).foreach(j =>
      bytes(j) = (bytes(j) ^ 0x5a).toByte)
    val dmg = new java.io.File(dir, "dmg.warc.zst")
    java.nio.file.Files.write(dmg.toPath, bytes)
    for (parts <- Seq(1, 4)) {
      val step = dmg.length() / parts + 1
      val plan = (0 until parts).map(p =>
        Warc.WarcSplit(dmg.getAbsolutePath, p * step, step))
      val urls = Warc.warcSplitRecords(spark, plan).collect().map(_.url).toSeq
      assert(urls.distinct.size == urls.size, s"dups at parts=$parts")
      val missing = (0 until n).map(i2 => s"http://zs.test/$i2")
        .filterNot(urls.contains)
      assert(missing == Seq("http://zs.test/30"), s"parts=$parts: $missing")
    }
  }

  /** Offset within a zstd frame of its `k`-th block header (RFC 8878
    * §3.1.1: magic, frame header, then blocks behind 3-byte LE headers
    * of last flag, 2-bit type and 21-bit size; an RLE block carries one
    * byte). */
  private def zstdBlockHeader(f: Array[Byte], k: Int): Int = {
    val fhd = f(4) & 0xff
    val single = (fhd >> 5) & 1
    var p = 5 + (1 - single) + Seq(0, 1, 2, 4)(fhd & 3) +
      Seq(single, 2, 4, 8)(fhd >> 6)
    for (_ <- 0 until k) {
      val h = (f(p) & 0xff) | ((f(p + 1) & 0xff) << 8) |
        ((f(p + 2) & 0xff) << 16)
      p += 3 + (if (((h >> 1) & 3) == 1) 1 else h >>> 3)
    }
    p
  }

  test("marker-framed zstd: an over-cap record truncates, a damaged frame counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zbig_").toFile
    val cap = 1 << 16 // maxPayload; the record spans three zstd blocks
    val big = (0 until 12000).map(i => s"line $i of a big record\n")
      .mkString.getBytes(UTF_8)
    assert(big.length > 2 * cap + (1 << 16))
    val out = new ByteArrayOutputStream()
    var bigAt = 0
    for ((name, body) <- Seq("small" -> "<p>s</p>".getBytes(UTF_8),
        "big" -> big, "after" -> "<p>a</p>".getBytes(UTF_8))) {
      if (name == "big") bigAt = out.size()
      val raw = new ByteArrayOutputStream()
      Warc.Writer.response(raw, s"http://zb.test/$name", ts(0), body)
      Warc.Writer.zstdMember(out, raw.toByteArray)
    }
    val bytes = out.toByteArray
    val f = new java.io.File(dir, "big.warc.zst")
    java.nio.file.Files.write(f.toPath, bytes)

    def rows(splits: Seq[Warc.WarcSplit]) =
      Warc.warcSplitRecords(spark, splits, cap)
        .selectExpr("url", "truncated", "length(payload)").collect()
        .map(r => (r.getString(0), r.getBoolean(1), r.getInt(2))).toSeq
    val urls = Seq("small", "big", "after").map(n => s"http://zb.test/$n")
    val whole = rows(Seq(Warc.WarcSplit(f.getAbsolutePath, 0L, f.length())))
    val plan = Warc.planSplits(spark, f.getAbsolutePath, bytes.length / 3)
    assert(plan.size > 1)
    val split = rows(plan)
    for (got <- Seq(whole, split)) {
      assert(got.map(_._1).sorted == urls.sorted, got.toString)
      val (_, truncated, len) = got.find(_._1 == urls(1)).get
      assert(truncated && len > 0 && len <= cap)
    }

    // a reserved block type midway through the big record's data frame
    // (behind its 16-byte marker) aborts that frame's decode only
    val frameAt = bigAt + Warc.ZstdMarkerSig.length + 4
    val frame = bytes.slice(frameAt, bytes.length)
    val blk = frameAt + zstdBlockHeader(frame, 1)
    bytes(blk) = (bytes(blk) | 0x06).toByte
    java.nio.file.Files.write(f.toPath, bytes)
    val summary = Warc.warcFileSummaries(spark, f.getAbsolutePath, cap)
      .collect()
    assert(summary.map(_.getLong(5)).toSeq == Seq(1L), summary.toSeq)
    assert(rows(Seq(Warc.WarcSplit(f.getAbsolutePath, 0L, f.length())))
      .map(_._1).filter(_ != urls(1)).sorted == Seq(urls(0), urls(2)).sorted)
    f.delete(); dir.delete()
  }

  test("WET zstd codec: splittable output, same records") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_wetz_")
      .toString
    val rows = (0 until 120).map(i =>
      (s"http://wz.test/$i", java.sql.Timestamp.from(ts(i)), s"doc $i body"))
      .toDF("url", "warc_ts", "text").repartition(3)
    val files = Warc.writeWet(rows, dir, codec = "zstd")
    assert(files.map(_._2).sum == 120)
    assert(files.forall(_._1.endsWith(".warc.wet.zst")))
    val back = Warc.warcRecords(spark, dir + "/*.warc.wet.zst")
    assert(back.count() == 120)
    // and the output splits: 1 KB slicing reads every record once
    val plan = Warc.planSplits(spark, dir + "/*.warc.wet.zst", 1024)
    assert(plan.size > files.size)
    val urls = Warc.warcSplitRecords(spark, plan).collect().map(_.url).toSeq
    assert(urls.sorted == (0 until 120).map(i => s"http://wz.test/$i").sorted)
  }

  test("WET commit survives concurrent speculative attempts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wet_spec_")
      .toString
    val conf = spark.sparkContext.hadoopConfiguration
    def rows = (0 until 200).iterator.map(i =>
      (s"http://wet.test/$i", java.sql.Timestamp.from(ts(i)), s"text-$i " * 20))
    // two attempts of the SAME partition racing (the speculation
    // scenario): each streams to its attempt-unique temp, commit is a
    // rename — the final file must be exactly one attempt's complete
    // output, never an interleaving
    val t1 = new Thread(() =>
      Warc.writeWetPartition(rows, dir, 7, "attempt1", conf))
    val t2 = new Thread(() =>
      Warc.writeWetPartition(rows, dir, 7, "attempt2", conf))
    t1.start(); t2.start(); t1.join(); t2.join()
    val fin = new java.io.File(dir, "part-00007.warc.wet.gz")
    assert(fin.exists())
    val recs = parseAll(java.nio.file.Files.readAllBytes(fin.toPath))
    assert(recs.length == 200)
    assert(recs.map(_.url) == (0 until 200).map(i => s"http://wet.test/$i"))

    // a failing attempt leaves neither a final file nor its temp
    val bad = Iterator.tabulate(10) { i =>
      if (i == 5) throw new RuntimeException("mid-write crash")
      (s"http://wet.test/$i", java.sql.Timestamp.from(ts(i)), "t")
    }
    intercept[RuntimeException] {
      Warc.writeWetPartition(bad, dir, 9, "attempt1", conf)
    }
    assert(!new java.io.File(dir, "part-00009.warc.wet.gz").exists())
    val tmpDir = new java.io.File(dir, Warc.WetTmpDir)
    assert(!tmpDir.exists() ||
      tmpDir.listFiles().forall(!_.getName.startsWith("part-00009")))
  }

  test("CDX sidecar: random-access reads reproduce the full scan, gz and zstd") {
    import spark.implicits._
    for (codec <- Seq("gzip", "zstd")) {
      val dir = java.nio.file.Files.createTempDirectory("graft_cdx_")
        .toString
      val rows = (0 until 150).map(i =>
        (s"http://cdx.test/$i?b=2&a=1", java.sql.Timestamp.from(ts(i)),
          s"body $i " * (1 + i % 7)))
        .toDF("url", "warc_ts", "text").repartition(3)
      val files = Warc.writeWet(rows, dir, codec = codec, cdx = true)
      val ext = if (codec == "zstd") "zst" else "gz"

      // one sidecar per data file; entries parse with native expressions
      val entries = Warc.cdxEntries(spark, s"$dir/*.cdx.gz")
      assert(entries.select("cdx_file").distinct.count() == files.size)
      assert(entries.count() == 150)
      val e0 = entries.orderBy("offset").limit(1)
        .select("urlkey", "ts14", "url", "offset").head()
      assert(e0.getString(2).startsWith("http://cdx.test/"))
      // SURT urlkey: host labels reversed, params sorted
      assert(e0.getString(0).startsWith("test,cdx)/"))
      assert(e0.getString(0).contains("?a=1&b=2"))
      assert(e0.getString(1).matches("\\d{14}"))

      // entries tile each data file exactly: contiguous, start 0, end EOF
      entries.select("filename", "offset", "length")
        .collect().groupBy(_.getString(0)).foreach { case (fn, es) =>
          val sorted = es.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
          assert(sorted.head._1 == 0L)
          sorted.sliding(2).foreach {
            case Array((o1, l1), (o2, _)) => assert(o1 + l1 == o2)
            case _ =>
          }
          val len = new java.io.File(new java.io.File(dir), fn).length()
          assert(sorted.last._1 + sorted.last._2 == len, s"$fn tiling")
        }

      // the wayback-consumer contract: exact-slice reads == full scan
      val viaCdx = Warc.readCdxRecords(spark, s"$dir/*.cdx.gz")
        .select("url", "payload").collect()
        .map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1), UTF_8)))
        .sortBy(_._1)
      val viaScan = Warc.warcRecords(spark, s"$dir/*.warc.wet.$ext")
        .select("url", "payload").collect()
        .map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1), UTF_8)))
        .sortBy(_._1)
      assert(viaCdx.length == 150)
      assert(viaCdx.toSeq == viaScan.toSeq, s"codec=$codec")
    }
  }

  test("CDX random access fails loudly on a wrong offset (no silent resync)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cdxbad_")
      .toString
    val rows = (0 until 10).map(i =>
      (s"http://cb.test/$i", java.sql.Timestamp.from(ts(i)), s"b $i"))
      .toDF("url", "warc_ts", "text").coalesce(1)
    Warc.writeWet(rows, dir, cdx = true)
    // shift every offset by one byte: the slice no longer starts at a
    // gzip member, so the strict slice decode must throw, not repair
    val good = Warc.cdxEntries(spark, s"$dir/*.cdx.gz").collect()
    val bad = new java.io.File(dir, "part-00000.cdx.gz")
    val out = new java.util.zip.GZIPOutputStream(
      new FileOutputStream(bad))
    good.foreach { r =>
      out.write(Warc.cdxLine(r.getString(2),
        Instant.ofEpochSecond(1500000000L), r.getLong(3) + 1, r.getLong(4),
        r.getString(5)).getBytes(UTF_8))
    }
    out.close()
    // drop the local-FS checksum sidecar so the read reaches the strict
    // slice decode (otherwise Hadoop's CRC catches the rewrite first and
    // the offset-validation path is never exercised)
    new java.io.File(dir, ".part-00000.cdx.gz.crc").delete()
    val e = intercept[org.apache.spark.SparkException] {
      Warc.readCdxRecords(spark, s"$dir/*.cdx.gz").count()
    }
    assert(e.getMessage != null)
    assert(org.apache.commons.lang3.exception.ExceptionUtils
      .getRootCauseMessage(e).toLowerCase.matches(
        ".*(holds no record|eof|end of|checksum|unexpected).*"),
      s"unexpected failure mode: ${ExceptionUtilsRoot(e)}")
  }

  private def ExceptionUtilsRoot(e: Throwable): String =
    org.apache.commons.lang3.exception.ExceptionUtils.getRootCauseMessage(e)

  test("malformed CDX line fails with a message naming the sidecar") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cdxmal_")
      .toString
    val rows = Seq(("http://m.test/1",
      java.sql.Timestamp.from(ts(1)), "b")).toDF("url", "warc_ts", "text")
      .coalesce(1)
    Warc.writeWet(rows, dir, cdx = true)
    val bad = new java.io.File(dir, "part-00000.cdx.gz")
    val out = new java.util.zip.GZIPOutputStream(new FileOutputStream(bad))
    out.write("garbage line with no json\n".getBytes(UTF_8))
    out.close()
    new java.io.File(dir, ".part-00000.cdx.gz.crc").delete()
    val e = intercept[org.apache.spark.SparkException] {
      Warc.readCdxRecords(spark, s"$dir/*.cdx.gz").count()
    }
    assert(org.apache.commons.lang3.exception.ExceptionUtils
      .getRootCauseMessage(e).contains("malformed CDX line"))
  }

  test("cdxLine escapes quotes, backslashes and control bytes") {
    val l = Warc.cdxLine("http://e.test/\"q\"\\x", Instant.ofEpochSecond(0),
      5L, 7L, "f.warc.wet.gz")
    assert(l.endsWith("\n"))
    assert(l.contains("\\\"q\\\"") && l.contains("\\\\x"))
    assert(l.contains(" 19700101000000 "))
    // key space-escaped so the 3-field line splits stably
    assert(!l.split(" \\{").head.split(" ").exists(_.isEmpty))
  }

  test("control characters in a crawl URL cannot break record framing") {
    val bos = new ByteArrayOutputStream()
    val evil = "http://a.test/x\r\nWARC-Type: injected\r\nX-Fake: 1"
    Warc.Writer.response(bos, evil, ts(1), "body".getBytes(UTF_8))
    Warc.Writer.response(bos, "http://a.test/y", ts(2), "b2".getBytes(UTF_8))
    val rs = parseAll(bos.toByteArray)
    assert(rs.length == 2) // framing intact
    assert(rs.head.warc_type == "response") // no injected type
    assert(rs.head.url == "http://a.test/x%0D%0AWARC-Type: injected%0D%0AX-Fake: 1")
    assert(rs(1).url == "http://a.test/y")
    // identity on well-formed URLs
    assert(Warc.Writer.encodeHeaderValue("http://a.test/p?q=1&r=%20") ==
      "http://a.test/p?q=1&r=%20")
  }
}
