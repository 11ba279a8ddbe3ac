package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dedup / similarity / text-analysis / learning-store / validation /
  * multimodal operator tests. */
class OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-ops-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  /** Every (a, b) pair with a < b over `ids`. */
  private def pairsOf(ids: Seq[Long]): Set[(Long, Long)] =
    (for (a <- ids; b <- ids if a < b) yield (a, b)).toSet

  /** The first `cap` ids in vector-bucket order, (xxhash64(id), id),
    * hashed here with Spark's XXH64 at its default seed 42. */
  private def hashFirst(ids: Seq[Long], cap: Int): Seq[Long] =
    ids.sortBy(i => (org.apache.spark.sql.catalyst.expressions.XXH64
      .hashLong(i, 42L), i)).take(cap)

  test("exact dedup keeps min doc_id per distinct text") {
    val d = docs(1L -> "aaa", 2L -> "bbb", 3L -> "aaa", 4L -> "aaa")
    val out = Dedup.exact(d).collect()
    assert(out.length == 2)
    val aaa = out.find(_.getLong(2) == 3L).get // copies == 3
    assert(aaa.getLong(1) == 1L) // keep_id
    assert(Dedup.exactSurvivors(d).count() == 2)
  }

  test("minhash LSH finds near-duplicate pairs, not unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog and then runs " +
      "far away into the deep green forest to find some food for winter"
    val nearDup = base.replace("winter", "autumn")
    val unrelated = "completely different words about spark catalyst " +
      "optimizer plans and shuffle partitions in distributed computing"
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated,
      4L -> base) // exact dup too
    val pairs = Dedup.minhashNearDups(d, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    // byte-identical dup is collapsed by the exact pre-pass, NOT reported
    assert(!pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // with the pre-pass disabled the exact dup IS a near-dup pair
    val raw = Dedup.minhashNearDups(d, threshold = 0.5, exactPrepass = false)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(raw.contains((1L, 4L)))
  }

  test("minhash bucket cap bounds the hot-bucket pair explosion") {
    // 2,000 byte-identical docs: without the exact pre-pass and with a
    // tiny cap, candidate pairs stay ≤ cap²/2 per band instead of m²/2
    val hot = (0L until 2000L).map(i => (i, "mass produced boilerplate " +
      "footer text repeated on every crawled page of the giant site"))
    val d = hot.toDF("doc_id", "text")
    val capped = Dedup.minhashCandidates(d, bucketCap = 10)
    assert(capped.count() == 45L) // C(10,2): same 10 survivors per band
    // the survivors are the 10 lowest doc_ids
    assert(capped.as[(Long, Long)].collect().toSet == pairsOf(0L until 10L))
    val drops = Dedup.minhashBucketDrops(d, bucketCap = 10)
    assert(drops == 16L * 1990L, s"drops $drops")
    // end-to-end: exact pre-pass collapses the flood entirely
    assert(Dedup.minhashNearDups(d, threshold = 0.5).count() == 0L)
  }

  test("minhash estimated vs exact jaccard sane") {
    val j = MinHashKernel.exactJaccard("a b c d e f g", "a b c d e f g", 3)
    assert(j == 1.0)
    assert(MinHashKernel.exactJaccard("a b c d e", "x y z w v", 3) == 0.0)
  }

  test("simhash near-dups: banding guarantees distance ≤ 3; dups found") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val different = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen"
    // exact duplicate (distance 0) is caught by the raw sketch path...
    val d = docs(1L -> base, 2L -> base, 3L -> different)
    val raw = Dedup.simhashNearDups(d, maxDistance = 3, exactPrepass = false)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(raw == Set((1L, 2L)))
    // ...and collapsed by the exact pre-pass (default), like minhash
    assert(Dedup.simhashNearDups(d, maxDistance = 3).count() == 0L)
    // a 1-word edit (sketch within 3 bits) still surfaces as a near-dup
    val d2 = docs(1L -> base, 2L -> base.replace("upsilon", "omega"),
      3L -> different)
    val near = Dedup.simhashNearDups(d2, maxDistance = 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(near == Set((1L, 2L)), near.toString)
    // hot-bucket cap: 3000 identical sketches stay bounded without
    // the pre-pass (4 bands × C(10,2) candidate pairs at cap 10)
    val flood = (0L until 3000L).map(i => (i, base)).toDF("doc_id", "text")
    val capped = Dedup.simhashNearDups(flood, maxDistance = 3,
      exactPrepass = false, bucketCap = 10)
    assert(capped.count() == 45L)
    assert(capped.select("a", "b").as[(Long, Long)].collect().toSet ==
      pairsOf(0L until 10L)) // the 10 lowest doc_ids survive
  }

  test("brute cosine topk: identical vector ranks first") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.01f, 0.0f)),   // near-identical to 1
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 1L)
    val top = Similarity.bruteCosineTopK(emb, q, k = 2)
      .orderBy($"rank").as[(Long, Long, Double, Int)].collect()
    assert(top(0)._2 == 2L) // nearest neighbor
    assert(top(0)._3 > 0.99)
  }

  test("lsh buckets group similar vectors; lsh topk subset of brute") {
    val r = new java.util.Random(5)
    val emb = (0L until 100L).map { i =>
      val cluster = (i % 4).toInt
      val v = Array.tabulate(16)(d =>
        (if (d % 4 == cluster) 1.0 else 0.0) + r.nextGaussian() * 0.05)
      (i, v.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    // force the LSH machinery (auto mode would route n=100 to brute)
    val lsh = Similarity.lshCosineTopK(emb, k = 3,
      signBits = Similarity.signBitsFor(100), tables = Similarity.DefaultTables)
    assert(lsh.count() > 0)
    // every reported neighbor has non-trivial cosine (same cluster)
    val minCos = lsh.agg(min($"cos")).as[Double].collect()(0)
    assert(minCos > 0.5)
  }

  test("cosine near-dups finds planted duplicate") {
    val v = Seq.tabulate(16)(d => d.toFloat / 16)
    val emb = Seq((1L, v), (2L, v.map(x => x * 1.001f)),
      (3L, v.reverse)).toDF("vec_id", "embedding")
    val dups = Similarity.cosineNearDups(emb, 0.999)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(dups.contains((1L, 2L)))
  }

  test("cosine LSH hot-bucket flood: exact pre-pass + cap bound the pairs") {
    // 2000 byte-identical embeddings land in the same bucket of EVERY
    // table — the exact pre-pass collapses them to one representative
    // (mass dups are exact-dedup output, not near-dup pairs)
    val v = Seq.tabulate(16)(d => (d + 1).toFloat / 16)
    val flood = (0L until 2000L).map(i => (i, v)).toDF("vec_id", "embedding")
    assert(Similarity.cosineNearDups(flood, 0.9).count() == 0L)
    assert(Similarity.exactEmbSurvivors(flood).count() == 1L)
    // with the pre-pass off, the bucket cap bounds the candidate pairs
    // to C(cap,2) survivors and the drops are accounted, not silent
    // (signBits forced: auto mode would route this small n to the exact
    // pass, bypassing the cap machinery under test)
    val capped = Similarity.cosineNearDups(flood, 0.9,
      signBits = Similarity.signBitsFor(2000),
      exactPrepass = false, bucketCap = 10)
    assert(capped.count() == 45L, s"got ${capped.count()}") // C(10,2)
    // the survivors are a hash-ordered sample, not the lowest ids
    assert(capped.select("a", "b").as[(Long, Long)].collect().toSet ==
      pairsOf(hashFirst(0L until 2000L, 10).sorted))
    val drops = Similarity.lshBucketDrops(flood, bucketCap = 10)
    assert(drops > 0L)
    // near-identical (not byte-identical) flood: pre-pass can't collapse,
    // cap still bounds the blow-up
    val jitterRows = (0L until 1500L).map(i =>
      (i, v.updated(0, v(0) * (1.0f + i * 1e-7f))))
    val jitter = jitterRows.toDF("vec_id", "embedding")
    val bounded = Similarity.cosineNearDups(jitter, 0.9,
      signBits = Similarity.signBitsFor(1500), bucketCap = 20)
    assert(bounded.count() == 190L) // C(20,2)
    // survivors: the hash-ordered first 20 of the pre-pass keepers (float
    // rounding makes some jittered vectors equal; the min vec_id keeps)
    val keepers = jitterRows.groupBy(_._2).values.map(_.map(_._1).min).toSeq
    assert(bounded.select("a", "b").as[(Long, Long)].collect().toSet ==
      pairsOf(hashFirst(keepers, 20).sorted))
    // IVF cells share the vector policy: one cell holding the whole
    // flood (identical members all pick sub-cell 0) keeps the same
    // hash-ordered 10, so with k above the cap every neighbor is one of
    // them and each of them is someone's neighbor
    val one = Array(v.toArray)
    // a hot cell's 80 seeds repeat its members' vectors: the broadcast
    // table keeps each distinct seed once, in rank order, and the flood
    // (one distinct seed) is no split
    val w = v.reverse
    val mixed = (0L until 200L).map(i => (i, if (i % 2 == 0) v else w))
      .toDF("vec_id", "embedding").withColumn("cell", lit(0))
    val seeds = IvfIndex.trainSubCells(mixed, 10)
    val first = if (hashFirst(0L until 200L, 1).head % 2 == 0) v else w
    assert(seeds.keySet == Set(0))
    assert(seeds(0).map(_.toSeq).toSeq == Seq(first, if (first == v) w else v))
    assert(IvfIndex.trainSubCells(flood.withColumn("cell", lit(0)), 10).isEmpty)
    // the sub-probe reaches both distinct sub-cells: a v query also sees
    // the w sub-cell's hash-ordered 10 (repeats of its own seed would
    // fill all 4 sub-probes and hide them)
    val mixedIvf = IvfIndex.topK(mixed.drop("cell"), one, k = 20, cellCap = 10)
    assert(mixedIvf.filter(col("query_id") % 2 === 0 && col("neighbor_id") % 2 === 1)
      .select("neighbor_id").distinct().as[Long].collect().toSet ==
      hashFirst((0L until 200L).filter(_ % 2 == 1), 10).toSet)
    assert(IvfIndex.cellDrops(flood, one, cellCap = 10) == 1990L)
    val ivf = IvfIndex.topK(flood, one, k = 20, cellCap = 10)
    assert(ivf.select("neighbor_id").distinct().as[Long].collect().toSet ==
      hashFirst(0L until 2000L, 10).toSet)
  }

  test("language id on real phrases") {
    assert(LangIdKernel.detect(
      "the cat is on the mat and the dog was not with you") == "en")
    assert(LangIdKernel.detect(
      "el perro y la casa que es de los niños en la calle") == "es")
    assert(LangIdKernel.detect(
      "le chat est dans les maisons pour que vous avec une") == "fr")
    assert(LangIdKernel.detect(
      "der Hund und die Katze ist nicht mit ein für das") == "de")
    assert(LangIdKernel.detect("") == "und")
  }

  test("token counts") {
    val d = docs(1L -> "one two  three", 2L -> "", 3L -> "hi")
    val out = d.select($"doc_id", TextAnalysis.tokenCount($"text").as("n"))
      .as[(Long, Int)].collect().toMap
    assert(out(1L) == 3 && out(2L) == 0 && out(3L) == 1)
  }

  test("learning store retention + best pattern") {
    val patterns = (1 to 600).map(i =>
      (i.toLong, "passport", i / 1000.0, i.toLong, "v1"))
      .toDF("pattern_id", "doc_type", "accuracy_score", "created_at", "version")
    assert(LearningStore.applyRetention(patterns).count() == 500)
    val best = LearningStore.bestPatterns(patterns).collect()
    assert(best.length == 1)
    assert(best(0).getAs[Double]("accuracy_score") == 0.6)
  }

  test("validation gate passes clean extraction output") {
    val results = graft.pipeline.ExtractPipeline.extract(
      graft.pipeline.ExtractPipeline.pages(spark, 200, 4), 4).toDF()
    val gate = ValidationGate.check(results)
    assert(gate.total == 200)
    assert(gate.passed, gate.toString)
    assert(ValidationGate.distribution(results).count() > 0)
  }

  test("multimodal features: codec roundtrip, batched extraction") {
    val media = Multimodal.synth(spark, 50, 2)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 50)
    assert(feats.forall(_.features.length == Multimodal.FeatureDim))
    assert(feats.forall(f => f.width > 0 && f.height > 0))
    val videos = feats.filter(_.kind == "video")
    assert(videos.nonEmpty && videos.forall(_.n_frames >= 1))
    val frames = Multimodal.sampleFrames(
      Multimodal.extractFeatures(media), stride = 5)
    assert(frames.count() >= 50)
    // every row is a REAL container: metadata was read back out of
    // actual PNG/BMP/WAV/AVI headers and matches the generator
    // arithmetic
    val images = feats.filter(_.kind == "image")
    assert(images.nonEmpty)
    images.foreach { f =>
      assert(f.width == (16 + (f.media_id * 7919L) % 64).toInt, f.toString)
      assert(f.height == (16 + (f.media_id * 104729L) % 64).toInt, f.toString)
    }
    val audio = feats.filter(_.kind == "audio")
    assert(audio.nonEmpty)
    audio.foreach { f =>
      assert(f.width == (1 + f.media_id % 2).toInt, f.toString) // channels
      assert(f.height == (8000 + 100 * ((f.media_id * 7919L) % 64)).toInt)
      assert(f.n_frames == (64 + (f.media_id * 31L) % 192).toInt) // PCM frames
      assert(f.bytes == 44L + f.n_frames.toLong * f.width * 2)
    }
    videos.foreach { f =>
      assert(f.n_frames == (1 + (f.media_id * 13L) % 30).toInt, f.toString)
      val blen = (64 + (f.media_id * 31L) % 192).toInt
      assert(f.bytes == 108L + blen + blen % 2, f.toString)
    }
  }

  test("RiffContainers: WAV/AVI encode → chunk-walk parse round trip") {
    val wav = RiffContainers.encodeWav(channels = 2, sampleRate = 44100,
      nFrames = 100, seed = 5)
    assert(RiffContainers.isWav(wav))
    assert(RiffContainers.decodeWav(wav) == Some((2, 44100, 100)))
    assert(wav.length == 44 + 100 * 2 * 2) // closed-form length
    val avi = RiffContainers.encodeAvi(w = 320, h = 240, frames = 17,
      bodyLen = 99, seed = 5)
    assert(RiffContainers.isAvi(avi))
    assert(RiffContainers.decodeAvi(avi) == Some((320, 240, 17)))
    assert(avi.length == 108 + 99 + 1) // odd body → RIFF even-padding
    val avi2 = RiffContainers.encodeAvi(64, 48, 1, bodyLen = 100, seed = 6)
    assert(avi2.length == 108 + 100)
    assert(RiffContainers.decodeAvi(avi2) == Some((64, 48, 1)))
    // cross-format and garbage rejection
    assert(RiffContainers.decodeWav(avi) == None)
    assert(RiffContainers.decodeAvi(wav) == None)
    assert(RiffContainers.decodeWav("RIFFxxxxWAVE".getBytes) == None)
    assert(MediaCodec.decode(wav) == Some(("audio", 2, 44100, 100)))
    assert(MediaCodec.decode(avi) == Some(("video", 320, 240, 17)))
    // truncated payload (declared chunk overruns buffer) is rejected
    assert(RiffContainers.decodeWav(
      java.util.Arrays.copyOf(wav, 60)) == None)
  }

  test("ImageHeaders: valid PNG/BMP encode → header parse round trip") {
    val png = ImageHeaders.encodePng(33, 21, seed = 7)
    assert(ImageHeaders.isPng(png))
    assert(ImageHeaders.decodePng(png) == Some((33, 21, 8)))
    assert(png.length == 68 + 21 * (1 + 3 * 33)) // closed-form length
    // the PNG is VALID: java's ImageIO isn't present, but the zlib
    // stream must inflate to exactly h*(1+3w) filter+pixel bytes
    val idatLen = ((png(33) & 0xff) << 24) | ((png(34) & 0xff) << 16) |
      ((png(35) & 0xff) << 8) | (png(36) & 0xff)
    val inf = new java.util.zip.Inflater()
    inf.setInput(png, 8 + 25 + 8, idatLen)
    val out = new Array[Byte](21 * (1 + 3 * 33) + 16)
    val n = inf.inflate(out)
    assert(n == 21 * (1 + 3 * 33), s"inflated $n")

    val bmp = ImageHeaders.encodeBmp(33, 21, seed = 7)
    assert(ImageHeaders.isBmp(bmp))
    assert(ImageHeaders.decodeBmp(bmp) == Some((33, 21, 24)))
    assert(bmp.length == 54 + 21 * (((3 * 33 + 3) / 4) * 4))
    // top-down BMP (negative height) reports magnitude
    val neg = bmp.clone()
    val hNeg = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(-21).array()
    System.arraycopy(hNeg, 0, neg, 22, 4)
    assert(ImageHeaders.decodeBmp(neg) == Some((33, 21, 24)))
    // garbage rejected
    assert(ImageHeaders.decodePng("nope".getBytes) == None)
    assert(ImageHeaders.decodeBmp(Array.fill[Byte](60)(0)) == None)

    val jpg = ImageHeaders.encodeJpeg(33, 21, seed = 7)
    assert(ImageHeaders.isJpeg(jpg))
    assert(ImageHeaders.decodeJpeg(jpg) == Some((33, 21, 8)))
    assert(jpg.length == 137 + 33 * 21 / 4) // closed-form length
    // marker stream is well-formed: ends with EOI, no bare 0xff in the
    // entropy segment (so no stuffing was needed)
    assert((jpg(jpg.length - 2) & 0xff) == 0xff &&
      (jpg(jpg.length - 1) & 0xff) == 0xd9)
    // truncated mid-SOF and cross-format payloads are rejected
    assert(ImageHeaders.decodeJpeg(java.util.Arrays.copyOf(jpg, 91)) == None)
    assert(ImageHeaders.decodeJpeg(png) == None)
    assert(ImageHeaders.decodePng(jpg) == None)
    assert(MediaCodec.decode(jpg) == Some(("image", 33, 21, 1)))
  }

  test("binaryFile source reads files as pages") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bin")
    java.nio.file.Files.write(dir.resolve("a.html"),
      "<html><body><p>hello</p></body></html>".getBytes)
    val pages = graft.sources.Sources.binaryFiles(spark, dir.toString)
    val rows = pages.collect()
    assert(rows.length == 1)
    assert(rows(0).url.endsWith("a.html"))
    assert(new String(rows(0).html).contains("hello"))
  }

  test("url canonicalization + dedup") {
    assert(UrlDedup.canonicalize("HTTP://Example.COM:80/a/?utm_source=x&b=1#frag")
      == "http://example.com/a?b=1")
    assert(UrlDedup.canonicalize("https://h.example/p/") == "https://h.example/p")
    assert(UrlDedup.canonicalize("not a url") == "not a url")
    val df = Seq(
      "https://a.example/p?utm_source=tw",
      "https://a.example/p",
      "https://a.example/q").toDF("url")
    val out = UrlDedup.dedup(df)
    assert(out.count() == 2)
  }

  test("surtKey reverses host labels and sorts by registered domain") {
    assert(UrlDedup.surtKey("https://news.example.co.uk/a/b?z=1&a=2")
      == "uk,co,example,news)/a/b?a=2&z=1")
    assert(UrlDedup.surtKey("HTTP://Example.COM:80/") == "com,example)/")
    assert(UrlDedup.surtKey("http://h.example:8080/p") ==
      "example,h:8080)/p")
    // sorted SURT groups a domain's subdomains together
    val keys = Seq("https://example.com/a", "https://www.example.com/",
      "https://zzz.other.com/").map(UrlDedup.surtKey).sorted
    assert(keys == Seq("com,example)/a", "com,example,www)/",
      "com,other,zzz)/"))
    assert(UrlDedup.surtKey("not a url") == "not a url")
  }

  test("ivf index: train centroids, same-cluster neighbors found") {
    val r = new java.util.Random(11)
    val emb = (0L until 120L).map { i =>
      val cluster = (i % 3).toInt
      val v = Array.tabulate(12)(d =>
        (if (d % 3 == cluster) 1.0 else 0.0) + r.nextGaussian() * 0.03)
      (i, v.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val centroids = IvfIndex.train(emb, k = 6)
    assert(centroids.nonEmpty && centroids.forall(_.length == 12))
    val top = IvfIndex.topK(emb, centroids, k = 3)
    assert(top.count() > 0)
    // all reported neighbors are same-cluster (high cosine)
    val minCos = top.agg(min($"cos")).as[Double].collect()(0)
    assert(minCos > 0.8, s"minCos $minCos")
  }

  // --- recall harness: approximate ANN vs the exact brute baseline ----

  /** Clustered synthetic embeddings (seeded, cluster structure like the
    * driver's embeddings table). */
  private def clusteredEmb(n: Int, dim: Int, clusters: Int, seed: Int) = {
    val r = new java.util.Random(seed)
    (0L until n.toLong).map { i =>
      val cluster = (i % clusters).toInt
      val v = Array.tabulate(dim)(d =>
        (if (d % clusters == cluster) 1.0 else 0.0) + r.nextGaussian() * 0.15)
      (i, v.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  /** Mean top-k recall of `approx` against the exact brute answer. */
  private def recallVsBrute(emb: org.apache.spark.sql.DataFrame,
      approx: org.apache.spark.sql.DataFrame, k: Int): Double = {
    val brute = Similarity.bruteCosineTopK(emb, emb, k)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val got = approx.select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val per = brute.map { case (q, exact) =>
      got.getOrElse(q, Set.empty).intersect(exact).size.toDouble / exact.size
    }
    per.sum / per.size
  }

  test("ivf recall >= 0.9 vs brute at two corpus sizes") {
    for (n <- Seq(200, 800)) {
      val emb = clusteredEmb(n, 32, 8, seed = 7 + n)
      val centroids = IvfIndex.train(emb) // k = ceil(sqrt(n)), 2 iters
      val approx = IvfIndex.topK(emb, centroids, k = 5)
      val r = recallVsBrute(emb, approx, k = 5)
      assert(r >= 0.9, s"ivf recall $r at n=$n")
    }
  }

  test("ivf trains on a bounded hash-sample above the cap; recall holds") {
    // n=1500, k=5 → training cap 320 vectors: the Lloyd passes run on a
    // ~21% deterministic sample, not the corpus — recall must survive
    val emb = clusteredEmb(1500, 16, 5, seed = 43)
    val centroids = IvfIndex.train(emb, k = 5)
    assert(centroids.length == 5)
    val r = recallVsBrute(emb, IvfIndex.topK(emb, centroids, k = 5), k = 5)
    assert(r >= 0.9, s"sampled-training ivf recall $r")
  }

  test("two-level ivf: hot cells split, members not dropped, recall holds") {
    // force hot cells: 600 vectors into 2 coarse cells with cellCap 100 —
    // single-level capping would discard ~5/6 of every cell's members
    // (hash-ordered), collapsing recall; two-level sub-quantization must
    // split instead of drop
    val emb = clusteredEmb(600, 16, 6, seed = 31)
    val centroids = IvfIndex.train(emb, k = 2)
    val cap = 100
    val counts = IvfIndex.assign(emb, centroids)
      .groupBy($"cell").count().as[(Int, Long)].collect().toMap
    assert(counts.values.max > cap, s"test precondition: hot cell ($counts)")
    val drops = IvfIndex.cellDrops(emb, centroids, cellCap = cap)
    assert(drops == 0L, s"two-level split should leave no drops, got $drops")
    val approx = IvfIndex.topK(emb, centroids, k = 5, cellCap = cap)
    val r = recallVsBrute(emb, approx, k = 5)
    assert(r >= 0.9, s"two-level ivf recall $r")
  }

  test("ivf: MANY hot cells at tightened caps — split, no drops, recall holds") {
    // 2000 vectors forced into 10 coarse cells with cellCap 25: every
    // cell is hot (≈200 members each, ×3 replicas ≈ 600 per cell) and
    // must two-level split rather than drop; driver/broadcast state
    // stays Σ k_sub seeds (≈ 2×600/25 × 10 cells), never a cell's full
    // membership
    val emb = clusteredEmb(2000, 16, 10, seed = 77)
    val centroids = IvfIndex.train(emb, k = 10)
    val cap = 25
    // at 400× tighter than the shipped cap the degenerate-cell skew
    // tail can exceed even the 4× oversplit headroom — the contract is
    // bounded residual drops, ACCOUNTED (cellDrops), never silent:
    // measured 9.5% at the old 2× oversplit, <1% at 4×
    val drops = IvfIndex.cellDrops(emb, centroids, cellCap = cap)
    assert(drops >= 0L && drops <= 6000L / 100,
      s"many-hot-cells residual drops must stay under 1% of replicated " +
        s"rows: $drops")
    val approx = IvfIndex.topK(emb, centroids, k = 5, cellCap = cap)
    val r = recallVsBrute(emb, approx, k = 5)
    assert(r >= 0.9, s"many-hot-cells ivf recall $r")
  }

  test("lsh recall >= 0.9 vs brute on clustered vectors (forced path)") {
    val emb = clusteredEmb(400, 32, 8, seed = 3)
    val approx = Similarity.lshCosineTopK(emb, k = 5,
      signBits = Similarity.signBitsFor(400), tables = Similarity.DefaultTables)
    val r = recallVsBrute(emb, approx, k = 5)
    assert(r >= 0.9, s"lsh recall $r")
  }

  test("broadcast candidate ranking identical to the join ranking") {
    // knownN inside the byte budget flips LSH/IVF candidate ranking to
    // the r08 broadcast-block partial-top-k kernel; it must reproduce
    // the join path's rows EXACTLY (ids, ranks, and cosine bits)
    val emb = clusteredEmb(400, 32, 8, seed = 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"neighbor_id", $"rank", $"cos")
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val lshJoin = Similarity.lshCosineTopK(emb, k = 5,
      signBits = 5, tables = 12)
    val lshBc = Similarity.lshCosineTopK(emb, k = 5,
      signBits = 5, tables = 12, knownN = 400L)
    assert(rows(lshBc) == rows(lshJoin))
    val cents = IvfIndex.train(emb, k = 8)
    val ivfJoin = IvfIndex.topK(emb, cents, k = 5)
    val ivfBc = IvfIndex.topK(emb, cents, k = 5, knownN = 400L)
    assert(rows(ivfBc) == rows(ivfJoin))
    // query-subset form too (the recall gate's exact shape)
    val q = emb.filter($"vec_id" % 4 === 0)
    val lshQJ = Similarity.lshCosineTopK(emb, k = 5, signBits = 5,
      tables = 12, queries = q)
    val lshQB = Similarity.lshCosineTopK(emb, k = 5, signBits = 5,
      tables = 12, queries = q, knownN = 400L)
    assert(rows(lshQB) == rows(lshQJ))
  }

  test("auto mode routes small corpora to the exact brute pass") {
    // below lshCrossover the shipped defaults ARE exact: identical rows
    // to bruteCosineTopK / exactCosineNearDups over the survivors
    assert(Similarity.lshCrossover() ==
      24L * Similarity.TargetBucketSize * (1 << Similarity.MinBits))
    val emb = clusteredEmb(150, 16, 5, seed = 11)
    val auto = Similarity.lshCosineTopK(emb, k = 4)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val brute = Similarity.bruteCosineTopK(emb, emb, 4)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(auto == brute)
    val autoDups = Similarity.cosineNearDups(emb, 0.8)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    val exactDups = Similarity.exactCosineNearDups(
      Similarity.exactEmbSurvivors(emb), 0.8)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(autoDups == exactDups)
    val autoIvf = IvfIndex.topKAuto(emb, 4)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(autoIvf == brute)
    // tables co-derivation: rises with bits, clamped
    assert(Similarity.tablesFor(9) == 18)
    assert(Similarity.tablesFor(12) == 34)
    assert(Similarity.tablesFor(16) == 48)
    assert(Similarity.tablesFor(4) == 12)
  }

  test("broadcast byte budget gates the brute route, not just row count") {
    // pure route decision: below the row crossover AND within the byte
    // budget → brute; wide vectors blow the budget first
    val cross = Similarity.lshCrossover()
    assert(Similarity.routesToBrute(1000, 64, cross, 256L << 20))
    assert(!Similarity.routesToBrute(cross, 64, cross, 256L << 20))
    // 20k rows × dim 4096 × 4 B = 320 MB > 256 MB although 20k < crossover
    assert(!Similarity.routesToBrute(20000, 4096, cross, 256L << 20))
    assert(Similarity.routesToBrute(20000, 64, cross, 256L << 20))

    // end-to-end: a corpus below the row crossover but above a (test)
    // byte budget must take the INDEXED path — its plan joins candidate
    // pairs; the brute kernel's plan has no Join at all
    val emb = clusteredEmb(300, 32, 6, seed = 5)
    val viaBrute = Similarity.lshCosineTopK(emb, k = 3)
    assert(!viaBrute.queryExecution.optimizedPlan.toString.contains("Join"))
    val viaIndex = Similarity.lshCosineTopK(emb, k = 3,
      broadcastBudget = 1024L)
    assert(viaIndex.queryExecution.optimizedPlan.toString.contains("Join"))
    assert(viaIndex.groupBy($"query_id").count()
      .agg(max($"count")).as[Long].collect()(0) <= 3)
    val ivfViaIndex = IvfIndex.topKAuto(emb, 3, broadcastBudget = 1024L)
    assert(ivfViaIndex.queryExecution.optimizedPlan.toString.contains("Join"))
    assert(ivfViaIndex.count() > 0)

    // a RAISED budget is honored end to end: the brute kernels assert
    // against the caller's budget, not the fixed default (a 1 GB budget
    // on a sub-crossover corpus must not trip the 256 MB default)
    val raised = Similarity.lshCosineTopK(emb, k = 3,
      broadcastBudget = 1L << 30)
    assert(!raised.queryExecution.optimizedPlan.toString.contains("Join"))
    assert(raised.count() > 0)

    // direct callers are bounded BEFORE the collect materializes the
    // set on the driver (the pre-collect aggregate guard)
    val e1 = intercept[IllegalArgumentException] {
      Similarity.bruteCosineTopK(emb, emb, 3, broadcastBudget = 64L)
        .count()
    }
    assert(e1.getMessage.contains("broadcast budget"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.exactCosineNearDups(emb, 0.5, broadcastBudget = 64L)
        .count()
    }
    assert(e2.getMessage.contains("broadcast budget"))
  }

  test("query-set ANN search restricts probes to the query subset") {
    val emb = clusteredEmb(400, 32, 8, seed = 23)
    val sample = emb.filter($"vec_id" % 4 === 0)
    val sampleIds = sample.select($"vec_id").as[Long].collect().toSet

    def check(approx: org.apache.spark.sql.DataFrame): Unit = {
      val got = approx.select($"query_id", $"neighbor_id")
        .as[(Long, Long)].collect().groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      assert(got.keySet.subsetOf(sampleIds), "answers only for queries")
      assert(got.size >= sampleIds.size / 2, "most queries answered")
      // pooled recall vs the brute answer on the same queries
      val brute = Similarity.bruteCosineTopK(emb, sample, 5)
        .select($"query_id", $"neighbor_id")
        .as[(Long, Long)].collect().groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      val hits = brute.iterator.map { case (q, exact) =>
        got.getOrElse(q, Set.empty).intersect(exact).size }.sum
      val total = brute.valuesIterator.map(_.size).sum
      assert(hits.toDouble / total >= 0.9,
        s"query-set recall ${hits.toDouble / total}")
    }
    check(Similarity.lshCosineTopK(emb, k = 5,
      signBits = Similarity.signBitsFor(400),
      tables = Similarity.DefaultTables, queries = sample))
    check(IvfIndex.topK(emb, IvfIndex.train(emb), k = 5, queries = sample))
  }

  test("sign bits scale with corpus size") {
    assert(Similarity.signBitsFor(500) == 4) // recall-first small-corpus floor
    assert(Similarity.signBitsFor(1000000) > 8)
    assert(Similarity.signBitsFor(1000000000000L) == 24)
    // expected bucket population stays bounded near the target
    val n = 100000000L
    val bits = Similarity.signBitsFor(n)
    assert(n / (1L << bits) <= Similarity.TargetBucketSize)
  }

  test("cached-plane sign buckets bit-identical to the per-row hash loop") {
    val r = new java.util.Random(41)
    for (dim <- Seq(3, 64, 129); (bits, tables) <- Seq((4, 24), (8, 12), (24, 12))) {
      val v = Seq.fill(dim)(r.nextGaussian().toFloat)
      val fast = SimilarityKernel.signBuckets(v, bits, tables)
      val ref = KernelReferences.signBuckets(v, bits, tables)
      assert(fast.sameElements(ref), s"dim=$dim bits=$bits tables=$tables")
    }
    assert(SimilarityKernel.signBuckets(Seq.empty[Float], 8, 3)
      .sameElements(KernelReferences.signBuckets(Seq.empty[Float], 8, 3)))
  }

  test("cosine near-dup recall: lsh-bucketed vs exact all-pairs") {
    val emb = clusteredEmb(300, 32, 6, seed = 19)
    val exact = Similarity.exactCosineNearDups(emb, 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val approx = Similarity.cosineNearDups(emb, 0.8,
      signBits = Similarity.signBitsFor(300)) // forced: machinery recall
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(approx.subsetOf(exact)) // bucketing only prunes, never invents
    val recall = approx.size.toDouble / exact.size
    assert(recall >= 0.5, s"near-dup recall $recall") // 8-bit sign LSH floor
  }

  test("minhash pair recall vs exact shingle jaccard") {
    // 20 docs from one base (all pairwise trigram-jaccard 0.9: only the
    // final token differs) + 10 unrelated docs
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val rows = (0L until 20L).map(i => (i, base + s" tail$i")) ++
      (100L until 110L).map(i =>
        (i, s"totally different doc number $i with its own words " +
          s"nothing shared here ${i * 31} ${i * 17} ${i * 13}"))
    val d = rows.toDF("doc_id", "text")
    // ground truth from the exact kernel itself (threshold 0.8)
    val exactPairs = (for {
      a <- rows; b <- rows if a._1 < b._1
      if MinHashKernel.exactJaccard(a._2, b._2, 3) >= 0.8
    } yield (a._1, b._1)).toSet
    assert(exactPairs.size == 190) // C(20,2), near-dup family only
    val found = Dedup.minhashNearDups(d, threshold = 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val recall = found.intersect(exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.9, s"minhash recall $recall")
    assert(found.forall(exactPairs.contains)) // exact-verified: no false pairs
  }

  test("active learning: per-cluster uncertainty sampling (reference semantics)") {
    // 3 well-separated clusters x 20 points; uncertainty rises with id
    val r = new java.util.Random(23)
    val pool = (0L until 60L).map { i =>
      val cluster = (i % 3).toInt
      val v = Array.tabulate(12)(d =>
        (if (d % 3 == cluster) 1.0 else 0.0) + r.nextGaussian() * 0.02)
      (i, v.map(_.toFloat).toSeq, i.toDouble / 60.0)
    }.toDF("doc_id", "embedding", "uncertainty")
    // n_samples=9, k=3 -> max(1, 9/3)=3 per cluster (active_learning.py:67)
    val sel = ActiveLearning.sampleByEmbedding(pool, "doc_id", "embedding",
      "uncertainty", nSamples = 9, nClusters = 3)
    val rows = sel.select($"cluster", $"doc_id").as[(Int, Long)].collect()
    assert(rows.length == 9)
    val byCluster = rows.groupBy(_._1)
    assert(byCluster.size == 3 && byCluster.values.forall(_.length == 3))
    // each cluster contributed its 3 HIGHEST-uncertainty members (ids
    // 51..59 are the most uncertain of each residue class)
    assert(rows.map(_._2).toSet == (51L until 60L).toSet, rows.mkString(","))
  }

  test("active learning: k > nSamples truncates in the reference's cluster-major order") {
    // 10 orthogonal clusters × 5 points, nSamples=4 < k=10: the
    // reference's selected_indices[:n_samples] slice keeps cluster
    // 0..3's single top picks (cluster-major append order), NOT the 4
    // globally most-uncertain rows
    val pool = (0L until 50L).map { i =>
      val c = (i % 10).toInt
      (i, Seq.tabulate(10)(d => if (d == c) 1.0f else 0.0f), i.toDouble)
    }.toDF("doc_id", "embedding", "uncertainty")
    val sel = ActiveLearning.sampleByEmbedding(pool, "doc_id", "embedding",
      "uncertainty", nSamples = 4, nClusters = 10)
    val rows = sel.select($"cluster", $"doc_id").as[(Int, Long)].collect()
    assert(rows.length == 4)
    // seeds are the 10 lowest vec_ids (one-hot 0..9) so cluster c = i%10;
    // top pick of cluster c is id 40+c; slice keeps clusters 0..3
    assert(rows.map(_._2).toSet == Set(40L, 41L, 42L, 43L), rows.mkString(","))
  }

  test("active learning: exact quantile twin is deterministic") {
    val pool = (0L until 40L).map(i => (i, i % 7, (i * 13 % 40) / 40.0))
      .toDF("doc_id", "feat", "uncertainty")
    val a = ActiveLearning.sampleByQuantileExact(pool, "doc_id", "feat",
      "uncertainty", nClusters = 4, perCluster = 2)
      .select($"cluster", $"doc_id").as[(Int, Long)].collect().sorted
    val b = ActiveLearning.sampleByQuantileExact(pool.repartition(16), "doc_id",
      "feat", "uncertainty", nClusters = 4, perCluster = 2)
      .select($"cluster", $"doc_id").as[(Int, Long)].collect().sorted
    assert(a.length == 8 && a.sameElements(b))
  }

  test("active learning: cut-point scale path has no single-task exchange") {
    val pool = (0L until 400L).map(i => (i, (i % 97).toDouble, (i * 13 % 40) / 40.0))
      .toDF("doc_id", "feat", "uncertainty")
    val out = ActiveLearning.sampleByQuantile(pool, "doc_id", "feat",
      "uncertainty", nClusters = 4, perCluster = 3)
    // the exact twin's global-sort ntile funnels all rows through one
    // task; the cut-point variant must not
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan.take(600))
    val rows = out.select($"cluster", $"doc_id").as[(Int, Long)].collect()
    assert(rows.length == 12) // 4 clusters x 3
    assert(rows.map(_._1).toSet.size == 4)
    // top-up + truncation on the embedding variant: k > nSamples still
    // returns exactly nSamples
    val pool2 = (0L until 30L).map { i =>
      (i, Seq.tabulate(8)(d => (i % 5 + d).toFloat), i.toDouble)
    }.toDF("doc_id", "embedding", "uncertainty")
    val sel = ActiveLearning.sampleByEmbedding(pool2, "doc_id", "embedding",
      "uncertainty", nSamples = 7, nClusters = 5)
    assert(sel.count() == 7)
  }

  test("drift verdict fires on a shifted type distribution") {
    val base = ((1 to 80).map(i => (s"d$i", "invoice", 100L)) ++
      (1 to 20).map(i => (s"e$i", "receipt", 200L)))
      .toDF("id", "doc_type", "n_chars")
    val cur = ((1 to 50).map(i => (s"f$i", "invoice", 100L)) ++
      (1 to 50).map(i => (s"g$i", "receipt", 210L)))
      .toDF("id", "doc_type", "n_chars")
    val out = ValidationGate.drift(cur, base, "doc_type", "n_chars")
      .orderBy($"gtype").collect()
    assert(out.length == 2)
    val inv = out(0)
    assert(inv.getAs[String]("gtype") == "invoice")
    assert(inv.getAs[Long]("share_delta_ppm") == -300000L)
    assert(inv.getAs[Boolean]("drifted"))
    val rec = out(1)
    assert(rec.getAs[Long]("mean_delta_e2") == 1000L) // 210 - 200 chars
    // identical batches -> no drift
    val same = ValidationGate.drift(base, base, "doc_type", "n_chars")
    assert(same.filter($"drifted").count() == 0)
  }

  test("learning store surrogate keys stable across partition layouts") {
    val results = graft.pipeline.ExtractPipeline.extract(
      graft.pipeline.ExtractPipeline.pages(spark, 120, 2), 2).toDF()
    def best(parts: Int) = LearningStore.bestPatterns(
      LearningStore.fromExtraction(results.repartition(parts)))
      .select($"doc_type", $"accuracy_score", $"pattern_id")
      .as[(String, Double, Long)].collect().sortBy(_._1)
    assert(best(2).sameElements(best(16)))
  }

  test("learning store retention keeps the NEWEST patterns by warc_ts") {
    // reference semantics (learning_engine.py:135-136): newest-N per
    // type by real ingestion time — must hold under a shuffled row
    // order, not just the arrival order of a single partition
    val results = graft.pipeline.ExtractPipeline.extract(
      graft.pipeline.ExtractPipeline.pages(spark, 200, 4), 4).toDF()
    val pats = LearningStore.fromPipeline(results.repartition(16))
    val all = pats.select($"doc_type", $"created_at", $"pattern_id")
      .as[(String, Long, Long)].collect()
    val kept = LearningStore.applyRetention(pats, keep = 10)
      .select($"doc_type", $"created_at", $"pattern_id")
      .as[(String, Long, Long)].collect()
    val expect = all.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      rows.sortBy(r => (-r._2, r._3)).take(10).toSeq
    }.toSet
    assert(kept.toSet == expect)
    // created_at really is the crawl time (seconds), not a hash order
    assert(all.map(_._2).distinct.length == all.length)
    assert(all.map(_._2).min > 1000000000L) // epoch seconds, not hashes
  }

  test("lineage existence check resolves file:// URIs via Hadoop FS") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lin")
    assert(graft.pipeline.ExtractPipeline.lineageExists(
      spark, "file://" + dir.toString))
    assert(!graft.pipeline.ExtractPipeline.lineageExists(
      spark, "file://" + dir.toString + "/nope"))
    assert(!graft.pipeline.ExtractPipeline.lineageExists(
      spark, dir.toString + "/nope"))
  }

  test("primitive cosine UDF is bit-identical to the HOF Column cosine") {
    val r = new java.util.Random(99)
    val emb = (0L until 60L).map { i =>
      (i, Seq.fill(64)((r.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val a = emb.select($"vec_id", $"embedding".as("ea"))
    val b = emb.select($"vec_id".as("vb"), $"embedding".as("eb"))
    val pairs = a.join(broadcast(b), $"vec_id" < $"vb")
    val viaUdf = pairs.select(
      graft.sql.GraftFunctions.graft_cosine($"ea", $"eb").as("c"))
      .as[Double].collect()
    val viaHof = pairs.select(
      KernelReferences.cosine($"ea", $"eb").as("c")).as[Double].collect()
    assert(viaUdf.length == viaHof.length)
    viaUdf.zip(viaHof).foreach { case (u, h) =>
      assert(java.lang.Double.doubleToLongBits(u) ==
        java.lang.Double.doubleToLongBits(h), s"$u vs $h")
    }
  }

  test("sorted overlap == array_intersect size on distinct sorted arrays") {
    val r = new java.util.Random(17)
    val vocab = Array("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh", "zz")
    val rows = (0L until 40L).map { i =>
      val set = (0 until r.nextInt(9)).map(_ => vocab(r.nextInt(vocab.length)))
        .distinct.sorted
      (i, set)
    }.toDF("id", "arr")
    val a = rows.select($"id".as("ia"), $"arr".as("aa"))
    val b = rows.select($"id".as("ib"), $"arr".as("ab"))
    val pairs = a.join(broadcast(b), $"ia" < $"ib")
    val out = pairs.select(
      graft.sql.GraftFunctions.graft_sorted_overlap($"aa", $"ab").as("fast"),
      size(array_intersect($"aa", $"ab")).as("ref"))
      .as[(Int, Int)].collect()
    assert(out.nonEmpty && out.forall(p => p._1 == p._2))
  }

  test("brand rules broadcast join: longest prefix wins, dups kept") {
    val nums = Seq(
      (1L, "4532000000000000"), // Visa (prefix 4532 > 4)
      (2L, "5400000000000000"), // 54: Diners USA&Canada beats MasterCard (tie len, brand asc)
      (3L, "370000000000000"),  // Amex 15
      (4L, "9999000000000000"), // unknown
      (5L, "4532000000000000")  // duplicate number, distinct row
    ).toDF("id", "number")
    val out = BrandRules.classify(nums, "number", "id")
      .select($"id", $"brand").as[(Long, String)].collect().toMap
    assert(out.size == 5)
    assert(out(1L) == "Visa" && out(5L) == "Visa")
    assert(out(2L) == "Diners Club - USA & Canada")
    assert(out(3L) == "American Express")
    assert(out(4L) == "unknown")
    // the plan actually broadcasts the dimension side
    val plan = BrandRules.classify(nums, "number", "id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), plan.take(400))
  }

  test("charset sniffing decodes latin-1 pages") {
    val html = "<html><head><meta charset=\"iso-8859-1\"></head>" +
      "<body><p>caf\u00e9</p></body></html>"
    val bytes = html.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val seg = graft.html.BlockSegmenter.segment(graft.html.HtmlTokenizer.parse(bytes))
    assert(seg.blocks.exists(_.text.contains("café")))
    // same bytes without the meta: é byte is invalid utf-8 → dropped
    val html2 = "<html><body><p>caf\u00e9</p></body></html>"
    val bytes2 = html2.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val seg2 = graft.html.BlockSegmenter.segment(graft.html.HtmlTokenizer.parse(bytes2))
    assert(seg2.blocks.exists(_.text.contains("caf")))
  }

  test("payload normalization decodes base64 and data-uris") {
    val df = Seq(
      java.util.Base64.getEncoder.encodeToString("abc".getBytes),
      "data:text/html;base64," +
        java.util.Base64.getEncoder.encodeToString("xyz".getBytes),
      "!!!not-base64!!!"
    ).toDF("payload")
    val out = graft.sources.Sources.normalizePayload(df, "payload")
      .select("payload_bytes").as[Array[Byte]].collect()
    assert(new String(out(0)) == "abc")
    assert(new String(out(1)) == "xyz")
    assert(out(2) == null)
  }
}
