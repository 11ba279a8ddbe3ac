package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.PageRow
import graft.ops.{Dedup, DupClusters, ParagraphDedup, Repetition, TextAnalysis}
import graft.pipeline.{ExtractPipeline, Extractor}
import graft.sources.{Sources, Warc}
import graft.sql.GraftFunctions.graft_quality_e6

/** Settings every workload shares, fixed by `env.json`; `pins` are the
  * seed-invariant results pinned in `expected.json` for this size. */
final case class Env(cores: Int, buckets: Int, docs: Long, seed: Long,
    dir: Path, spark: SparkSession, tracer: Tracer, pins: Map[String, String])

/** One workload: generate its input, run one timed iteration, check the
  * committed output, and measure its layers after the timed phase. */
trait Workload {
  def env: Env
  /** Input documents one iteration completes. */
  def docs: Long = env.docs
  def input: Path = env.dir.resolve("input")
  def prepare(): Unit
  /** The timed work: from the first call into the program until the
    * final output is committed under `out`. Returns problems found by
    * the cheap per-iteration checks. */
  def iterate(out: Path, runId: String): Seq[String]
  /** Bytes the iteration stored as output. */
  def outputBytes(out: Path): Long
  /** Full output check of one committed iteration. */
  def check(out: Path): Seq[String]
  /** Per-layer numbers measured once, after the timed phase (traced
    * runs only); `problems` collects failed checks. */
  def layers(out: Path, problems: mutable.Buffer[String]): Map[String, Double]
}

object Workloads {

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def sha256(parts: String*): Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes(UTF_8)); md.update(0.toByte) }
    md.digest()
  }

  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** Canonical text of a result value (maps sorted by key). */
  def canon(v: Any): String = v match {
    case m: Map[_, _] => m.toSeq.map { case (k, x) => s"$k=$x" }.sorted.mkString(",")
    case x => x.toString
  }

  /** Results that differ from the ones pinned for this workload and size. */
  def unpinned(pins: Map[String, String], values: Map[String, Any]): Seq[String] =
    pins.toSeq.sorted.collect {
      case (k, pin) if !values.get(k).map(canon).contains(pin) =>
        s"$k: ${values.get(k).map(canon).getOrElse("not measured")}, pinned $pin"
    }

  /** Digest of rows sorted by key: sha256 over the per-row digests. */
  def sortedDigest(rows: Seq[(String, Array[Byte])]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.sortBy(_._1).foreach { case (_, d) => md.update(d) }
    hex(md.digest())
  }

  /** Run `f(i)` for i in [0, n) on `threads` plain threads (no Spark). */
  def parallel(n: Long, threads: Int)(f: Long => Unit): Unit = {
    val next = new AtomicLong(0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until threads).map { _ =>
      val t = new Thread(() => {
        try {
          var i = next.getAndIncrement()
          while (i < n) { f(i); i = next.getAndIncrement() }
        } catch { case e: Throwable => errors.add(e) }
      })
      t.start(); t
    }
    ts.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
  }

  def apply(name: String, env: Env): Workload = name match {
    case "pages_html" => new PagesHtml(env)
    case "warc_pdf" => new WarcPdf(env)
    case "curate_dedup" => new CurateDedup(env)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

import Workloads._

/** Benchmark-side commit protocol: delegates to the parquet protocol and
  * records a span around each of its calls. */
final class TimedProtocol(inner: ExtractPipeline.ParquetCommitProtocol, t: Tracer)
    extends ExtractPipeline.CommitProtocol {
  def committedBuckets(spark: SparkSession, runId: String): Set[Int] =
    t.span("CommitProtocol.committedBuckets")(inner.committedBuckets(spark, runId))
  def writeResults(results: DataFrame): Unit =
    t.span("CommitProtocol.writeResults")(inner.writeResults(results))
  def appendLineage(lineage: DataFrame): Unit =
    t.span("CommitProtocol.appendLineage")(inner.appendLineage(lineage))
  override def trustAccumulatorLineage: Boolean = inner.trustAccumulatorLineage
  override def lineageMappingVersions(spark: SparkSession, runId: String): Set[String] =
    inner.lineageMappingVersions(spark, runId)
  override def readBackResults(spark: SparkSession): Option[DataFrame] =
    inner.readBackResults(spark)
}

/** Extraction workloads: `ExtractPipeline.run` with wide output and the
  * parquet commit protocol, checked against a Spark-free reference pass
  * of `Extractor.extract` over the same rows. */
abstract class ExtractWorkload(val env: Env) extends Workload {
  protected def spark: SparkSession = env.spark
  protected def t: Tracer = env.tracer

  /** Input row `i` exactly as the pipeline's extraction map sees it. */
  def row(i: Long): PageRow
  /** The source dataset, built from the input files. */
  def source(): org.apache.spark.sql.Dataset[PageRow]
  /** Work after the pipeline's commit (WET output); returns problems. */
  def after(out: Path): Seq[String] = Nil

  protected var refHist: Map[String, Long] = Map.empty
  protected var refDigest: String = ""

  /** Reference pass: per-row digest of (url, status, text), sorted by url. */
  protected def reference(): Unit = {
    val n = docs.toInt
    val urls = new Array[String](n)
    val dig = new Array[Array[Byte]](n)
    val st = new Array[String](n)
    parallel(docs, env.cores) { i =>
      val r = Extractor.extract(row(i))
      urls(i.toInt) = r.url
      st(i.toInt) = r.status
      dig(i.toInt) = sha256(r.url, r.status, r.text)
    }
    refHist = st.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    refDigest = sortedDigest(urls.toSeq.zip(dig.toSeq))
  }

  def iterate(out: Path, runId: String): Seq[String] = {
    val proto = new TimedProtocol(new ExtractPipeline.ParquetCommitProtocol(
      out.resolve("results").toString, out.resolve("lineage").toString), t)
    val pages = t.span("sources.open")(source())
    val s = t.span("ExtractPipeline.run")(ExtractPipeline.run(spark, pages, proto,
      runId, env.buckets, ExtractPipeline.DefaultSalt, narrowOutput = false))
    val p = mutable.ArrayBuffer.empty[String]
    if (s.docsIn != docs) p += s"lineage docs_in ${s.docsIn} != $docs"
    if (s.bucketsSkipped != 0) p += s"${s.bucketsSkipped} buckets skipped on a fresh run"
    p ++= after(out)
    p.toSeq
  }

  def outputBytes(out: Path): Long = dirBytes(out)

  def check(out: Path): Seq[String] = {
    val p = mutable.ArrayBuffer.empty[String]
    val res = spark.read.parquet(out.resolve("results").toString)
    val rows = res.select(col("url"), col("status"), col("text"),
      col("errors")).collect()
    if (rows.length != docs) p += s"output rows ${rows.length} != $docs"
    val distinct = rows.iterator.map(_.getString(0)).toSet.size
    if (distinct != docs) p += s"distinct urls $distinct != $docs"
    val hist = rows.groupBy(_.getString(1)).map { case (k, v) => k -> v.length.toLong }
    if (hist != refHist) p += s"status histogram $hist != reference $refHist"
    val digest = sortedDigest(rows.toSeq.map(r =>
      r.getString(0) -> sha256(r.getString(0), r.getString(1), r.getString(2))))
    if (digest != refDigest) p += s"output digest $digest != reference $refDigest"
    val failedBy = rows.filter(_.getString(1) == "FAILED")
      .flatMap(_.getSeq[String](3)).groupBy(identity)
      .map { case (code, v) => s"failed.$code" -> v.length.toLong }
    p ++= unpinned(env.pins, failedBy ++ Map("rows" -> rows.length.toLong,
      "distinct_urls" -> distinct.toLong))
    val lin = spark.read.parquet(out.resolve("lineage").toString)
      .agg(sum(col("docs_in")), sum(col("docs_out"))).head()
    val notFailed = rows.count(_.getString(1) != "FAILED")
    if (lin.getLong(0) != docs) p += s"lineage docs_in ${lin.getLong(0)} != $docs"
    if (lin.getLong(1) != notFailed) p += s"lineage docs_out ${lin.getLong(1)} != $notFailed"
    p.toSeq
  }

  /** Metrics shared by both extraction workloads. */
  protected def extractLayers(out: Path): Map[String, Double] = {
    val res = spark.read.parquet(out.resolve("results").toString)
    val esc = res.select(
      sum(when(array_contains(col("fallback_chain"), "layer1:density_classifier"), 1L)
        .otherwise(0L)),
      sum(when(size(col("fallback_chain")) > 1, 1L).otherwise(0L))).head()
    val lin = spark.read.parquet(out.resolve("lineage").toString)
      .agg(sum(col("docs_in")), sum(col("docs_out"))).head()
    val sample = (0L until docs).iterator.filter(Replay.sampled).map(row)
    Replay.run(sample) ++ Map(
      "html.escalated_ratio" -> (if (esc.getLong(0) == 0) 0.0
        else esc.getLong(1).toDouble / esc.getLong(0)),
      "pipeline.docs_out_ratio" -> lin.getLong(1).toDouble / lin.getLong(0),
      "sources.input_mb" -> dirBytes(input) / 1048576.0)
  }
}

/** `pages_html`: a pages parquet table in the north-rule shape. */
final class PagesHtml(e: Env) extends ExtractWorkload(e) {
  def row(i: Long): PageRow =
    PageRow(Gen.url(i), Gen.ts(i), Gen.pageHtml(env.seed, i), "", Gen.Vocab.Langs((i % 5).toInt))

  def prepare(): Unit = {
    val spark = env.spark
    import spark.implicits._
    val seed = env.seed
    spark.range(0L, docs, 1L, env.buckets)
      .map(i => Gen.pageRow(seed, i))
      .write.parquet(input.toString)
    reference()
  }

  def source(): org.apache.spark.sql.Dataset[PageRow] =
    Sources.pagesTable(env.spark, input.toString)

  def layers(out: Path, problems: mutable.Buffer[String]): Map[String, Double] =
    extractLayers(out)
}

/** `warc_pdf`: gzip WARC files, then the pipeline, then WET + CDX. */
final class WarcPdf(e: Env) extends ExtractWorkload(e) {
  val files: Int = 2 * env.cores

  def row(i: Long): PageRow =
    PageRow(Gen.warcUrl(i), Gen.ts(i), Gen.warcPayload(env.seed, i)._1, "", "")

  def prepare(): Unit = {
    Files.createDirectories(input)
    parallel(files.toLong, env.cores) { f =>
      Gen.writeWarcFile(input.resolve(f"archive-$f%03d.warc.gz"), env.seed,
        f.toInt, files, docs)
    }
    reference()
  }

  def source(): org.apache.spark.sql.Dataset[PageRow] =
    Warc.warcFiles(env.spark, input.toString + "/*.warc.gz")

  override def after(out: Path): Seq[String] = {
    val written = t.span("Warc.writeWet") {
      Warc.writeWet(spark.read.parquet(out.resolve("results").toString)
        .select(col("url"), col("warc_ts"), col("text")),
        out.resolve("wet").toString, cdx = true)
    }
    val recs = written.map(_._2).sum
    val cdx = Option(out.resolve("wet").toFile.listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(".cdx.gz"))
    Seq(s"WET records $recs != $docs").filter(_ => recs != docs) ++
      Seq(s"CDX sidecars $cdx != WET files ${written.size}").filter(_ => cdx != written.size)
  }

  def layers(out: Path, problems: mutable.Buffer[String]): Map[String, Double] = {
    val sums = Warc.warcFileSummaries(spark, input.toString + "/*.warc.gz")
      .agg(sum(col("records")), sum(col("corrupt_members"))).head()
    val planted = Gen.CorruptPerFile.toLong * files
    if (sums.getLong(1) != planted)
      problems += s"corrupt members ${sums.getLong(1)} != planted $planted"
    val one = input.resolve("archive-000.warc.gz")
    val (n, ns) = {
      val in = new java.io.BufferedInputStream(Files.newInputStream(one), 1 << 16)
      try {
        val t0 = System.nanoTime()
        var k = 0L
        Warc.records(in).foreach(_ => k += 1)
        (k, System.nanoTime() - t0)
      } finally in.close()
    }
    extractLayers(out) ++ Map(
      "sources.records_in" -> sums.getLong(0).toDouble,
      "sources.corrupt_members" -> sums.getLong(1).toDouble,
      "sources.decode_us" -> ns / 1000.0 / math.max(1L, n),
      "sources.wet_mb" -> dirBytes(out.resolve("wet")) / 1048576.0)
  }
}

/** `curate_dedup`: a text corpus through the curation operators. Each
  * operator writes its result as parquet, so its Spark jobs are its own
  * and the next operator reads a materialized input. */
final class CurateDedup(val env: Env) extends Workload {
  private def spark: SparkSession = env.spark
  private def t: Tracer = env.tracer
  private var expected: Map[String, Any] = Map.empty

  val QualityMin = 650000L
  val Top2Max = 120000L

  def prepare(): Unit = {
    val spark = env.spark
    import spark.implicits._
    val seed = env.seed
    spark.range(0L, docs, 1L, env.buckets)
      .map(i => (i, Gen.Corpus.text(seed, i)))
      .toDF("doc_id", "text")
      .write.parquet(input.toString)
    expected = Oracle.curate(seed, docs, env.cores)
  }

  private def read(p: Path): DataFrame = spark.read.parquet(p.toString)

  def iterate(out: Path, runId: String): Seq[String] = {
    val st = out.resolve("stages")
    t.span("ops.gates") {
      TextAnalysis.withLanguageId(read(input))
        .withColumn("sig", Repetition.signalsStruct(col("text"), dupN = 2))
        .filter(graft_quality_e6(col("text")) >= QualityMin &&
          col("sig._1") <= Top2Max)
        .select(col("doc_id"), col("text"), col("lang_pred"),
          col("sig._3").as("n_words"))
        .write.parquet(st.resolve("gated").toString)
    }
    t.span("ops.exact") {
      Dedup.exactSurvivors(read(st.resolve("gated")))
        .write.parquet(st.resolve("exact").toString)
    }
    t.span("ops.minhash") {
      Dedup.minhashNearDups(read(st.resolve("exact")).select(col("doc_id"), col("text")),
        threshold = 0.8, exactPrepass = false)
        .write.parquet(out.resolve("pairs").toString)
    }
    t.span("ops.clusters") {
      val exact = read(st.resolve("exact"))
      val labels = DupClusters.connectedComponents(read(out.resolve("pairs")))
      val keep = DupClusters.electCanonical(
        exact.select(col("doc_id"), col("n_words").as("quality")), labels)
      val drop = labels.join(keep, Seq("component"))
        .filter(col("id") =!= col("keep_id")).select(col("id").as("doc_id"))
      exact.join(drop, Seq("doc_id"), "left_anti")
        .write.parquet(st.resolve("unique").toString)
    }
    t.span("ops.paragraph") {
      ParagraphDedup.dedup(read(st.resolve("unique")), "doc_id", "text")
        .write.parquet(st.resolve("paragraph").toString)
    }
    t.span("ops.write") {
      read(st.resolve("paragraph"))
        .join(read(st.resolve("unique")).select(col("doc_id"), col("lang_pred")), Seq("doc_id"))
        .write.parquet(out.resolve("survivors").toString)
    }
    Nil
  }

  def outputBytes(out: Path): Long =
    dirBytes(out.resolve("pairs")) + dirBytes(out.resolve("survivors"))

  def check(out: Path): Seq[String] = {
    val st = out.resolve("stages")
    val got = mutable.LinkedHashMap.empty[String, Any]
    got("s1_gated") = read(st.resolve("gated")).count()
    got("s2_exact") = read(st.resolve("exact")).count()
    val pairs = read(out.resolve("pairs")).select(col("a"), col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    got("pairs") = pairs.length.toLong
    got("pairs_digest") = Oracle.pairDigest(pairs.toSeq)
    val surv = read(out.resolve("survivors")).select(col("doc_id"), col("text"),
      col("lang_pred"), col("paras_total"), col("paras_kept")).collect()
    got("s3_unique") = surv.length.toLong
    got("paras_total") = surv.map(_.getLong(3)).sum
    got("paras_kept") = surv.map(_.getLong(4)).sum
    got("survivors_digest") = sortedDigest(surv.toSeq.map(r =>
      f"${r.getLong(0)}%012d" -> sha256(r.getLong(0).toString, r.getString(1))))
    got("langs") = surv.groupBy(_.getString(2)).map { case (k, v) => k -> v.length.toLong }
    got.toSeq.collect {
      case (k, v) if expected.get(k) != Some(v) =>
        s"$k: got $v, expected ${expected.getOrElse(k, "?")}"
    } ++ unpinned(env.pins, expected)
  }

  def layers(out: Path, problems: mutable.Buffer[String]): Map[String, Double] = {
    val exact = read(out.resolve("stages").resolve("exact")).select(col("doc_id"), col("text"))
    val cands = Dedup.minhashCandidates(exact).count()
    val drops = Dedup.minhashBucketDrops(exact)
    val pairs = read(out.resolve("pairs")).count()
    Map("ops.minhash_candidates" -> cands.toDouble,
      "ops.minhash_pairs" -> pairs.toDouble,
      "ops.minhash_yield" -> (if (cands == 0) 0.0 else pairs.toDouble / cands),
      "ops.bucket_drops" -> drops.toDouble,
      "ops.survivors" -> read(out.resolve("survivors")).count().toDouble,
      "sources.input_mb" -> dirBytes(input) / 1048576.0)
  }
}

/** Expected curation results, computed from the generator's own layout
  * with plain Scala: the gates reject exactly the planted low-quality
  * docs, exact dedup keeps the lowest id per text, near-dup pairs are
  * the cluster pairs with word-3-shingle Jaccard ≥ 0.8, each component
  * keeps its lowest id (equal word counts tie), and paragraph dedup keeps
  * the first occurrence of each paragraph in id order. */
object Oracle {
  def shingles(text: String): Set[String] = {
    val ws = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    ws.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val x = shingles(a); val y = shingles(b)
    val inter = x.count(y.contains)
    inter.toDouble / (x.size + y.size - inter)
  }

  def pairDigest(pairs: Seq[(Long, Long)]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    pairs.sorted.foreach { case (a, b) => md.update(s"$a,$b;".getBytes(UTF_8)) }
    Workloads.hex(md.digest())
  }

  def curate(seed: Long, n: Long, threads: Int): Map[String, Any] = {
    val texts = new Array[String](n.toInt)
    Workloads.parallel(n, threads)(i => texts(i.toInt) = Gen.Corpus.text(seed, i))
    def k(i: Long): Int = (i % 100).toInt
    val gated = (0L until n).filter(k(_) >= 5)
    val firstId = mutable.HashMap.empty[String, Long]
    gated.foreach(i => if (!firstId.contains(texts(i.toInt))) firstId(texts(i.toInt)) = i)
    val exact = gated.filter(i => firstId(texts(i.toInt)) == i)
    val exactSet = exact.toSet
    // near-dup pairs inside the planted clusters
    val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
    (0L until (n + 99) / 100).foreach { b =>
      Gen.Corpus.Clusters.foreach { case (start, size) =>
        val ids = (start until start + size).map(b * 100 + _).filter(i => i < n && exactSet(i))
        for (x <- ids; y <- ids if x < y) {
          val j = jaccard(texts(x.toInt), texts(y.toInt))
          require(j >= 0.86 || j <= 0.77,
            f"cluster pair ($x, $y) has Jaccard $j%.3f too close to the 0.8 threshold")
          if (j >= 0.8) pairs += ((x, y))
        }
      }
    }
    // components (union-find); each keeps its lowest id
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap { case (a, b) => Seq(a, b) }.toSet
    val dropped = members.filter(m => find(m) != m)
    val unique = exact.filterNot(dropped)
    // paragraph dedup in id order
    val seen = mutable.HashSet.empty[String]
    var total = 0L; var kept = 0L
    val digests = unique.map { i =>
      val ps = texts(i.toInt).split("\n\n+", -1).filter(_.trim.nonEmpty)
      val keep = ps.filter(seen.add)
      total += ps.length; kept += keep.length
      f"$i%012d" -> Workloads.sha256(i.toString, keep.mkString("\n\n"))
    }
    val langs = unique.groupBy(i => Gen.Corpus.lang(k(i))).map { case (l, v) => l -> v.size.toLong }
    Map("s1_gated" -> gated.size.toLong, "s2_exact" -> exact.size.toLong,
      "pairs" -> pairs.size.toLong, "pairs_digest" -> pairDigest(pairs.toSeq),
      "s3_unique" -> unique.size.toLong, "paras_total" -> total, "paras_kept" -> kept,
      "survivors_digest" -> Workloads.sortedDigest(digests), "langs" -> langs)
  }
}
