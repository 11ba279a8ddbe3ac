package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.Deadline

/** The allocation-free curation kernels against their string-building
  * references ([[KernelReferences]]): ≥ 10k generated texts each, under
  * a wall deadline. The generator mixes the inputs each kernel's
  * tokenization turns on: single spaces and runs of them (empty
  * tokens), the other ASCII `\s` chars (\t, VT, \f, \r), NBSP, `\n` and
  * `\n\n+` runs, fragments of only spaces or only newlines, astral
  * letters with and without case mappings, casing that changes length
  * or is locale-sensitive (İ, ß, ǅ, Σ), combining marks, and marker
  * words in mixed case, drawn from a small vocabulary so n-grams repeat. */
class KernelParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-kernel-parity-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Cases = 10000

  private val piece: Gen[String] = Gen.frequency(
    10 -> Gen.oneOf("the", "THE", "The", "is", "IS", "que", "für", "FÜR",
      "não", "NÃO", "werden", "Werden", "das", "para", "spam", "ham", "a",
      "x1", "ıs", "thıs", "this", "Straße", "ǅemal", "ΣΟΦΙΑ"),
    6 -> Gen.const(" "),
    2 -> Gen.oneOf("  ", "   ", "      "),
    2 -> Gen.oneOf("\t", "\u000b", "\f", "\r", "\r\n", " \t "),
    3 -> Gen.oneOf("\n", "\n\n", "\n\n\n", "\n\n\n\n\n", "\n \n",
      "\n\n   \n\n", "\n\n\n\n\n\n", " \n\n ", "\n\n \n"),
    2 -> Gen.oneOf(" ", "𐐀", "𐐨", "𝐀",
      "😀", "İ", "ß", "ǅ", "Σ", "ς", "ü", "ã", "̇", "驚",
      " ", "　"),
    1 -> Gen.oneOf(".", ",", "-", "1", "42", "'", "é"))

  private val textGen: Gen[String] =
    Gen.chooseNum(0, 80).flatMap(n => Gen.listOfN(n, piece)).map(_.mkString)

  private def check(prop: Prop): Unit = Deadline(120) {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(Cases).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
    assert(res.succeeded >= Cases)
  }

  /** The same texts for the Spark-side checks, fixed by seed. */
  private lazy val texts: IndexedSeq[String] = {
    val p = Gen.Parameters.default
    (0 until Cases).map(i => textGen.pureApply(p, Seed(i.toLong)))
  }

  test("repetition kernel == string-map reference (10k texts, dupN 2/3/5)") {
    val kernel = new RepetitionKernel
    check(Prop.forAll(textGen, Gen.oneOf(2, 3, 5)) { (text, dupN) =>
      val u = UTF8String.fromString(text)
      val r = kernel.signals(u, dupN)
      // the reference sees the text the way a string UDF did: decoded
      // from the row's UTF-8 (a lone surrogate was encoded as '?')
      val ref = KernelReferences.repetitionSignals(u.toString, dupN)
      (r.getLong(0), r.getLong(1), r.getLong(2)) == ref
    })
  }

  test("repetition kernel: null, empty and malformed UTF-8") {
    val kernel = new RepetitionKernel
    def sig(u: UTF8String, dupN: Int) = {
      val r = kernel.signals(u, dupN); (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    assert(sig(null, 2) == (0L, 0L, 1L))
    assert(sig(UTF8String.EMPTY_UTF8, 5) == (0L, 0L, 1L))
    val rnd = new java.util.Random(7)
    for (_ <- 0 until 2000) {
      val b = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(b)
      // spaces and repeats so grams form and collide
      for (i <- b.indices if rnd.nextInt(3) == 0) b(i) = ' '
      val u = UTF8String.fromBytes(b ++ b)
      assert(sig(u, 2) == KernelReferences.repetitionSignals(u.toString, 2))
    }
  }

  test("language id == regex-split reference (10k texts)") {
    check(Prop.forAll(textGen)(t => LangIdKernel.detect(t) == KernelReferences.detect(t)))
    assert(LangIdKernel.detect(null) == "und")
  }

  test("shingle hashes == regex-split reference (10k texts, n 1..4)") {
    check(Prop.forAll(textGen, Gen.chooseNum(1, 4)) { (t, n) =>
      MinHashKernel.shingleHashes(t, n).sameElements(KernelReferences.shingleHashes(t, n))
    })
    assert(MinHashKernel.shingleHashes(null, 3).isEmpty)
  }

  test("exact Jaccard == boxed-set reference (10k pairs)") {
    // the second text often shares the first's words, so overlaps occur
    val pair = for {
      a <- textGen
      b <- Gen.oneOf(textGen, Gen.const(a), textGen.map(a + " " + _),
        textGen.map(_ + " " + a))
    } yield (a, b)
    check(Prop.forAll(pair, Gen.chooseNum(1, 3)) { case ((a, b), n) =>
      MinHashKernel.exactJaccard(a, b, n) == KernelReferences.exactJaccard(a, b, n)
    })
  }

  test("native paragraph split == split + higher-order filter (10k texts + malformed UTF-8)") {
    val s = spark
    import s.implicits._
    val rnd = new java.util.Random(11)
    val malformed = (0 until 500).map { _ =>
      val b = new Array[Byte](rnd.nextInt(48))
      rnd.nextBytes(b)
      for (i <- b.indices if rnd.nextInt(4) == 0) b(i) = if (rnd.nextBoolean()) '\n' else ' '
      b
    }
    val rows = texts.map(_.getBytes(UTF_8)) ++ malformed
    val docs = rows.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("doc_id", "raw")
      .select(col("doc_id"), col("raw").cast("string").as("text"))
      .union(Seq((-1L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("para_idx"), col("para").cast("binary"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2).toSeq))
        .sortBy(r => (r._1, r._2)).toSeq
    Deadline(180) {
      val got = collect(ParagraphDedup.paragraphs(docs, "doc_id", "text"))
      val ref = collect(KernelReferences.paragraphs(docs, "doc_id", "text"))
      assert(got.length == ref.length)
      assert(got == ref)
      assert(got.nonEmpty && !got.exists(_._1 == -1L))
    }
  }

  test("repetition expression == reference through Spark, codegen and interpreted") {
    val s = spark
    import s.implicits._
    val sample = texts.take(2000) :+ null
    val docs = sample.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val want = sample.zipWithIndex.map { case (t, i) =>
      val (a, b, c) = KernelReferences.repetitionSignals(t, 2); (i.toLong, a, b, c)
    }
    def run(): Seq[(Long, Long, Long, Long)] =
      Repetition.signals(docs, "doc_id", "text", dupN = 2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    Deadline(120) {
      assert(run() == want)
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      try assert(run() == want)
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
  }

  test("language id and shingles do not depend on the default locale (tr-TR)") {
    // Turkish lowercases I to dotless ı: under the old default-locale
    // lowercasing "IS" missed the `is` marker and "LIST ITEM" hashed as
    // "lıst ıtem"
    val text = "IS IS IS EL LA"
    val shingled = "LIST ITEM INDEX IS IT"
    val enLang = LangIdKernel.detect(text)
    val enSh = MinHashKernel.shingleHashes(shingled, 3)
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr-TR"))
    try {
      assert("IS".toLowerCase == "ıs") // the locale is in effect
      assert(LangIdKernel.detect(text) == enLang)
      assert(enLang == "en")
      assert(MinHashKernel.shingleHashes(shingled, 3).sameElements(enSh))
      assert(enSh.sameElements(MinHashKernel.shingleHashes(shingled.toLowerCase(Locale.ROOT), 3)))
    } finally Locale.setDefault(saved)
  }
}
