package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Decontaminate: n-gram kernel/declarative parity, broadcast vs
  * shuffle-twin equality, occurrence counting, bounds. */
class DecontaminateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-decontaminate-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("ngramsOf: windows, short text, empties") {
    assert(WordTokens.ngrams("a b c d", 2).toSeq ==
      Seq("a b", "b c", "c d"))
    assert(WordTokens.ngrams("a b", 3).isEmpty)
    assert(WordTokens.ngrams("a b c", 3).toSeq == Seq("a b c"))
    assert(WordTokens.ngrams(" a  b ", 2).toSeq == Seq("a b"))
    assert(WordTokens.ngrams("", 2).isEmpty)
    assert(WordTokens.ngrams(null, 2).isEmpty)
  }

  test("ngramsCol equals the kernel on adversarial spacing") {
    // the one word-token core, Scala form against Column form: tokens
    // and n-grams over generated texts built from words and every kind
    // of spacing (only 0x20 separates; \t, \n, U+00A0 and U+3000 stay
    // inside tokens), plus fixed edge cases. A null text is a null
    // column, which every caller reads as no tokens (explode emits no
    // row, explode_outer one null gram that `count` skips).
    val piece = Gen.frequency(
      6 -> Gen.oneOf("a", "b", "cc", "dé", "x1"),
      4 -> Gen.const(" "),
      2 -> Gen.oneOf("  ", "    "),
      2 -> Gen.oneOf("\t", "\n", "\u00a0", "\u3000", " \t ", "\n\n"))
    val generated = Gen.listOfN(400, Gen.chooseNum(0, 24)
      .flatMap(k => Gen.listOfN(k, piece)).map(_.mkString))
      .apply(Gen.Parameters.default, Seed(14L)).get
    val texts: Seq[String] = Seq("a b c d e", "  x ", "", "q w e r",
      "a a a a a a", "one", " leading two  gaps   three ", "   ", " ",
      "a\tb c", "a\nb  c", "x\u00a0y z", "x\u3000y  z", null) ++ generated
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val cols = WordTokens.tokensCol(col("text")) +:
      Seq(1, 2, 3).map(n => WordTokens.ngramsCol(col("text"), n))
    val got = df.select(col("id") +: cols: _*).collect().map(r =>
      r.getLong(0) -> (1 to cols.length).map(j =>
        Option(r.getSeq[String](j)).getOrElse(Nil).toSeq)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val want = WordTokens.tokens(t).toSeq +:
        Seq(1, 2, 3).map(n => WordTokens.ngrams(t, n).toSeq)
      assert(got(i.toLong) == want, s"text='$t'")
    }
    assert(generated.exists(t => t.contains('\u3000') &&
      WordTokens.tokens(t).length > 1), "generator degenerate")
  }

  test("hits count occurrences, not distinct grams") {
    val docs = Seq((0L, "x y x y x y")).toDF("id", "text")
    val got = Decontaminate.contamination(docs, "id", "text",
      Set("x y"), n = 2).collect().head
    // grams: x y, y x, x y, y x, x y -> 3 hits of 5
    assert((got.getLong(1), got.getLong(2), got.getBoolean(3)) ==
      (5L, 3L, true))
  }

  test("broadcast and shuffle twins produce identical output") {
    val rnd = new scala.util.Random(11)
    val vocab = Array("aa", "bb", "cc", "dd", "ee", "ff")
    val docs = (0L until 300L).map { i =>
      val len = rnd.nextInt(14) // includes 0-token and <n docs
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }.toDF("id", "text")
    val bench = (0L until 10L).map { i =>
      (i, Seq.fill(6)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }.toDF("bid", "text")
    val n = 3
    val a = Decontaminate.contamination(docs, "id", "text", bench,
      "text", n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).sortBy(_._1).toSeq
    val b = Decontaminate.contaminationJoined(docs, "id", "text", bench,
      "text", n).select("id", "ngrams_total", "hits", "contaminated")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).sortBy(_._1).toSeq
    assert(a == b)
    assert(a.size == 300) // zero-gram docs present in both
    assert(a.exists(_._4), "fixture degenerate: nothing contaminated")
    assert(a.exists(!_._4), "fixture degenerate: everything contaminated")
  }

  test("collectBenchNgrams enforces the pre-collect bound") {
    val bench = (0L until 50L).map(i => (i, s"w$i x$i y$i z$i"))
      .toDF("id", "text")
    val e = intercept[IllegalArgumentException] {
      Decontaminate.collectBenchNgrams(bench, "text", 2,
        maxBenchNgrams = 10)
    }
    assert(e.getMessage.contains("maxBenchNgrams"))
  }
}
