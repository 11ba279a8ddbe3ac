package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** BpeTrain: pair counting, deterministic tie-breaks, round-by-round
  * rewrites (hand-computed Sennrich-style example), encoding. */
class BpeTrainSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-bpe-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def freqs(pairs: (String, Long)*) =
    pairs.toSeq.toDF("word", "freq")

  test("wordFrequencies counts space tokens") {
    val docs = Seq((0L, "low low lower"), (1L, " low ")).toDF("id", "text")
    val got = BpeTrain.wordFrequencies(docs, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("low" -> 3L, "lower" -> 1L))
  }

  test("hand-computed merges: counts, ties, and rewrites") {
    // low x5, lower x2, newest x6, widest x3 (Sennrich-style corpus).
    // Round 1 pair counts: (e,s)=9 (s,t)=9 (w,e)=8 (l,o)=7 (o,w)=7 ...
    // tie at 9 breaks lexicographically -> ("e","s"); round 2: after
    // the es rewrite, (es,t)=9 is the unique max; round 3: (w,e) fell
    // to 2 (newest's w-e became w-es), max is (l,o)=7.
    val wf = freqs("low" -> 5L, "lower" -> 2L, "newest" -> 6L,
      "widest" -> 3L)
    val merges = BpeTrain.trainMerges(wf, numMerges = 3)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o")))
  }

  test("minPairFreq stops training; numMerges 0 trains nothing") {
    val wf = freqs("ab" -> 1L)
    assert(BpeTrain.trainMerges(wf, 5, minPairFreq = 2) == Seq.empty)
    assert(BpeTrain.trainMerges(wf, 0) == Seq.empty)
    // freq-1 pair IS merged when minPairFreq allows it
    assert(BpeTrain.trainMerges(wf, 5, minPairFreq = 1) ==
      Seq(("a", "b")))
  }

  test("mergePair rewrites left-to-right, non-overlapping") {
    assert(BpeTrain.mergePair(Seq("a", "a", "a"), "a", "a") ==
      Seq("aa", "a"))
    assert(BpeTrain.mergePair(Seq("x", "a", "b", "a", "b"), "a", "b") ==
      Seq("x", "ab", "ab"))
    assert(BpeTrain.mergePair(Seq("q"), "a", "b") == Seq("q"))
  }

  test("encodeWord applies merges in rank order") {
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"))
    assert(BpeTrain.encodeWord("newest", merges) ==
      Seq("n", "e", "w", "est"))
    assert(BpeTrain.encodeWord("low", merges) == Seq("lo", "w"))
    assert(BpeTrain.encodeWord("", merges) == Seq.empty)
  }

  test("withBpeTokenCounts: per-doc counts and compression ratio") {
    val docs = Seq((0L, "low low"), (1L, "")).toDF("id", "text")
    val merges = Seq(("l", "o"), ("lo", "w"))
    val got = BpeTrain.withBpeTokenCounts(docs, "text", merges)
      .select("id", "n_words", "bpe_tokens", "bpe_ratio_e6")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    // "low" encodes to 1 token -> 2 words, 2 tokens, ratio 1.0
    assert(got == Seq((0L, 2L, 2L, 1000000L), (1L, 0L, 0L, 0L)))
  }

  test("local trainer == distributed loop on seeded random corpora") {
    // localBudgetBytes = 0 forces the per-round Spark loop; default
    // routes the same table to the r08 in-process trainer — merge
    // lists must be bit-identical
    val rnd = new scala.util.Random(123)
    for (trial <- 1 to 4) {
      val vocab = (0 until 40 + trial * 10).map { _ =>
        val len = 1 + rnd.nextInt(7)
        (0 until len).map(_ => ('a' + rnd.nextInt(5)).toChar).mkString
      }.distinct
      val wf = vocab.map(w => (w, (1 + rnd.nextInt(9)).toLong))
        .toDF("word", "freq")
      val local = BpeTrain.trainMerges(wf, numMerges = 10)
      val dist = BpeTrain.trainMerges(wf, numMerges = 10,
        localBudgetBytes = 0L)
      assert(local == dist, s"trial $trial")
    }
  }

  test("local trainer honors minPairFreq and early exhaustion") {
    val wf = freqs("ab" -> 1L)
    assert(BpeTrain.trainMerges(wf, 5, minPairFreq = 2) == Seq.empty)
    assert(BpeTrain.trainMerges(wf, 5, minPairFreq = 1) == Seq(("a", "b")))
    // exhausts after all pairs merged, well before numMerges
    val wf2 = freqs("abc" -> 3L)
    val m = BpeTrain.trainMerges(wf2, 50, minPairFreq = 1)
    assert(m.length == 2) // (a,b) or (b,c) then the remaining pair
  }

  test("gated encodeWord identical to the linear reference") {
    val rnd = new scala.util.Random(7)
    val wf = (0 until 60).map { _ =>
      val len = 1 + rnd.nextInt(8)
      ((0 until len).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString,
        (1 + rnd.nextInt(5)).toLong)
    }.toDF("word", "freq")
    val merges = BpeTrain.trainMerges(wf, numMerges = 15, minPairFreq = 1)
    assert(merges.nonEmpty)
    for (_ <- 1 to 300) {
      val len = rnd.nextInt(12)
      val w = (0 until len).map(_ => ('a' + rnd.nextInt(5)).toChar).mkString
      assert(BpeTrain.encodeWord(w, merges) ==
        KernelReferences.encodeWord(w, merges), s"word '$w'")
    }
    assert(BpeTrain.encodeWord("", merges) == Seq.empty)
  }

  test("training is deterministic across partitionings") {
    val words = (0 until 200).map(i => (s"w${i % 23}x${i % 7}", (i % 9) + 1L))
    val a = BpeTrain.trainMerges(words.toDF("word", "freq"), 8)
    val b = BpeTrain.trainMerges(
      words.toDF("word", "freq").repartition(7), 8)
    assert(a == b && a.length == 8)
  }
}
