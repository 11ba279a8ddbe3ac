package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** QualityTiers: unigram training, integer scoring, exact ntile tiers,
  * and the approx cut-point scale path. */
class QualityTiersSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-qualitytiers-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("tokenFrequencies counts space tokens, dropping empties") {
    val docs = Seq((0L, "a b a"), (1L, " a  c "), (2L, "")).toDF("id", "text")
    val got = WordTokens.counts(docs, "text", "token", "cnt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
  }

  test("vocabulary is top-K by (cnt desc, token asc)") {
    val freqs = Seq(("b", 5L), ("a", 5L), ("c", 9L), ("d", 1L))
      .toDF("token", "cnt")
    val got = QualityTiers.vocabulary(freqs, 3)
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("c", "a", "b"))
  }

  test("scoreDocs: sum of vocab counts, OOV floor, integer mean") {
    val docs = Seq((0L, "a a b zz"), (1L, ""), (2L, "zz zz"))
      .toDF("id", "text")
    val vocab = Map("a" -> 10L, "b" -> 4L)
    val got = QualityTiers.scoreDocs(docs, "text", vocab)
      .select("id", "sum_freq", "n_tokens", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    // doc 0: 10+10+4+1 = 25 over 4 tokens -> 6 (floor)
    assert(got == Seq((0L, 25L, 4L, 6L), (1L, 0L, 0L, 0L),
      (2L, 2L, 2L, 1L)))
  }

  test("scoreSelf trains on the corpus itself") {
    val docs = Seq((0L, "x x x"), (1L, "x y"), (2L, "y z"))
      .toDF("id", "text")
    // freqs: x=4, y=2, z=1; topK=2 keeps x,y; z is OOV (1)
    val got = QualityTiers.scoreSelf(docs, "text", topK = 2)
      .select("id", "sum_freq", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq((0L, 12L, 4L), (1L, 6L, 3L), (2L, 3L, 1L)))
  }

  test("tiersExact: per-group ntile, tier 1 = head = highest score") {
    val scored = Seq(
      ("en", 0L, 90L), ("en", 1L, 80L), ("en", 2L, 70L),
      ("en", 3L, 60L), ("en", 4L, 50L), ("en", 5L, 40L),
      ("fr", 6L, 10L), ("fr", 7L, 30L))
      .toDF("lang", "id", "score")
    val got = QualityTiers.tiersExact(scored, "lang", "score", "id")
      .select("id", "tier").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 1L, 1L -> 1L, 2L -> 2L, 3L -> 2L,
      4L -> 3L, 5L -> 3L, 7L -> 1L, 6L -> 2L))
  }

  test("tierLabel names the 3-cut") {
    val got = Seq(1L, 2L, 3L).toDF("t")
      .select(QualityTiers.tierLabel(col("t"))).as[String].collect().toSeq
    assert(got == Seq("head", "middle", "tail"))
  }

  test("threshold path: assignment is monotone in score and agrees " +
      "with ntile on distinct evenly-split scores") {
    val rows = (0L until 90L).map(i => ("en", i, 1000L - i * 7))
    val scored = rows.toDF("lang", "id", "score")
    val cuts = QualityTiers.tierThresholds(scored, "lang", "score",
      nTiers = 3, relativeError = 0.0001)
    val byCuts = QualityTiers.assignByThresholds(scored, cuts, "lang",
      "score").select("id", "score", "tier").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // monotone: higher score never lands in a LOWER-quality tier
    val sorted = byCuts.sortBy(-_._2)
    assert(sorted.sliding(2).forall {
      case Array(a, b) => a._3 <= b._3
      case _ => true
    })
    // distinct scores, 90 rows, 3 tiers: ntile and cut-points agree on
    // all but at most the two boundary rows (cut-point ties)
    val byNtile = QualityTiers.tiersExact(scored, "lang", "score", "id")
      .select("id", "tier").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val disagree = byCuts.count { case (id, _, t) => byNtile(id) != t }
    assert(disagree <= 2, s"disagree=$disagree")
  }

  test("assignByThresholds handles a group missing from thresholds") {
    val scored = Seq(("en", 0L, 5L), ("xx", 1L, 7L)).toDF("lang", "id",
      "score")
    val cuts = QualityTiers.tierThresholds(
      scored.filter(col("lang") === "en"), "lang", "score", nTiers = 2)
    val got = QualityTiers.assignByThresholds(scored, cuts, "lang", "score")
      .select("id", "tier").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // unmatched group: empty cuts -> everything tier 1
    assert(got(1L) == 1L)
  }
}
