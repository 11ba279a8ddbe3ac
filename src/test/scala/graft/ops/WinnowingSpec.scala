package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** Winnowing: the SIGMOD'03 guarantee — a shared substring of length
  * ≥ w+k−1 must share a fingerprint — plus kernel edge cases and the
  * Spark-side candidate pairing. */
class WinnowingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-winnowing-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val k = Winnowing.DefaultK
  private val w = Winnowing.DefaultW

  test("rolling hashes equal direct per-kgram hashes") {
    val t = "the quick brown fox jumps over the lazy dog"
    val rolled = Winnowing.kgramHashes(t, k)
    assert(rolled.length == t.length - k + 1)
    // recompute each k-gram from scratch via a 1-window text
    val direct = (0 to t.length - k).map(i =>
      Winnowing.kgramHashes(t.substring(i, i + k), k)(0))
    assert(rolled.toSeq == direct)
  }

  test("guarantee: substring match >= w+k-1 chars shares a fingerprint") {
    val rnd = new scala.util.Random(7)
    def randText(n: Int) =
      (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val shared = randText(w + k - 1) // exactly the guarantee threshold
    for (trial <- 1 to 10) {
      val a = randText(40 + rnd.nextInt(60)) + shared + randText(40)
      val b = randText(30) + shared + randText(50 + rnd.nextInt(60))
      val fa = Winnowing.fingerprints(a, k, w).toSet
      val fb = Winnowing.fingerprints(b, k, w).toSet
      assert(fa.intersect(fb).nonEmpty, s"trial $trial")
    }
  }

  test("density is ~2/(w+1) and fingerprints are sorted distinct") {
    val rnd = new scala.util.Random(11)
    val t = (1 to 20000).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val fps = Winnowing.fingerprints(t, k, w)
    assert(fps.toSeq == fps.toSeq.sorted && fps.distinct.length == fps.length)
    val density = fps.length.toDouble / (t.length - k + 1)
    assert(density > 1.0 / (w + 1) && density < 3.0 / (w + 1),
      s"density $density")
  }

  test("edge cases: null, empty, shorter than k, shorter than one window") {
    assert(Winnowing.fingerprints(null, k, w).isEmpty)
    assert(Winnowing.fingerprints("", k, w).isEmpty)
    assert(Winnowing.fingerprints("a" * (k - 1), k, w).isEmpty)
    // >= k chars but fewer than w k-grams: one global-minimum selection
    val short = ('a' to 'z').take(k + 2).mkString
    assert(Winnowing.fingerprints(short, k, w).length == 1)
  }

  test("identical text yields identical fingerprints; disjoint text none") {
    val a = Winnowing.fingerprints("common prefix payload body " * 5, k, w)
    val b = Winnowing.fingerprints("common prefix payload body " * 5, k, w)
    assert(a.toSeq == b.toSeq && a.nonEmpty)
  }

  test("candidatePairs finds planted near-dups, ids-only with shared count") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 8
    val docs = Seq(
      (0L, base + " tail zero"),
      (1L, base + " tail one extended"),
      (2L, "completely different content with nothing in common at all " +
        "unrelated words everywhere " * 6),
      (3L, base)
    ).toDF("doc_id", "text")
    val pairs = Winnowing.candidatePairs(docs, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 3L)) &&
      pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("bucket cap bounds a mass-duplicated fingerprint bucket") {
    val docs = (0L until 50L).map(i => (i, "identical boilerplate block " * 10))
      .toDF("doc_id", "text")
    val pairs = Winnowing.candidatePairs(docs, minShared = 1, bucketCap = 5)
    // cap=5 keeps the 5 lowest ids per bucket: max C(5,2)=10 pairs
    assert(pairs.count() == 10)
    assert(pairs.select("a", "b").as[(Long, Long)].collect().toSet ==
      (for (a <- 0L until 5L; b <- 0L until 5L if a < b) yield (a, b)).toSet)
  }
}
