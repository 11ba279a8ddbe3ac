package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sql.GraftFunctions._

/** Large-scale deduplication operators over a `documents`-shaped table
  * (`doc_id`, `text`, ...). All shapes are shuffle-minimal:
  *
  *  - exact:   one groupBy on the content hash (map-side combinable).
  *  - minhash: signature computed per-row (narrow), ONE explode to band
  *    buckets, ONE groupBy bucket; pairs verified by exact Jaccard only
  *    inside buckets (candidate set ≪ n²).
  *  - simhash: per-row 64-bit sketch (narrow), band-bucketed like minhash,
  *    hamming-verified.
  *
  * At 100 TB the bucket groupBys shuffle only (hash, id) pairs — bytes
  * per row are tiny and AQE coalesces the post-shuffle partitions.
  */
object Dedup {

  /** Exact dedup: canonical (minimum) doc_id per distinct text hash.
    * Output: one row per distinct text. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("copies"))

  /** Exact-dedup survivors: input rows minus later duplicates. (An r08
    * experiment replaced the window with a min-id aggregate + semi-join
    * — lighter shuffle bytes in principle, but the extra stage pair
    * made every caller SLOWER at bench scale because survivors are
    * recomputed per consumer; the window stays.) */
  def exactSurvivors(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    docs
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  // ---------------------------------------------------------------
  // MinHash + LSH (shingle → minhash → band → bucket-join)

  val NumPerm = 64
  val Bands = 16 // 16 bands × 4 rows
  val RowsPerBand: Int = NumPerm / Bands

  val ShingleSize = 3 // words per shingle, signature and verify alike

  /** 64-perm MinHash signature per doc (narrow map; one text pass). */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val sigUdf = udf((text: String) =>
      MinHashKernel.signature(text, ShingleSize, NumPerm))
    docs.select(col("doc_id"), sigUdf(col("text")).as("sig"))
  }

  /** One (band, band_hash, doc_id) row per band of each signature. */
  private def banded(docs: DataFrame): DataFrame =
    minhashSignatures(docs).select(
      col("doc_id"),
      posexplode(bandHashes(col("sig"))).as(Seq("band", "band_hash")))

  private def bandKeys = Seq(col("band"), col("band_hash"))

  /** LSH candidate pairs: docs sharing any band bucket (a < b).
    * Shape: explode to (band, band_hash, doc_id) rows → text-policy
    * bucket cap ([[Buckets]]) → bucket self-join with `a < b`. No
    * collected id arrays, no m² UDF — the join output is bounded by
    * cap²/2 per bucket and every row is (long, long). */
  def minhashCandidates(docs: DataFrame, bucketCap: Int = Buckets.Text.size)
      : DataFrame = {
    val capped = Buckets.cap(banded(docs), bandKeys,
      Buckets.Text.order("doc_id"), bucketCap)
    val left = capped.select(col("band"), col("band_hash"),
      col("doc_id").as("a"))
    val right = capped.select(col("band"), col("band_hash"),
      col("doc_id").as("b"))
    left.join(right, Seq("band", "band_hash"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** Rows the bucket cap drops across all (band, band_hash) buckets —
    * `log()` this next to the candidate count so a silent recall loss
    * never reads as full coverage. */
  def minhashBucketDrops(docs: DataFrame,
      bucketCap: Int = Buckets.Text.size): Long =
    Buckets.drops(banded(docs), bandKeys, bucketCap)

  /** Near-dup pairs with estimated Jaccard ≥ threshold (from signature
    * agreement), then exact n-gram Jaccard verification.
    *
    * Exact-duplicate pre-pass (`exactPrepass`, default on): byte-identical
    * texts collapse to their keeper (min doc_id) BEFORE signatures — the
    * scale-critical defusal of mass-identical boilerplate (those dups are
    * the exact-dedup operator's output, not near-dup pairs). Pairs are
    * then reported between surviving representatives only. */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.8,
      exactPrepass: Boolean = true,
      bucketCap: Int = Buckets.Text.size): DataFrame = {
    val base = if (exactPrepass) exactSurvivors(docs) else docs
    val cand = minhashCandidates(base, bucketCap)
    val texts = base.select(col("doc_id"), col("text"))
    val jacUdf = udf((t1: String, t2: String) =>
      MinHashKernel.exactJaccard(t1, t2, ShingleSize))
    cand
      .join(texts.withColumnRenamed("doc_id", "a")
        .withColumnRenamed("text", "text_a"), Seq("a"))
      .join(texts.withColumnRenamed("doc_id", "b")
        .withColumnRenamed("text", "text_b"), Seq("b"))
      .withColumn("jaccard", jacUdf(col("text_a"), col("text_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  private def bandHashes(sig: Column): Column = {
    // sig: array<long>[64] → array<long>[16] of per-band xxhash-combined rows
    val bandExprs = (0 until Bands).map { b =>
      val rows = (0 until RowsPerBand).map(r => sig.getItem(b * RowsPerBand + r))
      hash((lit(b) +: rows): _*).cast("long")
    }
    array(bandExprs: _*)
  }

  // ---------------------------------------------------------------
  // SimHash near-dup (hamming ≤ maxDistance)

  /** SimHash pairs within `maxDistance` hamming bits, candidate-filtered by
    * 4×16-bit band equality. Recall bound: a pair ≤3 bits apart ALWAYS
    * shares one of the 4 bands (pigeonhole) — exact for maxDistance ≤ 3;
    * beyond that, candidates require a lucky identical band (standard
    * simhash-dedup operating point is distance ≤ 3).
    *
    * Same hot-bucket defusal as minhash: exact-dedup pre-pass collapses
    * byte-identical floods (identical text ⇒ identical sketch ⇒ shared
    * EVERY band) and the text-policy bucket cap ([[Buckets]]) bounds
    * residual mass-identical sketches. Hamming stays in codegen
    * (`bit_count(a XOR b)`). */
  def simhashNearDups(docs: DataFrame, maxDistance: Int = 3,
      exactPrepass: Boolean = true,
      bucketCap: Int = Buckets.Text.size): DataFrame = {
    val base = if (exactPrepass) exactSurvivors(docs) else docs
    val sketched = base.select(col("doc_id"),
      graft_simhash(col("text")).as("sh"))
    val banded = sketched.select(
      col("doc_id"), col("sh"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("sh"), b * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band", "band_val")))
    val capped = Buckets.cap(banded, Seq(col("band"), col("band_val")),
      Buckets.Text.order("doc_id"), bucketCap)
    val a = capped.select(col("band"), col("band_val"),
      col("doc_id").as("a"), col("sh").as("sh_a"))
    val b = capped.select(col("band"), col("band_val"),
      col("doc_id").as("b"), col("sh").as("sh_b"))
    a.join(b, Seq("band", "band_val"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDistance)
  }
}

/** Pure shingle/minhash kernels (deterministic, executor-side). */
object MinHashKernel {

  /** Word shingles of size n, hashed to 64-bit. Words are the maximal
    * runs of non-`\s` chars (`\s` = the six ASCII chars space, \t,
    * \n, VT, \f, \r) of the text lowercased in the root locale; each
    * window of n words hashes FNV-style over its chars, a space after
    * every word. A text with fewer than n (but some) words is one
    * shingle: the mixed `String.hashCode` of its words joined by single
    * spaces. Words are located by offset — no regex, no word strings. */
  def shingleHashes(text: String, n: Int): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val t = text.toLowerCase(java.util.Locale.ROOT)
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nt = 0
    var i = 0
    while (i < t.length) {
      while (i < t.length && isSpace(t.charAt(i))) i += 1
      if (i < t.length) {
        if (nt == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nt * 2)
          ends = java.util.Arrays.copyOf(ends, nt * 2)
        }
        starts(nt) = i
        while (i < t.length && !isSpace(t.charAt(i))) i += 1
        ends(nt) = i
        nt += 1
      }
    }
    if (nt < n) {
      if (nt == 0) return Array.emptyLongArray
      var h = 0
      var w = 0
      while (w < nt) {
        if (w > 0) h = 31 * h + ' '
        var k = starts(w)
        while (k < ends(w)) { h = 31 * h + t.charAt(k); k += 1 }
        w += 1
      }
      return Array(mix(h.toLong))
    }
    val out = new Array[Long](nt - n + 1)
    i = 0
    while (i + n <= nt) {
      var h = 1125899906842597L
      var j = i
      while (j < i + n) {
        var k = starts(j)
        while (k < ends(j)) { h = (h ^ t.charAt(k)) * 1099511628211L; k += 1 }
        h = (h ^ ' ') * 1099511628211L
        j += 1
      }
      out(i) = h
      i += 1
    }
    out
  }

  private def isSpace(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  private def mix(x: Long): Long = {
    var h = x
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** k-perm MinHash: permutation p = mix(shingle ^ seed_p); one pass over
    * shingles with k running minima. */
  def signature(text: String, shingleSize: Int, k: Int): Array[Long] = {
    val shingles = shingleHashes(text, shingleSize)
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val s = shingles(i)
      var p = 0
      while (p < k) {
        val v = mix(s ^ (0x9e3779b97f4a7c15L * (p + 1)))
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    sig
  }

  /** Exact shingle-set Jaccard between two texts: both shingle arrays
    * sorted and deduplicated in place, then their overlap counted in
    * one merge pass. Two empty sets are identical (1.0). */
  def exactJaccard(t1: String, t2: String, n: Int): Double = {
    val a = shingleHashes(t1, n)
    val b = shingleHashes(t2, n)
    val na = sortDistinct(a)
    val nb = sortDistinct(b)
    if (na == 0 && nb == 0) return 1.0
    if (na == 0 || nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** Sorts `xs` and moves its distinct values to the front; returns
    * how many there are. */
  private def sortDistinct(xs: Array[Long]): Int = {
    java.util.Arrays.sort(xs)
    var n = 0
    var i = 0
    while (i < xs.length) {
      if (n == 0 || xs(i) != xs(n - 1)) { xs(n) = xs(i); n += 1 }
      i += 1
    }
    n
  }
}
