package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken, "Winnowing:
  * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the MOSS
  * algorithm). Each document's char k-grams are rolling-hashed and the
  * minimum hash of every w-gram window is selected (rightmost minimum on
  * ties, recorded once per selected position): any substring match of
  * length ≥ w + k − 1 between two documents is GUARANTEED to share a
  * fingerprint, with expected density 2/(w+1).
  *
  * Scale shape mirrors the minhash family: the kernel is a narrow per-row
  * map (zero shuffles — fingerprints never leave the row until a caller
  * explodes them), and candidate pairing is explode → capped bucket →
  * ids-only self-join, so a boilerplate fingerprint shared by millions of
  * pages is bounded by the bucket cap instead of producing O(m²) pairs. */
object Winnowing {

  // k=16/w=16 → guarantee threshold 31 chars (~4-5 words). Short
  // thresholds are noise on natural text: at k=w=8 (15 chars) a
  // common-vocabulary corpus pairs nearly every document through
  // incidental 2-word collisions (measured: 93k of 125k possible pairs
  // on the 500-doc test corpus vs 272 at k=w=16) — a pair explosion at
  // crawl scale, not a near-dup signal.
  val DefaultK = 16 // k-gram length (chars)
  val DefaultW = 16 // window size (k-grams); guarantee threshold = w+k-1

  /** 64-bit rolling polynomial hashes of every char k-gram, passed
    * through a murmur-style finalizer so window-minimum selection sees
    * uniformly distributed values (raw polynomial hashes bias the
    * low-order bytes toward the last characters). */
  def kgramHashes(text: String, k: Int): Array[Long] = {
    if (text == null || text.length < k) return Array.emptyLongArray
    val B = 0x100000001b3L // FNV prime as the polynomial base
    var bk = 1L // B^(k-1)
    var i = 1
    while (i < k) { bk *= B; i += 1 }
    val out = new Array[Long](text.length - k + 1)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + text.charAt(i); i += 1 }
    out(0) = mix(h)
    i = k
    while (i < text.length) {
      h = (h - text.charAt(i - k) * bk) * B + text.charAt(i)
      out(i - k + 1) = mix(h)
      i += 1
    }
    out
  }

  private def mix(x: Long): Long = {
    var h = x
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** Winnowed fingerprint set: distinct selected hashes, sorted. O(n)
    * via a monotonic deque over k-gram positions; the rightmost-minimum
    * tie rule is the paper's (robust winnowing), implemented by evicting
    * deque tails on `>=` so a later equal hash wins its window. */
  def fingerprints(text: String, k: Int = DefaultK,
      w: Int = DefaultW): Array[Long] = {
    val hs = kgramHashes(text, k)
    if (hs.isEmpty) return Array.emptyLongArray
    if (hs.length <= w) {
      // shorter than one window: select the global (rightmost) minimum
      var best = 0
      var i = 1
      while (i < hs.length) { if (hs(i) <= hs(best)) best = i; i += 1 }
      return Array(hs(best))
    }
    val deque = new Array[Int](hs.length) // indices, increasing hash
    var head = 0
    var tail = 0 // exclusive
    // selected hashes collected flat, then sort + dedup — same sorted
    // distinct output as the former TreeSet at a fraction of the
    // allocation (no per-value boxing / tree nodes)
    val selected = new Array[Long](hs.length - w + 1)
    var m = 0
    var lastPos = -1
    var i = 0
    while (i < hs.length) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) {
        val pos = deque(head)
        if (pos != lastPos) { selected(m) = hs(pos); m += 1; lastPos = pos }
      }
      i += 1
    }
    java.util.Arrays.sort(selected, 0, m)
    var j = 0 // in-place dedup over the sorted prefix
    var n2 = 0
    while (j < m) {
      if (n2 == 0 || selected(n2 - 1) != selected(j)) {
        selected(n2) = selected(j); n2 += 1
      }
      j += 1
    }
    java.util.Arrays.copyOf(selected, n2)
  }

  /** Per-document fingerprint column `fps` over `text` (narrow map;
    * zero shuffles). */
  def withFingerprints(docs: DataFrame): DataFrame = {
    val fpUdf = udf((text: String) => fingerprints(text))
    docs.withColumn("fps", fpUdf(col("text")))
  }

  /** Candidate near-dup pairs: documents sharing ≥ `minShared` winnowed
    * fingerprints (a < b). Explode → text-policy capped fingerprint
    * bucket ([[Buckets]]) → ids-only self-join → shared-count filter.
    * Bytes on the wire per row: two longs. */
  def candidatePairs(docs: DataFrame, minShared: Int = 2,
      bucketCap: Int = Buckets.Text.size): DataFrame = {
    val fps = withFingerprints(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(col("fps")).as("fp"))
    val capped = Buckets.cap(fps, Seq(col("fp")),
      Buckets.Text.order("doc_id"), bucketCap)
    val left = capped.select(col("fp"), col("doc_id").as("a"))
    val right = capped.select(col("fp"), col("doc_id").as("b"))
    left.join(right, Seq("fp"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }
}
