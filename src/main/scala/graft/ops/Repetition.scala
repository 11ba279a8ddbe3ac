package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Gopher-style repetition filters (Rae et al. 2021, "Scaling Language
  * Models: ... Gopher", table A1 — the standard web-corpus repetition
  * screens): machine-generated and template pages repeat short word
  * n-grams far more than prose, so per-document repetition coverage is
  * a cheap, language-agnostic quality gate that runs BEFORE any
  * model-based scoring.
  *
  * Two signals per document, both as e6-scaled integers computed with
  * integer arithmetic end to end (bit-identical in any engine — the
  * oracle recomputes them in plain SQL):
  *
  *  - `top_bigram_cover_e6`: coverage of the single most-covering word
  *    2-gram — max over grams of occurrences × gram-chars, scaled by
  *    1e6 / text-chars. (Gopher's "fraction of characters in the most
  *    frequent n-gram"; we take the max of count×length directly, which
  *    is deterministic under ties where count-first ranking is not.)
  *  - `dup_5gram_cover_e6`: summed coverage of every word 5-gram that
  *    occurs at least twice (Gopher's "fraction of characters inside
  *    duplicated n-grams"), capped at 1e6 — overlapping occurrences
  *    make the uncapped sum a coverage ESTIMATE, same as the published
  *    filter.
  *
  * Scale shape: the computation is PER-DOCUMENT (no cross-document
  * state), so it runs as a single per-row kernel — zero shuffles, one
  * pass over the scan. The first version exploded n-grams through a
  * two-level distributed aggregate (4 exchanges of documents ×
  * distinct-gram rows); for a statistic with no cross-row dependency
  * that shuffle volume bought nothing, and at 10^12 documents it is
  * the difference between a map stage and a four-stage job.
  */
object Repetition {

  /** The per-row kernel as a Column: struct(top_bigram_cover_e6,
    * dup_cover_e6, n_words) — composable into a wider single-pass
    * projection (the curation funnel computes every per-row gate in
    * one map stage this way). A native Catalyst expression
    * ([[graft.sql.GraftRepetitionSignals]]) built on
    * [[RepetitionKernel]]; a null text scores as the empty text.
    *
    * Cost note: a filter on one of the struct's fields (`s._1 <= x`)
    * over a projection that also keeps another field is pushed below
    * that projection by the optimizer, so the kernel runs once in the
    * `Filter` and again in the `Project`. */
  def signalsStruct(text: Column, dupN: Int = 5): Column = {
    require(dupN >= 2, s"dupN must be >= 2 (got $dupN)")
    graft.sql.GraftFunctions.graft_repetition_signals(text, dupN)
  }

  /** (idCol, top_bigram_cover_e6, dup_{dupN}gram_cover_e6, n_words) per
    * document. Empty/one-word documents report 0 coverage. `dupN`
    * defaults to Gopher's 5; shorter n raises the signal's hit rate on
    * low-repetition corpora (the oracle query uses 2 so the gate is
    * statistically alive on the synthetic tables). */
  def signals(docs: DataFrame, idCol: String, textCol: String,
              dupN: Int = 5): DataFrame = {
    val dupName = s"dup_${dupN}gram_cover_e6"
    docs.select(col(idCol), signalsStruct(col(textCol), dupN).as("s"))
      .select(col(idCol),
        col("s._1").as("top_bigram_cover_e6"),
        col("s._2").as(dupName),
        col("s._3").as("n_words"))
  }
}

/** Per-document repetition kernel: (top_bigram_cover_e6, dup_cover_e6,
  * n_words) as one row. Tokenization is split-on-single-space KEEPING
  * empty tokens (n_words = spaces + 1), grams joined with one space,
  * characters counted as code points — each choice pinned to what
  * `split`/`array_join`/`length` mean in Spark SQL and what the DuckDB
  * oracle recomputes.
  *
  * Because tokens are separated by exactly one space, every n-gram is
  * the byte range from the start of its first token to the end of its
  * last, so grams are counted as ranges of the UTF-8 text: a 64-bit
  * hash (composed from per-token FNV-1a hashes) picks a slot in an
  * open-addressing table and every hash hit is confirmed by comparing
  * the two ranges' bytes, which keeps the counts exact under hash
  * collisions. Byte equality is string equality and lead bytes are
  * code points only for valid UTF-8, so other input is first decoded
  * the way the string-typed UDF this replaced saw it (U+FFFD for each
  * malformed sequence).
  *
  * Holds reusable scratch arrays: one instance per thread. */
final class RepetitionKernel {
  // token k is bytes [bounds(k), bounds(k + 1) - 1); bounds(nWords) = len + 1
  private var bounds = new Array[Int](64)
  // code points before bounds(k); cps(nWords) = total + 1
  private var cps = new Array[Int](64)
  private var tokHash = new Array[Long](64)
  // open-addressing gram table; count 0 marks an empty slot
  private var slotHash = new Array[Long](64)
  private var slotGram = new Array[Int](64)
  private var slotCount = new Array[Int](64)
  private var used = new Array[Int](32)
  private var nUsed = 0
  private var bytes: Array[Byte] = Array.emptyByteArray

  def signals(text: UTF8String, dupN: Int): InternalRow = {
    val t =
      if (text == null) UTF8String.EMPTY_UTF8
      else if (text.isValid) text
      else UTF8String.fromString(text.toString)
    bytes = t.getBytes
    val nWords = tokenize()
    val chars = math.max(cps(nWords) - 1, 1).toLong
    var top2 = 0L
    countGrams(nWords, 2)
    var u = 0
    while (u < nUsed) {
      val cov = cover(used(u), 2); if (cov > top2) top2 = cov; u += 1
    }
    if (dupN != 2) { clear(); countGrams(nWords, dupN) }
    var dup = 0L
    u = 0
    while (u < nUsed) {
      if (slotCount(used(u)) >= 2) dup += cover(used(u), dupN)
      u += 1
    }
    clear()
    bytes = Array.emptyByteArray
    // integer floor division end to end: `/` on longs is fractional in
    // both Spark and DuckDB, and a double round-trip is a parity hazard
    // the integer form simply doesn't have
    new GenericInternalRow(Array[Any](
      math.min(1000000L, top2 * 1000000L / chars),
      math.min(1000000L, dup * 1000000L / chars),
      nWords.toLong))
  }

  /** Fills bounds/cps/tokHash; returns the token count. */
  private def tokenize(): Int = {
    val b = bytes
    var k = 0
    var cp = 0
    var h = RepetitionKernel.FnvOffset
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c == ' ') {
        tokHash(k) = h
        k += 1
        cp += 1
        if (k + 1 >= bounds.length) grow(k + 2)
        bounds(k) = i + 1
        cps(k) = cp
        h = RepetitionKernel.FnvOffset
      } else {
        if ((c & 0xc0) != 0x80) cp += 1
        h = (h ^ (c & 0xff)) * RepetitionKernel.FnvPrime
      }
      i += 1
    }
    tokHash(k) = h
    bounds(k + 1) = b.length + 1
    cps(k + 1) = cp + 1
    k + 1
  }

  private def grow(n: Int): Unit = {
    val m = math.max(n, bounds.length * 2)
    bounds = java.util.Arrays.copyOf(bounds, m)
    cps = java.util.Arrays.copyOf(cps, m)
    tokHash = java.util.Arrays.copyOf(tokHash, m)
  }

  /** Counts every n-gram of the tokenized text into the table. */
  private def countGrams(nWords: Int, n: Int): Unit = {
    val grams = nWords - n + 1
    if (grams <= 0) return
    var cap = 64
    while (cap < grams * 2) cap <<= 1
    if (cap > slotHash.length) {
      slotHash = new Array[Long](cap)
      slotGram = new Array[Int](cap)
      slotCount = new Array[Int](cap)
    }
    if (grams > used.length) used = new Array[Int](cap / 2)
    val mask = cap - 1
    var g = 0
    while (g < grams) {
      var h = tokHash(g)
      var j = 1
      while (j < n) { h = h * RepetitionKernel.FnvPrime + tokHash(g + j); j += 1 }
      var slot = (RepetitionKernel.fmix(h) & mask).toInt
      var placed = false
      while (!placed) {
        if (slotCount(slot) == 0) {
          slotHash(slot) = h; slotGram(slot) = g; slotCount(slot) = 1
          used(nUsed) = slot; nUsed += 1
          placed = true
        } else if (slotHash(slot) == h && sameGram(slotGram(slot), g, n)) {
          slotCount(slot) += 1
          placed = true
        } else slot = (slot + 1) & mask
      }
      g += 1
    }
  }

  private def sameGram(a: Int, b: Int, n: Int): Boolean = {
    val a0 = bounds(a); val a1 = bounds(a + n) - 1
    val b0 = bounds(b); val b1 = bounds(b + n) - 1
    a1 - a0 == b1 - b0 && java.util.Arrays.equals(bytes, a0, a1, bytes, b0, b1)
  }

  /** occurrences × code points of the gram in `slot`. */
  private def cover(slot: Int, n: Int): Long = {
    val g = slotGram(slot)
    slotCount(slot).toLong * (cps(g + n) - cps(g) - 1)
  }

  private def clear(): Unit = {
    var u = 0
    while (u < nUsed) { slotCount(used(u)) = 0; u += 1 }
    nUsed = 0
  }
}

object RepetitionKernel {
  private final val FnvOffset = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L

  private def fmix(x: Long): Long = {
    var h = x
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }
}
