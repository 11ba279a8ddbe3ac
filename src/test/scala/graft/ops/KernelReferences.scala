package graft.ops

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The curation operators' per-row kernels in their plain string-
  * building form: the references the parity specs compare the
  * allocation-free kernels against. Lowercasing is in the root locale,
  * the semantics the kernels pin (the same as any default locale
  * without special casing rules, e.g. en_US). */
object KernelReferences {

  /** (top2_cover, dup_cover, n_words) as raw integer coverages: grams
    * as joined strings counted in a HashMap. */
  def coverCounts(text: String, dupN: Int): (Long, Long, Int) = {
    val ws = text.split(" ", -1)
    def gramStats(n: Int): collection.mutable.HashMap[String, Int] = {
      val m = new collection.mutable.HashMap[String, Int]()
      var i = 0
      while (i + n <= ws.length) {
        val sb = new java.lang.StringBuilder()
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(ws(i + j)); j += 1
        }
        val g = sb.toString
        m.update(g, m.getOrElse(g, 0) + 1)
        i += 1
      }
      m
    }
    def cp(s: String): Long = s.codePointCount(0, s.length).toLong
    var top2 = 0L
    gramStats(2).foreach { case (g, c) =>
      val cov = c * cp(g); if (cov > top2) top2 = cov
    }
    var dup = 0L
    gramStats(dupN).foreach { case (g, c) =>
      if (c >= 2) dup += c * cp(g)
    }
    (top2, dup, ws.length)
  }

  /** The e6-scaled signals struct as the string UDF computed it. */
  def repetitionSignals(text: String, dupN: Int): (Long, Long, Long) = {
    val t = if (text == null) "" else text
    val (top2, dup, nw) = coverCounts(t, dupN)
    val chars = math.max(t.codePointCount(0, t.length), 1).toLong
    (math.min(1000000L, top2 * 1000000L / chars),
      math.min(1000000L, dup * 1000000L / chars),
      nw.toLong)
  }

  private val Markers: List[(String, Set[String])] = List(
    "en" -> Set("the", "and", "of", "is", "that", "with", "for", "this",
      "are", "was", "not", "you"),
    "es" -> Set("el", "la", "los", "las", "que", "de", "en", "por", "para",
      "una", "con", "es"),
    "fr" -> Set("le", "les", "des", "une", "est", "dans", "pour", "que",
      "qui", "avec", "sur", "pas"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "mit", "ein",
      "eine", "für", "auf", "werden"),
    "pt" -> Set("o", "os", "das", "um", "uma", "não", "com", "para", "por",
      "mais", "como", "foi"))

  /** Marker-word language id over a regex split into letter runs. */
  def detect(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    val tokens = text.toLowerCase(Locale.ROOT).split("[^\\p{L}]+")
    if (tokens.isEmpty) return "und"
    var bestLang = "und"
    var bestScore = 0
    Markers.foreach { case (lang, set) =>
      var score = 0
      var i = 0
      while (i < tokens.length) {
        if (set.contains(tokens(i))) score += 1
        i += 1
      }
      if (score > bestScore) { bestScore = score; bestLang = lang }
    }
    bestLang
  }

  /** Word-shingle hashes over a regex split into word strings. */
  def shingleHashes(text: String, n: Int): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val tokens = text.toLowerCase(Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    if (tokens.length < n) {
      if (tokens.isEmpty) return Array.emptyLongArray
      return Array(mix(tokens.mkString(" ").hashCode.toLong))
    }
    val out = new Array[Long](tokens.length - n + 1)
    var i = 0
    while (i + n <= tokens.length) {
      var h = 1125899906842597L
      var j = i
      while (j < i + n) {
        var k = 0
        val t = tokens(j)
        while (k < t.length) { h = (h ^ t.charAt(k)) * 1099511628211L; k += 1 }
        h = (h ^ ' ') * 1099511628211L
        j += 1
      }
      out(i) = h
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

  /** Exact shingle-set Jaccard over two boxed hash sets. */
  def exactJaccard(t1: String, t2: String, n: Int): Double = {
    val s1 = shingleHashes(t1, n).toSet
    val s2 = shingleHashes(t2, n).toSet
    if (s1.isEmpty && s2.isEmpty) return 1.0
    if (s1.isEmpty || s2.isEmpty) return 0.0
    val inter = s1.intersect(s2).size
    inter.toDouble / (s1.size + s2.size - inter)
  }

  /** Blank-line paragraphs through Spark's regex `split` and a
    * higher-order `filter`: (id, para_idx, para). */
  def paragraphs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"),
        filter(split(col(textCol), "\n\n+"),
          p => length(trim(p)) > 0).as("ps"))
      .select(col("id"), posexplode(col("ps")).as(Seq("para_idx", "para")))

  /** The two-regex Column composition the native `graft_quality_e6`
    * expression replaced. */
  def qualityScoreE6(text: Column): Column = {
    val len = length(text)
    val alnum = length(regexp_replace(text, "[^A-Za-z0-9]", ""))
    val printable = length(regexp_replace(text, "[^ -~]", ""))
    val score =
      lit(0.35) * least(len.cast("double") / 700.0, lit(1.0)) +
        lit(0.35) * (alnum.cast("double") * 1.0 / greatest(len, lit(1))) +
        lit(0.30) * (printable.cast("double") * 1.0 / greatest(len, lit(1)))
    round(score * 1000000).cast("long")
  }

  /** BPE encoding as the linear apply of every merge in rank order (the
    * gated `BpeTrain.encodeWord` skips merges that cannot occur). */
  def encodeWord(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var syms: Seq[String] = word.toCharArray.map(_.toString).toSeq
    merges.foreach { case (a, b) =>
      if (syms.length > 1) syms = BpeTrain.mergePair(syms, a, b)
    }
    syms
  }

  /** Sign-LSH signatures with each hyperplane sign rehashed per
    * (table, bit, dim) instead of read from the cached planes of
    * `SimilarityKernel.signBuckets`. */
  def signBuckets(embSeq: Seq[Float], bits: Int,
      tables: Int): Array[Long] = {
    val out = new Array[Long](tables)
    if (embSeq == null || embSeq.isEmpty) {
      var t = 0
      while (t < tables) { out(t) = t.toLong << 32; t += 1 }
      return out
    }
    val emb = embSeq.toArray
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var j = 0
      while (j < bits) {
        var dot = 0.0
        var d = 0
        while (d < emb.length) {
          var h = ((t * 131 + j) * 0x9e3779b9L + d * 0x85ebca6bL + 0xc2b2ae35L)
          h ^= h >>> 16; h *= 0x45d9f3bL; h ^= h >>> 16
          val sign = if ((h & 1L) == 0L) 1.0 else -1.0
          dot += sign * emb(d)
          d += 1
        }
        if (dot >= 0) bucket |= (1L << j)
        j += 1
      }
      out(t) = (t.toLong << 32) | bucket
      t += 1
    }
    out
  }

  /** cosine(a, b) as a Column built from array higher-order functions.
    * Arrays are cast to double FIRST so products accumulate in double
    * precision — bit-identical to an independent left-to-right double
    * fold (the DuckDB oracle). Spark's ArrayAggregate/ZipWith are
    * CodegenFallback (interpreted, ~40 µs per 64-dim pair), which is
    * why the operators use the native `graft_cosine` instead. */
  def cosine(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(ad, x => x * x),
      lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(bd, x => x * x),
      lit(0.0), (acc, v) => acc + v))
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot / (na * nb))
  }
}
