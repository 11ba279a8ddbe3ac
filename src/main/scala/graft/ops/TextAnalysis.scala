package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over a
  * `documents`-shaped table. All per-row (narrow); the heavy ones are
  * pure `functions._` compositions so they stay in whole-stage codegen
  * and have straightforward SQL oracles.
  */
object TextAnalysis {

  /** Whitespace token count (SQL-oracle-friendly). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword-ish token count: word pieces + standalone
    * punctuation, via regexp count. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Quality-scoring signals (length/punct/stopword ratios) — the
    * training-data analog of C4 quality scoring. */
  def qualitySignals(docs: DataFrame): DataFrame = {
    val t = col("text")
    val len = length(t)
    val alnum = length(regexp_replace(t, "[^A-Za-z0-9]", ""))
    val punct = length(regexp_replace(t, "[^.,;:!?'\"()-]", ""))
    val stopwordHits = StopwordsEn.foldLeft(lit(0)) { (acc, w) =>
      acc + when(t.rlike("(?i)\\b" + w + "\\b"), 1).otherwise(0)
    }
    docs.select(
      col("doc_id"),
      len.as("n_chars"),
      tokenCount(t).as("n_tokens"),
      round(alnum.cast("double") / greatest(len, lit(1)), 6).as("alnum_ratio"),
      round(punct.cast("double") / greatest(len, lit(1)), 6).as("punct_ratio"),
      stopwordHits.as("stopword_hits"),
      round(least(len.cast("double") / 700.0, lit(1.0)), 6).as("length_score"))
  }

  private val StopwordsEn = List(
    "the", "and", "of", "to", "in", "is", "that", "for", "with", "was")

  private val langIdUdf = udf((t: String) => LangIdKernel.detect(t))

  def withLanguageId(docs: DataFrame): DataFrame =
    docs.withColumn("lang_pred", langIdUdf(col("text")))
}

/** Deterministic marker-word language identifier: the language whose
  * marker function words occur most often among the text's words,
  * where a word is a maximal run of letters (`\p{L}`, by code point)
  * of the text lowercased in the root locale (so the result never
  * depends on the JVM's default locale). Ties keep the earlier
  * language in the order en, es, fr, de, pt; no marker gives "und".
  *
  * One pass over the letter runs. Every marker is at most six Latin-1
  * letters, so a run longer than that, or holding a letter above
  * U+00FF, is skipped without being materialized; any other run packs
  * into a long (8 bits a letter, letters are never 0) and is looked up
  * once in a word → language-bitmask table. */
object LangIdKernel {
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
  private val Langs = Markers.map(_._1).toArray
  private final val MaxLen = 6
  private final val Slots = 256 // power of two, > 2 × the marker count

  private def pack(word: String): Long =
    word.foldLeft(0L)((k, c) => (k << 8) | c)

  private def slotOf(key: Long): Int =
    ((key * 0x9e3779b97f4a7c15L) >>> 56).toInt & (Slots - 1)

  private val (keys, masks) = {
    val ks = new Array[Long](Slots)
    val ms = new Array[Int](Slots)
    for (((_, set), lang) <- Markers.zipWithIndex; w <- set) {
      require(w.length <= MaxLen && w.forall(c => c > 0 && c <= 0xff), w)
      val k = pack(w)
      var s = slotOf(k)
      while (ks(s) != 0L && ks(s) != k) s = (s + 1) & (Slots - 1)
      ks(s) = k
      ms(s) |= 1 << lang
    }
    (ks, ms)
  }

  private def maskOf(key: Long): Int = {
    var s = slotOf(key)
    while (keys(s) != 0L) {
      if (keys(s) == key) return masks(s)
      s = (s + 1) & (Slots - 1)
    }
    0
  }

  def detect(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    val t = text.toLowerCase(java.util.Locale.ROOT)
    val scores = new Array[Int](Langs.length)
    val n = t.length
    var i = 0
    while (i < n) {
      var c = t.codePointAt(i)
      if (!Character.isLetter(c)) i += Character.charCount(c)
      else {
        var key = 0L
        var len = 0 // letters packed so far; -1 once the run cannot match
        while (i < n && Character.isLetter(c)) {
          if (len >= 0) {
            if (len < MaxLen && c <= 0xff) { key = (key << 8) | c; len += 1 }
            else len = -1
          }
          i += Character.charCount(c)
          if (i < n) c = t.codePointAt(i)
        }
        if (len > 0) {
          val m = maskOf(key)
          var l = 0
          while (l < scores.length) {
            if ((m & (1 << l)) != 0) scores(l) += 1
            l += 1
          }
        }
      }
    }
    var bestLang = "und"
    var bestScore = 0
    var l = 0
    while (l < scores.length) {
      if (scores(l) > bestScore) { bestScore = scores(l); bestLang = Langs(l) }
      l += 1
    }
    bestLang
  }
}
