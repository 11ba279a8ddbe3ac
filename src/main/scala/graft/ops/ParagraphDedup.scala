package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Corpus-wide paragraph-level dedup (the CC-Net / RefinedWeb recipe):
  * boilerplate and syndicated text repeat ACROSS documents even when no
  * two whole documents match, so the unit of dedup drops from the
  * document to the paragraph — each distinct paragraph is kept at its
  * first occurrence and every later copy is removed, then documents are
  * rebuilt from their surviving paragraphs.
  *
  * Scale shape: ONE shuffle, keyed on md5(paragraph) (the [[Dedup]]
  * exact-dedup discipline — a 128-bit key dedups exactly at any corpus
  * size without carrying the paragraph text twice); the winner per key
  * is `min(struct(id, idx))` — a map-side-combinable aggregate, so the
  * shuffle carries one candidate per (partition, paragraph), not one
  * per occurrence. First occurrence = smallest (document id, position
  * in document) lexicographically, which makes the output deterministic
  * and independent of partitioning.
  *
  * Skew: a boilerplate paragraph duplicated across millions of pages
  * hash-routes all its occurrences to one join partition (inherent to
  * the per-occurrence keep flag). The winner side is one row per key,
  * so AQE's skew-join split handles the oversized partition — leave
  * `spark.sql.adaptive.skewJoin.enabled` on (default) for crawl-scale
  * runs.
  */
object ParagraphDedup {

  /** Explode text into (id, para_idx, para) rows, splitting at blank
    * lines (runs of two or more newlines) with the native
    * [[blankLineParagraphs]] splitter. Empty/whitespace-only fragments
    * are dropped; `para_idx` is the fragment's 0-based position among
    * the SURVIVING fragments of its document. "Whitespace" is what
    * Spark's `trim` strips: the space 0x20 only. */
  def paragraphs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ps = graft.sql.GraftFunctions.graft_paragraphs(col(textCol))
    // one select: over a computed array (not a column) the optimizer
    // infers no `size(ps) > 0 AND isnotnull(ps)` filter for the
    // generator, a filter that would evaluate the split twice more
    docs.select(col(idCol).as("id"), posexplode(ps).as(Seq("para_idx", "para")))
  }

  /** `filter(split(text, "\n\n+"), p => length(trim(p)) > 0)` in one
    * byte pass: a newline is the single byte 0x0A in UTF-8, so the
    * fragments between runs of ≥ 2 of them are byte ranges, and a
    * fragment is kept unless it is empty or all 0x20 bytes. Spark's
    * `split` decodes through a Java String, turning each malformed
    * UTF-8 sequence into U+FFFD, so invalid input is decoded the same
    * way first. Fragments are copies, never views of the input. */
  def blankLineParagraphs(text: UTF8String): ArrayData = {
    val t = if (text.isValid) text else UTF8String.fromString(text.toString)
    val b = t.getBytes
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    def emit(from: Int, until: Int): Unit = {
      var k = from
      while (k < until && b(k) == ' ') k += 1
      if (k < until) out += UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, from, until))
    }
    var from = 0
    var i = 0
    while (i + 1 < b.length) {
      if (b(i) == '\n' && b(i + 1) == '\n') {
        emit(from, i)
        i += 2
        while (i < b.length && b(i) == '\n') i += 1
        from = i
      } else i += 1
    }
    emit(from, b.length)
    new GenericArrayData(out.toArray)
  }

  /** Pre-chunked variant for corpora without separator structure:
    * fixed `chunkWords`-word windows as the paragraph unit. The same
    * construction is plain SQL (list slicing) in any engine — what the
    * oracle recomputes. */
  def wordChunks(docs: DataFrame, idCol: String, textCol: String,
                 chunkWords: Int): DataFrame = {
    require(chunkWords > 0, s"chunkWords must be positive (got $chunkWords)")
    docs
      .select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
      .select(col("id"),
        explode(transform(
          sequence(lit(0),
            (ceil(size(col("ws")) / lit(chunkWords.toDouble)) - 1)
              .cast("int")),
          i => struct(i.as("para_idx"),
            array_join(slice(col("ws"), i * chunkWords + 1, lit(chunkWords)),
              " ").as("para")))).as("c"))
      .select(col("id"), col("c.para_idx"), col("c.para"))
  }

  /** First-occurrence winner per distinct paragraph: (id, para_idx,
    * para, keep). One shuffle on md5(para); map-side-combined min. */
  def markDuplicates(paras: DataFrame): DataFrame = {
    val keyed = paras.withColumn("pkey", md5(col("para")))
    val winners = keyed
      .groupBy(col("pkey"))
      .agg(min(struct(col("id"), col("para_idx"))).as("winner"))
    keyed.join(winners, Seq("pkey"))
      .withColumn("keep",
        col("id") === col("winner.id") &&
          col("para_idx") === col("winner.para_idx"))
      .select(col("id"), col("para_idx"), col("para"), col("keep"))
  }

  /** Rebuild documents from surviving paragraphs (original order, one
    * blank line between them): (id, text, paras_total, paras_kept).
    * Documents whose every paragraph was seen earlier come back with
    * empty text — downstream filters drop them like any other
    * too-short document. EVERY input id survives: a document whose text
    * has no non-empty paragraph (empty/whitespace-only) emits no
    * paragraph rows, and rejoins as ('', 0, 0) rather than vanishing
    * (it used to be dropped, contradicting this contract). */
  def dedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val marked = markDuplicates(paragraphs(docs, idCol, textCol))
    val rebuilt = marked
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("paras_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("paras_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("para_idx"), col("para"))))),
            s => s.getField("para")),
          "\n\n").as("text"))
      .select(col("id").as(idCol), col("text"),
        col("paras_total"), col("paras_kept"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text"), lit("")).as("text"),
        coalesce(col("paras_total"), lit(0L)).as("paras_total"),
        coalesce(col("paras_kept"), lit(0L)).as("paras_kept"))
  }

  /** Per-document survival stats over fixed word-window chunks —
    * the oracle-comparable form: (id, paras_total, paras_kept).
    *
    * r08 shape: the generic [[markDuplicates]] path joined the winner
    * table back onto the full paragraph rows — an exchange carrying
    * every chunk's TEXT just to derive a boolean that is immediately
    * aggregated away. The stats only need counts, and `paras_kept` per
    * document IS the number of winner rows electing that document:
    * chunk text now dies at the md5, and the three aggregates + final
    * join move (id|16-byte key, long) rows only. Output identical
    * (every doc emits ≥1 chunk, so totals covers every input id).
    */
  def chunkStats(docs: DataFrame, idCol: String, textCol: String,
                 chunkWords: Int): DataFrame = {
    val paras = wordChunks(docs, idCol, textCol, chunkWords)
      .select(col("id"), col("para_idx"), md5(col("para")).as("pkey"))
    val totals = paras
      .groupBy(col("id"))
      .agg(count(lit(1)).as("paras_total"))
    val kept = paras
      .groupBy(col("pkey"))
      .agg(min(struct(col("id"), col("para_idx"))).as("winner"))
      .groupBy(col("winner.id").as("id"))
      .agg(count(lit(1)).as("paras_kept"))
    totals.join(kept, Seq("id"), "left")
      .select(col("id").as(idCol), col("paras_total"),
        coalesce(col("paras_kept"), lit(0L)).as("paras_kept"))
  }
}
