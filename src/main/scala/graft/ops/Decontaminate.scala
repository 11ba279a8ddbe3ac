package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag (and drop) training documents that
  * overlap an evaluation set at the word n-gram level — the standard
  * guard against test-set leakage in web-scale corpora (GPT-3 used
  * 13-gram overlap; the n is a parameter here and small corpora need a
  * smaller n to be non-degenerate).
  *
  * A document is CONTAMINATED when any of its word n-grams appears in
  * the benchmark's n-gram set. The n-grams are [[WordTokens.ngrams]]
  * (single-space words, empties dropped, joined back with a single
  * space) — plain `string_split` + list slicing in any SQL engine,
  * which is what the oracle recomputes.
  *
  * Scale shape: evaluation sets are small (MBs) next to the corpus, so
  * the benchmark n-gram set is collected once — bounded by
  * `maxBenchNgrams` (one collect of at most `maxBenchNgrams + 1`
  * grams) — and broadcast; scanning is then a per-row kernel, zero
  * shuffles, one map stage with the scan. For blocklists too big to
  * broadcast, [[contaminationJoined]] is the shuffle twin (explode +
  * ids-only aggregate) with identical output, spec-pinned.
  */
object Decontaminate {

  /** Distinct benchmark n-grams, collected under an asserted bound and
    * returned as a Set. One bounded collect evaluates the distinct set
    * once: at most `maxBenchNgrams + 1` grams reach the driver, so an
    * oversized benchmark fails without materializing there. */
  def collectBenchNgrams(bench: DataFrame, textCol: String, n: Int,
      maxBenchNgrams: Long = 10000000L): Set[String] = {
    require(n > 0, s"n must be positive (got $n)")
    val grams = bench
      .select(explode(WordTokens.ngramsCol(col(textCol), n)).as("g"))
      .distinct()
      .limit(math.min(maxBenchNgrams, Int.MaxValue - 1L).toInt + 1)
      .collect()
    require(grams.length <= maxBenchNgrams,
      s"benchmark n-gram set has more than $maxBenchNgrams distinct grams " +
        "— raise maxBenchNgrams or use contaminationJoined (the " +
        "non-broadcast twin)")
    grams.map(_.getString(0)).toSet
  }

  /** Per-document contamination stats against a broadcast benchmark
    * set: (idCol, ngrams_total, hits, contaminated). `hits` counts
    * n-gram POSITIONS that match (occurrences, not distinct grams).
    * Zero shuffles — one pass over each document. */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
      benchNgrams: Set[String], n: Int): DataFrame = {
    require(n > 0, s"n must be positive (got $n)")
    val bc = docs.sparkSession.sparkContext.broadcast(benchNgrams)
    val nn = n
    val statsUdf = udf { text: String =>
      val gs = WordTokens.ngrams(text, nn)
      (gs.length.toLong, gs.count(bc.value.contains).toLong)
    }
    docs
      .withColumn("__c", statsUdf(col(textCol)))
      .select(col(idCol), col("__c._1").as("ngrams_total"),
        col("__c._2").as("hits"),
        (col("__c._2") > 0L).as("contaminated"))
  }

  /** One-call form: collect the benchmark under the bound, then scan. */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int): DataFrame =
    contamination(docs, idCol, textCol,
      collectBenchNgrams(bench, benchTextCol, n), n)

  /** Shuffle twin for blocklists too big to broadcast: explode document
    * n-grams, left-join the distinct benchmark set (ids + grams only —
    * no document text crosses the shuffle), aggregate per document.
    * Identical output to [[contamination]] by construction; keeps
    * zero-gram documents via the explode_outer. */
  def contaminationJoined(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int): DataFrame = {
    require(n > 0, s"n must be positive (got $n)")
    val grams = docs
      .select(col(idCol),
        explode_outer(WordTokens.ngramsCol(col(textCol), n)).as("g"))
    val benchGrams = bench
      .select(explode(WordTokens.ngramsCol(col(benchTextCol), n)).as("g"))
      .distinct()
      .withColumn("__hit", lit(1L))
    grams
      .join(benchGrams, Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(col("g")).as("ngrams_total"),
        coalesce(sum(col("__hit")), lit(0L)).as("hits"))
      .withColumn("contaminated", col("hits") > 0L)
  }
}
