package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CC-Net-style quality TIER extraction (Wenzek et al., LREC 2020): score
  * every document with a corpus-trained unigram language model, then cut
  * each language's documents into head / middle / tail tiers so a
  * training-data user can keep the head, sample the middle, and drop the
  * tail.
  *
  * The reference recipe scores with a KenLM 5-gram perplexity; no model
  * runtime ships in this engine, so the score is the exact-integer
  * analog: the MEAN CORPUS FREQUENCY of the document's tokens under a
  * top-K unigram vocabulary (out-of-vocabulary tokens count 1). Fluent,
  * on-distribution text is built from common tokens → high mean
  * frequency → head; noise and boilerplate-of-another-distribution sink
  * to the tail. Integer end to end (`sum DIV count`), so any SQL engine
  * recomputes the score bit-exactly — no transcendental (log/exp)
  * cross-engine drift.
  *
  * Scale shape (the 100 TB contract):
  *  - training = ONE map-combinable groupBy over tokens (the classic
  *    word-count); the vocabulary is capped at top-K BEFORE it leaves
  *    the cluster, so the driver collect is K rows regardless of corpus
  *    size;
  *  - scoring = a per-row kernel over the broadcast vocabulary — zero
  *    shuffles, stays in one map stage with the scan;
  *  - tiering: [[tiersExact]] is the per-language `ntile` twin (exact,
  *    SQL-oracle-expressible — a per-language global sort, fine while no
  *    single language exceeds a sortable partition range); the 100 TB
  *    path is [[tierThresholds]] + [[assignByThresholds]] — per-language
  *    approxQuantile cut points (Greenwald–Khanna, one map-combined
  *    pass), assignment again a per-row expression with zero shuffles,
  *    mirroring [[ActiveLearning.sampleByQuantile]]'s cut-point
  *    discipline.
  */
object QualityTiers {

  /** Deterministic top-K vocabulary (cnt desc, token asc): the
    * broadcastable LM. K bounds the driver collect at any corpus size. */
  def vocabulary(freqs: DataFrame, topK: Int): DataFrame = {
    require(topK > 0, s"topK must be positive (got $topK)")
    freqs.orderBy(col("cnt").desc, col("token").asc).limit(topK)
  }

  /** Collect the capped vocabulary to a driver map. The cap is enforced
    * BEFORE the collect (a `limit`), so this is K rows by construction —
    * the [[Similarity]] pre-collect discipline. */
  def collectVocabulary(freqs: DataFrame, topK: Int): Map[String, Long] =
    vocabulary(freqs, topK).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Score documents against a trained vocabulary: per-row kernel over
    * the broadcast map, zero shuffles. Output adds
    * (sum_freq, n_tokens, score) — score = sum_freq DIV n_tokens (mean
    * token corpus frequency, floor; 0 for empty documents). OOV tokens
    * count 1 — the +1-smoothing floor. */
  def scoreDocs(docs: DataFrame, textCol: String,
      vocab: Map[String, Long]): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(vocab)
    val scoreUdf = udf { text: String =>
      val v = bc.value
      val ts = WordTokens.tokens(text)
      var sum = 0L
      var i = 0
      while (i < ts.length) {
        sum += v.getOrElse(ts(i), 1L)
        i += 1
      }
      (sum, ts.length.toLong, if (ts.length == 0) 0L else sum / ts.length)
    }
    docs
      .withColumn("__s", scoreUdf(col(textCol)))
      .withColumn("sum_freq", col("__s._1"))
      .withColumn("n_tokens", col("__s._2"))
      .withColumn("score", col("__s._3"))
      .drop("__s")
  }

  /** Train on the corpus itself and score it — the CC-Net
    * self-supervised loop in one call. The vocabulary is the top-K of
    * the corpus unigram counts, (token, cnt). */
  def scoreSelf(docs: DataFrame, textCol: String, topK: Int): DataFrame =
    scoreDocs(docs, textCol, collectVocabulary(
      WordTokens.counts(docs, textCol, "token", "cnt"), topK))

  /** Exact per-group tier assignment: ntile(n) over
    * (scoreCol desc, idCol asc) within each `groupCol` — tier 1 = head.
    * Fully relational (the SQL-oracle twin); per-language sort, so fine
    * until one language outgrows a sort range — then use the
    * cut-point path below. */
  def tiersExact(scored: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, nTiers: Int = 3): DataFrame = {
    require(nTiers > 0, s"nTiers must be positive (got $nTiers)")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    scored.withColumn("tier", ntile(nTiers).over(w).cast("long"))
  }

  /** Human labels for the 3-tier cut (CC-Net's names). */
  def tierLabel(tier: Column): Column =
    when(tier === 1, "head").when(tier === 2, "middle").otherwise("tail")

  /** Scale path, step 1: per-group approxQuantile cut points over the
    * score — (group, cuts) with nTiers-1 ascending cut points. One
    * map-combined sketch pass, no global sort. */
  def tierThresholds(scored: DataFrame, groupCol: String, scoreCol: String,
      nTiers: Int = 3, relativeError: Double = 0.001): DataFrame = {
    require(nTiers > 0, s"nTiers must be positive (got $nTiers)")
    val probs = (1 until nTiers).map(_.toDouble / nTiers)
    scored
      .groupBy(col(groupCol))
      .agg(percentile_approx(col(scoreCol).cast("double"),
        array(probs.map(lit): _*),
        lit(math.max(1, (1.0 / relativeError).toInt))).as("cuts"))
  }

  /** Scale path, step 2: assign tiers from cut points — a broadcast
    * join (thresholds = one row per language) plus a per-row expression;
    * zero wide shuffles. Tier 1 = head = score above the top cut.
    * Cut-point semantics: score ties around a cut land in one tier
    * (the exact ntile twin splits them by rank instead). */
  def assignByThresholds(scored: DataFrame, thresholds: DataFrame,
      groupCol: String, scoreCol: String): DataFrame =
    scored
      .join(broadcast(thresholds), Seq(groupCol), "left")
      .withColumn("tier",
        (size(coalesce(col("cuts"), array())) + 1 -
          aggregate(coalesce(col("cuts"), array()), lit(0),
            (acc, c) => acc +
              when(col(scoreCol).cast("double") > c, 1).otherwise(0)))
          .cast("long"))
      .drop("cuts")
}
