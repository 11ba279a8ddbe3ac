package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data Selection with Importance Resampling (DSIR, Xie et al., NeurIPS
  * 2023): pick raw-corpus documents that look like a small high-quality
  * TARGET corpus by scoring each document under the ratio of two unigram
  * models — one trained on the target, one on the raw pool — and keeping
  * the top importance quantile.
  *
  * The published recipe scores with log-likelihood ratios of hashed
  * n-gram models; logs are transcendental and drift across engines, so
  * the score here is the exact-integer analog: every token gets an
  * e6-scaled add-one-smoothed RATIO weight
  * `w(t) = (count_target(t) + 1) * 1e6 DIV (count_raw(t) + 1)` and a
  * document scores the MEAN weight of its tokens (`sum DIV n`). The
  * ranking this induces is the same "looks like the target" ordering —
  * target-heavy tokens score ≫ 1e6, target-absent tokens ≈ 0 — and any
  * SQL engine replays it bit-exactly.
  *
  * Scale shape (the 100 TB contract):
  *  - both unigram models are ONE map-combinable word count each (the
  *    target corpus is small by definition);
  *  - the weight table is vocabulary-sized. [[scoreDocs]] joins it
  *    shuffle-side (safe at any vocabulary); [[hashedWeights]] is the
  *    published hashing-trick variant — `pmod(hash(token), buckets)`
  *    folds the vocabulary into a FIXED bucket count so the model
  *    broadcasts and scoring collapses to a zero-shuffle map stage;
  *  - selection is a threshold, not a sort: [[selectTopFraction]] uses
  *    the exact ntile twin at oracle scale, and the
  *    [[QualityTiers.tierThresholds]] cut-point path at cluster scale.
  */
object Dsir {

  /** Per-token importance weights from the two corpora:
    * (token, weight_e6) over the RAW vocabulary, with add-one smoothing
    * on both counts. Tokens the target never saw get
    * `1e6 DIV (cnt_raw + 1)` (≈ 0 for common raw tokens); tokens the
    * raw pool barely has but the target loves score ≫ 1e6. */
  def importanceWeights(raw: DataFrame, target: DataFrame,
      textCol: String): DataFrame =
    ratioWeights(WordTokens.counts(raw, textCol, "token", "cnt"),
      WordTokens.counts(target, textCol, "token", "cnt"), "token")

  /** Hashing-trick variant: fold the vocabulary into `buckets` rows by
    * summing counts within `pmod(hash(token), buckets)` — the published
    * DSIR feature space. The result broadcasts at any corpus size;
    * collisions blur weights exactly the way the paper's hashed n-grams
    * do. Not SQL-oracle-expressible (Spark's murmur3) — spec-gated. */
  def hashedWeights(raw: DataFrame, target: DataFrame, textCol: String,
      buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive (got $buckets)")
    def bucketCounts(docs: DataFrame) =
      WordTokens.counts(docs, textCol, "token", "cnt")
      .groupBy(pmod(hash(col("token")), lit(buckets)).cast("long")
        .as("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
    ratioWeights(bucketCounts(raw), bucketCounts(target), "bucket")
  }

  /** (key, weight_e6) over the raw side's keys: the add-one-smoothed
    * ratio of two (key, cnt) count tables. */
  private def ratioWeights(raw: DataFrame, target: DataFrame,
      key: String): DataFrame =
    raw.withColumnRenamed("cnt", "cnt_raw")
      .join(target.withColumnRenamed("cnt", "cnt_target"), Seq(key), "left")
      .select(col(key),
        expr("(coalesce(cnt_target, 0) + 1) * 1000000 DIV (cnt_raw + 1)")
          .as("weight_e6"))

  /** Score documents: per-doc mean token weight,
    * `score = sum(n_t * w(t)) DIV n_tokens` (0 for empty documents).
    * Tokens without a weight row (scoring NEW text against a frozen
    * model) default to the unsmoothed-unknown weight 1e6 — neutral.
    * Plan: explode → (id, token) count → join weights → final groupBy;
    * the join keys carry two longs + a token, never the text. */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame): DataFrame = {
    val tokenCounts = docs
      .select(col(idCol),
        explode(WordTokens.tokensCol(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("n"))
    val scored = tokenCounts
      .join(weights, Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(
        sum(col("n") * coalesce(col("weight_e6"), lit(1000000L)))
          .as("sum_w"),
        sum(col("n")).as("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        expr("sum_w DIV n_tokens").as("score"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** Exact top-fraction selection: `selected = ntile(n) == 1` over
    * (score desc, id asc) — keep the top 1/n of documents. The SQL
    * twin of the paper's resampling step; at cluster scale swap the
    * global ntile for an approxQuantile threshold
    * ([[QualityTiers.tierThresholds]] discipline). */
  def selectTopFraction(scored: DataFrame, idCol: String,
      nTiles: Int = 4): DataFrame = {
    require(nTiles > 0, s"nTiles must be positive (got $nTiles)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("score").desc, col(idCol).asc)
    scored.withColumn("selected", ntile(nTiles).over(w) === 1)
  }
}
