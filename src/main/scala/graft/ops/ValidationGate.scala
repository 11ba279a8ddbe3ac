package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Batch data-quality gate (SURVEY §2.5 O12 — the analog of the
  * reference's Great Expectations checks,
  * /root/reference/ocr_service/utils/validation.py:19-56, and drift
  * summary, utils/drift_detection.py:45-80): aggregate assertions over
  * an extraction-output batch as plain Catalyst aggregations —
  * one map-combined pass, no per-row overhead.
  */
object ValidationGate {

  final case class GateResult(
      total: Long,
      failed: Long,
      empty_text: Long,
      null_url: Long,
      dup_url: Long,
      confidence_out_of_range: Long,
      type_conf_out_of_range: Long,
      passed: Boolean)

  /** Null/range/uniqueness checks; `passed` when hard invariants hold
    * (no null urls, no dup urls, all scores in [0,1]). */
  def check(results: DataFrame): GateResult = {
    val agg = results.agg(
      count(lit(1)).as("total"),
      sum(when(col("status") === "FAILED", 1L).otherwise(0L)).as("failed"),
      sum(when(length(col("text")) === 0, 1L).otherwise(0L)).as("empty"),
      sum(when(col("url").isNull, 1L).otherwise(0L)).as("null_url"),
      (count(lit(1)) - countDistinct(col("url"))).as("dup_url"),
      sum(when(col("confidence") < 0.0 || col("confidence") > 1.0, 1L)
        .otherwise(0L)).as("conf_oor"),
      sum(when(col("type_confidence") < 0.0 || col("type_confidence") > 1.0, 1L)
        .otherwise(0L)).as("tconf_oor")
    ).collect()(0)

    val r = GateResult(
      total = agg.getLong(0),
      failed = agg.getLong(1),
      empty_text = agg.getLong(2),
      null_url = agg.getLong(3),
      dup_url = agg.getLong(4),
      confidence_out_of_range = agg.getLong(5),
      type_conf_out_of_range = agg.getLong(6),
      passed = false)
    r.copy(passed = r.null_url == 0 && r.dup_url == 0 &&
      r.confidence_out_of_range == 0 && r.type_conf_out_of_range == 0)
  }

  /** Distribution summary for drift comparison between two batches:
    * per-document_type share + mean quality (join on document_type to
    * diff against a reference batch). */
  def distribution(results: DataFrame): DataFrame =
    results
      .groupBy(col("document_type"))
      .agg(
        count(lit(1)).as("docs"),
        avg(col("quality.quality_score")).as("mean_quality"),
        avg(col("confidence")).as("mean_confidence"))

  /** Relational validation profile per `typeCol` (the SQL-oracle-able
    * face of the gate): counts, empty and short (< 50 chars) text
    * counts, exact-integer char totals, and a per-group `passed` verdict
    * (no empties). Means are sum/count over exact integers —
    * deterministic across partition orders, unlike float `avg`. */
  def profile(batch: DataFrame, typeCol: String, textCol: String): DataFrame =
    batch.groupBy(col(typeCol).as("gtype"))
      .agg(
        count(lit(1)).as("docs"),
        sum(when(length(col(textCol)) === 0, 1L).otherwise(0L)).as("n_empty"),
        sum(when(length(col(textCol)) < 50, 1L).otherwise(0L))
          .as("n_short"),
        sum(length(col(textCol)).cast("long")).as("sum_chars"))
      .withColumn("mean_chars_e2",
        round(col("sum_chars") * lit(100.0) / greatest(col("docs"), lit(1L)))
          .cast("long"))
      .withColumn("passed", col("n_empty") === 0L)

  /** Generic batch-shape summary: per-`typeCol` count + exact-integer
    * mean of `metricCol` (sum/count, NOT float `avg`, so the value is
    * independent of partition summation order — deterministic across
    * parallelism levels and reproducible by any SQL engine). */
  def shape(batch: DataFrame, typeCol: String, metricCol: String): DataFrame =
    batch.groupBy(col(typeCol).as("gtype"))
      .agg(count(lit(1)).as("n"), sum(col(metricCol)).as("metric_sum"))

  /** Drift comparison between a current and a baseline batch (the
    * verdict half of the reference's drift check,
    * /root/reference/ocr_service/utils/drift_detection.py:45-80 — there
    * delegated to Evidently's distribution tests; here an explicit
    * per-type share + mean-metric delta with a share threshold):
    * one row per type with count shares (ppm), mean-metric deltas
    * (×100), and a `drifted` verdict when the share moved more than
    * 50,000 ppm (5 points). Types absent from one batch get share 0 there.
    * Two map-combined aggregations + a broadcast-sized outer join. */
  def drift(current: DataFrame, baseline: DataFrame, typeCol: String,
      metricCol: String): DataFrame = {
    val cur = shape(current, typeCol, metricCol)
      .select(col("gtype"), col("n").as("n_cur"),
        col("metric_sum").as("sum_cur"))
    val base = shape(baseline, typeCol, metricCol)
      .select(col("gtype"), col("n").as("n_base"),
        col("metric_sum").as("sum_base"))
    val joined = cur.join(base, Seq("gtype"), "full_outer")
      .na.fill(0L, Seq("n_cur", "n_base", "sum_cur", "sum_base"))
    val totCur = sum(col("n_cur")).over(Window.partitionBy())
    val totBase = sum(col("n_base")).over(Window.partitionBy())
    val shareCur = round(col("n_cur") * lit(1000000.0) /
      greatest(totCur, lit(1L))).cast("long")
    val shareBase = round(col("n_base") * lit(1000000.0) /
      greatest(totBase, lit(1L))).cast("long")
    val meanCur = col("sum_cur").cast("double") / greatest(col("n_cur"), lit(1L))
    val meanBase = col("sum_base").cast("double") / greatest(col("n_base"), lit(1L))
    joined
      .withColumn("share_cur_ppm", shareCur)
      .withColumn("share_base_ppm", shareBase)
      .withColumn("share_delta_ppm", shareCur - shareBase)
      .withColumn("mean_delta_e2",
        round((meanCur - meanBase) * 100).cast("long"))
      .withColumn("drifted",
        abs(col("share_delta_ppm")) > 50000L)
      .select(col("gtype"), col("n_cur"), col("n_base"),
        col("share_cur_ppm"), col("share_base_ppm"),
        col("share_delta_ppm"), col("mean_delta_e2"), col("drifted"))
  }
}
