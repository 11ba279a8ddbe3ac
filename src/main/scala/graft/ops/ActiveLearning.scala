package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-curation sampling for an annotation/training loop (SURVEY §2.5
  * O11 — the analog of `HybridSampling.select_indices`,
  * /root/reference/ocr_service/modules/active_learning.py:50-96):
  * cluster the unlabeled pool for diversity, then take the most
  * UNCERTAIN rows from each cluster — mitigates sampling bias (all
  * picks from one region) and outlier flooding (all picks are weird).
  *
  * Two clusterings:
  *  - [[sampleByEmbedding]] — KMeans-style cells from [[IvfIndex]]
  *    centroids (the reference's KMeans, random_state→deterministic
  *    seeds). The real curation path.
  *  - [[sampleByQuantile]] — clusters over a scalar feature from
  *    approxQuantile cut-points (scale path, no global sort); its exact
  *    ntile twin [[sampleByQuantileExact]] is fully relational and
  *    carries the DuckDB oracle.
  *
  * All variants end in window top-k per cluster: one shuffle on the
  * cluster key, rank state O(1) per partition — at 100 TB this is a
  * single wide stage, no driver materialization of the pool.
  */
object ActiveLearning {

  /** Embedding-clustered hybrid sampling. Input: (idCol, embCol,
    * uncertaintyCol). Output: selected rows with `cluster` and
    * `sel_rank`. Mirrors HybridSampling.select_indices end-to-end:
    * per-cluster top-⌊n/k⌋, then a top-up pass that pads the selection
    * to `nSamples` from the remaining pool by uncertainty
    * (active_learning.py:82-91; topped-up rows keep their per-cluster
    * sel_rank, which exceeds perCluster), then truncation to `nSamples`
    * in the reference's own list order — `selected_indices[:n_samples]`
    * slices the cluster-major append (cluster 0's picks first, each
    * cluster's picks in uncertainty-desc order, top-up picks appended
    * last), so the truncation sorts (phase asc, cluster asc, sel_rank
    * asc) and the selected SET matches the reference even when
    * k > nSamples. */
  def sampleByEmbedding(pool: DataFrame, idCol: String, embCol: String,
      uncertaintyCol: String, nSamples: Int, nClusters: Int,
      topUp: Boolean = true): DataFrame = {
    val forTrain = pool.select(col(idCol).as("vec_id"),
      col(embCol).as("embedding"))
    // Long math: a .count().toInt overflow above 2^31 rows would
    // silently collapse k to 1 cluster at exactly the scale that needs
    // the diversity clustering most
    val k = math.max(1L, math.min(nClusters.toLong, forTrain.count())).toInt
    val centroids = IvfIndex.train(forTrain, k)
    val assignUdf = udf((v: Seq[Float]) => IvfIndex.nearestCell(centroids, v))
    val clustered = pool.withColumn("cluster", assignUdf(col(embCol)))
    val perCluster = math.max(1, nSamples / k)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col(uncertaintyCol).desc, col(idCol).desc)
    val ranked = clustered.withColumn("sel_rank", row_number().over(w))
    val base = ranked.filter(col("sel_rank") <= perCluster)
      .withColumn("__phase", lit(0))
    val selected =
      if (!topUp) base
      else {
        val nBase = base.count()
        if (nBase >= nSamples) base
        else base.unionByName(
          ranked.filter(col("sel_rank") > perCluster)
            .orderBy(col(uncertaintyCol).desc, col(idCol).desc)
            .limit((nSamples - nBase).toInt)
            .withColumn("__phase", lit(1)))
      }
    // truncate in the reference's selected_indices order: cluster-major
    // base picks first (cluster asc, then that cluster's uncertainty-desc
    // sel_rank), top-up picks after (uncertainty desc, id desc) —
    // (cluster, sel_rank) is a total order within phase 0, so the
    // [:n_samples] slice keeps exactly the reference's set; orderBy+limit
    // is a distributed TakeOrdered, not a global sort
    selected.orderBy(col("__phase").asc,
      when(col("__phase") === 0, col("cluster")).otherwise(lit(0)).asc,
      when(col("__phase") === 0, col("sel_rank")).otherwise(lit(0)).asc,
      col(uncertaintyCol).desc, col(idCol).desc)
      .limit(nSamples)
      .drop("__phase")
  }

  /** Quantile-clustered sampling — the scale path: cluster bounds come
    * from `approxQuantile` cut-points (Greenwald–Khanna sketch, one
    * map-combined pass), so no global-sort `ntile` forces the whole pool
    * through a single task. Ties on `orderCol` land in one cluster
    * (cut-point semantics) — the ntile twin below splits them by rank. */
  def sampleByQuantile(pool: DataFrame, idCol: String, orderCol: String,
      uncertaintyCol: String, nClusters: Int, perCluster: Int,
      relativeError: Double = 0.001): DataFrame = {
    val probs = (1 until nClusters).map(_.toDouble / nClusters).toArray
    val cuts =
      if (probs.isEmpty) Array.empty[Double]
      else pool.select(col(orderCol).cast("double").as("__q"))
        .stat.approxQuantile("__q", probs, relativeError).distinct
    val clusterExpr = cuts.foldLeft(lit(1)) { (acc, c) =>
      acc + when(col(orderCol).cast("double") > c, 1).otherwise(0)
    }
    val clustered = pool.withColumn("cluster", clusterExpr)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col(uncertaintyCol).desc, col(idCol).asc)
    clustered
      .withColumn("sel_rank", row_number().over(w))
      .filter(col("sel_rank") <= perCluster)
  }

  /** Exact ntile twin of [[sampleByQuantile]]: deterministic and
    * SQL-expressible end-to-end (the DuckDB oracle), but the global-sort
    * ntile funnels every pool row through ONE task — test/oracle scale
    * only, never the 100 TB path. */
  def sampleByQuantileExact(pool: DataFrame, idCol: String, orderCol: String,
      uncertaintyCol: String, nClusters: Int, perCluster: Int): DataFrame = {
    val wQ = Window.orderBy(col(orderCol).asc, col(idCol).asc)
    val clustered = pool.withColumn("cluster", ntile(nClusters).over(wQ))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col(uncertaintyCol).desc, col(idCol).asc)
    clustered
      .withColumn("sel_rank", row_number().over(w))
      .filter(col("sel_rank") <= perCluster)
  }
}
