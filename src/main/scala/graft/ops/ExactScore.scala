package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The exact-scoring core of the vector operators: the brute top-k, the
  * exact all-pairs pass and the LSH/IVF candidate ranking all score
  * through it, as the candidate paths share [[Buckets]].
  *
  *  - [[block]] collects an id-sorted vector block under a byte budget
  *    and broadcasts it;
  *  - [[TopK]] is the bounded per-query buffer, (cos desc, id asc);
  *  - [[rank]] is the ranking window;
  *  - [[rankPairs]] ranks candidate pairs on the broadcast or the join
  *    path;
  *  - [[fits]] is the size gate of the auto routes and of that choice.
  *
  * Scores are [[SimilarityKernel.cosinePrenormed]] over the block's
  * norms, bit-identical to the join path's GraftCosine and to the DuckDB
  * oracle's left-to-right double fold (OpsSpec-pinned). */
private[ops] object ExactScore {

  /** Vectors sorted by id, with each one's sqrt-norm precomputed:
    * recomputing both norms per PAIR tripled the inner-loop flops for
    * identical bits. */
  final case class Block(ids: Array[Long], vecs: Array[Array[Float]],
      norms: Array[Double]) {
    /** Index of `id`; a pair naming an id outside the block fails. */
    def indexOf(id: Long): Int = {
      val i = java.util.Arrays.binarySearch(ids, id)
      require(i >= 0, s"pair references unknown vec_id $id")
      i
    }

    /** The first index whose id is greater than `id`. */
    def after(id: Long): Int = {
      var lo = 0; var hi = ids.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ids(mid) <= id) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  private def within(bytes: Long, budget: Long, what: String,
      remedy: String): Unit =
    require(bytes <= budget,
      s"$what is $bytes B > broadcast budget $budget B — $remedy")

  /** The pre-collect guard: one aggregate job sums `bytesPer` × the
    * length of array column `arr` over `df`, so an oversized set fails
    * before a collect materializes it on the driver. */
  def guard(df: DataFrame, arr: String, bytesPer: Long, budget: Long,
      what: String, remedy: String): Unit =
    within(df.agg(coalesce(sum(size(col(arr)).cast("long") * bytesPer),
      lit(0L))).head.getLong(0), budget, what, remedy)

  /** Collects `df`'s (vec_id, embedding) rows sorted by id, checks their
    * bytes against `budget` and broadcasts them as a [[Block]] — the
    * driver hop a `broadcast()` join hint performs. `guarded` runs
    * [[guard]] first, for a set no size gate has bounded. */
  def block(df: DataFrame, budget: Long, what: String, remedy: String,
      guarded: Boolean): Broadcast[Block] = {
    val spark = df.sparkSession
    import spark.implicits._
    if (guarded) guard(df, "embedding", 4L, budget, what, remedy)
    val rows = df.select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    within(rows.iterator.map(r => if (r._2 == null) 0L else r._2.length * 4L)
      .sum, budget, what, remedy)
    spark.sparkContext.broadcast(Block(rows.map(_._1), rows.map(_._2),
      rows.map(r => SimilarityKernel.sqrtNorm(r._2))))
  }

  /** The best `k` neighbors of one query, (cos desc, id asc). */
  final class TopK(k: Int) {
    private[this] val cos = new Array[Double](math.max(k, 0))
    private[this] val ids = new Array[Long](math.max(k, 0))
    private[this] var len = 0

    /** Keeps (c, id) if it ranks among the best k. With `skipSeen` a
      * sighting already buffered is dropped, so a pair found in several
      * buckets never holds two slots; a repeat that is no longer
      * buffered was evicted by k better pairs and fails the rank test. */
    def insert(c: Double, id: Long, skipSeen: Boolean = false): Unit = {
      val l = len
      if (l < k || (l > 0 && (c > cos(l - 1) ||
          (c == cos(l - 1) && id < ids(l - 1))))) {
        var s = 0
        while (skipSeen && s < l) {
          if (ids(s) == id && cos(s) == c) return
          s += 1
        }
        var pos = if (l < k) l else k - 1
        while (pos > 0 && (c > cos(pos - 1) ||
            (c == cos(pos - 1) && id < ids(pos - 1)))) {
          cos(pos) = cos(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
        }
        cos(pos) = c; ids(pos) = id
        if (l < k) len = l + 1
      }
    }

    /** The buffered (query, neighbor, cos) rows, best first. */
    def rows(query: Long): Iterator[(Long, Long, Double)] =
      Iterator.range(0, len).map(j => (query, ids(j), cos(j)))
  }

  /** The ranking window: each query's first `k` (query_id, neighbor_id,
    * cos) rows by (cos desc, neighbor_id asc), numbered `rank`. */
  def rank(scored: DataFrame, k: Int): DataFrame = scored
    .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)))
    .filter(col("rank") <= k)
    .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))

  /** Embedding dimension from one row (a 1-row head job); 0 for an empty
    * corpus. Only [[fits]] probes it, behind its row-count test. */
  private def embDim(corpus: DataFrame): Int = {
    val rows = corpus.select(size(col("embedding")).as("d")).head(1)
    if (rows.isEmpty) 0 else rows(0).getInt(0)
  }

  /** The size gate: `n` vectors of `corpus` (n < 0: unknown) fit
    * `budget` and n < `crossover` ([[Similarity.routesToBrute]]). The
    * row count is tested first, at dim 1, so the dim probe never
    * partially runs the lineage of a corpus whose row count alone
    * exceeds the budget. */
  def fits(corpus: DataFrame, n: Long, budget: Long,
      crossover: Long = Long.MaxValue): Boolean =
    Similarity.routesToBrute(n, 1, crossover, budget) &&
      Similarity.routesToBrute(n, embDim(corpus), crossover, budget)

  /** Per-query top-k of candidate (query_id, neighbor_id) pairs over
    * `corpus` (vec_id, embedding), `n` rows if known (else -1).
    *
    * When the corpus [[fits]] `budget`, each task scores its pairs
    * against broadcast blocks and keeps a [[TopK]] per query, and the
    * window ranks only the tasks × queries × k partial rows: no pair
    * carries two dim-sized arrays through two join-backs. Otherwise both
    * embeddings join back onto the pairs and the window ranks every
    * pair. Same rows either way: a pair outside its task's per-query
    * top-k can never enter the global one under the same order.
    *
    * `pairs(distinct)` builds the candidates; only the join path needs
    * them distinct (the broadcast path skips repeat sightings in each
    * buffer and dedups the partial rows, whose repeats carry identical
    * cos). Query vectors come from `qBroadcast` on the broadcast path
    * and from `qJoin` on the join path (null: the corpus); a self-query
    * collects one block. Each block's bytes are checked after its
    * collect, so a stale `n` or an oversized query frame fails loudly. */
  def rankPairs(corpus: DataFrame, n: Long, k: Int, budget: Long,
      qBroadcast: DataFrame, qJoin: DataFrame)(
      pairs: Boolean => DataFrame): DataFrame = {
    if (!fits(corpus, n, budget)) {
      val q = if (qJoin == null) corpus else qJoin
      return rank(pairs(true)
        .join(q.select(col("vec_id").as("query_id"),
          col("embedding").as("emb_q")), Seq("query_id"))
        .join(corpus.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("emb_n")), Seq("neighbor_id"))
        .withColumn("cos", Similarity.cosineFast(col("emb_q"), col("emb_n"))),
        k)
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    def blockOf(df: DataFrame) = block(df, budget, "ranking block",
      "the caller's knownN understated the corpus (or the queries frame " +
        "is oversized); use the join ranking path", guarded = false)
    val nVecs = corpus.select(col("vec_id"), col("embedding"))
    val qVecs = if (qBroadcast == null) nVecs
      else qBroadcast.select(col("vec_id"), col("embedding"))
    val bcQ = blockOf(qVecs)
    val bcN = if (qVecs eq nVecs) bcQ else blockOf(nVecs)
    val partial = pairs(false)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val q = bcQ.value
        val nb = bcN.value
        val bufs = new java.util.HashMap[Long, TopK]()
        it.foreach { case (qId, nId) =>
          val qi = q.indexOf(qId)
          val ni = nb.indexOf(nId)
          var b = bufs.get(qId)
          if (b == null) { b = new TopK(k); bufs.put(qId, b) }
          b.insert(SimilarityKernel.cosinePrenormed(
            q.vecs(qi), nb.vecs(ni), q.norms(qi), nb.norms(ni)), nId,
            skipSeen = true)
        }
        import scala.jdk.CollectionConverters._
        bufs.entrySet().iterator().asScala.flatMap(e => e.getValue.rows(e.getKey))
      }
      .toDF("query_id", "neighbor_id", "cos")
    rank(partial.dropDuplicates("query_id", "neighbor_id"), k)
  }
}
