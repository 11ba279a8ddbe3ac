package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact all-pairs shingle-Jaccard — the deliberately-quadratic oracle
  * twin behind `x_jaccard_exact` and the `x_dedup_recall` gate. Runs on
  * bounded samples only (quadratic by design, never a production path).
  *
  * Execution shape: the per-document shingle sets arrive as SORTED
  * DISTINCT 64-bit keys (hashed shingles — sorted longs merge exactly
  * like the sorted strings they stand for), the sample is collected and
  * broadcast under a byte budget (the [[Similarity.exactCosineNearDups]]
  * collect-and-broadcast discipline), and each task streams its index
  * range against the broadcast block in a primitive merge loop. The
  * earlier form — a broadcast nested-loop join producing one row per
  * pair with BOTH full shingle-string arrays materialized and copied per
  * pair — spent its time copying ~n²/2 × 2 string arrays through the
  * join row, not intersecting; this emits three longs per pair and
  * copies nothing.
  */
object JaccardExact {

  /** All pairs a < b with union > 0: (a, b, jac_e6) where jac_e6 =
    * round(|inter| * 1e6 / |union|) — the same expression (and the same
    * positive-halves-up rounding) the previous Catalyst form and the
    * DuckDB oracle compute.
    *
    * @param keyed (idCol, keysCol) with keysCol a SORTED array of
    *              DISTINCT longs per row (e.g. `array_sort(transform(
    *              shingles, s => xxhash64(s)))`)
    */
  def pairsE6(keyed: DataFrame, idCol: String = "doc_id",
      keysCol: String = "keys",
      broadcastBudget: Long = Similarity.DefaultBroadcastBudgetBytes)
      : DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits._
    ExactScore.guard(keyed, keysCol, 8L, broadcastBudget,
      "jaccard sample of shingle keys", "shrink the sample (this is the " +
        "deliberately-quadratic oracle twin, not a scale path)")
    val rows = keyed.select(col(idCol), col(keysCol))
      .as[(Long, Array[Long])].collect().sortBy(_._1)
    val n = rows.length
    val bc = spark.sparkContext.broadcast(rows)
    val parallelism = math.max(1,
      math.min(spark.sparkContext.defaultParallelism * 4, n))
    spark.range(0L, n.toLong, 1L, parallelism)
      .mapPartitions { it =>
        val arr = bc.value
        it.flatMap { i0 =>
          val i = i0.toInt
          val (a, ka) = arr(i)
          ((i + 1) until arr.length).iterator.flatMap { j =>
            val (b, kb) = arr(j)
            // linear merge over sorted distinct keys
            var x = 0; var y = 0; var inter = 0
            while (x < ka.length && y < kb.length) {
              val c = java.lang.Long.compare(ka(x), kb(y))
              if (c == 0) { inter += 1; x += 1; y += 1 }
              else if (c < 0) x += 1
              else y += 1
            }
            val uni = ka.length + kb.length - inter
            if (uni > 0)
              Iterator.single((a, b,
                math.round(inter * 1000000.0 / uni)))
            else Iterator.empty
          }
        }
      }
      .toDF("a", "b", "jac_e6")
  }
}
