package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The per-bucket population cap: the skew policy of every near-dup and
  * ANN candidate path (MinHash and SimHash bands, winnowing
  * fingerprints, sign-LSH tables, IVF cells).
  *
  * A 100 TB crawl carries millions of near-identical boilerplate pages
  * (and embeddings) that land in the SAME bucket; without a cap that one
  * bucket yields O(m²) pairs and an OOM-sized row. Each bucket keeps its
  * first `cap` ids in its policy's order ([[cap]]), so the self-join is
  * bounded by cap²/2 per bucket, and [[drops]] counts what the cap
  * discarded — a recall loss is reported next to the candidates, never
  * silent. Byte-identical floods are collapsed by each path's exact
  * pre-pass before bucketing, so the cap only bounds the residual
  * near-identical floods. */
private[ops] object Buckets {

  /** A bucket's population cap and the order that picks its survivors
    * (a function of the id column). */
  final case class Policy(size: Int, order: String => Seq[Column])

  /** Text buckets keep their 2,000 lowest doc_ids. */
  val Text = Policy(2000, id => Seq(col(id)))

  /** Vector buckets keep a deterministic hash-ordered sample of 10,000
    * ids: `(xxhash64(id), id)`, so the survivors do not cluster at the
    * low end of the id space. */
  val Vector = Policy(10000, id => Seq(xxhash64(col(id)), col(id)))

  /** The first `cap` rows of each `keys` bucket in `order`. */
  def cap(rows: DataFrame, keys: Seq[Column], order: Seq[Column],
      cap: Int): DataFrame =
    rows
      .withColumn("rn",
        row_number().over(Window.partitionBy(keys: _*).orderBy(order: _*)))
      .filter(col("rn") <= cap)
      .drop("rn")

  /** Rows [[cap]] drops from `rows` across all `keys` buckets (one
    * aggregate job). */
  def drops(rows: DataFrame, keys: Seq[Column], cap: Int): Long =
    rows.groupBy(keys: _*).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(greatest(col("n") - cap, lit(0L))), lit(0L)))
      .collect()(0).getLong(0)
}
