package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Per-domain document caps — the standard crawl-curation guard against
  * a single host dominating a training corpus (link farms, mirrors,
  * calendar pages). Keeps the top `k` documents per host under a
  * deterministic ranking.
  *
  * Skew is the whole problem here: a hot host can own double-digit
  * percentages of a crawl, and a pre-3.5 `row_number over (partition by
  * host)` sent that host's entire mass to one reducer. See `cap` for
  * how the modern optimizer's rank-limit pushdown handles the map side
  * and when the explicit salted pre-phase is still worth its extra
  * exchange. */
object DomainCap {

  /** Lowercase host of a url ("" when unparseable — crawl data never
    * throws). Same URI semantics as UrlDedup.canonicalize. */
  def hostOf(url: String): String = {
    if (url == null || url.isEmpty) return ""
    try {
      val h = new java.net.URI(url.trim).getHost
      if (h == null) "" else h.toLowerCase(java.util.Locale.ROOT)
    } catch {
      case _: Exception => ""
    }
  }

  private val hostUdf = udf((u: String) => hostOf(u))

  /** Adds a `host` column (narrow). */
  def withHost(df: DataFrame, urlCol: String = "url"): DataFrame =
    df.withColumn("host", hostUdf(col(urlCol)))

  /** Keep at most `k` rows per host, ranked by `order` (deterministic —
    * include a unique tie-breaker). Input must already carry a `host`
    * column (see withHost).
    *
    * Default (`salts = 1`): ONE window + filter. Spark ≥3.5 rewrites the
    * `row_number() <= k` shape with rank-limit pushdown — the physical
    * plan carries a PARTIAL `WindowGroupLimit` before the exchange that
    * prunes every map partition to its own top-k per host, so the hot
    * host crosses the wire with ≤ k·(input partitions) rows, not its
    * full population (PlanShapeSpec pins the Partial operator). This is
    * the Spark-first answer: the optimizer already does the map-side
    * prune a hand-salted first phase would.
    *
    * `salts > 1` adds an explicit salted pre-phase — a (host, salt)
    * window first cuts each slice to k (provably a superset of the
    * global top-k) — for regimes where k·partitions is still too much
    * for one reducer (very large k on very wide inputs). `saltOn` must
    * be a plain row-deterministic column (a unique id; NOT a sort
    * expression): it only spreads a hot host's rows, never affects
    * which rows survive. */
  def cap(df: DataFrame, k: Int, order: Seq[Column], saltOn: Column,
      salts: Int = 1): DataFrame = {
    require(k > 0 && salts > 0, s"k=$k salts=$salts must be positive")
    val wHost = Window.partitionBy(col("host")).orderBy(order: _*)
    val pruned = if (salts == 1) df else {
      val salted = df.withColumn("_salt",
        pmod(xxhash64(saltOn), lit(salts)))
      val wSalt = Window.partitionBy(col("host"), col("_salt"))
        .orderBy(order: _*)
      salted
        .withColumn("_rn", row_number().over(wSalt))
        .filter(col("_rn") <= k)
        .drop("_rn", "_salt")
    }
    pruned
      .withColumn("_rn", row_number().over(wHost))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  /** Per-host population report alongside the cap — how many rows each
    * host lost. Map-side-combinable count, one shuffle. */
  def hostStats(df: DataFrame, k: Int): DataFrame =
    df.groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        greatest(count(lit(1)) - k, lit(0L)).as("n_dropped"))
}
