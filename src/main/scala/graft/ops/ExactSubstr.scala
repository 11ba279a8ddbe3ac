package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** Exact duplicated-span removal (the ExactSubstr recipe of Lee et al.,
  * "Deduplicating Training Data Makes Language Models Better", ACL
  * 2022): find every token span of length >= n that occurs more than
  * once across the corpus, keep its globally-first occurrence, and CUT
  * the duplicated tokens out of every other occurrence — the
  * memorization-killing dedup that document-level near-dup cannot do
  * (boilerplate shared between otherwise-distinct pages survives
  * MinHash but not this).
  *
  * The paper builds one suffix array over the concatenated corpus — a
  * single-machine structure. The Spark-native shape is the sliding
  * n-gram join: every token position emits its length-n gram
  * (`pos .. pos+n-1`), duplicated grams elect a winner by
  * `min(doc_id, pos)`, every non-winner occurrence marks its n
  * positions covered, and documents drop covered tokens. Overlapping
  * duplicated spans merge naturally through position coverage, so
  * maximal duplicated runs come out as one contiguous cut — the same
  * spans the suffix array finds, at the cost of one shuffle whose rows
  * are (gram-key, doc_id, pos).
  *
  * Scale shape (the 100 TB contract):
  *  - `hashed = true` (default) keys grams by a 64-bit FNV-1a computed
  *    INSIDE the per-row kernel — the shuffle carries three longs per
  *    token position, never the n-word gram strings (which would
  *    multiply corpus bytes by n). A 64-bit key over 10^12 positions
  *    expects ~0.03 colliding pairs per 10^12 — each collision can only
  *    cut one extra span, never corrupt text;
  *  - `hashed = false` groups on the gram STRING — exact, and the form
  *    a SQL oracle replays (the `x_exact_substr` row); ExactSubstrSpec
  *    pins both variants output-identical on collision-free corpora;
  *  - coverage is `distinct` per (doc, position) and the rebuild is a
  *    per-row kernel over each doc's own drop-set — no global state.
  */
object ExactSubstr {

  /** 64-bit FNV-1a over UTF-8 bytes — the gram key of the hashed
    * variant. Any stable 64-bit hash works (the key only has to GROUP
    * equal grams together); FNV is allocation-free and documented. */
  private[ops] def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** All sliding n-gram occurrences: (idCol, pos, gram) with `gram` a
    * long FNV key (hashed) or the joined gram string. One per-row
    * kernel + one explode; a doc with fewer than n tokens emits
    * nothing. */
  def gramOccurrences(docs: DataFrame, idCol: String, textCol: String,
      n: Int, hashed: Boolean = true): DataFrame = {
    require(n > 0, s"n must be positive (got $n)")
    def occurrences[K: TypeTag](key: String => K) = udf { text: String =>
      WordTokens.ngrams(text, n).zipWithIndex.map { case (g, i) =>
        (i.toLong, key(g))
      }
    }
    val gramsUdf =
      if (hashed) occurrences(fnv64) else occurrences(identity[String])
    docs
      .select(col(idCol), explode(gramsUdf(col(textCol))).as("__o"))
      .select(col(idCol), col("__o._1").as("pos"),
        col("__o._2").as("gram"))
  }

  /** Positions covered by a NON-WINNER occurrence of a duplicated gram:
    * (idCol, position), distinct. Winner = min (doc, pos) per gram —
    * one map-combinable aggregate; non-winner occurrences then fan out
    * their n positions. */
  def coveredPositions(occ: DataFrame, idCol: String, n: Int): DataFrame = {
    val winners = occ
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col(idCol), col("pos"))).as("win"))
      .filter(col("cnt") > 1)
      .select(col("gram"), col("win"))
    occ
      .join(winners, Seq("gram"))
      .filter(!(col(idCol) === col(s"win.$idCol") &&
        col("pos") === col("win.pos")))
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (n - 1)))
          .as("position"))
      .distinct()
  }

  /** Remove duplicated spans: adds `n_tokens` (pre-cut), `n_removed`,
    * and `kept_text` (surviving tokens joined by single spaces, in
    * original order) to `docs`. Documents shorter than n tokens pass
    * through untouched. */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String,
      textCol: String, n: Int, hashed: Boolean = true): DataFrame = {
    val occ = gramOccurrences(docs, idCol, textCol, n, hashed)
    val drops = coveredPositions(occ, idCol, n)
      .groupBy(col(idCol))
      .agg(collect_set(col("position")).as("__drop"))
    val rebuildUdf = udf { (text: String, drop: Seq[Long]) =>
      val ts = WordTokens.tokens(text)
      if (drop == null || drop.isEmpty) (ts.length.toLong, 0L,
        ts.mkString(" "))
      else {
        val dropSet = drop.toSet
        val kept = ts.iterator.zipWithIndex
          .filterNot { case (_, i) => dropSet.contains(i.toLong) }
          .map(_._1).mkString(" ")
        (ts.length.toLong, dropSet.size.toLong, kept)
      }
    }
    docs
      .join(drops, Seq(idCol), "left")
      .withColumn("__r", rebuildUdf(col(textCol), col("__drop")))
      .withColumn("n_tokens", col("__r._1"))
      .withColumn("n_removed", col("__r._2"))
      .withColumn("kept_text", col("__r._3"))
      .drop("__drop", "__r")
  }
}
