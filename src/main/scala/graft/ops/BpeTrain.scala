package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE merge training (Sennrich et al., ACL 2016 — the
  * tokenizer-vocabulary induction every LLM pipeline runs before
  * tokenizing): start from characters, repeatedly merge the most
  * frequent adjacent symbol pair, emit the ordered merge list that
  * [[encode]] then applies.
  *
  * The classic scale trick does the heavy lifting: training runs on the
  * WORD-FREQUENCY table, not the corpus — one map-combinable word count
  * collapses 10^12 tokens into a vocabulary-sized frame (Zipf: a few
  * million rows at web scale), and every merge round is then one
  * flatMap + one map-combined aggregate over that frame. Each round
  * collects exactly ONE row (the arg-max pair, `limit(1)` after an
  * exact sort) — never the pair table. Ties break deterministically
  * (freq desc, then pair lexicographic), so the merge list is
  * bit-stable across runs, partitionings, and cluster sizes.
  * Per-round `localCheckpoint` truncates the growing lineage the same
  * way [[DupClusters.connectedComponents]] does.
  *
  * DuckDB cannot replay an iterative argmax-and-rewrite loop, so the
  * driver row is constant-oracled (the x_extract_md5 pattern): the
  * merge list over the deterministic corpus is pinned against
  * checked-in constants, and the hand-computable algebra (pair counts,
  * tie-breaks, round-by-round rewrites) is spec-tested on the
  * Sennrich-style example.
  */
object BpeTrain {

  /** Word-frequency table: (word, freq) — single-space tokens, empties
    * dropped. The ONE pass over the corpus; everything after runs on
    * this reduction. */
  def wordFrequencies(docs: DataFrame, textCol: String): DataFrame =
    WordTokens.counts(docs, textCol, "word", "freq")

  /** Byte budget for collecting the word-frequency table driver-side
    * (the [[Similarity.DefaultBroadcastBudgetBytes]] discipline).
    * Measured against Σ|word| + 16·|vocab| — the in-memory trainer
    * holds roughly 16× that in symbol-pointer arrays (single-char
    * symbols are interned). Zipf makes the table vocabulary-sized at
    * ANY corpus size (a few million rows at web scale ≈ tens of MB),
    * so the local route is the production default; the distributed
    * loop remains for vocabularies beyond the budget. */
  val LocalTrainBudgetBytes: Long = 64L << 20

  /** Train `numMerges` merges on a word-frequency table. Returns the
    * ordered merge list (left, right); stops early when no pair reaches
    * `minPairFreq`.
    *
    * Routing (r08): the argmax-and-rewrite loop ran ONE SPARK JOB PER
    * MERGE — tens of thousands of sequential jobs at a production
    * vocabulary, days of driver scheduling for tiny per-round work. A
    * word-frequency table inside [[LocalTrainBudgetBytes]] is now
    * collected once and trained in-process with incremental pair
    * maintenance (exact counts, same (freq desc, UTF-8-lexicographic
    * pair asc) argmax — bit-identical merge lists, property-tested
    * against the distributed loop). Beyond the budget the distributed
    * loop runs unchanged. */
  def trainMerges(wordFreqs: DataFrame, numMerges: Int,
      minPairFreq: Long = 2L,
      localBudgetBytes: Long = LocalTrainBudgetBytes): Seq[(String, String)] = {
    require(numMerges >= 0, s"numMerges must be >= 0 (got $numMerges)")
    require(minPairFreq >= 1, s"minPairFreq must be >= 1 (got $minPairFreq)")
    val spark = wordFreqs.sparkSession
    import spark.implicits._
    if (numMerges == 0) return Seq.empty
    // pre-collect byte bound (one cheap aggregate): Σ|word| + 16/row
    val est = wordFreqs
      .agg(coalesce(sum(length(col("word")).cast("long") + 16L), lit(0L)))
      .head().getLong(0)
    if (est <= localBudgetBytes) {
      val rows = wordFreqs
        .select(col("word"), col("freq").cast("long").as("freq"))
        .as[(String, Long)].collect()
      return trainMergesLocal(rows, numMerges, minPairFreq)
    }
    // (symbols, freq): start each word as its character sequence
    var table = wordFreqs
      .select(col("word"), col("freq").cast("long").as("freq"))
      .as[(String, Long)]
      .map { case (w, f) => (w.toCharArray.map(_.toString), f) }
      .toDF("symbols", "freq")
      .localCheckpoint()
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val best = table.as[(Seq[String], Long)]
        .flatMap { case (syms, f) =>
          (0 until syms.length - 1).iterator
            .map(i => ((syms(i), syms(i + 1)), f))
        }
        .toDF("pair", "freq")
        .groupBy(col("pair"))
        .agg(sum(col("freq")).as("freq"))
        .orderBy(col("freq").desc, col("pair._1").asc, col("pair._2").asc)
        .limit(1)
        .as[((String, String), Long)]
        .collect()
      best.headOption match {
        case Some(((a, b), f)) if f >= minPairFreq =>
          merges += ((a, b))
          val (ma, mb) = (a, b)
          table = table.as[(Seq[String], Long)]
            .map { case (syms, fr) => (mergePair(syms, ma, mb), fr) }
            .toDF("symbols", "freq")
            .localCheckpoint()
          round += 1
        case _ => exhausted = true
      }
    }
    merges.result()
  }

  /** UTF-8 byte-lexicographic string compare — Spark's StringType
    * ordering (UTF8String.compareTo), which differs from Java
    * String.compareTo for supplementary characters. The local trainer
    * must break argmax ties EXACTLY like the distributed orderBy. */
  private[ops] def utf8Compare(x: String, y: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(x)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))

  /** In-process trainer — the exact argmax-and-rewrite loop of the
    * distributed path over a collected (word, freq) table, with the
    * standard incremental bookkeeping: exact pair frequencies in a
    * sorted set (freq desc, pair UTF-8-lex asc — the distributed
    * tie-break), per-pair occurrence lists, and per-round rewrites
    * touching ONLY the words that contain the merged pair. Single-char
    * symbols are interned so the symbol arrays share their strings. */
  private[ops] def trainMergesLocal(rows: Array[(String, Long)],
      numMerges: Int, minPairFreq: Long): Seq[(String, String)] = {
    import scala.collection.mutable
    val charCache = new mutable.HashMap[Char, String]()
    val words = rows.map { case (w, _) =>
      Array.tabulate(w.length)(i =>
        charCache.getOrElseUpdate(w.charAt(i), String.valueOf(w.charAt(i))))
    }
    val freqs = rows.map(_._2)

    val pairOrd = new Ordering[(String, String)] {
      def compare(p: (String, String), q: (String, String)): Int = {
        val c = utf8Compare(p._1, q._1)
        if (c != 0) c else utf8Compare(p._2, q._2)
      }
    }
    val count = new mutable.HashMap[(String, String), Long]()
    val occurs = new mutable.HashMap[(String, String), mutable.BitSet]()
    // argmax structure: (−freq, pair) ascending == (freq desc, pair asc)
    val ranked = new java.util.TreeSet[(Long, (String, String))](
      new java.util.Comparator[(Long, (String, String))] {
        def compare(x: (Long, (String, String)),
            y: (Long, (String, String))): Int = {
          val c = java.lang.Long.compare(x._1, y._1)
          if (c != 0) c else pairOrd.compare(x._2, y._2)
        }
      })
    def bump(p: (String, String), delta: Long): Unit = {
      val old = count.getOrElse(p, 0L)
      if (old != 0L) ranked.remove((-old, p))
      val next = old + delta
      if (next != 0L) {
        count(p) = next
        ranked.add((-next, p))
      } else count.remove(p)
    }
    def pairsOf(syms: Array[String]): Iterator[(String, String)] =
      (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1)))

    var wi = 0
    while (wi < words.length) {
      val f = freqs(wi)
      pairsOf(words(wi)).foreach { p =>
        bump(p, f)
        occurs.getOrElseUpdate(p, new mutable.BitSet()) += wi
      }
      wi += 1
    }

    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      if (ranked.isEmpty) exhausted = true
      else {
        val head = ranked.first()
        val best = head._2
        if (-head._1 < minPairFreq) exhausted = true
        else {
          merges += best
          val mergedSym = best._1 + best._2
          val touched = occurs.getOrElse(best, mutable.BitSet.empty).toArray
          var t = 0
          while (t < touched.length) {
            val idx = touched(t)
            val oldSyms = words(idx)
            // occurrence lists may hold stale indices (pair rewritten
            // away earlier); the rewrite below is a no-op there and the
            // delta pass cancels exactly
            val newSyms = mergePairArr(oldSyms, best._1, best._2, mergedSym)
            if (newSyms ne oldSyms) {
              val f = freqs(idx)
              pairsOf(oldSyms).foreach { p =>
                bump(p, -f)
                // membership maintained below from the new symbol set
              }
              pairsOf(newSyms).foreach { p =>
                bump(p, f)
                occurs.getOrElseUpdate(p, new mutable.BitSet()) += idx
              }
              words(idx) = newSyms
            }
            t += 1
          }
          occurs.remove(best)
          round += 1
        }
      }
    }
    merges.result()
  }

  /** [[mergePair]] over arrays with the merged symbol preallocated;
    * returns the INPUT array unchanged (reference-equal) when the pair
    * does not occur. */
  private def mergePairArr(syms: Array[String], a: String, b: String,
      merged: String): Array[String] = {
    var i = 0
    var hit = false
    while (!hit && i < syms.length - 1) {
      if (syms(i) == a && syms(i + 1) == b) hit = true
      i += 1
    }
    if (!hit) return syms
    val out = new Array[String](syms.length)
    var n = 0
    i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out(n) = merged; n += 1; i += 2
      } else {
        out(n) = syms(i); n += 1; i += 1
      }
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** Apply one merge (a, b) → a+b left-to-right over a symbol
    * sequence. */
  private[ops] def mergePair(syms: Seq[String], a: String,
      b: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    val n = syms.length
    while (i < n) {
      if (i + 1 < n && syms(i) == a && syms(i + 1) == b) {
        out += (a + b)
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.result()
  }

  /** Encode one word under an ordered merge list: apply every merge in
    * training order (the standard BPE apply; rank order == apply order
    * gives the canonical segmentation — NOT GPT-2's lowest-rank-first,
    * which can diverge when different merges produce equal symbol
    * strings).
    *
    * r08: an exact current-symbol set gates each merge — a merge whose
    * sides are not BOTH present symbols cannot occur adjacently and is
    * skipped in O(1) instead of a full O(len) scan, taking the apply
    * from O(merges·len) to O(merges + hits·len) per word. A skipped
    * merge was a no-op under the sequential semantics, so the output is
    * identical (property-tested against the linear reference in
    * the test suite). */
  private[graft] def encodeWord(word: String,
      merges: Seq[(String, String)]): Seq[String] = {
    if (word == null || word.isEmpty) return Seq.empty
    var syms: Array[String] =
      Array.tabulate(word.length)(i => String.valueOf(word.charAt(i)))
    if (syms.length > 1) {
      val present = new java.util.HashSet[String]()
      var i = 0
      while (i < syms.length) { present.add(syms(i)); i += 1 }
      val it = merges.iterator
      while (it.hasNext && syms.length > 1) {
        val (a, b) = it.next()
        if (present.contains(a) && present.contains(b)) {
          val ns = mergePairArr(syms, a, b, a + b)
          if (ns ne syms) {
            syms = ns
            present.clear()
            var j = 0
            while (j < syms.length) { present.add(syms(j)); j += 1 }
          }
        }
      }
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(syms)
  }

  /** Tokenize documents under a trained merge list: adds
    * `bpe_tokens` (count) and `bpe_ratio_e6` (BPE tokens per word,
    * e6-scaled — the compression the vocabulary buys). Broadcast
    * merges, per-row kernel, zero shuffles. */
  /** Per-JVM word→token-count memo, keyed by (broadcast id, word):
    * Zipf makes repeat words the common case, and the encode is a pure
    * function of (merge list, word) — the broadcast id pins the merge
    * list identity, so entries can never serve a different vocabulary.
    * Bounded at the cap, and CLEARED when a new broadcast id appears
    * while full — a stale vocabulary's dead entries must not pin the
    * cap against the live one for the executor's lifetime. */
  private val encodeMemo =
    new java.util.concurrent.ConcurrentHashMap[(Long, String), java.lang.Long]()
  private val EncodeMemoCap = 1 << 20
  @volatile private var memoBcId = Long.MinValue
  private def memoFor(bcId: Long): Unit =
    if (memoBcId != bcId) synchronized {
      if (memoBcId != bcId) {
        if (encodeMemo.size >= EncodeMemoCap) encodeMemo.clear()
        memoBcId = bcId
      }
    }

  def withBpeTokenCounts(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark: SparkSession = docs.sparkSession
    val bc = spark.sparkContext.broadcast(merges)
    val countUdf = udf { text: String =>
      val ws = WordTokens.tokens(text)
      val m = bc.value
      val bcId = bc.id
      memoFor(bcId)
      var toks = 0L
      var i = 0
      while (i < ws.length) {
        val key = (bcId, ws(i))
        var n = encodeMemo.get(key)
        if (n == null) {
          n = java.lang.Long.valueOf(encodeWord(ws(i), m).length.toLong)
          if (encodeMemo.size < EncodeMemoCap) encodeMemo.put(key, n)
        }
        toks += n.longValue()
        i += 1
      }
      val ratioE6 = if (ws.length == 0) 0L else toks * 1000000L / ws.length
      (ws.length.toLong, toks, ratioE6)
    }
    docs
      .withColumn("__b", countUdf(col(textCol)))
      .withColumn("n_words", col("__b._1"))
      .withColumn("bpe_tokens", col("__b._2"))
      .withColumn("bpe_ratio_e6", col("__b._3"))
      .drop("__b")
  }
}
