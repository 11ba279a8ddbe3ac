package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`vec_id: long, embedding: array<float>`).
  *
  *  - `bruteCosineTopK` — exact baseline: broadcast the (small) query set,
  *    one narrow pass over the corpus, per-query top-k via window. Dot
  *    products are a primitive double loop (Spark's array higher-order
  *    functions are CodegenFallback — interpreted, ~40 µs per 64-dim
  *    pair — so the primitive loop is ~100 ns/pair at identical bits).
  *  - `exactCosineNearDups` — exact all-pairs twin (oracle/recall baseline;
  *    O(n²) by construction — run on samples, never the full corpus).
  *  - `lshCosineTopK` — scale path: random-hyperplane (sign) LSH buckets;
  *    exact cosine only within a bucket. Hyperplanes are seeded Rademacher
  *    vectors (deterministic), so bucketing is reproducible cluster-wide.
  *
  * Scale note: the number of sign bits is derived from the corpus size
  * (`signBitsFor`) so expected bucket size stays ~`TargetBucketSize`
  * regardless of n — within-bucket work is O(n·bucket) ≈ linear, not
  * O(n²/2^bits) with a fixed small bit count.
  */
object Similarity {

  /** Cosine for the join paths: a native binary Catalyst expression over
    * the raw ArrayData (graft.sql.GraftCosine) — primitive access, stays
    * in whole-stage codegen. Bit-identical to the HOF Column reference
    * (KernelReferences.cosine) and to [[SimilarityKernel.cosinePrenormed]]
    * (asserted in OpsSpec). */
  private[ops] def cosineFast(a: Column, b: Column): Column =
    graft.sql.GraftFunctions.graft_cosine(a, b)

  /** Exact top-k cosine neighbors for each query vector.
    * `queries` must be small (they are collected and broadcast — the
    * same driver hop a `broadcast()` join hint performs). Self-matches
    * excluded.
    *
    * Shape: one NARROW pass over the corpus; each task keeps a bounded
    * per-query top-k (primitive loops over the broadcast query block —
    * a BroadcastNestedLoopJoin materializes and copies every (row,
    * query) pair, which measured ~1.2 µs/pair against ~0.1 µs for the
    * cosine itself), then a window over partitions × queries × k
    * partial rows picks the global top-k. Doubles are bit-identical to
    * the DuckDB oracle's fold. */
  def bruteCosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      broadcastBudget: Long = DefaultBroadcastBudgetBytes): DataFrame =
    bruteTopKImpl(corpus, queries, k, self = false, broadcastBudget)

  /** Self-query variant the auto routes use (queries == corpus): each
    * unordered pair's cosine is computed ONCE and inserted into both
    * top-k buffers — half the work of the general form. Only routes that
    * passed [[ExactScore.fits]] call it, so the pre-collect guard job is
    * skipped; a query set given by the caller is always guarded. */
  private[ops] def bruteCosineTopKSelf(corpus: DataFrame, k: Int,
      broadcastBudget: Long = DefaultBroadcastBudgetBytes): DataFrame =
    bruteTopKImpl(corpus, corpus, k, self = true, broadcastBudget)

  private def bruteTopKImpl(corpus: DataFrame, queries: DataFrame, k: Int,
      self: Boolean, broadcastBudget: Long): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = ExactScore.block(queries, broadcastBudget, "brute query set",
      "use the LSH/IVF indexed path", guarded = !self)
    val partial = corpus
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val q = bc.value
        val nq = q.ids.length
        val bufs = Array.fill(nq)(new ExactScore.TopK(k))
        it.foreach { case (id, emb) =>
          val rowNorm = SimilarityKernel.sqrtNorm(emb)
          if (self) {
            // each unordered pair once: this row vs the queries with a
            // LARGER id, inserted in both directions (pairs with smaller
            // ids come from those rows' own iterations)
            var qi = q.after(id)
            val selfIdx = if (qi > 0 && q.ids(qi - 1) == id) qi - 1 else -1
            while (qi < nq) {
              val c = SimilarityKernel.cosinePrenormed(
                q.vecs(qi), emb, q.norms(qi), rowNorm)
              bufs(qi).insert(c, id)
              if (selfIdx >= 0) bufs(selfIdx).insert(c, q.ids(qi))
              qi += 1
            }
          } else {
            var qi = 0
            while (qi < nq) {
              if (q.ids(qi) != id)
                bufs(qi).insert(SimilarityKernel.cosinePrenormed(
                  q.vecs(qi), emb, q.norms(qi), rowNorm), id)
              qi += 1
            }
          }
        }
        Iterator.range(0, nq).flatMap(qi => bufs(qi).rows(q.ids(qi)))
      }
      .toDF("query_id", "neighbor_id", "cos")
    ExactScore.rank(partial, k)
  }

  /** Exact all-pairs cosine near-duplicates (a < b, cos ≥ threshold).
    * The exact twin of [[cosineNearDups]] and its auto-routed small-n
    * path: quadratic — run on samples or below the crossover, NOT at
    * 10^12 rows. The corpus is collected and broadcast (as a broadcast
    * join would), each task streams its corpus slice against it in a
    * primitive loop — no per-pair row materialization. */
  def exactCosineNearDups(corpus: DataFrame, threshold: Double,
      broadcastBudget: Long = DefaultBroadcastBudgetBytes): DataFrame =
    exactPairs(corpus, threshold, broadcastBudget, guarded = true)

  /** [[exactCosineNearDups]]; `guarded = false` for the auto route, which
    * already sized the corpus with [[ExactScore.fits]]. */
  private def exactPairs(corpus: DataFrame, threshold: Double,
      broadcastBudget: Long, guarded: Boolean): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = ExactScore.block(corpus, broadcastBudget,
      "exact all-pairs corpus", "use cosineNearDups' indexed path", guarded)
    corpus.select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val all = bc.value
        it.flatMap { case (a, va) =>
          val na = SimilarityKernel.sqrtNorm(va)
          Iterator.range(all.after(a), all.ids.length).flatMap { j =>
            val c = SimilarityKernel.cosinePrenormed(va, all.vecs(j), na,
              all.norms(j))
            if (c >= threshold) Iterator.single((a, all.ids(j), c))
            else Iterator.empty
          }
        }
      }.toDF("a", "b", "cos")
  }

  /** Byte budget for the collect-and-broadcast exact kernels
    * ([[bruteCosineTopKSelf]] / [[exactCosineNearDups]] collect the full
    * corpus to the driver, as a broadcast join would). The row-count
    * crossovers alone leave the collected bytes implicit in the vector
    * dimension — a corpus of wide vectors just under the crossover
    * could otherwise OOM the driver where the indexed path would not.
    * 256 MB ≈ the crossover row counts × dim 2048 × 4 B, comfortably
    * inside a default driver heap; auto routes fall through to the
    * indexed path when the corpus exceeds it. The one collect budget of
    * the operators: [[JaccardExact]]'s key block and
    * [[IncrementalDedup]]'s broadcast Bloom filters default to it too. */
  val DefaultBroadcastBudgetBytes: Long = 256L << 20

  /** The auto-route and ranking-gate size decision, pure for unit
    * testing: n vectors of `dim` floats (at least 4 B a row) fit the
    * broadcast byte budget and n is below the row crossover. Callers go
    * through [[ExactScore.fits]], which probes the dim. */
  private[ops] def routesToBrute(n: Long, dim: Int, crossover: Long,
      budget: Long): Boolean =
    n >= 0L && n < crossover && n * math.max(dim, 1).toLong * 4L <= budget

  /** Default expected within-bucket population the bit count aims for. */
  val TargetBucketSize = 64

  /** Bit-count floor (see [[signBitsFor]]) — also sets the brute-force
    * crossover below. */
  val MinBits = 4

  /** Sign bits as a function of corpus size: ceil(log2(n / target)),
    * floored at [[MinBits]] and capped at 24 (16M buckets — beyond that,
    * bucket-key cardinality stops paying for itself and
    * multi-probe/banding is the right tool). n = 10^12 → 24 bits.
    *
    * The floor is recall-first: on near-orthogonal embeddings the per-bit
    * agreement probability of a true neighbor is only ~0.6, so recall
    * 1 − (1 − p^bits)^tables collapses for bits ≥ 8 at any affordable
    * table count (p^8 ≈ 0.02). Small corpora therefore get 4-bit
    * signatures (measured 0.978 recall at 24 tables on the driver's
    * near-orthogonal embeddings vs 0.231 at 8×12); large corpora trade
    * recall for bounded bucket sizes and raise `tables` (see
    * [[tablesFor]]). */
  def signBitsFor(n: Long, target: Int = TargetBucketSize): Int = {
    val buckets = math.max(1L, n / math.max(1, target))
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1) // ceil log2
    math.min(24, math.max(MinBits, bits))
  }

  /** Brute-force crossover: below `tables × TargetBucketSize × 2^MinBits`
    * rows the candidate set of a `tables`-table index at the derived bit
    * count degenerates to near-all-pairs — generated `tables` times over,
    * then deduped — so the exact brute pass is BOTH exact and faster
    * (measured at sf0.1, n = 2000: brute top-k 0.40 s vs 10.8 s LSH /
    * 10.3 s IVF at their recall-first operating points). The auto-mode
    * operators route on this; explicit `signBits` forces the LSH path
    * (recall measurement, pre-sized deployments). */
  def lshCrossover(tables: Int = DefaultTables): Long =
    tables.toLong * TargetBucketSize * (1L << MinBits)

  /** Tables co-derived with the bit count: pair recall is
    * 1 − (1 − p^bits)^tables, so holding a 0.9 target as bits rise with
    * corpus size requires tables ≈ ln 10 / p^bits. p = 0.8 models
    * corpora with cluster structure (true near-duplicates agree on most
    * hyperplanes); near-orthogonal corpora sit at p ≈ 0.6 where no
    * affordable table count holds 0.9 beyond ~8 bits — at small n the
    * brute crossover covers exactly those, and beyond the clamp
    * multi-probe is the right tool, not more tables. Clamped to
    * [12, 48]: bits 9 → 18 tables, bits 12 → 34, bits ≥ 14 → 48. */
  def tablesFor(bits: Int): Int = {
    val t = math.ceil(math.log(10.0) / math.pow(0.8, bits)).toLong
    math.min(48L, math.max(12L, t)).toInt
  }

  /** Tables in the multi-table (banded) LSH index. Recall of a pair with
    * per-bit agreement probability p is 1 − (1 − p^bits)^tables — one
    * table alone misses most true neighbors (a single flipped bit evicts
    * the pair), which is why round-1's single-signature variant was weak.
    * 24 tables is the recall-first default (≥0.9 measured on both
    * clustered and near-orthogonal corpora at the derived bit count);
    * throughput-sensitive callers can lower it. */
  val DefaultTables = 24

  /** Explode each vector into one row per table with that table's sign
    * signature as the bucket key (table id packed into the high bits).
    * Narrow ×tables fan-out; `signBits <= 0` → derive from corpus count
    * (pass `knownN` to skip the extra count job when the caller already
    * knows the corpus size). */
  def lshTables(corpus: DataFrame, signBits: Int = -1,
      tables: Int = DefaultTables, knownN: Long = -1L): DataFrame = {
    val bits =
      if (signBits > 0) signBits
      else signBitsFor(if (knownN >= 0L) knownN else corpus.count())
    val lshUdf = udf((emb: Seq[Float]) =>
      SimilarityKernel.signBuckets(emb, bits, tables))
    corpus.withColumn("bucket", explode(lshUdf(col("embedding"))))
  }

  /** Distinct candidate id pairs from the multi-table index: the
    * embedding is dropped BEFORE the bucket self-join, so the ×tables
    * fan-out and the join shuffle carry (bucket, id) rows only, and a
    * pair seen in ≤`tables` buckets is deduped while it is still two
    * longs. With 24 recall-first tables, carrying the vector through the
    * explode would dominate shuffle bytes at any scale (≈ tables × dim ×
    * 4 B per row); the two id→embedding join-backs that replace it let
    * Catalyst pick broadcast (small corpus) or shuffled hash join
    * (10^12 rows) per side. `symmetric = false` keeps only a < b. */
  private def candidatePairs(corpus: DataFrame, signBits: Int, tables: Int,
      knownN: Long, symmetric: Boolean, bucketCap: Int,
      queryIds: DataFrame = null, dedupPairs: Boolean = true): DataFrame = {
    val ids = Buckets.cap(
      lshTables(corpus.select(col("vec_id"), col("embedding")),
        signBits, tables, knownN).select(col("bucket"), col("vec_id")),
      Seq(col("bucket")), Buckets.Vector.order("vec_id"), bucketCap)
    val left0 = ids.select(col("bucket"), col("vec_id").as("a"))
    // query-set search (a ∈ queries, b ∈ corpus): restrict the LEFT side
    // BEFORE the bucket self-join — the join output shrinks by |Q|/n,
    // not just the final window
    val left =
      if (queryIds == null) left0
      else left0.join(queryIds.select(col("vec_id").as("a")),
        Seq("a"), "left_semi")
    val right = ids.select(col("bucket"), col("vec_id").as("b"))
    val cond = if (symmetric) col("a") =!= col("b") else col("a") < col("b")
    val raw = left.join(right, Seq("bucket"))
      .filter(cond)
      .select(col("a"), col("b"))
    // pair found in ≤tables buckets: global dedup — EXCEPT when the
    // consumer is the broadcast ranking kernel, which dedups intra-task
    // and again over its (tiny) partial top-k output, skipping this
    // full-pair-set exchange (`dedupPairs = false`)
    if (dedupPairs) raw.dropDuplicates("a", "b") else raw
  }

  /** Rows dropped by the vector-policy bucket cap ([[Buckets]]) across
    * all tables (hot-bucket accounting for the bench). */
  def lshBucketDrops(corpus: DataFrame, signBits: Int = -1,
      tables: Int = DefaultTables, knownN: Long = -1L,
      bucketCap: Int = Buckets.Vector.size): Long =
    Buckets.drops(lshTables(corpus.select(col("vec_id"), col("embedding")),
      signBits, tables, knownN), Seq(col("bucket")), bucketCap)

  /** Representatives after collapsing byte-identical embeddings (min
    * vec_id keeps) — the cosine twin of [[Dedup.exactSurvivors]]: mass
    * duplicate vectors are the EXACT-dedup operator's output, not
    * near-dup pairs, and collapsing them first is what makes the LSH
    * bucket population survivable at 100 TB. */
  def exactEmbSurvivors(corpus: DataFrame): DataFrame =
    corpus.groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("vec_id"))
      .select(col("vec_id"), col("embedding"))

  /** ANN top-k — the SHIPPED entry point is auto mode (`signBits <= 0`):
    * count the corpus once, route to the exact brute pass below
    * [[lshCrossover]] (exact AND ~25× faster there), otherwise derive
    * bits from n and co-derive tables ([[tablesFor]]) unless the caller
    * fixed them. Candidates share ANY table's bucket; exact cosine
    * inside. Explicit `signBits` forces the LSH path at exactly the
    * given operating point (recall measurement). Recall < 1 only on the
    * forced/large-n path (OpsSpec asserts ≥ 0.9 against brute).
    *
    * `queries` (optional) restricts the search to a query subset
    * (query ∈ queries, neighbor ∈ corpus) — the left side of the bucket
    * join is semi-joined down BEFORE the pair fan-out. `broadcastBudget`
    * bounds the bytes the brute route may collect ([[routesToBrute]]):
    * a wide-vector corpus below the ROW crossover but above the BYTE
    * budget takes the indexed path instead of a driver OOM. */
  def lshCosineTopK(corpus: DataFrame, k: Int, signBits: Int = -1,
      tables: Int = -1, knownN: Long = -1L,
      bucketCap: Int = Buckets.Vector.size,
      queries: DataFrame = null,
      broadcastBudget: Long = DefaultBroadcastBudgetBytes): DataFrame = {
    val auto = signBits <= 0
    val tablesForCross = if (tables > 0) tables else DefaultTables
    val n = if (!auto) -1L else if (knownN >= 0L) knownN else corpus.count()
    if (auto && ExactScore.fits(corpus, n, broadcastBudget,
        lshCrossover(tablesForCross)))
      // a caller-supplied `queries` frame keeps bruteCosineTopK's
      // pre-collect guard: nothing enforces the queries ⊆ corpus shape
      // the route sized
      return if (queries == null) bruteCosineTopKSelf(corpus, k, broadcastBudget)
        else bruteCosineTopK(corpus, queries, k, broadcastBudget)
    val bits = if (auto) signBitsFor(n) else signBits
    val tbl = if (tables > 0) tables else if (auto) tablesFor(bits)
      else DefaultTables
    // a corpus of known size inside the budget (auto mode's n, or the
    // caller's knownN) ranks on the broadcast path
    ExactScore.rankPairs(corpus, if (auto) n else knownN, k,
        broadcastBudget, qBroadcast = queries, qJoin = null) { distinct =>
      candidatePairs(corpus, bits, tbl, n, symmetric = true, bucketCap,
        queryIds = queries, dedupPairs = distinct)
        .select(col("a").as("query_id"), col("b").as("neighbor_id"))
    }
  }

  /** Embedding-cosine near-duplicate pairs (dedup by similarity ≥ t):
    * auto mode routes exactly like [[lshCosineTopK]] — below
    * [[lshCrossover]] the exact all-pairs pass over the survivors is
    * both exact and faster; above it, multi-table LSH candidates with
    * exact cosine verification, bits from [[signBitsFor]], tables from
    * [[tablesFor]]. */
  def cosineNearDups(corpus: DataFrame, threshold: Double,
      signBits: Int = -1, tables: Int = -1,
      knownN: Long = -1L, exactPrepass: Boolean = true,
      bucketCap: Int = Buckets.Vector.size,
      broadcastBudget: Long = DefaultBroadcastBudgetBytes): DataFrame = {
    // mass byte-identical embeddings collapse to one representative
    // BEFORE bucketing (they are exact-dedup output, not near-dup
    // pairs) — same defusal as minhashNearDups' exact pre-pass
    val base = if (exactPrepass) exactEmbSurvivors(corpus) else corpus
    val auto = signBits <= 0
    val tablesForCross = if (tables > 0) tables else DefaultTables
    // n for the crossover is the SURVIVOR count (what the index sees)
    val n = if (!auto) -1L else if (knownN >= 0L) knownN else base.count()
    // fits tests n before its dim probe: base is a groupBy plan — never
    // partially execute it at scale
    if (auto && ExactScore.fits(base, n, broadcastBudget,
        lshCrossover(tablesForCross)))
      return exactPairs(base, threshold, broadcastBudget, guarded = false)
    val bits = if (auto) signBitsFor(n) else signBits
    val tbl = if (tables > 0) tables else if (auto) tablesFor(bits)
      else DefaultTables
    candidatePairs(base, bits, tbl, n, symmetric = false, bucketCap)
      .join(base.select(col("vec_id").as("a"), col("embedding").as("emb_a")), Seq("a"))
      .join(base.select(col("vec_id").as("b"), col("embedding").as("emb_b")), Seq("b"))
      .withColumn("cos", cosineFast(col("emb_a"), col("emb_b")))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
  }
}

object SimilarityKernel {
  /** One primitive copy per row — Seq[Float].apply boxes through the
    * generic dispatch; zero-copy when the encoder hands an
    * immutable.ArraySeq.ofFloat. */
  private[ops] def toFloatArray(v: Seq[Float]): Array[Float] = v match {
    case w: scala.collection.immutable.ArraySeq.ofFloat => w.unsafeArray
    case other =>
      val out = new Array[Float](other.length)
      var i = 0
      val it = other.iterator
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      out
  }

  /** sqrt of the left-to-right double norm fold — precompute once per
    * vector; dividing by the product of two precomputed sqrts is
    * bit-identical to computing them inline per pair. */
  def sqrtNorm(a: Array[Float]): Double = {
    if (a == null) return 0.0
    var na = 0.0
    var i = 0
    while (i < a.length) { val x = a(i).toDouble; na += x * x; i += 1 }
    math.sqrt(na)
  }

  /** Left-to-right double-precision cosine with both sqrt-norms
    * precomputed — the exact fold the DuckDB oracle computes
    * (list_inner_product over DOUBLE[]): the same `dot / (sqrt(na) *
    * sqrt(nb))` expression and zero guard as GraftKernels.cosineF, one
    * loop per pair instead of three. */
  def cosinePrenormed(a: Array[Float], b: Array[Float],
      sqrtNa: Double, sqrtNb: Double): Double = {
    if (a == null || b == null) return 0.0
    var dot = 0.0
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y
      i += 1
    }
    if (sqrtNa == 0.0 || sqrtNb == 0.0) 0.0 else dot / (sqrtNa * sqrtNb)
  }

  /** Rademacher hyperplane signs, packed one plane per long-bitset word
    * array, cached per (bits, tables, dim) — recomputing the (t, j, d)
    * hash per ROW was O(tables·bits·dim) integer mixes per document
    * (≈221k at 24 bits × 12 tables × dim 768). Computed once per
    * executor JVM; bucket ids are bit-identical to the direct hash loop
    * (set bit → +1 plane entry; x·(+1)=x and a+(−x)=a−x exactly in IEEE,
    * asserted in OpsSpec). */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Array[Long]]]()

  private def planes(bits: Int, tables: Int, dim: Int): Array[Array[Long]] = {
    val key = (bits.toLong << 42) | (tables.toLong << 21) | dim.toLong
    var p = planeCache.get(key)
    if (p == null) {
      p = Array.tabulate(tables * bits) { tj =>
        val t = tj / bits
        val j = tj % bits
        val words = new Array[Long]((dim + 63) >>> 6)
        var d = 0
        while (d < dim) {
          var h = ((t * 131 + j) * 0x9e3779b9L + d * 0x85ebca6bL + 0xc2b2ae35L)
          h ^= h >>> 16; h *= 0x45d9f3bL; h ^= h >>> 16
          if ((h & 1L) == 0L) words(d >>> 6) |= (1L << (d & 63)) // +1 sign
          d += 1
        }
        words
      }
      planeCache.put(key, p)
    }
    p
  }

  /** Sign-LSH signatures, one per table: bit j of table t =
    * sign(dot(v, h_{t,j})), h a seeded Rademacher (±1) hyperplane from
    * the per-executor plane cache. The table id is packed into the high
    * bits so signatures from different tables never collide. */
  def signBuckets(embSeq: Seq[Float], bits: Int, tables: Int): Array[Long] = {
    val out = new Array[Long](tables)
    if (embSeq == null || embSeq.isEmpty) {
      var t = 0
      while (t < tables) { out(t) = t.toLong << 32; t += 1 }
      return out
    }
    val emb = toFloatArray(embSeq)
    val pl = planes(bits, tables, emb.length)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var j = 0
      while (j < bits) {
        val words = pl(t * bits + j)
        var dot = 0.0
        var d = 0
        while (d < emb.length) {
          if (((words(d >>> 6) >>> (d & 63)) & 1L) != 0L) dot += emb(d)
          else dot -= emb(d)
          d += 1
        }
        if (dot >= 0) bucket |= (1L << j)
        j += 1
      }
      out(t) = (t.toLong << 32) | bucket
      t += 1
    }
    out
  }
}
