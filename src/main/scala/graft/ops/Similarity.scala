package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`vec_id: long, embedding: array<float>`).
  *
  *  - `bruteCosineTopK` — exact baseline: broadcast the (small) query set,
  *    one narrow pass over the corpus, per-query top-k via window. Dot
  *    products are a primitive double loop (Spark's array higher-order
  *    functions are CodegenFallback — interpreted — so a tight UDF is
  *    ~40× faster per pair at identical bits; see `cosine`'s note).
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

  /** cosine(a, b) as a Column built from array higher-order functions.
    * Arrays are cast to double FIRST so products accumulate in double
    * precision — bit-identical to an independent left-to-right double
    * fold (the DuckDB oracle). NOTE: Spark's ArrayAggregate/ZipWith are
    * CodegenFallback (interpreted) — ~40 µs per 64-dim pair measured.
    * The hot paths below use [[SimilarityKernel.cosineDouble]] via a
    * primitive-loop UDF instead (~100 ns/pair, same bits). */
  def cosine(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(ad, x => x * x),
      lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(bd, x => x * x),
      lit(0.0), (acc, v) => acc + v))
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot / (na * nb))
  }

  /** Cosine for the hot paths: a native binary Catalyst expression over
    * the raw ArrayData (graft.sql.GraftCosine) — primitive access, stays
    * in whole-stage codegen. Bit-identical to [[cosine]] and to
    * [[SimilarityKernel.cosineDouble]] (asserted in OpsSpec). */
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
    * the DuckDB oracle ([[SimilarityKernel.cosineDouble]] fold). */
  def bruteCosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      broadcastBudget: Long = DefaultBroadcastBudgetBytes): DataFrame =
    bruteTopKImpl(corpus, queries, k, self = false, broadcastBudget,
      preChecked = false)

  /** Self-query variant the auto-routed paths use (queries == corpus):
    * each unordered pair's cosine is computed ONCE and inserted into
    * both top-k buffers — half the work of the general form.
    * `preChecked = true` skips the pre-collect byte-bound job (the auto
    * routes already asserted [[routesToBrute]] against the same
    * budget). */
  private[ops] def bruteCosineTopKSelf(corpus: DataFrame, k: Int,
      broadcastBudget: Long = DefaultBroadcastBudgetBytes,
      preChecked: Boolean = false): DataFrame =
    bruteTopKImpl(corpus, corpus, k, self = true, broadcastBudget,
      preChecked)

  /** Exact embedding bytes of a frame (one aggregate job) — the
    * pre-collect guard: asserting AFTER `.collect()` would let the
    * oversized set reach the driver before the check fires. */
  private def embeddingBytes(df: DataFrame): Long =
    df.agg(coalesce(
        sum(size(col("embedding")).cast("long") * 4L), lit(0L)))
      .head.getLong(0)

  private def bruteTopKImpl(corpus: DataFrame, queries: DataFrame, k: Int,
      self: Boolean, broadcastBudget: Long, preChecked: Boolean): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // fail fast with a named invariant instead of an opaque driver OOM:
    // the query block is broadcast to every task. Auto routes enforce
    // the bound BEFORE routing here (routesToBrute against the caller's
    // budget); direct callers get the bound asserted BEFORE the collect
    // materializes the set on the driver.
    if (!preChecked) {
      val est = embeddingBytes(queries)
      require(est <= broadcastBudget,
        s"brute query set is $est B > broadcast budget " +
          s"$broadcastBudget B — use the LSH/IVF indexed path")
    }
    val q = queries
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val qBytes = q.iterator.map(t =>
      if (t._2 == null) 0L else t._2.length * 4L).sum
    require(qBytes <= broadcastBudget,
      s"brute query set is $qBytes B > broadcast budget " +
        s"$broadcastBudget B — use the LSH/IVF indexed path")
    // norms precomputed per vector (sqrt of the same left-to-right
    // fold): recomputing both norms per PAIR tripled the inner-loop
    // flops for identical bits
    val bc = spark.sparkContext.broadcast(
      (q.map(_._1), q.map(_._2), q.map(t => SimilarityKernel.sqrtNorm(t._2))))
    val partial = corpus
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (ids, vecs, norms) = bc.value
        val nq = ids.length
        val cosBuf = Array.fill(nq)(new Array[Double](k))
        val idBuf = Array.fill(nq)(new Array[Long](k))
        val len = new Array[Int](nq)
        // bounded insertion, global order: cos desc, neighbor_id asc
        def insert(qi: Int, c: Double, id: Long): Unit = {
          val cb = cosBuf(qi); val ib = idBuf(qi); val l = len(qi)
          if (l < k || c > cb(l - 1) || (c == cb(l - 1) && id < ib(l - 1))) {
            var pos = if (l < k) l else k - 1
            while (pos > 0 && (c > cb(pos - 1) ||
                (c == cb(pos - 1) && id < ib(pos - 1)))) {
              cb(pos) = cb(pos - 1); ib(pos) = ib(pos - 1); pos -= 1
            }
            cb(pos) = c; ib(pos) = id
            if (l < k) len(qi) = l + 1
          }
        }
        it.foreach { case (id, emb) =>
          val rowNorm = SimilarityKernel.sqrtNorm(emb)
          if (self) {
            // each unordered pair once: this row vs queries with a
            // LARGER id (pairs against smaller ids are produced by
            // those rows' own iterations); insert both directions.
            // selfIdx: this row's own query buffer (ids are the same
            // sorted set in self mode)
            var lo = 0; var hi = nq
            while (lo < hi) { // first index with ids(qi) > id
              val mid = (lo + hi) >>> 1
              if (ids(mid) <= id) lo = mid + 1 else hi = mid
            }
            val selfIdx =
              if (lo > 0 && ids(lo - 1) == id) lo - 1 else -1
            var qi = lo
            while (qi < nq) {
              val c = SimilarityKernel.cosinePrenormed(
                vecs(qi), emb, norms(qi), rowNorm)
              insert(qi, c, id)
              if (selfIdx >= 0) insert(selfIdx, c, ids(qi))
              qi += 1
            }
          } else {
            var qi = 0
            while (qi < nq) {
              if (ids(qi) != id)
                insert(qi, SimilarityKernel.cosinePrenormed(
                  vecs(qi), emb, norms(qi), rowNorm), id)
              qi += 1
            }
          }
        }
        (0 until nq).iterator.flatMap { qi =>
          (0 until len(qi)).iterator.map(j =>
            (ids(qi), idBuf(qi)(j), cosBuf(qi)(j)))
        }
      }
      .toDF("query_id", "neighbor_id", "cos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    partial
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Exact all-pairs cosine near-duplicates (a < b, cos ≥ threshold).
    * The exact twin of [[cosineNearDups]] and the auto-routed small-n
    * path: quadratic — run on samples or below the crossover, NOT at
    * 10^12 rows. One side is collected and broadcast (as a broadcast
    * join would), each task streams its corpus slice against it in a
    * primitive loop — no per-pair row materialization. */
  def exactCosineNearDups(corpus: DataFrame, threshold: Double,
      broadcastBudget: Long = DefaultBroadcastBudgetBytes,
      preChecked: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rows = corpus
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])]
    // pre-collect bound (skipped when the auto route already asserted
    // routesToBrute against the same budget) — see bruteTopKImpl
    if (!preChecked) {
      val est = embeddingBytes(corpus)
      require(est <= broadcastBudget,
        s"exact all-pairs corpus is $est B > broadcast budget " +
          s"$broadcastBudget B — use cosineNearDups' indexed path")
    }
    val all = rows.collect().sortBy(_._1)
    val allBytes = all.iterator.map(t =>
      if (t._2 == null) 0L else t._2.length * 4L).sum
    require(allBytes <= broadcastBudget,
      s"exact all-pairs corpus is $allBytes B > broadcast budget " +
        s"$broadcastBudget B — use cosineNearDups' indexed path")
    val bc = spark.sparkContext.broadcast(
      (all.map(_._1), all.map(_._2), all.map(r => SimilarityKernel.sqrtNorm(r._2))))
    rows.mapPartitions { it =>
      val (ids, vecs, norms) = bc.value
      it.flatMap { case (a, va) =>
        val na = SimilarityKernel.sqrtNorm(va)
        // first index with id > a (ids sorted): binary search
        var lo = 0; var hi = ids.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ids(mid) <= a) lo = mid + 1 else hi = mid
        }
        (lo until ids.length).iterator.flatMap { j =>
          val c = SimilarityKernel.cosinePrenormed(va, vecs(j), na, norms(j))
          if (c >= threshold) Iterator.single((a, ids(j), c))
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
    * indexed path when the corpus exceeds it. */
  val DefaultBroadcastBudgetBytes: Long = 256L << 20

  /** Embedding dimension from one row (a 1-row head job — only probed
    * when n is already below a row crossover, never on the large-corpus
    * path); 0 for an empty corpus. */
  private[ops] def embDim(corpus: DataFrame): Int = {
    val rows = corpus.select(size(col("embedding")).as("d")).head(1)
    if (rows.isEmpty) 0 else rows(0).getInt(0)
  }

  /** The auto-route decision, pure for unit testing: brute only when the
    * corpus is below BOTH the row crossover AND the broadcast byte
    * budget. */
  private[ops] def routesToBrute(n: Long, dim: Int, crossover: Long,
      budget: Long): Boolean =
    n < crossover && n * dim.toLong * 4L <= budget

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

  /** Join both embeddings back onto an id-pair table. */
  private def withEmbeddings(pairs: DataFrame, corpus: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val embA = corpus.select(col("vec_id").as(aCol), col("embedding").as("emb_a"))
    val embB = corpus.select(col("vec_id").as(bCol), col("embedding").as("emb_b"))
    pairs.join(embA, Seq(aCol)).join(embB, Seq(bCol))
  }

  /** Rank deduped candidate (query, neighbor) pairs to per-query top-k
    * via a BROADCAST id→vector map instead of two embedding join-backs:
    * each task scores its pairs against the broadcast block (cosine
    * bit-identical to the join path — [[SimilarityKernel.cosinePrenormed]]
    * vs GraftCosine is OpsSpec-pinned) and keeps a bounded per-query
    * partial top-k, so the ranking window sorts ≤ tasks × queries × k
    * partial rows instead of every candidate pair carrying two
    * dim-sized arrays. Callers gate on a KNOWN corpus byte size (the
    * broadcast-budget discipline) and keep the join path beyond it.
    * Output identical: a pair outside its task's per-query top-k can
    * never enter the global top-k under the same total order
    * (cos desc, neighbor_id asc).
    *
    * `pairs` need NOT be globally distinct: a duplicate sighting can
    * never occupy two top-k slots because the insert scans the ≤k
    * buffer entries for its neighbor id first (O(k), no unbounded
    * per-task seen-structure — the dropDuplicates exchange this
    * replaces could at least spill), and the window input is deduped
    * over the PARTIAL rows — tasks × queries × k instead of the full
    * candidate multiset. Cross-task duplicates carry identical cos
    * values, so the surviving row is unambiguous.
    *
    * Collect safety: callers pre-gate the corpus via knownN × dim ×
    * 4 ≤ budget; both blocks additionally assert their ACTUAL byte size
    * right after collect (a stale knownN or an oversized caller-supplied
    * queries frame fails loudly instead of broadcasting). When `qEmb eq
    * nEmb` (self-query) the block is collected and broadcast once. */
  private[ops] def rankPairsTopKBroadcast(pairs: DataFrame,
      qEmb: DataFrame, nEmb: DataFrame, k: Int,
      broadcastBudget: Long = DefaultBroadcastBudgetBytes): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    if (k <= 0) // join-path parity: rank <= 0 filters everything
      return spark.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("neighbor_id"),
          lit(0.0).as("cos"), lit(0).as("rank"))
    def block(df: DataFrame): (Array[Long], Array[Array[Float]], Array[Double]) = {
      val rows = df.select(col("vec_id"),
          col("embedding").cast("array<float>"))
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      val bytes = rows.iterator.map(r =>
        if (r._2 == null) 0L else r._2.length * 4L).sum
      require(bytes <= broadcastBudget,
        s"ranking block is $bytes B > broadcast budget $broadcastBudget " +
          "B — the caller's knownN understated the corpus (or the " +
          "queries frame is oversized); use the join ranking path")
      (rows.map(_._1), rows.map(_._2),
        rows.map(r => SimilarityKernel.sqrtNorm(r._2)))
    }
    val bcQ = spark.sparkContext.broadcast(block(qEmb))
    val bcN = if (qEmb eq nEmb) bcQ
      else spark.sparkContext.broadcast(block(nEmb))
    val partial = pairs
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val (qIds, qVecs, qNorms) = bcQ.value
        val (nIds, nVecs, nNorms) = bcN.value
        def idxOf(ids: Array[Long], id: Long): Int = {
          val i = java.util.Arrays.binarySearch(ids, id)
          require(i >= 0, s"pair references unknown vec_id $id")
          i
        }
        // per-query bounded buffers: (cos desc, neighbor_id asc)
        val bufs = new java.util.HashMap[Long, (Array[Double], Array[Long], Array[Int])]()
        it.foreach { case (q, nId) =>
          val qi = idxOf(qIds, q)
          val ni = idxOf(nIds, nId)
          val c = SimilarityKernel.cosinePrenormed(
            qVecs(qi), nVecs(ni), qNorms(qi), nNorms(ni))
          var b = bufs.get(q)
          if (b == null) {
            b = (new Array[Double](k), new Array[Long](k), new Array[Int](1))
            bufs.put(q, b)
          }
          val (cb, ib, lenBox) = b
          val l = lenBox(0)
          if (l < k || c > cb(l - 1) || (c == cb(l - 1) && nId < ib(l - 1))) {
            // duplicate sighting (same pair from another bucket/table):
            // already buffered → skip, so it can never hold two slots.
            // A duplicate NOT in the buffer was evicted by k better
            // pairs and fails the threshold above by construction.
            var dup = false
            var s = 0
            while (!dup && s < l) { dup = ib(s) == nId && cb(s) == c; s += 1 }
            if (!dup) {
              var pos = if (l < k) l else k - 1
              while (pos > 0 && (c > cb(pos - 1) ||
                  (c == cb(pos - 1) && nId < ib(pos - 1)))) {
                cb(pos) = cb(pos - 1); ib(pos) = ib(pos - 1); pos -= 1
              }
              cb(pos) = c; ib(pos) = nId
              if (l < k) lenBox(0) = l + 1
            }
          }
        }
        import scala.jdk.CollectionConverters._
        bufs.entrySet().iterator().asScala.flatMap { e =>
          val (cb, ib, lenBox) = e.getValue
          (0 until lenBox(0)).iterator.map(j => (e.getKey.longValue(), ib(j), cb(j)))
        }
      }
      .toDF("query_id", "neighbor_id", "cos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    partial
      // cross-task duplicate sightings (identical cos) collapse here —
      // over the partial rows, never the full candidate multiset
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

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
    if (auto && n < lshCrossover(tablesForCross) &&
        routesToBrute(n, embDim(corpus), lshCrossover(tablesForCross),
          broadcastBudget))
      return if (queries == null)
        bruteCosineTopKSelf(corpus, k, broadcastBudget, preChecked = true)
      else
        // `queries` is CALLER-SUPPLIED and nothing enforces the
        // queries ⊆ corpus shape the routing bound assumed — keep the
        // pre-collect byte guard on this route (one cheap aggregate
        // job) so an oversized query frame fails fast instead of
        // materializing on the driver first
        bruteTopKImpl(corpus, queries, k, self = false, broadcastBudget,
          preChecked = false)
    val bits = if (auto) signBitsFor(n) else signBits
    val tbl = if (tables > 0) tables else if (auto) tablesFor(bits)
      else DefaultTables
    // Candidate ranking: when the caller KNOWS the corpus is inside the
    // broadcast byte budget (knownN ≥ 0, e.g. the forced-machinery
    // recall gate probing a counted corpus), the pairs are scored
    // against a broadcast id→vector block with per-task partial top-k —
    // no per-pair array materialization through two join-backs, a
    // partial-sized ranking window, and no full-pair-set dedup
    // exchange (the kernel dedups intra-task + over partials).
    // Unknown/large corpora keep the join path (identical output,
    // OpsSpec-pinned cosine).
    // row-count pre-filter BEFORE the 1-row embDim head-probe: a corpus
    // whose row count alone exceeds the budget (4 B/row floor) must not
    // partially execute its lineage just to learn the dim (embDim's
    // contract: never on the large-corpus path)
    val effN = if (auto) n else knownN
    val useBroadcastRanking = effN >= 0L &&
      effN * 4L <= broadcastBudget &&
      effN * math.max(embDim(corpus), 1).toLong * 4L <= broadcastBudget
    val pairs = candidatePairs(corpus, bits, tbl, n,
      symmetric = true, bucketCap, queryIds = queries,
      dedupPairs = !useBroadcastRanking)
      .select(col("a").as("query_id"), col("b").as("neighbor_id"))
    if (useBroadcastRanking) {
      val nEmbF = corpus.select(col("vec_id"), col("embedding"))
      // same reference when self-querying → ONE collected block
      val qEmbF = if (queries == null) nEmbF
        else queries.select(col("vec_id"), col("embedding"))
      rankPairsTopKBroadcast(pairs, qEmbF, nEmbF, k, broadcastBudget)
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      withEmbeddings(pairs, corpus, "query_id", "neighbor_id")
        .withColumn("cos", cosineFast(col("emb_a"), col("emb_b")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
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
    // && short-circuit keeps the embDim head-probe off the large-corpus
    // path (base is a groupBy plan — never partially execute it at scale)
    if (auto && n < lshCrossover(tablesForCross) &&
        routesToBrute(n, embDim(base), lshCrossover(tablesForCross),
          broadcastBudget))
      return exactCosineNearDups(base, threshold, broadcastBudget,
        preChecked = true)
    val bits = if (auto) signBitsFor(n) else signBits
    val tbl = if (tables > 0) tables else if (auto) tablesFor(bits)
      else DefaultTables
    val pairs = candidatePairs(base, bits, tbl, n,
      symmetric = false, bucketCap)
    withEmbeddings(pairs, base, "a", "b")
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

  /** Left-to-right double-precision cosine — the exact fold the DuckDB
    * oracle computes (list_inner_product over DOUBLE[]). */
  def cosineDouble(av: Seq[Float], bv: Seq[Float]): Double = {
    if (av == null || bv == null) return 0.0
    cosineDoubleArr(toFloatArray(av), toFloatArray(bv))
  }

  /** sqrt of the norm fold of [[cosineDouble]] — precompute once per
    * vector; dividing by the product of two precomputed sqrts is
    * bit-identical to computing them inline per pair. */
  def sqrtNorm(a: Array[Float]): Double = {
    if (a == null) return 0.0
    var na = 0.0
    var i = 0
    while (i < a.length) { val x = a(i).toDouble; na += x * x; i += 1 }
    math.sqrt(na)
  }

  /** [[cosineDouble]] with both sqrt-norms precomputed: same dot fold,
    * same `dot / (sqrt(na) * sqrt(nb))` expression, same zero guard —
    * one loop per pair instead of three. */
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

  /** [[cosineDouble]] on primitive arrays (the broadcast-block brute
    * kernels call this once per pair — no Seq wrapper). */
  def cosineDoubleArr(a: Array[Float], b: Array[Float]): Double = {
    if (a == null || b == null) return 0.0
    var dot = 0.0; var na = 0.0; var nb = 0.0
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y
      i += 1
    }
    i = 0
    while (i < a.length) { val x = a(i).toDouble; na += x * x; i += 1 }
    i = 0
    while (i < b.length) { val y = b(i).toDouble; nb += y * y; i += 1 }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (na == 0.0 || nb == 0.0) 0.0 else dot / den
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
