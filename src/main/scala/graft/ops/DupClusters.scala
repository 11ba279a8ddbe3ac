package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: near-dup PAIRS (from minhash / simhash /
  * winnowing candidates) are only half the dedup story — a training-data
  * pipeline must collapse each transitive group of near-dups to ONE kept
  * document. That is connected components over the pair graph, then a
  * deterministic canonical election inside each component.
  *
  * The components algorithm is the alternating large-star / small-star
  * method (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
  * "Connected Components in MapReduce and Beyond", SoCC 2014): each
  * round is two grouped-join passes keyed on node id, and the edge set
  * converges to per-component stars centered at the component MINIMUM in
  * O(log² n) rounds (in practice a handful — a 100-node chain, label
  * propagation's worst case at 100 rounds, converges here in 4). No
  * adjacency lists are ever collected: each pass is a `groupBy(min)`
  * plus an equi-join, so a hot node (a boilerplate page near-dup to
  * millions of others) contributes one aggregate row, never an in-memory
  * neighbor array.
  *
  * Scale notes:
  *  - every pass shuffles only (long, long) rows keyed by node id;
  *  - iteration lineage is truncated each round by a lazy
  *    `localCheckpoint` (its blocks live on the executors, so losing
  *    one mid-iteration fails the job);
  *  - convergence is detected by a (count, order-independent xxhash64
  *    checksum) pair over the canonicalized edge set — one cheap
  *    aggregate per round instead of a full set-equality join.
  */
object DupClusters {

  /** Below this many canonical edges the component structure is solved
    * EXACTLY by one union-find pass in a single executor task (never on
    * the driver) instead of O(log² n) alternating star rounds — the
    * same size-aware routing discipline as [[Similarity.lshCrossover]]
    * / IvfIndex's brute crossover. 4M (long, long) edges ≈ 64 MB of
    * rows plus an open-addressing parent table — comfortably inside one
    * task; the iterative path is unchanged above the threshold (a
    * 10^12-edge graph still runs large-star/small-star). The routes are
    * output-identical by construction (union-find IS the reference the
    * iterative algorithm is property-tested against; additionally
    * pinned in DupClustersSpec). */
  val LocalEdgeThreshold: Long = 4L << 20

  private val MaxRounds = 50 // star rounds; O(log² n) are expected

  /** Connected components over an undirected edge list.
    *
    * @param pairs edges with long columns `a`, `b` (self-loops ignored)
    * @param localEdgeThreshold canonical-edge count at or below which
    *        the exact single-task union-find route runs instead of the
    *        iterative rounds (0 forces the iterative path)
    * @return one row per distinct node: (id, component) where component
    *         is the minimum node id reachable from `id`
    */
  def connectedComponents(pairs: DataFrame,
      localEdgeThreshold: Long = LocalEdgeThreshold): DataFrame = {
    val raw = pairs
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
    // nodes come from the RAW pair list so a self-paired id still gets
    // a (trivial) component of its own
    val nodes = raw.select(col("a").as("id"))
      .union(raw.select(col("b").as("id"))).distinct()
    var edges = raw
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    // LAZY persistence: the round's checksum aggregate is the action
    // that materializes the round — ONE Spark job per iteration instead
    // of an eager-checkpoint job plus a checksum job (measured 5.5 s →
    // ~3 s on the 50-chain bench graph; the loop cost is job overhead,
    // not data)
    edges = edges.localCheckpoint(false)

    var prev = edgeChecksum(edges)
    // Small-graph route: the checksum just counted the canonical edges;
    // at or below the threshold one union-find task produces the SAME
    // converged star set (component-min → node) the rounds would, in
    // O(E α(E)) instead of O(log² n) shuffle rounds — on the bench
    // graph that is 1 task vs ~6 rounds × 4 shuffles of job latency.
    if (prev._1 <= localEdgeThreshold) {
      val stars = localUnionFindStars(edges)
      val starLabels =
        stars.select(col("b").as("id"), col("a").as("component"))
      return nodes.join(starLabels, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("component"), col("id")).as("component"))
    }
    var converged = false
    var iter = 0
    var stale: DataFrame = null
    while (!converged && iter < MaxRounds) {
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val cur = edgeChecksum(next) // materializes `next`
      // previous-previous round is now unreachable — release its blocks
      // so a long iteration cannot accrete storage
      if (stale != null) stale.unpersist()
      stale = edges
      edges = next
      converged = cur == prev
      prev = cur
      iter += 1
    }
    if (stale != null) stale.unpersist()
    require(converged,
      s"connectedComponents did not converge in $MaxRounds rounds " +
        "(O(log^2 n) expected; check the input)")

    // Converged edges form stars (hi -> component min). Nodes that are
    // component minima have no hi-side row and label themselves.
    val starLabels = edges.select(col("b").as("id"), col("a").as("component"))
    nodes.join(starLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Large-star: every node connects its LARGER neighbors to the minimum
    * of its inclusive neighborhood. One groupBy + one join, both on the
    * node id. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = symmetrize(edges)
    val mins = sym.groupBy(col("u"))
      .agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("m"))
    sym.join(mins, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("a"), col("m").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Small-star: every node connects its SMALLER-or-equal neighborhood
    * (itself included) to that neighborhood's minimum. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = symmetrize(edges).filter(col("v") < col("u"))
    val mins = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
    val leafEdges = oriented.join(mins, Seq("u"))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("a"), col("m").as("b"))
    val centerEdges = mins
      .select(col("u").as("a"), col("m").as("b"))
    leafEdges.union(centerEdges)
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
  }

  /** Exact components of a small canonical edge set: ONE executor task
    * (coalesce(1) — never a driver collect) runs min-rooted union-find
    * with path compression over an open-addressing long→long parent
    * table and emits the converged star set (component-min `a`, node
    * `b`), i.e. exactly the fixed point the alternating rounds converge
    * to. Unions always attach the larger root under the smaller, so
    * every root IS its component's minimum. */
  private def localUnionFindStars(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("a"), col("b")).as[(Long, Long)].coalesce(1)
      .mapPartitions { it =>
        val parent = new LongLongMap()
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrElse(x, x)
          while (p != x) { // path halving
            val gp = parent.getOrElse(p, p)
            parent.put(x, gp)
            x = p
            p = gp
          }
          x
        }
        it.foreach { case (a, b) =>
          val ra = find(a)
          val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
        // one star edge per non-root node seen in the parent table;
        // roots label themselves downstream (left join + coalesce)
        parent.keysIterator.flatMap { n =>
          val m = find(n)
          if (m != n) Iterator.single((m, n)) else Iterator.empty
        }
      }
      .toDF("a", "b")
  }

  private def symmetrize(edges: DataFrame): DataFrame =
    edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))

  /** Order-independent fingerprint of a canonical edge set: one
    * aggregate row (count, xor of per-edge xxhash64). */
  private def edgeChecksum(edges: DataFrame): (Long, Long) = {
    val r = edges.agg(
      count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L)).as("x"))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Canonical election: ONE kept document per component, by descending
    * `quality` then ascending doc id (deterministic). Returns a cluster
    * summary — (component, n_members, members_sum, keep_id) — sized by
    * the number of clusters, not documents. The join is keyed on doc id
    * (the labels frame is (id, component)); at crawl scale AQE broadcasts
    * the label side when the near-dup population is small relative to
    * the corpus, which it is by definition. */
  def electCanonical(docs: DataFrame, labels: DataFrame,
      idCol: String = "doc_id", qualityCol: String = "quality")
      : DataFrame = {
    val joined = docs
      .join(labels, docs(idCol) === labels("id"))
      .select(col("component"), col(idCol).as("member"),
        col(qualityCol).as("q"))
    joined
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("n_members"),
        sum(col("member")).as("members_sum"),
        // max_by with a struct tie-break: (q desc, member asc) ==
        // max of (q, -member)
        max_by(col("member"),
          struct(col("q"), (-col("member")).as("neg"))).as("keep_id"))
  }
}

/** Minimal open-addressing long→long hash map (linear probing, power-of-
  * two capacity, grow at 0.7 load) — the union-find parent table. A
  * boxed HashMap[Long, Long] costs ~100 B/entry; this is 16 B/entry, so
  * the 4M-edge threshold stays well inside one task's memory. Keys must
  * not be Long.MinValue (the empty sentinel — node ids are doc ids,
  * never MinValue). */
private[ops] final class LongLongMap(initialCapacity: Int = 1 << 16) {
  private val Empty = Long.MinValue
  private var cap = Integer.highestOneBit(math.max(16, initialCapacity - 1)) << 1
  private var mask = cap - 1
  private var keys = Array.fill[Long](cap)(Empty)
  private var vals = new Array[Long](cap)
  private var n = 0

  private def idx(k: Long): Int = {
    var h = k * -7046029254386353131L // Stafford mix constant
    h ^= h >>> 32
    (h.toInt & mask)
  }

  def getOrElse(k: Long, default: Long): Long = {
    var i = idx(k)
    while (keys(i) != Empty) {
      if (keys(i) == k) return vals(i)
      i = (i + 1) & mask
    }
    default
  }

  def put(k: Long, v: Long): Unit = {
    var i = idx(k)
    while (keys(i) != Empty) {
      if (keys(i) == k) { vals(i) = v; return }
      i = (i + 1) & mask
    }
    keys(i) = k
    vals(i) = v
    n += 1
    if (n * 10L > cap * 7L) grow()
  }

  private def grow(): Unit = {
    val ok = keys
    val ov = vals
    cap <<= 1
    mask = cap - 1
    keys = Array.fill[Long](cap)(Empty)
    vals = new Array[Long](cap)
    n = 0
    var i = 0
    while (i < ok.length) {
      if (ok(i) != Empty) put(ok(i), ov(i))
      i += 1
    }
  }

  def keysIterator: Iterator[Long] =
    keys.iterator.filter(_ != Empty)
}
