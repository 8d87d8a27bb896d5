package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Transitive closure of above-threshold pairs into entity clusters via the
  * alternating large-star / small-star algorithm (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) as DataFrame
  * self-joins — the north-rule clustering stage.
  *
  * The reference has no clustering operator (its output is raw matched
  * pairs); this is the scale feature that turns pairs into entities.
  *
  * Scale properties: each round is two shuffles (groupBy min + re-emission);
  * converges in O(log^2 n) rounds on pathological graphs, 2-5 rounds on
  * dedup graphs (star-like clusters). Lineage is truncated every round with
  * localCheckpoint so the plan does not grow exponentially; at cluster scale
  * swap in reliable checkpointing (`spark.sparkContext.setCheckpointDir` +
  * `.checkpoint()`) for executor-loss resilience.
  *
  * Graphs at or under [[LocalMaxEdges]] deduplicated edges short-circuit to
  * a driver union-find (one bounded collect) — see the constant's doc for
  * the measured rationale; the iterative loop is the path above the cap,
  * with its shuffle partitioning sized to the edge count rather than the
  * session's pair-join setting.
  */
object ConnectedComponents {

  /** Below this many (deduplicated) edges the component assignment runs as a
    * driver-side union-find over ONE bounded, streamed collect instead of the
    * iterative self-join loop. Rationale: each large-star/small-star round is
    * ~6 shuffle stages + a lineage-truncation job, so on a tiny match graph
    * the loop is pure scheduling latency (measured: 28k edges → 22.8 s cold /
    * 7.5 s warm at local[8], vs milliseconds of actual union-find work). The
    * match graph after thresholding is routinely this small even when the
    * scored pair space is billions — and when it is NOT (web-scale dedupe
    * with giant clusters), the distributed loop below is the path taken.
    * Same contract either way: component = min reachable node id.
    *
    * Driver memory at the cap is all-primitive: two long edge arrays (16 MB),
    * a sorted node array (≤ 16 MB) and an int parent array (≤ 4 MB) — plus a
    * transient boxed row batch while the result Dataset materializes. Raise
    * `localMaxEdges` only with driver heap to match (~50 B/node transient).
    */
  val LocalMaxEdges: Long = 1L << 20

  /** edges: two long columns (src, dst). Returns (node, component) where
    * component = min node id reachable.
    */
  def run(
      edges: DataFrame,
      maxIter: Int = 50,
      reliable: Boolean = false,
      localMaxEdges: Long = LocalMaxEdges): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // CC iterations are input-bytes-dominated (narrow long pairs), the
    // opposite of the pair-generation stages — AQE partition coalescing is
    // the right policy here even when the caller disabled it globally for
    // the output-dominated join stages. Scoped override, restored on exit.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "true")
    try runInternal(edges, maxIter, reliable, localMaxEdges)
    finally prevCoalesce match {
      case Some(v) => spark.conf.set(coalesceKey, v)
      case None    => spark.conf.unset(coalesceKey)
    }
  }

  /** Driver union-find over a bounded edge list, all-primitive (no boxed
    * maps): node ids are dense-indexed via a sorted array + binary search, so
    * index order == id order and union-by-min-index with full path
    * compression makes every root the minimum id of its set — find(x) IS the
    * component label. Returns (nodes, components) as parallel arrays.
    */
  private[operators] def unionFindLocal(
      us: Array[Long], vs: Array[Long]): (Array[Long], Array[Long]) = {
    val nE = us.length
    val all = new Array[Long](2 * nE)
    System.arraycopy(us, 0, all, 0, nE)
    System.arraycopy(vs, 0, all, nE, nE)
    java.util.Arrays.sort(all)
    var m = 0 // unique in place
    var j = 0
    while (j < all.length) {
      if (m == 0 || all(j) != all(m - 1)) { all(m) = all(j); m += 1 }
      j += 1
    }
    val nodes = java.util.Arrays.copyOf(all, m)
    val parent = new Array[Int](m)
    var k = 0
    while (k < m) { parent(k) = k; k += 1 }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) x = parent(x)
      var y = x0 // path compression
      while (parent(y) != y) { val n = parent(y); parent(y) = x; y = n }
      x
    }
    var i = 0
    while (i < nE) {
      val ru = find(java.util.Arrays.binarySearch(nodes, us(i)))
      val rv = find(java.util.Arrays.binarySearch(nodes, vs(i)))
      if (ru < rv) parent(rv) = ru
      else if (rv < ru) parent(ru) = rv
      i += 1
    }
    val comp = new Array[Long](m)
    k = 0
    while (k < m) { comp(k) = nodes(find(k)); k += 1 }
    (nodes, comp)
  }

  private def runInternal(
      edges: DataFrame, maxIter: Int, reliable: Boolean,
      localMaxEdges: Long): DataFrame = {
    def checkpoint(df: DataFrame): DataFrame = {
      val out = if (reliable) df.checkpoint() else df.localCheckpoint()
      out
    }

    val cap = math.min(localMaxEdges, Int.MaxValue.toLong - 1).toInt
    // The edge source is persisted across the probe and the fall-through:
    // the probe runs the whole upstream lineage (every map stage feeding
    // the first partition), and an over-cap graph would otherwise run it
    // again for the distinct below. Every path leaves with driver arrays or
    // an eagerly checkpointed edge table, so the source is released on exit.
    val source = edges.toDF("u", "v").persist(StorageLevel.MEMORY_AND_DISK)
    try runFrom(source, maxIter, cap, localMaxEdges, checkpoint)
    finally source.unpersist()
  }

  private def runFrom(
      source: DataFrame, maxIter: Int, cap: Int, localMaxEdges: Long,
      checkpoint: DataFrame => DataFrame): DataFrame = {
    val spark = source.sparkSession
    import spark.implicits._
    // RAW fast path: when even the un-deduplicated edge list fits the local
    // cutoff, take it in ONE bounded pass — union-find is insensitive to
    // duplicate edges and orientation, so the normalize/distinct shuffle,
    // the localCheckpoint materialization and the count job all disappear.
    // `limit(cap+1)` makes the probe self-gating: under the cap it returns
    // EVERY row in a single lineage pass (executeTake walks the partitions
    // in geometric batches); cap+1 rows back means "too big" and the code
    // falls through to the dedup below, which may still land in the local
    // path after distinct shrinks the graph. Self-loops are dropped in the
    // filter — same node universe as the distinct path. Driver footprint is
    // the transient boxed batch (bounded by the cap) + two long arrays.
    val raw = source.filter($"u" =!= $"v")
    val taken = raw.limit(cap + 1).collect()
    if (taken.length <= cap) {
      val n = taken.length
      val us = new Array[Long](n)
      val vs = new Array[Long](n)
      var i = 0
      while (i < n) { us(i) = taken(i).getLong(0); vs(i) = taken(i).getLong(1); i += 1 }
      val (nodes, comp) = unionFindLocal(us, vs)
      return spark.createDataset(nodes.indices.map(k => (nodes(k), comp(k))))
        .toDF("node", "component")
    }

    // normalize: undirected, no self-loops, as (u, v)
    var e = checkpoint(
      raw.select(least($"u", $"v").as("u"), greatest($"u", $"v").as("v"))
        .distinct())

    val nEdges = e.count()
    // clamp the local-path cutoff so nEdges.toInt below can never wrap: a
    // caller raising localMaxEdges past Int.MaxValue would otherwise turn
    // the Array allocation into NegativeArraySizeException (or silent
    // truncation for 2^31..2^32) — above the clamp the distributed loop is
    // the only sane path anyway
    if (nEdges <= math.min(localMaxEdges, Int.MaxValue.toLong)) {
      // streamed collect (partition at a time) into primitive arrays — the
      // retained driver footprint is the two long arrays, not boxed rows
      val n = nEdges.toInt
      val us = new Array[Long](n)
      val vs = new Array[Long](n)
      val it = e.select($"u", $"v").toLocalIterator()
      var i = 0
      while (it.hasNext) { val r = it.next(); us(i) = r.getLong(0); vs(i) = r.getLong(1); i += 1 }
      val (nodes, comp) = unionFindLocal(us, vs)
      return spark.createDataset(nodes.indices.map(k => (nodes(k), comp(k))))
        .toDF("node", "component")
    }
    // large graph: size the loop's shuffles to the data (the session's
    // pair-join partitioning is far too fine for long-pair iterations; fewer
    // tasks = less per-round scheduling latency, AQE still coalesces below)
    val partKey = "spark.sql.shuffle.partitions"
    val prevPart = spark.conf.getOption(partKey)
    spark.conf.set(partKey,
      math.max(16L, math.min(spark.conf.get(partKey).toLong, nEdges / 2000000L)).toString)
    try runLoop(e, maxIter, checkpoint)
    finally prevPart match {
      case Some(v) => spark.conf.set(partKey, v)
      case None    => spark.conf.unset(partKey)
    }
  }

  private def runLoop(
      e0: DataFrame, maxIter: Int,
      checkpoint: DataFrame => DataFrame): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    var e = e0

    var iter = 0
    var converged = false
    // order-free checksum of the current edge multiset; recomputed once per
    // iteration (the previous iteration's value is reused, not re-queried)
    def checksumOf(df: DataFrame) =
      df.agg(sum(xxhash64($"u", $"v").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("c")).head()
    var prevSum = checksumOf(e)
    while (!converged && iter < maxIter) {
      // --- large-star: connect every neighbor larger than u to the min of
      // N(u) u {u} ---
      val nbrs = e.select($"u", $"v").union(e.select($"v".as("u"), $"u".as("v")))
      val mins = nbrs.groupBy($"u").agg(least(min($"v"), first($"u")).as("m"))
      val large = nbrs
        .join(mins, "u")
        .filter($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))
        .filter($"u" =!= $"v")
        .select(least($"u", $"v").as("u"), greatest($"u", $"v").as("v"))
        .distinct()
      // --- small-star: connect every neighbor <= u to the min ---
      val nbrs2 = large.select($"u", $"v").union(large.select($"v".as("u"), $"u".as("v")))
      val smallNbrs = nbrs2.filter($"v" <= $"u")
      val mins2 = smallNbrs.groupBy($"u").agg(least(min($"v"), first($"u")).as("m"))
      val small = smallNbrs
        .join(mins2, "u")
        .select($"v".as("u"), $"m".as("v"))
        .union(mins2.select($"u", $"m".as("v")))
        .filter($"u" =!= $"v")
        .select(least($"u", $"v").as("u"), greatest($"u", $"v").as("v"))
        .distinct()

      val next = checkpoint(small)
      val newSum = checksumOf(next)
      converged = prevSum == newSum
      prevSum = newSum
      e.unpersist()
      e = next
      iter += 1
    }

    // components: every edge now points at its root (star graph)
    val assign = e.select($"v".as("node"), $"u".as("component"))
      .union(e.select($"u".as("node"), $"u".as("component")))
      .groupBy($"node").agg(min($"component").as("component"))
    assign
  }

  /** Convenience: cluster matched pairs (id_a, id_b) and return
    * (node, component) covering every node that appears in a pair.
    */
  def clusterPairs(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b"): DataFrame =
    run(pairs.select(col(idA).cast("long"), col(idB).cast("long")))

  /** Incremental clustering: fold a PREVIOUS labeling into the new match
    * edges instead of re-clustering the full edge history. The previous
    * `(node, component)` table is a spanning star forest of everything seen
    * so far (component = min reachable id, so every label edge points
    * straight at its component's minimum node), which makes
    * `cc(labels ∪ newEdges)` EXACTLY equal to `cc(allEdgesEver)` — the min
    * of merged components is the min over their label ids — while the
    * star-shaped input converges in ~1 round instead of re-walking the old
    * graph's chains.
    *
    * At the 10^12-node regime this is the difference between touching the
    * petabyte-class match-edge history on every increment and touching
    * O(nodes) labels + O(increment) edges. Singleton components — a label
    * `(n, n)` with no other edge touching `n`, e.g. from an "every doc its
    * own entity" bootstrap labeling — would be dropped by the edge
    * normalization's self-loop cut; their previous labels are restored with
    * one node-scale anti-join so no labeled node ever disappears.
    */
  def incrementalCluster(
      prevClusters: DataFrame,
      newPairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b"): DataFrame = {
    val prev = prevClusters.select(col("node").cast("long").as("node"),
      col("component").cast("long").as("component"))
    val folded = run(prev.select(col("node").as("__src"), col("component").as("__dst"))
      .unionByName(
        newPairs.select(col(idA).cast("long").as("__src"),
          col(idB).cast("long").as("__dst"))))
    val singletons = prev.join(folded.select(col("node")), Seq("node"), "left_anti")
    folded.unionByName(singletons.select(col("node"), col("component")))
  }
}
