package graft

import org.apache.spark.sql.functions._
import graft.operators.ConnectedComponents

class ConnectedComponentsSpec extends SparkSpec {

  test("chains, cliques, singletons-in-edges resolve to min-id components") {
    import spark.implicits._
    // component 1: chain 1-2-3-4-5; component 2: clique {10,11,12};
    // component 3: single edge 20-21; component 4: star 30-{31,32,33}
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L),
      (30L, 31L), (30L, 32L), (30L, 33L)).toDF("src", "dst")
    val comps = ConnectedComponents.run(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(comps(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(comps(_) == 10L))
    assert(Seq(20L, 21L).forall(comps(_) == 20L))
    assert(Seq(30L, 31L, 32L, 33L).forall(comps(_) == 30L))
  }

  test("long path converges (log-round behavior)") {
    import spark.implicits._
    val n = 200
    val edges = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val comps = ConnectedComponents.run(edges)
    assert(comps.select(countDistinct("component")).head().getLong(0) == 1L)
    assert(comps.count() == (n + 1).toLong)
    assert(comps.agg(max("component")).head().getLong(0) == 0L)
  }

  test("duplicate + reversed edges are normalized") {
    import spark.implicits._
    val edges = Seq((2L, 1L), (1L, 2L), (2L, 1L), (3L, 3L), (3L, 2L)).toDF("src", "dst")
    val comps = ConnectedComponents.run(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(1L) == 1L && comps(2L) == 1L && comps(3L) == 1L)
  }

  test("driver union-find short-circuit == distributed large/small-star loop") {
    import spark.implicits._
    // seeded random graph: mixture of chains, merges, and isolated pairs
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(500)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .toDF("src", "dst")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // localMaxEdges=0 forces the iterative loop; default takes the driver path
    val distributed = toMap(ConnectedComponents.run(edges, localMaxEdges = 0L))
    val local = toMap(ConnectedComponents.run(edges))
    assert(local == distributed)
    assert(local.nonEmpty)
  }

  test("over-cap graph: the probe and the distinct path share one pass of the edge source") {
    import spark.implicits._
    val produced = spark.sparkContext.longAccumulator("edgeRows")
    // 200 edges over 4 partitions: node i + 10 hangs off node i % 10
    val edges = spark.range(0, 200, 1, 4).map { i =>
      produced.add(1)
      (i + 10L, i % 10L)
    }.toDF("src", "dst")
    // a cap of 5 edges: the raw probe comes back over the cap and the run
    // falls through to the distinct path and the distributed loop
    val comps = ConnectedComponents.run(edges, localMaxEdges = 5L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(produced.value == 200L, s"edge source produced ${produced.value} rows for 200 edges")
    assert(comps.size == 210 && comps.forall { case (n, c) => c == n % 10 })
  }

  test("chains and cliques resolve identically through the distributed loop") {
    import spark.implicits._
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("src", "dst")
    val comps = ConnectedComponents.run(edges, localMaxEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(comps(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(comps(_) == 10L))
    assert(Seq(20L, 21L).forall(comps(_) == 20L))
  }

  test("incremental clustering == from-scratch CC over the full edge history") {
    import spark.implicits._
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
    // day 1: {1,2,3} (chain), {10,11}
    val day1 = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val c1 = ConnectedComponents.clusterPairs(day1)
    // day 2: grow {1..3} with 4; MERGE {1..3} and {10,11} via (3,10);
    // brand-new cluster {70,71}
    val day2 = Seq((3L, 4L), (3L, 10L), (70L, 71L)).toDF("id_a", "id_b")
    val incr = labels(ConnectedComponents.incrementalCluster(c1, day2))
    val full = labels(ConnectedComponents.clusterPairs(day1.unionByName(day2)))
    assert(incr == full, s"incr=$incr full=$full")
    assert(incr(10L) == 1L && incr(4L) == 1L) // cross-increment merge hit min id
    assert(incr(71L) == 70L)
    // a third increment folding the SECOND labeling still equals from-scratch
    val day3 = Seq((11L, 4L)).toDF("id_a", "id_b")
    val c2 = ConnectedComponents.incrementalCluster(c1, day2)
    val incr3 = labels(ConnectedComponents.incrementalCluster(c2, day3))
    val full3 = labels(ConnectedComponents.clusterPairs(
      day1.unionByName(day2).unionByName(day3)))
    assert(incr3 == full3)
  }

  test("incremental clustering preserves bootstrap singleton labels") {
    import spark.implicits._
    // an "every doc its own entity" bootstrap labeling: (n, n) rows are
    // self-loops the edge normalization would silently drop
    val bootstrap = Seq((1L, 1L), (2L, 2L), (50L, 50L)).toDF("node", "component")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val out = ConnectedComponents.incrementalCluster(bootstrap, pairs)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 50L -> 50L), out.toString)
  }
}
