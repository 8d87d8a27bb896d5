package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import graft.config._
import graft.operators._

/** Physical-plan assertions: the plans we ship are the plans we want —
  * filters reach the parquet scan, projection prunes columns, the
  * similarity kernels run inside WholeStageCodegen, the tiny pattern table
  * broadcast-joins, and the salted pair join keeps every pair.
  */
class PlanSpec extends SparkSpec {

  private def formatted(plan: org.apache.spark.sql.DataFrame): String =
    plan.queryExecution.executedPlan.toString

  test("filter + projection push into the parquet scan") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(l_quantity"),
      s"filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema") && !scan.contains("l_extendedprice"),
      s"columns not pruned:\n$scan")
  }

  test("gamma stage runs inside WholeStageCodegen (native expressions, no UDFs)") {
    import spark.implicits._
    val a = Seq(("x", "MARTHA", 1.0), ("y", "DWAYNE", 2.0)).toDF("id_a", "name_a", "v_a")
    val b = Seq(("z", "MARHTA", 1.5)).toDF("id_b", "name_b", "v_b")
    val pairs = a.crossJoin(b)
    val withG = Gamma.addGammaColumns(pairs,
      Seq(VariableSpec("name", "jarowinkler"), VariableSpec("v", "numeric", cutA = 1, cutB = 2)))
    withG.collect() // finalize the adaptive plan
    val plan = formatted(withG)
    // "*(n)" prefixes mark operators inside WholeStageCodegen stage n; the
    // gamma Project must carry one
    assert("""\*\(\d+\) Project \[""".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
    // and the expression actually evaluates through codegen
    val row = withG.filter($"id_a" === "x").select("gamma_name").head()
    assert(row.getByte(0) == 2) // jw(MARTHA,MARHTA)=0.9611 >= 0.92
  }

  test("pattern stats attach is a broadcast join, not a shuffle join") {
    import spark.implicits._
    val pairs = Seq((1L, 2L, 2.toByte), (3L, 4L, 0.toByte)).toDF("id_a", "id_b", "gamma_x")
    val em = EmLink.run(
      Seq(EmLink.Pattern(Array(2), 5), EmLink.Pattern(Array(0), 95)),
      (10L, 10L), Seq("x"))
    val attached = Patterns.attach(pairs, Patterns.statsDf(spark, em), Seq("x"))
    val plan = formatted(attached)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("salted pair join preserves every pair exactly once") {
    import spark.implicits._
    // one hot block (50 rows) + one small block (5 rows)
    val rows = (1 to 50).map(i => (i.toLong, s"hot", s"n$i")) ++
      (1 to 5).map(i => (100L + i, s"cold", s"m$i"))
    val df = rows.toDF("id", "block", "name")
    val cfg = MatchConfig("ida", "idb", comparisons =
      ComparisonGroup("g", Seq(VariableSpec("name", "exact"))))
    def side(id: String) = df.select(col("id").as(id), col("name"), col("block"))
    val specs = cfg.comparisons.allVariables
    val plain = Linker.buildPairs(side("ida"), side("idb"), cfg, specs, Seq("block"), None)
    val salted = Linker.buildPairs(side("ida"), side("idb"), cfg, specs, Seq("block"), Some(10L))
    assert(plain.count() == 50L * 50 + 5L * 5)
    assert(salted.count() == plain.count())
    // the block-count query behind the salting predicts the join output
    // exactly, and finds the hot block with its salt count ceil(50 / 10)
    val counts = Linker.blockCounts(side("ida"), side("idb"), Seq("block"), Some(10L))
    assert(counts.pairs == BigInt(salted.count()))
    assert(counts.oversized.get.collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("hot", 5)))
    // identical pair multiset
    val p1 = plain.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val p2 = salted.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(p1.sameElements(p2))
  }

  test("pattern aggregation is a partial+final hash aggregate") {
    import spark.implicits._
    val pairs = Seq((1L, 2L, 2.toByte, 0.toByte)).toDF("id_a", "id_b", "gamma_x", "gamma_y")
    val agg = Patterns.aggregate(pairs, Seq("x", "y"))
    val plan = formatted(agg)
    assert(plan.contains("HashAggregate"), plan)
    // partial + final pair
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("URL canonicalization + SURT key are one codegen projection (no Exchange, no UDF)") {
    import graft.textops.UrlOps
    val urls = spark.range(100).select(
      concat(lit("HTTP://WWW.h"), col("id"), lit(".Example.COM:80/P/"),
        col("id"), lit("?b=2&utm_source=x&a=1#f")).as("url"))
    val out = urls.select(UrlOps.canonicalUrl(col("url")).as("u"),
      UrlOps.surtKey(col("url")).as("s"))
    val plan = formatted(out)
    // at 100 TB this is the first dedup pass over every row — it must ride
    // the scan as a single codegen'd projection ("*(n)" marks operators
    // inside WholeStageCodegen stage n; the canon_query/reverse_labels
    // kernels keep it there — the HOF lambda forms are CodegenFallback)
    assert(!plan.contains("Exchange") && !plan.contains("ScalaUDF"), plan)
    assert("""\*\(\d+\) Project \[""".r.findFirstIn(plan).isDefined, plan)
  }

  test("cosine join: codegen dot kernel, equi-join candidates, one computation of the vector table") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val df = graft.textops.Similarity.prefixCosinePairs(docs, "doc_id", "text", 0.7)
    val plan = formatted(df)
    // the per-pair verification must be the codegen merge kernel, never an
    // interpreted HOF lambda (the O(pairs)-hostile shape)
    assert(plan.contains("sorted_weighted_dot"), plan)
    assert(!plan.contains("CartesianProduct"),
      "candidate generation degraded to a cartesian product:\n" + plan)
    // the four consumers (prefix/full postings, both verify sides) must
    // read the persisted per-doc vector table, not recompute it — without
    // the persist the analyzed plan held 4 independent copies of the whole
    // tokenize→weight→aggregate pipeline (string-counting the PHYSICAL plan
    // is misleading here: InMemoryTableScan prints its cached plan's
    // internals, so the aggregate appears textually once per reader)
    assert(plan.contains("InMemoryTableScan"), plan)
    assert("InMemoryRelation".r
      .findAllIn(df.queryExecution.withCachedData.toString).length == 4,
      "all four consumers must read the persisted vector table:\n" + plan)
    // the cost gate must have flipped the verify joins to broadcast-hash
    // here (tiny vector table well under broadcastMaxBytes) — the r5 weak
    // point was the sort-merge verify path staying on by default
    assert(plan.contains("BroadcastHashJoin"),
      "auto broadcastVectors gate did not fire on a tiny vector table:\n" + plan)
  }

  test("IVF cell assignment is a shuffle-free projection (no Exchange between scan and cell)") {
    import graft.textops.Similarity
    import spark.implicits._
    val vecs = spark.range(100).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(4)),
        i => (pmod(xxhash64(col("id"), i), lit(100)).cast("double") / 100.0))
        .as("embedding"))
    val cents = Similarity.kmeansCentroidsLocal(vecs, "vec_id", "embedding", 4, 1)
    assert(cents.size == 4, "k-means must not drop empty cells")
    val assigned = vecs.select(col("vec_id"),
      Similarity.nearestCentId(col("embedding"), cents).as("cell"))
    val plan = formatted(assigned)
    // the whole assignment is one projection over the corpus: the old
    // crossJoin(centroids)+window form shuffled nCells x |corpus| rows here
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
    // kernel parity: the projection's argmax equals the brute-force argmax
    val brute = vecs.crossJoin(
        cents.toDF("cid", "cent").select(col("cid"), col("cent").cast("array<double>")))
      .withColumn("cos", Similarity.cosine(col("embedding"), col("cent")))
      .groupBy("vec_id").agg(max_by(col("cid"), struct(col("cos"), -col("cid"))).as("cell"))
    val got = assigned.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = brute.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"argmax kernel disagrees with brute force")
  }

  test("IVF top-k: probed query side broadcast, corpus never shuffles on cell keys") {
    import graft.textops.Similarity
    val vecs = spark.range(100).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(4)),
        i => (pmod(xxhash64(col("id"), i), lit(100)).cast("double") / 100.0))
        .as("embedding"))
    val topk = Similarity.ivfTopK(vecs, vecs.limit(5), "vec_id", "embedding",
      k = 2, nCells = 4, nProbe = 2)
    val plan = formatted(topk)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("minhash/simhash signature stages are pure projections: no aggregate, no extra exchange") {
    import graft.textops.Dedup
    import graft.operators.Blocking
    // NOT a Seq-literal DF: ConvertToLocalRelation would evaluate the kernel
    // projection at optimization time and the plan under test would vanish
    val docs = spark.range(3).select(col("id").as("doc_id"),
      concat_ws(" ", lit("a"), col("id").cast("string"), lit("c d e")).as("text"))
    // band keys from a materialized shingle table: kernel projection + posexplode
    val sh = docs.select(col("doc_id"),
      array_distinct(Blocking.tokenShingles(col("text"), 3)).as("__sh"))
    val banded = Blocking.minhashBandKeys(sh, "doc_id", "__sh", 16, 4)
    val bandedPlan = formatted(banded)
    assert(!bandedPlan.contains("HashAggregate"), bandedPlan)
    assert(!bandedPlan.contains("Exchange"), bandedPlan)
    assert(bandedPlan.contains("minhash_sig"), bandedPlan)
    // `*(n)` prefixes = whole-stage-codegen stages in this plan rendering
    assert(bandedPlan.contains("*(1) Project"), bandedPlan)
    // simhash table: one repartition exchange (scan spreading), zero aggregates
    val simPlan = formatted(Dedup.simhashTable(docs, "doc_id", "text"))
    assert(!simPlan.contains("HashAggregate"), simPlan)
    assert("Exchange".r.findAllIn(simPlan).size == 1, simPlan)
    assert(simPlan.contains("simhash64"), simPlan)
  }

  test("minhash LSH: banded pipeline computed once — self-join reuses the window's exchange") {
    import graft.textops.Dedup
    import graft.sources.WebCorpus
    // hermetic: another suite caches a WebCorpus DF with the default params
    // in the shared session, and a cache hit on the corpus subtree changes
    // the physical plan under test — clear the cache and use distinct params
    spark.catalog.clearCache()
    val docs = WebCorpus.pages(spark, WebCorpus.Params(nBase = 280, dupFraction = 0.3, nHosts = 9))
      .select(col("page_id").as("doc_id"), col("text"))
    val mh = Dedup.minhashDupPairs(docs, "doc_id", "text",
      threshold = 0.3, shingleSize = 3, numHashes = 16, bands = 8)
    val qe = mh.queryExecution
    mh.collect() // materialize THIS execution so the AQE plan is final
    val plan = qe.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), plan.take(500))
    // the shingle->minhash->band-key pipeline must be evaluated once: the
    // second self-join side's window input is a ReusedExchange of the first
    // side's (band, key) shuffle — not a recompute of the whole pipeline
    assert(plan.contains("ReusedExchange"),
      "banded key table recomputed per join side:\n" + plan.take(3000))
  }

  test("link scans each input side exactly once; side counts ride the join as observed metrics") {
    import spark.implicits._
    val accA = spark.sparkContext.longAccumulator("scanA")
    val accB = spark.sparkContext.longAccumulator("scanB")
    def mk(n: Int, id: String, acc: org.apache.spark.util.LongAccumulator) =
      spark.range(n).map { x => acc.add(1); x }.toDF("v")
        .select(col("v").as(id), concat(lit("n"), col("v") % 30).as("name"),
          (col("v") % 4).cast("string").as("block"))
    val cfg = MatchConfig("ida", "idb", comparisons =
      ComparisonGroup("g", Seq(VariableSpec("name", "jarowinkler"))))
    val res = Linker.link(mk(120, "ida", accA), mk(100, "idb", accB), cfg,
      blockCols = Seq("block"))
    // dims came through the observation, not eager counts
    assert(res.em.numberOfComparisons == 120L * 100L)
    // and each side's rows were produced exactly once for the whole link
    // (the old form ran eager dfA.count()/dfB.count() = 2 extra input scans)
    assert(accA.value == 120, s"A side scanned ${accA.value / 120.0}x")
    assert(accB.value == 100, s"B side scanned ${accB.value / 100.0}x")
  }

  test("fanout repartition survives AQE partition coalescing (no 1-task fan-out)") {
    import spark.implicits._
    val rows = (1 to 200).map(i => (i.toLong, s"b${i % 4}", s"n$i"))
    val df = rows.toDF("id", "block", "name")
    val cfg = MatchConfig("ida", "idb", comparisons =
      ComparisonGroup("g", Seq(VariableSpec("name", "exact"))))
    def side(id: String) = df.select(col("id").as(id), col("name"), col("block"))
    val specs = cfg.comparisons.allVariables
    val prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      val fanned = Linker.buildPairs(side("ida"), side("idb"), cfg, specs,
        Seq("block"), None, fanoutPartitions = Some(16))
      // 4 blocks x 50^2 pairs: the count comes from the pair count (here its
      // floor, two tasks per core) under the ceiling of 16
      val derived = Linker.pairJoinPartitions(BigInt(4 * 50 * 50),
        spark.sparkContext.defaultParallelism, 16)
      assert(derived > 1)
      // explicit-numPartitions repartition is never AQE-coalesced: the
      // comparator fan-out keeps its parallelism on ANY session conf
      assert(fanned.rdd.getNumPartitions == derived)
      // and the pair multiset is untouched by the extra exchange
      assert(fanned.count() ==
        Linker.buildPairs(side("ida"), side("idb"), cfg, specs, Seq("block")).count())
    } finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
  }

  test("pair-join fan-out: two tasks per core floor, one task per PairsPerTask pairs, fanout ceiling") {
    import Linker.{pairJoinPartitions, PairsPerTask}
    // floor: a small pair space still gets two tasks per core
    assert(pairJoinPartitions(BigInt(0), 4, 64) == 8)
    assert(pairJoinPartitions(BigInt(45000), 4, 64) == 8)
    // derived from P: ceil(P / PairsPerTask)
    assert(pairJoinPartitions(BigInt(20) * PairsPerTask, 4, 64) == 20)
    assert(pairJoinPartitions(BigInt(20) * PairsPerTask + 1, 4, 64) == 21)
    // ceiling: the caller's fanout caps both the floor and the P-derived count
    assert(pairJoinPartitions(BigInt(10).pow(12), 4, 64) == 64)
    assert(pairJoinPartitions(BigInt(0), 16, 8) == 8)
    // the flagship's 148,871,042 pairs keep their 64-way fan-out
    // (ceiling max(64, 2 x cores)) at 2, 8 and 16 cores
    Seq(2, 8, 16).foreach { cores =>
      assert(pairJoinPartitions(BigInt(148871042L), cores, math.max(64, 2 * cores)) == 64,
        s"$cores cores")
    }
  }

  test("TF frequency-table join is cardinality-gated: broadcast small, shuffle large") {
    import spark.implicits._
    val df = (1 to 300).map(i => (i.toLong, s"v${i % 150}")).toDF("id", "name")
    val specs = Seq(VariableSpec("name", "exact", tfAdjust = true))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // kill size-based auto-broadcast so the plan reflects OUR gate only
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val low = TermFrequency.withTfColumns(df, specs, "_a")
      assert(formatted(low).contains("BroadcastHashJoin"), formatted(low))
      val high = TermFrequency.withTfColumns(df, specs, "_a", broadcastMaxDistinct = 10L)
      val planHigh = formatted(high)
      assert(!planHigh.contains("BroadcastHashJoin"), planHigh)
      // identical TF values either way
      val a = low.orderBy("id").select("tf_name_a").collect().map(_.getDouble(0)).toSeq
      val b = high.orderBy("id").select("tf_name_a").collect().map(_.getDouble(0)).toSeq
      assert(a == b)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("TF dedupe: day-1 pair join has no frequency aggregate; increment write is one join, no gamma scan") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      InsertIntoHadoopFsRelationCommand, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = java.nio.file.Files.createTempDirectory("graft-plan").toString
    val gdir = new org.apache.hadoop.fs.Path(s"$root/gammas")
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[InsertIntoHadoopFsRelationCommand]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed.foreach {
          case w: InsertIntoHadoopFsRelationCommand if w.outputPath.getName == "gammas" &&
              w.outputPath.toString.contains(root) => writes.add(w)
          case _ =>
        }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val pages = spark.range(80).select(col("id").as("page_id"),
      concat(lit("t"), (col("id") % 7).cast("string")).as("title"),
      (col("id") % 3).cast("string").as("block"))
    val cfg = MatchConfig("__ida", "__idb", comparisons = ComparisonGroup("g",
      Seq(VariableSpec("title", "exact", tfAdjust = true))))
    val corpus = pages.filter(col("page_id") % 5 =!= 0)
    val inc = pages.filter(col("page_id") % 5 === 0)
    def writeOf(mode: SaveMode): LogicalPlan = {
      val deadline = System.nanoTime() + 30e9.toLong
      // listener events arrive asynchronously
      while (!writes.toArray.exists(_.asInstanceOf[InsertIntoHadoopFsRelationCommand].mode == mode) &&
          System.nanoTime() < deadline) Thread.sleep(50)
      writes.toArray.map(_.asInstanceOf[InsertIntoHadoopFsRelationCommand])
        .find(_.mode == mode).getOrElse(fail(s"no $mode write to $gdir")).query
    }
    spark.listenerManager.register(listener)
    try {
      Checkpoints.linkAndClusterResumable(corpus.withColumnRenamed("page_id", "__ida"),
        corpus.withColumnRenamed("page_id", "__idb"), cfg, Seq("block"), root,
        pairFilter = Some(Checkpoints.dedupePairFilter),
        comparisonSpace = Some(Checkpoints.dedupeComparisonSpace)).count()
      Checkpoints.appendDedupeIncrement(corpus, inc, "page_id", cfg, Seq("block"), root).count()

      val day1 = writeOf(SaveMode.Overwrite)
      val tfAggs = day1.collect {
        case a: Aggregate if a.output.exists(_.name.startsWith("tf_")) => a
      }
      assert(tfAggs.isEmpty, s"frequency aggregate in the day-1 pair join:\n$day1")
      assert(day1.collect { case j: Join => j }.size == 1, day1.toString)

      val increment = writeOf(SaveMode.Append)
      assert(increment.collect { case j: Join => j }.size == 1,
        s"increment write plan is not one pair join:\n$increment")
      val gammaScans = increment.collect { case r: LogicalRelation => r.relation }.collect {
        case h: HadoopFsRelation if h.location.rootPaths.exists(_.toString.contains(root)) => h
      }
      assert(gammaScans.isEmpty, s"increment write scans the stored gammas:\n$increment")
    } finally spark.listenerManager.unregister(listener)
  }

  test("distinct-value rewrite broadcasts the scored distinct table") {
    import spark.implicits._
    val pairs = Seq(("a", "MARTHA", "MARHTA"), ("b", "MARTHA", "MARHTA"))
      .toDF("k", "name_a", "name_b")
    val rewritten = Gamma.addGammaColumnDistinct(pairs, VariableSpec("name", "jarowinkler"))
    val plan = formatted(rewritten)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}
