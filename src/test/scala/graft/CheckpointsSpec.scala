package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.config._
import graft.operators._
import graft.sources.WebCorpus

class CheckpointsSpec extends SparkSpec {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-ckpt").toString

  test("materialize writes once, records per-partition lineage, and resumes") {
    val root = tmpRoot()
    var computeCount = 0
    def stage() = {
      computeCount += 1
      spark.range(100).toDF("id")
    }
    val first = Checkpoints.materialize(spark, root, "s1")(stage())
    assert(first.count() == 100)
    assert(computeCount == 1)
    val info = Checkpoints.readInfo(root, "s1").get
    assert(info.rows == 100)
    assert(info.perPartitionRows.sum == 100)
    assert(info.partitions == info.perPartitionRows.size)
    // stage wall time (compute + write) is recorded for scaling-run
    // attribution and survives the sidecar round-trip
    assert(info.secs > 0.0 && info.secs < 600.0)
    // resume: the stage body must NOT run again
    val second = Checkpoints.materialize(spark, root, "s1")(stage())
    assert(second.count() == 100)
    assert(computeCount == 1)
    // a resumed read keeps the originally recorded duration
    assert(Checkpoints.readInfo(root, "s1").get.secs == info.secs)
  }

  test("materializeAt reads a stage it just wrote with the written schema: no inference job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = tmpRoot()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    def jobsOf(body: => Unit): Int = {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      val before = jobs.get()
      body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs.get() - before
    }
    val df = spark.range(0, 1000, 1, 4).select(col("id"), (col("id") % 7).as("k"))
    spark.sparkContext.addSparkListener(listener)
    try {
      val writeJobs = jobsOf(df.write.parquet(s"$root/plain"))
      var written: org.apache.spark.sql.DataFrame = null
      val stageJobs = jobsOf { written = Checkpoints.materializeAt(spark, s"$root/s")(df) }
      // the stage write's own jobs and nothing else: Parquet schema
      // inference on the read-back would add one
      assert(stageJobs == writeJobs, s"$stageJobs jobs vs $writeJobs for the bare write")
      // a resumed stage infers its schema, and both reads agree
      val resumed = Checkpoints.materializeAt(spark, s"$root/s")(fail("stage recomputed"))
      assert(written.schema == resumed.schema)
      assert(written.count() == 1000L && resumed.count() == 1000L)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("resumable link-and-cluster completes and resumes mid-pipeline") {
    val root = tmpRoot()
    val params = WebCorpus.Params(nBase = 400, dupFraction = 0.3, nHosts = 10)
    val pages = WebCorpus.pages(spark, params)
      .withColumn("title", concat_ws(" ", slice(split(col("text"), " "), 1, 3)))
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("block", concat_ws("|", Blocking.host(col("url")), col("lang")))
    val cfg = MatchConfig(
      idA = "ida", idB = "idb",
      comparisons = ComparisonGroup("web", Seq(
        VariableSpec("title", "jarowinkler", cutA = 0.92, cutB = 0.88),
        VariableSpec("n_tokens", "numeric", cutA = 1, cutB = 3))))
    def side(id: String) = pages.select(col("page_id").as(id), col("title"),
      col("n_tokens"), col("block"))
    val clusters = Checkpoints.linkAndClusterResumable(
      side("ida"), side("idb"), cfg, Seq("block"), root)
    val n1 = clusters.count()
    assert(n1 > 0)
    assert(Checkpoints.stageNames(cfg) ==
      Seq("gammas", "patterns_web", "matches", "clusters"))
    assert(Checkpoints.stageNames(cfg).forall(Checkpoints.isComplete(root, _)))
    // simulate a crash after the gamma stage: delete downstream checkpoints
    def rmStage(s: String): Unit = {
      val d = Paths.get(s"$root/$s")
      Files.walk(d).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    rmStage("matches"); rmStage("clusters")
    val resumed = Checkpoints.linkAndClusterResumable(
      side("ida"), side("idb"), cfg, Seq("block"), root)
    assert(resumed.count() == n1)
    // gamma lineage metadata survived the resume untouched
    assert(Checkpoints.readInfo(root, "gammas").get.rows ==
      Checkpoints.readInfo(root, "gammas").get.perPartitionRows.sum)
  }

  private def rmStageAt(root: String, s: String): Unit = {
    val d = Paths.get(s"$root/$s")
    Files.walk(d).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }

  private def webPages(n: Int) =
    WebCorpus.pages(spark, WebCorpus.Params(nBase = n, dupFraction = 0.3, nHosts = 10))
      .withColumn("title", concat_ws(" ", slice(split(col("text"), " "), 1, 3)))
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("block", concat_ws("|", Blocking.host(col("url")), col("lang")))

  test("cache gamma mode: same clusters as parquet mode, no pair-scale checkpoint") {
    val rootP = tmpRoot()
    val rootC = tmpRoot()
    val pages = webPages(300)
    def side(id: String) = pages.select(col("page_id").as(id), col("title"),
      col("n_tokens"), col("block"))
    val cfg = MatchConfig(
      idA = "ida", idB = "idb",
      comparisons = ComparisonGroup("web", Seq(
        VariableSpec("title", "jarowinkler", cutA = 0.92, cutB = 0.88),
        VariableSpec("n_tokens", "numeric", cutA = 1, cutB = 3))))
    def clustersOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val parquetMode = clustersOf(Checkpoints.linkAndClusterResumable(
      side("ida"), side("idb"), cfg, Seq("block"), rootP))
    val cacheMode = clustersOf(Checkpoints.linkAndClusterResumable(
      side("ida"), side("idb"), cfg, Seq("block"), rootC, gammaMode = "cache"))
    assert(cacheMode == parquetMode && cacheMode.nonEmpty)
    // cache mode persists ONLY the sufficient statistics + outputs
    assert(!Checkpoints.isComplete(rootC, "gammas"))
    assert(Seq("patterns_web", "matches", "clusters")
      .forall(Checkpoints.isComplete(rootC, _)))
    // resume after losing the downstream stages: pattern counts are reused
    // (EM identical), the pair join re-runs at most once
    Seq("matches", "clusters").foreach(rmStageAt(rootC, _))
    val resumed = clustersOf(Checkpoints.linkAndClusterResumable(
      side("ida"), side("idb"), cfg, Seq("block"), rootC, gammaMode = "cache"))
    assert(resumed == parquetMode)
    // a drifted config against the same root fails fast via the run sidecar
    Seq("matches", "clusters").foreach(rmStageAt(rootC, _))
    val cfg2 = cfg.copy(comparisons = ComparisonGroup("web", Seq(
      VariableSpec("title", "jarowinkler", cutA = 0.95, cutB = 0.88),
      VariableSpec("n_tokens", "numeric", cutA = 1, cutB = 3))))
    val e = intercept[IllegalStateException](Checkpoints.linkAndClusterResumable(
      side("ida"), side("idb"), cfg2, Seq("block"), rootC, gammaMode = "cache"))
    assert(e.getMessage.contains("DIFFERENT link configuration"))
  }

  test("cross-mode drift fails fast: cache-mode root rejected by a drifted parquet run") {
    val root = tmpRoot()
    val pages = webPages(200)
    def side(id: String) = pages.select(col("page_id").as(id), col("title"),
      col("n_tokens"), col("block"))
    def cfgWith(cutA: Double) = MatchConfig(
      idA = "ida", idB = "idb",
      comparisons = ComparisonGroup("web", Seq(
        VariableSpec("title", "jarowinkler", cutA = cutA, cutB = 0.88),
        VariableSpec("n_tokens", "numeric", cutA = 1, cutB = 3))))
    // cache-mode run of config X leaves NO gammas checkpoint — only the
    // pattern-count/matches/clusters stages plus the root run sidecar
    assert(Checkpoints.linkAndClusterResumable(side("ida"), side("idb"),
      cfgWith(0.92), Seq("block"), root, gammaMode = "cache").count() > 0)
    // a parquet-mode run of config Y at the same root has no gamma-stage
    // sidecar to guard it; without the root-level fingerprint check it would
    // silently resume X's patterns_web counts into Y's EM
    Seq("matches", "clusters").foreach(rmStageAt(root, _))
    val e = intercept[IllegalStateException](Checkpoints.linkAndClusterResumable(
      side("ida"), side("idb"), cfgWith(0.95), Seq("block"), root))
    assert(e.getMessage.contains("DIFFERENT link configuration"))
    // the ORIGINAL config still runs in parquet mode against the same root
    assert(Checkpoints.linkAndClusterResumable(
      side("ida"), side("idb"), cfgWith(0.92), Seq("block"), root).count() > 0)
  }

  test("pre-upgrade root: an aborted wrong-config run cannot poison the fingerprint pin") {
    val root = tmpRoot()
    val pages = webPages(200)
    def side(id: String) = pages.select(col("page_id").as(id), col("title"),
      col("n_tokens"), col("block"))
    def cfgWith(cutA: Double) = MatchConfig(
      idA = "ida", idB = "idb",
      comparisons = ComparisonGroup("web", Seq(
        VariableSpec("title", "jarowinkler", cutA = cutA, cutB = 0.88),
        VariableSpec("n_tokens", "numeric", cutA = 1, cutB = 3))))
    assert(Checkpoints.linkAndClusterResumable(
      side("ida"), side("idb"), cfgWith(0.92), Seq("block"), root).count() > 0)
    // simulate a root written BEFORE the run sidecar existed: only the
    // gamma stage's link sidecar carries the fingerprint
    assert(new java.io.File(s"$root/_graft_run.json").delete())
    // a wrong-config run must fail WITHOUT first pinning its own fingerprint
    // at the root — that would permanently block the rightful config from
    // resuming its still-valid gamma checkpoint
    val e = intercept[IllegalStateException](Checkpoints.linkAndClusterResumable(
      side("ida"), side("idb"), cfgWith(0.95), Seq("block"), root))
    assert(e.getMessage.contains("DIFFERENT link configuration"))
    assert(Checkpoints.linkAndClusterResumable(
      side("ida"), side("idb"), cfgWith(0.92), Seq("block"), root).count() > 0)
  }

  test("completeness flips only after companion sidecars land (crash-window ordering)") {
    val dir = tmpRoot() + "/stage"
    val df = spark.range(10).toDF("x")
    // a crash between the data write and the companion sidecar (e.g. the
    // gamma stage's fingerprint/dims link sidecar) must leave the stage
    // INCOMPLETE — a clean recompute — never complete with no drift guard
    val e = intercept[RuntimeException](Checkpoints.materializeAt(spark, dir,
      beforeComplete = () => throw new RuntimeException("simulated crash"))(df))
    assert(e.getMessage.contains("simulated crash"))
    assert(!Checkpoints.isCompleteAt(dir))
    // the retry recomputes, runs the hook, then flips complete
    var hookRan = false
    Checkpoints.materializeAt(spark, dir, beforeComplete = () => hookRan = true)(df)
    assert(hookRan && Checkpoints.isCompleteAt(dir))
    // a resume never re-runs the hook (the sidecar is already on disk)
    Checkpoints.materializeAt(spark, dir,
      beforeComplete = () => fail("hook must not run on resume"))(df)
  }

  test("resume fails fast on a gamma checkpoint from a different configuration") {
    val root = tmpRoot()
    val pages = webPages(200)
    def side(id: String) = pages.select(col("page_id").as(id), col("title"),
      col("n_tokens"), col("block"))
    def cfgWith(cutA: Double) = MatchConfig(
      idA = "ida", idB = "idb",
      comparisons = ComparisonGroup("web", Seq(
        VariableSpec("title", "jarowinkler", cutA = cutA, cutB = 0.88),
        VariableSpec("n_tokens", "numeric", cutA = 1, cutB = 3))))
    assert(Checkpoints.linkAndClusterResumable(
      side("ida"), side("idb"), cfgWith(0.92), Seq("block"), root).count() > 0)
    // downstream stages gone, gamma checkpoint kept — but the comparator
    // cut changed, so the stored gammas are stale for the new config
    Seq("patterns_web", "matches", "clusters").foreach(rmStageAt(root, _))
    val e = intercept[IllegalStateException](Checkpoints.linkAndClusterResumable(
      side("ida"), side("idb"), cfgWith(0.95), Seq("block"), root))
    assert(e.getMessage.contains("DIFFERENT link configuration"))
    // the original config still resumes cleanly
    assert(Checkpoints.linkAndClusterResumable(
      side("ida"), side("idb"), cfgWith(0.92), Seq("block"), root).count() > 0)
  }

  test("gamma-stage resume pins comparison-space dims from the link sidecar") {
    val root = tmpRoot()
    val pages = webPages(400)
    def side(id: String) = pages.select(col("page_id").as(id), col("title"),
      col("n_tokens"), col("block"))
    val cfg = MatchConfig(
      idA = "ida", idB = "idb",
      comparisons = ComparisonGroup("web", Seq(
        VariableSpec("title", "jarowinkler", cutA = 0.92, cutB = 0.88),
        VariableSpec("n_tokens", "numeric", cutA = 1, cutB = 3))))
    Checkpoints.linkAndClusterResumable(side("ida"), side("idb"), cfg,
      Seq("block"), root).count()
    val matches1 = spark.read.parquet(s"$root/matches").collect()
      .map(r => (r.get(0), r.get(1), r.getDouble(2))).toSet
    // crash after the gamma stage, then resume with a DRIFTED input (1/4 the
    // rows): the EM must re-run against the dims pinned at write time, not a
    // re-count of the drifted side, or the lambda prior (and every zeta)
    // silently shifts relative to the checkpointed pattern counts
    Seq("patterns_web", "matches", "clusters").foreach(rmStageAt(root, _))
    Checkpoints.linkAndClusterResumable(side("ida").limit(100), side("idb"),
      cfg, Seq("block"), root).count()
    val matches2 = spark.read.parquet(s"$root/matches").collect()
      .map(r => (r.get(0), r.get(1), r.getDouble(2))).toSet
    assert(matches2 == matches1)
  }

  test("link-mode matched pairs with id_a > id_b survive into clusters") {
    val root = tmpRoot()
    val pages = webPages(200)
    // A-side ids offset far above every B-side id: each record's twin pair
    // has id_a > id_b, which a naive id_a < id_b edge cut (the dedupe-mode
    // convention) would drop wholesale
    val off = 10000000000L // page_id < nBase * 1e6, so domains are disjoint
    val a = pages.select((col("page_id") + off).as("ida"), col("title"),
      col("n_tokens"), col("block"))
    val b = pages.select(col("page_id").as("idb"), col("title"),
      col("n_tokens"), col("block"))
    val cfg = MatchConfig(
      idA = "ida", idB = "idb",
      comparisons = ComparisonGroup("web", Seq(
        VariableSpec("title", "jarowinkler", cutA = 0.92, cutB = 0.88),
        VariableSpec("n_tokens", "numeric", cutA = 1, cutB = 3))))
    val clusters = Checkpoints.linkAndClusterResumable(a, b, cfg, Seq("block"), root)
    val byComponent = clusters.collect()
      .groupBy(_.getAs[Long]("component"))
      .view.mapValues(_.map(_.getAs[Long]("node")).toSet).toMap
    // every record matches its own twin, so mixed A/B components must exist
    assert(byComponent.nonEmpty)
    assert(byComponent.values.exists(ns => ns.exists(_ >= off) && ns.exists(_ < off)))
  }

  test("incremental dedupe append == from-scratch dedupe of the union") {
    val rootFull = tmpRoot()
    val rootInc = tmpRoot()
    val pages = webPages(400).select("page_id", "title", "n_tokens", "block")
    val cfgD = MatchConfig(
      idA = "__ida", idB = "__idb",
      comparisons = ComparisonGroup("web", Seq(
        VariableSpec("title", "jarowinkler", cutA = 0.92, cutB = 0.88),
        VariableSpec("n_tokens", "numeric", cutA = 1, cutB = 3))))
    def asA(df: org.apache.spark.sql.DataFrame) = df.withColumnRenamed("page_id", "__ida")
    def asB(df: org.apache.spark.sql.DataFrame) = df.withColumnRenamed("page_id", "__idb")
    def dedupe(df: org.apache.spark.sql.DataFrame, root: String) =
      Checkpoints.linkAndClusterResumable(asA(df), asB(df), cfgD, Seq("block"), root,
        pairFilter = Some(Checkpoints.dedupePairFilter),
        comparisonSpace = Some(Checkpoints.dedupeComparisonSpace))

    dedupe(pages, rootFull).count()
    // deterministic ~3:1 split into day-1 corpus and day-2 increment
    val corpus = pages.filter(pmod(col("page_id"), lit(4)) =!= 0)
    val inc = pages.filter(pmod(col("page_id"), lit(4)) === 0)
    assert(inc.count() > 0 && corpus.count() > 0)
    dedupe(corpus, rootInc).count()
    val gammasRowsBefore = Checkpoints.readInfo(rootInc, "gammas").get.rows
    Checkpoints.appendDedupeIncrement(corpus, inc, "page_id", cfgD,
      Seq("block"), rootInc).count()

    // matches: identical unordered pair set with identical zeta (the EM sees
    // the same pattern counts and the same pinned comparison space)
    def unorderedMatches(root: String) =
      spark.read.parquet(s"$root/matches")
        .select(least(col("id_a"), col("id_b")), greatest(col("id_a"), col("id_b")),
          col("zeta_j"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(unorderedMatches(rootInc) == unorderedMatches(rootFull))
    // clusters: identical node -> component grouping
    def grouping(root: String) =
      spark.read.parquet(s"$root/clusters").collect()
        .groupBy(_.getAs[Long]("component"))
        .map(_._2.map(_.getAs[Long]("node")).toSet).toSet
    assert(grouping(rootInc) == grouping(rootFull))
    // the gamma checkpoint grew (append, not recompute) and its lineage
    // metadata covers the combined table
    val infoAfter = Checkpoints.readInfo(rootInc, "gammas").get
    assert(infoAfter.rows > gammasRowsBefore)
    assert(infoAfter.perPartitionRows.sum == infoAfter.rows)
  }

  test("incremental append guards: drifted corpus, shared ids") {
    val root = tmpRoot()
    val pages = webPages(200).select("page_id", "title", "n_tokens", "block")
    val cfgD = MatchConfig(
      idA = "__ida", idB = "__idb",
      comparisons = ComparisonGroup("web", Seq(
        VariableSpec("title", "jarowinkler", cutA = 0.92, cutB = 0.88),
        VariableSpec("n_tokens", "numeric", cutA = 1, cutB = 3))))
    val corpus = pages.filter(pmod(col("page_id"), lit(4)) =!= 0)
    val inc = pages.filter(pmod(col("page_id"), lit(4)) === 0)
    Checkpoints.linkAndClusterResumable(
      corpus.withColumnRenamed("page_id", "__ida"),
      corpus.withColumnRenamed("page_id", "__idb"), cfgD, Seq("block"), root,
      pairFilter = Some(Checkpoints.dedupePairFilter),
      comparisonSpace = Some(Checkpoints.dedupeComparisonSpace)).count()
    // corpus drifted: pass a truncated corpus
    val drift = intercept[IllegalArgumentException](
      Checkpoints.appendDedupeIncrement(corpus.limit(10), inc, "page_id", cfgD,
        Seq("block"), root))
    assert(drift.getMessage.contains("drifted"))
    // shared ids
    val shared = intercept[IllegalArgumentException](
      Checkpoints.appendDedupeIncrement(corpus, corpus.limit(5), "page_id", cfgD,
        Seq("block"), root))
    assert(shared.getMessage.contains("disjoint"))
  }

  test("TF-adjusted incremental append == from-scratch dedupe of the union") {
    // TF denominators are corpus-wide value frequencies; the gamma table
    // stores none, and scoring joins each pair's frequencies over corpus
    // UNION increment, so the final_zeta scores match a from-scratch run
    // exactly
    val rootFull = tmpRoot()
    val rootInc = tmpRoot()
    val pages = webPages(400).select("page_id", "title", "n_tokens", "block")
    val cfgTf = MatchConfig(
      idA = "__ida", idB = "__idb",
      comparisons = ComparisonGroup("web", Seq(
        VariableSpec("title", "jarowinkler", cutA = 0.92, cutB = 0.88,
          tfAdjust = true),
        VariableSpec("n_tokens", "numeric", cutA = 1, cutB = 3))))
    def asA(df: org.apache.spark.sql.DataFrame) = df.withColumnRenamed("page_id", "__ida")
    def asB(df: org.apache.spark.sql.DataFrame) = df.withColumnRenamed("page_id", "__idb")
    def dedupe(df: org.apache.spark.sql.DataFrame, root: String) =
      Checkpoints.linkAndClusterResumable(asA(df), asB(df), cfgTf, Seq("block"), root,
        pairFilter = Some(Checkpoints.dedupePairFilter),
        comparisonSpace = Some(Checkpoints.dedupeComparisonSpace))

    dedupe(pages, rootFull).count()
    // two-day chain: day-1 corpus, then TWO successive appends — day-3
    // frequencies are over the whole grown corpus
    val corpus = pages.filter(pmod(col("page_id"), lit(4)).isin(1, 2))
    val inc2 = pages.filter(pmod(col("page_id"), lit(4)) === 3)
    val inc3 = pages.filter(pmod(col("page_id"), lit(4)) === 0)
    assert(corpus.count() > 0 && inc2.count() > 0 && inc3.count() > 0)
    dedupe(corpus, rootInc).count()
    Checkpoints.appendDedupeIncrement(corpus, inc2, "page_id", cfgTf,
      Seq("block"), rootInc).count()
    Checkpoints.appendDedupeIncrement(corpus.unionByName(inc2), inc3, "page_id",
      cfgTf, Seq("block"), rootInc).count()

    // matches checkpoint stores final_zeta (aliased zeta_j) because TF ran —
    // exact double equality proves the refreshed frequencies, u-values, and
    // adjustment weights all reproduce the from-scratch math bit-for-bit
    def unorderedMatches(root: String) =
      spark.read.parquet(s"$root/matches")
        .select(least(col("id_a"), col("id_b")), greatest(col("id_a"), col("id_b")),
          col("zeta_j"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(unorderedMatches(rootInc) == unorderedMatches(rootFull))
    assert(unorderedMatches(rootInc).nonEmpty)
    def grouping(root: String) =
      spark.read.parquet(s"$root/clusters").collect()
        .groupBy(_.getAs[Long]("component"))
        .map(_._2.map(_.getAs[Long]("node")).toSet).toSet
    assert(grouping(rootInc) == grouping(rootFull))
    // the gamma checkpoint holds ids + gammas only, and the per-pair TF
    // table scored over the incremented root equals the full run's for
    // every stored pair (not just the matched ones)
    assert(spark.read.parquet(s"$rootInc/gammas").columns.toSeq ==
      Seq("id_a", "id_b", "gamma_title", "gamma_n_tokens"))
    def tfByPair(root: String) =
      Linker.link(asA(pages), asB(pages), cfgTf, Seq("block"),
        persistPath = Some(s"$root/gammas"),
        pairFilter = Some(Checkpoints.dedupePairFilter),
        comparisonSpace = Some(Checkpoints.dedupeComparisonSpace)).tfAdjTable
        .select(least(col("id_a"), col("id_b")), greatest(col("id_a"), col("id_b")),
          col("pattern_id"), col("tf_title_a"), col("tf_title_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getInt(2), (r.getDouble(3), r.getDouble(4)))).toMap
    val tfInc = tfByPair(rootInc)
    val tfFull = tfByPair(rootFull)
    assert(tfInc.keySet == tfFull.keySet)
    assert(tfInc.forall { case (k, (p, v)) =>
      // unordered key: the a/b tf values may swap sides with the id order
      val (q, w) = tfFull(k); p == q && (v == w || v == w.swap)
    })
    // and the lineage sidecar covers the appended table
    val info = Checkpoints.readInfo(rootInc, "gammas").get
    assert(info.perPartitionRows.sum == info.rows && info.rows == tfInc.size)
  }

  private val cfgTitleTf = MatchConfig(
    idA = "__ida", idB = "__idb",
    comparisons = ComparisonGroup("web", Seq(
      VariableSpec("title", "jarowinkler", cutA = 0.92, cutB = 0.88, tfAdjust = true),
      VariableSpec("n_tokens", "numeric", cutA = 1, cutB = 3))))

  private def dedupeTf(df: org.apache.spark.sql.DataFrame, root: String,
      maxBlockRows: Option[Long] = None) =
    Checkpoints.linkAndClusterResumable(df.withColumnRenamed("page_id", "__ida"),
      df.withColumnRenamed("page_id", "__idb"), cfgTitleTf, Seq("block"), root,
      maxBlockRows = maxBlockRows,
      pairFilter = Some(Checkpoints.dedupePairFilter),
      comparisonSpace = Some(Checkpoints.dedupeComparisonSpace))

  private def unorderedMatchSet(root: String) =
    spark.read.parquet(s"$root/matches")
      .select(least(col("id_a"), col("id_b")), greatest(col("id_a"), col("id_b")),
        col("zeta_j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("a gamma root that stores tf_* columns resumes and takes an increment") {
    // roots written while the gamma table still stored per-pair TF columns
    // must score exactly as before: resume and append read the stored pairs
    // through an ids + gammas projection (without it, the scoring lookup's
    // tf_title_a collides with the stored one)
    val rootFull = tmpRoot()
    val rootOld = tmpRoot()
    val pages = webPages(300).select("page_id", "title", "n_tokens", "block")
    val corpus = pages.filter(pmod(col("page_id"), lit(4)) =!= 0)
    val inc = pages.filter(pmod(col("page_id"), lit(4)) === 0)
    dedupeTf(pages, rootFull).count()
    dedupeTf(corpus, rootOld).count()
    val dayOne = unorderedMatchSet(rootOld)
    assert(dayOne.nonEmpty)

    // rewrite the gamma stage in the old layout, sidecars kept
    val gdir = Paths.get(s"$rootOld/gammas")
    val tf = TermFrequency.withTfColumns(corpus, cfgTitleTf.comparisons.allVariables, "")
    val oldLayout = spark.read.parquet(gdir.toString)
      .join(tf.select(col("page_id").as("id_a"), col("tf_title").as("tf_title_a")), Seq("id_a"))
      .join(tf.select(col("page_id").as("id_b"), col("tf_title").as("tf_title_b")), Seq("id_b"))
    val staging = Paths.get(tmpRoot(), "gammas")
    oldLayout.write.parquet(staging.toString)
    Files.list(gdir).filter(_.getFileName.toString.startsWith("_graft"))
      .forEach(f => Files.copy(f, staging.resolve(f.getFileName)))
    rmStageAt(rootOld, "gammas")
    Files.move(staging, gdir)
    assert(spark.read.parquet(gdir.toString).columns.contains("tf_title_a"))

    // resume: matches are rescored from the old-layout table
    Seq("matches", "clusters").foreach(rmStageAt(rootOld, _))
    dedupeTf(corpus, rootOld).count()
    assert(unorderedMatchSet(rootOld) == dayOne)
    // append: identical to the from-scratch dedupe of the union
    Checkpoints.appendDedupeIncrement(corpus, inc, "page_id", cfgTitleTf,
      Seq("block"), rootOld).count()
    assert(unorderedMatchSet(rootOld) == unorderedMatchSet(rootFull))
  }

  test("increment pair space: ids below and above the corpus, each pair once, day-1 files kept") {
    val root = tmpRoot()
    val pages = webPages(400).select("page_id", "title", "n_tokens", "block")
    val ids = pages.select("page_id").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (ids(1), ids(ids.length - 2))
    // every 4th page plus the two lowest and two highest ids: increment
    // ids sit below, between and above the corpus ids
    val isInc = pmod(col("page_id"), lit(4)) === 0 ||
      col("page_id") <= lo || col("page_id") >= hi
    val corpus = pages.filter(!isInc)
    val inc = pages.filter(isInc)
    val span = (d: org.apache.spark.sql.DataFrame) =>
      d.agg(min("page_id"), max("page_id")).head()
    assert(span(inc).getLong(0) < span(corpus).getLong(0))
    assert(span(inc).getLong(1) > span(corpus).getLong(1))

    // a salting cap below the largest blocks exercises the salted fused join
    dedupeTf(corpus, root, maxBlockRows = Some(20L)).count()
    val gdir = Paths.get(s"$root/gammas")
    def partFiles: Map[String, Long] = {
      val s = Files.list(gdir)
      try s.filter(_.getFileName.toString.startsWith("part-")).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .map(f => f.getFileName.toString -> Files.size(f)).toMap
      finally s.close()
    }
    val filesBefore = partFiles
    val rowsBefore = Checkpoints.readInfo(root, "gammas").get.rows
    Checkpoints.appendDedupeIncrement(corpus, inc, "page_id", cfgTitleTf,
      Seq("block"), root, maxBlockRows = Some(20L)).count()

    // appended rows == Σ per block n_I·n_C + n_I(n_I−1)/2
    val perBlock = inc.groupBy("block").agg(count(lit(1)).as("ni"))
      .join(corpus.groupBy("block").agg(count(lit(1)).as("nc")), Seq("block"), "left")
      .agg(sum(col("ni") * coalesce(col("nc"), lit(0L)) + col("ni") * (col("ni") - 1) / 2)
        .cast("long")).head().getLong(0)
    assert(perBlock > 0)
    assert(Checkpoints.readInfo(root, "gammas").get.rows - rowsBefore == perBlock)
    // no self pair, no unordered pair twice
    val g = spark.read.parquet(gdir.toString)
    assert(g.filter(col("id_a") === col("id_b")).count() == 0)
    val unordered = g.select(least(col("id_a"), col("id_b")), greatest(col("id_a"), col("id_b")))
    assert(unordered.distinct().count() == unordered.count())
    // append only: every day-1 part file keeps its name and size
    val filesAfter = partFiles
    assert(filesBefore.nonEmpty && filesAfter.size > filesBefore.size)
    assert(filesBefore.forall { case (n, size) => filesAfter.get(n).contains(size) })
  }

  test("cache-mode resume fails fast when inputs drifted and stages must recompute") {
    val root = tmpRoot()
    val pages = webPages(300)
    def side(id: String) = pages.select(col("page_id").as(id), col("title"),
      col("n_tokens"), col("block"))
    val cfg = MatchConfig(
      idA = "ida", idB = "idb",
      comparisons = ComparisonGroup("web", Seq(
        VariableSpec("title", "jarowinkler", cutA = 0.92, cutB = 0.88),
        VariableSpec("n_tokens", "numeric", cutA = 1, cutB = 3))))
    val n1 = Checkpoints.linkAndClusterResumable(
      side("ida"), side("idb"), cfg, Seq("block"), root, gammaMode = "cache").count()
    assert(n1 > 0)
    // fully checkpointed: a resume serves the stored (consistently old-era)
    // result without touching pair-scale compute, so drifted inputs are fine
    assert(Checkpoints.linkAndClusterResumable(
      side("ida").limit(50), side("idb"), cfg, Seq("block"), root,
      gammaMode = "cache").count() == n1)
    // downstream lost + drifted inputs: the pair join would re-run over the
    // NEW inputs while the EM reuses OLD pinned dims + pattern counts — a
    // silently mixed-era output; must fail fast instead
    Seq("matches", "clusters").foreach(rmStageAt(root, _))
    val e = intercept[IllegalStateException](Checkpoints.linkAndClusterResumable(
      side("ida").limit(50), side("idb"), cfg, Seq("block"), root,
      gammaMode = "cache"))
    assert(e.getMessage.contains("drifted"))
    // the undrifted inputs still resume cleanly
    assert(Checkpoints.linkAndClusterResumable(
      side("ida"), side("idb"), cfg, Seq("block"), root,
      gammaMode = "cache").count() == n1)
  }

  test("unordered pair count is exact past the Long bound (10^12-doc regime)") {
    assert(Checkpoints.unorderedPairCount(0L) == 0L)
    assert(Checkpoints.unorderedPairCount(1L) == 0L)
    assert(Checkpoints.unorderedPairCount(5L) == 10L)
    // the last count that fits a Long: 2^32 * (2^32 - 1) / 2
    assert(Checkpoints.unorderedPairCount(1L << 32) == (1L << 31) * ((1L << 32) - 1))
    // past it, the Long form would wrap negative; the BigInt form is exact
    assert(Checkpoints.unorderedPairCount((1L << 32) + 1) ==
      BigInt("9223372039002259456"))
    // the north-star scale: 10^12 documents
    assert(Checkpoints.unorderedPairCount(1000000000000L) ==
      BigInt("499999999999500000000000"))
  }

  test("EM lambda prior and reported comparison space survive 10^12-doc dims") {
    val pats = Seq(
      EmLink.Pattern(Array(2, 2), 50L),
      EmLink.Pattern(Array(0, 0), 1000000L),
      EmLink.Pattern(Array(2, 0), 300L))
    val space = Checkpoints.unorderedPairCount(1000000000000L)
    val res = EmLink.runBig(pats, (space, BigInt(1)), Seq("a", "b"),
      EmOptions(priorLambda = 1e-18, wLambda = 0.5))
    assert(res.numberOfComparisons == space) // exact, no negative wrap
    assert(res.pM > 0 && res.pM < 1 && !res.pM.isNaN)
    assert(res.converged)
  }

  test("colliding comparison-group names are rejected (checkpoint stages collide)") {
    val df = spark.range(2).toDF("id")
    val cfg = MatchConfig("id", "id", comparisons = ComparisonGroup("p",
      Seq(VariableSpec("a", "exact")),
      children = Seq(ComparisonGroup("p", Seq(VariableSpec("b", "exact"))))))
    val e = intercept[IllegalArgumentException](
      Checkpoints.linkAndClusterResumable(df, df, cfg, Nil, "/tmp/never"))
    assert(e.getMessage.contains("unique"))
  }

  test("hierarchical + TF configs run and resume through the full link path") {
    val root = tmpRoot()
    val pages = WebCorpus.pages(spark,
      WebCorpus.Params(nBase = 300, dupFraction = 0.3, nHosts = 8))
      .withColumn("title", concat_ws(" ", slice(split(col("text"), " "), 1, 3)))
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("block", concat_ws("|", Blocking.host(col("url")), col("lang")))
    val cfg = MatchConfig(
      idA = "ida", idB = "idb",
      comparisons = ComparisonGroup("total",
        Seq(VariableSpec("title", "jarowinkler", cutA = 0.92, cutB = 0.88,
          tfAdjust = true)),
        children = Seq(ComparisonGroup("shape",
          Seq(VariableSpec("n_tokens", "numeric", cutA = 1, cutB = 3)),
          em = EmOptions(thresholdMatch = 0.9)))))
    assert(Checkpoints.stageNames(cfg) ==
      Seq("gammas", "patterns_shape", "patterns_total", "matches", "clusters"))
    def side(id: String) = pages.select(col("page_id").as(id), col("title"),
      col("n_tokens"), col("block"))

    val clusters = Checkpoints.linkAndClusterResumable(
      side("ida"), side("idb"), cfg, Seq("block"), root)
    val n1 = clusters.count()
    assert(n1 > 0)
    assert(Checkpoints.stageNames(cfg).forall(Checkpoints.isComplete(root, _)))
    // checkpointed match set == the direct (un-checkpointed) Linker.link
    // path, which scores by final_zeta because TF adjustment ran
    val direct = Linker.link(side("ida"), side("idb"), cfg, Seq("block"))
    assert(direct.pairs.columns.contains("final_zeta"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.get(0), r.get(1))).toSet
    assert(pairSet(spark.read.parquet(s"$root/matches")) == pairSet(direct.matches()))

    // full resume with a POISONED title column: every stage checkpoint is
    // complete, so the inputs are touched only for row counts — identical
    // output proves the pair join + comparators never re-ran
    val resumed = Checkpoints.linkAndClusterResumable(
      side("ida").withColumn("title", lit("POISON")), side("idb"),
      cfg, Seq("block"), root)
    assert(resumed.count() == n1)

    // the hierarchical + TF config runs in cache gamma mode too, clusters
    // identical to parquet mode (the multi-stage pattern materialization and
    // the TF denominators all ride the cached pair table)
    val rootC = tmpRoot()
    val cacheClusters = Checkpoints.linkAndClusterResumable(
      side("ida"), side("idb"), cfg, Seq("block"), rootC, gammaMode = "cache")
    def clusterSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clusterSet(cacheClusters) == clusterSet(clusters))
    assert(!Checkpoints.isComplete(rootC, "gammas")) // no pair-scale artifact
  }
}
