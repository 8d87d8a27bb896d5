package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.config.MatchConfig
import graft.operators.{Checkpoints, ConnectedComponents, EmLink, Patterns, TermFrequency}
import graft.sources.WebCorpus
import Workload._

/** A daily dedupe cycle through the `Pipeline` CLI entry point: day 1
  * dedupes 90% of the corpus with a parquet gamma checkpoint, day 2 appends
  * the other 10% with `--increment`. One operation is the whole cycle.
  * It runs the linkage modules with checkpoint writes beside reads: day 1
  * writes the pair table, the increment re-reads and rewrites it.
  */
object DedupeDaily extends Workload {
  val name = "dedupe_daily"
  val nBase = 2000L

  /** What a cycle produced: the gamma row counts of the two stage reports,
    * the day timings, and readers of the day-2 clusters and of the
    * checkpoint size. The readers run on first use, in the output check
    * after the clock has stopped.
    */
  final class Out(val day1Pairs: Long, val unionPairs: Long, val day1Sec: Double,
      val day2Sec: Double, clustersNow: => Seq[(Long, Long)], bytesNow: => Long) {
    lazy val clusters: Seq[(Long, Long)] = clustersNow
    lazy val checkpointBytes: Long = bytesNow
  }

  private val configJson =
    """{"idvar": ["page_id", "page_id"],
      | "link_type": "dedupe_only",
      | "comparisons": {"name": "web",
      |   "threshold_match": 0.85,
      |   "variables": [
      |     {"varname": "title", "method": "jarowinkler", "cut_a": 0.92, "cut_b": 0.88,
      |      "tf_adjust": true},
      |     {"varname": "mid3", "method": "jarowinkler", "cut_a": 0.92, "cut_b": 0.88},
      |     {"varname": "tail3", "method": "jarowinkler", "cut_a": 0.92, "cut_b": 0.88},
      |     {"varname": "tok1", "method": "exact"},
      |     {"varname": "lang", "method": "exact"},
      |     {"varname": "n_tokens", "method": "numeric", "cut_a": 1, "cut_b": 3}]}}"""
      .stripMargin

  private def gammaRows(summary: String): Long =
    """"gammas":\{"rows":([0-9]+)""".r.findFirstMatchIn(summary)
      .map(_.group(1).toLong).getOrElse(-1L)

  private def stageSecs(summary: String): Seq[(String, Double)] =
    """"([a-z_]+)":\{"rows":[0-9]+,"partitions":[0-9]+,"sec":([0-9.]+),"resumed":false"""
      .r.findAllMatchIn(summary).map(m => m.group(1) -> m.group(2).toDouble).toSeq

  private def readClusters(spark: SparkSession, path: String): Seq[(Long, Long)] =
    spark.read.parquet(path).select(col("node").cast("long"), col("component").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared[Out] = {
    val pagesPath = s"$dir/union.parquet"
    val day1Path = s"$dir/day1.parquet"
    val day2Path = s"$dir/day2.parquet"
    val cfgPath = s"$dir/config.json"
    WebCorpus.linkInput(spark, WebCorpus.Params(nBase = nBase, dupFraction = 0.25,
      nHosts = nHosts, seed = seed)).write.mode("overwrite").parquet(pagesPath)
    val union = spark.read.parquet(pagesPath)
    val inDay2 = pmod(xxhash64(col("page_id")), lit(10L)) === 0
    union.filter(!inDay2).write.mode("overwrite").parquet(day1Path)
    union.filter(inDay2).write.mode("overwrite").parquet(day2Path)
    Files.writeString(Paths.get(cfgPath), configJson)
    val cfg = MatchConfig.fromJson(configJson)
    val nUnion = union.count()
    val nDay1 = spark.read.parquet(day1Path).count()
    val expectedDay1 = unorderedBlockPairs(spark.read.parquet(day1Path), "block")
    val expectedUnion = unorderedBlockPairs(union, "block")

    def args(root: String, input: String, out: String) = Pipeline.Args(
      inputA = input, inputB = None, configPath = cfgPath, blockCols = Seq("block"),
      checkpointRoot = root, out = Some(out), maxBlockRows = Some(maxBlockRows),
      fanout = Some(fanout(spark)), gammaMode = "parquet")
    val root = s"$dir/ckpt"
    val day1Args = args(root, day1Path, s"$dir/clusters_day1.parquet")
    val day2Args = args(root, day1Path, s"$dir/clusters_day2.parquet")
      .copy(increment = Some(day2Path))

    new Prepared[Out] {
      private var reference: Seq[(Long, Long)] = Nil

      def inputSizes = Seq("pages_union" -> nUnion.toDouble, "pages_day1" -> nDay1.toDouble,
        "pages_day2" -> (nUnion - nDay1).toDouble, "pairs_day1" -> expectedDay1.toDouble,
        "pairs_union" -> expectedUnion.toDouble, "clusters_ref" -> reference.size.toDouble)
      def docs: Long = nUnion

      def run(): Out = {
        deleteDir(root)
        val t0 = System.nanoTime()
        val s1 = Pipeline.run(spark, day1Args)
        val t1 = System.nanoTime()
        val s2 = Pipeline.run(spark, day2Args)
        val t2 = System.nanoTime()
        new Out(gammaRows(s1), gammaRows(s2), (t1 - t0) / 1e9, (t2 - t1) / 1e9,
          readClusters(spark, day2Args.out.get), dirBytes(root))
      }

      def check(o: Out): Option[String] =
        if (o.day1Pairs != expectedDay1)
          Some(s"day-1 gamma rows ${o.day1Pairs} != Σ n(n−1)/2 per block $expectedDay1")
        else if (o.unionPairs != expectedUnion)
          Some(s"day-2 gamma rows ${o.unionPairs} != union pair space $expectedUnion")
        else if (o.clusters != reference)
          Some(s"day-2 clusters (${o.clusters.size} rows) differ from the from-scratch " +
            s"dedupe of the union (${reference.size} rows)")
        else None

      def recorded(o: Out) = Seq("n_clusters" -> o.clusters.map(_._2).distinct.size.toDouble,
        "n_clustered_pages" -> o.clusters.size.toDouble)

      /** The warm-up is the reference for every later check: the equality
        * `Checkpoints.appendDedupeIncrement` documents, day-2 clusters == a
        * from-scratch (cache-mode) dedupe of the union, through the same CLI
        * entry point. A full extra day-1 + day-2 cycle per set-up would not
        * fit the benchmark's time budget.
        */
      override def warmUp() = {
        val refRoot = s"$dir/ckpt_ref"
        val refOut = s"$dir/clusters_ref.parquet"
        deleteDir(refRoot)
        Pipeline.run(spark, args(refRoot, pagesPath, refOut).copy(gammaMode = "cache"))
        deleteDir(refRoot)
        reference = readClusters(spark, refOut)
        recorded(new Out(0, 0, 0, 0, reference, 0))
      }

      def details(o: Out) = Seq("day1_s" -> o.day1Sec, "increment_s" -> o.day2Sec,
        "checkpoint_mb" -> o.checkpointBytes / 1e6,
        "pairs_per_s" -> o.unionPairs / (o.day1Sec + o.day2Sec))

      def traced(t: Tracer): (Out, Double) = {
        val specs = cfg.comparisons.allVariables
        val vars = specs.map(_.varname)
        val troot = s"$dir/ckpt_trace"
        deleteDir(troot)
        deleteDir(root)
        val t0 = System.nanoTime()
        // day 1, one module at a time
        val day1 = spark.read.parquet(day1Path)
        val cfgIds = cfg.copy(idA = "__ida", idB = "__idb")
        val (pairs, narrow) = tracedPairsAndGammas(t,
          day1.withColumnRenamed("page_id", "__ida"), day1.withColumnRenamed("page_id", "__idb"),
          cfgIds, Some(Checkpoints.dedupePairFilter), 2 * nDay1)
        val gammas = t.span("Checkpoints")(
          Checkpoints.materializeAt(spark, s"$troot/gammas")(narrow))
        val pats = t.span("Patterns")(Patterns.collect(Patterns.aggregate(gammas, vars), vars))
        t.extra("Patterns.n_patterns") = pats.size.toDouble
        val em = t.span("EmLink")(EmLink.runBig(pats,
          (Checkpoints.unorderedPairCount(nDay1), BigInt(1)), vars, cfg.comparisons.em))
        t.extra("EmLink.iterations") = em.iterConverge.toDouble
        val annotated = t.force("Patterns",
          Patterns.attach(gammas, Patterns.statsDf(spark, em), vars))
        val scored = t.force("TermFrequency",
          TermFrequency.adjust(annotated, specs, em, cfg.comparisons.em.thresholdMatch)
            .filter(col("final_zeta") >= em.thresholdMatch)
            .select(col("id_a"), col("id_b"), col("final_zeta").as("zeta_j")))
        val matches = t.span("Checkpoints")(
          Checkpoints.materializeAt(spark, s"$troot/matches")(scored))
        val comps = t.force("ConnectedComponents", ConnectedComponents.clusterPairs(matches))
        t.extra("ConnectedComponents.edges") = t.span("ConnectedComponents")(matches.count()).toDouble
        t.span("Checkpoints")(Checkpoints.materializeAt(spark, s"$troot/clusters")(comps))
        val day1Traced = (System.nanoTime() - t0) / 1e9
        val nComparisons = pats.map(_.count).sum
        gammaCosts(t, pairs, specs, nComparisons)
        Seq(pairs, narrow, annotated, scored, comps).foreach(_.unpersist(blocking = true))

        // the CLI's day-1 run lays down the checkpoint the increment extends
        // (untimed, untagged: the modules above already covered day 1)
        val s1 = Pipeline.run(spark, day1Args)
        t.extra("Checkpoints.write_s") = stageSecs(s1).map(_._2).sum
        stageSecs(s1).foreach { case (s, v) => t.extra(s"Checkpoints.write_s.$s") = v }
        t.extra("Checkpoints.write_mb") = dirBytes(root) / 1e6
        val before = t.outputRecords("Checkpoints")
        val t1 = System.nanoTime()
        val s2 = t.span("Checkpoints")(Pipeline.run(spark, day2Args))
        val day2Sec = (System.nanoTime() - t1) / 1e9
        t.extra("Checkpoints.resume_s") = day2Sec
        t.extra("Checkpoints.rewrite_ratio") = (t.outputRecords("Checkpoints") - before).toDouble /
          math.max(expectedUnion - expectedDay1, 1L)
        t.extra("Checkpoints.checkpoint_mb") = dirBytes(root) / 1e6
        deleteDir(troot)
        (new Out(nComparisons, gammaRows(s2), day1Traced, day2Sec,
          readClusters(spark, day2Args.out.get), dirBytes(root)), day1Traced + day2Sec)
      }
    }
  }
}
