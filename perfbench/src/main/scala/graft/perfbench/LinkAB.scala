package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.{ComparisonGroup, MatchConfig}
import graft.operators.{ConnectedComponents, EmLink, Linker, Patterns}
import graft.sources.WebCorpus
import Workload._

/** The flagship A×B link-and-cluster job: `Linker.link` →
  * `LinkResult.matches` → `ConnectedComponents.clusterPairs`, with the
  * frozen harness's six variables, host|lang blocking, block cap and fan-out.
  * The pair join and the gamma kernels do nearly all the work; checkpoints
  * none.
  */
object LinkAB extends Workload {
  val name = "link_ab"
  val nBase = 4000L

  /** The comparison count, the matched pairs (collected to the driver, as
    * a user reading the matches would), the number of clusters and the job's
    * wall seconds.
    */
  final case class Out(nComparisons: Long, matched: Seq[(Long, Long)], nClusters: Long,
      sec: Double) {
    def nMatched: Long = matched.size.toLong
  }

  private val cfg = MatchConfig(idA = "ida", idB = "idb",
    comparisons = ComparisonGroup(name = "bench", variables = linkSpecs))

  private def side(pages: DataFrame, id: String): DataFrame =
    pages.select(col("page_id").as(id), col("title"), col("mid3"),
      col("tail3"), col("tok1"), col("lang"), col("n_tokens"), col("block"))

  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared[Out] = {
    val path = s"$dir/pages.parquet"
    WebCorpus.linkInput(spark, WebCorpus.Params(nBase = nBase, dupFraction = 0.25,
      nHosts = nHosts, seed = seed)).write.mode("overwrite").parquet(path)
    val input = spark.read.parquet(path)
    val nPages = input.count()
    // A and B are the same table: Σ n_a·n_b per block = Σ n²
    val expectedComparisons = input.groupBy("block").count()
      .agg(sum(col("count") * col("count")).cast("long")).head().getLong(0)
    // planted clusters: page_id / 1e6 is the base page every copy came from
    val truthPairs = input.groupBy((col("page_id") / 1000000L).cast("long")).count()
      .agg(coalesce(sum(col("count") * (col("count") - 1) / 2), lit(0)).cast("long"))
      .head().getLong(0)

    new Prepared[Out] {
      private var cached: Seq[DataFrame] = Nil

      def inputSizes = Seq("pages" -> nPages.toDouble,
        "comparisons" -> expectedComparisons.toDouble, "truth_pairs" -> truthPairs.toDouble)
      def docs: Long = nPages

      /** Pairwise F1 of the matches against the planted clusters. */
      private def f1(o: Out): Double = {
        val tp = o.matched.count { case (a, b) => a / 1000000L == b / 1000000L }
        if (tp == 0) 0.0 else 2.0 * tp / (2.0 * tp + (o.nMatched - tp) + (truthPairs - tp))
      }

      private def collectPairs(matched: DataFrame): Seq[(Long, Long)] =
        matched.select(col("id_a").cast("long"), col("id_b").cast("long")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq

      def run(): Out = {
        val t0 = System.nanoTime()
        val pages = spark.read.parquet(path)
        val res = Linker.link(side(pages, "ida"), side(pages, "idb"), cfg,
          blockCols = Seq("block"), maxBlockRows = Some(maxBlockRows),
          fanoutPartitions = Some(fanout(spark)))
        try {
          val nComparisons = res.em.patterns.map(_.count).sum
          val matched = res.matches().filter(col("id_a") < col("id_b"))
          val pairs = collectPairs(matched)
          val nClusters = ConnectedComponents.clusterPairs(matched)
            .select(countDistinct("component")).head().getLong(0)
          Out(nComparisons, pairs, nClusters, (System.nanoTime() - t0) / 1e9)
        } finally res.persistedBase.foreach(_.unpersist(blocking = true))
      }

      def check(o: Out): Option[String] =
        if (o.nComparisons != expectedComparisons)
          Some(s"n_comparisons ${o.nComparisons} != Σ n_a·n_b per block $expectedComparisons")
        else if (f1(o) < 0.9) Some(f"pairwise F1 ${f1(o)}%.4f against the planted clusters < 0.9")
        else None

      def recorded(o: Out) = Seq("n_matched" -> o.nMatched.toDouble,
        "n_clusters" -> o.nClusters.toDouble, "pairwise_f1" -> f1(o))

      def details(o: Out) = Seq("n_comparisons" -> o.nComparisons.toDouble,
        "pairs_per_s" -> o.nComparisons / o.sec) ++ recorded(o)

      def traced(t: Tracer): (Out, Double) = {
        val vars = linkSpecs.map(_.varname)
        val t0 = System.nanoTime()
        val pages = spark.read.parquet(path)
        val (pairs, narrow) = tracedPairsAndGammas(t, side(pages, "ida"),
          side(pages, "idb"), cfg, None, 2 * nPages)
        val pats = t.span("Patterns")(Patterns.collect(Patterns.aggregate(narrow, vars), vars))
        t.extra("Patterns.n_patterns") = pats.size.toDouble
        val em = t.span("EmLink")(EmLink.runBig(pats, (BigInt(nPages), BigInt(nPages)),
          vars, cfg.comparisons.em))
        t.extra("EmLink.iterations") = em.iterConverge.toDouble
        val matched = t.force("Patterns", Patterns.attach(narrow, Patterns.statsDf(spark, em), vars)
          .filter(col("zeta_j") >= em.thresholdMatch && col("id_a") < col("id_b"))
          .select("id_a", "id_b"))
        val matchedPairs = t.span("Patterns")(collectPairs(matched))
        val comps = t.force("ConnectedComponents", ConnectedComponents.clusterPairs(matched))
        val nClusters = t.span("ConnectedComponents")(
          comps.select(countDistinct("component")).head().getLong(0))
        val wall = (System.nanoTime() - t0) / 1e9
        t.extra("ConnectedComponents.edges") = matchedPairs.size.toDouble
        val nComparisons = pats.map(_.count).sum
        gammaCosts(t, pairs, linkSpecs, nComparisons)
        cached = Seq(pairs, narrow, matched, comps)
        (Out(nComparisons, matchedPairs, nClusters, wall), wall)
      }

      override def cleanup(): Unit = { cached.foreach(_.unpersist(blocking = true)); cached = Nil }
    }
  }
}
