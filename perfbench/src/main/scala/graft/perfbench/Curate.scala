package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.CorpusPipeline
import graft.operators.ConnectedComponents
import graft.sources.WebCorpus
import graft.textops.{Dedup, QualityFilters, SpanDedup, TextStats}
import Workload._

/** The curation job through `CorpusPipeline.run`, with MinHash near-dup
  * dedup and duplicated-span removal on, over WebCorpus documents.
  * `textops` and connected components do the work and no linkage module
  * runs: the bypass workload for linkage changes.
  */
object Curate extends Workload {
  val name = "curate"
  val nBase = 1500L

  val reasons = Seq("exact_dup", "all_boilerplate", "near_dup", "too_short",
    "repetitive_5gram", "repetitive_bigram", "duplicated_spans",
    "repetitive_compress", "low_quality")

  final case class Out(docsIn: Long, docsKept: Long, dropped: Seq[(String, Long)])

  private def parse(report: String): Out = {
    def grab(k: String) = s""""$k":([0-9]+)""".r.findFirstMatchIn(report)
      .map(_.group(1).toLong).getOrElse(-1L)
    Out(grab("docs_in"), grab("docs_kept"), reasons.map(r => r -> grab(r)))
  }

  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared[Out] = {
    val input = s"$dir/docs.parquet"
    val out = s"$dir/filtered.parquet"
    WebCorpus.pages(spark, WebCorpus.Params(nBase = nBase, dupFraction = 0.25,
      nHosts = nHosts, seed = seed))
      .select(col("page_id").as("doc_id"), col("text"))
      .write.mode("overwrite").parquet(input)
    val nDocs = spark.read.parquet(input).count()
    val args = CorpusPipeline.Args(input = input, out = out,
      nearDupJaccard = 0.7, maxDupSpanFrac = 0.5)

    new Prepared[Out] {
      private var cached: Seq[DataFrame] = Nil

      def inputSizes = Seq("docs" -> nDocs.toDouble)
      def docs: Long = nDocs

      def run(): Out = parse(CorpusPipeline.run(spark, args))

      def check(o: Out): Option[String] = {
        lazy val keptRows = spark.read.parquet(out).count()
        if (o.docsIn != nDocs) Some(s"docs_in ${o.docsIn} != input docs $nDocs")
        else if (o.dropped.exists(_._2 < 0)) Some("a drop reason is missing from the report")
        else if (keptRows != o.docsKept)
          Some(s"output rows $keptRows != reported docs_kept ${o.docsKept}")
        else None
      }

      def recorded(o: Out) = ("docs_kept" -> o.docsKept.toDouble) +:
        o.dropped.map { case (r, n) => s"dropped.$r" -> n.toDouble }

      def details(o: Out) = recorded(o)

      def traced(t: Tracer): (Out, Double) = {
        val id = col("doc_id")
        val t0 = System.nanoTime()
        val docs = spark.read.parquet(input)
        // the module calls CorpusPipeline.annotate makes, each forced; the
        // pipeline run at the end finds them in the cache (same plans) and
        // adds only its own assembly: drop rules, redaction, output write
        val withKeeper = t.force("Dedup", docs
          .withColumn("__h", md5(Dedup.normalizeText(col("text"))))
          .withColumn("__keeper", min(id).over(Window.partitionBy("__h"))))
        val cleaned = t.force("QualityFilters", QualityFilters.dedupLines(
          withKeeper.filter(id === col("__keeper")).select(id, col("text")),
          "doc_id", "text", minDupDocs = args.lineDupDocs))
        val signals = t.force("QualityFilters", QualityFilters
          .withRepetitionStats(cleaned, "text_clean")
          .withColumn("quality", TextStats.qualityScore(col("text_clean")))
          .withColumn("deflate_ratio",
            round(QualityFilters.compressionRatio(col("text_clean")), 6)))
        val spans = t.force("SpanDedup", SpanDedup
          .duplicatedSpans(cleaned, "doc_id", "text_clean", k = args.spanK)
          .groupBy("doc_id").agg(sum(col("span_len")).as("__dup_span_tokens")))
        val nearPairs = t.force("Dedup", Dedup.minhashDupPairs(
          cleaned, "doc_id", "text_clean", threshold = args.nearDupJaccard))
        val candidates = PlanMetrics.cachedPlan(nearPairs).toSeq
          .flatMap(PlanMetrics.nodes)
          .filter(n => n.nodeName == "HashAggregate" &&
            n.output.map(_.name) == Seq("id_a", "id_b"))
          .map(PlanMetrics.metric(_, "numOutputRows")).filter(_ > 0)
        val verified = t.lastRows
        t.extra("Dedup.verified_per_candidate") =
          if (candidates.isEmpty) Double.NaN else verified.toDouble / candidates.min
        val nearDupOf = t.force("ConnectedComponents",
          ConnectedComponents.clusterPairs(nearPairs)
            .filter(col("node") =!= col("component"))
            .select(col("node").as("doc_id"), col("component").as("near_dup_of")))
        t.extra("ConnectedComponents.edges") = verified.toDouble
        val report = CorpusPipeline.run(spark, args)
        val wall = (System.nanoTime() - t0) / 1e9
        cached = Seq(withKeeper, cleaned, signals, spans, nearPairs, nearDupOf)
        (parse(report), wall)
      }

      override def cleanup(): Unit = { cached.foreach(_.unpersist(blocking = true)); cached = Nil }
    }
  }
}
