package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}

/** The engine modules a traced run attributes time to, in report order. */
object Layers {
  val modules: Seq[String] = Seq("Linker", "Gamma", "Patterns", "EmLink",
    "TermFrequency", "Checkpoints", "ConnectedComponents", "Dedup",
    "SpanDedup", "QualityFilters")

  /** The metrics every module reports. */
  val common: Seq[(String, String)] = Seq("wall_s" -> "s", "task_s" -> "s",
    "gc_s" -> "s", "shuffle_mb" -> "MB", "spill_mb" -> "MB",
    "rows_out" -> "count", "skew" -> "ratio", "jobs" -> "count")

  /** Local property carrying the module tag of the Spark jobs a traced run
    * starts; the listener groups task metrics by it.
    */
  val TagKey = "perfbench.layer"
}

/** Rolls task metrics up by the module tag of the job that ran them.
  * Events arrive on Spark's listener thread; readers call [[Tracer.flush]]
  * first.
  */
final class LayerListener extends SparkListener {
  final class Stage(val layer: String) {
    val runMs = mutable.ArrayBuffer.empty[Long]
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var outputRecords = 0L
  }
  val stages = mutable.Map.empty[Int, Stage]
  val jobs = mutable.Map.empty[String, Int].withDefaultValue(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Layers.TagKey))).getOrElse("untagged")
    jobs(layer) += 1
    e.stageIds.foreach(id => stages.getOrElseUpdate(id, new Stage(layer)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stages.get(e.stageId).foreach { s =>
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  def reset(): Unit = synchronized { stages.clear(); jobs.clear() }
}

/** Spans around the calls a traced run makes into each module: tags the
  * Spark jobs started inside a span with the module name and adds the span's
  * wall time to that module.
  */
final class Tracer(spark: SparkSession) {
  val listener = new LayerListener
  spark.sparkContext.addSparkListener(listener)
  val wall = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val rows = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val extra = mutable.LinkedHashMap.empty[String, Double]
  /** Row count of the last [[force]]. */
  var lastRows = 0L

  def reset(): Unit = {
    flush(); listener.reset(); wall.clear(); rows.clear(); extra.clear()
  }

  def flush(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def span[T](layer: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Layers.TagKey)
    sc.setLocalProperty(Layers.TagKey, layer)
    val t0 = System.nanoTime()
    try f
    finally {
      wall(layer) += (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(Layers.TagKey, prev)
    }
  }

  /** Materializes `df` in the cache inside a span of `layer` and records its
    * row count as the module's output rows.
    */
  def force(layer: String, df: DataFrame): DataFrame = span(layer) {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lastRows = p.count()
    rows(layer) += lastRows
    p
  }

  /** Per-module rollup: the common metrics of every module in
    * [[Layers.modules]] (zero for a module the workload never calls).
    */
  def metrics(): Seq[(String, Double)] = {
    flush()
    listener.synchronized {
      Layers.modules.flatMap { m =>
        val ss = listener.stages.values.filter(_.layer == m).toSeq
        val heaviest = if (ss.isEmpty) None else Some(ss.maxBy(_.runMs.sum))
        val skew = heaviest.filter(_.runMs.nonEmpty).map { s =>
          s.runMs.max / math.max(Stats.median(s.runMs.map(_.toDouble).toSeq), 1.0)
        }.getOrElse(0.0)
        Seq(
          "wall_s" -> wall(m),
          "task_s" -> ss.map(_.runMs.sum).sum / 1e3,
          "gc_s" -> ss.map(_.gcMs).sum / 1e3,
          "shuffle_mb" -> ss.map(_.shuffleBytes).sum / 1e6,
          "spill_mb" -> ss.map(_.spillBytes).sum / 1e6,
          "rows_out" -> rows(m).toDouble,
          "skew" -> skew,
          "jobs" -> listener.jobs(m).toDouble).map { case (k, v) => s"$m.$k" -> v }
      }
    }
  }

  /** Task time of the jobs tagged `layer` (sub-layer probes). */
  def taskSeconds(layer: String): Double = {
    flush()
    listener.synchronized {
      listener.stages.values.filter(_.layer == layer).map(_.runMs.sum).sum / 1e3
    }
  }

  /** Output records written by the jobs tagged `layer`. */
  def outputRecords(layer: String): Long = {
    flush()
    listener.synchronized {
      listener.stages.values.filter(_.layer == layer).map(_.outputRecords).sum
    }
  }

  def untaggedJobs: Int = { flush(); listener.synchronized(listener.jobs("untagged")) }
}

/** Reads SQL metrics out of the physical plan that built a cached DataFrame. */
object PlanMetrics {

  /** The executed physical plan that filled the cache of `df`. */
  def cachedPlan(df: DataFrame): Option[SparkPlan] =
    df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.cachedPlan
    }

  /** Every node of `p`, descending into adaptive plans and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other => other.children.flatMap(nodes)
  })

  /** The shuffle exchanges that feed `p` with no other shuffle exchange in
    * between (a broadcast exchange is looked through).
    */
  def feedingShuffles(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
    case e: ShuffleExchangeExec => Seq(e)
    case a: AdaptiveSparkPlanExec => feedingShuffles(a.executedPlan)
    case q: QueryStageExec => feedingShuffles(q.plan)
    case r: ReusedExchangeExec => feedingShuffles(r.child)
    case other => other.children.flatMap(feedingShuffles)
  }

  def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)
}
