package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.{MatchConfig, VariableSpec}
import graft.operators.{Gamma, Linker}

/** What a workload's set-up hands the benchmark loop. */
trait Prepared[O] {
  /** Named input sizes for the run record. */
  def inputSizes: Seq[(String, Double)]
  /** Documents one operation processes (the `docs_per_s` numerator). */
  def docs: Long
  /** One operation: the user's job through its public entry point. */
  def run(): O
  /** None when `o` is correct, else what mismatched. */
  def check(o: O): Option[String]
  /** The values of `o` that must repeat on every operation of this seed. */
  def recorded(o: O): Seq[(String, Double)]
  /** The untimed warm-up operation of set-up; returns the seed's recorded
    * values, which every later operation must reproduce.
    */
  def warmUp(): Seq[(String, Double)] = {
    val o = run()
    cleanup()
    check(o).foreach(m => throw new IllegalStateException(m))
    recorded(o)
  }
  /** Per-operation details for the report line (not gated). */
  def details(o: O): Seq[(String, Double)]
  /** One traced operation: calls each module itself, forcing the result at
    * every boundary. Returns the output and the traced job's wall time.
    */
  def traced(t: Tracer): (O, Double)
  /** Drops the cached data of the last operation. */
  def cleanup(): Unit = ()
}

trait Workload {
  def name: String
  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared[_]
}

object Workload {
  def all: Seq[Workload] = Seq(LinkAB, DedupeDaily, Curate)

  /** The flagship six-variable comparison set (same as the frozen harness's
    * link-and-cluster job).
    */
  val linkSpecs: Seq[VariableSpec] = Seq(
    VariableSpec("title", "jarowinkler", cutA = 0.92, cutB = 0.88),
    VariableSpec("mid3", "jarowinkler", cutA = 0.92, cutB = 0.88),
    VariableSpec("tail3", "jarowinkler", cutA = 0.92, cutB = 0.88),
    VariableSpec("tok1", "exact"),
    VariableSpec("lang", "exact"),
    VariableSpec("n_tokens", "numeric", cutA = 1, cutB = 3))

  val maxBlockRows: Long = 1000L
  val nHosts: Int = 60

  /** Pair-join fan-out of the flagship job. */
  def fanout(spark: SparkSession): Int =
    math.max(64, spark.sparkContext.defaultParallelism * 2)

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_: Path)).sum()
      finally s.close()
    }
  }

  def deleteDir(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  /** Σ n·(n−1)/2 over the blocks of `df` (dedupe pair space). */
  def unorderedBlockPairs(df: DataFrame, block: String): Long =
    df.groupBy(block).count()
      .agg(coalesce(sum(col("count") * (col("count") - 1) / 2), lit(0)).cast("long"))
      .head().getLong(0)

  /** Rows entering the pair join's exchanges ÷ `inputRows`, read from the
    * plan that filled the cache of the forced pair table. The pair join is
    * the plan's topmost join (whatever strategy AQE picked for it).
    */
  def replication(pairs: DataFrame, inputRows: Long): Double =
    PlanMetrics.cachedPlan(pairs).flatMap { plan =>
      PlanMetrics.nodes(plan).find(_.nodeName.endsWith("Join")).map { join =>
        join.children.flatMap(PlanMetrics.feedingShuffles)
          .map(PlanMetrics.metric(_, "shuffleRecordsWritten")).sum.toDouble / inputRows
      }
    }.getOrElse(Double.NaN)

  /** Linker → Gamma, traced: the blocked pair join (with salting and the
    * side TF columns) forced in the cache, then the gamma columns of every
    * variable forced as the narrow pair table. Returns (pairs, narrow).
    */
  def tracedPairsAndGammas(t: Tracer, a: DataFrame, b: DataFrame, cfg: MatchConfig,
      pairFilter: Option[org.apache.spark.sql.Column], inputRows: Long)
      : (DataFrame, DataFrame) = {
    val specs = cfg.comparisons.allVariables
    val spark = a.sparkSession
    val built = Linker.buildPairs(a, b, cfg, specs, Seq("block"),
      maxBlockRows = Some(maxBlockRows), fanoutPartitions = Some(fanout(spark)))
    val pairs = t.force("Linker", pairFilter.fold(built)(built.filter))
    t.extra("Linker.replication") = replication(pairs, inputRows)
    val keep = Seq("id_a", "id_b") ++ specs.map(s => Gamma.gammaColName(s.varname)) ++
      specs.filter(_.tfAdjust).flatMap(s => Seq(s"tf_${s.varname}_a", s"tf_${s.varname}_b"))
    val narrow = t.force("Gamma",
      Gamma.addGammaColumns(pairs, specs).select(keep.map(col): _*))
    (pairs, narrow)
  }

  /** `Gamma.ns_per_pair` of the traced gamma step, then a probe that scores
    * one variable at a time over the cached pair table: task-time ns per
    * pair of a job computing only that gamma column (the cached-table scan
    * included). The probe runs after the traced job and is not part of it.
    */
  def gammaCosts(t: Tracer, pairs: DataFrame, specs: Seq[VariableSpec], nPairs: Long): Unit = {
    t.extra("Gamma.ns_per_pair") = t.taskSeconds("Gamma") * 1e9 / math.max(nPairs, 1L)
    specs.foreach { s =>
      val tag = s"Gamma.${s.varname}"
      t.span(tag) {
        pairs.select(Gamma.gammaCol(s, col(s.varname + "_a"), col(s.varname + "_b")).as("g"))
          .agg(coalesce(sum(col("g").cast("long")), lit(0L))).head()
      }
      t.extra(s"$tag.ns_per_pair") = t.taskSeconds(tag) * 1e9 / math.max(nPairs, 1L)
    }
  }
}
