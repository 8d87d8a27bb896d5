package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import Stats._

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload link_ab|dedupe_daily|curate --seed N --seconds S
  *      --trace 0|1 --work DIR --recorded FILE
  * }}}
  *
  * `--trace 0` sets up [[Setups]] times (each: Spark session, seeded inputs
  * written to parquet, one warm-up operation), then runs operations
  * back to back for S seconds, untraced, and reports the end-to-end
  * metrics: `setup_s` (median CPU seconds of a set-up) and `job_cpu_s`
  * (median CPU seconds of an operation); the report adds wall times.
  * `--trace 1` sets up once, runs untraced operations for the overhead
  * baseline, then traced operations, and reports the per-layer metrics of
  * the traced operation with the median wall time.
  *
  * Every operation's output is checked; a failed check or an exception
  * counts as a failed operation and records no time. The last stdout line
  * is the result object; the line before it is the full report (run record,
  * spreads, sample counts), also written under DIR.
  */
object Main {

  /** Set-ups per untraced run: the first pays the cold JVM, the second shows
    * a warm one; `setup_s` is their median.
    */
  val Setups = 2

  /** Gated metrics: CPU time, which host steal on a shared VM moves far
    * less than wall time (`job_s` stays in the report).
    */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "job_cpu_s" -> "s")

  val extras: Seq[(String, String)] = Seq(
    "Linker.replication" -> "ratio", "Gamma.ns_per_pair" -> "ns") ++
    Workload.linkSpecs.map(s => s"Gamma.${s.varname}.ns_per_pair" -> "ns") ++ Seq(
    "Patterns.n_patterns" -> "count", "EmLink.iterations" -> "count",
    "Checkpoints.write_s" -> "s", "Checkpoints.write_mb" -> "MB",
    "Checkpoints.resume_s" -> "s", "Checkpoints.rewrite_ratio" -> "ratio",
    "Checkpoints.checkpoint_mb" -> "MB", "ConnectedComponents.edges" -> "count",
    "Dedup.verified_per_candidate" -> "ratio",
    "unattributed_s" -> "s", "trace_overhead_frac" -> "ratio")

  val perLayer: Seq[(String, String)] =
    Layers.modules.flatMap(m => Layers.common.map { case (k, u) => s"$m.$k" -> u }) ++ extras

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private[perfbench] def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private[perfbench] def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Seed values recorded when the benchmark was defined:
    * `workload seed key value` lines.
    */
  private def recordedTable(path: String, workload: String, seed: Long)
      : Map[String, Double] = Files.readAllLines(Paths.get(path)).asScala.toSeq
    .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
    .map(_.split("\\s+")).collect {
      case Array(w, s, k, v) if w == workload && s == seed.toString => k -> v.toDouble
    }.toMap

  private def mismatch(got: Seq[(String, Double)], want: Map[String, Double], what: String)
      : Option[String] = got.collectFirst {
    case (k, v) if want.get(k).exists(_ != v) => s"$k = $v, $what ${want(k)}"
  }

  private def summary(xs: Seq[Double]): J =
    if (xs.isEmpty) obj("n" -> 0.0)
    else {
      val (q1, q3) = quartiles(xs)
      obj("median" -> median(xs), "q1" -> q1, "q3" -> q3, "n" -> xs.size.toDouble)
    }

  private def metricsObj(names: Seq[(String, String)], values: Map[String, Double]): J =
    JObj(names.map { case (k, u) => k -> obj("value" -> JNum(values.getOrElse(k, 0.0)), "unit" -> JStr(u)) })

  /** A reader of the `--key value` pairs of `argv` that fails on a missing key. */
  private[perfbench] def options(argv: Array[String]): String => String = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    k => opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  }

  private[perfbench] def workloadNamed(name: String): Workload =
    Workload.all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload $name (known: ${Workload.all.map(_.name).mkString(", ")})"))

  def main(argv: Array[String]): Unit = {
    val req = options(argv)
    val workload = workloadNamed(req("workload"))
    val seed = req("seed").toLong
    val seconds = req("seconds").toDouble
    val trace = req("trace") == "1"
    val work = Paths.get(req("work")).toAbsolutePath.toString
    val table = recordedTable(req("recorded"), workload.name, seed)
    val recordedNote =
      if (table.nonEmpty) s"${table.size} values for seed $seed"
      else {
        log(s"no recorded values for ${workload.name} seed $seed: outputs are checked " +
          "against this run's warm-up only")
        s"none for seed $seed; checked against the warm-up only"
      }
    val dir = s"$work/${workload.name}-$seed"
    Workload.deleteDir(dir)
    Files.createDirectories(Paths.get(dir))

    val result = try {
      if (trace) traced(workload, seed, seconds, work, dir, table)
      else untraced(workload, seed, seconds, work, dir, table)
    } finally Workload.deleteDir(dir)
    val (body, line, ok) = result
    val report = JObj(body.fields :+ ("recorded_check" -> JStr(recordedNote)))
    val reports = Paths.get(work, "reports")
    Files.createDirectories(reports)
    Files.writeString(reports.resolve(
      s"${workload.name}-seed$seed-trace${if (trace) 1 else 0}.json"), render(report) + "\n")
    println(render(report))
    println(render(line))
    System.out.flush()
    System.exit(if (ok) 0 else 1)
  }

  private def runRecord(spark: SparkSession, workload: Workload, seed: Long,
      sizes: Seq[(String, Double)]): J = {
    val jvm = ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("-X")).mkString(" ")
    obj("workload" -> workload.name, "seed" -> seed.toDouble,
      "nproc" -> Runtime.getRuntime.availableProcessors().toDouble,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_flags" -> jvm, "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "git_sha" -> JStr(sys.env.getOrElse("PERFBENCH_GIT_SHA", "unknown")),
      "input_sizes" -> JObj(sizes.map { case (k, v) => k -> JNum(v) }))
  }

  /** Set-up: session, seeded inputs, one checked warm-up operation. Returns
    * the session, the prepared workload, its wall time, the warm-up's
    * recorded values and the first problem found, if any.
    */
  private def setUp[O](workload: Workload, seed: Long, work: String, dir: String,
      table: Map[String, Double]) = {
    val c0 = ClosedLoop.processCpuNanos()
    val t0 = System.nanoTime()
    val spark = session(work)
    val tSession = (System.nanoTime() - t0) / 1e9
    val p = workload.prepare(spark, seed, dir).asInstanceOf[Prepared[O]]
    val tPrepare = (System.nanoTime() - t0) / 1e9
    val warm = scala.util.Try(p.warmUp())
    val sec = (System.nanoTime() - t0) / 1e9
    val cpu = (ClosedLoop.processCpuNanos() - c0) / 1e9
    log(f"set-up phases: session $tSession%.2f s, inputs ${tPrepare - tSession}%.2f s, " +
      f"warm-up ${sec - tPrepare}%.2f s; CPU $cpu%.2f s")
    val problem = warm.fold(e => Some(s"warm-up failed: $e"),
      v => mismatch(v, table, "recorded for this seed:"))
    problem.foreach(m => log(s"set-up: $m"))
    (spark, p, (sec, cpu), warm.getOrElse(Nil).toMap, problem)
  }

  private def untraced(workload: Workload, seed: Long, seconds: Double, work: String,
      dir: String, table: Map[String, Double]): (JObj, J, Boolean) = {
    var setupSecs = Vector.empty[Double]
    var setupCpu = Vector.empty[Double]
    var problems = Vector.empty[String]
    var last: (SparkSession, Prepared[Any], (Double, Double), Map[String, Double],
      Option[String]) = null
    for (i <- 1 to Setups) {
      if (last != null) stop(last._1)
      last = setUp[Any](workload, seed, work, dir, table)
      setupSecs :+= last._3._1
      setupCpu :+= last._3._2
      problems ++= last._5
      log(f"set-up $i: ${last._3._1}%.3f s")
    }
    val (spark, p, _, reference, _) = last
    val problem = problems.headOption
    var details = Vector.empty[Seq[(String, Double)]]
    // JIT-compilation and GC seconds of each operation, for the report: in a
    // fresh JVM much of an operation's CPU time goes to compiling code
    val jitBean = ManagementFactory.getCompilationMXBean
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def jvmMillis = (jitBean.getTotalCompilationTime, gcBeans.map(_.getCollectionTime).sum)
    var before = (0L, 0L)
    var jitSecs, gcSecs = Vector.empty[Double]
    val samples = ClosedLoop.run[Any](seconds, 1, () => { before = jvmMillis; p.run() },
      o => {
        val after = jvmMillis
        p.cleanup()
        val bad = p.check(o).orElse(mismatch(p.recorded(o), reference, "warm-up had"))
        if (bad.isEmpty) {
          details :+= p.details(o)
          jitSecs :+= (after._1 - before._1) / 1e3
          gcSecs :+= (after._2 - before._2) / 1e3
        }
        bad
      }, log)
    log(s"operations: ${samples.times.map(t => f"$t%.3f").mkString(" ")} s wall, " +
      s"${samples.cpuTimes.map(t => f"$t%.2f").mkString(" ")} s CPU, " +
      s"${jitSecs.map(t => f"$t%.2f").mkString(" ")} s JIT")
    val ok = problem.isEmpty && samples.failed == 0 && samples.times.nonEmpty
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else median(xs)
    val values = Map("setup_s" -> median(setupCpu), "job_s" -> med(samples.times),
      "job_cpu_s" -> med(samples.cpuTimes))
    val detailKeys = details.headOption.toSeq.flatMap(_.map(_._1))
    val report = obj(
      "run" -> runRecord(spark, workload, seed, p.inputSizes),
      "loop" -> "closed, one client, one operation at a time",
      "setup_s" -> summary(setupCpu),
      "setup_wall_s" -> summary(setupSecs),
      "job_s" -> summary(samples.times),
      "job_cpu_s" -> summary(samples.cpuTimes),
      "job_jit_s" -> summary(jitSecs),
      "job_gc_s" -> summary(gcSecs),
      "docs_per_s" -> summary(samples.times.map(p.docs / _)),
      "details" -> JObj(detailKeys.map(k => k -> summary(details.map(_.toMap.apply(k))))),
      "recorded" -> JObj(reference.toSeq.sorted.map { case (k, v) => k -> JNum(v) }),
      "attempted" -> samples.attempted.toDouble, "failed" -> samples.failed.toDouble,
      "error_rate" -> samples.errorRate,
      "setup_problem" -> JStr(problem.getOrElse("")))
    stop(spark)
    val line = obj("correct" -> JBool(ok), "attempted" -> samples.attempted.toDouble,
      "failed" -> samples.failed.toDouble, "metrics" -> metricsObj(endToEnd, values))
    (report, line, ok)
  }

  private def traced(workload: Workload, seed: Long, seconds: Double, work: String,
      dir: String, table: Map[String, Double]): (JObj, J, Boolean) = {
    val (spark, p, setupSec, reference, problem) =
      setUp[Any](workload, seed, work, dir, table)
    def bad(o: Any) = p.check(o).orElse(mismatch(p.recorded(o), reference, "warm-up had"))
    val base = ClosedLoop.run[Any](seconds * 0.4, 1, () => p.run(),
      o => { p.cleanup(); bad(o) }, log)
    val tracer = new Tracer(spark)
    var reps = Vector.empty[(Double, Map[String, Double])]
    var tracedFailed = 0
    val start = System.nanoTime()
    while (reps.isEmpty && tracedFailed < 2 || (System.nanoTime() - start) / 1e9 < seconds * 0.6) {
      tracer.reset()
      scala.util.Try(p.traced(tracer)).fold(
        e => { log(s"traced operation threw: $e"); tracedFailed += 1 },
        { case (o, wall) =>
          bad(o) match {
            case Some(m) => log(s"traced output check failed: $m"); tracedFailed += 1
            case None =>
              val layers = tracer.metrics()
              val attributed = layers.filter(_._1.endsWith(".wall_s")).map(_._2).sum
              reps :+= (wall -> (layers.toMap ++ tracer.extra ++ Map(
                "unattributed_s" -> (wall - attributed),
                "untagged_jobs" -> tracer.untaggedJobs.toDouble)))
              log(f"traced operation: $wall%.3f s (attributed $attributed%.3f s)")
          }
        })
      p.cleanup()
    }
    val untracedMedian = if (base.times.isEmpty) Double.NaN else median(base.times)
    val chosen = if (reps.isEmpty) Map.empty[String, Double] else {
      val (wall, m) = reps.sortBy(_._1).apply((reps.size - 1) / 2)
      m ++ Map("trace_overhead_frac" -> (wall / untracedMedian - 1), "traced_job_s" -> wall)
    }
    val ok = problem.isEmpty && base.failed == 0 && tracedFailed == 0 && reps.nonEmpty
    val attempted = base.attempted + reps.size + tracedFailed
    val failed = base.failed + tracedFailed
    val report = obj(
      "run" -> runRecord(spark, workload, seed, p.inputSizes),
      "setup_wall_s" -> setupSec._1, "setup_s" -> setupSec._2,
      "untraced_job_s" -> summary(base.times),
      "traced_job_s" -> summary(reps.map(_._1)),
      "layers" -> JObj(chosen.toSeq.sortBy(_._1).map { case (k, v) => k -> JNum(v) }),
      "recorded" -> JObj(reference.toSeq.sorted.map { case (k, v) => k -> JNum(v) }),
      "attempted" -> attempted.toDouble, "failed" -> failed.toDouble,
      "setup_problem" -> JStr(problem.getOrElse("")))
    stop(spark)
    val line = obj("correct" -> JBool(ok), "attempted" -> attempted.toDouble,
      "failed" -> failed.toDouble, "metrics" -> metricsObj(perLayer, chosen))
    (report, line, ok)
  }
}
