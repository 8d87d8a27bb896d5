package graft

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.MatchConfig
import graft.operators.Checkpoints

/** spark-submit entry point for the resumable link-and-cluster pipeline
  * (north rule: "resumable from checkpoint with per-partition lineage +
  * metrics, run via spark-submit").
  *
  * {{{
  * spark-submit --master <cluster> --class graft.Pipeline <classpath> \
  *   --input-a /data/pages_a.parquet [--input-b /data/pages_b.parquet] \
  *   --config fastlink_config.json \
  *   --block host,lang \
  *   --checkpoint s3://bucket/ckpt/run1 \
  *   [--out /data/clusters.parquet] [--max-block-rows 1000] [--fanout <max-partitions>] \
  *   [--increment /data/pages_day2.parquet] [--gamma-checkpoint parquet|cache]
  * }}}
  *
  * `--fanout` caps the pair join's partition count. The count itself comes
  * from the join's exact output P (Σ n_a·n_b over the blocks, from the
  * block-count query the salting runs anyway): one task per
  * [[graft.operators.Linker.PairsPerTask]] pairs, at least two per core —
  * see [[graft.operators.Linker.pairJoinPartitions]]. Without `--fanout`
  * the join inputs are not repartitioned. The `gammas` entry of the summary
  * reports the last gamma write's P and chosen count as
  * `"pair_join":{"pairs_predicted":P,"partitions":n}`.
  *
  * `--gamma-checkpoint` picks the pair-scale gamma materialization: `cache`
  * (the DEFAULT for non-increment runs) keeps it in an in-run cache
  * (sufficient-statistics checkpointing — only pattern counts, matches, and
  * clusters persist; a resume re-runs the fused pair join at most once),
  * `parquet` (the default when `--increment` is given, which requires it)
  * writes it as a resumable, appendable checkpoint. Cache is the default
  * because the parquet encode+write of the pair table is the measured
  * bottleneck as the pair space grows (SCALING_parquet 0.656 vs
  * SCALING_cache 0.820 N->4N on one local disk) and is impossible outright
  * in the 10^12-document regime — see
  * [[graft.operators.Checkpoints.linkAndClusterResumable]].
  *
  * `--increment` (dedupe mode only) extends the previous run's gamma
  * checkpoint with the increment's pairs (increment x corpus +
  * increment-internal) instead of recomputing the corpus pair space — the
  * daily-crawl shape; see
  * [[graft.operators.Checkpoints.appendDedupeIncrement]] for the guards.
  *
  * The config is the reference's JSON shape verbatim
  * (`/root/reference/test_parameters.json`); `link_type` dispatches exactly
  * like [[FastLink.link]]: `dedupe_only` self-links input A (each unordered
  * pair once, comparison space N(N-1)/2), `link_and_dedupe` dedupes the
  * stacked A UNION B (ids must be unique across the tables — enforced),
  * anything else links A x B. Omitting `--input-b` forces dedupe mode.
  *
  * Every stage (gammas, patterns_&lt;stage&gt; per EM stage, matches, clusters)
  * lands under the checkpoint root with a sidecar carrying row counts and
  * per-partition lineage counters — hierarchical comparison groups and TF
  * adjustment run through [[graft.operators.Linker.link]]'s full path; a
  * re-run after a crash skips complete stages. The final
  * stdout line is one JSON object with per-stage metrics, which stages were
  * resumed vs computed, EM convergence, and wall time — machine-parseable
  * run evidence. Master/executors come from spark-submit (`--master`,
  * `--num-executors`), so the same invocation runs at N and 4N executors
  * for the scaling measurement.
  */
object Pipeline {

  final case class Args(
      inputA: String,
      inputB: Option[String],
      configPath: String,
      blockCols: Seq[String],
      checkpointRoot: String,
      out: Option[String],
      maxBlockRows: Option[Long],
      fanout: Option[Int],
      increment: Option[String] = None,
      gammaMode: String = "parquet")

  private val knownFlags = Set("input-a", "input-b", "config", "block",
    "checkpoint", "out", "max-block-rows", "fanout", "increment",
    "gamma-checkpoint")

  def parseArgs(argv: Seq[String]): Args = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var rest = argv.toList
    while (rest.nonEmpty) rest match {
      case flag :: value :: tail if flag.startsWith("--") =>
        val k = flag.stripPrefix("--")
        // a misspelled flag must fail, not silently fall back to defaults —
        // e.g. --max-blockrows would run the pipeline unsalted
        if (!knownFlags(k)) throw new IllegalArgumentException(
          s"unknown flag --$k (known: ${knownFlags.toSeq.sorted.mkString(", ")})")
        m(k) = value; rest = tail
      case bad :: _ =>
        throw new IllegalArgumentException(s"unpaired argument: $bad")
    }
    def req(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing required --$k"))
    Args(
      inputA = req("input-a"),
      inputB = m.get("input-b"),
      configPath = req("config"),
      blockCols = m.get("block").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil),
      checkpointRoot = req("checkpoint"),
      out = m.get("out"),
      maxBlockRows = m.get("max-block-rows").map(_.toLong),
      fanout = m.get("fanout").map(_.toInt),
      increment = m.get("increment"),
      gammaMode = m.get("gamma-checkpoint").map { v =>
        require(v == "parquet" || v == "cache",
          s"--gamma-checkpoint must be 'parquet' or 'cache', got '$v'")
        v
      }.getOrElse(
        // default by intent: an --increment run NEEDS the materialized gamma
        // table (the append extends it), so it defaults to parquet; every
        // other run defaults to cache — the mode that never pays the
        // pair-scale parquet encode+write (measured N->4N on one local disk:
        // cache 0.820 vs parquet 0.656, SCALING_*.json) and the only viable
        // shape once the pair space outgrows storage. Pass the flag
        // explicitly to pin either mode (e.g. parquet on day 1 of a pipeline
        // that will take increments later).
        if (m.contains("increment")) "parquet" else "cache"))
  }

  /** Runs the pipeline; returns the JSON summary line. Separated from
    * `main` so tests drive it with their own session.
    */
  def run(spark: SparkSession, args: Args): String = {
    val t0 = System.nanoTime()
    // GRAFT_PIPELINE_TRACE=1: per-phase wall-clock marks on stderr, for
    // attributing driver-side time that falls between stage checkpoints
    // (plan analysis, EM, sidecar I/O) when tuning a scaling run
    val trace = sys.env.get("GRAFT_PIPELINE_TRACE").contains("1")
    def mark(phase: String): Unit = if (trace)
      System.err.println(f"[pipeline-trace] ${(System.nanoTime() - t0) / 1e9}%8.2fs  $phase")
    val cfg = MatchConfig.fromJson(Files.readString(Paths.get(args.configPath)))
    mark("config parsed")
    require(args.increment.isEmpty || cfg.linkType == "dedupe_only" || args.inputB.isEmpty,
      "--increment is only supported in dedupe mode (link_type=dedupe_only " +
        "or no --input-b)")
    require(args.increment.isEmpty || args.gammaMode == "parquet",
      "--increment requires --gamma-checkpoint parquet: the append extends " +
        "the materialized gamma table, which cache mode does not write")
    val dfA = spark.read.parquet(args.inputA)
    mark("input A resolved")
    val stages = Checkpoints.stageNames(cfg)
    // pre-run sidecar timestamps: a stage counts as RESUMED only if it was
    // complete before the run AND its sidecar is untouched after it — an
    // increment run deletes + recomputes the downstream stages, which a
    // simple "complete before the run" snapshot would misreport as resumed
    val sidecarsBefore: Map[String, Long] = stages.flatMap(s =>
      Checkpoints.readInfo(args.checkpointRoot, s).map(s -> _.writtenAtMs)).toMap
    mark("resume state checked")

    def requireIdCol(df: DataFrame, what: String = "the input"): Unit =
      require(df.columns.contains(cfg.idA),
        s"id column '${cfg.idA}' (config idvar) not present in $what: " +
          df.columns.mkString(", "))

    def dedupeOf(df: DataFrame): DataFrame = {
      // self-link with reconciled id names; each unordered pair once and the
      // comparison space EM scales against is N(N-1)/2 — see FastLink.dedupe
      requireIdCol(df)
      args.increment match {
        case Some(incPath) =>
          // incremental dedupe: extend the existing gamma checkpoint with
          // the increment's pairs only — the corpus pair space is never
          // recomputed (Checkpoints.appendDedupeIncrement validates the
          // config fingerprint, corpus size, and id disjointness)
          val inc = spark.read.parquet(incPath)
          requireIdCol(inc, s"the increment table ($incPath)")
          Checkpoints.appendDedupeIncrement(df, inc,
            cfg.idA, cfg.copy(idA = "__ida", idB = "__idb"), args.blockCols,
            args.checkpointRoot, args.maxBlockRows, args.fanout)
        case None =>
          val a = df.withColumnRenamed(cfg.idA, "__ida")
          val b = df.withColumnRenamed(cfg.idA, "__idb")
          Checkpoints.linkAndClusterResumable(a, b,
            cfg.copy(idA = "__ida", idB = "__idb"), args.blockCols,
            args.checkpointRoot, args.maxBlockRows, args.fanout,
            pairFilter = Some(Checkpoints.dedupePairFilter),
            comparisonSpace = Some(Checkpoints.dedupeComparisonSpace),
            gammaMode = args.gammaMode)
      }
    }

    // The clusters output mixes both inputs' id values as graph nodes, so
    // every two-table mode needs id domains disjoint across the inputs — a
    // shared value would silently merge two unrelated entities.
    def requireDisjointIds(b: DataFrame, bIdCol: String, mode: String): Unit = {
      val shared = dfA.select(col(cfg.idA).as("__id"))
        .join(b.select(col(bIdCol).as("__id")), Seq("__id"), "left_semi")
        .limit(1).collect()
      require(shared.isEmpty,
        s"$mode requires id values unique ACROSS the inputs, " +
          s"but both contain id=${shared.headOption.map(_.get(0)).orNull}")
    }

    val clusters = (cfg.linkType, args.inputB) match {
      case ("dedupe_only", _) | (_, None) => dedupeOf(dfA)
      case ("link_and_dedupe", Some(pathB)) =>
        val dfB = spark.read.parquet(pathB)
        val bAligned =
          if (cfg.idA == cfg.idB) dfB else dfB.withColumnRenamed(cfg.idB, cfg.idA)
        requireDisjointIds(bAligned, cfg.idA, "link_and_dedupe")
        dedupeOf(dfA.unionByName(bAligned))
      case (_, Some(pathB)) =>
        val dfB = spark.read.parquet(pathB)
        requireDisjointIds(dfB, cfg.idB, s"link clustering (${cfg.linkType})")
        Checkpoints.linkAndClusterResumable(dfA, dfB,
          cfg, args.blockCols, args.checkpointRoot, args.maxBlockRows,
          args.fanout, gammaMode = args.gammaMode)
    }
    mark("clusters stage complete")
    args.out.foreach(clusters.write.mode("overwrite").parquet(_))
    mark("output written")

    val infosAfter = stages.flatMap(s =>
      Checkpoints.readInfo(args.checkpointRoot, s).map(s -> _)).toMap
    val resumed = stages.filter(s =>
      infosAfter.get(s).exists(i => sidecarsBefore.get(s).contains(i.writtenAtMs)))
    // the gamma entry also carries the pair join's sizing: exact predicted
    // pairs and the fan-out it chose (for an increment run, the append's)
    val pairJoin = Checkpoints.readPairSizing(args.checkpointRoot)
      .map(z => s""","pair_join":{${z.json}}""").getOrElse("")
    val stageJson = stages.flatMap { s =>
      infosAfter.get(s).map { i =>
        s""""$s":{"rows":${i.rows},"partitions":${i.partitions},""" +
          s""""sec":${Fmt.num(i.secs, 2)},""" +
          s""""resumed":${resumed.contains(s)},"written_at_ms":${i.writtenAtMs}""" +
          (if (s == "gammas") pairJoin else "") + "}"
      }
    }.mkString("{", ",", "}")
    val sec = (System.nanoTime() - t0) / 1e9
    // operator hint: when the parquet gamma write is the majority of the
    // run, the pair table has outgrown the store-it shape — say so (stderr
    // only; the stdout contract stays one JSON line)
    // ...and only when the gamma stage actually ran in THIS invocation — a
    // resumed stage's recorded sec is the ORIGINAL write wall, which can
    // exceed the resume run's entire total
    for (g <- infosAfter.get("gammas") if args.gammaMode == "parquet" &&
        !resumed.contains("gammas") &&
        g.secs > 0 && sec > 0 && g.secs / sec > 0.5)
      System.err.println(
        f"[pipeline] gamma checkpoint write took ${g.secs}%.1fs of ${sec}%.1fs " +
          f"total (${100 * g.secs / sec}%.0f%%) — if you do not need the " +
          "materialized pair table (no --increment planned), rerun with " +
          "--gamma-checkpoint cache to skip the pair-scale write")
    s"""{"link_type":"${cfg.linkType}","stages":$stageJson,""" +
      s""""increment":${args.increment.map("\"" + _ + "\"").getOrElse("null")},""" +
      s""""resumed_stages":${resumed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""out":${args.out.map("\"" + _ + "\"").getOrElse("null")},""" +
      s""""sec":${Fmt.num(sec, 2)}}"""
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv.toIndexedSeq)
    // master / executor topology come from spark-submit; local[*] fallback
    // makes bare `java -cp` invocations work too
    val builder = SparkSession.builder()
      .appName("graft-pipeline")
      .config("spark.sql.session.timeZone", "UTC")
    val spark = (if (new org.apache.spark.SparkConf().contains("spark.master"))
      builder else builder.master("local[*]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val summary = run(spark, args)
    spark.stop()
    // file first (survives stdout mangling), then the bare final line
    try Files.writeString(Paths.get("PIPELINE.json"), summary + "\n")
    catch { case NonFatal(_) => () }
    println(summary)
  }
}
