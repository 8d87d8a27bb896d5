package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.operators.{Blocking, Checkpoints, Linker}
import graft.sources.WebCorpus

class PipelineSpec extends SparkSpec {

  private def writeConfig(dir: String): String = {
    val cfgPath = s"$dir/config.json"
    // reference JSON shape (test_parameters.json); dedupe_only so a single
    // input table is linked against itself
    Files.writeString(Paths.get(cfgPath),
      """{"idvar": ["page_id", "page_id"],
        | "link_type": "dedupe_only",
        | "comparisons": {"name": "web",
        |   "threshold_match": 0.85,
        |   "variables": [
        |     {"varname": "title", "method": "jarowinkler", "cut_a": 0.92, "cut_b": 0.88},
        |     {"varname": "n_tokens", "method": "numeric", "cut_a": 1, "cut_b": 3}]}}""".stripMargin)
    cfgPath
  }

  test("pipeline CLI: dedupe run end-to-end, then full resume from checkpoints") {
    val dir = Files.createTempDirectory("graft-pipe").toString
    val pages = WebCorpus.pages(spark, WebCorpus.Params(nBase = 400, dupFraction = 0.3, nHosts = 10))
      .withColumn("title", concat_ws(" ", slice(split(col("text"), " "), 1, 3)))
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("block", concat_ws("|", Blocking.host(col("url")), col("lang")))
      .select("page_id", "title", "n_tokens", "block")
    pages.write.parquet(s"$dir/pages.parquet")

    val args = Pipeline.parseArgs(Seq(
      "--input-a", s"$dir/pages.parquet",
      "--config", writeConfig(dir),
      "--block", "block",
      "--checkpoint", s"$dir/ckpt",
      "--out", s"$dir/clusters.parquet",
      "--max-block-rows", "200",
      "--fanout", "8",
      "--gamma-checkpoint", "parquet")) // this test exercises the full-resume path
    assert(args.inputB.isEmpty && args.maxBlockRows.contains(200L))

    val summary1 = Pipeline.run(spark, args)
    assert(summary1.contains(""""link_type":"dedupe_only""""))
    assert(summary1.contains(""""resumed_stages":[]"""), summary1)
    val clusters = spark.read.parquet(s"$dir/clusters.parquet")
    // materialize rows BEFORE the resume run overwrites the same out path
    val rows1 = clusters.collect().toSet
    assert(rows1.nonEmpty)
    assert(clusters.columns.toSet == Set("node", "component"))

    // second invocation must resume every stage (same checkpoint metadata,
    // nothing recomputed) and produce the identical cluster set
    val gammasBefore = Checkpoints.readInfo(s"$dir/ckpt", "gammas").get.writtenAtMs
    val summary2 = Pipeline.run(spark, args)
    assert(summary2.contains(""""resumed_stages":["gammas","patterns_web","matches","clusters"]"""),
      summary2)
    assert(Checkpoints.readInfo(s"$dir/ckpt", "gammas").get.writtenAtMs == gammasBefore)
    val rows2 = spark.read.parquet(s"$dir/clusters.parquet").collect().toSet
    assert(rows2 == rows1)
  }

  test("pipeline CLI --increment extends a dedupe run day-over-day") {
    val dir = Files.createTempDirectory("graft-pipe-inc").toString
    val pages = WebCorpus.pages(spark, WebCorpus.Params(nBase = 400, dupFraction = 0.3, nHosts = 10))
      .withColumn("title", concat_ws(" ", slice(split(col("text"), " "), 1, 3)))
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("block", concat_ws("|", Blocking.host(col("url")), col("lang")))
      .select("page_id", "title", "n_tokens", "block")
    pages.filter(pmod(col("page_id"), lit(4)) =!= 0).write.parquet(s"$dir/day1.parquet")
    pages.filter(pmod(col("page_id"), lit(4)) === 0).write.parquet(s"$dir/day2.parquet")
    val base = Seq(
      "--input-a", s"$dir/day1.parquet",
      "--config", writeConfig(dir),
      "--block", "block",
      "--checkpoint", s"$dir/ckpt",
      "--out", s"$dir/clusters.parquet",
      // day 1 of an increment-taking pipeline must pin parquet explicitly:
      // the default is cache, which writes no gamma table to append to
      "--gamma-checkpoint", "parquet")
    Pipeline.run(spark, Pipeline.parseArgs(base))
    val day1Nodes = spark.read.parquet(s"$dir/clusters.parquet")
      .select("node").collect().map(_.getLong(0)).toSet
    val summary = Pipeline.run(spark,
      Pipeline.parseArgs(base ++ Seq("--increment", s"$dir/day2.parquet")))
    assert(summary.contains(s""""increment":"$dir/day2.parquet""""), summary)
    // the append rewrites the gamma sidecar and recomputes every downstream
    // stage — NONE of them may be reported as resumed (a pre-run completeness
    // snapshot would claim all four were)
    assert(summary.contains(""""resumed_stages":[]"""), summary)
    val day2Nodes = spark.read.parquet(s"$dir/clusters.parquet")
      .select("node").collect().map(_.getLong(0)).toSet
    // increment-side nodes joined the graph alongside day-1 nodes (exact
    // append == from-scratch equivalence is covered in CheckpointsSpec; the
    // EM legitimately re-estimates over the grown corpus here)
    assert(day1Nodes.nonEmpty)
    assert(day2Nodes.exists(_ % 4 == 0) && day2Nodes.exists(_ % 4 != 0))
    // --increment outside dedupe mode is rejected
    val cfgPath = s"$dir/link.json"
    Files.writeString(Paths.get(cfgPath),
      Files.readString(Paths.get(writeConfig(dir))).replace("dedupe_only", "link_only"))
    val e = intercept[IllegalArgumentException](Pipeline.run(spark,
      Pipeline.parseArgs(Seq(
        "--input-a", s"$dir/day1.parquet", "--input-b", s"$dir/day2.parquet",
        "--config", cfgPath, "--checkpoint", s"$dir/ckpt2",
        "--increment", s"$dir/day2.parquet"))))
    assert(e.getMessage.contains("--increment"))
  }

  test("pipeline summary: the gamma stage reports its exact pair count and the fan-out it chose") {
    val dir = Files.createTempDirectory("graft-pipe-size").toString
    // concat_ws never yields null: every row has a block key
    val pages = WebCorpus.pages(spark, WebCorpus.Params(nBase = 400, dupFraction = 0.3, nHosts = 10))
      .withColumn("title", concat_ws(" ", slice(split(col("text"), " "), 1, 3)))
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("block", concat_ws("|", Blocking.host(col("url")), col("lang")))
      .select("page_id", "title", "n_tokens", "block")
    pages.filter(pmod(col("page_id"), lit(4)) =!= 0).write.parquet(s"$dir/day1.parquet")
    pages.filter(pmod(col("page_id"), lit(4)) === 0).write.parquet(s"$dir/day2.parquet")
    val base = Seq(
      "--input-a", s"$dir/day1.parquet",
      "--config", writeConfig(dir),
      "--block", "block",
      "--checkpoint", s"$dir/ckpt",
      "--max-block-rows", "50",
      "--fanout", "8",
      "--gamma-checkpoint", "parquet")
    def pairJoin(summary: String): (Long, BigInt, Int) =
      (""""gammas":\{"rows":([0-9]+),[^{}]*"pair_join":\{"pairs_predicted":([0-9]+),""" +
        """"partitions":([0-9]+)\}""").r.findFirstMatchIn(summary)
        .map(m => (m.group(1).toLong, BigInt(m.group(2)), m.group(3).toInt))
        .getOrElse(fail(s"no gamma pair_join entry in $summary"))
    def partFiles(): Set[String] =
      new java.io.File(s"$dir/ckpt/gammas").list().filter(_.endsWith(".parquet")).toSet
    val parallelism = spark.sparkContext.defaultParallelism
    val day1 = spark.read.parquet(s"$dir/day1.parquet")
    val day2 = spark.read.parquet(s"$dir/day2.parquet")

    val (rows, predicted, partitions) = pairJoin(Pipeline.run(spark, Pipeline.parseArgs(base)))
    // the self-join's Σ n_b^2 pairs hold every unordered pair twice plus the
    // N self pairs; the id_a < id_b filter keeps (P - N) / 2 of them
    assert(BigInt(rows) == (predicted - day1.count()) / 2)
    assert(partitions == Linker.pairJoinPartitions(predicted, parallelism, 8))
    val day1Files = partFiles()
    assert(day1Files.nonEmpty && day1Files.size <= partitions)

    // the increment reports its own pair join: increment x (corpus ∪
    // increment), Σ n_I,b (n_C,b + n_I,b), and adds at most that many files
    val (_, incPredicted, incPartitions) = pairJoin(Pipeline.run(spark,
      Pipeline.parseArgs(base ++ Seq("--increment", s"$dir/day2.parquet"))))
    val expected = day2.groupBy("block").count().withColumnRenamed("count", "ni")
      .join(day1.unionByName(day2).groupBy("block").count(), "block")
      .agg(sum(col("ni") * col("count"))).head().getLong(0)
    assert(incPredicted == BigInt(expected))
    assert(incPartitions == Linker.pairJoinPartitions(incPredicted, parallelism, 8))
    val added = partFiles() -- day1Files
    assert(added.nonEmpty && added.size <= incPartitions)
  }

  test("plain link mode fails fast when the two inputs share id values") {
    val dir = Files.createTempDirectory("graft-pipe-ids").toString
    val pages = WebCorpus.pages(spark, WebCorpus.Params(nBase = 50, dupFraction = 0.2, nHosts = 5))
      .withColumn("title", concat_ws(" ", slice(split(col("text"), " "), 1, 3)))
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("block", concat_ws("|", Blocking.host(col("url")), col("lang")))
      .select("page_id", "title", "n_tokens", "block")
    pages.write.parquet(s"$dir/a.parquet")
    pages.write.parquet(s"$dir/b.parquet") // identical id domain
    val cfgPath = s"$dir/config.json"
    Files.writeString(Paths.get(cfgPath),
      """{"idvar": ["page_id", "page_id"],
        | "link_type": "link_only",
        | "comparisons": {"name": "web",
        |   "threshold_match": 0.85,
        |   "variables": [
        |     {"varname": "title", "method": "jarowinkler", "cut_a": 0.92, "cut_b": 0.88}]}}""".stripMargin)
    val args = Pipeline.parseArgs(Seq(
      "--input-a", s"$dir/a.parquet",
      "--input-b", s"$dir/b.parquet",
      "--config", cfgPath,
      "--block", "block",
      "--checkpoint", s"$dir/ckpt"))
    val e = intercept[IllegalArgumentException](Pipeline.run(spark, args))
    assert(e.getMessage.contains("unique ACROSS"))
  }

  test("gamma-checkpoint defaults: cache normally, parquet when --increment needs it") {
    val base = Seq("--input-a", "a", "--config", "c", "--checkpoint", "r")
    // cache is the default — the mode that never pays the pair-scale parquet
    // write (and the only viable one past storable pair spaces)
    assert(Pipeline.parseArgs(base).gammaMode == "cache")
    // an increment run extends the materialized gamma table, so the default
    // flips to parquet rather than failing on a missing checkpoint
    assert(Pipeline.parseArgs(base ++ Seq("--increment", "i")).gammaMode == "parquet")
    // explicit flags always win
    assert(Pipeline.parseArgs(base ++ Seq("--gamma-checkpoint", "parquet"))
      .gammaMode == "parquet")
    assert(Pipeline.parseArgs(base ++ Seq("--gamma-checkpoint", "cache"))
      .gammaMode == "cache")
  }

  test("pipeline arg parsing rejects missing/unpaired flags") {
    intercept[IllegalArgumentException](Pipeline.parseArgs(Seq("--input-a")))
    intercept[IllegalArgumentException](
      Pipeline.parseArgs(Seq("--input-a", "x"))) // missing --config/--checkpoint
  }

  test("pipeline arg parsing rejects unknown flags instead of defaulting silently") {
    // a typo'd --max-blockrows would otherwise run the pipeline UNSALTED
    val e = intercept[IllegalArgumentException](Pipeline.parseArgs(Seq(
      "--input-a", "a.parquet", "--config", "c.json", "--checkpoint", "r",
      "--max-blockrows", "1000")))
    assert(e.getMessage.contains("unknown flag --max-blockrows"))
  }

  test("machine-parsed JSON numbers are locale-pinned") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.FRANCE)
      // the f-interpolator really is default-locale-sensitive (the bug):
      assert(f"${0.5}%.2f" == "0,50")
      // ...and every sidecar/summary number goes through the pinned helper
      assert(Fmt.num(0.5, 2) == "0.50")
      assert(Fmt.num(1234.5678, 3) == "1234.568")
    } finally java.util.Locale.setDefault(prev)
  }
}
