package graft.operators

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Resumable per-stage checkpointing (north rule): every pipeline stage can
  * be materialized to Parquet with a sidecar metadata file carrying row
  * counts, per-partition lineage counters, and the wall-clock of the write.
  * A re-run skips any stage whose checkpoint is complete — a crashed
  * link-and-cluster job resumes mid-pipeline instead of recomputing the pair
  * space.
  *
  * Parquet (not `df.checkpoint()`) because it is engine-readable, survives
  * the Spark application, and doubles as the stage's output contract. On a
  * cluster, point `root` at an object-store path (the Iceberg-table variant
  * is a `writeTo(...).createOrReplace()` away — same shape).
  */
object Checkpoints {

  final case class StageInfo(
      stage: String,
      rows: Long,
      partitions: Int,
      perPartitionRows: Seq[Long],
      writtenAtMs: Long,
      secs: Double = -1.0)

  private def dir(root: String, stage: String) = s"$root/$stage"
  private def metaAt(path: String) = s"$path/_graft_meta.json"
  private def metaPath(root: String, stage: String) = metaAt(dir(root, stage))

  // Sidecar I/O goes through the Hadoop FileSystem of the checkpoint path —
  // the root can be HDFS/object-store (the cluster deployment the Pipeline
  // CLI advertises), where java.nio would silently resolve to a bogus
  // driver-local path.
  private def hconf() =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private[operators] def fileExists(path: String): Boolean = {
    val p = new HPath(path)
    p.getFileSystem(hconf()).exists(p)
  }

  private[operators] def readFile(path: String): String = {
    val p = new HPath(path)
    val in = p.getFileSystem(hconf()).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private[operators] def writeFile(path: String, content: String): Unit = {
    val p = new HPath(path)
    val out = p.getFileSystem(hconf()).create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private[operators] def deleteRecursive(path: String): Unit = {
    val p = new HPath(path)
    val fs = p.getFileSystem(hconf())
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** A checkpoint directory is complete iff its sidecar exists — the sidecar
    * is written strictly after the parquet commit, so a crash mid-write
    * leaves the stage incomplete and it recomputes (mode=overwrite clears
    * the partial output).
    */
  def isCompleteAt(path: String): Boolean = fileExists(metaAt(path))

  def isComplete(root: String, stage: String): Boolean =
    isCompleteAt(dir(root, stage))

  /** Recomputes the per-partition lineage counters from the parquet files at
    * `path` and writes the stage sidecar — the step that flips a checkpoint
    * to complete. Counters come from the parquet FOOTERS (one row-group
    * metadata read per file, no data pages touched): a full re-scan of the
    * stage output just to count rows would double every stage's read traffic
    * — measured ~12 s of extra wall per pipeline run at the 74M-row bench
    * scale, and unaffordable at 100 TB. One file = one write task, so the
    * counters are genuine write-partition lineage.
    */
  private def writeMetaFor(spark: SparkSession, path: String,
      secs: Double = -1.0): StageInfo = {
    val conf = hconf()
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val files = fs.listStatus(p)
      .filter { f =>
        val n = f.getPath.getName
        f.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.getName)
    def countOf(f: org.apache.hadoop.fs.FileStatus): Long = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      try reader.getRecordCount finally reader.close()
    }
    // footer reads run CONCURRENTLY on a bounded driver pool: each is one
    // small metadata RPC, and at object-store scale (thousands of part
    // files, ~100 ms latency each) a sequential pass serializes into
    // minutes per stage. Futures are indexed by the name-sorted file list,
    // so the per-partition ordering of the counters is unchanged.
    val perPart: Seq[Long] =
      if (files.length <= 2) files.map(countOf).toSeq
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(32, files.length))
        val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
        try {
          import scala.concurrent.{Await, Future}
          Await.result(
            Future.sequence(files.toSeq.map(f => Future(countOf(f))(ec)))(
              implicitly, ec),
            scala.concurrent.duration.Duration.Inf)
        } finally pool.shutdown()
      }
    val stage = path.reverse.dropWhile(_ == '/').takeWhile(_ != '/').reverse
    val info = StageInfo(stage, perPart.sum, perPart.size, perPart,
      System.currentTimeMillis(), secs)
    val json =
      s"""{"stage":"${info.stage}","rows":${info.rows},""" +
        s""""partitions":${info.partitions},""" +
        s""""per_partition_rows":[${info.perPartitionRows.mkString(",")}],""" +
        s""""sec":${graft.Fmt.num(info.secs, 2)},""" +
        s""""written_at_ms":${info.writtenAtMs}}"""
    writeFile(metaAt(path), json)
    info
  }

  private val traceEnabled = sys.env.get("GRAFT_PIPELINE_TRACE").contains("1")
  // monotonic, relative to class load (≈ run start under spark-submit) —
  // comparable with graft.Pipeline's own t0-relative marks and never wraps
  private val traceT0 = System.nanoTime()
  private def trace(msg: String): Unit = if (traceEnabled)
    System.err.println(f"[pipeline-trace] ${(System.nanoTime() - traceT0) / 1e9}%8.3fs  $msg")

  /** Returns the checkpointed DataFrame at `path` if complete, else computes
    * `df`, writes it + metadata, and returns the re-read (lineage-truncated)
    * DataFrame, read with the written schema. The stage name recorded in the
    * sidecar is the last path segment.
    */
  def materializeAt(spark: SparkSession, path: String,
      beforeComplete: () => Unit = () => ())(df: => DataFrame): DataFrame = {
    if (!isCompleteAt(path)) {
      // stage wall time covers compute + parquet write (the post-write
      // lineage-counter pass is excluded — the trace prints it as "+ meta");
      // this is the per-stage number the Pipeline summary reports
      trace(s"stage begin: $path")
      val t0 = System.nanoTime()
      val d = df
      d.write.mode("overwrite").parquet(path)
      val computed = (System.nanoTime() - t0) / 1e9
      // companion sidecars (e.g. the gamma stage's fingerprint+dims link
      // sidecar) must land BEFORE the completeness flip: a crash between the
      // two would otherwise leave a resumable stage whose drift guard is
      // silently gone — a later run would resume it with no config check
      beforeComplete()
      writeMetaFor(spark, path, secs = computed)
      trace(f"stage end:   $path ($computed%.2fs + meta)")
      // read back with the schema just written: Parquet schema inference
      // would launch a Spark job of its own
      spark.read.schema(d.schema).parquet(path)
    } else spark.read.parquet(path)
  }

  def materialize(spark: SparkSession, root: String, stage: String)(df: => DataFrame): DataFrame =
    materializeAt(spark, dir(root, stage))(df)

  /** The [[Linker.PairSizing]] of the pair join behind the last write to
    * the `gammas` stage at `root` (day 1 or the latest increment), from its
    * link sidecar; `None` when the stage is incomplete or its write ran no
    * block-count query.
    */
  def readPairSizing(root: String): Option[Linker.PairSizing] = {
    val path = Linker.linkMetaAt(dir(root, "gammas"))
    if (!isComplete(root, "gammas") || !fileExists(path)) None
    else {
      val json = readFile(path)
      def grab(k: String) = s""""$k":([0-9]+)""".r.findFirstMatchIn(json).map(_.group(1))
      grab("pairs_predicted").map(v =>
        Linker.PairSizing(BigInt(v), grab("partitions").map(_.toInt)))
    }
  }

  def readInfo(root: String, stage: String): Option[StageInfo] =
    if (!isComplete(root, stage)) None
    else {
      val json = readFile(metaPath(root, stage))
      def grab(k: String) = s""""$k":([0-9]+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
      val secs = """"sec":(-?[0-9.]+)""".r.findFirstMatchIn(json)
        .map(_.group(1).toDouble).getOrElse(-1.0)
      val parts = s""""per_partition_rows":\\[([0-9,]*)\\]""".r
        .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
      Some(StageInfo(stage,
        grab("rows").getOrElse(0L),
        grab("partitions").getOrElse(0L).toInt,
        if (parts.isEmpty) Nil else parts.split(",").map(_.toLong).toSeq,
        grab("written_at_ms").getOrElse(0L),
        secs))
    }

  /** Stage names a given config produces under the checkpoint root, in
    * pipeline order: the narrow gamma table, one pattern table per EM stage
    * (children leaf-first, root last — [[Linker.link]]'s order), the
    * above-threshold matches, and the clusters.
    */
  def stageNames(cfg: graft.config.MatchConfig): Seq[String] =
    "gammas" +: cfg.stages.map(g => s"patterns_${g.name}") :+ "matches" :+ "clusters"

  /** Resumable end-to-end link-and-cluster over [[Linker.link]]'s FULL path
    * — hierarchical comparison groups (staged child EMs binarized into
    * parent gammas) and term-frequency adjustment included. Each stage lands
    * in `root/<stage>` with a lineage sidecar and is skipped on re-run:
    *
    *  - `gammas`: the narrow (ids + gammas) pair table — the pair join and
    *    every comparator kernel run at most once per root.
    *  - `patterns_<stage>`: each EM stage's aggregated pattern counts
    *    (<= 4^k rows) — a resume re-runs the driver-side EM from these
    *    without rescanning the pair table.
    *  - `matches`: above-threshold pairs, scored by `final_zeta` when TF
    *    adjustment ran (aliased to `zeta_j` for a stable output schema).
    *  - `clusters`: connected components of the match graph.
    *
    * The EMs themselves recompute on every run — deterministic driver-side
    * math over the checkpointed pattern counts, so a fully-checkpointed
    * resume touches only tiny parquet + the row-scale input counts.
    *
    * `gammaMode` picks the materialization of the pair-scale gamma table:
    *
    *  - `"parquet"` (default): the narrow table lands as the `gammas`
    *    checkpoint — exact resume without re-running the pair join, and the
    *    artifact [[appendDedupeIncrement]] appends to. The right choice while
    *    the pair table is small enough to store.
    *  - `"cache"`: SUFFICIENT-STATISTICS checkpointing — only the tiny
    *    pattern counts, matches, and clusters are persisted; the narrow
    *    table lives in an in-memory/disk cache for the duration of the run
    *    and a resume re-runs the fused pair join at most once. This is the
    *    pair-space-at-scale mode: at 10^12 documents the pair table is
    *    petabytes and writing it is the bottleneck (measured at bench scale:
    *    the parquet ENCODE of 74M narrow rows costs ~8x the comparator
    *    compute), while everything EM and thresholding need beyond the pairs
    *    themselves fits in kilobytes. Config identity + comparison-space
    *    dims are pinned in a root-level `_graft_run.json` sidecar, giving
    *    the same stale-resume and drift protection the parquet mode stores
    *    beside the gamma table.
    */
  def linkAndClusterResumable(
      dfA: DataFrame,
      dfB: DataFrame,
      cfg: graft.config.MatchConfig,
      blockCols: Seq[String],
      root: String,
      maxBlockRows: Option[Long] = None,
      fanoutPartitions: Option[Int] = None,
      pairFilter: Option[org.apache.spark.sql.Column] = None,
      comparisonSpace: Option[(Long, Long) => BigInt] = None,
      gammaMode: String = "parquet"): DataFrame = {
    val spark = dfA.sparkSession
    require(gammaMode == "parquet" || gammaMode == "cache",
      s"gammaMode must be 'parquet' or 'cache', got '$gammaMode'")
    // stage names double as checkpoint directory names — a config with two
    // comparison groups sharing a name would resume one stage's EM from the
    // other's pattern table with no error
    val names = stageNames(cfg)
    require(names.distinct == names,
      s"comparison group names must be unique (checkpoint stages collide): " +
        names.diff(names.distinct).distinct.mkString(", "))
    val dimsOverride = runSidecar(dfA, dfB, cfg, blockCols, maxBlockRows,
      pairFilter, root, needDims = gammaMode == "cache")
    val result = Linker.link(dfA, dfB, cfg, blockCols,
      maxBlockRows = maxBlockRows,
      persistPath = if (gammaMode == "parquet") Some(dir(root, "gammas")) else None,
      fanoutPartitions = fanoutPartitions,
      pairFilter = pairFilter,
      comparisonSpace = comparisonSpace,
      patternStage = (name, agg) => materialize(spark, root, s"patterns_$name")(agg()),
      dimsOverride = dimsOverride)
    val matches = materialize(spark, root, "matches") {
      result.matches().select(col("id_a"), col("id_b"),
        col(result.scoreColName).as("zeta_j"))
    }
    val clusters = materialize(spark, root, "clusters") {
      // every matched pair is an edge — clusterPairs normalizes direction,
      // self-loops, and duplicates itself; filtering id_a < id_b here would
      // silently drop link-mode edges whose A-id happens to exceed its B-id
      ConnectedComponents.clusterPairs(matches)
    }
    // cache mode: the run is over, every persisted stage is on disk — free
    // the executor-memory copy of the pair table (long-lived sessions)
    result.persistedBase.foreach(_.unpersist())
    clusters
  }

  /** Run sidecar at the checkpoint root: the config/blocking fingerprint,
    * plus (cache mode) the raw side counts pinned at first run. EVERY mode
    * validates the fingerprint: the per-stage `patterns_*`/`matches`/
    * `clusters` checkpoints trust directory names alone, so without a
    * root-level guard a parquet-mode run of config Y at a root previously
    * used by a cache-mode run of config X (no gammas checkpoint on disk to
    * carry the gamma-stage guard) would silently resume X's pattern counts
    * into Y's EM. Cache mode additionally reuses the pinned counts so the
    * EM stays consistent with the checkpointed pattern counts even if the
    * input tables drifted since.
    */
  private def runSidecar(
      dfA: DataFrame, dfB: DataFrame, cfg: graft.config.MatchConfig,
      blockCols: Seq[String], maxBlockRows: Option[Long],
      pairFilter: Option[org.apache.spark.sql.Column],
      root: String, needDims: Boolean): Option[(Long, Long)] = {
    val fp = Linker.checkpointFingerprint(cfg, blockCols, maxBlockRows, pairFilter)
    val runMeta = s"$root/_graft_run.json"
    val existing = if (fileExists(runMeta)) Some(readFile(runMeta)) else None
    def fpOf(json: String): String =
      """"fingerprint":"([0-9a-f]+)"""".r.findFirstMatchIn(json)
        .map(_.group(1)).getOrElse("")
    def drifted(): Nothing = throw new IllegalStateException(
      s"checkpoint root $root was written by a DIFFERENT link configuration " +
        "(config / blocking / salting / pair-filter fingerprint mismatch) — " +
        "resuming would serve stale pattern counts; clear the checkpoint " +
        "directory or rerun with the original configuration")
    existing.foreach(json => if (fpOf(json) != fp) drifted())
    // Roots from before the run sidecar existed carry the fingerprint only
    // in the gamma stage's link sidecar. Consult it BEFORE pinning a fresh
    // root sidecar: writing this config's fingerprint first and THEN letting
    // the gamma-stage guard throw would leave the root pinned to the WRONG
    // config — permanently blocking the rightful one from resuming its
    // still-valid (and expensive) gamma checkpoint.
    if (existing.isEmpty) {
      val gammaLink = Linker.linkMetaAt(dir(root, "gammas"))
      if (fileExists(gammaLink) && fpOf(readFile(gammaLink)) != fp) drifted()
    }
    def grab(json: String, k: String) =
      s""""$k":(-?[0-9]+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
    val stored = existing.flatMap(j =>
      for { a <- grab(j, "n_a"); b <- grab(j, "n_b") } yield (a, b))
    if (!needDims) {
      // parquet mode: fingerprint-only pin — no eager side counts (the gamma
      // stage pins exact dims in its own link sidecar); keep an existing
      // cache-mode sidecar's counts untouched
      if (existing.isEmpty) writeFile(runMeta, s"""{"fingerprint":"$fp"}""")
      None
    } else stored match {
      case Some((a, b)) =>
        // Cache-mode resume with recompute ahead: if any downstream stage is
        // missing, the pair join re-runs over the CURRENT inputs while the
        // EM uses the pinned dims + checkpointed pattern counts — so drifted
        // inputs would produce a silently mixed-era output. Guard with the
        // cheap row-scale counts (parquet: footer-only) and fail fast on
        // mismatch, mirroring appendDedupeIncrement's corpus-drift check. A
        // fully-checkpointed resume (every stage complete) skips the guard:
        // nothing recomputes, the served result is consistently old-era.
        val fullyCheckpointed =
          stageNames(cfg).filterNot(_ == "gammas").forall(s => isComplete(root, s))
        if (!fullyCheckpointed) {
          val cur = (dfA.count(), dfB.count())
          if (cur != ((a, b))) throw new IllegalStateException(
            s"checkpoint root $root pinned input counts (n_a=$a, n_b=$b) but " +
              s"the inputs now have (n_a=${cur._1}, n_b=${cur._2}) — the " +
              "inputs drifted since the cache-mode run, and resuming would " +
              "mix NEW pair comparisons with OLD pattern counts; clear the " +
              "checkpoint directory or rerun against the original inputs")
        }
        Some((a, b))
      case None =>
        val d = (dfA.count(), dfB.count()) // row-scale (parquet: footer-only)
        writeFile(runMeta, s"""{"fingerprint":"$fp","n_a":${d._1},"n_b":${d._2}}""")
        Some(d)
    }
  }

  /** The dedupe-mode pair conventions shared by [[graft.Pipeline]] and the
    * incremental append: each unordered pair once, comparison space
    * N(N-1)/2.
    */
  def dedupePairFilter: org.apache.spark.sql.Column = col("id_a") < col("id_b")
  def dedupeComparisonSpace: (Long, Long) => BigInt = (n, _) => unorderedPairCount(n)

  /** n*(n-1)/2, exact at any row count: BigInt, because the comparison space
    * exceeds Long precisely where the north star lives — n > 2^32 (~4.3e9
    * rows) wraps a Long negative, and 10^12 documents give ~5e23. The EM
    * consumes it as a Double prior scale (relative error ~1e-16 there);
    * the checkpoint drift guard compares it exactly.
    */
  private[graft] def unorderedPairCount(n: Long): BigInt = {
    require(n >= 0, s"row count must be non-negative, got $n")
    BigInt(n) * BigInt(n - 1 max 0) / 2
  }

  /** Incremental dedupe: extends a completed `gammas` checkpoint (a
    * dedupe-mode run over `corpus`) with the pairs a new `increment` adds —
    * increment x corpus plus increment-internal — WITHOUT recomputing the
    * corpus's own quadratic pair space, then re-runs the cheap downstream
    * stages (pattern counts, EM, threshold, clustering) over the combined
    * pair table. The result is IDENTICAL to a from-scratch dedupe of
    * corpus UNION increment (same pair multiset, same pinned comparison
    * space, same deterministic EM) at the incremental cost — the shape a
    * daily web-crawl increment needs at 10^12-document scale, where the
    * corpus pair space dwarfs the increment's.
    *
    * The new pairs come from ONE pair join, increment x (corpus UNION
    * increment), and are appended as new part files; the stored pairs are
    * never read or rewritten.
    *
    * Contract and guards:
    *  - `cfg` must be the EXACT configuration of the checkpointed run
    *    (validated against the stored fingerprint — config, blocking,
    *    salting cap, and the standard dedupe pair filter).
    *  - the checkpoint's pinned comparison space must equal
    *    nCorpus*(nCorpus-1)/2 — a drifted corpus fails fast.
    *  - increment ids must be disjoint from corpus ids (enforced).
    *
    * TF-adjusted configs (reference headline feature,
    * `term_frequency_adjustment.jl:53-74`) take the same append: TF
    * denominators are corpus-wide value frequencies, and the gamma table
    * stores none. [[Linker.link]] joins each pair's current
    * frequencies, computed over corpus UNION increment, on at scoring
    * time. Roots written when the table still stored `tf_*` columns are
    * read through an ids + gammas projection and append the same way.
    *
    * Crash safety: the stale downstream checkpoints AND the gamma sidecars
    * are deleted BEFORE the parquet append, and the sidecar is rewritten
    * (with recomputed lineage counters) after it — a crash anywhere in the
    * window leaves gammas incomplete with no stale downstream stage marked
    * complete, so the next run recomputes from scratch (`materializeAt`'s
    * overwrite clears the partial mix).
    *
    * `idCol` names the id column in both input tables; the sides are
    * renamed to `cfg.idA`/`cfg.idB` internally (the Pipeline convention).
    */
  def appendDedupeIncrement(
      corpus: DataFrame,
      increment: DataFrame,
      idCol: String,
      cfg: graft.config.MatchConfig,
      blockCols: Seq[String],
      root: String,
      maxBlockRows: Option[Long] = None,
      fanoutPartitions: Option[Int] = None): DataFrame = {
    val spark = corpus.sparkSession
    val gdir = dir(root, "gammas")
    require(isCompleteAt(gdir),
      s"no complete gamma checkpoint at $gdir to append to — run the full " +
        "dedupe first (linkAndClusterResumable)")
    val linkMeta = Linker.linkMetaAt(gdir)
    require(fileExists(linkMeta),
      s"gamma checkpoint at $gdir has no link sidecar (written by an older " +
        "version?) — cannot validate the configuration; re-run the full dedupe")
    val fp = Linker.checkpointFingerprint(cfg, blockCols, maxBlockRows,
      Some(dedupePairFilter))
    val json = readFile(linkMeta)
    val storedFp = """"fingerprint":"([0-9a-f]+)"""".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse("")
    require(storedFp == fp,
      s"gamma checkpoint at $gdir was written by a DIFFERENT configuration " +
        "(config / blocking / salting fingerprint mismatch) — appending would " +
        "mix incompatible comparisons")
    val storedSpace = """"dims_a":(-?[0-9]+)""".r.findFirstMatchIn(json)
      .map(m => BigInt(m.group(1))).getOrElse(BigInt(-1))
    val nC = corpus.count()
    val nI = increment.count()
    require(storedSpace == unorderedPairCount(nC),
      s"checkpointed comparison space ($storedSpace) != nCorpus*(nCorpus-1)/2 " +
        s"for the corpus passed in ($nC rows) — the corpus drifted since the " +
        "checkpoint; re-run the full dedupe")
    val sharedId = corpus.select(col(idCol).as("__id"))
      .join(increment.select(col(idCol).as("__id")), Seq("__id"), "left_semi")
      .limit(1).collect()
    require(sharedId.isEmpty,
      s"increment ids must be disjoint from corpus ids, but both contain " +
        s"$idCol=${sharedId.headOption.map(_.get(0)).orNull}")

    def asA(df: DataFrame) = df.withColumnRenamed(idCol, cfg.idA)
    def asB(df: DataFrame) = df.withColumnRenamed(idCol, cfg.idB)
    // increment x (corpus UNION increment), one pair join. A row-scale
    // origin flag on the B side lets the filter keep every cross pair
    // (whichever id is larger) and each increment-internal pair once —
    // with the stored corpus pairs, exactly the unordered pair space of
    // corpus UNION increment.
    val origin = "__from_increment"
    val sideB = corpus.withColumn(origin, lit(false))
      .unionByName(increment.withColumn(origin, lit(true)))
    val (added, sizing) = Linker.narrowGammas(asA(increment), asB(sideB), cfg, blockCols,
      maxBlockRows, fanoutPartitions,
      pairFilter = Some(!col(origin) || dedupePairFilter), carry = Seq(origin))
    // Downstream stages are stale the instant the append commits — drop them
    // FIRST. A crash between here and the sidecar rewrite below leaves gammas
    // incomplete and downstream absent (clean full recompute); deleting them
    // after the append instead would open a window where a crash leaves
    // corpus-only matches/clusters marked complete beside a combined gamma
    // table, and the advised full re-run would resume those stale stages.
    stageNames(cfg).filterNot(_ == "gammas")
      .foreach(s => deleteRecursive(dir(root, s)))
    deleteRecursive(metaAt(gdir)) // stage incomplete until the append commits
    deleteRecursive(linkMeta)
    val full = corpus.unionByName(increment)
    val n = nC + nI
    val tAppend = System.nanoTime()
    added.write.mode("append").parquet(gdir)
    // link sidecar BEFORE the completeness flip: a crash between the two
    // must leave the stage incomplete (clean recompute), never complete
    // without its fingerprint/dims drift guard
    Checkpoints.writeFile(linkMeta,
      Linker.linkMetaJson(fp, (unorderedPairCount(n), BigInt(1)), sizing))
    writeMetaFor(spark, gdir, secs = (System.nanoTime() - tAppend) / 1e9)

    // recompute the downstream stages over the combined pair table (pattern
    // counts + driver EM + threshold + clustering: cheap relative to the
    // pair space)
    linkAndClusterResumable(asA(full), asB(full), cfg, blockCols, root,
      maxBlockRows, fanoutPartitions,
      pairFilter = Some(dedupePairFilter),
      comparisonSpace = Some(dedupeComparisonSpace))
  }
}
