package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, StructField, StructType}
import graft.config.{ComparisonGroup, MatchConfig, VariableSpec}

/** End-to-end probabilistic linkage orchestration — the Spark-native
  * equivalent of the reference's `fastLink(dfA, dfB, config)` lifecycle
  * (`/root/reference/src/fastlink/fastlink.jl:14-129`):
  *
  *   blocked pair join -> gamma columns (codegen) -> groupBy pattern counts
  *   -> driver EM -> broadcast stats back -> (TF adjust) -> threshold.
  *
  * Hierarchical (nested) comparison groups run leaf-first; each child's
  * thresholded verdict becomes a synthetic binary gamma variable of its
  * parent (reference `process_comparisons`/`match_and_link`,
  * `/root/reference/src/patterns.jl:189-259`).
  *
  * Scale notes (100 TB design):
  *  - The only pair-sized shuffles are the blocking join and the pattern
  *    groupBy (map-side combined to <= 4^k rows/partition). Everything else
  *    is either a broadcast join or driver-side math.
  *  - Skewed blocks are handled upstream by [[Blocking]] (salting/capping)
  *    plus AQE skew-join splitting.
  *  - `idvar` columns ride along the pipeline; positional indices
  *    (the reference's ComparisonIndex) never exist.
  */
object Linker {

  final case class StageResult(group: ComparisonGroup, em: EmLink.EmResult)

  final case class LinkResult(
      config: MatchConfig,
      em: EmLink.EmResult, // final (root) stage EM
      childStages: Seq[StageResult],
      patternStats: DataFrame, // tiny: gamma cols + pattern_id/counts/weights/zeta_j
      pairs: DataFrame, // id_a, id_b, gammas, zeta_j [, final_zeta]
      /** The in-memory-persisted narrow gamma table when [[Linker.link]] ran
        * with `persist=true, persistPath=None` — callers that are done with
        * every derived DataFrame should `unpersist()` it to free executor
        * memory (long-lived sessions; the Pipeline CLI's cache mode).
        */
      persistedBase: Option[DataFrame] = None) {

    /** The column `matches` thresholds on: the pair-level `final_zeta` when
      * TF adjustment ran, else the pattern-level `zeta_j`.
      */
    def scoreColName: String =
      if (pairs.columns.contains("final_zeta")) "final_zeta" else "zeta_j"

    /** Reference `getMatches` (`/root/reference/src/getMatches.jl:6-14`):
      * pairs in patterns with zeta >= threshold. When TF adjustment ran,
      * the pair-level `final_zeta` is used instead of the pattern zeta.
      */
    def matches(threshold: Option[Double] = None): DataFrame = {
      val t = threshold.getOrElse(em.thresholdMatch)
      pairs.filter(col(scoreColName) >= t)
    }

    /** Reference `tf_adj_table`
      * (`/root/reference/src/term_frequency_adjustment.jl:140-156`): the raw
      * per-pair TF values for EVERY compared variable (1.0 where the
      * variable carries no TF — the reference initializes TF vectors to
      * ones), keyed by `pattern_id` so the reference's per-pattern tables
      * are one `filter(pattern_id = i)` away. Stays distributed — the
      * reference materializes per-pattern driver DataFrames, which is
      * O(pairs) driver state.
      */
    def tfAdjTable: DataFrame = {
      val vars = config.comparisons.allVariables
      val have = pairs.columns.toSet
      val tfCols = vars.flatMap { s =>
        Seq(TermFrequency.tfColA(s.varname), TermFrequency.tfColB(s.varname)).map { c =>
          (if (have(c)) col(c) else lit(1.0)).as(c)
        }
      }
      pairs.select(col("id_a") +: col("id_b") +: col("pattern_id") +: tfCols: _*)
    }
  }

  /** Target join-output rows per pair-join task: the unit of the fan-out
    * rule in [[pairJoinPartitions]].
    */
  val PairsPerTask: Long = 1000000L

  /** The exact output size of one pair join and the partition count its
    * inputs were repartitioned to (`None`: no fan-out was asked for).
    */
  final case class PairSizing(pairs: BigInt, partitions: Option[Int]) {
    /** The fields as they land in the gamma stage's link sidecar. */
    private[graft] def json: String =
      s""""pairs_predicted":$pairs""" + partitions.fold("")(n => s""","partitions":$n""")
  }

  /** The pair-join fan-out: one task per [[PairsPerTask]] output pairs, at
    * least two tasks per core, at most `ceiling` (the caller's
    * `fanoutPartitions` / the Pipeline's `--fanout`).
    */
  def pairJoinPartitions(pairs: BigInt, parallelism: Int, ceiling: Int): Int = {
    val byPairs = ((pairs + PairsPerTask - 1) / PairsPerTask).min(BigInt(Int.MaxValue)).toInt
    math.min(ceiling, math.max(2 * parallelism, byPairs))
  }

  /** What the block-count query found: the exact join output P = Σ n_a·n_b
    * over the blocks both sides share, and the blocks whose B side has more
    * than the salting cap rows (`None`: no such block), as a local table of
    * the block columns plus `__ns` (the salt count, ceil(n_b / cap)).
    */
  private[graft] final case class BlockCounts(pairs: BigInt, oversized: Option[DataFrame])

  /** The one eager, row-scale block-count query behind salting and fan-out
    * sizing: per-block row counts of each side (block columns only), joined
    * on the block key and reduced to P and the oversized blocks in one
    * driver row. Null keys never join, so they add nothing to P; with no
    * block columns the two global counts give P = nA·nB. The driver holds
    * one row per oversized block, at most nB / cap of them.
    */
  private[graft] def blockCounts(
      dfA: DataFrame,
      dfB: DataFrame,
      blockCols: Seq[String],
      maxBlockRows: Option[Long]): BlockCounts = {
    val keys = blockCols.map(col)
    val ca = dfA.groupBy(keys: _*).agg(count(lit(1)).as("__an"))
    val cb = dfB.groupBy(keys: _*).agg(count(lit(1)).as("__bn"))
    val blocks = if (blockCols.isEmpty) ca.crossJoin(cb) else ca.join(cb, blockCols)
    val oversized = maxBlockRows.fold(lit(false))(cap => col("__bn") > cap)
    val ns = maxBlockRows.fold(lit(1))(cap => ceil(col("__bn") / cap.toDouble).cast("int"))
    val row = blocks.agg(
      sum(col("__an").cast(DecimalType(38, 0)) * col("__bn")),
      collect_list(when(oversized, struct(keys :+ ns.as("__ns"): _*)))).head()
    val pairs = if (row.isNullAt(0)) BigInt(0) else BigInt(row.getDecimal(0).toBigInteger)
    val over = row.getList[Row](1)
    val schema = StructType(blockCols.map(c => dfB.schema(c).copy(nullable = true)) :+
      StructField("__ns", IntegerType))
    BlockCounts(pairs,
      if (over.isEmpty) None else Some(dfB.sparkSession.createDataFrame(over, schema)))
  }

  /** Builds the pair DataFrame: equi-join on blocking columns, or a
    * repartitioned cross join when `blockCols` is empty (the reference's
    * all-pairs mode — only sane at test scale; the `Sum counts == N1*N2`
    * identity from the reference test suite holds exactly there).
    *
    * SKEW (north rule): a hot blocking key makes the sort-merge join's
    * per-key pair fan-out quadratic in ONE task, invisible to AQE's skew
    * split (AQE sees input partition bytes, not join output). With
    * `maxBlockRows = Some(cap)`, blocks larger than `cap` on the B side are
    * salted: B rows get salt = hash(id) % ns (ns = ceil(n/cap)); A rows in
    * those blocks are replicated once per salt. Every (a,b) pair still
    * appears exactly once — the hot block's output is spread over ns
    * shuffle keys instead of one. Replication cost: ns copies of the hot
    * blocks' A rows (row-sized, not pair-sized).
    *
    * FAN-OUT PARALLELISM: the pair join is join-OUTPUT-dominated — its
    * *input* can be tiny while its output is quadratic. AQE's partition
    * coalescing sizes the join stage by input map bytes, so on a
    * default-conf session a small-input link collapses the whole
    * gamma-compute fan-out onto ONE task (measured round 1: q_gamma_jw
    * 10.7s on 1 task vs 2.6s with a 64-way spread at sf0.1/local[32]).
    * With `fanoutPartitions = Some(ceiling)` both join INPUTS are
    * repartitioned on the exact join keys to an explicit partition count
    * sized from the join's exact output P: [[pairJoinPartitions]], one task
    * per [[PairsPerTask]] pairs, at least two per core, at most `ceiling`.
    * The sides arrive co-partitioned, EnsureRequirements inserts no further
    * exchange, AQE never coalesces an explicit-numPartitions repartition —
    * so the join AND every downstream comparator fused into its stage run
    * at that width on any session conf, with NO pair-scale shuffle anywhere
    * (the shuffled data is row-scale). Effective parallelism is bounded by
    * distinct join keys, which is what `maxBlockRows` salting multiplies.
    * Opt-in because at true input scale the join input already spans many
    * map tasks.
    *
    * BLOCK COUNTS: whenever `maxBlockRows` or `fanoutPartitions` is set, one
    * eager query ([[blockCounts]]) scans the block columns of BOTH sides
    * before the join is planned — row-scale, one extra scan of each input's
    * block columns — and yields the oversized blocks the salting needs and
    * P for the sizing. With no oversized block the join runs unsalted.
    * `tfAdjust` specs get side `tf_<var>_a/_b` columns; `carry` columns of
    * either side ride the join unsuffixed, for a pair filter to read.
    */
  def buildPairs(
      dfA: DataFrame,
      dfB: DataFrame,
      cfg: MatchConfig,
      specs: Seq[VariableSpec],
      blockCols: Seq[String],
      maxBlockRows: Option[Long] = None,
      fanoutPartitions: Option[Int] = None,
      observeA: Option[org.apache.spark.sql.Observation] = None,
      observeB: Option[org.apache.spark.sql.Observation] = None,
      carry: Seq[String] = Nil): DataFrame =
    sizedPairs(dfA, dfB, cfg, specs, blockCols, maxBlockRows, fanoutPartitions,
      observeA, observeB, carry)._1

  /** [[buildPairs]], plus the sizing its block-count query found (`None`
    * when neither `maxBlockRows` nor `fanoutPartitions` is set).
    */
  private[operators] def sizedPairs(
      dfA: DataFrame,
      dfB: DataFrame,
      cfg: MatchConfig,
      specs: Seq[VariableSpec],
      blockCols: Seq[String],
      maxBlockRows: Option[Long],
      fanoutPartitions: Option[Int],
      observeA: Option[org.apache.spark.sql.Observation],
      observeB: Option[org.apache.spark.sql.Observation],
      carry: Seq[String]): (DataFrame, Option[PairSizing]) = {
    def side(df: DataFrame, id: String, suffix: String): DataFrame = {
      val varCols = specs.map(_.varname).distinct
      val tf = TermFrequency.withTfColumns(df, specs, suffix)
      val keep =
        col(id).as(s"id$suffix") +:
          (varCols.map(v => col(v).as(s"$v$suffix")) ++
            specs.filter(_.tfAdjust).map(s => col(s"tf_${s.varname}$suffix")) ++
            carry.filter(df.columns.contains).map(col) ++
            blockCols.map(col))
      tf.select(keep: _*)
    }
    // Side row counts ride the pair join's own scan as observed metrics
    // (zero extra jobs; the old form ran eager dfA.count()/dfB.count() input
    // scans before the join). The observe node sits ABOVE the narrow side
    // projection (column pruning already done) and BELOW the salting explode
    // (each input row counted once, not once per replica). The block-count
    // query reads the raw inputs, so it never touches the observations.
    def observed(df: DataFrame, o: Option[org.apache.spark.sql.Observation]) =
      o.fold(df)(df.observe(_, count(lit(1)).as("n")))
    val a = observed(side(dfA, cfg.idA, "_a"), observeA)
    val b = observed(side(dfB, cfg.idB, "_b"), observeB)
    val salting = maxBlockRows.filter(_ => blockCols.nonEmpty)
    val counts =
      if (salting.isEmpty && fanoutPartitions.isEmpty) None
      else Some(blockCounts(dfA, dfB, blockCols, salting))
    val partitions = for (c <- counts; ceiling <- fanoutPartitions) yield
      pairJoinPartitions(c.pairs, dfA.sparkSession.sparkContext.defaultParallelism, ceiling)
    val sizing = counts.map(c => PairSizing(c.pairs, partitions))
    // co-partition a join input on its keys with an explicit (never
    // AQE-coalesced) partition count — see FAN-OUT PARALLELISM above
    def fan(df: DataFrame, keys: Seq[String]): DataFrame = partitions match {
      case Some(n) => df.repartition(n, keys.map(col): _*)
      case None    => df
    }
    val pairs = if (blockCols.isEmpty) {
      // cross join has no keys to co-partition on; spread the output instead
      val joined = a.crossJoin(b)
      partitions.fold(joined)(n => joined.repartition(n, col("id_a"), col("id_b")))
    } else counts.flatMap(_.oversized) match {
      case None =>
        fan(a, blockCols).join(fan(b, blockCols), blockCols, "inner")
          .drop(blockCols: _*)
      case Some(over) =>
        // Two-sided salting: rows of an oversized block land in a
        // ns x ns grid of cells of ~cap^2 pairs each (balanced tasks); a row
        // with salt s on its own side is replicated across the other side's
        // ns salts. Every (a,b) pair appears in exactly one cell:
        // (x = salt(a), y = salt(b)).
        def salted(df: DataFrame, id: String, own: String, other: String) =
          df.join(broadcast(over), blockCols, "left")
            .withColumn(own,
              when(col("__ns").isNull, lit(0))
                .otherwise(pmod(xxhash64(col(id)), col("__ns").cast("long")).cast("int")))
            .withColumn(other,
              explode(sequence(lit(0), coalesce(col("__ns"), lit(1)) - 1)))
            .drop("__ns")
        val keys = blockCols ++ Seq("__x", "__y")
        fan(salted(a, "id_a", "__x", "__y"), keys)
          .join(fan(salted(b, "id_b", "__y", "__x"), keys), keys, "inner")
          .drop("__x", "__y").drop(blockCols: _*)
    }
    (pairs, sizing)
  }

  /** Varnames whose gamma columns feed a group's EM: its own leaf variables
    * plus one synthetic variable per child group (named after the child).
    */
  def effectiveVarnames(g: ComparisonGroup): Seq[String] =
    g.variables.map(_.varname) ++ g.children.map(_.name)

  private[operators] def linkMetaAt(dir: String) = s"$dir/_graft_link.json"

  /** The gamma stage's link sidecar: the config fingerprint, the pinned
    * comparison-space dims and, when the write ran a block-count query, the
    * pair join's [[PairSizing]].
    */
  private[operators] def linkMetaJson(
      fp: String, dims: (BigInt, BigInt), sizing: Option[PairSizing]): String =
    s"""{"fingerprint":"$fp","dims_a":${dims._1},"dims_b":${dims._2}""" +
      sizing.fold("")("," + _.json) + "}"

  /** Deterministic fingerprint of everything that shapes the narrow gamma
    * checkpoint's content besides the input rows themselves: the full config
    * tree, blocking keys, salting cap, and pair filter. Stored in the
    * checkpoint's link sidecar; a resume against a different fingerprint
    * fails fast instead of silently serving stale gammas. (`comparisonSpace`
    * needs no slot — its effect rides through the stored dims.)
    */
  private[operators] def checkpointFingerprint(
      cfg: MatchConfig,
      blockCols: Seq[String],
      maxBlockRows: Option[Long],
      pairFilter: Option[Column]): String = {
    val repr = Seq(cfg.toString, blockCols.mkString(","), maxBlockRows.toString,
      pairFilter.map(_.toString).toString).mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(repr.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** The narrow (ids + gammas) pair table for one A x B pair space —
    * exactly the content of the gamma checkpoint: blocked pair join, gamma
    * columns for every leaf variable (codegen), original compared columns
    * dropped, no TF values ([[link]] joins those on at scoring time).
    * [[link]] runs EM over this; the incremental-append path
    * ([[Checkpoints.appendDedupeIncrement]]) computes it for the
    * increment's pair space and appends it to an existing checkpoint.
    * Also returns the pair join's [[PairSizing]], for the checkpoint's link
    * sidecar.
    */
  def narrowGammas(
      dfA: DataFrame,
      dfB: DataFrame,
      cfg: MatchConfig,
      blockCols: Seq[String] = Nil,
      maxBlockRows: Option[Long] = None,
      fanoutPartitions: Option[Int] = None,
      pairFilter: Option[Column] = None,
      autoDistinctRewrite: Boolean = false,
      observeA: Option[org.apache.spark.sql.Observation] = None,
      observeB: Option[org.apache.spark.sql.Observation] = None,
      carry: Seq[String] = Nil): (DataFrame, Option[PairSizing]) = {
    val allSpecs = cfg.comparisons.allVariables
    // no side TF columns: the narrow table does not keep them
    val (built, sizing) = sizedPairs(dfA, dfB, cfg, allSpecs.map(_.copy(tfAdjust = false)),
      blockCols, maxBlockRows, fanoutPartitions, observeA, observeB, carry)
    var ps = built
    pairFilter.foreach(f => ps = ps.filter(f))
    // gamma columns for every leaf variable (one codegen'd projection;
    // the distinct-value rewrite is applied per variable where it pays)
    val (rewriteSpecs, plainSpecs) = allSpecs.partition { s =>
      s.distinctRewrite.getOrElse(
        autoDistinctRewrite && s.isFuzzyString &&
          Gamma.distinctRatio(ps, s) < 0.25)
    }
    ps = Gamma.addGammaColumns(ps, plainSpecs)
    ps = rewriteSpecs.foldLeft(ps)((p, s) => Gamma.addGammaColumnDistinct(p, s))
    // Drop the compared columns — the Spark analogue of the reference's
    // DiBitMatrix + drop-column-after-kernel discipline (fastlink.jl:109-113):
    // comparisons run exactly once, and the EM/threshold passes re-read a
    // narrow columnar table (bytes per pair) instead of re-running the join
    // + kernels.
    (ps.select(narrowCols(cfg).map(col): _*), sizing)
  }

  /** The gamma checkpoint's columns: ids + one gamma per leaf variable. */
  private[operators] def narrowCols(cfg: MatchConfig): Seq[String] =
    Seq("id_a", "id_b") ++ cfg.comparisons.allVariables.map(s => Gamma.gammaColName(s.varname))

  def link(
      dfA: DataFrame,
      dfB: DataFrame,
      cfg: MatchConfig,
      blockCols: Seq[String] = Nil,
      autoDistinctRewrite: Boolean = false,
      persist: Boolean = true,
      maxBlockRows: Option[Long] = None,
      persistPath: Option[String] = None,
      fanoutPartitions: Option[Int] = None,
      pairFilter: Option[Column] = None,
      comparisonSpace: Option[(Long, Long) => BigInt] = None,
      patternStage: (String, () => DataFrame) => DataFrame = (_, agg) => agg(),
      /** Raw (nA, nB) side counts, known by the caller. Overrides the
        * observed-metric path — REQUIRED whenever `patternStage` can resume
        * pattern counts from a checkpoint while no gamma checkpoint exists
        * (cache mode): the observed join never executes on such a resume and
        * forcing its Observation would block forever.
        */
      dimsOverride: Option[(Long, Long)] = None): LinkResult = {
    val spark = dfA.sparkSession
    val allSpecs = cfg.comparisons.allVariables
    // Input sizes (numberOfComparisons, lambda-prior scaling) are observed
    // metrics on the pair join's own side scans — no eager dfA.count()/
    // dfB.count() jobs before the join. `dims` must only be forced after the
    // first action on `pairs` (the persist / pattern collect below).
    // `comparisonSpace` overrides the nA*nB comparison-space size when a
    // pairFilter shrinks the space EM actually sees (dedupe's id_a < id_b
    // cut => N(N-1)/2) — EmLink uses only the product of `dims`, for the
    // lambda-prior scale and the reported numberOfComparisons, so the
    // override rides in the first slot.
    val obsA = org.apache.spark.sql.Observation()
    val obsB = org.apache.spark.sql.Observation()

    // RESUME: a complete narrow-gamma checkpoint at `persistPath` (lineage
    // sidecar present — see Checkpoints) short-circuits the pair join and
    // every comparator kernel; the narrow (ids + gammas) table is re-read
    // instead — projected, as older roots also store tf_* columns. The
    // EM/threshold stages below only ever see the narrow table.
    val resumedPath = if (persist) persistPath.filter(Checkpoints.isCompleteAt) else None
    val fp = checkpointFingerprint(cfg, blockCols, maxBlockRows, pairFilter)
    // link sidecar of a resumed checkpoint: config fingerprint (validated)
    // + the comparison-space dims pinned at write time, so a resume stays
    // EM-consistent with the checkpointed pattern counts even if the input
    // tables drifted since the original run
    val storedMeta: Option[(String, BigInt, BigInt)] = resumedPath
      .map(linkMetaAt).filter(Checkpoints.fileExists).map { p =>
        val json = Checkpoints.readFile(p)
        // BigInt: the pinned comparison space exceeds Long beyond ~4.3e9
        // rows per side (the 10^12-document regime)
        def grab(k: String) =
          s""""$k":(-?[0-9]+)""".r.findFirstMatchIn(json).map(m => BigInt(m.group(1)))
        val f = """"fingerprint":"([0-9a-f]+)"""".r.findFirstMatchIn(json)
          .map(_.group(1)).getOrElse("")
        (f, grab("dims_a").getOrElse(BigInt(-1)), grab("dims_b").getOrElse(BigInt(-1)))
      }
    storedMeta.foreach { case (storedFp, _, _) =>
      if (storedFp != fp) throw new IllegalStateException(
        s"gamma checkpoint at ${persistPath.get} was written by a DIFFERENT link " +
          "configuration (config / blocking / salting / pair-filter fingerprint " +
          "mismatch) — resuming would silently serve stale comparisons; clear the " +
          "checkpoint directory or rerun with the original configuration")
    }

    lazy val dims: (BigInt, BigInt) = storedMeta match {
      case Some((_, a, b)) if a >= 0 => (a, b)
      case _ =>
        // When a side is empty at runtime (e.g. an empty increment table),
        // AQE/optimizer empty-relation propagation can eliminate the observed
        // scan's CollectMetrics node and the observation resolves with no "n"
        // key; fall back to an eager count of that side (degenerate input, so
        // the extra job is trivial) instead of throwing key-not-found.
        def sideN(obs: org.apache.spark.sql.Observation, df: DataFrame): Long =
          obs.get.get("n").map(_.asInstanceOf[Long]).getOrElse(df.count())
        val raw = dimsOverride.getOrElse(resumedPath match {
          // the observed join never executes on a resume — its Observation
          // would block forever; the inputs' row counts are row-scale scans
          case Some(_) => (dfA.count(), dfB.count())
          case None    => (sideN(obsA, dfA), sideN(obsB, dfB))
        })
        comparisonSpace.fold((BigInt(raw._1), BigInt(raw._2)))(f =>
          (f(raw._1, raw._2), BigInt(1)))
    }

    var cachedBase: Option[DataFrame] = None
    var pairs: DataFrame = resumedPath match {
      case Some(done) => spark.read.parquet(done).select(narrowCols(cfg).map(col): _*)
      case None =>
        val (narrow, sizing) = narrowGammas(dfA, dfB, cfg, blockCols, maxBlockRows,
          fanoutPartitions, pairFilter, autoDistinctRewrite,
          Some(obsA), Some(obsB))
        // Materialize the narrow table so comparisons run exactly once.
        // Default: in-memory columnar cache (spills to disk); with
        // `persistPath` the table lands in Parquet with a lineage sidecar
        // instead, doubling as the resumable stage checkpoint.
        if (persist) {
          persistPath match {
            case Some(dir) =>
              // the parquet write resolves the side observations; pin the
              // fingerprint + comparison-space dims beside the data BEFORE
              // the stage flips complete (beforeComplete runs between the
              // data write and the completeness sidecar) — a crash in that
              // window must leave the stage incomplete, never complete
              // without its drift guard
              Checkpoints.materializeAt(spark, dir, beforeComplete = () =>
                Checkpoints.writeFile(linkMetaAt(dir), linkMetaJson(fp, dims, sizing)))(narrow)
            case None =>
              val p = narrow.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              cachedBase = Some(p)
              p
          }
        } else narrow
    }

    // leaf-first stages (reference H1-H3)
    val stages = cfg.stages
    val childResults = scala.collection.mutable.ArrayBuffer.empty[StageResult]
    stages.dropRight(1).foreach { g =>
      val vars = effectiveVarnames(g)
      val patternDf = {
        val p = pairs // freeze the var for the deferred aggregate
        patternStage(g.name, () => Patterns.aggregate(p, vars))
      }
      val em = EmLink.runBig(Patterns.collect(patternDf, vars), dims, vars, g.em)
      childResults += StageResult(g, em)
      // Non-final threshold uses sigmoid(weight), NOT zeta (reference
      // `get_match_patternids` via bf_to_probability, patterns.jl:143-153,:200)
      val matched = em.patterns
        .filter(p => 1.0 / (1.0 + math.exp(-p.weight)) >= g.em.thresholdMatch)
        .map(_.gammas.toSeq).toSet
      // binarize: matched pattern => 2 else 0 (reference patterns_to_DiBit,
      // patterns.jl:165-187). Build a tiny lookup DF keyed on the child's
      // gamma columns.
      import spark.implicits._
      val lookup = em.patterns.map { p =>
        val key = p.gammas.map(g0 => (if (g0 < 0) Gamma.Missing.toInt else g0).toByte)
        (key.toSeq, if (matched.contains(p.gammas.toSeq)) Gamma.Match2 else Gamma.Nonmatch)
      }
      val lookupDf = lookup
        .toDF("__key", "__verdict")
        .select(
          (Patterns.gammaCols(vars).zipWithIndex.map { case (c, i) =>
            element_at(col("__key"), i + 1).as(c)
          } :+ col("__verdict").cast(ByteType).as(Gamma.gammaColName(g.name))): _*)
      pairs = pairs.join(broadcast(lookupDf), Patterns.gammaCols(vars), "left")
    }

    // final (root) stage
    val root = stages.last
    val rootVars = effectiveVarnames(root)
    val rootPatternDf = {
      val p = pairs
      patternStage(root.name, () => Patterns.aggregate(p, rootVars))
    }
    val emFinal = EmLink.runBig(
      Patterns.collect(rootPatternDf, rootVars), dims, rootVars, root.em)
    val stats = Patterns.statsDf(spark, emFinal)
    var annotated = Patterns.attach(pairs, stats, rootVars)

    // TF adjustment on the final stage (reference T3-T5), with TF values
    // joined from the CURRENT inputs: frequencies are corpus-wide, so stored
    // ones would go stale as the corpus grows; ids and gammas never do
    if (allSpecs.exists(_.tfAdjust)) {
      val withTf = TermFrequency.joinById(TermFrequency.joinById(
        annotated, dfA, cfg.idA, allSpecs, "_a"), dfB, cfg.idB, allSpecs, "_b")
      annotated = TermFrequency.adjust(withTf, allSpecs, emFinal, root.em.thresholdMatch)
    }

    LinkResult(cfg, emFinal, childResults.toSeq, stats, annotated, cachedBase)
  }
}
