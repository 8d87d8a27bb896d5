package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.config.VariableSpec

/** Term-frequency adjustment (reference T1-T5,
  * `/root/reference/src/term_frequency_adjustment.jl` +
  * `/root/reference/src/gammas/gammaCKpar.jl:180-193`).
  *
  * Rare values that agree are stronger evidence than frequent ones; TF
  * adjustment reweights each matched pair by `log(u_k / denom_k) * w_k`
  * per TF-enabled variable, where `denom_k` is the pair's value frequency
  * (exact method: mean of both sides; fuzzy: max —
  * `patterns.jl:134-141`) and `u_k` is the variable's aggregate u-probability
  * at the pair's gamma level (`term_frequency_adjustment.jl:133-137`).
  *
  * Natural log is used throughout. (The reference mixes a log2 prior into
  * natural-log adjustments — `term_frequency_adjustment.jl:34` vs
  * `patterns.jl:223` — a documented quirk we do not replicate; SURVEY.md §7.)
  */
object TermFrequency {

  def tfColA(varname: String): String = s"tf_${varname}_a"
  def tfColB(varname: String): String = s"tf_${varname}_b"

  /** Above this many (approx) distinct values the per-variable frequency
    * table is joined with a shuffle join instead of a broadcast: at web
    * scale a TF variable can be near-unique (urls, full names), and
    * broadcasting a |distinct|-row table is a driver/executor OOM.
    */
  val DefaultBroadcastMaxDistinct: Long = 1000000L

  /** Frequency table for one column: value -> max(freq/N, tfMin)
    * (reference `gammaCKpar.jl:180-193`). One hash aggregate; the result is
    * tiny for low-cardinality vars and at worst |distinct| rows. Pass
    * `totalRows` when the caller already counted the table (avoids a
    * second full scan).
    */
  def freqTable(df: DataFrame, varname: String, tfMin: Double,
      totalRows: Option[Long] = None): DataFrame = {
    val total = totalRows.getOrElse(df.count()).toDouble
    df.filter(col(varname).isNotNull)
      .groupBy(col(varname))
      .agg(greatest(count(lit(1)) / total, lit(tfMin)).as(s"tf_$varname"))
  }

  /** Joins per-row TF values for every TF-enabled spec onto a side table
    * (pre-pairing, so the join is row-count-sized, not pair-sized).
    * TF of a missing value stays 1.0 (the reference initializes TF vectors
    * to 1.0 and never overwrites missing rows, `fastlink.jl:28`).
    *
    * ONE stats pass over `df` (total count + approx_count_distinct per TF
    * var) decides, per variable, broadcast vs shuffle join for the
    * frequency table — the same cost-gating discipline as the gamma
    * distinct-value rewrite (`Gamma.distinctRatio`).
    */
  def withTfColumns(df: DataFrame, specs: Seq[VariableSpec], suffix: String,
      broadcastMaxDistinct: Long = DefaultBroadcastMaxDistinct): DataFrame =
    tfColumnsAndRows(df, specs.filter(_.tfAdjust), suffix, broadcastMaxDistinct)._1

  /** Left-joins one link side's per-id TF values (`tf_<var><suffix>`, as
    * [[withTfColumns]] computes them over `side`) onto `pairs` by
    * `id<suffix>`: the scoring-time TF join. The lookup is row-scale and
    * broadcast while `side` has at most [[DefaultBroadcastMaxDistinct]]
    * rows; above that the join shuffles `pairs`. Side ids must be unique.
    */
  def joinById(pairs: DataFrame, side: DataFrame, idCol: String,
      specs: Seq[VariableSpec], suffix: String): DataFrame = {
    val tfSpecs = specs.filter(_.tfAdjust)
    val (withTf, rows) = tfColumnsAndRows(side, tfSpecs, suffix, DefaultBroadcastMaxDistinct)
    val look = withTf.select(col(idCol).as("__tf_id") +:
      tfSpecs.map(s => col(s"tf_${s.varname}$suffix")): _*)
    pairs.join(if (rows <= DefaultBroadcastMaxDistinct) broadcast(look) else look,
      col(s"id$suffix") === col("__tf_id"), "left").drop("__tf_id")
  }

  private def tfColumnsAndRows(df: DataFrame, tfSpecs: Seq[VariableSpec], suffix: String,
      broadcastMaxDistinct: Long): (DataFrame, Long) = {
    if (tfSpecs.isEmpty) return (df, -1L)
    val statsRow = df.agg(count(lit(1)).as("__n"),
      tfSpecs.map(s => approx_count_distinct(col(s.varname)).as(s"__d_${s.varname}")): _*)
      .head()
    val total = statsRow.getLong(0)
    val distinctOf = tfSpecs.zipWithIndex
      .map { case (s, i) => s.varname -> statsRow.getLong(i + 1) }.toMap
    val out = tfSpecs.foldLeft(df) { (acc, s) =>
      val ft0 = freqTable(df, s.varname, s.tfMinimumUValue, Some(total))
        .withColumnRenamed(s.varname, s"__tfv")
        .withColumnRenamed(s"tf_${s.varname}", s"tf_${s.varname}$suffix")
      val ft = if (distinctOf(s.varname) <= broadcastMaxDistinct) broadcast(ft0) else ft0
      acc
        .join(ft, acc(s.varname) === col("__tfv"), "left")
        .drop("__tfv")
        .withColumn(s"tf_${s.varname}$suffix",
          coalesce(col(s"tf_${s.varname}$suffix"), lit(1.0)))
    }
    (out, total)
  }

  /** Per-pair TF denominator for one variable (reference
    * `match_level_tf_lookup`, `patterns.jl:134-141`): exact -> mean of the
    * two sides, fuzzy -> max.
    */
  def denominator(spec: VariableSpec): Column = {
    val a = col(tfColA(spec.varname))
    val b = col(tfColB(spec.varname))
    if (spec.canonicalMethod == "exact") (a + b) / 2.0 else greatest(a, b)
  }

  /** Per-variable aggregate u-probabilities at gamma levels 1 and 2
    * (reference `get_tf_u_values`, `term_frequency_adjustment.jl:133-137`):
    * u_v = sum of counts of patterns with gamma_var = v / total comparisons.
    * Computed from the driver-side EM pattern table.
    */
  def uValues(em: EmLink.EmResult, varIdx: Int): Map[Int, Double] = {
    val total = em.patterns.map(_.count).sum.toDouble
    Seq(1, 2).map { v =>
      v -> em.patterns.filter(_.gammas(varIdx) == v).map(_.count).sum / total
    }.toMap
  }

  /** Adds `final_weight`/`final_zeta`/`is_match` columns to an
    * EM-annotated pair DataFrame (must already carry `weights` from
    * [[Patterns.attach]] and tf_<var>_a/b columns).
    *
    * final_weight = weights + sum_k [gamma_k in {1,2}] * log(u_k / denom_k) * w_k
    * final_zeta   = sigmoid(final_weight)        (reference
    * `bf_to_probability`, `term_frequency_adjustment.jl:126-128`)
    */
  def adjust(
      pairs: DataFrame,
      specs: Seq[VariableSpec],
      em: EmLink.EmResult,
      threshold: Double): DataFrame = {
    // Only variables that feed the final EM directly can be TF-adjusted
    // (a tf_adjust var inside a child group is binarized away by the child
    // stage — its per-pair tf no longer has a gamma level in the final EM).
    val tfSpecs = specs.filter(_.tfAdjust)
      .map(s => (s, em.varnames.indexOf(s.varname)))
      .filter(_._2 >= 0)
    val adjustments: Seq[Column] = tfSpecs.map { case (s, i) =>
      val uv = uValues(em, i)
      val g = col(Gamma.gammaColName(s.varname))
      val denom = denominator(s)
      when(g === 1, log(lit(uv(1)) / denom) * s.tfAdjustmentWeight)
        .when(g === 2, log(lit(uv(2)) / denom) * s.tfAdjustmentWeight)
        .otherwise(lit(0.0))
    }
    val totalAdj = if (adjustments.isEmpty) lit(0.0) else adjustments.reduce(_ + _)
    val fw = col("weights") + totalAdj
    pairs
      .withColumn("final_weight", fw)
      .withColumn("final_zeta", lit(1.0) / (lit(1.0) + exp(-col("final_weight"))))
      .withColumn("is_match", col("final_zeta") >= threshold)
  }
}
