package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IPCW (integrated) Brier score over a time grid — the Spark design
  * of the reference's `integrated_brier_score(time_grid)` with
  * `censor_surv="km"` (reference: src/elastic_surv/models/base.py:
  * 75-82): grid = 100 equidistant points over [t_min, t_max] of the
  * test split; per grid time τ the IPCW-weighted mean of squared
  * survival-prediction error; integrated by trapezoid and normalized
  * by the grid span.
  *
  * Per subject i at grid time τ, with G = censoring KM:
  *   t_i <= τ, e_i = 1 → S(τ|x_i)² / G(t_i⁻)
  *   t_i >  τ          → (1 − S(τ|x_i))² / G(τ)
  *   otherwise 0        (and 0 whenever the G weight is 0)
  * BS(τ) = Σ contrib / N.
  *
  * Scale shape: every test-only fact — the censoring KM, G(τ) on the
  * grid, G(t_i⁻) per subject, N — comes from one [[ScoringSplit]];
  * the KM lookups run through [[KaplanMeier.lookup]] (no broadcast of
  * a continuous-time curve, no nested-loop join). The prediction
  * matrix then needs one keyed equi-join to the subject table and one
  * shuffle by (cfg, τ): the split's slice kernel sums each τ's terms
  * exactly ([[graft.core.ExactSum]]), so BS(τ) does not depend on how the rows
  * were partitioned, and a task holds one τ slice at a time.
  */
object BrierScore {

  /** Per-τ Brier scores: (tau_idx, tau, bs), lazy.
    * `df`: (idCol, tCol, eCol); `surv`: long form (idCol, tau, s)
    * evaluated at exactly the grid times. The split's subject table is
    * pinned in the calling scope. The one-config case of the scoring
    * path: `surv` is scored as cfg 0.
    */
  def grid(df: DataFrame, idCol: String, tCol: String, eCol: String,
           surv: DataFrame, gridTimes: Array[Double]): DataFrame =
    ScoringSplit.build(df, idCol, tCol, eCol, gridTimes)
      .slices(surv.withColumn(ScoringSplit.Cfg, lit(0)), idCol)
      .select(col("tauIdx").as("tau_idx"), col("tau"), col("bs"))

  /** Trapezoid-integrated Brier score normalized by grid span —
    * single-row (ibs) over [[grid]]'s per-τ scores, lazy: one
    * aggregation that hands the scores to [[trapezoid]], the driver
    * integration of the scoring path.
    */
  def integrated(gridBs: DataFrame): DataFrame = {
    val spark = gridBs.sparkSession
    import spark.implicits._
    gridBs.select(col("tau_idx"), col("tau"), col("bs")).as[(Int, Double, Double)]
      .groupByKey(_ => 0)
      .mapGroups((_, pts) => trapezoid(pts.toArray.sortBy(_._1)))
      .toDF("ibs")
  }

  /** ∫ BS(τ) dτ by trapezoid over the per-τ scores `pts` (tau_idx, tau,
    * bs), sorted by tau_idx, normalized by the span of the grid points
    * it pairs. Only neighbouring grid points pair (a τ a matrix has no
    * rows at is skipped); NaN when none do. The areas are summed by
    * [[graft.core.ExactSum]].
    */
  private[eval] def trapezoid(pts: Array[(Int, Double, Double)]): Double = {
    val steps = pts.indices.drop(1).filter(k => pts(k)._1 == pts(k - 1)._1 + 1)
    if (steps.isEmpty) Double.NaN
    else {
      val areas = steps.map(k => (pts(k)._3 + pts(k - 1)._3) / 2.0 * (pts(k)._2 - pts(k - 1)._2))
      graft.core.ExactSum(areas.toArray, areas.size) /
        (steps.map(k => pts(k)._2).reduce(math.max(_, _)) -
          steps.map(k => pts(k - 1)._2).reduce(math.min(_, _)))
    }
  }

  /** Subject i's IPCW term at grid time τ (the class doc's cases):
    * `gTi` = G(t_i⁻), `gTau` = G(τ).
    */
  private[eval] def term(s: Double, t: Double, e: Int, tau: Double,
                         gTi: Double, gTau: Double): Double =
    if (t <= tau && e == 1 && gTi > 0.0) s * s / gTi
    else if (t > tau && gTau > 0.0) (1.0 - s) * (1.0 - s) / gTau
    else 0.0

  /** The reference's default grid: 100 equidistant points over the
    * test split's [t_min, t_max] (base.py:77-81).
    */
  def defaultGrid(df: DataFrame, tCol: String): Array[Double] = {
    val r = df.agg(min(col(tCol).cast("double")), max(col(tCol).cast("double"))).head()
    graft.surv.DurationCuts.linspace(r.getDouble(0), r.getDouble(1), 100)
  }
}
