package graft.eval

import graft.core.Pins
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The facts both test-split scores need that depend on the test split
  * alone — not on the model being scored. The time-dependent C-index
  * ([[ScalableConcordance.antolini]]) and the IPCW Brier score
  * ([[BrierScore.grid]]) read them; a Hyperband search scores every
  * config against the same split, so it builds them once
  * ([[graft.model.FittedSurvModel.scoreAll]] shares this value through
  * [[graft.model.TrainCache]]).
  *
  *  - `test`: the test rows the models predict on (pinned by [[of]]);
  *  - `grid`: the τ grid, distinct time points;
  *  - `gAtTau`: the censoring survival G(τ) at each grid point;
  *  - `subjects`: pinned (id, t, e, tau_i, g_ti) — each subject's
  *    step grid point τ(t_i) and its strict IPCW weight G(t_i⁻);
  *  - `n`: the number of test rows (the Brier denominator);
  *  - `activeTau`: the grid points hit by ≥ 1 event (the C-index
  *    slices), sorted.
  *
  * Both arrays are bounded by the grid; the subject table stays
  * distributed. Scoring a batch of prediction matrices — one per
  * config, a whole Hyperband rung — is then one join ([[attach]]) and
  * one collect ([[score]]), whatever the batch size: every count and
  * Brier sum is keyed by the matrix's config index `cfg`.
  */
final case class ScoringSplit(
    test: DataFrame,
    grid: Array[Double],
    gAtTau: Array[Double],
    subjects: DataFrame,
    n: Long,
    activeTau: Array[Double]) {

  /** The prediction matrices `surv` (cfg, idCol, tau, s) joined to the
    * subject facts: (cfg, id, tau, s, t, e, tau_i, g_ti), lazy. The
    * one-config entry points tag their matrix cfg 0 themselves.
    */
  def attach(surv: DataFrame, idCol: String): DataFrame =
    surv.select(col(ScoringSplit.Cfg), col(idCol).as("id"), col("tau"), col("s"))
      .join(subjects, Seq("id"))

  /** (c_index, brier_score) of each prediction matrix in `survs` (id,
    * tau, s) over [[grid]], in order: the matrices are tagged with
    * their index, unioned and joined to the subject table once, and
    * every config's Antolini counts and integrated Brier score come
    * back from ONE collect.
    */
  def score(survs: Seq[DataFrame]): Seq[(Double, Double)] = Pins.scoped {
    val tagged = survs.zipWithIndex.map { case (s, i) =>
      s.select(lit(i).as(ScoringSplit.Cfg), col("id"), col("tau"), col("s"))
    }
    val x = ScoringSplit.materialized(attach(tagged.reduce(_.unionAll(_)), "id"))
    val ibs = BrierScore.integratedPerCfg(BrierScore.perTau(this, x))
      .select(col(ScoringSplit.Cfg), col("ibs").as("v"))
    ScalableConcordance.collectScalars(
        ScalableConcordance.antoliniCounts(this, x, numBuckets = 16) :+ ibs, survs.size)
      .map { case Seq(comparable: Long, ties: Long, cross: Long, within: Long, brier: Double) =>
        (ScalableConcordance.concordance(comparable, ties, cross, within)._3, brier)
      }
  }
}

object ScoringSplit {

  /** The column that tells the configs of a scored batch apart. */
  private[eval] val Cfg = "cfg"

  /** The scoring facts of a dataset's test split, over the reference's
    * default 100-point grid. Fails, naming the split, when the test
    * split is empty (`trainRatio` = 1 leaves no test rows).
    */
  def of(ds: graft.surv.SurvDataset): ScoringSplit = {
    require(ds.testLen > 0,
      s"scoring needs a non-empty test split, but trainRatio=${ds.trainRatio} " +
        s"leaves ${ds.testLen} of n=${ds.n} rows")
    val test = Pins.pin(ds.tensorized(ds.test).withColumnRenamed(graft.core.StableOrder.RN, "id"))
    build(test, "id", "t", "e", BrierScore.defaultGrid(test, "t"))
  }

  /** Builds the facts of the split `df` (idCol, tCol, eCol) over
    * `grid`. The subject table's pin goes to the calling scope.
    */
  def build(df: DataFrame, idCol: String, tCol: String, eCol: String,
            grid: Array[Double]): ScoringSplit = {
    // duplicate grid values would each join every surv row at that tau
    // and inflate bs by the multiplicity — a degenerate [t_min, t_max]
    // span (all linspace points equal, or step < ulp) must fail loudly,
    // not silently double-count
    require(grid.distinct.length == grid.length,
      s"grid contains duplicate time points (degenerate range? " +
        s"${grid.take(3).mkString(",")}...)")
    val spark = df.sparkSession
    import spark.implicits._

    // τ(t_i) is THE shared Concordance.tauStep, so the two antolini
    // implementations agree on which events are scoreable
    val base = df.select(col(idCol).as("id"), col(tCol).cast("double").as("t"),
        col(eCol).cast("int").as("e"))
      .withColumn("tau_i", Concordance.tauStep(grid, col("t")))

    // The censoring KM's and the lookups' own pins (the range-scan RDDs
    // of a large curve) go to a nested scope: after the build only the
    // pinned subject table is read, so they are dropped as soon as the
    // facts job below has filled it.
    val ((gAtTau, gAtTi), releaseKm) = Pins.held {
      val cens = KaplanMeier.censoringCurve(df, tCol, eCol)
      // G(τ) per grid point, back in grid order (the lookup may reorder)
      val gByTau = KaplanMeier.lookup(grid.toSeq.toDF("tau"), "tau", cens,
          strict = false, "g")
        .as[(Double, Double)].collect().toMap
      (grid.map(gByTau), KaplanMeier.lookup(base, "t", cens, strict = true, "g_ti"))
    }
    // one job: materializes the subject table, counts it, and collects
    // the active τ set (collect_set skips the non-event nulls)
    val (subjects, facts) = try {
      val s = Pins.pin(gAtTi)
      (s, s.agg(count(lit(1)), collect_set(when(col("e") === 1, col("tau_i")))).head())
    } finally releaseKm()
    ScoringSplit(df, grid, gAtTau, subjects, facts.getLong(0),
      facts.getSeq[Double](1).sorted.toArray)
  }

  /** Pins `x` and fills its cache with one job, so the branches of the
    * single collect that follows read the cache instead of each
    * recomputing it. The rows are counted per partition on the cached
    * scan itself: a `Dataset.count` adds an aggregation exchange (one
    * more job) as soon as `x` has more than one partition, as a batch
    * of several configs does.
    */
  private[eval] def materialized(x: DataFrame): DataFrame = {
    val p = Pins.pin(x)
    p.queryExecution.toRdd.count()
    p
  }
}
