package graft.model

import graft.eval.ScoringSplit
import graft.surv.SurvDataset
import org.apache.spark.sql.DataFrame

/** Model contract — the Spark shape of the reference's
  * `ModelSkeleton` ABC (reference: src/elastic_surv/models/base.py:
  * 11-82): a named model with a hyperparameter space, `fit` over a
  * SurvDataset, and the fitted artifact predicting a survival matrix
  * and scoring with time-dependent concordance + integrated Brier.
  */
trait SurvModel {
  def name: String
  def hyperparameterSpace: Seq[Param]
  def fit(ds: SurvDataset): FittedSurvModel
}

trait FittedSurvModel {

  /** Release any cluster state (persisted DataFrames) pinned by the
    * fitted artifact. Idempotent; the model remains usable afterwards
    * (recomputing instead of reading cache). Callers that fit many
    * models (Hyperband) MUST release the losers or cached blocks
    * accumulate for the session lifetime.
    */
  def release(): Unit = ()

  /** Long-form survival matrix (id, tau_idx, tau, s) for rows in
    * tensorized form (id, x). The reference's predict returns the
    * same matrix with time horizons as the index
    * (model_cox_ph.py:106-110).
    */
  def predictSurv(tensorized: DataFrame, grid: Array[Double]): DataFrame

  /** Scores on the test split — c_index (Antolini concordance_td) and
    * brier_score (IPCW IBS over the 100-point grid), mirroring
    * base.py:61-82.
    *
    * The model-independent facts of the test split (tensorized rows,
    * grid, censoring KM weights, N, active τ) are one
    * [[graft.eval.ScoringSplit]] taken through [[TrainCache]]: inside a
    * sharing scope (a Hyperband search) every config reuses the one
    * the first config built; outside one it is built and released per
    * call. The prediction matrix then joins the split's subject table
    * once, and both scores come back from one collect.
    */
  def score(ds: SurvDataset): Map[String, Double] = graft.core.Pins.scoped {
    val (split, release) = TrainCache.acquire(TrainCache.key("score_split", ds))(
      ScoringSplit.of(ds))
    try {
      val (c, ibs) = split.score(predictSurv(split.test, split.grid))
      Map("c_index" -> c, "brier_score" -> ibs)
    } finally release()
  }
}
