package graft.model

import graft.eval.BrierScore
import graft.surv.SurvDataset
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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

  /** Scores on the test split as one distributed pipeline —
    * c_index (Antolini concordance_td) and brier_score (IPCW IBS over
    * the 100-point grid), mirroring base.py:61-82. No collect until
    * the two final scalars.
    */
  def score(ds: SurvDataset): Map[String, Double] = graft.core.Pins.scoped {
    // concurrent Hyperband configs score against the SAME canonical
    // tensorized-test plan: each scope holds one reference on the one
    // cache, which goes when the last of them finishes
    val test = graft.core.Pins.pin(
      ds.tensorized(ds.test).withColumnRenamed("rn", "id"))
    val grid = BrierScore.defaultGrid(test, "t")
    val surv = graft.core.Pins.pin(predictSurv(test, grid))
    // concordance_td via the counting aggregator (O(n·|grid|)), not
    // the quadratic pair join — identical value (q_cindex_td vs
    // q_cindex_td_sorted hash-match), but survives a 100× test set.
    val c = graft.eval.ScalableConcordance
      .antolini(test, "id", "t", "e", surv, grid)
      .head().getAs[Double]("cindex")
    val ibs = BrierScore
      .integrated(BrierScore.grid(test, "id", "t", "e", surv, grid))
      .head().getAs[Double]("ibs")
    Map("c_index" -> c, "brier_score" -> ibs)
  }
}
