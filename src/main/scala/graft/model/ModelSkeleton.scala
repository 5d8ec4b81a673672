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
    * (model_cox_ph.py:106-110). Every score derives from this matrix
    * ([[FittedSurvModel.scoreAll]]); a fitted artifact that cannot
    * predict (a test stub) throws exactly `UnsupportedOperationException`
    * here and overrides [[score]].
    */
  def predictSurv(tensorized: DataFrame, grid: Array[Double]): DataFrame

  /** Scores on the test split — c_index (Antolini concordance_td) and
    * brier_score (IPCW IBS over the 100-point grid), mirroring
    * base.py:61-82: the scoring pass of [[FittedSurvModel.scoreAll]]
    * over this model alone, so a lone score and a rung's batched score
    * are one implementation. This default never falls back: whatever
    * [[predictSurv]] throws leaves as itself.
    */
  def score(ds: SurvDataset): Map[String, Double] =
    FittedSurvModel.scoreBatch(ds, Seq(this), ownScore = false).head
}

object FittedSurvModel {

  /** Scores `models` on the test split of `ds`, in order, in ONE
    * scoring pass: each model's prediction matrix
    * (`predictSurv(split.test, split.grid)`) is tagged with its index,
    * the union joins the split's subject table once and is shuffled by
    * (cfg, τ), and one collect returns every model's Antolini counts
    * and Brier score per τ ([[graft.eval.ScoringSplit.score]]). The
    * jobs of the pass do not grow with the number of models.
    *
    * The model-independent facts of the test split (tensorized rows,
    * grid, censoring KM weights, N) are one
    * [[graft.eval.ScoringSplit]] taken through [[TrainCache]]: inside a
    * sharing scope (a Hyperband search) every rung reuses the one the
    * first score built; outside one it is built and released per call.
    *
    * A model whose `predictSurv` throws exactly
    * `UnsupportedOperationException` (not a subclass, such as Spark's
    * `SparkUnsupportedOperationException`) is scored by its own
    * [[FittedSurvModel.score]] instead; a model that does not override
    * it then fails with that exception.
    */
  def scoreAll(ds: SurvDataset, models: Seq[FittedSurvModel]): Seq[Map[String, Double]] =
    scoreBatch(ds, models, ownScore = true)

  /** [[scoreAll]]'s pass; `ownScore` = whether a model that cannot
    * predict is scored by its own `score`. The trait's default `score`
    * passes false, so it can never call itself back.
    */
  private[model] def scoreBatch(ds: SurvDataset, models: Seq[FittedSurvModel],
                                ownScore: Boolean): Seq[Map[String, Double]] =
    graft.core.Pins.scoped {
      val (split, release) = TrainCache.acquire(TrainCache.key("score_split", ds))(
        ScoringSplit.of(ds))
      try {
        val survs = models.map { m =>
          try Some(m.predictSurv(split.test, split.grid))
          catch {
            case e: UnsupportedOperationException
                if ownScore && e.getClass == classOf[UnsupportedOperationException] => None
          }
        }
        val batch = survs.flatten
        val scores = (if (batch.isEmpty) Nil else split.score(batch)).iterator
        models.lazyZip(survs).map { (m, surv) =>
          if (surv.isEmpty) m.score(ds)
          else {
            val (c, ibs) = scores.next()
            Map("c_index" -> c, "brier_score" -> ibs)
          }
        }
      } finally release()
    }
}
