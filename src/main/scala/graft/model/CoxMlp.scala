package graft.model

import graft.core.Attach.AttachOps
import graft.surv.SurvDataset
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Neural Cox proportional hazards — the DeepSurv flavor the
  * reference actually ships (reference: src/elastic_surv/models/
  * model_cox_ph.py:50-60 wraps `pycox.models.CoxPH` around a
  * `tt.practical.MLPVanilla` risk net with `output_bias=False`): risk
  * g(x) = wᵀ·relu-stack(x) (no output bias — a Cox risk is
  * translation-invariant), trained by BATCH-LOCAL negative partial
  * likelihood exactly as pycox's `CoxPHLoss` approximates the full
  * likelihood on each minibatch.
  *
  * Distributed training: the same job rhythm as [[DeepHit]] —
  * deterministic rn-contiguous batches inside each partition, exact
  * per-batch loss+gradient in a plain-array accumulator
  * ([[CoxMlp.PartitionAcc]], MLP algebra shared via [[MlpStack]]),
  * one reduce per epoch (|θ|+2 doubles), Adam on the driver.
  *
  * Semantics pinned deterministically (documented deviations from
  * torch internals): the batch risk set for an event at t is ALL
  * batch rows with t_j >= t (Breslow ties — pycox's sort-order tie
  * behavior is nondeterministic under equal durations); `batchNorm`
  * trains true batch-STATISTICS BatchNorm1d (the reference default,
  * model_cox_ph.py:50-57) with the exact batch-coupled gradient —
  * deterministic because batches are rn-contiguous chunks — and
  * predicts with full-train population stats instead of torch's
  * momentum EMA (MlpStack scaladoc).
  * Features are standardized (train-fitted scaler) for conditioning,
  * like the linear [[CoxPH]].
  *
  * Prediction reuses the linear path wholesale: Breslow baseline
  * H0(t) on the train split with sc = g(x) ([[CoxPH.breslow]] — the
  * distributed range-scan build), S(t|x) = exp(−H0(t)·e^{g(x)}).
  */
final case class CoxMlp(
    hidden: Seq[Int] = Seq(32, 32), // model_cox_ph.py:19 default
    batchSize: Int = 128,
    epochs: Int = 50,
    lr: Double = 0.01,
    patience: Int = 10,
    batchNorm: Boolean = false, // batch-statistics BN, MlpStack bnBatch
    // prediction-time BN stats flavor: false (default) = exact
    // full-train population stats under the final θ (deterministic,
    // scheduling-independent); true = torch's momentum-EMA running
    // stats (BnMomentum 0.1, rm=0/rv=1 init, one fold per training
    // batch in the deterministic global batch order, best-epoch
    // snapshot à la torchtuples EarlyStopping) — closes the last
    // model-layer deviation from the reference when torch-exact
    // prediction parity matters more than order-independence
    bnEma: Boolean = false,
    dropout: Double = 0.0, // deterministic inverted dropout, MlpStack
    seed: Long = 7L) extends SurvModel {

  def name: String = "cox_ph_mlp"

  // model_cox_ph.py:67-77 restricted to knobs this flavor has
  def hyperparameterSpace: Seq[Param] = Seq(
    FloatP("lr", 1e-4, 1e-1),
    IntegerP("patience", 10, 50, 10))

  def fit(ds: SurvDataset): FittedCoxMlp = {
    val p = ds.numFeatures
    val spark = ds.df.sparkSession
    import spark.implicits._

    // Config-independent prefix (tensorize + scaler fit + standardize
    // + persist) — shared across a search's configs via TrainCache.
    val ((train, mu, sd), releasePrep) = TrainCache.acquire(
      TrainCache.key("cox_mlp_std", ds)) {
      val raw = ds.tensorized(ds.train)
        .select(col("rn"), col("t").cast("double").as("t"),
          col("e").cast("int").as("e"),
          transform(col("x"), _.cast("double")).as("x"))

      // train-fitted scaler (one job) — population std, zeros guarded
      val stats = raw.select(posexplode(col("x")).as(Seq("idx", "xv")))
        .groupBy("idx")
        .agg(avg(col("xv")).as("mu"), stddev_pop(col("xv")).as("sd"))
        .orderBy("idx").collect()
      val mu0 = stats.map(_.getAs[Double]("mu"))
      val sd0 = stats.map { r =>
        val sd = r.getAs[Double]("sd")
        // math.max(NaN, x) = NaN: a single NaN feature would zero the
        // whole fit (every loss NaN -> AdamLoop returns the random
        // init); mirror linear CoxPH's NaN -> 1.0 guard
        if (sd.isNaN || sd <= 1e-12) 1.0 else sd
      }

      val muA = array(mu0.map(lit(_)): _*)
      val sdA = array(sd0.map(lit(_)): _*)
      val tr = graft.core.Pins.pin(raw
        .select(col("rn"),
          zip_with(zip_with(col("x"), muA, (v, m) => v - m), sdA,
            (v, s) => v / s).as("x"),
          col("t"), col("e"))
        .sortWithinPartitions("rn")
        .as[(Long, Array[Double], Double, Int)])
      tr.count()
      (tr, mu0, sd0)
    }

    val stack = new MlpStack(p, hidden,
      if (hidden.nonEmpty) hidden.last else p, bn = batchNorm)
    val q = stack.outWidth
    // w needs symmetry breaking even with no hidden layers
    val theta = MlpTrainer.initTheta(0, q, stack, seed,
      initLinearHead = true)
    val (hid, bnFlag, dropQ, pp, emaFlag) =
      (hidden, batchNorm, dropout, p, bnEma)
    val (bestTheta, bnStats) = MlpTrainer.fit(train)(_._2, stack, theta,
      batchSize, epochs, patience, lr, seed, batchNorm,
      bnEma = bnEma) { (th, dropKey0) =>
      CoxMlp.PartitionAcc(pp, th, hid, bnFlag, dropQ, dropKey0,
        bnBatch = bnFlag, recordBn = emaFlag && bnFlag)
    }
    releasePrep()

    val w = bestTheta.take(q)
    val layers = stack.extract(bestTheta, bnStats)
    val fitted0 = FittedCoxMlp(this, w, layers, mu, sd, null)
    // Breslow baseline over the train split with the neural score —
    // the same distributed range-scan build the linear model uses
    val trDf = ds.tensorized(ds.train)
      .select(col("t").cast("double").as("t"), col("e").cast("int").as("e"),
        transform(col("x"), _.cast("double")).as("x"))
    val (baseline, releaseBaseline) = graft.core.Pins.held(
      graft.core.Pins.pin(CoxPH.breslow(trDf, fitted0.riskScore(col("x")))))
    fitted0.copy(baseline = baseline, releaseBaseline = releaseBaseline)
  }
}

object CoxMlp {

  /** Per-partition exact batch-local partial-likelihood accumulator:
    * θ = [w (q), stack]; g = wᵀ·stack(x).
    *
    *   L_batch = Σ_{i: e_i=1} (ln S_i − g_i),
    *   S_i = Σ_{j: t_j >= t_i} e^{g_j}   (ties: all included)
    *   ∂L/∂g_j = e^{g_j} · Σ_{i: ev, t_i <= t_j} 1/S_i − e_j
    *
    * Computed in O(b log b): sort by t desc, one descending pass
    * accumulates S per tie group; one ascending pass accumulates
    * Σ 1/S over events seen so far and scores each row's dg.
    */
  final case class PartitionAcc(p: Int, theta: Array[Double],
                                hidden: Seq[Int] = Nil,
                                bn: Boolean = false,
                                dropout: Double = 0.0,
                                dropKey0: Long = 0L,
                                bnBatch: Boolean = false,
                                recordBn: Boolean = false)
      extends MlpTrainer.BatchAccumulator[(Long, Array[Double], Double, Int)] {
    var loss = 0.0
    var events = 0L
    def norm: Long = events
    val grad = Array.fill(theta.length)(0.0)
    private val stack = new MlpStack(p, hidden,
      if (hidden.nonEmpty) hidden.last else p, bn = bn, dropout = dropout,
      bnBatch = bnBatch)
    if (recordBn) stack.enableBnRecording()
    override def bnRecorded: Array[Array[MlpStack.BnBatchStats]] =
      stack.takeRecorded()
    private val q = stack.outWidth
    private val nL = stack.nL

    def addBatch(batch: Array[(Long, Array[Double], Double, Int)]): Unit = {
      val b = batch.length
      if (b == 0) return
      // forward (whole batch — bnBatch couples rows through the batch
      // statistics; per-row mask keys: (seed, iter) base mixed with rn)
      val st = stack.forwardBatch(theta,
        Array.tabulate(b)(i => batch(i)._2),
        Array.tabulate(b)(i => MlpStack.mixKey(dropKey0, batch(i)._1)))
      val g = new Array[Double](b)
      var i = 0
      while (i < b) {
        val f = st.top(i)
        var s = 0.0
        var j = 0
        while (j < q) { s += theta(j) * f(j); j += 1 }
        g(i) = s
        i += 1
      }
      // tie groups in descending-t order
      val order = batch.indices.sortBy(i => -batch(i)._3)
      val dg = new Array[Double](b)
      // log-sum-exp shift: a divergent iterate (lr at the search-space
      // edge) can push g past ~709 and overflow exp to Inf — subtract
      // the batch max before exponentiating and add it back inside the
      // log. e^{g_j}/S_i is shift-invariant, so dg is unchanged.
      var mx = Double.NegativeInfinity
      i = 0
      while (i < b) { if (g(i) > mx) mx = g(i); i += 1 }
      // pass 1 (desc t): S per group = running Σ e^{g−mx} including the
      // group itself; loss for the group's events
      val groupS = new Array[Double](b) // shifted S at each row's group
      var S = 0.0
      var gi = 0
      while (gi < order.length) {
        var gj = gi
        val t0 = batch(order(gi))._3
        while (gj < order.length && batch(order(gj))._3 == t0) {
          S += math.exp(g(order(gj)) - mx); gj += 1
        }
        var k = gi
        while (k < gj) {
          val idx = order(k)
          groupS(idx) = S
          if (batch(idx)._4 == 1) {
            events += 1
            loss += mx + math.log(S) - g(idx)
          }
          k += 1
        }
        gi = gj
      }
      // pass 2 (asc t): Ainv = Σ 1/S_i over events with t_i <= t_j
      var Ainv = 0.0
      gi = order.length - 1
      while (gi >= 0) {
        var gj = gi
        val t0 = batch(order(gi))._3
        while (gj >= 0 && batch(order(gj))._3 == t0) gj -= 1
        // rows (gj, gi] form one tie group: fold their events into
        // Ainv FIRST (an event's own risk set includes its ties)...
        var k = gj + 1
        while (k <= gi) {
          val idx = order(k)
          if (batch(idx)._4 == 1) Ainv += 1.0 / groupS(idx)
          k += 1
        }
        // ...then score every row of the group
        k = gj + 1
        while (k <= gi) {
          val idx = order(k)
          dg(idx) = math.exp(g(idx) - mx) * Ainv -
            (if (batch(idx)._4 == 1) 1.0 else 0.0)
          k += 1
        }
        gi = gj
      }
      // backprop dg → grad(w), then ONE whole-batch pass through the
      // stack (null dTop rows = zero head-grad; with bnBatch they
      // still receive gradient through the batch statistics)
      val dTops = if (nL > 0) new Array[Array[Double]](b) else null
      i = 0
      while (i < b) {
        val d = dg(i)
        if (d != 0.0) {
          val f = st.top(i)
          val dTop = if (nL > 0) new Array[Double](q) else null
          var j = 0
          while (j < q) {
            grad(j) += d * f(j)
            if (nL > 0) dTop(j) = d * theta(j)
            j += 1
          }
          if (nL > 0) dTops(i) = dTop
        }
        i += 1
      }
      if (nL > 0) stack.backwardBatch(theta, grad, st, dTops)
    }
  }
}

/** Fitted neural CoxPH: output weights w over the ReLU stack, the
  * scaler, and the persisted Breslow baseline — prediction is the
  * shared [[CoxSurvPredict]] path with the neural score (same shape
  * as FittedDeepHit.featCol: pure let-bound column algebra).
  */
final case class FittedCoxMlp(
    model: CoxMlp,
    w: Array[Double],
    layers: Seq[(Array[Array[Double]], Array[Double])],
    mu: Array[Double],
    sd: Array[Double],
    baseline: DataFrame,
    releaseBaseline: () => Unit = () => ()) extends CoxSurvPredict {

  protected def scoreStd(xstd: Column): Column =
    CoxPH.scoreCol(MlpStack.stackCol(xstd, layers), w)
}
