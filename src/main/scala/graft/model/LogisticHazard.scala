package graft.model

import graft.surv.{DurationCuts, SurvDataset}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Discrete-time logistic hazard (reference: src/elastic_surv/models/
  * model_logistic_hazard.py). The reference trains a pycox
  * `LogisticHazard` net with `num_durations` output logits; the linear
  * parity model is the classic discrete-hazard GLM:
  *
  *   h_k(x) = sigmoid(b_k + βᵀx)
  *
  * trained by PERSON-PERIOD EXPANSION (SURVEY §2.6 M4): each subject
  * with duration bin k_i explodes into rows j = 0..k_i with binary
  * label "died in interval j" (1 only at j = k_i when e = 1), then one
  * MLlib LogisticRegression with interval one-hots + shared covariate
  * slope — fully built-in, distributed, no custom gradient code.
  *
  * Duration cuts are fitted on the TRAIN outcome (equidistant,
  * dataset.py:122-132); prediction interpolates the discrete survival
  * curve linearly (M6), S(τ) through knots (0,1),(cut_k, S_k).
  *
  * Scale shape: the explosion multiplies rows by ≤ numDurations (a
  * constant, default 10) — linear blowup, shuffle-free (explode is a
  * generator); MLlib LR then owns the distributed optimization.
  */
final case class LogisticHazard(
    numDurations: Int = 10, // model_logistic_hazard.py:27
    maxIter: Int = 100,
    regParam: Double = 1e-4) extends SurvModel {

  def name: String = "logistic_hazard"

  def hyperparameterSpace: Seq[Param] = Seq(
    FloatP("reg_param", 1e-6, 1e-1),
    // no max_iter knob — the rung budget is the iteration count (see
    // CoxPH.hyperparameterSpace)
  )

  def fit(ds: SurvDataset): FittedLogisticHazard = {
    val cuts = DurationCuts.fit(ds.train, ds.timeCol, numDurations)
    val k = cuts.k
    val train = ds.tensorized(ds.train)
      .select(transform(col("x"), _.cast("double")).as("x"),
        cuts.indexCol(col("t")).as("t_idx"), col("e"))

    val pp = train
      .select(col("x"), col("t_idx"), col("e"),
        explode(sequence(lit(0), col("t_idx"))).as("j"))
      .select(
        when(col("j") === col("t_idx") && col("e") === 1, 1.0)
          .otherwise(0.0).as("label"),
        array_to_vector(concat(
          array((0 until k).map(i =>
            when(col("j") === i, 1.0).otherwise(0.0)): _*),
          col("x"))).as("features"))

    val lr = new LogisticRegression()
      .setMaxIter(maxIter).setRegParam(regParam)
      .setFitIntercept(false) // interval one-hots span the intercept
      .setStandardization(true)
    val m = lr.fit(pp)
    val w = m.coefficients.toArray
    FittedLogisticHazard(this, cuts, w.take(k), w.drop(k))
  }
}

/** Neural discrete-time logistic hazard — the flavor the reference
  * actually ships (reference: src/elastic_surv/models/
  * model_logistic_hazard.py:54-61 wraps `pycox.models.LogisticHazard`
  * around `tt.practical.MLPVanilla` with `num_durations` output
  * logits): h_k(x) = sigmoid(b_k + W_k·relu-stack(x)), trained by the
  * pycox NLL (= BCE over the person-period terms j ≤ k_i, computed
  * per row — no expansion materialized, no inter-row coupling).
  *
  * Same distributed rhythm as [[DeepHit]]/[[CoxMlp]]: deterministic
  * rn-contiguous batches, exact per-batch gradients via [[MlpStack]],
  * one reduce per epoch, Adam on the driver. `batchNorm` trains true
  * batch-statistics BatchNorm1d (reference default) with the exact
  * batch-coupled gradient; `dropout` is the deterministic inverted
  * mask — both finite-diff-checkable (MlpStack scaladoc).
  */
final case class LogisticHazardMlp(
    numDurations: Int = 10,
    hidden: Seq[Int] = Seq(32, 32), // model_logistic_hazard.py default
    batchSize: Int = 128,
    epochs: Int = 50,
    lr: Double = 0.05,
    patience: Int = 5,
    batchNorm: Boolean = false, // batch-statistics BN, MlpStack bnBatch
    bnEma: Boolean = false, // torch momentum-EMA prediction stats (CoxMlp doc)
    dropout: Double = 0.0, // deterministic inverted dropout, MlpStack
    seed: Long = 7L) extends SurvModel {

  def name: String = "logistic_hazard_mlp"

  def hyperparameterSpace: Seq[Param] = Seq(
    FloatP("lr", 1e-4, 1e-1),
    IntegerP("patience", 10, 50, 10))

  def fit(ds: SurvDataset): FittedLogisticHazardMlp = {
    val p = ds.numFeatures
    val spark = ds.df.sparkSession
    import spark.implicits._

    // Same config-independent prefix (and TrainCache key) as DeepHit:
    // the encoded train table is identical given numDurations.
    val ((train, cuts, _), releasePrep) = TrainCache.acquire(
      TrainCache.key("discrete_ti", ds, s"$numDurations")) {
      val cts = DurationCuts.fit(ds.train, ds.timeCol, numDurations)
      val tr = graft.core.Pins.pin(ds.tensorized(ds.train)
        .select(col("rn"),
          transform(col("x"), _.cast("double")).as("x"),
          cts.indexCol(col("t")).as("ti"), col("e"))
        .sortWithinPartitions("rn")
        .as[(Long, Array[Double], Int, Int)])
      val n0 = tr.count()
      (tr, cts, n0)
    }
    val k = cuts.k

    val stack = new MlpStack(p, hidden,
      k + k * (if (hidden.nonEmpty) hidden.last else p), bn = batchNorm)
    val q = stack.outWidth
    // zero init is correct for the linear head (no symmetry to break)
    val theta = MlpTrainer.initTheta(k, k * q, stack, seed,
      initLinearHead = false)
    val (hid, bnFlag, dropQ, kk, pp) = (hidden, batchNorm, dropout, k, p)
    val emaFlag = bnEma
    val (bestTheta, bnStats) = MlpTrainer.fit(train)(_._2, stack, theta,
      batchSize, epochs, patience, lr, seed, batchNorm,
      bnEma = bnEma) { (th, dropKey0) =>
      LogisticHazardMlp.PartitionAcc(kk, pp, th, hid, bnFlag,
        dropQ, dropKey0, bnBatch = bnFlag, recordBn = emaFlag && bnFlag)
    }
    releasePrep()

    val b = bestTheta.take(k)
    val w = Array.tabulate(k, q)((ki, j) => bestTheta(k + ki * q + j))
    FittedLogisticHazardMlp(this, cuts, b, w, stack.extract(bestTheta, bnStats))
  }
}

object LogisticHazardMlp {

  /** Per-partition exact NLL accumulator: θ = [b (K), W (K×q),
    * stack]; per row, L = Σ_{j<=ti} BCE(sigmoid(z_j), y_j) with
    * y_j = 1{j = ti ∧ e = 1}; dz_j = h_j − y_j (0 beyond ti).
    */
  final case class PartitionAcc(k: Int, p: Int, theta: Array[Double],
                                hidden: Seq[Int] = Nil,
                                bn: Boolean = false,
                                dropout: Double = 0.0,
                                dropKey0: Long = 0L,
                                bnBatch: Boolean = false,
                                recordBn: Boolean = false)
      extends MlpTrainer.BatchAccumulator[(Long, Array[Double], Int, Int)] {
    var loss = 0.0
    var count = 0L
    def norm: Long = count
    val grad = Array.fill(theta.length)(0.0)
    private val stack = new MlpStack(p, hidden,
      k + k * (if (hidden.nonEmpty) hidden.last else p), bn = bn,
      dropout = dropout, bnBatch = bnBatch)
    if (recordBn) stack.enableBnRecording()
    override def bnRecorded: Array[Array[MlpStack.BnBatchStats]] =
      stack.takeRecorded()
    private val q = stack.outWidth
    private val nL = stack.nL

    def addBatch(batch: Array[(Long, Array[Double], Int, Int)]): Unit = {
      val b = batch.length
      if (b == 0) return
      // whole-batch stack forward (bnBatch couples rows through the
      // batch statistics); the per-row BCE head is row-local
      val st = stack.forwardBatch(theta,
        Array.tabulate(b)(i => batch(i)._2),
        Array.tabulate(b)(i => MlpStack.mixKey(dropKey0, batch(i)._1)))
      val dTops = if (nL > 0) new Array[Array[Double]](b) else null
      var i = 0
      while (i < b) {
        count += 1
        val ti = batch(i)._3
        val e = batch(i)._4
        val f = st.top(i)
        val dTop = if (nL > 0) new Array[Double](q) else null
        var j = 0
        while (j <= ti) {
          var z = theta(j)
          var m = 0
          while (m < q) { z += theta(k + j * q + m) * f(m); m += 1 }
          val h = 1.0 / (1.0 + math.exp(-z))
          val y = if (j == ti && e == 1) 1.0 else 0.0
          loss += -(y * math.log(math.max(h, 1e-12)) +
            (1.0 - y) * math.log(math.max(1.0 - h, 1e-12)))
          val d = h - y
          if (d != 0.0) {
            grad(j) += d
            var m2 = 0
            while (m2 < q) {
              grad(k + j * q + m2) += d * f(m2)
              if (nL > 0) dTop(m2) += d * theta(k + j * q + m2)
              m2 += 1
            }
          }
          j += 1
        }
        if (nL > 0) dTops(i) = dTop
        i += 1
      }
      if (nL > 0) stack.backwardBatch(theta, grad, st, dTops)
    }
  }
}

/** Shared discrete-hazard prediction path: hazards → running-product
  * survival fold → linear interpolation onto a grid. One
  * implementation for both the linear and MLP fitted flavors; only
  * `hazards` differs. The running product associates identically to
  * per-k slice products, so values are bit-equal to the unshared
  * form the oracles were pinned against.
  */
private[model] trait HazardCurvePredict extends FittedSurvModel {
  def cuts: DurationCuts
  def hazards(x: Column): Column

  protected def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** Survival S_k = Π_{j<=k}(1−h_j) over an already-computed hazards
    * array column, as ONE running fold (K elements, not K
    * aggregate(slice) passes).
    */
  def survFromHazards(h: Column): Column =
    aggregate(h,
      struct(lit(1.0).as("q"), array().cast("array<double>").as("out")),
      (acc, hj) => {
        val q = acc.getField("q") * (lit(1.0) - hj)
        struct(q.as("q"),
          concat(acc.getField("out"), array(q)).as("out"))
      },
      acc => acc.getField("out"))

  def discreteSurv(x: Column): Column = survFromHazards(hazards(x))

  def predictSurv(tensorized: DataFrame, grid: Array[Double]): DataFrame = {
    // driver-known grid → scan-fused posexplode of a literal array
    // (no join of any kind for the subject×grid expansion)
    val knots = 0.0 +: cuts.cuts.toSeq
    val xd = transform(col("x"), _.cast("double"))
    tensorized
      .select(col("id"),
        concat(array(lit(1.0)), discreteSurv(xd)).as("sv"))
      .select(col("id"), col("sv"),
        posexplode(lit(grid)).as(Seq("tau_idx", "tau")))
      .select(col("id"), col("tau_idx"), col("tau"),
        Interpolation.linearAt(col("tau"), knots.toArray, col("sv")).as("s"))
  }
}

/** Fitted neural logistic hazard: per-bin intercepts b, per-bin
  * output weights W over the ReLU stack, and the stack layers. Same
  * column-algebra prediction path as the linear flavor.
  */
final case class FittedLogisticHazardMlp(
    model: LogisticHazardMlp,
    cuts: DurationCuts,
    b: Array[Double],
    w: Array[Array[Double]],
    layers: Seq[(Array[Array[Double]], Array[Double])])
    extends HazardCurvePredict {

  /** f(x) through the let-bound ReLU stack, then per-bin hazards
    * h_k = sigmoid(b_k + W_k·f) with f evaluated once per row.
    */
  def hazards(x: Column): Column =
    graft.functions.Let.bind(MlpStack.stackCol(x, layers)) { ff =>
      array(b.indices.map(kk =>
        sigmoid(lit(b(kk)) + CoxPH.scoreCol(ff, w(kk)))): _*)
    }
}

/** Fitted discrete hazard: interval intercepts b (one per cut) and the
  * shared covariate slope β, both in original feature space (MLlib LR
  * de-standardizes its coefficients).
  */
final case class FittedLogisticHazard(
    model: LogisticHazard,
    cuts: DurationCuts,
    b: Array[Double],
    beta: Array[Double]) extends HazardCurvePredict {

  /** Per-row array of hazards h_k = sigmoid(b_k + βᵀx); βᵀx let-bound
    * so the dot product runs once per row, not once per interval.
    */
  def hazards(x: Column): Column =
    graft.functions.Let.bind(CoxPH.scoreCol(x, beta)) { bx =>
      transform(array(b.map(lit(_)): _*), bk => sigmoid(bk + bx))
    }
}
