package graft.model

import graft.surv.{DurationCuts, SurvDataset}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DeepHit, single risk (reference: src/elastic_surv/models/
  * model_deephit.py). The reference trains a pycox DeepHitSingle net
  * producing a discrete PMF over `num_durations` bins with loss
  * NLL + alpha·ranking (kernel sigma, defaults 0.2/0.1 —
  * model_deephit.py:28-29); the ranking term needs the within-batch
  * pair-rank matrix (E6, dataset.py:218-221).
  *
  * Risk head: logits_k(x) = c_k + W_k·f(x), pmf = softmax,
  * F = cumsum(pmf), S = 1 − F, where f is identity (`hidden = Nil`,
  * the linear parity flavor, default) or a ReLU MLP stack
  * f(x) = relu(A_L·…relu(A_1·x + b_1)… + b_L) with `hidden` layer
  * widths — the `tt.practical.MLPVanilla` shape the reference wraps
  * (model_deephit.py:57-64; its default `hidden = Seq(32, 32)` is
  * exactly reproducible here, M9). `batchNorm` (the reference's
  * `batch_norm` hyper) trains true batch-statistics BatchNorm1d with
  * the exact batch-coupled gradient; `dropout` is the deterministic
  * inverted mask — both finite-diff-checkable (MlpStack scaladoc).
  *
  *   L = −mean_i [ e_i·ln pmf_{k_i} + (1−e_i)·ln S(k_i) ]
  *     + alpha · (Σ_{ij} r_ij · exp((F_j(k_i) − F_i(k_i)) / sigma)) / Σ_{ij} r_ij
  *   r_ij = 1 ⟺ e_i = 1 ∧ (k_i < k_j ∨ (k_i = k_j ∧ e_j = 0))
  *
  * Distributed training: batches are DETERMINISTIC rn-contiguous
  * chunks inside each partition (SURVEY §7.4 — makes the
  * batch-dependent ranking term reproducible); each partition computes
  * exact loss+gradient per batch with local dense algebra, results
  * reduce to the driver (p·K + K + 1 doubles), driver runs Adam.
  * Same job rhythm as MLlib GLMs: one pass per epoch.
  */
final case class DeepHit(
    numDurations: Int = 10,
    alpha: Double = 0.2, // model_deephit.py:28
    sigma: Double = 0.1, // model_deephit.py:29
    batchSize: Int = 128, // model_cox_ph.py:25 family default
    epochs: Int = 50,
    lr: Double = 0.05,
    patience: Int = 5,
    hidden: Seq[Int] = Nil, // Nil = linear head; e.g. Seq(32, 32) = MLPVanilla default (M9)
    batchNorm: Boolean = false, // batch-statistics BN, MlpStack bnBatch
    bnEma: Boolean = false, // torch momentum-EMA prediction stats (CoxMlp doc)
    dropout: Double = 0.0, // deterministic inverted dropout, MlpStack
    seed: Long = 7L) extends SurvModel {

  def name: String = "deephit"

  def hyperparameterSpace: Seq[Param] = Seq(
    FloatP("alpha", 0.0, 0.5),
    FloatP("sigma", 0.01, 1.0),
    IntegerP("batch_size", 64, 256, 64))

  def fit(ds: SurvDataset): FittedDeepHit = {
    val p = ds.numFeatures
    val spark = ds.df.sparkSession
    import spark.implicits._

    // Config-independent prefix (cuts + tensorize + persist) — shared
    // with LogisticHazardMlp too (identical plan given numDurations).
    val ((train, cuts, nRows), releasePrep) = TrainCache.acquire(
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
    val n = nRows.toDouble

    // θ layout: [c (K), W (K×q row-major), then per layer l (input
    // width in_l = p or h_{l-1}): A_l (h_l×in_l row-major), b_l
    // (h_l)], q = last hidden width (or p for the linear head, which
    // keeps the original [c, W] layout). Zero init is correct for the
    // linear head; the MLP needs the usual symmetry-breaking
    // U(±1/√fan_in) (torch Linear default), seeded for reproducible
    // fits.
    val q = if (hidden.nonEmpty) hidden.last else p
    val stack = new MlpStack(p, hidden, k + k * q, bn = batchNorm)
    // zero init is correct for the linear head (no symmetry to break)
    val theta = MlpTrainer.initTheta(k, k * q, stack, seed,
      initLinearHead = false)
    val (hid, bnFlag, dropQ, kk, pp) = (hidden, batchNorm, dropout, k, p)
    val (al, sg) = (alpha, sigma)
    val emaFlag = bnEma
    val (bestTheta, bnStats) = MlpTrainer.fit(train)(_._2, stack, theta,
      batchSize, epochs, patience, lr, seed, batchNorm,
      bnEma = bnEma) { (th, dropKey0) =>
      DeepHit.PartitionAcc(kk, pp, th, al, sg, hid, bnFlag,
        dropQ, dropKey0, bnBatch = bnFlag, recordBn = emaFlag && bnFlag)
    }
    releasePrep()

    val c = bestTheta.take(k)
    val w = Array.tabulate(k, q)((kk, j) => bestTheta(k + kk * q + j))
    FittedDeepHit(this, cuts, c, w, stack.extract(bestTheta, bnStats))
  }
}

object DeepHit {

  /** Per-partition exact loss+gradient accumulator (plain arrays, no
    * torch): (optional ReLU MLP stack +) softmax forward, NLL
    * backward, ranking term over the within-batch pair-rank matrix.
    * `hidden = Nil` is the linear head (θ = [c, W(K×p)]); a non-empty
    * `hidden` inserts f = relu(A_L·…relu(A_1·x + b_1)…) with layout
    * θ = [c, W(K×h_L), A_1(h_1×p), b_1, …, A_L(h_L×h_{L-1}), b_L].
    */
  final case class PartitionAcc(k: Int, p: Int, theta: Array[Double],
                                alpha: Double, sigma: Double,
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
    private val q = // logit input width
      if (hidden.nonEmpty) hidden.last else p
    private val stack = new MlpStack(p, hidden, k + k * q, bn = bn,
      dropout = dropout, bnBatch = bnBatch)
    if (recordBn) stack.enableBnRecording()
    override def bnRecorded: Array[Array[MlpStack.BnBatchStats]] =
      stack.takeRecorded()
    private val nL = stack.nL

    def addBatch(batch: Array[(Long, Array[Double], Int, Int)]): Unit = {
      val b = batch.length
      if (b == 0) return
      count += b
      // forward: (hidden stack — whole batch, bnBatch couples rows
      // through the batch statistics), logits, pmf, cumsum F.
      val st = stack.forwardBatch(theta,
        Array.tabulate(b)(i => batch(i)._2),
        Array.tabulate(b)(i => MlpStack.mixKey(dropKey0, batch(i)._1)))
      val pmf = Array.ofDim[Double](b, k)
      val cum = Array.ofDim[Double](b, k)
      val dz = Array.ofDim[Double](b, k) // dLoss/dlogits accumulated
      var i = 0
      while (i < b) {
        val f = st.top(i)
        var mx = Double.MinValue
        val z = new Array[Double](k)
        var kk = 0
        while (kk < k) {
          var s = theta(kk)
          var j = 0
          while (j < q) { s += theta(k + kk * q + j) * f(j); j += 1 }
          z(kk) = s; if (s > mx) mx = s; kk += 1
        }
        var tot = 0.0
        kk = 0
        while (kk < k) { pmf(i)(kk) = math.exp(z(kk) - mx); tot += pmf(i)(kk); kk += 1 }
        kk = 0
        var run = 0.0
        while (kk < k) {
          pmf(i)(kk) /= tot; run += pmf(i)(kk); cum(i)(kk) = run; kk += 1
        }
        i += 1
      }

      // NLL + dNLL/dz
      i = 0
      while (i < b) {
        val ti = batch(i)._3; val e = batch(i)._4
        if (e == 1) {
          val pk = math.max(pmf(i)(ti), 1e-12)
          loss += -math.log(pk)
          var kk = 0
          while (kk < k) {
            dz(i)(kk) += pmf(i)(kk) - (if (kk == ti) 1.0 else 0.0); kk += 1
          }
        } else {
          // censored likelihood P(T >= t_idx): tail INCLUDING the own
          // bin — the censoring happened during interval t_idx, so the
          // event is at or after it. (Strict-tail 1−F(t_idx) is
          // identically 0 for the last bin, which breaks the loss.)
          val s = math.max(
            (if (ti == 0) 1.0 else 1.0 - cum(i)(ti - 1)), 1e-12)
          loss += -math.log(s)
          var kk = 0
          while (kk < k) {
            val inTail = if (kk >= ti) 1.0 else 0.0
            dz(i)(kk) += pmf(i)(kk) - pmf(i)(kk) * inTail / s; kk += 1
          }
        }
        i += 1
      }

      // ranking term over within-batch pairs (E6 semantics)
      if (alpha > 0.0) {
        var rSum = 0.0
        val pairLoss = Array.ofDim[Double](b, b)
        i = 0
        while (i < b) {
          val (_, _, ki, ei) = batch(i)
          if (ei == 1) {
            var j = 0
            while (j < b) {
              val (_, _, kj, ej) = batch(j)
              val r = if (ki < kj || (ki == kj && ej == 0 && j != i)) 1.0 else 0.0
              if (r > 0) { rSum += 1.0; pairLoss(i)(j) = 1.0 }
              j += 1
            }
          }
          i += 1
        }
        if (rSum > 0) {
          val scale = alpha * count2Weight(b) / rSum
          i = 0
          while (i < b) {
            var j = 0
            while (j < b) {
              if (pairLoss(i)(j) > 0) {
                val ki = batch(i)._3
                val fi = cum(i)(ki); val fj = cum(j)(ki)
                val term = math.exp((fj - fi) / sigma)
                loss += scale * term
                // ∂F_r(ki)/∂z_m = pmf_m · (1{m<=ki} − F_r(ki))
                // (jacobian of cumsum∘softmax)
                val gscale = scale * term / sigma
                var mm = 0
                while (mm < k) {
                  val ind = if (mm <= ki) 1.0 else 0.0
                  dz(i)(mm) += -gscale * pmf(i)(mm) * (ind - cum(i)(ki))
                  dz(j)(mm) += gscale * pmf(j)(mm) * (ind - cum(j)(ki))
                  mm += 1
                }
              }
              j += 1
            }
            i += 1
          }
        }
      }

      // backprop dz → grad(c, W), then ONE whole-batch pass through
      // the relu stack
      val dTops = if (nL > 0) new Array[Array[Double]](b) else null
      i = 0
      while (i < b) {
        val f = st.top(i)
        val dh = if (nL > 0) new Array[Double](q) else null
        var kk = 0
        while (kk < k) {
          val d = dz(i)(kk)
          if (d != 0.0) {
            grad(kk) += d
            var j = 0
            while (j < q) {
              grad(k + kk * q + j) += d * f(j)
              if (nL > 0) dh(j) += d * theta(k + kk * q + j)
              j += 1
            }
          }
          kk += 1
        }
        if (nL > 0) dTops(i) = dh
        i += 1
      }
      if (nL > 0) stack.backwardBatch(theta, grad, st, dTops)
    }

    /** batch-mean weighting for the rank term: scale so the term is
      * per-batch mean-comparable with the per-row NLL sum.
      */
    private def count2Weight(b: Int): Double = b.toDouble
  }

  /** E6 pair-rank semantics as a DataFrame op (used by the oracle
    * query; the training loop computes the same thing locally):
    * r_ij = 1 ⟺ e_i = 1 ∧ (k_i < k_j ∨ (k_i = k_j ∧ e_j = 0 ∧ i≠j)).
    */
  def pairRankDF(batch: DataFrame, idCol: String, kCol: String,
                 eCol: String): DataFrame = {
    val a = batch.select(col(idCol).as("i"), col(kCol).as("ki"),
      col(eCol).as("ei"))
    val bb = batch.select(col(idCol).as("j"), col(kCol).as("kj"),
      col(eCol).as("ej"))
    a.crossJoin(bb).select(col("i"), col("j"),
      when(col("ei") === 1 &&
        (col("ki") < col("kj") ||
          (col("ki") === col("kj") && col("ej") === 0 && col("i") =!= col("j"))),
        1).otherwise(0).as("r"))
  }
}

/** Fitted DeepHit: per-bin intercepts c and weight matrix W over the
  * head input — the raw features (linear flavor) or the top of the
  * ReLU stack `relu(A_l·f_{l-1} + b_l)` when `layers` is non-empty
  * (M9). The forward pass stays pure codegen'd column algebra either
  * way (VecDot dot products + array exprs; no UDF).
  */
final case class FittedDeepHit(
    model: DeepHit,
    cuts: DurationCuts,
    c: Array[Double],
    w: Array[Array[Double]],
    layers: Seq[(Array[Array[Double]], Array[Double])] = Nil)
    extends FittedSurvModel {

  /** Head input f(x): identity or the folded ReLU layer stack
    * ([[MlpStack.stackCol]] — shared across the fitted models).
    */
  private def featCol(x: Column): Column = MlpStack.stackCol(x, layers)

  /** PMF array softmax(z) with z_k = c_k + W_k·f(x) (max-shifted).
    * Every stage is let-bound ([[graft.functions.Let.bind]]) so f, z,
    * the max shift, and the exp array are each evaluated ONCE per row
    * — composed naively the tree re-embeds each stage per element and
    * the (interpreted) higher-order functions pay it per row.
    */
  def pmf(x: Column): Column =
    graft.functions.Let.bind(featCol(x)) { f =>
      graft.functions.Let.bind(array((0 until cuts.k).map(kk =>
        lit(c(kk)) + CoxPH.scoreCol(f, w(kk))): _*)) { z =>
        graft.functions.Let.bind(array_max(z)) { mx =>
          graft.functions.Let.bind(transform(z, v => exp(v - mx))) { ex =>
            graft.functions.Let.bind(
              aggregate(ex, lit(0.0), (a, v) => a + v)) { tot =>
              transform(ex, v => v / tot)
            }
          }
        }
      }
    }

  /** Discrete survival array S_k = 1 − cumsum(pmf)_k as ONE running
    * fold (K elements, not K aggregate(slice) passes): the struct
    * accumulator carries (running sum, output array). The running sum
    * associates identically to the per-k slice sums, so values are
    * bit-equal to the old form. Callers that also need the pmf should
    * compute it into a column and pass it to [[survFromPmf]].
    */
  def discreteSurv(x: Column): Column = survFromPmf(pmf(x))

  /** [[discreteSurv]] over an already-computed pmf array column. */
  def survFromPmf(p: Column): Column =
    aggregate(p,
      struct(lit(0.0).as("s"), array().cast("array<double>").as("out")),
      (acc, v) => {
        val s = acc.getField("s") + v
        struct(s.as("s"),
          concat(acc.getField("out"), array(lit(1.0) - s)).as("out"))
      },
      acc => acc.getField("out"))

  def predictSurv(tensorized: DataFrame, grid: Array[Double]): DataFrame = {
    // driver-known grid → scan-fused posexplode of a literal array
    // (no join of any kind for the subject×grid expansion)
    val knots = 0.0 +: cuts.cuts.toSeq
    val xd = transform(col("x"), _.cast("double"))
    tensorized
      .select(col("id"), concat(array(lit(1.0)), discreteSurv(xd)).as("sv"))
      .select(col("id"), col("sv"),
        posexplode(lit(grid)).as(Seq("tau_idx", "tau")))
      .select(col("id"), col("tau_idx"), col("tau"),
        Interpolation.linearAt(col("tau"), knots.toArray, col("sv")).as("s"))
  }
}
