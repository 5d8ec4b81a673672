package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{array, greatest, lit}

/** Shared ReLU MLP stack algebra for the per-partition training
  * accumulators (DeepHit, CoxMlp, LogisticHazard's MLP flavor) — the
  * `tt.practical.MLPVanilla` hidden stack (reference:
  * model_cox_ph.py:50-57, model_deephit.py:57-64).
  *
  * `bn = true` makes each block Linear → BN → ReLU with learnable
  * (γ, β), in one of two flavors:
  *
  *   - `bnBatch = false` (affine frozen-stats): torch `BatchNorm1d`
  *     in eval mode with running stats absorbed into (γ, β) — rows
  *     stay independent, gradients are the plain chain rule.
  *   - `bnBatch = true` (BATCH statistics — the mode the reference's
  *     nets actually train with, model_cox_ph.py:50-57): each batch
  *     normalizes by its OWN biased mean/variance (ε = 1e-5, torch
  *     default) via [[forwardBatch]], and [[backwardBatch]] applies
  *     the exact batch-coupled gradient including the ∂μ/∂σ² terms.
  *     Batches are deterministic rn-contiguous chunks, so the loss
  *     stays a fixed deterministic function of θ —
  *     finite-diff-checkable like every other mode. For PREDICTION
  *     (torch eval mode) the engine replaces the momentum-EMA running
  *     stats with exact full-train population stats under the final θ
  *     ([[MlpStack.populationStats]], a documented deviation: the EMA
  *     is an order-dependent approximation of exactly this quantity),
  *     folded into the linear layers by [[extract]].
  *
  * `dropout > 0` adds DETERMINISTIC inverted dropout after each
  * block's ReLU (torch MLPVanilla order: Linear → BN → ReLU →
  * Dropout, the reference's `dropout` hyperparameter,
  * model_cox_ph.py:21,74). Each unit's keep/drop decision is a pure
  * hash of (dropKey, layer, unit) — the caller derives dropKey from
  * (model seed, iteration, row id) via [[MlpStack.mixKey]], so masks
  * are reproducible, partitioning-independent, and re-drawn every
  * iteration like torch's per-forward Bernoulli draw. Kept units
  * scale by 1/(1−q) (inverted dropout), so the inference path
  * ([[extract]]/[[MlpStack.stackCol]], which never masks) needs no
  * rescaling. Masks don't depend on θ, so gradients through the
  * masked net stay exact (finite-diff-checkable at fixed dropKey).
  *
  * θ slice layout from `off`: per layer l (input width in_l):
  * A_l (h_l×in_l row-major), b_l (h_l), then with bn: γ_l (h_l),
  * β_l (h_l).
  */
final class MlpStack(p: Int, hidden: Seq[Int], off: Int,
                     bn: Boolean = false, dropout: Double = 0.0,
                     bnBatch: Boolean = false) extends Serializable {
  require(dropout >= 0.0 && dropout < 1.0, s"dropout=$dropout not in [0,1)")
  require(!bnBatch || bn, "bnBatch requires bn (γ/β parameter slices)")
  /** Inverted-dropout keep scale; 1.0 when dropout is off, so the
    * backward pass can multiply unconditionally.
    */
  private val dropScale: Double = if (dropout > 0.0) 1.0 / (1.0 - dropout) else 1.0
  val widths: Array[Int] = hidden.toArray
  val nL: Int = widths.length
  val ins: Array[Int] =
    if (nL == 0) Array.empty else (p +: hidden.init).toArray
  /** Output width of the stack (p when there are no hidden layers). */
  val outWidth: Int = if (nL > 0) widths(nL - 1) else p
  /** Per-layer offsets of A_l, b_l (and γ_l, β_l with bn) inside θ. */
  val (offA, offB, offG, offBt) = {
    val oa = new Array[Int](nL); val ob = new Array[Int](nL)
    val og = new Array[Int](nL); val obt = new Array[Int](nL)
    var o = off
    var l = 0
    while (l < nL) {
      oa(l) = o; ob(l) = o + widths(l) * ins(l)
      o = ob(l) + widths(l)
      if (bn) { og(l) = o; obt(l) = o + widths(l); o = obt(l) + widths(l) }
      l += 1
    }
    (oa, ob, og, obt)
  }
  /** Total parameter count of the stack. */
  val size: Int = widths.indices.map(l =>
    widths(l) * ins(l) + widths(l) + (if (bn) 2 * widths(l) else 0)).sum

  /** Forward: acts(0) = x, acts(l+1) = drop(relu(bn_l(A_l·acts(l) +
    * b_l))). The returned activations array is what [[backward]]
    * consumes. With bn, acts(l+1) has length 2·h_l: [post-relu out |
    * pre-BN preactivation z] — consumers of the stack OUTPUT read only
    * the first [[outWidth]] entries, backward needs z for ∂γ.
    *
    * `dropKey` seeds the dropout masks (ignored when dropout == 0);
    * kept active units carry y/(1−q), dropped ones are exactly 0 — so
    * acts(l+1)(j) > 0 ⟺ "relu-active AND kept", the one predicate
    * [[backward]] gates on.
    */
  def forward(theta: Array[Double], x: Array[Double],
              dropKey: Long = 0L): Array[Array[Double]] = {
    val acts = new Array[Array[Double]](nL + 1)
    acts(0) = x
    var l = 0
    while (l < nL) {
      val in = acts(l)
      val w = widths(l)
      val out = new Array[Double](if (bn) 2 * w else w)
      var j = 0
      while (j < w) {
        var s = theta(offB(l) + j)
        var m = 0
        while (m < ins(l)) { s += theta(offA(l) + j * ins(l) + m) * in(m); m += 1 }
        var y = s
        if (bn) {
          out(w + j) = s
          y = theta(offG(l) + j) * s + theta(offBt(l) + j)
        }
        if (y > 0.0 &&
            (dropout == 0.0 || MlpStack.u01(dropKey, l, j) >= dropout))
          out(j) = y * dropScale // relu (+ inverted-dropout keep scale)
        j += 1
      }
      acts(l + 1) = out
      l += 1
    }
    acts
  }

  /** Backward from dTop = ∂L/∂acts(nL): accumulates grad(A_l, b_l, and
    * with bn γ_l, β_l) into `grad` layer by layer through the relu
    * stack. No-op when the stack is empty.
    */
  def backward(theta: Array[Double], grad: Array[Double],
               acts: Array[Array[Double]], dTop: Array[Double]): Unit = {
    var dh = dTop
    var l = nL - 1
    while (l >= 0) {
      val out = acts(l + 1)
      val in = acts(l)
      val w = widths(l)
      val dIn = if (l > 0) new Array[Double](ins(l)) else null
      var j = 0
      while (j < w) {
        // relu'(y) = 1{y > 0} ⟺ out(j) > 0 (exact zeros inactive;
        // dropped units are exactly 0, so the same gate skips them)
        if (out(j) > 0.0 && dh(j) != 0.0) {
          // o = y·scale for kept units ⇒ dL/dy = dh·scale (scale = 1
          // when dropout is off)
          var d = dh(j) * dropScale
          if (bn) {
            grad(offG(l) + j) += d * out(w + j) // ∂γ = d·z
            grad(offBt(l) + j) += d // ∂β = d
            d = d * theta(offG(l) + j) // ∂z = d·γ
          }
          grad(offB(l) + j) += d
          var m = 0
          while (m < ins(l)) {
            grad(offA(l) + j * ins(l) + m) += d * in(m)
            if (l > 0) dIn(m) += d * theta(offA(l) + j * ins(l) + m)
            m += 1
          }
        }
        j += 1
      }
      dh = dIn
      l -= 1
    }
  }

  /** Whole-batch forward — THE training entry point for the
    * accumulators. Without `bnBatch` it is exactly one [[forward]]
    * per row; with it, each layer normalizes by the batch's own
    * statistics (torch BatchNorm1d train mode). `dropKeys(i)` seeds
    * row i's dropout masks.
    */
  def forwardBatch(theta: Array[Double], xs: Array[Array[Double]],
                   dropKeys: Array[Long]): MlpStack.BatchState =
    if (!bnBatch || nL == 0) {
      val acts = Array.tabulate(xs.length)(i =>
        forward(theta, xs(i), dropKeys(i)))
      new MlpStack.RowState(acts, nL)
    } else {
      val m = xs.length
      val inRows = new Array[Array[Array[Double]]](nL + 1)
      inRows(0) = xs
      val zs = new Array[Array[Array[Double]]](nL)
      val mus = new Array[Array[Double]](nL)
      val istds = new Array[Array[Double]](nL)
      var l = 0
      while (l < nL) {
        val w = widths(l)
        val inW = ins(l)
        val z = Array.ofDim[Double](m, w)
        var i = 0
        while (i < m) {
          val xi = inRows(l)(i)
          var j = 0
          while (j < w) {
            var s = theta(offB(l) + j)
            var mm = 0
            while (mm < inW) { s += theta(offA(l) + j * inW + mm) * xi(mm); mm += 1 }
            z(i)(j) = s
            j += 1
          }
          i += 1
        }
        val mu = new Array[Double](w)
        val istd = new Array[Double](w)
        var j = 0
        while (j < w) {
          var s = 0.0
          var i2 = 0
          while (i2 < m) { s += z(i2)(j); i2 += 1 }
          val mj = s / m
          var v = 0.0
          i2 = 0
          while (i2 < m) { val d = z(i2)(j) - mj; v += d * d; i2 += 1 }
          mu(j) = mj
          istd(j) = 1.0 / math.sqrt(v / m + MlpStack.BnEps)
          j += 1
        }
        val out = Array.ofDim[Double](m, w)
        i = 0
        while (i < m) {
          var j2 = 0
          while (j2 < w) {
            val zh = (z(i)(j2) - mu(j2)) * istd(j2)
            val y = theta(offG(l) + j2) * zh + theta(offBt(l) + j2)
            if (y > 0.0 && (dropout == 0.0 ||
                MlpStack.u01(dropKeys(i), l, j2) >= dropout))
              out(i)(j2) = y * dropScale
            j2 += 1
          }
          i += 1
        }
        zs(l) = z; mus(l) = mu; istds(l) = istd
        inRows(l + 1) = out
        l += 1
      }
      if (bnRecorder != null) {
        // per-batch (μ, unbiased σ², m) per layer — the exact numbers
        // torch BatchNorm1d folds into its running stats each training
        // forward (running_var uses the UNBIASED batch variance even
        // though normalization uses the biased one)
        bnRecorder += Array.tabulate(nL) { l =>
          val w = widths(l)
          val unb = if (m > 1) m.toDouble / (m - 1).toDouble else 1.0
          MlpStack.BnBatchStats(mus(l),
            Array.tabulate(w) { j =>
              val istd = istds(l)(j)
              math.max(1.0 / (istd * istd) - MlpStack.BnEps, 0.0) * unb
            }, m)
        }
      }
      new MlpStack.BnState(inRows, zs, mus, istds, nL)
    }

  /** bnEma support: when enabled, every [[forwardBatch]] in bnBatch
    * mode appends its per-layer batch statistics here (one entry per
    * batch, in call order). Task-local state — enable on the
    * task-side stack instance, drain with [[takeRecorded]].
    */
  @transient private var bnRecorder:
      scala.collection.mutable.ArrayBuffer[Array[MlpStack.BnBatchStats]] = null
  def enableBnRecording(): Unit =
    bnRecorder = scala.collection.mutable.ArrayBuffer.empty
  def takeRecorded(): Array[Array[MlpStack.BnBatchStats]] = {
    val r = if (bnRecorder == null) Array.empty[Array[MlpStack.BnBatchStats]]
            else bnRecorder.toArray
    if (bnRecorder != null) bnRecorder.clear()
    r
  }

  /** Whole-batch backward from per-row dTops = ∂L/∂acts(nL) (null ⇒
    * zero vector). Row-mode delegates to [[backward]] per non-null
    * row. In bnBatch mode EVERY row participates regardless of its
    * own dTop: a row with zero head-gradient still receives gradient
    * through the batch statistics (∂μ_j/∂z_ij = 1/m couples all
    * rows), so none can be skipped. The exact per-unit form, with
    * d = relu/dropout-gated ∂L/∂y and ẑ the normalized preactivation:
    *
    *   ∂γ_j = Σ_i d_ij·ẑ_ij      ∂β_j = Σ_i d_ij
    *   ∂z_ij = istd_j·(γ_j·d_ij − Σd·γ/m − ẑ_ij·Σ(d·γ·ẑ)/m)
    */
  def backwardBatch(theta: Array[Double], grad: Array[Double],
                    st: MlpStack.BatchState,
                    dTops: Array[Array[Double]]): Unit = st match {
    case rs: MlpStack.RowState =>
      var i = 0
      while (i < dTops.length) {
        if (dTops(i) != null) backward(theta, grad, rs.acts(i), dTops(i))
        i += 1
      }
    case bs: MlpStack.BnState =>
      val m = dTops.length
      var dh: Array[Array[Double]] = dTops
      var l = nL - 1
      while (l >= 0) {
        val w = widths(l)
        val inW = ins(l)
        val z = bs.z(l); val mu = bs.mu(l); val istd = bs.istd(l)
        val outRows = bs.inRows(l + 1)
        val inR = bs.inRows(l)
        // relu/dropout gate: out > 0 ⟺ active AND kept (forward
        // stores exact zeros otherwise); o = y·scale ⇒ dL/dy = dh·scale
        val d = Array.ofDim[Double](m, w)
        var i = 0
        while (i < m) {
          val dhi = dh(i)
          if (dhi != null) {
            var j = 0
            while (j < w) {
              if (outRows(i)(j) > 0.0 && dhi(j) != 0.0)
                d(i)(j) = dhi(j) * dropScale
              j += 1
            }
          }
          i += 1
        }
        val dIn = if (l > 0) Array.ofDim[Double](m, inW) else null
        var j = 0
        while (j < w) {
          val g = theta(offG(l) + j)
          var sG = 0.0 // Σ d·ẑ  (∂γ)
          var sB = 0.0 // Σ d    (∂β)
          var i2 = 0
          while (i2 < m) {
            val zh = (z(i2)(j) - mu(j)) * istd(j)
            sG += d(i2)(j) * zh
            sB += d(i2)(j)
            i2 += 1
          }
          grad(offG(l) + j) += sG
          grad(offBt(l) + j) += sB
          val sD = sB * g // Σ dẑ over the batch
          val sDz = sG * g // Σ dẑ·ẑ over the batch
          var sumDz = 0.0 // Σ_i ∂z_ij (∂b)
          i2 = 0
          while (i2 < m) {
            val zh = (z(i2)(j) - mu(j)) * istd(j)
            val dzij = istd(j) * (d(i2)(j) * g - sD / m - zh * sDz / m)
            sumDz += dzij
            val xi = inR(i2)
            var mm = 0
            while (mm < inW) {
              grad(offA(l) + j * inW + mm) += dzij * xi(mm)
              if (l > 0) dIn(i2)(mm) += dzij * theta(offA(l) + j * inW + mm)
              mm += 1
            }
            i2 += 1
          }
          grad(offB(l) + j) += sumDz
          j += 1
        }
        dh = dIn
        l -= 1
      }
  }

  /** Eval-mode output of block l: BN with the supplied population
    * stats, ReLU, no dropout — the exact function [[extract]] folds.
    */
  private def evalLayer(theta: Array[Double], in: Array[Double], l: Int,
                        mu: Array[Double], va: Array[Double]): Array[Double] = {
    val w = widths(l)
    val inW = ins(l)
    val out = new Array[Double](w)
    var j = 0
    while (j < w) {
      var s = theta(offB(l) + j)
      var mm = 0
      while (mm < inW) { s += theta(offA(l) + j * inW + mm) * in(mm); mm += 1 }
      val zh = (s - mu(j)) / math.sqrt(va(j) + MlpStack.BnEps)
      val y = theta(offG(l) + j) * zh + theta(offBt(l) + j)
      out(j) = if (y > 0.0) y else 0.0
      j += 1
    }
    out
  }

  /** Preactivation z_l of layer `l` for `x` through the EVAL chain:
    * layers < l normalized with `stats`, dropout off. The kernel of
    * [[MlpStack.populationStats]]'s layer-by-layer calibration pass.
    */
  def preactEval(theta: Array[Double], x: Array[Double],
                 stats: Array[(Array[Double], Array[Double])],
                 l: Int): Array[Double] = {
    var in = x
    var li = 0
    while (li < l) {
      in = evalLayer(theta, in, li, stats(li)._1, stats(li)._2)
      li += 1
    }
    val w = widths(l)
    val inW = ins(l)
    val z = new Array[Double](w)
    var j = 0
    while (j < w) {
      var s = theta(offB(l) + j)
      var mm = 0
      while (mm < inW) { s += theta(offA(l) + j * inW + mm) * in(mm); mm += 1 }
      z(j) = s
      j += 1
    }
    z
  }

  /** [[extract]] with population stats: folds the full eval-mode BN
    * — y = γ·(z−μ)/√(σ²+ε) + β — into the linear layer
    * (A' = (γ/√(σ²+ε))⊙A, b' = (γ/√(σ²+ε))⊙(b−μ) + β).
    */
  def extract(theta: Array[Double],
              stats: Option[Array[(Array[Double], Array[Double])]]
             ): Seq[(Array[Array[Double]], Array[Double])] = stats match {
    case None => extract(theta)
    case Some(st) =>
      widths.indices.map { l =>
        val (mu, va) = st(l)
        def gs(j: Int): Double =
          theta(offG(l) + j) / math.sqrt(va(j) + MlpStack.BnEps)
        (Array.tabulate(widths(l), ins(l))((j, m) =>
          gs(j) * theta(offA(l) + j * ins(l) + m)),
          Array.tabulate(widths(l))(j =>
            gs(j) * (theta(offB(l) + j) - mu(j)) + theta(offBt(l) + j)))
      }
  }

  /** Extract the (A_l, b_l) layer weights from a trained θ — the shape
    * the fitted models' column-algebra forward passes consume. The bn
    * affine folds in as (A' = γ⊙A rows, b' = γ⊙b + β): the prediction
    * path ([[MlpStack.stackCol]]) stays bn-agnostic and numerically
    * equivalent to the training forward — same function, different
    * rounding order (Σ(γa)x vs γΣax), agreement spec-checked to 1e-12.
    */
  def extract(theta: Array[Double]): Seq[(Array[Array[Double]], Array[Double])] =
    widths.indices.map { l =>
      def g(j: Int): Double = if (bn) theta(offG(l) + j) else 1.0
      def bt(j: Int): Double = if (bn) theta(offBt(l) + j) else 0.0
      (Array.tabulate(widths(l), ins(l))((j, m) =>
        g(j) * theta(offA(l) + j * ins(l) + m)),
        Array.tabulate(widths(l))(j => g(j) * theta(offB(l) + j) + bt(j)))
    }

  /** Seeded U(±1/√fan_in) init of the stack's θ slice (torch Linear
    * default; BN affine starts at identity γ=1, β=0 like torch), using
    * the supplied rng so the caller controls the draw order of the
    * full parameter vector.
    */
  def init(theta: Array[Double], rng: scala.util.Random): Unit = {
    var l = 0
    while (l < nL) {
      val lim = 1.0 / math.sqrt(ins(l).toDouble)
      var i = offA(l)
      val end = offB(l) + widths(l)
      while (i < end) { theta(i) = (2 * rng.nextDouble() - 1) * lim; i += 1 }
      if (bn) {
        var j = 0
        while (j < widths(l)) {
          theta(offG(l) + j) = 1.0
          theta(offBt(l) + j) = 0.0
          j += 1
        }
      }
      l += 1
    }
  }
}

object MlpStack {

  /** torch BatchNorm1d default ε. */
  val BnEps: Double = 1e-5

  /** torch BatchNorm1d default momentum for running-stats EMA. */
  val BnMomentum: Double = 0.1

  /** One training batch's per-layer BN statistics: biased mean μ,
    * UNBIASED variance σ² (torch's running_var convention; a 1-row
    * batch records its biased 0 — torch refuses such batches outright,
    * this engine tolerates them), and the batch size m.
    */
  final case class BnBatchStats(mu: Array[Double], varU: Array[Double],
                                m: Int) extends Serializable

  /** torch BatchNorm1d running-stats fold, exactly:
    * rm ← (1−momentum)·rm + momentum·μ_b and
    * rv ← (1−momentum)·rv + momentum·σ²_b(unbiased), initialized
    * rm = 0, rv = 1, applied once per training batch in batch order.
    * `batches(k)(l)` is batch k's stats for layer l. Pure driver-side
    * arithmetic — the spec checks it against a hand-computed torch
    * sequence.
    */
  def emaFold(batches: Seq[Array[BnBatchStats]], widths: Seq[Int],
              momentum: Double = BnMomentum
             ): Array[(Array[Double], Array[Double])] = {
    val rm = widths.map(w => new Array[Double](w)).toArray
    val rv = widths.map(w => Array.fill(w)(1.0)).toArray
    batches.foreach { b =>
      var l = 0
      while (l < widths.length) {
        val s = b(l)
        var j = 0
        while (j < widths(l)) {
          rm(l)(j) = (1.0 - momentum) * rm(l)(j) + momentum * s.mu(j)
          rv(l)(j) = (1.0 - momentum) * rv(l)(j) + momentum * s.varU(j)
          j += 1
        }
        l += 1
      }
    }
    widths.indices.map(l => (rm(l), rv(l))).toArray
  }

  /** Opaque batch forward state: [[MlpStack.RowState]] for the
    * row-independent modes, [[MlpStack.BnState]] for batch-stats BN.
    * `top(i)` is row i's stack output (first outWidth entries).
    */
  sealed trait BatchState { def top(i: Int): Array[Double] }

  private[model] final class RowState(
      val acts: Array[Array[Array[Double]]], nL: Int) extends BatchState {
    def top(i: Int): Array[Double] = acts(i)(nL)
  }

  private[model] final class BnState(
      val inRows: Array[Array[Array[Double]]], // inRows(l)(i): layer-l input
      val z: Array[Array[Array[Double]]], // preactivations per layer
      val mu: Array[Array[Double]],
      val istd: Array[Array[Double]],
      nL: Int) extends BatchState {
    def top(i: Int): Array[Double] = inRows(nL)(i)
  }

  /** Population (biased, full-train) per-unit statistics of every
    * layer's preactivation under θ through the EVAL chain — the
    * engine's deterministic replacement for torch's momentum-EMA
    * running stats (see the class scaladoc): layer l's stats are
    * computed with layers < l already normalized by their own
    * population stats, i.e. by exactly the function prediction will
    * apply. nL sequential bounded jobs over the (cached) train rows;
    * per-partition partials (2·h_l + 1 doubles) combine in partition
    * order on the driver, so the result is independent of scheduling.
    */
  def populationStats(xs: org.apache.spark.rdd.RDD[Array[Double]],
                      stack: MlpStack, theta: Array[Double]
                     ): Array[(Array[Double], Array[Double])] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Array[Double], Array[Double])]
    var l = 0
    while (l < stack.nL) {
      val sofar = out.toArray
      val ll = l
      val w = stack.widths(l)
      val partials = xs.mapPartitions { it =>
        val s = new Array[Double](w)
        val s2 = new Array[Double](w)
        var n = 0L
        it.foreach { x =>
          val z = stack.preactEval(theta, x, sofar, ll)
          var j = 0
          while (j < w) { s(j) += z(j); s2(j) += z(j) * z(j); j += 1 }
          n += 1
        }
        Iterator.single((s, s2, n))
      }.collect()
      val s = new Array[Double](w)
      val s2 = new Array[Double](w)
      var n = 0L
      partials.foreach { case (ps, ps2, pn) =>
        var j = 0
        while (j < w) { s(j) += ps(j); s2(j) += ps2(j); j += 1 }
        n += pn
      }
      val nd = math.max(n, 1L).toDouble
      val mu = Array.tabulate(w)(j => s(j) / nd)
      val va = Array.tabulate(w)(j => math.max(s2(j) / nd - mu(j) * mu(j), 0.0))
      out += ((mu, va))
      l += 1
    }
    out.toArray
  }

  /** splitmix64 finalizer — the mask/key hash core. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Derive a dropout key from two components (chain for more:
    * mixKey(mixKey(seed, iter), rowId)). Order-sensitive, so
    * (iter, row) and (row, iter) draw independent masks.
    */
  def mixKey(a: Long, b: Long): Long = mix64(a ^ (b * 0xC2B2AE3D27D4EB4FL))

  /** U[0,1) keep-draw for (dropKey, layer, unit) — pure, θ-free. */
  private[model] def u01(dropKey: Long, l: Int, j: Int): Double =
    (mix64(dropKey ^ (l.toLong << 32) ^ j.toLong) >>> 11) * 1.1102230246251565e-16

  /** f(x) through the ReLU stack as pure let-bound column algebra —
    * the ONE shared prediction-path forward for every fitted model
    * (FittedDeepHit / FittedCoxMlp / FittedLogisticHazardMlp). Each
    * layer's input is bound once per row; naively folded, every
    * element of layer l+1 would re-embed (and re-evaluate) the whole
    * layer-l expression.
    */
  def stackCol(x: Column,
               layers: Seq[(Array[Array[Double]], Array[Double])]): Column =
    layers.foldLeft(x) { case (acc, (a, b)) =>
      graft.functions.Let.bind(acc) { f =>
        array(a.indices.map(j =>
          greatest(lit(0.0), lit(b(j)) + CoxPH.scoreCol(f, a(j)))): _*)
      }
    }
}
