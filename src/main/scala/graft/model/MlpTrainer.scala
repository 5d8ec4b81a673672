package graft.model

import org.apache.spark.sql.Dataset

/** The distributed training rhythm shared by the three MLP models
  * ([[CoxMlp]], [[LogisticHazardMlp]], [[DeepHit]]): deterministic
  * rn-contiguous batches inside each partition, an exact per-batch
  * loss+gradient in a plain-array accumulator, ONE (loss, grad, norm)
  * reduce per epoch (|θ|+2 doubles over the wire), [[AdamLoop]] on
  * the driver, then the eval-mode BN population-stats calibration
  * against the still-cached train rows. Extracted so the next
  * behavior-drift bug cannot land in one trainer's copy of the loop
  * and miss the other two.
  */
private[model] object MlpTrainer {

  /** Per-partition exact loss+gradient accumulator contract. `norm`
    * is the model's loss normalizer contribution — row count for the
    * per-row losses (DeepHit NLL, logistic-hazard BCE), EVENT count
    * for the Cox partial likelihood.
    */
  trait BatchAccumulator[R] {
    def addBatch(batch: Array[R]): Unit
    def loss: Double
    def grad: Array[Double]
    def norm: Long
    /** bnEma: this partition's per-batch BN statistics in batch order
      * (empty unless the accumulator enabled its stack's recorder).
      */
    def bnRecorded: Array[Array[MlpStack.BnBatchStats]] = Array.empty
  }

  /** θ init for the shared [zero head (zeroLen), W (wLen), stack]
    * layout: zero head (correct for intercept-like segments), the W
    * segment ~ U(±1/√outWidth) (torch Linear default), [[MlpStack
    * .init]] for the stack — all from one seeded RNG so fits
    * reproduce. A pure linear head (`stack.nL == 0`) inits W only
    * when `initLinearHead` (the neural-Cox output weights need
    * symmetry breaking even without hidden layers; the discrete
    * models' zero init is correct for a linear head).
    */
  def initTheta(zeroLen: Int, wLen: Int, stack: MlpStack, seed: Long,
                initLinearHead: Boolean): Array[Double] = {
    val t = Array.fill(zeroLen + wLen + stack.size)(0.0)
    if (initLinearHead || stack.nL > 0) {
      val rng = new scala.util.Random(seed)
      val limW = 1.0 / math.sqrt(stack.outWidth.toDouble)
      var i = zeroLen
      while (i < zeroLen + wLen) {
        t(i) = (2 * rng.nextDouble() - 1) * limW; i += 1
      }
      stack.init(t, rng)
    }
    t
  }

  /** Run the shared epoch loop; returns (bestTheta, eval-mode BN
    * population stats). `mkAcc(θ, dropKey0)` builds the model's
    * accumulator for one partition of one epoch — its captures must
    * be serializable primitives, never the model instance. Dropout
    * masks re-draw every evaluated iterate (dropKey0 mixes the seed
    * with the epoch counter), like torch's per-forward Bernoulli
    * draw. Callers release the cached train rows AFTER this returns —
    * the BN calibration scans them.
    */
  def fit[R](train: Dataset[R])
            (feat: R => Array[Double],
             stack: MlpStack, theta0: Array[Double],
             batchSize: Int, epochs: Int, patience: Int, lr: Double,
             seed: Long, batchNorm: Boolean, bnEma: Boolean = false)
            (mkAcc: (Array[Double], Long) => BatchAccumulator[R])
            (implicit ct: scala.reflect.ClassTag[R])
      : (Array[Double], Option[Array[(Array[Double], Array[Double])]]) = {
    val bs = batchSize
    // RDD of the persisted Dataset: the generic R has no Encoder for a
    // Dataset.mapPartitions round-trip; the scan still serves from the
    // caller's cache and the reduce ships |θ|+2 doubles per partition
    val rows = train.rdd
    val useEma = bnEma && batchNorm && stack.nL > 0
    // torch running-stats EMA state, initialized rm = 0 / rv = 1 and
    // folded once per training batch across ALL epochs in the global
    // deterministic (partition, batch) order; snapshotted whenever
    // AdamLoop records a new best iterate — the same contract as
    // torchtuples' EarlyStopping restoring the best state_dict
    // (weights AND BN buffers) at the end of training.
    var emaState: Array[(Array[Double], Array[Double])] =
      if (useEma) stack.widths.map(w =>
        (new Array[Double](w), Array.fill(w)(1.0))).toArray
      else null
    // seeded with the INIT buffers (rm=0/rv=1): if no epoch ever
    // becomes the best (e.g. the loss is NaN from epoch 1 under a
    // divergent lr), the fit returns torch's untouched init buffers —
    // the state_dict an early-stopper would restore — instead of a
    // Some(null) that NPEs downstream
    var bestEma: Array[(Array[Double], Array[Double])] =
      if (useEma) emaState.map { case (m, v) => (m.clone(), v.clone()) }
      else null
    var iterNo = 0L // driver-side: the closure sees a fresh key per epoch
    val bestTheta = AdamLoop.runFrom(None, theta0, epochs, patience, lr,
      onEpoch = cp => {
        // badEpochs == 0 ⟺ this evaluated iterate became the best
        if (useEma && cp.badEpochs == 0)
          bestEma = emaState.map { case (m, v) => (m.clone(), v.clone()) }
      }) { th =>
      iterNo += 1
      val dropKey0 = MlpStack.mixKey(seed, iterNo)
      val (lossSum, grad, cnt) =
        if (!useEma) {
          rows.mapPartitions { it =>
            val acc = mkAcc(th, dropKey0)
            it.grouped(bs).foreach(batch => acc.addBatch(batch.toArray))
            Iterator.single((acc.loss, acc.grad, acc.norm))
          }.reduce { (a, b) =>
            val g = a._2.clone()
            var i = 0; while (i < g.length) { g(i) += b._2(i); i += 1 }
            (a._1 + b._1, g, a._3 + b._3)
          }
        } else {
          // ordered collect, carry-sized: the per-batch EMA update
          // x′ = (1−m)·x + m·s is an affine recurrence, so each
          // partition composes its k batches into ONE affine map —
          // coefficient (1−m)^k plus an offset vector per BN unit
          // (the same recurrence folded from a zero state) — and the
          // driver applies ≤numPartitions maps in partition order.
          // Wire cost: layers × 2h + 1 doubles per PARTITION instead
          // of per batch (O(rows/batchSize) before). Algebraically
          // exact; in IEEE arithmetic the reassociation deviates from
          // the batch-sequential fold by a few ulps (bounded — the
          // recurrence is a 0.9-contraction), orders below BN-stat
          // significance; same-seed same-layout fits stay
          // bit-reproducible because the composed path IS the path.
          val widths = stack.widths
          val parts = rows.mapPartitions { it =>
            val acc = mkAcc(th, dropKey0)
            var any = false
            it.grouped(bs).foreach { batch =>
              any = true; acc.addBatch(batch.toArray)
            }
            if (any && acc.bnRecorded.isEmpty)
              throw new IllegalStateException(
                "bnEma requires an accumulator that records batch stats" +
                  " (enable its stack's BN recorder)")
            val (coeff, off) = composeAffine(acc.bnRecorded, widths)
            Iterator.single((acc.loss, acc.grad, acc.norm, coeff, off))
          }.collect()
          parts.foreach(p => applyAffine(emaState, p._4, p._5))
          val g = new Array[Double](th.length)
          var ls = 0.0; var n = 0L
          parts.foreach { p =>
            ls += p._1; n += p._3
            var i = 0; while (i < g.length) { g(i) += p._2(i); i += 1 }
          }
          (ls, g, n)
        }
      val d = math.max(cnt, 1L).toDouble
      (lossSum / d, grad.map(_ / d))
    }
    // eval-mode BN stats: the torch-formula EMA snapshot at the best
    // epoch when bnEma, else the deterministic population calibration
    val bnStats =
      if (useEma) Some(bestEma)
      else if (batchNorm && stack.nL > 0)
        Some(MlpStack.populationStats(train.rdd.map(feat), stack, bestTheta))
      else None
    (bestTheta, bnStats)
  }

  /** Compose a partition's k per-batch EMA updates into ONE affine
    * map `x ↦ coeff·x + off`: `coeff = (1−m)^k` (accumulated one
    * factor per batch, matching the sequential order) and `off` is
    * the batch recurrence folded from a ZERO state. Exact in algebra;
    * in IEEE arithmetic [[applyAffine]] reassociates the sequential
    * fold, deviating by a few ulps (the recurrence contracts by 0.9
    * per step, so the deviation stays bounded) — pinned in BnEmaSpec.
    */
  private[model] def composeAffine(rec: Seq[Array[MlpStack.BnBatchStats]],
                                   widths: Seq[Int])
      : (Double, Array[(Array[Double], Array[Double])]) = {
    val mom = MlpStack.BnMomentum
    var coeff = 1.0
    val off = widths.map(w =>
      (new Array[Double](w), new Array[Double](w))).toArray
    rec.foreach { b =>
      coeff *= (1.0 - mom)
      foldOne(off, b)
    }
    (coeff, off)
  }

  /** Apply one partition's composed affine map to the live EMA state
    * (mutates `st` in place).
    */
  private[model] def applyAffine(st: Array[(Array[Double], Array[Double])],
                                 coeff: Double,
                                 off: Array[(Array[Double], Array[Double])])
      : Unit = {
    var l = 0
    while (l < st.length) {
      val (rm, rv) = st(l)
      val (om, ov) = off(l)
      var j = 0
      while (j < rm.length) {
        rm(j) = coeff * rm(j) + om(j)
        rv(j) = coeff * rv(j) + ov(j)
        j += 1
      }
      l += 1
    }
  }

  /** One torch BN running-stats update per batch (see
    * [[MlpStack.emaFold]] for the formula; this is its single-step
    * form applied to live trainer state).
    */
  private[model] def foldOne(st: Array[(Array[Double], Array[Double])],
                             b: Array[MlpStack.BnBatchStats]
                            ): Array[(Array[Double], Array[Double])] = {
    val mom = MlpStack.BnMomentum
    var l = 0
    while (l < st.length) {
      val (rm, rv) = st(l)
      val s = b(l)
      var j = 0
      while (j < rm.length) {
        rm(j) = (1.0 - mom) * rm(j) + mom * s.mu(j)
        rv(j) = (1.0 - mom) * rv(j) + mom * s.varU(j)
        j += 1
      }
      l += 1
    }
    st
  }
}
