package graft.model

import graft.core.Attach.AttachOps
import breeze.linalg.{norm, DenseVector}
import breeze.optimize.{DiffFunction, LBFGS}
import graft.surv.SurvDataset
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Linear Cox proportional hazards — the engine's re-expression of
  * the reference's CoxPH adaptor (reference: src/elastic_surv/models/
  * model_cox_ph.py:86-110). The reference wraps a pycox neural risk
  * net; the parity target here is the linear risk score g(x) = βᵀx
  * (SURVEY §2.6 M1, §7.4 non-goals) with the same training objective
  * (Cox partial likelihood, Breslow ties), Breslow baseline hazards,
  * and survival prediction S(t|x) = exp(−H₀(t)·e^{g(x)}).
  *
  * Distributed training design (the MLlib-GLM rhythm, SURVEY §3.2):
  * driver-side Breeze L-BFGS over a train split that is range-sorted
  * by t DESC **once** (one shuffle for the whole optimization, pinned
  * at the RDD level; equal times co-partitioned). Each iteration is
  * two passes over that cache:
  *
  *   A. per-partition Σw, Σw·x with the broadcast β → driver prefix
  *      carries = the suffix risk-set sums S0/S1 at each partition
  *      boundary (np·(p+1) doubles);
  *   B. a single in-order walk per partition folds tie groups into the
  *      running S0/S1 and scores that time's events:
  *      loglik += Σscore_ev − d_t·ln S0(t),
  *      grad   += Σx_ev − d_t·S1/S0        (one (ll, grad) per partition)
  *
  * No per-iteration shuffle/window/join, no quadratic pair work, no
  * driver-side data beyond the carries. Survives continuous-time data
  * (|distinct t| ≈ n) — risk sets never materialize as a
  * single-partition window. Features are internally standardized (fit
  * on train) for L-BFGS conditioning; β is kept in standardized space
  * with the scaler stored in the fitted model.
  */
final case class CoxPH(
    maxIter: Int = 100,
    tol: Double = 1e-7,
    l2: Double = 1e-4) extends SurvModel {

  def name: String = "cox_ph"

  // Mirrors the spirit of model_cox_ph.py:67-84 (lr, batch_norm, ...)
  // restricted to what a linear model has.
  // no max_iter knob: Hyperband's rung budget IS the iteration count
  // (build() maps epochs -> maxIter), so sampling one would create
  // distinct-keyed configs training identical models — a full wasted
  // train+score per duplicate. (The reference's cox_ph space has no
  // iteration knob either, model_cox_ph.py:68-77.)
  def hyperparameterSpace: Seq[Param] = Seq(
    FloatP("l2", 1e-6, 1e-1))

  def fit(ds: SurvDataset): FittedCoxPH = {
    val p = ds.numFeatures

    // Config-independent prefix (scaler + standardized train + the
    // range-partitioned training rows) — shared across a search's
    // configs via TrainCache (l2/maxIter touch none of it).
    val ((train, sortedRows, mu, sd), releasePrep) = TrainCache.acquire(
      TrainCache.key("cox_ph_std", ds)) {
      val raw = ds.tensorized(ds.train)
        .select(col("t").cast("double").as("t"), col("e").cast("int").as("e"),
          transform(col("x"), _.cast("double")).as("x"))

      // ---- scaler (one job): per-feature mean / population std ----
      val stats = raw.select(posexplode(col("x")).as(Seq("idx", "xv")))
        .groupBy("idx")
        .agg(avg(col("xv")).as("mu"), stddev_pop(col("xv")).as("sd"))
        .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1)
      val mu0 = stats.map(_._2)
      val sd0 = stats.map(s => if (s._3 == 0.0 || s._3.isNaN) 1.0 else s._3)

      val xstd = zip_with(
        zip_with(col("x"), array(mu0.map(lit(_)): _*), (v, m) => v - m),
        array(sd0.map(lit(_)): _*), (v, s) => v / s)
      val tr = graft.core.Pins.pin(raw.select(col("t"), col("e"), xstd.as("x")))
      tr.count() // materialize once

      // ONE shuffle for the whole optimization: rows range-partitioned
      // + sorted by t DESC (equal times co-partitioned by
      // RangePartitioner semantics), pinned at the RDD level. Every
      // L-BFGS iteration is then two passes over this cache with p+1
      // doubles of driver carries per partition — no per-iteration
      // shuffle, no single-partition window, no (t,idx) explode+join
      // (those were the last unpartitioned-window users in the
      // training hot path; the evaluators moved to the same range-scan
      // scheme in an earlier round). Suffix sums in t (the risk sets)
      // become prefix carries in partition order, exactly like
      // [[CoxPH.breslow]].
      // width: session-default map side, AQE advisory-size coalescing
      val sorted = new graft.core.CarryScan(tr
        .repartitionByRange(col("t").desc)
        .sortWithinPartitions(col("t").desc)
        .rdd)
      sorted.partials(_.size) // materialize the pin once
      (tr, sorted, mu0, sd0)
    }
    val session = train.sparkSession

    val objective = new DiffFunction[DenseVector[Double]] {
      def calculate(beta: DenseVector[Double]): (Double, DenseVector[Double]) = {
        val (ll, grad) = logLikAndGrad(session, sortedRows, beta)
        // negated + ridge
        val reg = 0.5 * l2 * (beta dot beta)
        (-ll + reg, -grad + beta * l2)
      }
    }
    val lbfgs = new LBFGS[DenseVector[Double]](maxIter, 7, tol)
    val beta = lbfgs.minimize(objective, DenseVector.zeros[Double](p))
    // sortedRows rides releasePrep below (the staged early release
    // conflicted with shared ownership)

    // ---- Breslow baseline on the FULL train split at final β ----
    // (deviation from the reference's last-batch artifact, SURVEY §4.2.1)
    // Kept DISTRIBUTED (one row per distinct event time): materialized
    // via a pin so the train cache can be released, never collected.
    // The fitted model holds the pin until its release().
    val (baseline, releaseBaseline) = graft.core.Pins.held {
      val b = graft.core.Pins.pin(
        CoxPH.breslow(train, CoxPH.scoreCol(col("x"), beta.toArray)))
      b.count()
      b
    }

    releasePrep()
    FittedCoxPH(this, beta.toArray, mu, sd, baseline, releaseBaseline)
  }

  /** Exact partial log-likelihood + gradient over the pinned
    * t-desc-sorted rows (t: double, e: int, x: array<double>): pass A
    * computes per-partition Σw and Σw·x (→ prefix carries = the suffix
    * risk-set sums S0, S1 at each partition's start), pass B walks each
    * partition once, folding tie groups (all rows at a time t enter the
    * risk set BEFORE that t's events are scored) and emitting one
    * (ll, grad) partial per partition. Driver traffic per iteration:
    * 2·np·(p+1) doubles. The linear predictor is recomputed per pass —
    * a dot product per row against the broadcast β is cheaper at any
    * scale than materializing per-iteration score columns.
    */
  private def logLikAndGrad(spark: org.apache.spark.sql.SparkSession,
                            sortedRows: graft.core.CarryScan[org.apache.spark.sql.Row],
                            beta: DenseVector[Double])
      : (Double, DenseVector[Double]) = {
    val p = beta.length
    val bc = spark.sparkContext.broadcast(beta.toArray)

    def dot(x: Seq[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < p) { s += x(j) * b(j); j += 1 }
      s
    }

    // pass A: per-partition Σw, Σw·x
    val partials = sortedRows.partials { it =>
      val b = bc.value
      var sw = 0.0
      val swx = new Array[Double](p)
      it.foreach { r =>
        val x = r.getSeq[Double](2)
        // clamp before exp: a divergent iterate past ~709 would make
        // w = Inf -> S0 = Inf -> NaN gradients corrupting the line
        // search; at ±500 results are bit-identical in the sane regime
        // and saturate gracefully outside it. NOTE the asymmetry with
        // breslow(), which clamps at ±50 for its DECIMAL(38,15) exact
        // risk-mass sum: a model whose final linear predictors land in
        // (50, 500] fits un-saturated here but saturates in the
        // baseline pass — breslow() counts and warns when that happens.
        val w = math.exp(math.min(500.0, math.max(-500.0, dot(x, b))))
        sw += w
        var j = 0; while (j < p) { swx(j) += x(j) * w; j += 1 }
      }
      (sw, swx)
    }

    // carries: partition 0 holds the LARGEST t, so the suffix sums over
    // T >= t seed each partition with the sum of all PRECEDING
    // partitions.
    val carries = partials.scanLeft((0.0, new Array[Double](p))) {
      case ((accW, accWX), (sw, swx)) =>
        (accW + sw, Array.tabulate(p)(j => accWX(j) + swx(j)))
    }.init

    // pass B: fold tie groups in t-desc order, score events
    val contribs = sortedRows.seeded(carries) { case ((c0, c1), it) =>
      val b = bc.value
      var s0 = c0
      val s1 = c1.clone()
      var ll = 0.0
      val g = new Array[Double](p)
      val buf = it.buffered
      while (buf.hasNext) {
        val t0 = buf.head.getDouble(0)
        var d = 0L
        var esc = 0.0
        val ex = new Array[Double](p)
        // whole tie group enters the risk set before its events score
        while (buf.hasNext && buf.head.getDouble(0) == t0) {
          val r = buf.next()
          val x = r.getSeq[Double](2)
          val sc = dot(x, b)
          val w = math.exp(math.min(500.0, math.max(-500.0, sc)))
          s0 += w
          var j = 0; while (j < p) { s1(j) += x(j) * w; j += 1 }
          if (r.getInt(1) == 1) {
            d += 1; esc += sc
            j = 0; while (j < p) { ex(j) += x(j); j += 1 }
          }
        }
        if (d > 0) {
          ll += esc - d * math.log(s0)
          var j = 0; while (j < p) { g(j) += ex(j) - d * s1(j) / s0; j += 1 }
        }
      }
      Iterator.single((ll, g))
    }.collect()

    bc.destroy()
    var ll = 0.0
    val grad = DenseVector.zeros[Double](p)
    contribs.foreach { case (l, g) =>
      ll += l
      var j = 0; while (j < p) { grad(j) += g(j); j += 1 }
    }
    (ll, grad)
  }
}

object CoxPH {

  /** βᵀx through the codegen'd VecDot kernel (sequential double
    * accumulation — same value as the aggregate/zip_with form).
    */
  def scoreCol(x: Column, beta: Array[Double]): Column =
    graft.functions.VecDot.vec_dot(x, array(beta.map(lit(_)): _*))

  /** Breslow cumulative baseline hazard from rows with a linear score
    * column: per distinct event time, h0 = d / S0 (S0 = Σ_{T>=t} e^sc)
    * and H0 = running Σ h0.
    *
    * Distributed like [[graft.eval.KaplanMeier.curveExpr]]: ONE shuffle
    * groups to the distinct-time table, range-partitioned descending,
    * then three cheap [[graft.core.CarryScan]] passes (per-partition
    * partials → driver carries → seeded per-partition scans, the S0
    * carry seeding the H0 partials) replace the two single-partition
    * ordered windows, so the baseline survives continuous-time data
    * where |distinct t| ≈ n. S0 is scanned in descending-t order,
    * H0 ascending (reverse of the stored order) with its own carries.
    * Double-sum carries combine per-partition partials, so the final
    * ulps can differ from the single-sequence windowed form — absorbed
    * by the round(…, 6) every consumer applies (exp() already makes
    * ulp-exactness impossible across engines).
    */
  def breslow(df: DataFrame, sc: Column): DataFrame = {
    val spark = df.sparkSession
    // width: session-default map side, AQE advisory-size coalescing
    // clamp ±50 (the likelihood passes use ±500 against Inf poison;
    // here the bound is the DECIMAL range): the per-time risk mass
    // w_t sums in DECIMAL(38,15) so it is summation-ORDER-independent
    // — a plain double sum could round differently under Spark's
    // partial-agg order vs the oracle's scan order and flip a 6dp
    // boundary. exp(50) ≈ 5e21 is the largest weight DECIMAL(38,15)
    // holds; weights under the 1e-15 scale round to 0, invisible next
    // to any O(1) weight exactly as they were at double precision.
    val g = df.select(col("t").cast("double").as("t"), col("e"),
      exp(least(lit(50.0), greatest(lit(-50.0), sc)))
        .cast(org.apache.spark.sql.types.DecimalType(38, 15)).as("w"),
      when(abs(sc) > lit(50.0), 1L).otherwise(0L).as("sat"))
      .groupBy(col("t"))
      .agg(sum(col("w")).cast("double").as("w_t"),
        sum(col("e").cast("long")).as("d"),
        sum(col("sat")).as("nsat"))
      .repartitionByRange(col("t").desc)
      .sortWithinPartitions(col("t").desc)
      .select(col("t"), col("w_t"), col("d"), col("nsat"))
    val scan = new graft.core.CarryScan(g.rdd)

    // Pass 1: per-partition Σ w_t → descending-order S0 carries.
    // Piggybacks the ±50 saturation count so fit-vs-baseline clamp
    // divergence (likelihood clamps at ±500) is observable, not silent.
    val p1 = scan.partials { it =>
      var s = 0.0
      var sat = 0L
      it.foreach { r => s += r.getDouble(1); sat += r.getLong(3) }
      (s, sat)
    }
    val satTotal = p1.map(_._2).sum
    if (satTotal > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"breslow(): $satTotal linear predictor(s) exceeded the ±50 " +
          "baseline clamp (likelihood passes clamp at ±500) — baseline " +
          "hazard weights for those rows are saturated")
    val s0Carry = p1.map(_._1).scanLeft(0.0)(_ + _).init // Σ over partitions < p (larger t)

    // Pass 2: per-partition Σ h0 over event rows (ascending order) →
    // ascending-t H0 carries (partition np-1 holds the smallest t, so
    // partition p's carry sums the partitions after it).
    val hCarry = scan.seeded(s0Carry) { (s0, it) =>
      var hsum = 0.0
      eventHazards(s0, it).reverseIterator.foreach(h => hsum += h._2) // ascending-t order
      Iterator.single(hsum)
    }.collect().scanRight(0.0)(_ + _).tail

    // Pass 3: emit (t, H0) — S0 rescanned descending, H0 accumulated
    // ascending from the carry.
    val out = scan.seeded(s0Carry.zip(hCarry)) { case ((s0, h0Carry), it) =>
      var h = h0Carry
      eventHazards(s0, it).reverseIterator.map { case (tv, h0) =>
        h += h0
        org.apache.spark.sql.Row(tv, h)
      }
    }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("t", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("H0", org.apache.spark.sql.types.DoubleType))))
  }

  // (t, h0 = d / S0) of a partition's event times in its stored
  // descending-t order, S0 scanned from the partition's carry `s0`.
  private def eventHazards(s0: Double, it: Iterator[org.apache.spark.sql.Row])
      : scala.collection.mutable.ArrayBuffer[(Double, Double)] = {
    var s = s0
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    it.foreach { r =>
      s += r.getDouble(1)
      val d = r.getLong(2)
      if (d > 0) buf += ((r.getDouble(0), d.toDouble / s))
    }
    buf
  }

  /** Step lookup of the baseline on a τ-grid, fully distributed:
    * H0(τ) = H0 at the last event time <= τ (0 before the first).
    * Since H0 is nondecreasing in t, max(H0) over eligible times IS
    * the step value. The result — one row per grid point — is what
    * callers broadcast to the scoring scan.
    *
    * Join direction matters: Spark can only BUILD (broadcast) the
    * inner side of a join, so a left-outer join with the grid on the
    * left would ignore the broadcast hint and build the BASELINE
    * (~|train| rows with continuous event times) instead. The inner
    * join here streams the baseline against the broadcast |grid|-row
    * build side; grid points before the first event time (dropped by
    * the inner join) are restored by the final |grid|×|grid| left
    * join with H0 = 0.
    */
  def baselineAtGrid(baseline: DataFrame, grid: DataFrame): DataFrame = {
    val stepped = baseline
      .join(broadcast(grid), baseline("t") <= grid("tau"))
      .groupBy(col("tau_idx"))
      .agg(max(col("H0")).as("h0"))
    grid.join(broadcast(stepped), Seq("tau_idx"), "left")
      .select(col("tau_idx"), col("tau"),
        coalesce(col("h0"), lit(0.0)).as("h0"))
  }
}

/** The Cox prediction path shared by the linear and neural fits:
  * standardize with the train-fitted scaler, score, and evaluate
  * S(τ|x) = exp(−H0(τ)·e^{sc}) against the persisted Breslow baseline
  * stepped onto the τ-grid. The two models differ ONLY in the
  * standardized-space score (βᵀx vs wᵀ·stack(x)) — everything else
  * lives here once so the curves can never drift apart.
  */
trait CoxSurvPredict extends FittedSurvModel {
  def mu: Array[Double]
  def sd: Array[Double]
  def baseline: DataFrame

  /** Risk score in the STANDARDIZED feature space. */
  protected def scoreStd(xstd: Column): Column

  /** Releases the pinned Breslow baseline (it recomputes if used
    * again); a no-op for a model built without a fit.
    */
  def releaseBaseline: () => Unit

  /** Unpin the persisted Breslow baseline (it recomputes if used
    * again). Discarded fits (Hyperband losers) must call this.
    */
  override def release(): Unit = releaseBaseline()

  /** Risk score on the ORIGINAL feature space — pure column algebra. */
  final def riskScore(x: Column): Column = {
    val xstd = zip_with(
      zip_with(x, array(mu.map(lit(_)): _*), (v, m) => v - m),
      array(sd.map(lit(_)): _*), (v, s) => v / s)
    scoreStd(xstd)
  }

  final def predictSurv(tensorized: DataFrame, grid: Array[Double]): DataFrame = {
    val spark = tensorized.sparkSession
    import spark.implicits._
    val g = grid.zipWithIndex.map(p => (p._2, p._1)).toSeq.toDF("tau_idx", "tau")
    val h0g = CoxPH.baselineAtGrid(baseline, g)
    val xd = transform(col("x"), _.cast("double"))
    tensorized.select(col("id"), riskScore(xd).as("sc"))
      .attach(h0g)
      .select(col("id"), col("tau_idx"), col("tau"),
        exp(-col("h0") * exp(col("sc"))).as("s"))
  }
}

/** Fitted linear CoxPH: β (standardized space), the scaler, and the
  * Breslow baseline as a persisted DataFrame (t, H0) with one row per
  * distinct event time — distributed, never driver-collected.
  */
final case class FittedCoxPH(
    model: CoxPH,
    beta: Array[Double],
    mu: Array[Double],
    sd: Array[Double],
    baseline: DataFrame,
    releaseBaseline: () => Unit = () => ()) extends CoxSurvPredict {

  protected def scoreStd(xstd: Column): Column = CoxPH.scoreCol(xstd, beta)
}
