package graft.automl

import graft.model.{CoxPH, DeepHit, FittedSurvModel, LogisticHazard, Param, SurvModel}
import graft.surv.SurvDataset

import scala.collection.mutable
import scala.util.Random

/** A model family Hyperband can search over: a name, a sampling
  * space, and a constructor from (params, epochs). Mirrors the
  * reference's seed classes (optimizer.py:25-29).
  */
trait ModelFactory {
  def name: String
  def space: Seq[Param]
  def build(params: Map[String, Any], epochs: Int): SurvModel
}

object ModelFactory {
  /** The default three seeds, linear parity flavors. `epochs` maps to
    * the iteration budget of each trainer.
    */
  val coxPH: ModelFactory = new ModelFactory {
    val name = "cox_ph"
    val space = CoxPH().hyperparameterSpace
    def build(params: Map[String, Any], epochs: Int): SurvModel =
      CoxPH(
        maxIter = epochs,
        l2 = params.getOrElse("l2", 1e-4).asInstanceOf[Double])
  }
  val deepHit: ModelFactory = new ModelFactory {
    val name = "deephit"
    val space = DeepHit().hyperparameterSpace
    def build(params: Map[String, Any], epochs: Int): SurvModel =
      DeepHit(
        epochs = epochs,
        alpha = params.getOrElse("alpha", 0.2).asInstanceOf[Double],
        sigma = params.getOrElse("sigma", 0.1).asInstanceOf[Double],
        batchSize = params.getOrElse("batch_size", 128).asInstanceOf[Int])
  }
  val logisticHazard: ModelFactory = new ModelFactory {
    val name = "logistic_hazard"
    val space = LogisticHazard().hyperparameterSpace
    def build(params: Map[String, Any], epochs: Int): SurvModel =
      LogisticHazard(
        maxIter = epochs,
        regParam = params.getOrElse("reg_param", 1e-4).asInstanceOf[Double])
  }
  val defaults: Seq[ModelFactory] = Seq(coxPH, deepHit, logisticHazard)

  /** The MLP flavors — the nets the reference actually searches
    * (every reference seed wraps MLPVanilla). Not in [[defaults]]
    * (the linear flavors keep the oracle surface deterministic and
    * cheap), but first-class seeds: pass
    * `new Hyperband(seeds = ModelFactory.mlpSeeds())` for a
    * reference-shaped search. `hidden` sizes every net (reference
    * default [32, 32]).
    */
  def mlpSeeds(hidden: Seq[Int] = Seq(32, 32)): Seq[ModelFactory] = {
    // the reference searches batch_norm per net (model_cox_ph.py:73-76);
    // here it toggles MlpStack's BATCH-statistics flavor (bnBatch —
    // batch-coupled BatchNorm1d train mode, the mode the reference's
    // nets actually train with; see the MlpStack scaladoc, NOT the
    // affine frozen-stats flavor). Added at the SEED level so the
    // linear parity seeds' sample streams (and their oracle-pinned
    // quirk tests) stay untouched.
    val bnParam = graft.model.CategoricalP("batch_norm", Seq(false, true))
    def bnOf(params: Map[String, Any]): Boolean =
      params.getOrElse("batch_norm", false).asInstanceOf[Boolean]
    // the reference's dropout domain (model_cox_ph.py:74:
    // Categorical("dropout", [0, 0.1, 0.2])) — MlpStack's deterministic
    // inverted-dropout flavor
    val dropParam = graft.model.CategoricalP("dropout", Seq(0.0, 0.1, 0.2))
    def dropOf(params: Map[String, Any]): Double =
      params.getOrElse("dropout", 0.0).asInstanceOf[Double]
    val netParams = Seq(bnParam, dropParam)
    Seq(
      new ModelFactory {
        val name = "cox_ph_mlp"
        val space = graft.model.CoxMlp().hyperparameterSpace ++ netParams
        def build(params: Map[String, Any], epochs: Int): SurvModel =
          graft.model.CoxMlp(hidden = hidden, epochs = epochs,
            lr = params.getOrElse("lr", 0.01).asInstanceOf[Double],
            patience = params.getOrElse("patience", 10).asInstanceOf[Int],
            batchNorm = bnOf(params), dropout = dropOf(params))
      },
      new ModelFactory {
        val name = "deephit_mlp"
        val space = DeepHit().hyperparameterSpace ++ netParams
        def build(params: Map[String, Any], epochs: Int): SurvModel =
          DeepHit(hidden = hidden, epochs = epochs,
            alpha = params.getOrElse("alpha", 0.2).asInstanceOf[Double],
            sigma = params.getOrElse("sigma", 0.1).asInstanceOf[Double],
            batchSize = params.getOrElse("batch_size", 128).asInstanceOf[Int],
            batchNorm = bnOf(params), dropout = dropOf(params))
      },
      new ModelFactory {
        val name = "logistic_hazard_mlp"
        val space = graft.model.LogisticHazardMlp().hyperparameterSpace ++ netParams
        def build(params: Map[String, Any], epochs: Int): SurvModel =
          graft.model.LogisticHazardMlp(hidden = hidden, epochs = epochs,
            lr = params.getOrElse("lr", 0.05).asInstanceOf[Double],
            patience = params.getOrElse("patience", 10).asInstanceOf[Int],
            batchNorm = bnOf(params), dropout = dropOf(params))
      })
  }
}

/** Hyperband successive halving — faithful port of the reference's
  * control flow (reference: src/elastic_surv/optimizer.py:123-180):
  *
  *   s = s_max..0 with s_max = ⌊log_η(max_iter)⌋, B = (s_max+1)·max_iter
  *   n = ⌈B/max_iter/(s+1)·η^s⌉ configs, r = max_iter·η^{−s} epochs
  *   sample ⌈n/|seeds|⌉ per model, default config {} ALWAYS first per
  *   model, configs deduped by canonical key (optimizer.py:76-96)
  *   rungs i = 0..s: train each config epochs = r·η^i, keep top
  *   ⌈⌈n·η^{−i}⌉/η⌉ by score = c_index − brier (optimizer.py:110)
  *
  * Reproduced quirk (H4, optimizer.py:112-119): the per-model best is
  * only updated inside the global-best branch — it changes which two
  * model names survive into `seeds` after the search
  * (optimizer.py:172-174).
  *
  * Each config of a rung is a full Spark fit; the fits are
  * embarrassingly parallel and run concurrently (`parallelism`
  * threads, one FAIR scheduler pool tag each — a session built with
  * spark.scheduler.mode=FAIR interleaves their jobs; FIFO still
  * overlaps stages). The sync search takes a rung `parallelism`
  * configs at a time: it fits them concurrently, then scores them in
  * ONE scoring pass ([[graft.model.FittedSurvModel.scoreAll]]: one
  * join and one collect) and releases them, so at most `parallelism`
  * fitted models are held at once. Selection is bit-identical to the
  * sequential run: scores fold in config order.
  */
object Hyperband {

  /** The bracket/rung schedule in EXACT integer arithmetic — equal to
    * the reference's float formulas (optimizer.py:127-155) whenever
    * max_iter is a power of eta (the default 81/3 is). Rows:
    * (s, i, n_configs, epochs).
    */
  def scheduleExact(maxIter: Int = 81, eta: Int = 3): Seq[(Int, Int, Int, Int)] = {
    val sMax = (math.log(maxIter) / math.log(eta)).toInt
    val b = (sMax + 1) * maxIter
    for {
      s <- sMax to 0 by -1
      n = (b / maxIter * pow(eta, s) + s) / (s + 1) // ceil(B/maxIter/(s+1)·η^s)
      i <- 0 to s
    } yield {
      val nConfigs = (n + pow(eta, i) - 1) / pow(eta, i) // ceil(n·η^{−i})
      val epochs = maxIter / pow(eta, s) * pow(eta, i) // r·η^i
      (s, i, nConfigs, epochs)
    }
  }

  private def pow(b: Int, e: Int): Int = BigInt(b).pow(e).toInt
}

final class Hyperband(
    var seeds: Seq[ModelFactory] = ModelFactory.defaults,
    maxIter: Int = 81, // optimizer.py:30
    eta: Int = 3, // optimizer.py:31
    outputEpochs: Int = 200, // optimizer.py:33
    seedRng: Long = 42L,
    // Concurrent config fits per rung (SURVEY §3.3) — and, for sync,
    // the configs scored per pass and fitted models held at once — or
    // evaluations in flight for async. Results are identical to sequential by
    // construction: config sampling, scoring and the best-tracking fold
    // stay on the caller thread in config order; only the pure fit
    // work fans out. 1 = sequential.
    parallelism: Int = 4,
    // ASHA-style asynchronous promotion (Li et al., "A System for
    // Massively Parallel Hyperparameter Tuning", arXiv:1810.05934 —
    // public reference). The sync default's measured parallelism floor
    // is the successive-halving RUNG-TAIL critical path: late rungs
    // hold ≤η configs at the largest epoch budgets, so extra workers
    // idle at every rung barrier. async=true removes the barriers: a
    // free worker promotes the best not-yet-promoted config that sits
    // in the top ⌊completed/η⌋ of its rung, else samples a new config
    // at rung 0 — same brackets, same per-bracket sampling budgets,
    // same promotion fractions, evaluated without ever waiting for a
    // rung to finish. TRADEOFF (the published one): promotions are
    // decided on partial rung information and the sample→model
    // interleaving follows completion timing, so async runs are NOT
    // bit-reproducible run-to-run — use the sync default whenever
    // selection must be deterministic; both modes always evaluate
    // each model's DEFAULT config first (H2), so the returned winner
    // never scores below the defaults.
    async: Boolean = false) {

  private val rng = new Random(seedRng)
  private def logEta(x: Double): Double = math.log(x) / math.log(eta.toDouble)
  val sMax: Int = logEta(maxIter.toDouble).toInt
  val bBudget: Int = (sMax + 1) * maxIter

  private val visited = mutable.Set.empty[String]
  var bestScore: Double = Double.NegativeInfinity
  var bestModel: Option[ModelFactory] = None
  var bestParams: Map[String, Any] = Map.empty
  val modelBestScore: mutable.Map[String, Double] =
    mutable.Map(seeds.map(_.name -> Double.NegativeInfinity): _*)

  /** Canonical dedup key (H2; reference uses sorted-key JSON). */
  private def keyOf(name: String, params: Map[String, Any]): String =
    name + "|" + params.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString(",")

  private def sampleModel(m: ModelFactory, n: Int): Seq[(ModelFactory, Map[String, Any])] = {
    val out = mutable.Buffer.empty[(ModelFactory, Map[String, Any])]
    var left = n
    val defaultKey = keyOf(m.name, Map.empty)
    if (!visited.contains(defaultKey)) { // default config first (H2)
      visited += defaultKey
      out += ((m, Map.empty[String, Any]))
      left -= 1
    }
    (0 until left).foreach { _ =>
      val params = m.space.map(p => p.name -> p.sample(rng)).toMap
      val k = keyOf(m.name, params)
      if (!visited.contains(k)) { visited += k; out += ((m, params)) }
    }
    out.toSeq
  }

  /** One config's fit + lone score, as the async search runs it —
    * PURE (no search-state mutation), so evaluations can run
    * concurrently and the best-tracking fold stays a sequential pass
    * ([[recordBest]]). The sync search fits and scores a rung
    * `parallelism` configs at a time instead ([[evalRung]]).
    *
    * Evaluations discard the fitted artifact (survivors re-fit at the
    * next rung's epoch budget): release its pinned caches or every
    * evaluated config leaks persisted blocks for the session. release()
    * drops the fitted model's own pins (the Breslow baseline); the
    * surrounding Pins scope releases whatever else the config pinned.
    * TrainCache entries — each family's training prep and the test
    * split's scoring facts, which every score reads — are held by their
    * own scope, not the config's: they outlive the config and are
    * released when the search ends.
    */
  private def evalParams(m: ModelFactory, ds: SurvDataset,
                         params: Map[String, Any], epochs: Int): Double =
    objective(graft.core.Pins.scoped {
      val fitted = m.build(params, epochs).fit(ds)
      try fitted.score(ds) finally fitted.release()
    })

  // score = c_index − brier (optimizer.py:110)
  private def objective(scores: Map[String, Double]): Double =
    scores("c_index") - scores("brier_score")

  private def recordBest(m: ModelFactory, params: Map[String, Any],
                         score: Double): Unit = {
    if (score > bestScore) {
      bestScore = score
      bestModel = Some(m)
      bestParams = params
      // QUIRK H4: nested inside the global-best branch, as in the
      // reference — an intentionally faithful artifact.
      if (score > modelBestScore(m.name)) modelBestScore(m.name) = score
    }
  }

  /** Evaluates the rung `i` of bracket `s`, `parallelism` configs at a
    * time ([[fitAndScore]]). Scores come back in CONFIG ORDER regardless
    * of completion order, so the best-tracking fold (and quirk H4) is
    * bit-identical to the sequential run; each evaluation is appended
    * to [[ashaTrace]].
    */
  private def evalRung(ds: SurvDataset, s: Int, i: Int,
                       configs: Seq[(ModelFactory, Map[String, Any])],
                       epochs: Int): Seq[Double] = {
    val scores = configs.grouped(math.max(parallelism, 1))
      .flatMap(fitAndScore(ds, _, epochs)).toSeq
    configs.lazyZip(scores).foreach { case ((m, params), score) =>
      recordBest(m, params, score)
      ashaTrace += ((s, i, epochs, keyOf(m.name, params), score))
    }
    scores
  }

  /** Fits `configs` — concurrently when there are several, each on
    * its own thread inside its own Pins.held scope, tagged with a FAIR
    * scheduler pool so a FAIR-mode session interleaves their jobs —
    * then scores every fitted model in ONE pass
    * ([[graft.model.FittedSurvModel.scoreAll]]) on the caller thread,
    * and only then releases each model and its scope. The caller passes
    * at most `parallelism` configs, which bounds the fitted models held
    * at once and the size of the pass's cached join.
    *
    * A failed fit fails the SEARCH with its own exception: the queued
    * and running siblings are cancelled, and every sibling that did fit
    * is released before the exception leaves.
    */
  private def fitAndScore(ds: SurvDataset, configs: Seq[(ModelFactory, Map[String, Any])],
                          epochs: Int): Seq[Double] = {
    // slot idx: the fitted model and the release of the scope it was
    // fitted in; set by whichever thread fitted it
    val fits = new java.util.concurrent.atomic.AtomicReferenceArray[
      (FittedSurvModel, () => Unit)](configs.size)
    def fit(idx: Int): Unit = {
      val (m, params) = configs(idx)
      fits.set(idx, graft.core.Pins.held(m.build(params, epochs).fit(ds)))
    }
    def held = configs.indices.map(fits.get).filter(_ != null)
    val scores =
      try {
        if (configs.size <= 1) configs.indices.foreach(fit)
        else fitConcurrently(ds, configs.size)(fit)
        graft.model.FittedSurvModel.scoreAll(ds, configs.indices.map(fits.get(_)._1))
          .map(objective)
      } catch {
        case e: Throwable =>
          releaseAll(held).foreach(e.addSuppressed)
          throw e
      }
    releaseAll(held).foreach(e => throw e)
    scores
  }

  /** Releases every fitted model and then its scope, each in its own
    * try, so one failed release cannot leave the rest pinned. Returns
    * the first failure, with the others added to it as suppressed.
    */
  private def releaseAll(fitted: Seq[(FittedSurvModel, () => Unit)]): Option[Throwable] = {
    var first: Option[Throwable] = None
    def attempt(release: => Unit): Unit =
      try release
      catch {
        case e: Throwable => first match {
          case Some(f) => f.addSuppressed(e)
          case None => first = Some(e)
        }
      }
    fitted.foreach { case (model, releaseScope) =>
      attempt(model.release())
      attempt(releaseScope())
    }
    first
  }

  /** Runs `fit(0 until n)` on `min(parallelism, n)` threads. The first
    * failure cancels the rest and is rethrown as itself (not wrapped);
    * the call returns only once no fit is running, so the caller's
    * release of the fitted slots can never miss one that finishes late.
    * A cancelled fit that ignores its interrupt (a driver-side loop)
    * holds that return up; each minute of it is logged.
    */
  private def fitConcurrently(ds: SurvDataset, n: Int)(fit: Int => Unit): Unit = {
    val sc = ds.df.sparkSession.sparkContext
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(parallelism, n))
    try {
      val futures = (0 until n).map { idx =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            sc.setLocalProperty("spark.scheduler.pool", s"hyperband-$idx")
            try fit(idx)
            finally sc.setLocalProperty("spark.scheduler.pool", null)
          }
        })
      }
      try futures.foreach(_.get())
      catch {
        case e: Throwable =>
          // a failed config fails the SEARCH — cancel the rung's
          // queued/running siblings instead of letting them train
          // to completion on non-daemon threads (hours of orphan
          // cluster work after the search already threw, against
          // prep caches the sharing scope is about to release)
          futures.foreach(_.cancel(true))
          throw (e match {
            case x: java.util.concurrent.ExecutionException if x.getCause != null => x.getCause
            case other => other
          })
      }
    } finally {
      pool.shutdownNow()
      var waited = 0
      while (!pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)) {
        waited += 1
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"Hyperband: a cancelled fit is still running after $waited min; " +
            "the rung's fitted models are released once it stops")
      }
    }
  }

  /** Runs the search and returns the winner re-fit with
    * `outputEpochs` (H5). The whole search runs under one
    * [[graft.model.TrainCache]] sharing scope: each model family's
    * config-independent prep (tensorize + encode + persist) and the
    * test split's scoring facts are built once and reused by every
    * config and rung, then released.
    */
  def selectModel(ds: SurvDataset): FittedSurvModel = graft.model.TrainCache.sharing {
    if (async) runAsha(ds) else runSync(ds)
    // seeds := 2 best model names (optimizer.py:172-174). Iterate the
    // SEED list, not the HashMap (hash-arbitrary order): with the
    // typical all-but-one-at-−Infinity scores, ties must break by
    // registration order — Scala's stable sortBy over the seed order
    // reproduces Python's stable sort over the insertion-ordered dict.
    seeds = seeds.map(m => m -> modelBestScore(m.name))
      .sortBy(-_._2).take(2).map(_._1)
    val winner = bestModel.getOrElse(throw new IllegalStateException("no model evaluated"))
    winner.build(bestParams, outputEpochs).fit(ds)
  }

  private def runSync(ds: SurvDataset): Unit = {
    ashaTrace.clear() // per-run trace: a reused instance must not mix runs
    for (s <- sMax to 0 by -1) {
      val n = math.ceil(bBudget.toDouble / maxIter / (s + 1) * math.pow(eta, s)).toInt
      val r = maxIter * math.pow(eta, -s)
      var configs = seeds.flatMap(m =>
        sampleModel(m, math.ceil(n.toDouble / seeds.size).toInt))
      var i = 0
      while (i <= s && configs.nonEmpty) {
        val nConfigs = math.ceil(n * math.pow(eta, -i)).toInt
        val epochs = (r * math.pow(eta, i)).toInt
        val scored = evalRung(ds, s, i, configs, epochs).zip(configs)
        val saved = math.ceil(nConfigs.toDouble / eta).toInt
        configs = scored.sortBy(_._1).takeRight(saved).map(_._2)
        i += 1
      }
    }
  }

  /** The last search's evaluations: (bracket s, rung i, epochs, config
    * key, score) — in completion order for ASHA and, despite the name,
    * also for the sync search, there in config order, rung by rung.
    * The spec's window into the rung ladders, promotion fractions and
    * budgets.
    */
  private[automl] val ashaTrace =
    mutable.Buffer.empty[(Int, Int, Int, String, Double)]

  /** The asynchronous search: same brackets and budgets as [[runSync]],
    * no rung barriers. All shared search state (rung ledgers, promotion
    * sets, the rng+visited sampler, recordBest's fold, the trace)
    * mutates only under ONE monitor; evaluation runs outside it.
    */
  private def runAsha(ds: SurvDataset): Unit = {
    ashaTrace.clear() // per-run trace: a reused instance must not mix runs
    val k = seeds.size
    final case class Cfg(m: ModelFactory, params: Map[String, Any]) {
      val key: String = keyOf(m.name, params)
    }
    final class Bracket(val s: Int) {
      val n: Int = math.ceil(
        bBudget.toDouble / maxIter / (s + 1) * math.pow(eta, s)).toInt
      // sync parity: ceil(n/k) sampling ATTEMPTS per model (duplicate
      // draws consume an attempt without yielding a config, exactly
      // like sampleModel's dedup drop)
      val quotaPerModel: Int = math.ceil(n.toDouble / k).toInt
      var attempts = 0
      def attemptsLeft: Boolean = attempts < quotaPerModel * k
      // completed evaluations and promoted-out keys, per rung 0..s
      val completed: Array[mutable.Buffer[(Cfg, Double)]] =
        Array.fill(s + 1)(mutable.Buffer.empty)
      val promoted: Array[mutable.Set[String]] =
        Array.fill(s + 1)(mutable.Set.empty)
      def epochsAt(i: Int): Int =
        (maxIter * math.pow(eta, -s) * math.pow(eta, i)).toInt
    }
    val brackets = (sMax to 0 by -1).map(new Bracket(_))
    val lock = new Object
    var inflight = 0
    var failure: Option[Throwable] = None
    // set once, right after the workers are submitted; lets a failing
    // worker cancel its siblings (fitConcurrently's orphan-work rule)
    val futuresRef = new java.util.concurrent.atomic.AtomicReference[
      Seq[java.util.concurrent.Future[Unit]]](Nil)

    // A failed acquisition or evaluation fails the SEARCH: record the
    // first failure, wake peers blocked in lock.wait(), and interrupt
    // in-flight sibling trainings — the same protocol fitConcurrently
    // applies with futures.foreach(_.cancel(true)), so the async path
    // never burns hours of orphan cluster work after the search has
    // already failed. Self-cancel is harmless: the caller returns right
    // after.
    def failAndStop(e: Throwable, releaseInflight: Boolean): Unit = {
      lock.synchronized {
        if (failure.isEmpty) failure = Some(e)
        if (releaseInflight) inflight -= 1
        lock.notifyAll()
      }
      futuresRef.get().foreach(_.cancel(true))
    }

    // Callers hold `lock`. Promotion first (the deepest bracket's
    // highest promotable rung — finish good configs before starting
    // new ones), then a fresh rung-0 sample from the first bracket
    // with attempts left, models round-robin (each model's FIRST draw
    // is its default config — sampleModel's H2 contract).
    def findJob(): Option[(Bracket, Int, Cfg)] = {
      brackets.foreach { b =>
        var i = b.s - 1
        while (i >= 0) {
          val done = b.completed(i)
          val quota = done.size / eta // floor: ASHA's promotion rule
          if (quota > 0) {
            val cand = done.sortBy(-_._2).iterator.take(quota)
              .find(c => !b.promoted(i).contains(c._1.key))
            cand.foreach { case (cfg, _) =>
              b.promoted(i) += cfg.key
              return Some((b, i + 1, cfg))
            }
          }
          i -= 1
        }
        while (b.attemptsLeft) {
          val m = seeds(b.attempts % k)
          b.attempts += 1
          val drawn = sampleModel(m, 1) // rng+visited: under lock
          if (drawn.nonEmpty) {
            val (mm, params) = drawn.head
            return Some((b, 0, Cfg(mm, params)))
          }
        }
      }
      None
    }

    // workers park here until futuresRef is published, so even a
    // first-instant failure sees the full sibling list in failAndStop
    // (without the gate, a failure racing submission cancels nobody)
    val startGate = new java.util.concurrent.CountDownLatch(1)

    def workerLoop(workerId: Int): Unit = {
      startGate.await()
      val sc = ds.df.sparkSession.sparkContext
      sc.setLocalProperty("spark.scheduler.pool", s"asha-$workerId")
      try {
        while (true) {
          // acquisition can throw too (findJob → sampleModel →
          // Param.sample): an escaping exception here must not strand
          // peers in lock.wait() with no notify — route it through the
          // same failure protocol as an evaluation error. inflight is
          // bumped only by the last, non-throwing statement, so the
          // catch never owes a decrement.
          val job =
            try lock.synchronized {
              var j: Option[(Bracket, Int, Cfg)] = None
              var done = false
              while (!done) {
                if (failure.isDefined) done = true // j = None → exit below
                else {
                  j = findJob()
                  if (j.isDefined || inflight == 0) done = true
                  else lock.wait() // a completion may unlock a promotion
                }
              }
              j.foreach(_ => inflight += 1)
              j
            } catch {
              case e: Throwable =>
                failAndStop(e, releaseInflight = false)
                return
            }
          // drained (no jobs, nothing in flight) or a peer failed
          if (job.isEmpty) return
          val (b, i, cfg) = job.get
          val epochs = b.epochsAt(i)
          val score =
            try evalParams(cfg.m, ds, cfg.params, epochs)
            catch {
              case e: Throwable =>
                failAndStop(e, releaseInflight = true)
                return
            }
          lock.synchronized {
            b.completed(i) += ((cfg, score))
            recordBest(cfg.m, cfg.params, score)
            ashaTrace += ((b.s, i, epochs, cfg.key, score))
            inflight -= 1
            lock.notifyAll()
          }
        }
      } finally sc.setLocalProperty("spark.scheduler.pool", null)
    }

    val nWorkers = math.max(parallelism, 1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nWorkers)
    try {
      val futures = (0 until nWorkers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = workerLoop(w)
        })
      }
      futuresRef.set(futures)
      startGate.countDown()
      // a worker cancelled by failAndStop surfaces CancellationException
      // here; the original cause is rethrown from `failure` below
      futures.foreach { f =>
        try f.get()
        catch { case _: java.util.concurrent.CancellationException => () }
      }
    } finally { pool.shutdownNow(); () }
    failure.foreach(throw _)
  }
}
