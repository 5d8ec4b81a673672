package graft.eval

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.model.{CoxPH, DeepHit, FittedSurvModel, LogisticHazard, TrainCache}
import graft.surv.{ChurnView, Gbsg2Fixture, SurvDataset}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CacheProbe, bridge}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** `FittedSurvModel.score` and `scoreAll` through the shared
  * test-split facts ([[ScoringSplit]]): the same c_index as the
  * pair-join reference, the same Brier score as a driver-side IPCW
  * reference (also on the slice kernel's edge cases), a batch of
  * models scored as each alone in no more jobs than one, a repeat
  * score that compiles almost nothing and shuffles once, a model that
  * cannot predict failing with its own exception, the split built once
  * per sharing scope, and nothing left cached afterwards.
  */
class ScoringSplitSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def gbsg2: SurvDataset = {
    val df = Gbsg2Fixture.frame(spark, 686)
    val feats = df.columns.toSeq.diff(Seq("pid", "time", "cens")).sorted
    SurvDataset.fromDataFrame(df, Seq(col("pid")), "time", "cens",
      features = Some(feats))
  }

  private def churn: SurvDataset = ChurnView.dataset(spark, "/root/testdata/sf0.001")

  private val models = Seq(
    CoxPH(maxIter = 20),
    DeepHit(numDurations = 5, epochs = 5),
    LogisticHazard(numDurations = 5, maxIter = 10))

  /** Driver-side IPCW integrated Brier score (censoring KM weights,
    * trapezoid over the grid, normalised by its span).
    */
  private def referenceIbs(subjects: Seq[(Long, Double, Int)],
                           surv: Map[(Long, Double), Double],
                           grid: Array[Double]): Double = {
    val times = subjects.map(_._2).distinct.sorted
    var g = 1.0
    val knots = times.map { t =>
      val atRisk = subjects.count(_._2 >= t)
      val censored = subjects.count(s => s._2 == t && s._3 == 0)
      g *= 1.0 - censored.toDouble / atRisk
      t -> g
    }
    def gAt(u: Double, strict: Boolean): Double =
      knots.filter { case (t, _) => if (strict) t < u else t <= u }
        .lastOption.map(_._2).getOrElse(1.0)
    // a subject the matrix has no row for at τ adds nothing there
    val bs = grid.map { tau =>
      subjects.map { case (id, t, e) =>
        surv.get((id, tau)).fold(0.0) { s =>
          if (t <= tau && e == 1 && gAt(t, strict = true) > 0) s * s / gAt(t, strict = true)
          else if (t > tau && gAt(tau, strict = false) > 0)
            (1 - s) * (1 - s) / gAt(tau, strict = false)
          else 0.0
        }
      }.sum / subjects.size
    }
    val area = grid.indices.tail.map(k => (bs(k) + bs(k - 1)) / 2 * (grid(k) - grid(k - 1))).sum
    area / (grid.last - grid.head)
  }

  for ((dataName, data) <- Seq[(String, () => SurvDataset)](
      "Gbsg2 fixture" -> (() => gbsg2), "churn sf0.001" -> (() => churn))) {
    test(s"score equals the pair-join C-index and a driver IPCW Brier: $dataName") {
      val ds = data()
      val test = ds.tensorized(ds.test).withColumnRenamed("rn", "id")
      val grid = BrierScore.defaultGrid(test, "t")
      val subjects = test.select("id", "t", "e").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
      models.foreach { m =>
        val f = m.fit(ds)
        try {
          val got = f.score(ds)
          val surv = f.predictSurv(test, grid)
          val c = Concordance.antolini(test, "id", "t", "e", surv, grid)
            .head().getAs[Double]("cindex")
          assert(got("c_index") == c, s"${m.name}: c_index ${got("c_index")} vs pair join $c")
          val s = surv.select("id", "tau", "s").collect()
            .map(r => (r.getLong(0), r.getDouble(1)) -> r.getDouble(2)).toMap
          val ibs = referenceIbs(subjects, s, grid)
          assert(math.abs(got("brier_score") - ibs) < 1e-12,
            s"${m.name}: brier_score ${got("brier_score")} vs reference $ibs")
        } finally f.release()
      }
    }
  }

  for ((dataName, data) <- Seq[(String, () => SurvDataset)](
      "Gbsg2 fixture" -> (() => gbsg2), "churn sf0.001" -> (() => churn))) {
    test(s"scoreAll over three families equals each model's lone score: $dataName") {
      val ds = data()
      val fitted = models.map(_.fit(ds))
      try {
        val alone = fitted.map(_.score(ds))
        val batch = FittedSurvModel.scoreAll(ds, fitted)
        assert(batch.size == fitted.size)
        models.lazyZip(alone).lazyZip(batch).foreach { (m, a, b) =>
          assert(b("c_index") == a("c_index"),
            s"${m.name}: batched c_index ${b("c_index")} vs alone ${a("c_index")}")
          // bit for bit as well: the Brier sums do not depend on the
          // order of addition, which the batch changes
          assert(b("brier_score") == a("brier_score"),
            s"${m.name}: batched brier_score ${b("brier_score")} vs alone ${a("brier_score")}")
        }
      } finally fitted.foreach(_.release())
    }
  }

  /** 80 subjects, times 1..6 and four feature levels: heavy ties in t
    * and in any survival value built from the feature.
    */
  private def tieHeavy: SurvDataset = {
    import spark.implicits._
    val df = (0 until 80).map { i =>
      (i.toLong, 1.0 + i * 5 % 6, if (i % 5 == 0) 0 else 1, (i % 4).toDouble)
    }.toDF("id", "t", "e", "x1")
    SurvDataset.fromDataFrame(df, Seq(col("id")), "t", "e",
      features = Some(Seq("x1")), trainRatio = 0.5)
  }

  /** A fitted stand-in whose matrix is `s` over (id, x1, t, e, tau_idx,
    * tau) at every grid point, less the rows `keep` rejects.
    */
  private def stub(s: Column, keep: Column = lit(true)): FittedSurvModel = new FittedSurvModel {
    def predictSurv(tensorized: DataFrame, grid: Array[Double]): DataFrame =
      tensorized.select(col("id"), col("x")(0).cast("double").as("x1"), col("t"), col("e"),
          posexplode(lit(grid)).as(Seq("tau_idx", "tau")))
        .filter(keep)
        .select(col("id"), col("tau_idx"), col("tau"), s.as("s"))
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  test("the slice kernel's edge cases score as the pair join and the driver IPCW Brier") {
    val ds = tieHeavy
    val test = ds.tensorized(ds.test).withColumnRenamed("rn", "id")
    val grid = BrierScore.defaultGrid(test, "t")
    val subjects = test.select("id", "t", "e").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    // τ(t) of the events at t = 1 (grid point 0), 3 and 4
    val Seq(at3, at4) = Seq(3.0, 4.0).map(t => grid.lastIndexWhere(_ <= t))
    val oneEvent = subjects.find(r => r._2 == 1.0 && r._3 == 1).get._1
    val later = subjects.find(_._2 == 5.0).get._1
    val base = round(exp(-col("x1") * col("tau") / 8.0), 1) // 0.1 steps: many ties
    val cases = Seq(
      "ties in t and s; Brier-only inactive τ" -> stub(base),
      // computed, not literal: the optimizer folds a CASE over the
      // literals 0.0 and -0.0, which compare equal, into one of them
      "s = 0.0 next to s = -0.0" -> stub(
        when(col("x1") === 3.0, col("x1") * when(col("t") === 4.0, 1.0).otherwise(-1.0) * 0.0)
          .otherwise(base)),
      // compared against every event at t = 4, and a NaN Brier term
      "a NaN survival value" -> stub(
        when(col("id") === later && col("tau_idx") === at4, lit(Double.NaN)).otherwise(base)),
      "a one-subject slice; a τ without this config's events" -> stub(base,
        keep = !(col("tau_idx") === 0 && col("id") =!= oneEvent) &&
          !(col("tau_idx") === at3 && col("e") === 1)))
    val batch = FittedSurvModel.scoreAll(ds, cases.map(_._2))
    cases.lazyZip(batch).foreach { case ((name, m), b) =>
      val alone = m.score(ds)
      val surv = m.predictSurv(test, grid)
      val c = Concordance.antolini(test, "id", "t", "e", surv, grid).head().getAs[Double]("cindex")
      assert(alone("c_index") == c, s"$name: c_index ${alone("c_index")} vs pair join $c")
      val sm = surv.select("id", "tau", "s").collect()
        .map(r => (r.getLong(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      val ibs = referenceIbs(subjects, sm, grid)
      val got = alone("brier_score")
      assert((got.isNaN && ibs.isNaN) || math.abs(got - ibs) < 1e-12,
        s"$name: brier_score $got vs reference $ibs")
      assert(bits(b("c_index")) == bits(alone("c_index")) &&
        bits(b("brier_score")) == bits(alone("brier_score")), s"$name: batched $b vs alone $alone")
    }
    assert(batch(2)("brier_score").isNaN, "the NaN survival value reached no Brier term")
  }

  test("slice counts and exact sums: one subject, signed zeros, NaN, order of addition") {
    import ScalableConcordance.sliceCounts
    assert(sliceCounts(Array(2.0), Array(true), Array(0.5), 1) == ((0L, 0L, 0L)))
    assert(sliceCounts(Array(1.0, 2.0), Array(false, false), Array(0.1, 0.2), 2) == ((0L, 0L, 0L)))
    // the event (t 1, s 0.0) against t 2 / s -0.0 (a tie), t 3 / s NaN
    // (concordant: NaN is the largest) and t 1 / s 0.9 (same t: not
    // comparable)
    assert(sliceCounts(Array(1.0, 2.0, 3.0, 1.0), Array(true, false, false, false),
      Array(0.0, -0.0, Double.NaN, 0.9), 4) == ((2L, 1L, 1L)))
    import graft.core.ExactSum
    assert(ExactSum(Array(1e16, 1.0, -1e16, 1.0), 4) == 2.0) // left to right: 1.0
    assert(bits(ExactSum(Array(0.1, 0.2, 0.3), 3)) == bits(ExactSum(Array(0.3, 0.2, 0.1), 3)))
    assert(ExactSum(Array(1.0, Double.PositiveInfinity), 2) == Double.PositiveInfinity)
    assert(ExactSum(Array(Double.PositiveInfinity, Double.NaN, 1.0), 3).isNaN)
    assert(ExactSum(Array(5.0, 7.0, 11.0), 2) == 12.0)
  }

  /** The query executions `f` completes, in order. */
  private def executions[T](f: => T): (T, Seq[QueryExecution]) = {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    bridge.drainListenerBus(spark) // earlier queries' events go to no one
    val l = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = done.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val v = f
      bridge.drainListenerBus(spark)
      (v, done.asScala.toSeq)
    } finally spark.listenerManager.unregister(l)
  }

  /** The nodes of an executed plan, through AQE's final plan and its
    * query stages but not into cached relations' build plans.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p.children.flatMap(nodes)
  })

  /** (shuffle exchanges, joins) met from the root of `p` down to and
    * including its uppermost joins.
    */
  private def aboveJoins(p: SparkPlan): (Int, Int) = p match {
    case a: AdaptiveSparkPlanExec => aboveJoins(a.executedPlan)
    case q: QueryStageExec => aboveJoins(q.plan)
    case _: BaseJoinExec => (0, 1)
    case _ =>
      val below = p.children.map(aboveJoins)
      (below.map(_._1).sum + (if (p.isInstanceOf[ShuffleExchangeLike]) 1 else 0),
        below.map(_._2).sum)
  }

  test("a repeat score compiles at most 10 classes and shuffles once above the join") {
    val ds = churn
    models.foreach { m =>
      val f = m.fit(ds)
      try TrainCache.sharing {
        f.score(ds)
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val (_, qes) = executions(f.score(ds))
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
        info(s"${m.name}: a repeat score compiled $compiles classes")
        assert(compiles <= 10, s"${m.name}: a repeat score compiled $compiles classes")
        val scoring = qes.filter(_.analyzed.output.exists(_.name == "tauIdx"))
        assert(scoring.size == 1, s"${m.name}: ${scoring.size} scoring collects")
        val plan = scoring.head.executedPlan
        val (shuffles, joins) = aboveJoins(plan)
        assert(shuffles == 1 && joins == 1,
          s"${m.name}: $shuffles shuffles above $joins joins in\n$plan")
        assert(!nodes(plan).exists(_.isInstanceOf[WindowExec]), s"${m.name}: a window in\n$plan")
      } finally f.release()
    }
  }

  test("the integrated Brier score adds one exchange to the per-τ scores") {
    val ds = tieHeavy
    val test = ds.tensorized(ds.test).withColumnRenamed("rn", "id")
    val grid = BrierScore.defaultGrid(test, "t")
    val surv = stub(round(exp(-col("x1") * col("tau") / 8.0), 1)).predictSurv(test, grid)
    graft.core.Pins.scoped {
      val bs = BrierScore.grid(test, "id", "t", "e", surv, grid)
      val ibs = BrierScore.integrated(bs)
      val pts = bs.collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
      // the driver's integration of the scoring path, the same bits
      assert(bits(ibs.head().getDouble(0)) == bits(BrierScore.trapezoid(pts)))
      def shuffles(df: DataFrame): Int =
        nodes(df.queryExecution.executedPlan).count(_.isInstanceOf[ShuffleExchangeLike])
      assert(shuffles(ibs) == shuffles(bs) + 1,
        s"per-τ ${shuffles(bs)}, integrated ${shuffles(ibs)}:\n${ibs.queryExecution.executedPlan}")
    }
  }

  test("scoring three models launches no more jobs than scoring one") {
    val ds = churn
    val fitted = models.map(_.fit(ds))
    try TrainCache.sharing {
      FittedSurvModel.scoreAll(ds, fitted.take(1)) // builds the shared split
      val alone = fitted.zipWithIndex.map { case (f, i) =>
        jobsOf(s"alone$i")(FittedSurvModel.scoreAll(ds, Seq(f)))._2
      }
      val all = jobsOf("all")(FittedSurvModel.scoreAll(ds, fitted))._2
      // the CoxPH prediction runs jobs of its own (its baseline on the
      // grid), in a batch as alone; the scoring pass adds none per model
      assert(all <= alone.max, s"three models: $all jobs; one at a time: $alone")
    } finally fitted.foreach(_.release())
  }

  test("a model that cannot predict fails with its own exception unless it overrides score") {
    val ds = gbsg2
    val plain = new FittedSurvModel {
      def predictSurv(t: DataFrame, g: Array[Double]): DataFrame =
        throw new UnsupportedOperationException("no predictions")
    }
    // the default score never falls back to itself: no stack overflow
    assert(intercept[UnsupportedOperationException](plain.score(ds)).getMessage ==
      "no predictions")
    assert(intercept[UnsupportedOperationException](
      FittedSurvModel.scoreAll(ds, Seq(plain))).getMessage == "no predictions")
    // only the exact class selects the model's own score, not a subclass
    // (Spark's SparkUnsupportedOperationException is one)
    final class Narrower extends UnsupportedOperationException("narrower")
    val overriding = new FittedSurvModel {
      def predictSurv(t: DataFrame, g: Array[Double]): DataFrame = throw new Narrower
      override def score(ds: SurvDataset): Map[String, Double] =
        Map("c_index" -> 0.5, "brier_score" -> 0.25)
    }
    intercept[Narrower](FittedSurvModel.scoreAll(ds, Seq(overriding)))
  }

  test("an empty test split fails naming trainRatio and n") {
    import spark.implicits._
    val df = (0 until 40).map(i => (i.toLong, 1.0 + i % 7, i % 2, i * 0.1))
      .toDF("id", "t", "e", "x")
    val ds = SurvDataset.fromDataFrame(df, Seq(col("id")), "t", "e",
      features = Some(Seq("x")), trainRatio = 1.0)
    val f = CoxPH(maxIter = 5).fit(ds)
    val e = try intercept[IllegalArgumentException](f.score(ds)) finally f.release()
    assert(e.getMessage.contains("trainRatio=1.0") && e.getMessage.contains("n=40"),
      e.getMessage)
  }

  /** Jobs `f` launches from this thread (and the threads it hands its
    * local properties to), counted by a listener.
    */
  private def jobsOf[T](tag: String)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("scoring-split-spec") == tag)
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setLocalProperty("scoring-split-spec", tag)
    try {
      val v = f
      bridge.drainListenerBus(spark)
      (v, n.get())
    } finally {
      sc.setLocalProperty("scoring-split-spec", null)
      sc.removeSparkListener(l)
    }
  }

  /** Persisted RDDs and cached plans `f` leaves behind. */
  private def leftBy(f: => Unit): (Set[Int], Int) = {
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    val plans = CacheProbe.cachedPlans(spark)
    f
    (spark.sparkContext.getPersistentRDDs.keySet.toSet -- rdds,
      math.max(0, CacheProbe.cachedPlans(spark) - plans))
  }

  test("a sharing scope builds the test-split facts once and releases them") {
    val ds = gbsg2
    var jobs = Seq.empty[Int]
    val left = leftBy {
      TrainCache.sharing {
        jobs = Seq(5, 8).map { iters =>
          val f = CoxPH(maxIter = iters).fit(ds)
          try jobsOf(s"fit$iters")(f.score(ds))._2 finally f.release()
        }
      }
    }
    assert(jobs(1) < jobs(0), s"the second score launched ${jobs(1)} jobs, the first ${jobs(0)}")
    assert(left == ((Set.empty[Int], 0)), s"left behind (persisted RDDs, cached plans): $left")
  }

  test("a split over a large censoring curve keeps only its subject table cached") {
    // more distinct censoring times than KaplanMeier.SmallCurveRows, so
    // the KM curve and both lookups take the range-scan path, which
    // pins RDDs of its own
    val n = KaplanMeier.SmallCurveRows + 10000
    val df = spark.range(n).select(col("id"), (col("id") + 0.5).as("t"),
      when(col("id") % 10 === 0, 1).otherwise(0).as("e"))
    val grid = graft.surv.DurationCuts.linspace(0.5, n - 0.5, 100)
    var kept = (Set.empty[Int], 0)
    val left = leftBy {
      var release = () => ()
      kept = leftBy {
        val (split, r) = graft.core.Pins.held(ScoringSplit.build(df, "id", "t", "e", grid))
        release = r
        assert(split.n == n)
      }
      release()
    }
    assert(kept._1.size == 1 && kept._2 == 1,
      s"the build keeps (persisted RDDs, cached plans) $kept, not just the subject table")
    assert(left == ((Set.empty[Int], 0)), s"left behind (persisted RDDs, cached plans): $left")
  }

  test("a lone score outside any sharing scope leaves nothing cached") {
    val ds = gbsg2
    val left = leftBy {
      val f = CoxPH(maxIter = 5).fit(ds)
      try f.score(ds) finally f.release()
    }
    assert(left == ((Set.empty[Int], 0)), s"left behind (persisted RDDs, cached plans): $left")
  }
}
