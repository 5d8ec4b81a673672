package graft.eval

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestBase
import graft.model.{CoxPH, DeepHit, FittedSurvModel, LogisticHazard, TrainCache}
import graft.surv.{ChurnView, Gbsg2Fixture, SurvDataset}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CacheProbe, bridge}
import org.scalatest.funsuite.AnyFunSuite

/** `FittedSurvModel.score` and `scoreAll` through the shared
  * test-split facts ([[ScoringSplit]]): the same c_index as the
  * pair-join reference, the same Brier score as a driver-side IPCW
  * reference, a batch of models scored as each alone in no more jobs
  * than one, a model that cannot predict failing with its own
  * exception, the split built once per sharing scope, and nothing left
  * cached afterwards.
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
    val bs = grid.map { tau =>
      subjects.map { case (id, t, e) =>
        val s = surv((id, tau))
        if (t <= tau && e == 1 && gAt(t, strict = true) > 0) s * s / gAt(t, strict = true)
        else if (t > tau && gAt(tau, strict = false) > 0)
          (1 - s) * (1 - s) / gAt(tau, strict = false)
        else 0.0
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
