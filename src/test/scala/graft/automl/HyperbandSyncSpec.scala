package graft.automl

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestBase
import graft.model.{FittedSurvModel, FloatP, Param, SurvModel}
import graft.surv.SurvDataset
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CacheProbe
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The sync search's rung evaluation: a rung is fitted and scored
  * `parallelism` configs at a time, every config of such a batch fitted
  * before it is scored in one pass, so no more than `parallelism`
  * fitted models are held at once, and a failed fit or release must
  * release the siblings that did fit; each evaluation is recorded in
  * [[Hyperband.ashaTrace]] in config order.
  */
class HyperbandSyncSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def tinyDs: SurvDataset = {
    import spark.implicits._
    val rng = new Random(3)
    val rows = (0 until 40).map { i =>
      (i.toLong, rng.nextDouble(), rng.nextDouble() * 2.0, rng.nextInt(2))
    }
    SurvDataset.fromDataFrame(rows.toDF("idx", "x1", "time", "event"),
      Seq(col("idx")), "time", "event", features = Some(Seq("x1")))
  }

  /** `inner`'s real fits, counting fitted and released models; each
    * finished fit counts `fitted` down.
    */
  private final class Counted(inner: ModelFactory, fitted: CountDownLatch,
                              released: AtomicInteger) extends ModelFactory {
    val name: String = inner.name
    val space: Seq[Param] = inner.space
    def build(params: Map[String, Any], epochs: Int): SurvModel = {
      val m = inner.build(params, epochs)
      new SurvModel {
        def name: String = m.name
        def hyperparameterSpace: Seq[Param] = m.hyperparameterSpace
        def fit(ds: SurvDataset): FittedSurvModel = {
          val f = m.fit(ds)
          fitted.countDown()
          new FittedSurvModel {
            override def release(): Unit = { released.incrementAndGet(); f.release() }
            def predictSurv(t: DataFrame, g: Array[Double]): DataFrame = f.predictSurv(t, g)
          }
        }
      }
    }
  }

  /** Every fit throws, once `siblings` has counted down (so the rung
    * holds fitted siblings when it fails).
    */
  private final class Failing(siblings: CountDownLatch) extends ModelFactory {
    val name = "failing"
    val space: Seq[Param] = ModelFactory.coxPH.space
    def build(params: Map[String, Any], epochs: Int): SurvModel = new SurvModel {
      def name: String = Failing.this.name
      def hyperparameterSpace: Seq[Param] = space
      def fit(ds: SurvDataset): FittedSurvModel = {
        siblings.await(60, TimeUnit.SECONDS)
        throw new IllegalStateException("failing fit")
      }
    }
  }

  /** Stub fits, no Spark work: each fitted model scores by its own
    * `score` (its `predictSurv` throws), counts itself in `live` until
    * released, and `maxLive` keeps the high-water mark. The release of
    * the `failRelease`-th fitted model (1-based; 0 = none) throws.
    */
  private final class Held(live: AtomicInteger, maxLive: AtomicInteger,
                           failRelease: Int = 0) extends ModelFactory {
    val name = "held"
    val space: Seq[Param] = Seq(FloatP("lr", 0.0, 1.0))
    private val fits = new AtomicInteger()
    def build(params: Map[String, Any], epochs: Int): SurvModel = new SurvModel {
      def name: String = Held.this.name
      def hyperparameterSpace: Seq[Param] = space
      def fit(ds: SurvDataset): FittedSurvModel = {
        val nth = fits.incrementAndGet()
        val now = live.incrementAndGet()
        maxLive.getAndUpdate(m => math.max(m, now))
        val lr = params.getOrElse("lr", 0.5).asInstanceOf[Double]
        new FittedSurvModel {
          private var released = false
          override def release(): Unit = synchronized {
            if (!released) { released = true; live.decrementAndGet() }
            if (nth == failRelease) throw new IllegalStateException("failing release")
          }
          def predictSurv(t: DataFrame, g: Array[Double]): DataFrame =
            throw new UnsupportedOperationException("stub")
          override def score(ds: SurvDataset): Map[String, Double] =
            Map("c_index" -> (0.5 + 0.4 * math.sin(lr * 37.0 + epochs)), "brier_score" -> 0.1)
        }
      }
    }
  }

  test("a rung of nine configs holds at most parallelism fitted models") {
    val live = new AtomicInteger()
    val maxLive = new AtomicInteger()
    // maxIter 9, eta 3: the first bracket's first rung has nine configs
    val hb = new Hyperband(seeds = Seq(new Held(live, maxLive)), maxIter = 9, eta = 3,
      outputEpochs = 9, seedRng = 42L, parallelism = 2)
    hb.selectModel(tinyDs).release()
    assert(hb.ashaTrace.count(e => e._1 == 2 && e._2 == 0) == 9, hb.ashaTrace.toString)
    assert(maxLive.get() == 2, s"held at most ${maxLive.get()} fitted models at once")
    assert(live.get() == 0, s"${live.get()} fitted models left unreleased")
  }

  test("a failed release fails the search after releasing its siblings") {
    val live = new AtomicInteger()
    val maxLive = new AtomicInteger()
    val hb = new Hyperband(seeds = Seq(new Held(live, maxLive, failRelease = 1)),
      maxIter = 9, eta = 3, outputEpochs = 9, seedRng = 42L, parallelism = 4)
    val e = intercept[IllegalStateException](hb.selectModel(tinyDs))
    assert(e.getMessage == "failing release", e.toString)
    assert(maxLive.get() == 4 && live.get() == 0,
      s"held at most ${maxLive.get()}, left ${live.get()} unreleased")
  }

  for (parallelism <- Seq(1, 4)) {
    test(s"a failed fit fails the search and releases its fitted siblings (parallelism $parallelism)") {
      val ds = tinyDs
      // maxIter 3, eta 3: the first rung holds two CoxPH configs, then
      // two failing ones
      val fitted = new CountDownLatch(2)
      val released = new AtomicInteger()
      val hb = new Hyperband(
        seeds = Seq(new Counted(ModelFactory.coxPH, fitted, released), new Failing(fitted)),
        maxIter = 3, eta = 3, outputEpochs = 3, seedRng = 42L, parallelism = parallelism)
      val rdds = spark.sparkContext.getPersistentRDDs.keySet
      val plans = CacheProbe.cachedPlans(spark)
      val e = intercept[IllegalStateException](hb.selectModel(ds))
      assert(e.getMessage == "failing fit", e.toString)
      assert(fitted.getCount == 0 && released.get() == 2,
        s"fitted ${2 - fitted.getCount}, released ${released.get()}")
      val newRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet -- rdds
      val newPlans = CacheProbe.cachedPlans(spark) - plans
      assert(newRdds.isEmpty && newPlans <= 0,
        s"left behind: persisted RDDs $newRdds, cached plans $newPlans")
    }
  }

  test("the sync trace records each evaluation in config order (churn sf0.001)") {
    val ds = graft.surv.ChurnView.dataset(spark, "/root/testdata/sf0.001")
    val hb = new Hyperband(maxIter = 3, eta = 3, outputEpochs = 3, seedRng = 42L)
    hb.selectModel(ds).release()
    val trace = hb.ashaTrace.toList
    assert(trace.size == 7, trace.mkString("\n"))
    val rungs = trace.map(e => (e._1, e._2, e._3))
    val sizes = rungs.foldLeft(List.empty[((Int, Int, Int), Int)]) {
      case ((r, n) :: rest, x) if r == x => (r, n + 1) :: rest
      case (acc, x) => (x, 1) :: acc
    }.reverse
    assert(sizes == List(((1, 0, 1), 3), ((1, 1, 3), 1), ((0, 0, 3), 3)),
      s"rungs (s, i, epochs) -> configs: $sizes")
    // the first rung evaluates each family's default config, in seed order
    assert(trace.take(3).map(_._4) == ModelFactory.defaults.map(_.name + "|"),
      trace.take(3).toString)
    assert(hb.bestScore == trace.map(_._5).max, s"${hb.bestScore} vs $trace")
  }
}
