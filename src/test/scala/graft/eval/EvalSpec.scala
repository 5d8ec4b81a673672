package graft.eval

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed golden values for the evaluators (SURVEY §2.7). */
class EvalSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("RMST: exact step integral, horizon caps, pre-knot horizon") {
    import spark.implicits._
    // KM: S=0.5 from t=1 (1 event of 2 at risk); censor at t=3
    val df = Seq((1, 1), (3, 0)).toDF("t", "e")
    def rmstAt(h: Double): Double =
      KaplanMeier.rmst(df, "t", "e", h).head().getDouble(1)
    // tau=2: 1*[0,1) + 0.5*[1,2) = 1.5
    assert(math.abs(rmstAt(2.0) - 1.5) < 1e-9)
    // tau=4: 1*[0,1) + 0.5*[1,4) = 2.5 (knot at 3 changes nothing, d=0)
    assert(math.abs(rmstAt(4.0) - 2.5) < 1e-9)
    // horizon before the first knot: S=1 throughout
    assert(math.abs(rmstAt(0.5) - 0.5) < 1e-9)
  }

  test("RMST linear next-knot scan: many knots, partition-independent, " +
    "matches a sequential integral") {
    import spark.implicits._
    // continuous-time regime: 2000 distinct knots, far more than the
    // shuffle width, so in-partition shifts AND boundary carries both
    // fire (the old quadratic broadcast join is gone)
    val data = (1 to 2000).map(i =>
      (i * 0.173 + (i % 11) * 0.003, if (i % 3 == 0) 0 else 1))
    val horizon = 250.0
    // sequential ground truth: textbook KM product over ascending
    // distinct times + rectangle integral — no partition machinery,
    // no shift, no carry (shares no code path with the engine)
    val byT = data.groupBy(_._1).view
      .mapValues(g => (g.map(_._2).sum, g.size)).toSeq.sortBy(_._1)
    var atRisk = data.size.toLong
    var s = 1.0
    val knots = byT.map { case (t, (d, m)) =>
      s = s * (1.0 - d.toDouble / atRisk); atRisk -= m; (t, s)
    }.filter(_._1 < horizon)
    val expected = knots.headOption.map(_._1).getOrElse(horizon) +
      knots.indices.map { i =>
        val (t, sv) = knots(i)
        val nxt = if (i + 1 < knots.size) knots(i + 1)._1 else horizon
        sv * (nxt - t)
      }.sum
    val df = data.toDF("t", "e")
    // partition independence: different shuffle widths, with AQE
    // coalescing off, move the partition boundaries the carry must
    // bridge (atWidth restores the SHARED session's confs — leaking
    // them into later suites would make plan-shape assertions
    // order-dependent)
    val got = Seq(3, 7).map { np =>
      SparkTestBase.atWidth(np)(
        KaplanMeier.rmst(df, "t", "e", horizon).head().getDouble(1))
    }
    assert(got.distinct.size == 1,
      s"rmst not partition-independent: $got")
    // 6dp pre-rounding of S bounds the divergence at 5e-7 * horizon
    assert(math.abs(got.head - expected) < 1e-3,
      s"got ${got.head}, sequential $expected")
  }

  test("KM curve matches hand computation") {
    import spark.implicits._
    val df = Seq((1, 1), (2, 0), (3, 1), (3, 1), (4, 0)).toDF("t", "e")
    val got = KaplanMeier.curve(df, "t", "e").orderBy("t").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got(0) == (1.0, 1L, 5L, 0.8))
    assert(got(1) == (2.0, 0L, 4L, 0.8))
    assert(got(2)._2 == 2L && got(2)._3 == 3L)
    assert(math.abs(got(2)._4 - 0.8 / 3.0) < 1e-12)
    assert(math.abs(got(3)._4 - 0.8 / 3.0) < 1e-12) // censoring-only time
  }

  test("KM survival is monotone non-increasing in [0,1] (churn sf0.001)") {
    val churn = graft.surv.ChurnView.build(spark, "/root/testdata/sf0.001")
    val s = KaplanMeier.curve(churn, "t", "e").orderBy("t")
      .collect().map(_.getDouble(3))
    assert(s.forall(v => v >= 0.0 && v <= 1.0))
    assert(s.sliding(2).forall { case Array(a, b) => b <= a + 1e-15; case _ => true })
  }

  test("Harrell C-index matches hand computation incl. tie credit") {
    import spark.implicits._
    val df = Seq((1.0, 1, 3.0), (2.0, 1, 1.0), (3.0, 0, 2.0)).toDF("t", "e", "r")
    val row = Concordance.harrell(df, "t", "e", "r").head()
    assert(row.getLong(0) == 3L)
    assert(row.getDouble(1) == 2.0)
    assert(math.abs(row.getDouble(2) - 2.0 / 3.0) < 1e-12)
    val tied = Seq((1.0, 1, 2.0), (2.0, 1, 2.0)).toDF("t", "e", "r")
    assert(Concordance.harrell(tied, "t", "e", "r").head().getDouble(1) == 0.5)
  }

  test("step lookup: fused binary-search path equals the distributed scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // curve with knots at 1, 3, 5; points hit every edge: null,
    // before-first, exact-knot, between-knots, after-last
    val curve = Seq((1.0, 0.9), (3.0, 0.6), (5.0, 0.2))
      .toDF("t", "s")
    val pts = Seq[(Int, Option[Double])](
      (0, None), (1, Some(0.5)), (2, Some(1.0)), (3, Some(2.0)),
      (4, Some(3.0)), (5, Some(4.5)), (6, Some(5.0)), (7, Some(9.0)))
      .toDF("id", "at")
    // the distributed scan at widths 3 and 7 with AQE coalescing off,
    // so its carry crosses partition boundaries
    for (np <- Seq(3, 7); strict <- Seq(false, true)) SparkTestBase.atWidth(np) {
      val fused = KaplanMeier.lookup(pts, "at", curve, strict, "g")
        .orderBy("id").select(col("id"), col("g")).collect()
        .map(r => (r.getInt(0), r.getDouble(1)))
      val dist = KaplanMeier.lookup(pts, "at", curve, strict, "g",
          smallCap = 0)
        .orderBy("id").select(col("id"), col("g")).collect()
        .map(r => (r.getInt(0), r.getDouble(1)))
      assert(fused.toSeq == dist.toSeq, s"strict=$strict width=$np")
      // hand values: null→1, before-first→1, knot inclusive vs strict
      val byId = fused.toMap
      assert(byId(0) == 1.0 && byId(1) == 1.0)
      assert(byId(2) == (if (strict) 1.0 else 0.9)) // at == first knot
      assert(byId(3) == 0.9)
      assert(byId(4) == (if (strict) 0.9 else 0.6))
      assert(byId(5) == 0.6)
      assert(byId(6) == (if (strict) 0.6 else 0.2))
      assert(byId(7) == 0.2)
    }
  }

  test("Brier: perfect step prediction on uncensored data scores 0") {
    import spark.implicits._
    // two uncensored subjects; S(τ|x)=1{τ<t_i} is the perfect predictor
    val df = Seq((1L, 2.0, 1), (2L, 4.0, 1)).toDF("id", "t", "e")
    val grid = Array(1.0, 2.0, 3.0, 4.0)
    val surv = df.as[(Long, Double, Int)].flatMap { case (id, t, _) =>
      grid.zipWithIndex.map { case (tau, i) =>
        (id, i, tau, if (tau < t) 1.0 else 0.0) }
    }.toDF("id", "tau_idx", "tau", "s")
    val bs = BrierScore.grid(df, "id", "t", "e", surv, grid)
      .orderBy("tau_idx").collect().map(_.getDouble(2))
    assert(bs.forall(math.abs(_) < 1e-12))
  }
}
