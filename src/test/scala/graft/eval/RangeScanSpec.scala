package graft.eval

import graft.SparkTestBase
import graft.model.CoxPH
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The distributed carry scans (KaplanMeier.curveExpr, CoxPH.breslow)
  * against two references on randomized, tie-heavy data — sequential
  * driver-side loops and single-partition windowed forms: counts must be exact, double accumulations equal to ~1e-12
  * relative (the carry combines per-partition partials, so the last
  * ulps may differ — that slack is the documented contract, absorbed
  * by consumers' round(6)). Each scan runs at widths 3 and 7 with AQE
  * coalescing off, so its carries really cross partition boundaries.
  */
class RangeScanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  // few distinct times → heavy ties; also exercises duplicate-t rows
  private def randomSurv(n: Int, seed: Int): Seq[(Double, Int, Double)] = {
    val rng = new Random(seed)
    (0 until n).map { _ =>
      (math.ceil(rng.nextDouble() * 40).toDouble, rng.nextInt(2),
        rng.nextDouble() * 2 - 1)
    }
  }

  test("distributed KM equals sequential KM on random tie-heavy data") {
    val data = randomSurv(4000, seed = 5)
    // ascending distinct times: d events, m subjects; n = subjects with
    // T >= t, s the running product of (1 - d/n)
    val byT = data.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (t, g) => (t, g.map(_._2.toLong).sum, g.size.toLong) }
    var atRisk = data.size.toLong
    var s = 1.0
    val want = byT.map { case (t, d, m) =>
      val n = atRisk
      s = s * (1.0 - d.toDouble / n.toDouble)
      atRisk -= m
      (t, d, n, s)
    }

    import spark.implicits._
    val df = data.toDF("t", "e", "r")
    for (np <- Seq(3, 7)) SparkTestBase.atWidth(np) {
      val curve = KaplanMeier.curve(df, "t", "e")
      assert(curve.rdd.getNumPartitions > 1, s"width $np: one partition")
      val got = curve.orderBy("t").collect().map(r =>
        (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

      assert(got.length == want.length && got.nonEmpty)
      got.zip(want).foreach { case ((t1, d1, n1, s1), (t2, d2, n2, s2)) =>
        assert(t1 == t2 && d1 == d2 && n1 == n2, s"counts at t=$t1")
        assert(math.abs(s1 - s2) <= 1e-12 * math.max(1.0, math.abs(s2)),
          s"s at t=$t1: $s1 vs $s2")
      }
    }
  }

  test("distributed Breslow equals sequential Breslow on random data") {
    val data = randomSurv(4000, seed = 9)
    // descending distinct times: w_t = Σ e^r, S0 = running Σ w_t; then
    // ascending over the event times: H0 = running Σ d / S0
    var s0 = 0.0
    val h0s = data.groupBy(_._1).toSeq.sortBy(-_._1).flatMap { case (t, g) =>
      s0 += g.map(x => math.exp(x._3)).sum
      val d = g.map(_._2.toLong).sum
      if (d > 0) Some(t -> d.toDouble / s0) else None
    }.reverse
    var h = 0.0
    val want = h0s.map { case (t, h0) => h += h0; (t, h) }

    import spark.implicits._
    val df = data.toDF("t", "e", "r")
    val sc = col("r") // linear score stand-in
    for (np <- Seq(3, 7)) SparkTestBase.atWidth(np) {
      val baseline = CoxPH.breslow(df, sc)
      assert(baseline.rdd.getNumPartitions > 1, s"width $np: one partition")
      val got = baseline.orderBy("t").collect().map(r => (r.getDouble(0), r.getDouble(1)))

      assert(got.length == want.length && got.nonEmpty)
      got.zip(want).foreach { case ((t1, h1), (t2, h2)) =>
        assert(t1 == t2, s"time $t1 vs $t2")
        assert(math.abs(h1 - h2) <= 1e-12 * math.max(1.0, math.abs(h2)),
          s"H0 at t=$t1: $h1 vs $h2")
      }
    }
  }

  test("distributed KM equals windowed KM on random tie-heavy data") {
    import spark.implicits._
    val df = randomSurv(4000, seed = 5).toDF("t", "e", "r")
    val w = Window.orderBy(col("t"))
    val want = df.groupBy(col("t").cast("double").as("t"))
      .agg(sum(col("e").cast("long")).as("d"), count(lit(1)).as("m"))
      .withColumn("n", sum(col("m")).over(
        w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("s", exp(sum(log(
        lit(1.0) - col("d").cast("double") / col("n").cast("double"))).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      .orderBy("t").collect().map(r =>
        (r.getDouble(0), r.getLong(1), r.getLong(3), r.getDouble(4)))

    for (np <- Seq(3, 7)) SparkTestBase.atWidth(np) {
      val curve = KaplanMeier.curve(df, "t", "e")
      assert(curve.rdd.getNumPartitions > 1, s"width $np: one partition")
      val got = curve.orderBy("t").collect().map(r =>
        (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

      assert(got.length == want.length && got.nonEmpty)
      got.zip(want).foreach { case ((t1, d1, n1, s1), (t2, d2, n2, s2)) =>
        assert(t1 == t2 && d1 == d2 && n1 == n2, s"counts at t=$t1")
        assert(math.abs(s1 - s2) <= 1e-12 * math.max(1.0, math.abs(s2)),
          s"s at t=$t1: $s1 vs $s2")
      }
    }
  }

  test("distributed Breslow equals windowed Breslow on random data") {
    import spark.implicits._
    val df = randomSurv(4000, seed = 9).toDF("t", "e", "r")
    val sc = col("r") // linear score stand-in
    val wDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.select(col("t").cast("double").as("t"), col("e"),
        exp(sc).as("w"))
      .groupBy(col("t"))
      .agg(sum(col("w")).as("w_t"), sum(col("e").cast("long")).as("d"))
      .withColumn("s0", sum(col("w_t")).over(wDesc))
      .filter(col("d") > 0)
      .withColumn("h0", col("d").cast("double") / col("s0"))
      .withColumn("H0", sum(col("h0")).over(wAsc))
      // case-insensitive resolution: withColumn("H0") REPLACES "h0",
      // so the frame is (t, w_t, d, s0, H0)
      .orderBy("t").collect().map(r => (r.getDouble(0), r.getDouble(4)))

    for (np <- Seq(3, 7)) SparkTestBase.atWidth(np) {
      val baseline = CoxPH.breslow(df, sc)
      assert(baseline.rdd.getNumPartitions > 1, s"width $np: one partition")
      val got = baseline.orderBy("t").collect().map(r => (r.getDouble(0), r.getDouble(1)))

      assert(got.length == want.length && got.nonEmpty)
      got.zip(want).foreach { case ((t1, h1), (t2, h2)) =>
        assert(t1 == t2, s"time $t1 vs $t2")
        assert(math.abs(h1 - h2) <= 1e-12 * math.max(1.0, math.abs(h2)),
          s"H0 at t=$t1: $h1 vs $h2")
      }
    }
  }
}
