package graft.eval

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The sort-based C-index must equal the pair-join C-index exactly,
  * including risk ties (0.5 credit) and time ties (excluded), across
  * Harrell's bucket counts.
  */
class ScalableConcordanceSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def randomData(n: Int, seed: Long) = {
    import spark.implicits._
    val rng = new Random(seed)
    // coarse grids force plenty of ties in BOTH t and r
    (0 until n).map { _ =>
      (rng.nextInt(15).toDouble, rng.nextInt(2),
        rng.nextInt(8).toDouble / 4.0)
    }.toDF("t", "e", "r")
  }

  test("matches pair-join harrell exactly on tie-heavy data") {
    for ((n, seed, buckets) <- Seq((200, 1L, 4), (350, 2L, 16), (300, 3L, 1))) {
      val df = randomData(n, seed)
      val slow = Concordance.harrell(df, "t", "e", "r").head()
      val fast = ScalableConcordance.harrell(df, "t", "e", "r", buckets).head()
      assert(fast.getLong(0) == slow.getLong(0),
        s"comparable n=$n b=$buckets: ${fast.getLong(0)} != ${slow.getLong(0)}")
      assert(fast.getDouble(1) == slow.getDouble(1),
        s"concordant n=$n b=$buckets: ${fast.getDouble(1)} != ${slow.getDouble(1)}")
    }
  }

  test("matches pair-join antolini exactly on tie-heavy data") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    for ((n, seed) <- Seq((150, 4L), (250, 5L))) {
      val rng = new Random(seed)
      val df = (0 until n).map { i =>
        (i.toLong, 1.0 + rng.nextInt(15).toDouble, rng.nextInt(2),
          rng.nextInt(8).toDouble / 4.0)
      }.toDF("id", "t", "e", "r")
      val grid = Array(1.0, 4.0, 8.0, 12.0)
      // coarse survival values → plenty of score ties at each τ
      val g = grid.zipWithIndex.map(p => (p._2, p._1)).toSeq.toDF("tau_idx", "tau")
      val surv = df.crossJoin(g).select(col("id"), col("tau"),
        round(exp(-col("r") * col("tau") / 10.0), 1).as("s"))
      val slow = Concordance.antolini(df, "id", "t", "e", surv, grid).head()
      val fast = ScalableConcordance.antolini(df, "id", "t", "e", surv, grid).head()
      assert(fast.getLong(0) == slow.getLong(0),
        s"comparable n=$n: ${fast.getLong(0)} != ${slow.getLong(0)}")
      assert(fast.getDouble(1) == slow.getDouble(1),
        s"concordant n=$n: ${fast.getDouble(1)} != ${slow.getDouble(1)}")
    }
  }

  test("matches pair-join harrell on continuous time (range-scan carries)") {
    import spark.implicits._
    // continuous t: |distinct t| = n, so the global-suffix range scan
    // gets multi-row partitions and non-trivial cross-partition
    // carries (the tie-heavy fixture above has only 15 distinct times);
    // continuous r makes every ties-branch run a singleton. Widths 3
    // and 7 with AQE coalescing off spread the scan over partitions.
    for ((n, seed) <- Seq((400, 7L), (250, 8L)); np <- Seq(3, 7)) SparkTestBase.atWidth(np) {
      val rng = new Random(seed)
      val df = (0 until n).map { _ =>
        (rng.nextDouble() * 100.0, rng.nextInt(2), rng.nextDouble())
      }.toDF("t", "e", "r")
      val slow = Concordance.harrell(df, "t", "e", "r").head()
      val fast = ScalableConcordance.harrell(df, "t", "e", "r", 8).head()
      assert(fast.getLong(0) == slow.getLong(0),
        s"comparable n=$n width=$np: ${fast.getLong(0)} != ${slow.getLong(0)}")
      assert(fast.getDouble(1) == slow.getDouble(1),
        s"concordant n=$n width=$np: ${fast.getDouble(1)} != ${slow.getDouble(1)}")
    }
  }

  test("local Fenwick sweep counts strict inversions correctly") {
    // hand case: rows (t, e, r)
    val rows = Seq((1.0, 1, 2.0), (2.0, 0, 1.0), (2.0, 1, 3.0), (3.0, 0, 2.5))
    // event (t=1, r=2): j with t>1, r<2 → (2,0,1.0) → 1
    // event (t=2, r=3): j with t>2, r<3 → (3,0,2.5) → 1
    val (_, strict) = ScalableConcordance.bucketPairs(rows.map(_._1).toArray,
      rows.map(_._2 == 1).toArray, rows.map(_._3).toArray, rows.size)
    assert(strict == 2L)
  }

  /** The three fields of a (comparable, concordant, cindex) row, nulls
    * as None and doubles as raw bits.
    */
  private def fields(r: org.apache.spark.sql.Row): (Long, Option[Long], Option[Long]) = {
    def bits(i: Int) = Option(r.get(i)).map(v => java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double]))
    (r.getLong(0), bits(1), bits(2))
  }

  test("matches pair-join harrell exactly on NaN and signed-zero risks and times, at widths 3 and 7") {
    import spark.implicits._
    val rng = new Random(11L)
    val risks = Array(Double.NaN, -0.0, 0.0, 0.25, -0.25, 0.5)
    val times = Array(Double.NaN, -0.0, 0.0, 1.0, 2.0, 3.0)
    val specials = (0 until 300).map { _ =>
      (times(rng.nextInt(times.length)), rng.nextInt(2), risks(rng.nextInt(risks.length)))
    }.toDF("t", "e", "r")
    for (np <- Seq(3, 7)) SparkTestBase.atWidth(np) {
      for ((name, df) <- Seq("specials" -> specials, "tie-heavy" -> randomData(300, 12L));
           buckets <- Seq(1, 4, 16)) {
        val slow = fields(Concordance.harrell(df, "t", "e", "r").head())
        val fast = fields(ScalableConcordance.harrell(df, "t", "e", "r", buckets).head())
        assert(fast == slow, s"$name width=$np b=$buckets: $fast != $slow")
      }
    }
  }

  private def allCensored = {
    import spark.implicits._
    Seq((1.0, 0, 0.5), (2.0, 0, 0.1), (3.0, 0, 0.9)).toDF("t", "e", "r")
  }

  test("harrell with no comparable pair gives the pair join's row: comparable 0, nulls") {
    import spark.implicits._
    val single = Seq((1.0, 1, 0.5)).toDF("t", "e", "r")
    for ((name, df) <- Seq("all censored" -> allCensored, "one row" -> single)) {
      val slow = fields(Concordance.harrell(df, "t", "e", "r").head())
      assert(slow == ((0L, None, None)), s"$name: pair join $slow")
      assert(fields(ScalableConcordance.harrell(df, "t", "e", "r", 4).head()) == slow, name)
    }
  }

  test("antolini with no comparable pair gives the pair join's row: comparable 0, nulls") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ids = allCensored.withColumn("id", monotonically_increasing_id())
    val grid = Array(1.0, 2.0, 3.0)
    val surv = ids.crossJoin(grid.toSeq.toDF("tau")).select(col("id"), col("tau"), col("r").as("s"))
    val slow = fields(Concordance.antolini(ids, "id", "t", "e", surv, grid).head())
    assert(slow == ((0L, None, None)), s"pair join $slow")
    assert(fields(ScalableConcordance.antolini(ids, "id", "t", "e", surv, grid).head()) == slow)
  }

  test("harrell rejects a non-positive numBuckets, naming it") {
    val df = randomData(10, 1L)
    for (b <- Seq(0, -3)) {
      val e = intercept[IllegalArgumentException](ScalableConcordance.harrell(df, "t", "e", "r", b))
      assert(e.getMessage.contains(s"numBuckets=$b"), e.getMessage)
    }
  }

  test("one harrell call on a multi-partition input runs at most 8 jobs") {
    val df = randomData(400, 13L) // a local Seq: one input partition per core
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    SparkTestBase.atWidth(7) {
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
      sc.addSparkListener(l)
      try {
        ScalableConcordance.harrell(df, "t", "e", "r", 16).collect()
        org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
      } finally sc.removeSparkListener(l)
    }
    assert(n.get() <= 8, s"harrell ran ${n.get()} jobs")
  }
}
