package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r20 distributed exact percentile
  * ([[Sketches.exactPercentiles]]) BIT-IDENTICAL to Spark's built-in
  * `percentile(v, array(...))` — values, count, null handling —
  * across duplicates (tie runs), multiple partitions, exact-integer
  * positions (p·(n−1) integral) and interpolated positions.
  */
class SketchQuantileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val percs = Seq(0.5, 0.9, 0.99)

  private def check(values: Seq[Option[Double]], parts: Int): Unit = {
    import spark.implicits._
    val df = values.toDF("v").repartition(parts)
    val builtin = df
      .agg(count(col("v")).as("n"),
        expr(s"percentile(v, array(${percs.mkString(",")}))").as("p"))
      .select(col("n") +:
        percs.indices.map(i => element_at(col("p"), i + 1)): _*)
      .collect()(0)
    val ours = Sketches.exactPercentiles(df, "v", percs).collect()(0)
    (0 to percs.size).foreach { i =>
      assert(builtin.isNullAt(i) === ours.isNullAt(i),
        s"null mismatch at col $i for n=${values.size}, parts=$parts")
      if (!builtin.isNullAt(i) && i > 0)
        assert(java.lang.Double.doubleToRawLongBits(builtin.getDouble(i))
          === java.lang.Double.doubleToRawLongBits(ours.getDouble(i)),
          s"bit mismatch at col $i: ${builtin.getDouble(i)} vs " +
            s"${ours.getDouble(i)}")
    }
    assert(builtin.getLong(0) === ours.getLong(0))
  }

  test("fuzz: equals the built-in bit-for-bit (ties, nulls, parts)") {
    val rnd = new scala.util.Random(20)
    for (n <- Seq(1, 2, 7, 100, 101, 1000); parts <- Seq(1, 5)) {
      val vals = Seq.tabulate(n) { _ =>
        if (rnd.nextInt(20) == 0) None // nulls skipped like the built-in
        else Some((rnd.nextInt(40) * 25.0) + // heavy tie runs
          (if (rnd.nextBoolean()) rnd.nextDouble() else 0.0))
      }
      check(vals, parts)
    }
  }

  test("empty and all-null inputs yield the built-in's NULL row") {
    check(Seq.empty, 1)
    check(Seq(None, None, None), 2)
  }

  test("exact-integer positions take the lower-value shortcut") {
    // n = 101 → p·(n−1) = 50 / 90 / 99 exactly — every position lands
    // on a row, no interpolation
    check((1 to 101).map(i => Some(i.toDouble)), 3)
  }

  test("a percentile outside [0, 1] is rejected, naming the value") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0).toDF("v")
    for (bad <- Seq(-0.1, 1.5, Double.NaN)) {
      val e = intercept[IllegalArgumentException] {
        Sketches.exactPercentiles(df, "v", Seq(0.5, bad))
      }
      assert(e.getMessage.contains(s"percentile $bad is outside [0, 1]"))
    }
  }
}
