package graft.core

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r20 exploding-stage width contract: rows-proportional,
  * floored at 1, capped at min(session shuffle width, 2× cores) — the
  * cap is what guarantees full machine width at corpus scale while a
  * probe-scale input gets probe-scale parallelism (the r19 verdict's
  * pre-explosion-bytes blind spot, OPTIMIZATION_r20.md change 1).
  */
class WidthSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val Knob = "SPARK_GRAFT_EXPLODE_WIDTH"

  private def cap: Int = {
    val sessionParts =
      spark.conf.get("spark.sql.shuffle.partitions").toLong
    math.max(1L, math.min(sessionParts,
      2L * spark.sparkContext.defaultParallelism)).toInt
  }

  test("explode caps at min(session shuffle width, 2x cores)") {
    assert(Width.explode(spark) === cap)
    assert(Width.explode(spark) >= 1)
  }

  test("explodeRows: floor 1, rows-proportional, machine-width cap") {
    assert(Width.explodeRows(spark, 0L, 75000L) === 1)
    assert(Width.explodeRows(spark, 74999L, 75000L) === 1)
    // proportional region (clamped by the cap when the cap is small)
    val mid = Width.explodeRows(spark, 75000L * 3, 75000L)
    assert(mid === math.min(4, cap))
    // a corpus-scale count always binds at the cap
    assert(Width.explodeRows(spark, Long.MaxValue / 2, 75000L) === cap)
  }

  test("SPARK_GRAFT_EXPLODE_WIDTH: a positive integer replaces the " +
      "derived width without computing it; anything else names the knob") {
    assert(Width.fixedOr(Knob, Some("6"))(fail("derived width computed")) === 6)
    assert(Width.fixedOr(Knob, Some(" 3 "))(fail("derived width computed")) === 3)
    assert(Width.fixedOr(Knob, None)(5) === 5)
    for (bad <- Seq("0", "-2", "wide", "", "2.5")) {
      val e = intercept[IllegalArgumentException](Width.fixedOr(Knob, Some(bad))(5))
      assert(e.getMessage.contains("SPARK_GRAFT_EXPLODE_WIDTH"), e.getMessage)
    }
  }
}
