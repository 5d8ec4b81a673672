package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r20 check-fusion contract (OPTIMIZATION_r20.md change 5):
  * several scalar checks fused into ONE aggregation pass over a shared
  * table produce exactly the rows (names, values, types) the separate
  * single-check plans produce — including the null conventions
  * (null-keyed rows don't violate uniqueness; nulls don't violate
  * accepted/range; completeness counts exactly the nulls).
  */
class QualityChecksFusedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("fused == separate, row for row") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("O"), Some(0.05)),
      (Some(1L), Some("F"), Some(0.20)),   // dup key + out-of-range
      (Some(2L), Some("X"), None),         // rejected status, null range
      (None, None, Some(-0.01))            // null key/status, below range
    ).toDF("k", "status", "disc")
    val named = Seq(
      "unique_k" -> QualityChecks.uniquenessExpr(Seq("k")),
      "accepted_status" ->
        QualityChecks.acceptedExpr("status", Seq("O", "F", "P")),
      "range_disc" -> QualityChecks.rangeExpr("disc", 0.0, 0.1),
      "complete_k" -> QualityChecks.completenessExpr("k"))
    val fused = QualityChecks.fused(df, named)()
      .orderBy("check_name").collect()
    val separate = QualityChecks.run(Seq(
        QualityChecks.uniqueness("unique_k", df, Seq("k")),
        QualityChecks.accepted("accepted_status", df, "status",
          Seq("O", "F", "P")),
        QualityChecks.range("range_disc", df, "disc", 0.0, 0.1),
        QualityChecks.completeness("complete_k", df, "k")))
      .orderBy("check_name").collect()
    assert(fused.toSeq === separate.toSeq)
    val byName = fused.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName === Map("unique_k" -> 1L, "accepted_status" -> 1L,
      "range_disc" -> 2L, "complete_k" -> 1L))
  }

  test("fusing no checks fails when the check is built") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      QualityChecks.fused(Seq(1L).toDF("k"), Nil)
    }
    assert(e.getMessage.contains("no checks to fuse"))
  }
}
