package graft.surv

import graft.SparkTestBase
import graft.core.Pins
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ChurnViewSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("the memoized dataset's split is stable after the scope that built it") {
    // the three tables the view reads, in a directory of this test's
    // own, so no other suite's cache of the same plans holds the
    // partitioning in its place
    val dir = java.nio.file.Files.createTempDirectory("churnview-spec")
    try {
      val customers = spark.range(0, 400)
      customers.select(col("id").as("c_custkey"), (col("id") % 5).as("c_nationkey"),
          (col("id") * 7 % 1000 / 10.0).as("c_acctbal"),
          concat(lit("SEG"), (col("id") % 3).cast("string")).as("c_mktsegment"))
        .write.parquet(s"$dir/customer.parquet")
      spark.range(0, 5).select(col("id").as("n_nationkey"),
          concat(lit("N"), col("id").cast("string")).as("n_name"))
        .write.parquet(s"$dir/nation.parquet")
      customers.select(col("id").as("o_custkey"),
          explode(sequence(lit(0L), col("id") % 4)).as("k"))
        .select(col("o_custkey"),
          date_add(lit("1995-01-01").cast("date"),
            ((col("o_custkey") * 37 + col("k") * 101) % 700).cast("int"))
            .cast("string").as("o_orderdate"),
          ((col("o_custkey") + col("k")) * 13 % 5000 + 0.25).as("o_totalprice"))
        .write.parquet(s"$dir/orders.parquet")
      // a session of its own (the memo is per session), whose range
      // exchanges sample few bounds: a recompute then picks new ones
      val s = spark.newSession()
      s.conf.set("spark.sql.execution.rangeExchange.sampleSizePerPartition", "1")
      val ds = Pins.scoped(ChurnView.dataset(s, dir.toString))
      def testRows: Seq[(Long, Long)] =
        ds.test.select(col("id"), col("rn")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2).toSeq
      // every customer has an order, and rn follows id from 0
      val want = (360L until 400L).map(i => (i, i))
      assert(testRows == want)
      assert(testRows == want, "a second read moved the split")
    } finally {
      val files = java.nio.file.Files.walk(dir)
      try files.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally files.close()
    }
  }
}
