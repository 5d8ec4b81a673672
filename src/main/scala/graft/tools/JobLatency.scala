package graft.tools
/** Isolate the per-job driver-latency floor (r20, verdict item 3):
  * times raw RDD jobs, a no-shuffle SQL query, and a one-exchange SQL
  * aggregate, each repeated, with AQE on vs off — separating scheduler
  * cost, SQL/codegen cost, and AQE stage-materialization cost.
  * Usage: runMain graft.tools.JobLatency
  */
object JobLatency {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder("graft-job-latency").getOrCreate()
    def time(tag: String, n: Int)(f: => Unit): Unit = {
      val ts = (0 until n).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }
      println(f"LAT $tag%-28s ${ts.map(t => f"$t%.0f").mkString(" ")} ms")
    }
    val sc = spark.sparkContext
    time("rdd-count-32tasks", 8) { sc.parallelize(1 to 32, 32).count() }
    time("rdd-count-1task", 8) { sc.parallelize(1 to 1, 1).count() }
    val aqeOff = org.apache.spark.sql.graft.bridge.sessionClone(spark)
    aqeOff.conf.set("spark.sql.adaptive.enabled", "false")
    for ((s, tag) <- Seq((spark, "aqe-on"), (aqeOff, "aqe-off"))) {
      time(s"sql-noshuffle-$tag", 8) {
        s.range(100000).selectExpr("sum(id) as s")
          .queryExecution.executedPlan.execute().count()
      }
      time(s"sql-1exchange-$tag", 8) {
        s.range(100000).selectExpr("id % 97 as k")
          .groupBy("k").count()
          .queryExecution.executedPlan.execute().count()
      }
      time(s"sql-2exchange-$tag", 8) {
        s.range(100000).selectExpr("id % 97 as k")
          .groupBy("k").count().orderBy("k")
          .queryExecution.executedPlan.execute().count()
      }
    }
    spark.stop()
  }
}
