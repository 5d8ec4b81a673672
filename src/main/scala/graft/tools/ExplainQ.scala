package graft.tools
object ExplainQ {
  def main(args: Array[String]): Unit = {
    graft.SparkEntry.requireKnown(args.toSeq.drop(1))
    val spark = graft.Session.builder("graft-explain").getOrCreate()
    // formatted explain of every named query, in order — the plan-
    // evidence format the optimization rounds commit under plans/
    args.drop(1).foreach { q =>
      println(s"==== $q ====")
      val df = graft.SparkEntry.queries(q)(spark, args(0))
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
