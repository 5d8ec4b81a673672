package graft

import graft.queries._
import graft.surv.ChurnView
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's declared operator surface (one entry per
  * SURVEY §2 operator); `oracleSql` holds the DuckDB-equivalent SQL
  * the driver hash-compares against at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The churn survival view (orders⋈customer⋈nation with
    * exact money sums) scored with a fixed-weight Cox risk — the
    * minimum §7.2 slice without iterative training.
    */
  def entry(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    val churn = ChurnView.build(spark, "/root/testdata/sf0.001")
    val lp = col("c_acctbal") * lit(-0.0001) +
      col("n_orders").cast("double") * lit(0.01) +
      col("total_spent") * lit(1.0e-7)
    churn.withColumn("risk", exp(lp))
  }

  private val providers: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (RelationalQueries.queries, RelationalQueries.oracles),
      (SurvQueries.queries, SurvQueries.oracles),
      (EvalQueries.queries, EvalQueries.oracles),
      (ModelQueries.queries, ModelQueries.oracles),
      (DiscreteQueries.queries, DiscreteQueries.oracles),
      (TextQueries.queries, TextQueries.oracles),
      (DedupQueries.queries, DedupQueries.oracles),
      (SimQueries.queries, SimQueries.oracles),
      (StreamQueries.queries, StreamQueries.oracles),
      (SketchQueries.queries, SketchQueries.oracles),
      (SelectQueries.queries, SelectQueries.oracles),
      (GraphQueries.queries, GraphQueries.oracles),
      (SinkQueries.queries, SinkQueries.oracles))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    providers.map(_._1).reduce(_ ++ _)

  /** Fails, naming them, when any of `names` is not a declared query —
    * mains call it before they start Spark.
    */
  def requireKnown(names: Seq[String]): Unit = {
    val unknown = names.filterNot(queries.contains).distinct.sorted
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown query name(s): ${unknown.mkString(", ")}")
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → rows-only check.
    */
  def oracleSql: Map[String, String] =
    providers.map(_._2).reduce(_ ++ _)
}
