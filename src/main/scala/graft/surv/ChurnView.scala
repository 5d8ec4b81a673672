package graft.surv

import graft.core.{Pins, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The deterministic survival task over the driver testdata — the
  * engine's stand-in for the reference's churn example
  * (reference: README.md:48-61, tutorial_1): per customer,
  * time-to-event and an event flag derived from `orders`, features
  * from `customer` ⋈ `nation`.
  *
  *   t = days(first_order → last_order) + 1   (tenure)
  *   e = 1 if last_order is > 90 days before the global max order
  *       date (churned), else 0 (right-censored)
  *
  * Every derivation is plain relational algebra, identical in Spark
  * and DuckDB (see [[sql]]), so the whole survival pipeline downstream
  * of it stays oracle-checkable. Monetary sums go through
  * DECIMAL(18,2) so they are EXACT (engine-independent) before the
  * final cast to double.
  *
  * Scale notes: one shuffle for the orders group-by (keyed on
  * o_custkey, map-side partial agg); the global max date is a 1-row
  * broadcast cross join (no collect); nation is broadcast. At 100 TB
  * the orders→customer join shuffles on the same key the group-by
  * already partitioned by, so no extra exchange.
  */
object ChurnView {

  val ChurnDays = 90

  def build(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")
    val nation = Tables.load(spark, dir, "nation")

    val co = orders.groupBy(col("o_custkey")).agg(
      min(to_date(col("o_orderdate"))).as("first_order"),
      max(to_date(col("o_orderdate"))).as("last_order"),
      count(lit(1)).as("n_orders"),
      sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .cast("double").as("total_spent"))

    // global max order date: a SCALAR SUBQUERY — planned as its own
    // tiny subquery job whose 1-row result substitutes as a literal,
    // so the main scan carries no join at all (not even a broadcast).
    // Computed from the RAW orders scan (shuffle-free partial-max),
    // not from `co`: max over co's last_order equals max(o_orderdate)
    // exactly, and referencing co here would re-execute the orders
    // group-by once for the subquery and once for the main plan.
    val mx = orders.agg(max(to_date(col("o_orderdate"))).as("max_date"))

    co.withColumn("max_date", mx.scalar())
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(
        col("c_custkey").as("id"),
        (datediff(col("last_order"), col("first_order")) + lit(1)).as("t"),
        when(datediff(col("max_date"), col("last_order")) > ChurnDays, 1)
          .otherwise(0).as("e"),
        col("c_acctbal"),
        col("n_orders"),
        col("total_spent"),
        col("c_mktsegment"),
        col("n_name"))
  }

  /** The SurvDataset over the churn view: order key = id, features
    * inferred (sorted: c_acctbal, c_mktsegment, n_name, n_orders,
    * total_spent), 90/10 ordered split.
    */
  // The fitted SurvDataset is deterministic per (session, dir) —
  // memoize so the many queries sharing it don't refit encoders /
  // recount (the reference re-fits on every copy(); SURVEY §4.2.3
  // flags that as a pure perf artifact).
  // WEAK keys on the session, SOFT refs on the values: a SurvDataset
  // holds DataFrames that strongly reference its session, so a plain
  // WeakHashMap value would pin its own key forever. The SoftReference
  // breaks that value→key chain — once the caller drops the session,
  // the only path to it runs through the soft ref, which the GC clears
  // under memory pressure and the weak key follows. A cleared soft ref
  // just means a refit on next use (the memo is a perf cache, not
  // state). Access synchronized — WeakHashMap is not thread-safe and
  // Verify/Bench/Hyperband share the memo.
  // The split's rn offsets fit only the pinned partitioning (a recompute
  // may range-partition differently), so a memoized dataset keeps its
  // pins: they go to a `Pins.held` release that is never called.
  private val cache =
    new java.util.WeakHashMap[SparkSession, java.lang.ref.SoftReference[
      scala.collection.mutable.Map[(String, Double), SurvDataset]]]()

  def dataset(spark: SparkSession, dir: String,
              trainRatio: Double = 0.9): SurvDataset = cache.synchronized {
    val perSession = {
      val ref = cache.get(spark)
      val cur = if (ref != null) ref.get() else null
      if (cur != null) cur
      else {
        val m = scala.collection.mutable.Map.empty[(String, Double), SurvDataset]
        cache.put(spark, new java.lang.ref.SoftReference(m))
        m
      }
    }
    perSession.getOrElseUpdate((dir, trainRatio),
      Pins.held(buildDataset(spark, dir, trainRatio))._1)
  }

  private def buildDataset(spark: SparkSession, dir: String,
                           trainRatio: Double): SurvDataset = {
    val df = build(spark, dir)
    // id is the order key, not a covariate: declare features
    // explicitly (same sorted order np.setdiff1d would give).
    val feats = df.columns.toSeq.diff(Seq("id", "t", "e")).sorted
    SurvDataset.fromDataFrame(df, Seq(col("id")),
      timeCol = "t", eventCol = "e", features = Some(feats),
      trainRatio = trainRatio)
  }

  /** DuckDB-equivalent CTE prefix defining `churn` (and `churn_rn`
    * with the stable 0-based row number). Oracle SQL for churn-based
    * queries appends its SELECT to this.
    */
  val sql: String =
    s"""WITH co AS (
       |  SELECT o_custkey,
       |         min(CAST(o_orderdate AS DATE)) AS first_order,
       |         max(CAST(o_orderdate AS DATE)) AS last_order,
       |         count(*) AS n_orders,
       |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
       |  FROM orders GROUP BY o_custkey),
       |mx AS (SELECT max(last_order) AS max_date FROM co),
       |churn AS (
       |  SELECT c_custkey AS id,
       |         CAST(date_diff('day', first_order, last_order) AS INT) + 1 AS t,
       |         CASE WHEN date_diff('day', last_order, max_date) > $ChurnDays
       |              THEN 1 ELSE 0 END AS e,
       |         c_acctbal, n_orders, total_spent, c_mktsegment, n_name
       |  FROM co CROSS JOIN mx
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey),
       |churn_rn AS (
       |  SELECT *, row_number() OVER (ORDER BY id) - 1 AS rn FROM churn)
       |""".stripMargin
}
