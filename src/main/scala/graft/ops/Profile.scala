package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data profiling + declarative quality gates — the Deequ-style
  * "analyze then assert" pair a 100-TB ingest runs before letting a
  * batch into the corpus (the reference's dtype/NaN validation at
  * dataset admission, src/elastic_surv/dataset.py:70-88, is the
  * single-table special case).
  *
  * Scale shapes: [[summarize]] computes EVERY column's statistics in
  * ONE aggregation pass (count/null/min/max plus DECIMAL-exact sums
  * for numeric means; distincts ride the same pass via Spark's
  * Expand rewrite) and melts the 1-row result to long form with a
  * pure per-row stack — no second shuffle, no per-column jobs.
  * Checks are each one bounded aggregate (referential integrity is a
  * keyed anti-join count); [[QualityChecks.run]] unions their 1-row
  * results so the whole suite is a single action.
  */
object Profile {

  /** Long-form profile: one row per (column, metric). Numeric columns
    * report n/nulls/distinct/min/max/mean; other columns report
    * n/nulls/distinct plus min/max length. Values are doubles
    * (metric semantics in the name); `decScale` sets the DECIMAL
    * scale of the exact mean sums.
    *
    * `exactDistinct = true` (the oracle-checked default) routes every
    * distinct through Spark's Expand rewrite — one pass, but the
    * intermediate agg is keyed on the profiled columns themselves, so
    * its cost scales with Σ per-column cardinality. At 100 TB flip it
    * to false: `approx_count_distinct` (HyperLogLog++) keeps the whole
    * profile a constant-memory single pass with ~2% error on the one
    * metric where exactness rarely matters.
    */
  def summarize(df: DataFrame, cols: Seq[String],
                decScale: Int = 6,
                exactDistinct: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "summarize needs at least one column to profile")
    require(cols.forall(!_.contains("__")),
      "profiled column names must not contain '__' (the metric separator)")
    val fields = cols.map(c => c -> df.schema(c).dataType)
    val aggs: Seq[Column] = fields.flatMap { case (c, dt) =>
      val distinctAgg =
        if (exactDistinct) countDistinct(col(c))
        else approx_count_distinct(col(c))
      val base = Seq(
        count(col(c)).cast("double").as(s"${c}__n"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).cast("double")
          .as(s"${c}__nulls"),
        distinctAgg.cast("double").as(s"${c}__distinct"))
      dt match {
        case _: NumericType => base ++ Seq(
          min(col(c)).cast("double").as(s"${c}__min"),
          max(col(c)).cast("double").as(s"${c}__max"),
          (sum(col(c).cast(DecimalType(38, decScale))).cast("double") /
            count(col(c)).cast("double")).as(s"${c}__mean"))
        case StringType => base ++ Seq(
          min(length(col(c))).cast("double").as(s"${c}__min_len"),
          max(length(col(c))).cast("double").as(s"${c}__max_len"))
        case _ => base
      }
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val pairs = wide.columns.map { w =>
      val Array(c, m) = w.split("__", 2)
      s"'$c', '$m', `$w`"
    }.mkString(", ")
    // Null metric values (e.g. min of an all-null column) are emitted
    // as rows, not filtered: the profile's row set is the fixed
    // (column × metric) grid, matching the oracle's UNION ALL shape.
    wide.select(expr(
      s"stack(${wide.columns.length}, $pairs) AS (col_name, metric, value)"))
  }
}

/** Declarative data-quality checks; each evaluates to one
  * (check, violations) row, unioned by [[QualityChecks.run]].
  */
object QualityChecks {

  type CheckFn = () => DataFrame

  private def one(name: String, df: DataFrame): DataFrame =
    df.select(lit(name).as("check_name"), col("violations").cast("long"))

  /** non-null-keyed rows − countDistinct over the key tuple
    * (0 ⇔ unique). Null-keyed rows don't violate (the convention
    * every other check here uses): Spark's countDistinct excludes
    * tuples containing null, so counting ALL rows would flag every
    * null-keyed row as a duplicate.
    */
  def uniquenessExpr(cols: Seq[String]): Column =
    count(when(cols.map(c => col(c).isNotNull).reduce(_ && _), 1)) -
      countDistinct(cols.head, cols.tail: _*)

  def uniqueness(name: String, df: DataFrame, cols: Seq[String]): CheckFn =
    () => one(name, df.agg(uniquenessExpr(cols).as("violations")))

  /** null count (0 ⇔ complete). */
  def completenessExpr(c: String): Column =
    sum(when(col(c).isNull, 1L).otherwise(0L))

  def completeness(name: String, df: DataFrame, c: String): CheckFn =
    () => one(name, df.agg(completenessExpr(c).as("violations")))

  /** Several scalar checks over the SAME table fused into ONE
    * aggregation pass (r20; guide §2.4 — each separate check was its
    * own scan + aggregate + AQE stage job): every check contributes
    * its violations aggregate as a column, and the 1-row result
    * unpivots to the identical (check_name, violations) rows the
    * separate checks produce. Only for checks expressible as a scalar
    * aggregate over one table (uniqueness/completeness/accepted/
    * range) — referential stays a keyed anti-join.
    */
  def fused(df: DataFrame, named: Seq[(String, Column)]): CheckFn = {
    require(named.nonEmpty, "QualityChecks.fused: no checks to fuse")
    () => {
      val wide = df.agg(
        named.head._2.cast("long").as(named.head._1),
        named.tail.map { case (n, e) => e.cast("long").as(n) }: _*)
      wide.select(explode(array(named.map { case (n, _) =>
        struct(lit(n).as("check_name"), col(n).as("violations"))
      }: _*)).as("kv"))
        .select(col("kv.check_name"), col("kv.violations"))
    }
  }

  /** child keys with no parent — a keyed LEFT ANTI join count (the
    * optimizer broadcasts when the parent side is small).
    */
  def referential(name: String, child: DataFrame, childKey: String,
                  parent: DataFrame, parentKey: String): CheckFn =
    () => one(name, child.filter(col(childKey).isNotNull)
      .join(parent.select(col(parentKey).as(childKey)).distinct(),
        Seq(childKey), "left_anti")
      .agg(count(lit(1)).as("violations")))

  /** values outside the accepted set (nulls don't violate). */
  def acceptedExpr(c: String, values: Seq[String]): Column =
    sum(when(col(c).isNotNull && !col(c).isin(values: _*), 1L)
      .otherwise(0L))

  def accepted(name: String, df: DataFrame, c: String,
               values: Seq[String]): CheckFn =
    () => one(name, df.agg(acceptedExpr(c, values).as("violations")))

  /** values outside [lo, hi] (nulls don't violate). */
  def rangeExpr(c: String, lo: Double, hi: Double): Column =
    sum(when(col(c).isNotNull && (col(c) < lo || col(c) > hi), 1L)
      .otherwise(0L))

  def range(name: String, df: DataFrame, c: String,
            lo: Double, hi: Double): CheckFn =
    () => one(name, df.agg(rangeExpr(c, lo, hi).as("violations")))

  /** Evaluate every check and union the 1-row results. */
  def run(checks: Seq[CheckFn]): DataFrame =
    checks.map(_()).reduce(_ unionByName _)
}
