package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-adaptive stage width for operators whose OUTPUT explodes
  * relative to their shuffle input (per-basket C(k,2) pair generation,
  * wedge enumeration, within-bucket candidate joins).
  *
  * AQE's advisory-size coalescing is the right default wherever data
  * volume is roughly conserved across an exchange — but it sizes
  * reducers on the exchange's INPUT bytes, so a stage whose shuffle
  * input is small and whose join output is quadratic in group size
  * coalesces to ~1 reducer and runs the explosion nearly single-core
  * at EVERY scale where the input fits under the advisory size
  * (r19 verdict: q_copurchase/q_triangles/q_assoc_rules walls halved
  * at 9/16/37 tasks). The fix is problem knowledge AQE cannot have
  * (guide §8): pin the exploding stage's width at machine width via an
  * explicit repartition — a REPARTITION_BY_NUM origin AQE never
  * coalesces.
  */
object Width {

  /** Width for a pair/wedge-exploding exchange: full machine
    * parallelism (2× `defaultParallelism`, so one slow basket doesn't
    * straggle a whole core) capped by the session's configured shuffle
    * width — `spark.sql.shuffle.partitions` stays the production knob
    * that sizes corpus-scale shuffles, and an exploding stage never
    * exceeds what the session would have used before AQE coalescing.
    * No data-size term on purpose: the stage's COST is its output,
    * which no pre-execution statistic sees, and its input bytes (the
    * statistic AQE uses) are exactly the wrong signal.
    */
  def explode(spark: SparkSession): Int =
    fixedOr(Knob, sys.env.get(Knob)) {
      val sessionParts =
        spark.conf.get("spark.sql.shuffle.partitions").toLong
      math.max(1L, math.min(sessionParts,
        2L * spark.sparkContext.defaultParallelism)).toInt
    }

  /** [[explode]] with a data term: width grows with the COUNTED rows
    * of the (already pinned — so the count is one cheap
    * job, not a recompute) frame feeding the exploding join, over a
    * fine-grained per-task row target, floored at 1 and capped at
    * [[explode]]'s machine width. The target is small because an
    * exploding stage's cpu-per-input-row is orders above a scan's;
    * at corpus scale rows exceed cap × target long before the machine
    * fills, so the cap — not the local calibration — binds. Same
    * shape and caps as PageRank.loopWidth (rows in, width out), kept
    * separate because the loop helper's 2×cores cap is spec-pinned
    * with its own target semantics.
    */
  def explodeRows(spark: SparkSession, rows: => Long,
                  rowsPerTask: Long): Int =
    fixedOr(Knob, sys.env.get(Knob)) {
      math.max(1L, math.min(explode(spark).toLong,
        rows / rowsPerTask + 1L)).toInt
    }

  private val Knob = "SPARK_GRAFT_EXPLODE_WIDTH"

  /** An integer env knob `knob` whose value is `raw`: when set it must
    * be a positive integer and replaces the derived value, which is
    * then never computed (so `explodeRows` skips its row count).
    */
  private[graft] def fixedOr(knob: String, raw: Option[String])(
      derived: => Int): Int =
    raw match {
      case None => derived
      case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"$knob must be a positive integer, got '$v'"))
    }
}
