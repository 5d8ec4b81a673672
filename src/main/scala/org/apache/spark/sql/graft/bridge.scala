package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Spark internals needed to expose custom
  * Catalyst expressions as user-facing Columns (the standard
  * Spark-extension packaging technique: a tiny shim compiled into the
  * org.apache.spark.sql namespace).
  */
object bridge {
  /** private[sql] type surfaced for expressions outside the sql pkg. */
  type SqlAbstractDataType = org.apache.spark.sql.types.AbstractDataType

  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a custom expression as a SQL-callable function. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Whether `ds`'s canonical plan already has a CacheManager entry
    * (live or being built). Used by graft.core.Pins to make pin()
    * idempotent: a second persist of an already-cached plan would log
    * "Asked to cache already cached data" and silently no-op, leaving
    * two owners believing they hold the release.
    */
  def isCached(ds: org.apache.spark.sql.Dataset[_]): Boolean = {
    val d = ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    d.sparkSession.sharedState.cacheManager.lookupCachedData(d).isDefined
  }

  /** `newSession()` clone that PRESERVES the caller's runtime SQL
    * conf. A bare clone initializes its SQLConf from the SparkConf
    * only, so anything the caller set at runtime via `spark.conf.set`
    * (ANSI mode, AQE toggles, session timezone, broadcast threshold)
    * would silently revert to defaults inside the clone. Every parent
    * entry is copied; static/immutable entries throw on set and are
    * skipped (the clone already shares them through the context's
    * SparkConf). Callers then override only their own knobs (q_profile:
    * its scan's split packing).
    *
    * The static-conf guard is matched by error-class PREFIX
    * `CANNOT_MODIFY` and skipped silently — that is the expected,
    * per-entry-normal case. (Spark's guard actually throws
    * CANNOT_MODIFY_STATIC_CONFIG for static entries like
    * `spark.sql.warehouse.dir`; an exact match on the sibling class
    * CANNOT_MODIFY_CONFIG — the r18 shape — logged the expected case
    * 27× per run, training readers to ignore the channel. The prefix
    * covers both classes and any future split of the guard.) Any
    * OTHER non-fatal set failure is still skipped (a reclassified
    * guard on a future Spark must not crash every caller that
    * clones a session, over an entry the clone already inherits
    * through the shared SparkConf) but is reported through
    * `onUnexpectedSkip` (default: stderr): a mutable,
    * semantics-bearing conf (ANSI mode, timezone) failing for a
    * transient or validation reason would otherwise leave the
    * clone silently diverging from the caller's session. The handler
    * parameter exists so specs can assert the expected path is SILENT
    * by capture instead of grepping stderr.
    */
  def sessionClone(spark: org.apache.spark.sql.SparkSession,
                   onUnexpectedSkip: (String, Throwable) => Unit =
                     (k, e) =>
                       System.err.println(s"[bridge] sessionClone: skipped " +
                         s"conf '$k' (${e.getClass.getSimpleName}: " +
                         s"${e.getMessage})")):
      org.apache.spark.sql.SparkSession = {
    val clone = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      try clone.conf.set(k, v)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).exists(_.startsWith("CANNOT_MODIFY")) =>
          ()
        case scala.util.control.NonFatal(e) => onUnexpectedSkip(k, e)
      }
    }
    clone
  }

  /** Block until the async listener bus has dispatched every queued
    * event. SparkListener delivery is asynchronous even in local mode,
    * so task-metrics deltas snapped right after an action returns can
    * miss tail onTaskEnd events (they would then bleed into the NEXT
    * run's window). Measurement tools drain before snapping.
    *
    * Bounded wait: the no-arg `waitUntilEmpty()` throws
    * TimeoutException after a 10 s default when the bus is backed up —
    * uncaught, that would abort a whole timing run (Profile) or mark a
    * successfully-executed query FAILED (Bench) over a measurement
    * side-channel hiccup. A generous 120 s bound plus a logged
    * fall-back to an undrained snap keeps the run alive; the snap is
    * then at worst missing tail task events, which the min-of-N
    * methodology already tolerates.
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty(120000L)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println("[bridge] listener bus drain timed out after " +
          "120 s — snapping task metrics undrained")
    }

  /** Raise a user-facing AnalysisException from a function builder —
    * bad SQL arguments should fail analysis with a readable message,
    * not surface as IndexOutOfBounds/ClassCast from planner internals.
    */
  def analysisError(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "INTERNAL_ERROR", messageParameters = Map("message" -> msg))
}
