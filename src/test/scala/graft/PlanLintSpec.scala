package graft

import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Board-wide physical-plan lint: EVERY `SparkEntry.queries` entry
  * executes at sf0.001 and its FINAL adaptive plan is swept for the
  * three scale-killers a 100-TB run cannot absorb:
  *
  *  - `CartesianProduct` — all-pairs row explosion, never acceptable;
  *  - `BroadcastNestedLoopJoin` outside the allow-list below — O(n·m)
  *    per task; only sound when the broadcast side is bounded by
  *    CONSTRUCTION (a scalar aggregate or a fixed grid), which is
  *    exactly what the allow-list documents per query;
  *  - unpartitioned `WindowExec` — `Window.orderBy` without
  *    `partitionBy` collapses the whole dataset into ONE task.
  *
  * [[PlanSpec]] pins targeted positive contracts (pushdown, broadcast,
  * codegen); this lint is the negative sweep that keeps the other ~150
  * queries from regressing silently. Traversal descends into AQE final
  * plans, materialized query stages, cached-relation build plans, and
  * subqueries — the places a lint that only stringifies the top-level
  * plan would miss.
  */
class PlanLintSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  /** Queries whose plan legitimately contains a BroadcastNestedLoopJoin.
    * Every entry is a non-equi or keyless join whose BROADCAST side is
    * bounded by construction — it cannot grow with the data, so the
    * nested loop is O(n · const). The value documents the bound.
    */
  private val bnlAllowed: Map[String, String] = Map(
    // --- 1-row scalar attaches (crossJoin(broadcast(<1-row agg>)):
    // the nested loop is O(n·1); Attach.scala documents the contract
    "q_assoc_rules" -> "1-row n_orders scalar attach",
    "q_cindex" -> "1-row pair-count scalar attach",
    "q_drift_kl" -> "1-row per-side total-count attach",
    "q_embed_quantize" -> "1-row collected per-dim min/max codebook attach",
    "q_feature_scale" -> "1-row min/max stats attach",
    "q_histogram" -> "1-row bin-edge stats attach",
    "q_mutual_info" -> "1-row total-count attach",
    "q_sketch_kmv" -> "1-row estimate + 1-row exact frames attach",
    "q_sketch_quantiles" -> "1-row sketch/exact frames attach",
    "q_text_lm_buckets" -> "1-row perplexity-threshold attach",
    "q_zonemap" -> "1-row zone stats attach",
    "q_zorder" -> "1-row dimension-bounds attach",
    // --- data-derived but structurally bounded broadcast sides:
    "q_avg_surv_curve" ->
      ("Breslow baseline grid attach — bounded by distinct churn event " +
        "times (day grid, ≤~365 rows regardless of subject count)"),
    "q_cox_surv" ->
      "Breslow baseline grid attach — same day-grid bound",
    "q_cum_users" ->
      ("calendar-day non-equi self-join — both sides ≤ |distinct days|, " +
        "bounded by the calendar, never the corpus"),
    "q_hybrid_topk" -> "bounded query-vector set broadcast (keyless score)",
    "q_sim_topk" -> "bounded query-vector set broadcast",
    "q_sim_recall" ->
      ("bounded query set broadcast on the brute-force ground-truth side " +
        "of the recall eval"),
    "q_pair_rank" ->
      ("batch×batch pair matrix — quadratic by DEFINITION (reference E6 " +
        "pair-rank semantics) over a bounded eval batch"),
    // --- brute-force parity baselines whose SCALE PATH is a separate
    // gate query (the whole point of keeping both):
    "q_dedup_embed_cos" ->
      ("all-pairs cosine baseline by design; scale path = " +
        "q_dedup_embed_lsh (bucket equi-join)"),
    "q_dedup_simhash_pairs" ->
      ("all-pairs Hamming baseline by design; scale paths = the " +
        "_bucketed variants (pigeonhole-block equi-joins)"))

  test("every gate query: no CartesianProduct, no unbounded BNL, " +
    "no unpartitioned Window") {
    // same session prep as graft.Verify: the shared churn dataset's
    // pins predate the per-query cache scopes
    graft.surv.ChurnView.dataset(spark, dir)
    val sc = spark.sparkContext
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val leaks = scala.collection.mutable.ArrayBuffer.empty[String]
    var ran = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val rddsBefore = sc.getPersistentRDDs.keySet
      val plansBefore = org.apache.spark.sql.graft.CacheProbe.cachedPlans(spark)
      graft.core.Pins.scoped {
        try {
          val df = fn(spark, dir)
          df.collect() // materialize: AQE decisions are final only now
          val nodes = PlanWalk.allNodes(df.queryExecution.executedPlan)
          ran += 1
          nodes.foreach {
            case _: CartesianProductExec =>
              failures += s"$name: CartesianProduct"
            case _: BroadcastNestedLoopJoinExec
                if !bnlAllowed.contains(name) =>
              failures += s"$name: BroadcastNestedLoopJoin not allow-listed"
            case w: WindowExec if w.partitionSpec.isEmpty =>
              failures += s"$name: unpartitioned WindowExec (single-task sort)"
            case _ => ()
          }
        } catch {
          case e: Throwable =>
            failures += s"$name: failed to execute: ${e.getMessage}"
        }
      }
      // every cache a query takes goes through Pins, so the bare scope
      // releases all of it: nothing may survive as a persisted RDD or
      // as a CacheManager entry
      val rdds = (sc.getPersistentRDDs.keySet -- rddsBefore).size
      val plans = org.apache.spark.sql.graft.CacheProbe.cachedPlans(spark) - plansBefore
      if (rdds != 0 || plans != 0)
        leaks += s"$name: $rdds persisted RDDs, $plans cached plans"
    }
    assert(ran == SparkEntry.queries.size,
      s"only $ran of ${SparkEntry.queries.size} queries executed")
    assert(failures.isEmpty,
      s"${failures.size} plan-lint failures:\n${failures.distinct.mkString("\n")}")
    assert(leaks.isEmpty,
      s"${leaks.size} queries left caches behind:\n${leaks.mkString("\n")}")
  }
}
