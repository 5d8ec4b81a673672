package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** PageRank over a directed edge list — the iterated-join companion to
  * [[Dedup.connectedComponents]]: where CC answers "which documents
  * are the same", PageRank answers "which nodes matter", the standard
  * centrality prior for corpus-quality weighting (the original
  * Brin/Page '98 formulation with uniform teleport and dangling-mass
  * redistribution).
  *
  * Determinism contract (the oracle hash-compares full-precision
  * doubles): ranks are kept in MASS units (m = rank × n, so the mean
  * is 1.0 and magnitudes are O(1)), every per-node contribution sum
  * and the dangling-mass total accumulate in DECIMAL(38,15) — exact,
  * order-independent — and each iteration's result is rounded to
  * `roundDp` decimals, so the whole trajectory is independent of
  * partitioning and join order (same trick as the k-means
  * quantizer's 6dp-deterministic centroid path).
  *
  * Scale shape, per iteration: ONE equi-join of the rank table with
  * the edge list on `src` + ONE map-side-combined groupBy(dst) for
  * the contributions, a 1-row dangling aggregate broadcast back by
  * crossJoin (never a driver collect), and a keyed left join onto the
  * static node table. Lineage is cut every round (localCheckpoint) —
  * without the cut the plan doubles per iteration and the analyzer
  * dies long before the executors work (see connectedComponents
  * note). Loop shuffle width is right-sized to the edge count
  * ([[loopWidth]]) on an isolated conf-preserving session clone — the
  * caller's session conf is never mutated — so a small graph doesn't
  * pay corpus-width task scheduling × iters and a 100-TB edge set
  * keeps full parallelism.
  */
object PageRank {

  /** `edges`: (src string, dst string), assumed pre-deduplicated.
    * Returns (node, od, m): out-degree and final rank mass (mean 1.0;
    * divide by n for the classic probability-vector form).
    *
    * `earlyRelease`: halve the graph-construction PEAK storage window.
    * By default the edge-sized ingest checkpoint (recompute insurance
    * while the pinned edge table builds) and the edge-sized sorted pin
    * coexist until the node table materializes — ~2× edge bytes of
    * block storage, which competes with shuffle space on the same
    * disks at scale (single-node measured: the sf100 probe, ~600M
    * edges, ENOSPC'd exactly this window at 75 GB free). With
    * `earlyRelease = true` the pin is materialized eagerly (ONE extra
    * pass over the edge table — the paid price) and the checkpoint is
    * released immediately, so peak live state is ~1× edge bytes plus
    * the transient crossover. Results are bit-identical (spec-pinned);
    * the default path is unchanged.
    *
    * DURABILITY caveat: releasing the ingest checkpoint also drops the
    * loop's RECOMPUTE INSURANCE — the sorted edge pin's lineage roots
    * in the released checkpoint, so on a cluster a lost/evicted block
    * of the MEMORY_AND_DISK pin (executor loss, decommission) is
    * unrecoverable and converts a recompute into a job failure. That
    * trade is right for the single-node storage-window probes this
    * knob was built for; CLUSTER callers should prefer the default
    * path (insurance intact until the node table materializes) or
    * accept re-running the job on executor loss.
    */
  def ranks(edges: DataFrame, iters: Int, damping: Double = 0.85,
            roundDp: Int = 6, earlyRelease: Boolean = false): DataFrame =
    run(edges, iters, damping, roundDp, seeds = None, earlyRelease)

  /** Personalized PageRank (random walk with restart): teleport AND
    * dangling mass land uniformly on the SEED nodes instead of the
    * whole graph — relevance relative to a query set (Haveliwala
    * '02). `seeds`: one string column `node`; only seeds that are
    * graph nodes receive mass. Same dataflow and determinism
    * contract as [[ranks]]; per node,
    * m' = d·Σ m/od + [v ∈ S]·((1−d)·n + d·dangling)/|S|.
    */
  def personalizedRanks(edges: DataFrame, seeds: DataFrame, iters: Int,
                        damping: Double = 0.85, roundDp: Int = 6,
                        earlyRelease: Boolean = false): DataFrame =
    run(edges, iters, damping, roundDp, seeds = Some(seeds), earlyRelease)

  /** Loop shuffle width from the data AND the machine: ~256k edges
    * per partition — between connectedComponents' 1M-edges/partition
    * (its per-row work is a min over two longs) and the 64k target
    * the STRING-keyed loop used through r18 (a 1M-edge PageRank at 2
    * partitions left 30 of 32 cores idle and tripled the query time;
    * r19's long-keyed rows cut per-edge join+agg cost ~4×, so 4×
    * bigger partitions keep the same per-task runtime — measured at
    * sf0.1: width 18→5, the pair's tasks 155/162→~80, execCpuS and
    * wall both down, OPTIMIZATION_r19.md) — additionally capped at 2×
    * the cluster's core count (`defaultParallelism`) and at the
    * session setting.
    *
    * Why the cores cap: a big graph's edge target alone saturates any
    * session width (sf10's ~40M-edge entity graph derives 611), so an
    * over-wide session would run every per-round exchange at full
    * session width — and the r17 width-128 probe showed the identical
    * 3048/3206-task signature pre- and post-self-sizing because of
    * exactly that. Partitions beyond ~2× cores add no parallelism for
    * the loop's CPU-bound per-round work, only per-task fixed cost ×
    * iters (the width-128 sf10 board measured it at 159 s vs 91 s on
    * q_pagerank; per-task cpu flat, 2× the tasks) — and AQE cannot
    * recover it, because each round's localCheckpoint boundary
    * materializes the exchanges before coalescing sees them. On a
    * 1000-executor cluster defaultParallelism IS the capacity signal,
    * so the cap keeps full cluster width at any scale.
    *
    * SHARED by both iterative graph operators: connectedComponents
    * calls this with its own `edgesPerPartition` target (1M — its
    * per-row work is a min over two longs) so the cores cap can never
    * silently diverge between the two loops (a CC-side width pin in
    * PageRankSpec holds both).
    */
  def loopWidth(nEdges: Long, sessionParts: Long, cores: Int,
                edgesPerPartition: Long = 262144L): Int =
    math.max(1L, math.min(math.min(sessionParts, 2L * cores),
      nEdges / edgesPerPartition + 1L)).toInt

  private def run(edges: DataFrame, iters: Int, damping: Double,
                  roundDp: Int, seeds: Option[DataFrame],
                  earlyRelease: Boolean): DataFrame = {
    val spark = edges.sparkSession
    val e0 = edges.localCheckpoint(true)
    val nEdges = e0.count()
    val teleport = 1.0 - damping

    // Right-size the loop's shuffle width to the edge count
    // ([[loopWidth]]), applied the connectedComponents way: the whole
    // loop runs on an ISOLATED conf-preserving session clone — shared
    // SparkContext, cache, and checkpoint blocks, its OWN SQL conf —
    // so EVERY per-round exchange (the contribution groupBy(dst), the
    // nodes left join, the distinct) runs narrow WITH map-side combine
    // (what a user-level repartition can't express: the partial agg
    // would move above the exchange and ship raw edge rows), and
    // nothing is mutated on the caller's session — concurrent queries
    // (e.g. Hyperband's threaded config evaluation) are safe. The
    // returned ranks are re-bound to the caller's session at the end.
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions")
    val loopParts = loopWidth(nEdges, sessionParts.toLong,
      spark.sparkContext.defaultParallelism)
    val loopSpark = org.apache.spark.sql.graft.bridge.sessionClone(spark)
    loopSpark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    val eb = org.apache.spark.sql.graft.bridge.rebind(loopSpark, e0)

      // The edge table is the loop's big invariant input, so it is
      // cached hash-partitioned AND sorted on the join key via
      // Pins.pin — a persist, NOT a checkpoint: InMemoryTableScan
      // reports the cached plan's outputPartitioning/outputOrdering,
      // while LogicalRDD drops both (verified on the physical plan:
      // a checkpointed edge table re-exchanged 1.1M rows on EVERY
      // round; the pinned one exchanges only the node-cardinality
      // rank table). Each iteration then pays the contribution
      // groupBy(dst) — the algorithm's irreducible shuffle — plus
      // rank-table-sized exchanges, never edge-sized ones. The pin
      // rides the caller's cache scope (Bench/Verify sweeps release
      // it); lineage above it is the already-checkpointed e0, so the
      // per-round lineage cut stays shallow.
      val e = graft.core.Pins.pin(eb.withColumnRenamed("src", "node")
        .repartition(loopParts, col("node"))
        .sortWithinPartitions("node"))
      // earlyRelease: materialize the pin NOW (one extra edge pass)
      // and drop the ingest checkpoint immediately — everything below
      // reads the pin, so peak block storage stays ~1× edge bytes
      // instead of carrying checkpoint + pin (2×) through the node
      // table's materialization (see [[ranks]]). Default path: the
      // pin materializes lazily inside nodes' checkpoint and the
      // release happens right after (recompute insurance intact).
      if (earlyRelease) {
        e.count()
        graft.core.Pins.releaseCheckpoint(e0)
      }
      // Node universe AND out-degree from ONE pass (r19 optimization,
      // guide §2.4): each edge contributes (src, 1) and (dst, 0); a
      // single map-side-combined sum(c) per node IS the out-degree,
      // with pure sinks landing at 0 — so the former three-piece
      // derivation (deg aggregate over the pin + src∪dst distinct +
      // left join, i.e. two aggregations, two extra passes over the
      // edge set and a join) collapses into one explode + groupBy.
      // Reading the PIN (not eb) on both paths keeps the invariant the
      // default path's release below relies on — the pin is fully
      // materialized inside nodes' eager checkpoint, before e0 goes —
      // and retires the r18 path-dependence (the measured pin-scan
      // penalty was the OLD shape's two extra columnar decodes; this
      // shape scans the edge set exactly once). Measured at sf0.1:
      // the pagerank pair's node-table phase cpu roughly halves and
      // the per-query task count drops ~15% (OPTIMIZATION_r19.md).
      val nodes0 = e.select(explode(array(
          struct(col("node"), lit(1L).as("c")),
          struct(col("dst").as("node"), lit(0L).as("c")))).as("nc"))
        .select(col("nc.node").as("node"), col("nc.c").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("od"))
      val nodes = seeds match {
        case None => nodes0.withColumn("seed", lit(true))
          .localCheckpoint(true)
        case Some(s) => nodes0
          // the seed frame is caller-session — re-bound so the whole
          // loop dataflow lives on the clone (it is a tiny query set;
          // its one-time evaluation cost is irrelevant)
          .join(org.apache.spark.sql.graft.bridge.rebind(loopSpark, s)
            .select(col("node")).distinct()
            .withColumn("_sf", lit(1)), Seq("node"), "left")
          .select(col("node"), col("od"), col("_sf").isNotNull.as("seed"))
          .localCheckpoint(true)
      }
      // ONE job for both cardinalities (|V| and the restart set): the
      // two counts ride the same scan of the just-materialized
      // checkpoint (r19: the separate filter-count was a whole extra
      // job per personalized run)
      val cnts = nodes.agg(count(lit(1)),
        count(when(col("seed"), lit(1)))).head()
      val nD = cnts.getLong(0).toDouble
      // |restart set|: the whole graph for classic PR, the in-graph
      // seeds for personalized
      val sD = seeds.fold(nD)(_ => cnts.getLong(1).toDouble)
      require(sD > 0, "personalized PageRank needs >= 1 in-graph seed")
      // e0's consumers are all materialized by here (the pinned edge
      // table cached MEMORY_AND_DISK through nodes' eager checkpoint,
      // nodes itself counted above), so the edge-sized checkpoint —
      // the loop's biggest block set — is released before the
      // iterations start competing for the storage pool. (Already
      // gone on the earlyRelease path.)
      if (!earlyRelease) graft.core.Pins.releaseCheckpoint(e0)
      var ranks = nodes.withColumn("m", lit(1.0)).localCheckpoint(true)
      var it = 0
      while (it < iters) {
        // m/od per out-edge, summed exactly per destination: a plain
        // map-side-combined groupBy — the shuffle carries one combined
        // row per (task, dst), not per edge. The clone session makes
        // this exchange (and every other per-round one) run at
        // loopParts while KEEPING the partial agg below it; the join
        // feeding it is co-located via the pinned edge table.
        // r19: the exact sum runs through Dec15 (split once in the
        // projection, two-long carry aggregation) — bit-identical to
        // CAST(SUM(CAST(… AS DECIMAL(38,15))) AS DOUBLE) at ~half the
        // cpu (Dec15 scaladoc; Dec15Spec pins the equality). Domain:
        // mass conservation bounds every per-node sum by |V| ≪ 9.2e21.
        val contrib = ranks.filter(col("od") > 0)
          .join(e, Seq("node"))
          .select(col("dst").as("node"),
            graft.functions.Dec15.dec15_split(
              col("m") / col("od").cast("double")).as("_c"))
          .groupBy(col("node"))
          .agg(graft.functions.Dec15.dec15_sum_split(col("_c")).as("c"))
        // dangling mass: 1 row, broadcast back — never a driver value
        val dang = ranks.filter(col("od") === 0)
          .select(graft.functions.Dec15.dec15_split(col("m")).as("_m"))
          .agg(coalesce(graft.functions.Dec15.dec15_sum_split(col("_m")),
            lit(0.0)).as("dm"))
        val joined = nodes.join(contrib, Seq("node"), "left")
          .crossJoin(broadcast(dang))
        val m2 = seeds match {
          case None =>
            lit(teleport) + lit(damping) *
              (coalesce(col("c"), lit(0.0)) + col("dm") / lit(nD))
          case Some(_) =>
            lit(damping) * coalesce(col("c"), lit(0.0)) +
              when(col("seed"),
                lit(teleport) * lit(nD) / lit(sD) +
                  lit(damping) * col("dm") / lit(sD))
                .otherwise(lit(0.0))
        }
        // state ROTATION: the eager checkpoint above fully consumed
        // the previous round's ranks, so its blocks are released now —
        // live checkpoint state stays O(1) in the iteration count
        // instead of stacking `iters` superseded rank tables into the
        // storage pool (see Pins.releaseCheckpoint for the measured
        // memory-manager convoy that stacking causes at sf10)
        val prev = ranks
        ranks = joined
          .select(col("node"), col("od"), col("seed"),
            round(m2, roundDp).as("m"))
          .localCheckpoint(true)
        graft.core.Pins.releaseCheckpoint(prev)
        it += 1
      }
    // `nodes` fed every round's join; the loop is done and the final
    // ranks checkpoint is self-contained, so it goes too
    graft.core.Pins.releaseCheckpoint(nodes)
    // the final ranks checkpoint backs the returned frame — registered
    // with the caller's pin scope (released at scope exit; consume the
    // result in the scope)
    graft.core.Pins.pinCheckpoint(ranks)
    // back to the caller's session (and its shuffle width): the rows
    // come straight off the final round's checkpoint blocks
    org.apache.spark.sql.graft.bridge.rebind(spark,
      ranks.select(col("node"), col("od"), col("m")))
  }
}
