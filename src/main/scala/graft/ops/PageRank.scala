package graft.ops

import graft.core.Rounds
import graft.functions.Dec15.Limbs
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * and the dangling-mass total accumulate exactly at scale 15
  * ([[graft.functions.Dec15.Limbs]], bit-identical to a DECIMAL(38,15)
  * sum — exact, order-independent), and each iteration's result is
  * rounded to `roundDp` decimals HALF_UP exactly as Spark's `round`
  * does, so the whole trajectory is independent of partitioning
  * (same trick as the k-means quantizer's 6dp-deterministic centroid
  * path).
  *
  * Scale shape: an RDD kernel on [[graft.core.Rounds]], one
  * [[org.apache.spark.HashPartitioner]] at [[loopWidth]]. The edge
  * list is hash-partitioned by `src` once and pinned; the per-node
  * state (node, od, seed, m) is partitioned the same way, so a node's
  * state and its out-edges share a partition. Each round is one
  * `zipPartitions` that emits every edge's m/od as exact limbs keyed
  * by `dst`, one map-side-combined `reduceByKey` on the same
  * partitioner, and a narrow update that zips the sums back onto the
  * state: ONE shuffle and ONE job per round. That job
  * (`Rounds.settle`) also materialises the new state's pin and sums
  * its dangling mass, the one driver value the next round needs.
  *
  * Why not DataFrames: the per-round DataFrame dataflow (rank⋈edge
  * join + groupBy(dst), a broadcast 1-row dangling aggregate, a left
  * join onto the node table and an eager local checkpoint) cost about
  * seven AQE jobs a round, and its wall time was almost all driver-side
  * SQL planning, codegen and stage scheduling, not executor work
  * (q_pagerank: 38 one-task jobs, ~3.2 s of build against ~1 cpu-s).
  * The kernel needs no session clone either: the partitioner carries
  * the loop width, and the caller's session conf is only read (for
  * the width cap), never changed.
  *
  * State rotation is `Rounds`': each round's state is pinned in its
  * own scope and released once its successor is materialised; the
  * edge pin goes when the last round has run. The final state backs
  * the returned frame and is pinned in the caller's scope (consume the
  * result inside it).
  */
object PageRank {

  /** `edges`: (src, dst), assumed pre-deduplicated; both columns of one
    * atomic key type (long in the queries, string in the specs), or
    * two types Spark's coercion can widen to one. Returns (node, od,
    * m): out-degree and final rank mass (mean 1.0; divide by n for the
    * classic probability-vector form). Fails with
    * IllegalArgumentException on `iters < 0`, `damping` outside
    * [0, 1] or `roundDp < 0`.
    *
    * `earlyRelease`: halve the graph-construction PEAK storage window.
    * By default the edge-sized ingest pin (the edge list as read, so
    * the sizing count and the partitioning pass run its plan once) and
    * the src-partitioned edge pin coexist until the node table
    * materialises — ~2× edge bytes of block storage, which competes
    * with shuffle space on the same disks at scale (single-node
    * measured: the sf100 probe, ~600M edges, ENOSPC'd exactly this
    * window at 75 GB free). With `earlyRelease = true` the edge pin is
    * materialised eagerly (ONE extra pass over the edge list — the
    * paid price) and the ingest pin is released immediately, so peak
    * live state is ~1× edge bytes plus the transient crossover.
    * Results are bit-identical (spec-pinned). A lost edge-pin block is
    * recomputed from the source plan either way.
    */
  def ranks(edges: DataFrame, iters: Int, damping: Double = 0.85,
            roundDp: Int = 6, earlyRelease: Boolean = false): DataFrame =
    run(edges, iters, damping, roundDp, seeds = None, earlyRelease)

  /** Personalized PageRank (random walk with restart): teleport AND
    * dangling mass land uniformly on the SEED nodes instead of the
    * whole graph — relevance relative to a query set (Haveliwala
    * '02). `seeds`: one column `node` of the edges' key type; only
    * seeds that are graph nodes receive mass. Same kernel and
    * determinism contract as [[ranks]]; per node,
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
    * q_pagerank; per-task cpu flat, 2× the tasks). On a
    * 1000-executor cluster defaultParallelism IS the capacity signal,
    * so the cap keeps full cluster width at any scale.
    *
    * SHARED by both iterative graph operators: connectedComponents
    * calls this with its own `edgesPerPartition` target (1M — its
    * per-row work is a min over two keys) so the cores cap can never
    * silently diverge between the two loops (a CC-side width pin in
    * PageRankSpec holds both). Both loops run on
    * [[graft.core.Rounds]] at this width.
    */
  def loopWidth(nEdges: Long, sessionParts: Long, cores: Int,
                edgesPerPartition: Long = 262144L): Int =
    math.max(1L, math.min(math.min(sessionParts, 2L * cores),
      nEdges / edgesPerPartition + 1L)).toInt

  /** One node's loop state: out-degree, restart-set membership, mass. */
  private final case class Node(od: Long, seed: Boolean, m: Double)

  /** What a round's job sums over the state it materialises: |V|, the
    * restart-set size and the exact dangling mass (Σ m over od = 0).
    */
  private final case class Summary(nodes: Long, seeds: Long, dangling: Limbs) {
    def +(o: Summary): Summary =
      Summary(nodes + o.nodes, seeds + o.seeds, dangling + o.dangling)
  }

  /** Spark's `round(x, dp)` on a double, as its interpreted path
    * evaluates it: HALF_UP on the shortest decimal form; NaN and ±∞
    * pass through.
    */
  private def roundHalfUp(x: Double, dp: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The kernel behind [[ranks]] and [[personalizedRanks]]; `parts`
    * overrides [[loopWidth]] (specs run it at several widths).
    */
  private[ops] def run(edges: DataFrame, iters: Int, damping: Double,
                       roundDp: Int, seeds: Option[DataFrame],
                       earlyRelease: Boolean,
                       parts: Option[Int] = None): DataFrame = {
    require(iters >= 0, s"PageRank: iters must be >= 0, got $iters")
    require(damping >= 0.0 && damping <= 1.0,
      s"PageRank: damping must be in [0, 1], got $damping")
    require(roundDp >= 0, s"PageRank: roundDp must be >= 0, got $roundDp")
    val spark = edges.sparkSession
    // one key type for both endpoints: the one Spark's own coercion
    // gives the pair (the node column keeps the input's type)
    val key = edges.select(array(col("src"), col("dst"))).schema.head
      .dataType.asInstanceOf[ArrayType].elementType
    val rows = edges.select(col("src").cast(key), col("dst").cast(key)).rdd
      .map(r => (r.get(0), r.get(1)))
    val width = (nEdges: Long) => parts.getOrElse(loopWidth(nEdges,
      spark.conf.get("spark.sql.shuffle.partitions").toLong,
      spark.sparkContext.defaultParallelism))
    // The loop's input is the edge list hash-partitioned by src, so
    // each round reads a node's out-edges in its own state partition.
    val state = Rounds.run[Any, Any, Node](rows, width) { loop =>
      val part = loop.part
      val bySrc = loop.input
      // earlyRelease: materialise the edge pin NOW (one extra edge
      // pass) and drop the ingest pin — everything below reads the
      // edge pin. Default: the node table's job materialises it, then
      // the ingest pin goes.
      if (earlyRelease) {
        bySrc.count()
        loop.dropIngest()
      }

      // Node universe AND out-degree in one map-side-combined shuffle:
      // each edge marks (src, 1) and (dst, 0), so a pure sink sums to 0.
      val degree = bySrc.flatMap { case (s, d) => Iterator(s -> 1L, d -> 0L) }
        .reduceByKey(part, _ + _)
      val nodes: RDD[(Any, Node)] = seeds match {
        case None => degree.mapValues(od => Node(od, seed = true, m = 1.0))
        case Some(s) =>
          // a restart key counts once and only if it is a graph node; a
          // null key matches nothing (SQL join semantics)
          val restart = s.select(col("node").cast(key)).rdd.map(r => (r.get(0), ()))
          degree.cogroup(restart, part).mapPartitions(_.flatMap {
            case (k, (od, hits)) =>
              od.iterator.map(d => k -> Node(d, seed = k != null && hits.nonEmpty, m = 1.0))
          }, preservesPartitioning = true)
      }
      var (state, summary) = loop.settle(nodes)(summarise)(_ + _)
      loop.dropIngest()
      val nD = summary.nodes.toDouble
      // |restart set|: the whole graph for classic PR, the in-graph
      // seeds for personalized
      val sD = seeds.fold(nD)(_ => summary.seeds.toDouble)
      require(sD > 0,
        if (seeds.isEmpty) "PageRank needs a non-empty edge list"
        else "personalized PageRank needs >= 1 in-graph seed")

      val teleport = 1.0 - damping
      val personalized = seeds.isDefined
      var it = 0
      while (it < iters) {
        val dm = summary.dangling.value
        // m/od of every node with out-edges, split once and sent down
        // each out-edge; null keys join nothing (SQL join semantics)
        val sums = state.zipPartitions(bySrc) { (st, es) =>
          val share = new java.util.HashMap[Any, Limbs]()
          st.foreach { case (k, v) =>
            if (v.od > 0 && k != null) {
              val l = Limbs.of(v.m / v.od.toDouble)
              if (l != null) share.put(k, l)
            }
          }
          es.flatMap { case (s, d) =>
            val l = share.get(s)
            if (l == null) Iterator.empty else Iterator.single(d -> l)
          }
        }.reduceByKey(part, _ + _)
        // The narrow update: the same double expressions, in the same
        // order, as the SQL formulation's coalesce(c, 0.0) and m2.
        val next = state.zipPartitions(sums, preservesPartitioning = true) { (st, cs) =>
          val in = new java.util.HashMap[Any, Limbs]()
          cs.foreach { case (k, l) => if (k != null) in.put(k, l) }
          st.map { case (k, v) =>
            val l = in.get(k)
            val c = if (l == null) 0.0 else l.value
            val m2 =
              if (!personalized) teleport + damping * (c + dm / nD)
              else damping * c +
                (if (v.seed) teleport * nD / sD + damping * dm / sD else 0.0)
            k -> v.copy(m = roundHalfUp(m2, roundDp))
          }
        }
        val (nextState, nextSummary) = loop.settle(next)(summarise)(_ + _)
        state = nextState
        summary = nextSummary
        it += 1
      }
      state
    }
    spark.createDataFrame(state.map { case (k, v) => Row(k, v.od, v.m) },
      StructType(Seq(StructField("node", key), StructField("od", LongType),
        StructField("m", DoubleType))))
  }

  /** A state partition's [[Summary]]: the sum a round's job folds. */
  private def summarise(it: Iterator[(Any, Node)]): Summary = {
    var nodes = 0L
    var seeds = 0L
    var dangling = Limbs.zero
    it.foreach { case (_, v) =>
      nodes += 1
      if (v.seed) seeds += 1
      if (v.od == 0) {
        val l = Limbs.of(v.m)
        if (l != null) dangling += l
      }
    }
    Summary(nodes, seeds, dangling)
  }
}
