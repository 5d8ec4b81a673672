package graft.queries

import graft.core.{Pins, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph centrality over the TPC-H entity graph. The edge list is the
  * real purchase topology: customer → supplier for every (customer,
  * supplier) order line, supplier → part for every supply pair —
  * customers are source-only, parts are dangling sinks, so one fixture
  * exercises teleport, multi-hop propagation AND the dangling-mass
  * path. Oracle = the same three Brin/Page iterations unrolled as
  * CTEs with every float literal pinned to DOUBLE (DuckDB parses bare
  * `0.85` as DECIMAL — `1 - 0.85` would be exact 0.15, not the double
  * `1.0 - 0.85` Spark computes).
  */
object GraphQueries {

  /** DECIMAL-exact double sum — oracle twin of the Spark-side cast. */
  private val D = "CAST(0.85 AS DOUBLE)"

  private def iterSql(i: Int): String = {
    val p = s"r${i - 1}"
    s"""c$i AS (SELECT e.dst AS node,
       |         CAST(SUM(CAST(r.m / CAST(r.od AS DOUBLE) AS DECIMAL(38,15)))
       |              AS DOUBLE) AS c
       |       FROM $p r JOIN e ON r.node = e.src
       |       WHERE r.od > 0 GROUP BY e.dst),
       |d$i AS (SELECT COALESCE(CAST(SUM(CAST(m AS DECIMAL(38,15))) AS DOUBLE),
       |                        CAST(0 AS DOUBLE)) AS dm
       |       FROM $p WHERE od = 0),
       |r$i AS (SELECT no.node, no.od,
       |         round((CAST(1 AS DOUBLE) - $D) +
       |               $D * (COALESCE(c.c, CAST(0 AS DOUBLE)) + d.dm / nv.n),
       |               6) AS m
       |       FROM nodes no LEFT JOIN c$i c ON no.node = c.node
       |       CROSS JOIN d$i d CROSS JOIN nv)""".stripMargin
  }

  /** The customer→supplier→part purchase-topology edge list shared by
    * the PageRank queries — keyed on LONGS inside the engine
    * (key·4 + tag: c=0, s=1, p=2), with the `c:`/`s:`/`p:` strings of
    * the declared output reconstructed only in the final projection
    * ([[nodeStr]]).
    *
    * Why (r19 optimization, guide §2.3/§8): the node id is a pure
    * proxy — every rank value is an exact DECIMAL(38,15) sum plus a
    * per-node 6dp round, both invariant under any injective re-keying
    * of the isomorphic graph — so the loop's hashing, shuffles and
    * pinned edge and state RDDs all work on 8-byte longs
    * instead of UTF8 strings. Measured at sf0.1 (ScratchPR, committed
    * in OPTIMIZATION_r19.md): edge build cpu 4.6→3.3 s, node-universe
    * aggregation 3.8→1.1 s, node-table materialization 15.0→7.8 s;
    * the distinct() here also dedups 16-byte (long, long) pairs
    * instead of concat-allocated strings. At 100 TB the same change
    * is a ~2× cut of every loop shuffle's bytes and hash cost.
    */
  private def entityEdges(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_partkey"))
    val cs = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey").cast("long") * 4L).as("src"),
        (col("l_suppkey").cast("long") * 4L + 1L).as("dst"))
      .distinct()
    val sp = l
      .select((col("l_suppkey").cast("long") * 4L + 1L).as("src"),
        (col("l_partkey").cast("long") * 4L + 2L).as("dst"))
      .distinct()
    cs.union(sp)
  }

  /** Long node key back to the declared `c:`/`s:`/`p:` string form —
    * the inverse of [[entityEdges]]' key·4+tag packing, applied once
    * in the final output projection (36k rows at sf0.1, never inside
    * the loop).
    */
  private def nodeStr(node: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      when(node.bitwiseAND(lit(3L)) === 0L, lit("c:"))
        .when(node.bitwiseAND(lit(3L)) === 1L, lit("s:"))
        .otherwise(lit("p:")),
      shiftright(node, 2).cast("string"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // 3 PageRank iterations over customer→supplier→part; mass units
    // (mean 1.0), 6dp-deterministic trajectory (ops.PageRank note)
    "q_pagerank" -> ((s, dir) =>
      // SPARK_GRAFT_PR_EARLY_RELEASE=1: the scale-probe hook for the
      // halved peak-storage window (PageRank.ranks scaladoc); results
      // are identical either way (spec-pinned)
      graft.ops.PageRank.ranks(entityEdges(s, dir), iters = 3,
          earlyRelease =
            sys.env.get("SPARK_GRAFT_PR_EARLY_RELEASE").contains("1"))
        .select(nodeStr(col("node")).as("node"), col("m").as("rank_mass"))
        .orderBy("node")),

    // personalized PageRank: restart on one nation's customers —
    // relevance relative to a seed market; teleport + dangling mass
    // land on the in-graph seeds only (ops.PageRank.personalizedRanks)
    "q_pagerank_personalized" -> ((s, dir) => {
      val seeds = Tables.load(s, dir, "customer")
        .join(broadcast(Tables.load(s, dir, "nation")
          .filter(col("n_name") === "NATION_7")),
          col("c_nationkey") === col("n_nationkey"))
        .select((col("c_custkey").cast("long") * 4L).as("node"))
      graft.ops.PageRank.personalizedRanks(entityEdges(s, dir), seeds,
          iters = 3)
        .select(nodeStr(col("node")).as("node"), col("m").as("rank_mass"))
        .orderBy("node")
    }),

    // market-basket pair mining: parts co-purchased in >= 2 orders —
    // per-basket self-join bounded by basket size, one pair-keyed
    // shuffle (ops.GraphOps.copairs note)
    // sortedOnce: the final global sort's RangePartitioner sample pass
    // otherwise re-executes everything above the last exchange — here
    // the 1.2M-row pair aggregation (measured ~0.6 s, r20)
    "q_copurchase" -> ((s, dir) =>
      Pins.sortedOnce(
        graft.ops.GraphOps.copairs(
          Tables.load(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          minSupport = 2L),
        col("i"), col("j"))),

    // triangle count of the co-purchase support graph via the
    // (degree, id) orientation — wedges generated once at the lowest
    // apex, two equi-join shuffles (ops.GraphOps.triangleCount note)
    "q_triangles" -> ((s, dir) =>
      graft.ops.GraphOps.triangleCount(
        graft.ops.GraphOps.copairs(
          Tables.load(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          minSupport = 2L).select(col("i"), col("j")))),

    // association rules over the co-purchase pairs: support /
    // confidence / lift from exact integer counts — two broadcast
    // joins against the tiny per-item support table; ratios are
    // identical-operand doubles rounded 6dp. The deduplicated
    // (order, part) table feeds all three aggregates (pairs, per-item
    // supports, order count), so ONE pinned copy serves them instead
    // of three scan+distinct pipelines (r20; guide §2.4 — the shared
    // exchange the optimizer no longer has to rediscover).
    "q_assoc_rules" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val p = graft.core.Pins.pin(
        graft.ops.GraphOps.basketItems(li, "l_orderkey", "l_partkey"))
      val pairs = graft.ops.GraphOps.copairsOf(p, minSupport = 2L)
      val itemN = p.groupBy(col("_i").as("l_partkey"))
        .agg(count(lit(1)).as("n_item"))
      val nOrders = p.select(col("_b")).distinct()
        .agg(count(lit(1)).cast("double").as("n_orders"))
      pairs
        .join(broadcast(itemN.select(col("l_partkey").as("i"),
          col("n_item").as("n_i"))), Seq("i"))
        .join(broadcast(itemN.select(col("l_partkey").as("j"),
          col("n_item").as("n_j"))), Seq("j"))
        .crossJoin(broadcast(nOrders))
        .select(col("i"), col("j"), col("n_baskets"),
          round(col("n_baskets").cast("double") /
            col("n_i").cast("double"), 6).as("confidence"),
          round(col("n_baskets").cast("double") * col("n_orders") /
            (col("n_i").cast("double") * col("n_j").cast("double")), 6)
            .as("lift"))
        .transform(df => Pins.sortedOnce(df, col("i"), col("j")))
    }))

  /** Personalized-flavor iteration: same contribution/dangling CTEs,
    * seed-gated restart mass.
    */
  private def iterSqlP(i: Int): String = {
    val p = s"r${i - 1}"
    s"""c$i AS (SELECT e.dst AS node,
       |         CAST(SUM(CAST(r.m / CAST(r.od AS DOUBLE) AS DECIMAL(38,15)))
       |              AS DOUBLE) AS c
       |       FROM $p r JOIN e ON r.node = e.src
       |       WHERE r.od > 0 GROUP BY e.dst),
       |d$i AS (SELECT COALESCE(CAST(SUM(CAST(m AS DECIMAL(38,15))) AS DOUBLE),
       |                        CAST(0 AS DOUBLE)) AS dm
       |       FROM $p WHERE od = 0),
       |r$i AS (SELECT no.node, no.od, no.seed,
       |         round($D * COALESCE(c.c, CAST(0 AS DOUBLE)) +
       |               CASE WHEN no.seed
       |                    THEN (CAST(1 AS DOUBLE) - $D) * nv.n / sv.ns
       |                         + $D * d.dm / sv.ns
       |                    ELSE CAST(0 AS DOUBLE) END,
       |               6) AS m
       |       FROM nodes no LEFT JOIN c$i c ON no.node = c.node
       |       CROSS JOIN d$i d CROSS JOIN nv CROSS JOIN sv)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_pagerank_personalized" ->
      s"""WITH e AS (
         |  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
         |                  's:' || CAST(l_suppkey AS VARCHAR) AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  UNION
         |  SELECT DISTINCT 's:' || CAST(l_suppkey AS VARCHAR),
         |                  'p:' || CAST(l_partkey AS VARCHAR)
         |  FROM lineitem),
         |deg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
         |sd AS (SELECT DISTINCT 'c:' || CAST(c_custkey AS VARCHAR) AS node
         |       FROM customer JOIN nation ON c_nationkey = n_nationkey
         |       WHERE n_name = 'NATION_7'),
         |nodes AS (SELECT nn.node, COALESCE(d.od, 0) AS od,
         |                 nn.node IN (SELECT node FROM sd) AS seed
         |          FROM (SELECT src AS node FROM e
         |                UNION SELECT dst FROM e) nn
         |          LEFT JOIN deg d ON nn.node = d.src),
         |nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
         |sv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM nodes
         |       WHERE seed),
         |r0 AS (SELECT node, od, seed, CAST(1 AS DOUBLE) AS m FROM nodes),
         |${iterSqlP(1)},
         |${iterSqlP(2)},
         |${iterSqlP(3)}
         |SELECT node, m AS rank_mass FROM r3 ORDER BY node""".stripMargin,

    "q_pagerank" ->
      s"""WITH e AS (
         |  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
         |                  's:' || CAST(l_suppkey AS VARCHAR) AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  UNION
         |  SELECT DISTINCT 's:' || CAST(l_suppkey AS VARCHAR),
         |                  'p:' || CAST(l_partkey AS VARCHAR)
         |  FROM lineitem),
         |deg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
         |nodes AS (SELECT nn.node, COALESCE(d.od, 0) AS od
         |          FROM (SELECT src AS node FROM e
         |                UNION SELECT dst FROM e) nn
         |          LEFT JOIN deg d ON nn.node = d.src),
         |nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
         |r0 AS (SELECT node, od, CAST(1 AS DOUBLE) AS m FROM nodes),
         |${iterSql(1)},
         |${iterSql(2)},
         |${iterSql(3)}
         |SELECT node, m AS rank_mass FROM r3 ORDER BY node""".stripMargin,

    "q_copurchase" ->
      """WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS i, b.l_partkey AS j, count(*) AS n_baskets
        |FROM p a JOIN p b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY i, j""".stripMargin,

    // same orientation: (deg, id) row comparisons mirror the engine's
    // struct order; wedge at the lowest-ranked apex, closure by the
    // third oriented edge
    "q_triangles" ->
      """WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT a.l_partkey AS i, b.l_partkey AS j, count(*) AS c
        |       FROM p a JOIN p b
        |         ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey
        |       GROUP BY 1, 2),
        |e AS (SELECT i, j FROM e0 WHERE c >= 2),
        |deg AS (SELECT v, count(*) AS d FROM
        |          (SELECT i AS v FROM e UNION ALL SELECT j FROM e)
        |        GROUP BY v),
        |o AS (SELECT
        |        CASE WHEN (di.d, e.i) < (dj.d, e.j) THEN e.i ELSE e.j END
        |          AS src,
        |        CASE WHEN (di.d, e.i) < (dj.d, e.j) THEN e.j ELSE e.i END
        |          AS dst,
        |        CASE WHEN (di.d, e.i) < (dj.d, e.j) THEN dj.d ELSE di.d END
        |          AS dd
        |      FROM e JOIN deg di ON di.v = e.i JOIN deg dj ON dj.v = e.j),
        |w AS (SELECT e1.dst AS v1, e2.dst AS v2
        |      FROM o e1 JOIN o e2
        |        ON e1.src = e2.src AND (e1.dd, e1.dst) < (e2.dd, e2.dst))
        |SELECT count(*) AS n_triangles
        |FROM w JOIN o e3 ON e3.src = w.v1 AND e3.dst = w.v2""".stripMargin,

    "q_assoc_rules" ->
      """WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT a.l_partkey AS i, b.l_partkey AS j, count(*) AS nb
        |      FROM p a JOIN p b
        |        ON a.l_orderkey = b.l_orderkey
        |       AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |it AS (SELECT l_partkey, count(*) AS n_item FROM p GROUP BY 1),
        |tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE)
        |          AS n_orders FROM lineitem)
        |SELECT e.i, e.j, e.nb AS n_baskets,
        |       round(CAST(e.nb AS DOUBLE) / CAST(ii.n_item AS DOUBLE), 6)
        |         AS confidence,
        |       round(CAST(e.nb AS DOUBLE) * tot.n_orders
        |             / (CAST(ii.n_item AS DOUBLE)
        |                * CAST(jj.n_item AS DOUBLE)), 6) AS lift
        |FROM e JOIN it ii ON ii.l_partkey = e.i
        |       JOIN it jj ON jj.l_partkey = e.j
        |       CROSS JOIN tot
        |ORDER BY i, j""".stripMargin)
}
