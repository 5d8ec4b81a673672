package graft.queries

import graft.eval.{BrierScore, Concordance, KaplanMeier}
import graft.surv.ChurnView
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Evaluator operators as oracle-checked queries (SURVEY §2.7): the
  * Kaplan–Meier curve, Harrell and Antolini (time-dependent)
  * concordance, and the IPCW Brier score / integrated Brier score,
  * all on the churn test split with a FIXED deterministic risk score
  * (training isn't bit-stable across engines; forward passes are —
  * SURVEY §5 tier 2).
  *
  * risk = c_acctbal / -5000 + n_orders / 10          (pure +,/ — exact)
  * S(τ|x) = exp(-exp(risk) · τ / 1000)               (proportional hazards)
  *
  * Floating-point parity strategy: everything stays +,-,*,/ on
  * identical operands (bit-equal across engines) except exp(), whose
  * ≤1-ulp library differences are absorbed by round(…, 6) on the
  * outputs that pass through it.
  */
object EvalQueries {

  private val C = ChurnView.sql
  private val splitSql =
    """tl AS (SELECT CAST(floor(count(*) * CAST(0.9 AS DOUBLE)) AS BIGINT)
      |          AS train_len FROM churn)""".stripMargin

  private def riskCol: Column =
    col("c_acctbal").cast("double") / lit(-5000.0) +
      col("n_orders").cast("double") / lit(10.0)

  private def testWithRisk(s: SparkSession, dir: String): DataFrame = {
    val ds = ChurnView.dataset(s, dir)
    ds.test.select(col("id"), col("t").cast("double").as("t"), col("e"),
      riskCol.as("r"))
  }

  /** Parametric long-form survival over a grid (id, tau, s). The grid
    * is driver-known, so the subject×grid expansion is a scan-fused
    * posexplode of a 100-element literal array — no join of any kind.
    */
  private def parametricSurv(test: DataFrame, grid: Array[Double]): DataFrame =
    test.select(col("id"), col("r"),
        posexplode(lit(grid)).as(Seq("tau_idx", "tau")))
      .select(col("id"), col("tau_idx"), col("tau"),
        exp(-exp(col("r")) * col("tau") / lit(1000.0)).as("s"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.7 KM over the full churn view.
    "q_km" -> ((s, dir) =>
      KaplanMeier.curve(ChurnView.build(s, dir), "t", "e")
        .select(col("t"), col("d"), col("n"), round(col("s"), 6).as("s"))
        .orderBy("t")),

    // restricted mean survival time at 1 year from the KM curve —
    // exact step integral on the 6dp-rounded curve, broadcast
    // next-knot lookup, DECIMAL area sum (KaplanMeier.rmst note)
    "q_rmst" -> ((s, dir) =>
      KaplanMeier.rmst(ChurnView.build(s, dir), "t", "e",
        horizon = 365.0)),

    // §2.7 censoring KM (IPCW weight source) on the test split.
    "q_km_censoring" -> ((s, dir) =>
      KaplanMeier.censoringCurve(testWithRisk(s, dir), "t", "e")
        .select(col("t"), col("d"), col("n"), round(col("s"), 6).as("s"))
        .orderBy("t")),

    // §2.7 Harrell C-index with the fixed risk score.
    "q_cindex" -> ((s, dir) =>
      Concordance.harrell(testWithRisk(s, dir), "t", "e", "r")),

    // §2.7/§7.5 the 100-TB path: sort-based counting C-index (no
    // pair join) — must produce the identical row as q_cindex.
    "q_cindex_sorted" -> ((s, dir) =>
      graft.eval.ScalableConcordance.harrell(
        testWithRisk(s, dir), "t", "e", "r", numBuckets = 16)),

    // §2.7 Antolini time-dependent C-index over the step-function
    // survival grid.
    "q_cindex_td" -> ((s, dir) => {
      val test = testWithRisk(s, dir)
      val grid = BrierScore.defaultGrid(test, "t")
      Concordance.antolini(test, "id", "t", "e",
        parametricSurv(test, grid), grid)
    }),

    // §2.7/§7.5 the 100-TB path for Antolini: pair counting sliced
    // per survival-grid step (the scoring path's slice kernel) — must
    // produce the identical row as q_cindex_td.
    "q_cindex_td_sorted" -> ((s, dir) => {
      val test = testWithRisk(s, dir)
      val grid = BrierScore.defaultGrid(test, "t")
      graft.eval.ScalableConcordance.antolini(test, "id", "t", "e",
        parametricSurv(test, grid), grid)
    }),

    // §2.7 per-τ IPCW Brier over the reference's 100-point grid.
    "q_brier" -> ((s, dir) => {
      val test = testWithRisk(s, dir)
      val grid = BrierScore.defaultGrid(test, "t")
      BrierScore.grid(test, "id", "t", "e", parametricSurv(test, grid), grid)
        .select(col("tau_idx"), col("tau"), round(col("bs"), 6).as("bs"))
        .orderBy("tau_idx")
    }),

    // §2.7 integrated Brier scalar.
    "q_ibs" -> ((s, dir) => {
      val test = testWithRisk(s, dir)
      val grid = BrierScore.defaultGrid(test, "t")
      val bs = BrierScore.grid(test, "id", "t", "e", parametricSurv(test, grid), grid)
      BrierScore.integrated(bs).select(round(col("ibs"), 6).as("ibs"))
    }))

  /** Shared SQL fragments. */
  private val testSql =
    s"""test AS (
       |  SELECT id, CAST(t AS DOUBLE) AS t, e,
       |         CAST(c_acctbal AS DOUBLE) / CAST(-5000 AS DOUBLE)
       |         + CAST(n_orders AS DOUBLE) / CAST(10 AS DOUBLE) AS r
       |  FROM churn_rn CROSS JOIN tl WHERE rn >= train_len)""".stripMargin

  private val gridSql =
    """rng AS (SELECT min(t) AS tmin, max(t) AS tmax,
      |               (max(t) - min(t)) / CAST(99 AS DOUBLE) AS step FROM test),
      |grid AS (SELECT CAST(range AS INT) AS tau_idx,
      |                CASE WHEN range = 99 THEN tmax
      |                     ELSE tmin + range * step END AS tau
      |         FROM range(100) CROSS JOIN rng)""".stripMargin

  private val censSql =
    """ckm0 AS (SELECT CAST(t AS DOUBLE) AS t, CAST(sum(1 - e) AS BIGINT) AS d,
      |                count(*) AS m FROM test GROUP BY 1),
      |ckm1 AS (SELECT t, d, CAST(sum(m) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
      |                AND UNBOUNDED FOLLOWING) AS BIGINT) AS n, m FROM ckm0),
      |ckm AS (SELECT t, d, n,
      |               product(1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE))
      |               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      |        FROM ckm1)""".stripMargin

  private val survSql =
    """surv AS (SELECT id, tau_idx, tau,
      |                exp(-exp(r) * tau / CAST(1000 AS DOUBLE)) AS s
      |         FROM test CROSS JOIN grid)""".stripMargin

  private val brierCore =
    """gtau AS (SELECT tau_idx, tau, coalesce(max_by(ckm.s, ckm.t), CAST(1 AS DOUBLE)) AS g_tau
      |         FROM grid LEFT JOIN ckm ON ckm.t <= grid.tau GROUP BY tau_idx, tau),
      |gti AS (SELECT test.id, test.t, test.e,
      |               coalesce(max_by(ckm.s, ckm.t), CAST(1 AS DOUBLE)) AS g_ti
      |        FROM test LEFT JOIN ckm ON ckm.t < test.t GROUP BY test.id, test.t, test.e),
      |contrib AS (
      |  SELECT gtau.tau_idx, gtau.tau,
      |         CASE WHEN gti.t <= gtau.tau AND gti.e = 1 AND gti.g_ti > 0.0
      |                THEN surv.s * surv.s / gti.g_ti
      |              WHEN gti.t > gtau.tau AND gtau.g_tau > 0.0
      |                THEN (1.0 - surv.s) * (1.0 - surv.s) / gtau.g_tau
      |              ELSE CAST(0 AS DOUBLE) END AS c
      |  FROM gti CROSS JOIN gtau
      |  JOIN surv ON surv.id = gti.id AND surv.tau_idx = gtau.tau_idx),
      |nrows AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM test),
      |bsg AS (SELECT tau_idx, tau, sum(c) / n AS bs
      |        FROM contrib CROSS JOIN nrows GROUP BY tau_idx, tau, n)""".stripMargin

  /** q_cindex_sorted is algebraically identical to q_cindex. */
  private def cindexSql: String = (C + s", $splitSql,\n$testSql\n" +
    """SELECT count(*) AS comparable,
      |       sum(CASE WHEN i.r > j.r THEN CAST(1 AS DOUBLE)
      |                WHEN i.r = j.r THEN CAST(0.5 AS DOUBLE)
      |                ELSE CAST(0 AS DOUBLE) END) AS concordant,
      |       sum(CASE WHEN i.r > j.r THEN CAST(1 AS DOUBLE)
      |                WHEN i.r = j.r THEN CAST(0.5 AS DOUBLE)
      |                ELSE CAST(0 AS DOUBLE) END) / count(*) AS cindex
      |FROM test i JOIN test j ON i.t < j.t AND i.e = 1""".stripMargin)

  val oracles: Map[String, String] = Map(
    "q_cindex_sorted" -> cindexSql,
    "q_km" -> (C +
      """,
        |km0 AS (SELECT CAST(t AS DOUBLE) AS t, CAST(sum(e) AS BIGINT) AS d,
        |               count(*) AS m FROM churn GROUP BY 1),
        |km1 AS (SELECT t, d, CAST(sum(m) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
        |               AND UNBOUNDED FOLLOWING) AS BIGINT) AS n, m FROM km0)
        |SELECT t, d, n,
        |       round(product(1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE))
        |       OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS s
        |FROM km1 ORDER BY t""".stripMargin),

    "q_km_censoring" -> (C + s", $splitSql,\n$testSql,\n$censSql\n" +
      "SELECT t, d, n, round(s, 6) AS s FROM ckm ORDER BY t"),

    // step integral over the 6dp-rounded KM curve; lead() over the
    // filtered knots == the engine's min-next broadcast lookup
    "q_rmst" -> (C +
      """,
        |km0 AS (SELECT CAST(t AS DOUBLE) AS t, CAST(sum(e) AS BIGINT) AS d,
        |               count(*) AS m FROM churn GROUP BY 1),
        |km1 AS (SELECT t, d, CAST(sum(m) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
        |               AND UNBOUNDED FOLLOWING) AS BIGINT) AS n, m FROM km0),
        |km2 AS (SELECT t,
        |        round(product(1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE))
        |        OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS s
        |        FROM km1),
        |f AS (SELECT t, s, lead(t) OVER (ORDER BY t) AS nxt
        |      FROM km2 WHERE t < CAST(365 AS DOUBLE)),
        |area AS (SELECT COALESCE(CAST(sum(CAST(s * (COALESCE(nxt, CAST(365 AS DOUBLE)) - t)
        |                        AS DECIMAL(38,12))) AS DOUBLE), CAST(0 AS DOUBLE)) AS tail
        |         FROM f),
        |hd AS (SELECT COALESCE(min(t), CAST(365 AS DOUBLE)) AS h FROM f)
        |SELECT CAST(365 AS DOUBLE) AS tau, round(hd.h + area.tail, 6) AS rmst
        |FROM area CROSS JOIN hd""".stripMargin),

    "q_cindex" -> cindexSql,

    "q_cindex_td" -> cindexTdSql,

    // identical algebra, identical oracle (see q_cindex/q_cindex_sorted)
    "q_cindex_td_sorted" -> cindexTdSql,

    "q_brier" -> (C + s", $splitSql,\n$testSql,\n$gridSql,\n$censSql,\n$survSql,\n$brierCore\n" +
      "SELECT tau_idx, tau, round(bs, 6) AS bs FROM bsg ORDER BY tau_idx"),

    "q_ibs" -> (C + s", $splitSql,\n$testSql,\n$gridSql,\n$censSql,\n$survSql,\n$brierCore,\n" +
      """tz AS (SELECT tau_idx, tau, bs,
        |              lag(bs) OVER (ORDER BY tau_idx) AS pbs,
        |              lag(tau) OVER (ORDER BY tau_idx) AS ptau
        |       FROM bsg)
        |SELECT round(sum((bs + pbs) / 2.0 * (tau - ptau))
        |             / (max(tau) - min(ptau)), 6) AS ibs
        |FROM tz WHERE pbs IS NOT NULL""".stripMargin))

  private def cindexTdSql: String = (C + s", $splitSql,\n$testSql,\n$gridSql,\n" +
      """si AS (SELECT i.id, i.t,
        |              CASE WHEN LEAST(CAST(FLOOR((i.t - tmin) / step) AS INT), 99) = 99
        |                   THEN tmax
        |                   ELSE tmin + LEAST(CAST(FLOOR((i.t - tmin) / step) AS INT), 99) * step
        |              END AS tau_i
        |       FROM test i CROSS JOIN rng WHERE i.e = 1)
        |SELECT count(*) AS comparable,
        |       sum(CASE WHEN exp(-exp(i.r) * si.tau_i / CAST(1000 AS DOUBLE))
        |                   < exp(-exp(j.r) * si.tau_i / CAST(1000 AS DOUBLE))
        |                  THEN CAST(1 AS DOUBLE)
        |                WHEN exp(-exp(i.r) * si.tau_i / CAST(1000 AS DOUBLE))
        |                   = exp(-exp(j.r) * si.tau_i / CAST(1000 AS DOUBLE))
        |                  THEN CAST(0.5 AS DOUBLE)
        |                ELSE CAST(0 AS DOUBLE) END) AS concordant,
        |       sum(CASE WHEN exp(-exp(i.r) * si.tau_i / CAST(1000 AS DOUBLE))
        |                   < exp(-exp(j.r) * si.tau_i / CAST(1000 AS DOUBLE))
        |                  THEN CAST(1 AS DOUBLE)
        |                WHEN exp(-exp(i.r) * si.tau_i / CAST(1000 AS DOUBLE))
        |                   = exp(-exp(j.r) * si.tau_i / CAST(1000 AS DOUBLE))
        |                  THEN CAST(0.5 AS DOUBLE)
        |                ELSE CAST(0 AS DOUBLE) END) / count(*) AS cindex
        |FROM si JOIN test i ON si.id = i.id
        |JOIN test j ON si.t < j.t""".stripMargin)
}
