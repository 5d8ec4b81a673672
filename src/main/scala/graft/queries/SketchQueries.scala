package graft.queries

import graft.core.Tables
import graft.ops.{Sampling, Sketches, TextAnalysis => TA}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable-sketch surface (`ops/Sketches.scala`) — HLL cardinality
  * (the ES `cardinality` aggregation the reference's nunique maps to),
  * count-min frequency, KMV distinct/overlap — each replayed exactly
  * by the DuckDB oracle: the md5 hash, the integer register sums, and
  * the single final division are engine-independent by construction.
  */
object SketchQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // HLL registers per language over the distinct token sets, merged
    // (register max) into a global '__all' sketch — the per-partition
    // sketch + tiny combine shape a 1000-executor cardinality agg has.
    // est_agg is the SAME estimate through the hll_est
    // TypedImperativeAggregate (4096-byte buffer, bytewise-max merge):
    // the two paths must agree exactly, and the oracle checks both.
    "q_sketch_hll" -> ((s, dir) => {
      val toks = Tables.load(s, dir, "documents")
        .select(col("lang"), explode(TA.tokens(col("text"))).as("tok"))
      val tok = toks.distinct()
      val regs = Sketches.hllSketch(tok, "lang", "tok", seed = 11L)
      val est = Sketches.hllEstimate(
        regs.unionByName(Sketches.hllMerge(regs, "__all")))
      val exact = tok.groupBy(col("lang").as("scope"))
        .agg(count(lit(1)).as("exact"))
        .unionByName(tok.select(col("tok")).distinct()
          .agg(count(lit(1)).as("exact"))
          .select(lit("__all").as("scope"), col("exact")))
      // hll_est is duplicate-insensitive — feed the raw token stream
      val agg = toks.groupBy(col("lang").as("scope"))
        .agg(graft.functions.HllAgg.hll_est(col("tok"), 11L).as("est_agg"))
        .unionByName(toks
          .agg(graft.functions.HllAgg.hll_est(col("tok"), 11L).as("est_agg"))
          .select(lit("__all").as("scope"), col("est_agg")))
      est.join(exact, Seq("scope")).join(agg, Seq("scope"))
        .select(col("scope"), col("nonempty"), col("s_num"), col("est"),
          col("est_agg"), col("exact"),
          round((col("est") - col("exact").cast("double"))
            / col("exact").cast("double") * 100, 2).as("err_pct"))
        .orderBy("scope")
    }),

    // Count-min point estimates for the 15 most frequent tokens; the
    // d×w counter matrix is the sketch, the estimate is min over the
    // d probed cells (CMS upper bound ≥ exact, over only on bucket
    // collisions).
    "q_sketch_cms" -> ((s, dir) => {
      val tok = Tables.load(s, dir, "documents")
        .select(explode(TA.tokens(col("text"))).as("tok"))
      val sketch = Sketches.cmsSketch(tok, "tok")
      val cand = tok.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("tok")).limit(15)
      Sketches.cmsLookup(sketch, cand, "tok").orderBy("tok")
    }),

    // quantile sketch: exact percentiles of a deterministic 256-row
    // k-min hash sample vs the exact population quantiles — the
    // bounded-state path to "approximate percentiles over 100 TB"
    // (the sample merges like KMV: union, keep k smallest hashes).
    // Columns: n is the NON-NULL count of l_extendedprice (the values
    // the exact percentiles rank), then each percentile's estimate
    // beside its exact value.
    "q_sketch_quantiles" -> ((s, dir) => {
      val kv = Tables.load(s, dir, "lineitem")
        .select(concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("k"),
          col("l_extendedprice").cast("double").as("v"))
      val samp = Sketches.kminSample(kv, col("k"), seed = 17L, k = 256)
      // Single `percentile(v, array(...))` call on the 256-row sample:
      // one sort pays for all three quantiles (three scalar calls
      // would sort thrice).
      val est = samp
        .agg(expr("percentile(v, array(0.5, 0.9, 0.99))").as("p"))
        .select(element_at(col("p"), 1).as("p50_est"),
          element_at(col("p"), 2).as("p90_est"),
          element_at(col("p"), 3).as("p99_est"))
      // full-data side: the DISTRIBUTED exact percentile (r20) — the
      // built-in aggregate merges every partition's value→count map
      // in ONE final task (O(distinct) in one place; 1.36 s at sf0.1,
      // unbounded at corpus scale). exactPercentiles range-sorts +
      // position-picks with the built-in's own interpolation
      // arithmetic, bit-identical (Sketches scaladoc + spec pin).
      val exact = Sketches
        .exactPercentiles(kv, "v", Seq(0.5, 0.9, 0.99))
        .select(col("n"), col("_p0").as("p50_exact"),
          col("_p1").as("p90_exact"), col("_p2").as("p99_exact"))
      est.crossJoin(exact)
        .select(col("n"), col("p50_est"), col("p50_exact"),
          col("p90_est"), col("p90_exact"), col("p99_est"), col("p99_exact"))
    }),

    // KMV sketches of the English and German token sets, their
    // sketch-union, and the overlap estimates (Jaccard + intersection
    // via the k-union's common survivors) — the mergeable
    // distinct-overlap sketch a cross-corpus contamination check runs
    // at scale.
    "q_sketch_kmv" -> ((s, dir) => {
      val pairs = Tables.load(s, dir, "documents")
        .filter(col("lang").isin("en", "de"))
        .select(col("lang"), explode(TA.tokens(col("text"))).as("tok"))
      val sk = Sketches.kmvSketch(pairs, "lang", "tok", seed = 13L)
      val union = Sketches.kmvMerge(sk, "__union")
      val est = Sketches.kmvEstimate(sk.unionByName(union))
        .agg(max(when(col("scope") === "en", col("est"))).as("est_en"),
          max(when(col("scope") === "de", col("est"))).as("est_de"),
          max(when(col("scope") === "__union", col("est"))).as("est_union"))
      val hs = pairs
        .select(col("lang"), Sampling.hash60(col("tok"), 13L).as("h"))
        .distinct()
      val common = union.select(col("h"))
        .join(hs.filter(col("lang") === "en").select(col("h")),
          Seq("h"), "left_semi")
        .join(hs.filter(col("lang") === "de").select(col("h")),
          Seq("h"), "left_semi")
        .agg(count(lit(1)).as("common_k"))
      // Jaccard denominator: the number of union-sketch survivors
      // actually inspected — min(K, |union sketch|). Dividing by the
      // fixed K when the union holds fewer than K hashes (small or
      // highly-overlapping vocabularies) understates the overlap: an
      // identical en/de token set must report jaccard = 1.0, not
      // |vocab|/K (the under-full branch kmvEstimate already has).
      val unionK = union.agg(count(lit(1)).as("union_k"))
      est.crossJoin(common).crossJoin(unionK)
        .select(col("common_k"), col("est_de"), col("est_en"),
          col("est_union"),
          round(col("common_k").cast("double") /
            least(lit(Sketches.KmvK.toDouble), col("union_k").cast("double")),
            6).as("jaccard"),
          round(col("common_k").cast("double") * col("est_union") /
            least(lit(Sketches.KmvK.toDouble), col("union_k").cast("double")),
            4).as("inter_est"))
    }))

  val oracles: Map[String, String] = Map(

    "q_sketch_hll" ->
      s"""WITH tok AS (SELECT DISTINCT lang, tok FROM
         |    (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)),
         |h AS (SELECT lang, ('0x' || substr(md5('11:' || tok), 1, 15))::BIGINT AS h
         |      FROM tok),
         |b AS (SELECT lang, h % 4096 AS bucket, h // 4096 AS w FROM h),
         |r AS (SELECT lang AS scope, bucket,
         |        max(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END) AS r
         |      FROM b GROUP BY 1, 2),
         |ar AS (SELECT '__all' AS scope, bucket, max(r) AS r FROM r GROUP BY 2),
         |regs AS (SELECT * FROM r UNION ALL SELECT * FROM ar),
         |est AS (SELECT scope, count(*) AS nonempty,
         |          CAST(sum(1::BIGINT << (49 - r))
         |               + (4096 - count(*)) * (1::BIGINT << 49) AS BIGINT) AS s_num
         |        FROM regs GROUP BY 1),
         |exl AS (SELECT lang AS scope, count(*) AS exact FROM tok GROUP BY 1
         |        UNION ALL SELECT '__all', count(DISTINCT tok) FROM tok),
         |o AS (SELECT e.scope, e.nonempty, e.s_num,
         |        CASE WHEN 4096 - e.nonempty > 0
         |                  AND ${Sketches.HllNum} / CAST(e.s_num AS DOUBLE)
         |                      <= ${2.5 * Sketches.HllM}
         |             THEN round(4096.0 * ln(4096.0 /
         |                    CAST(4096 - e.nonempty AS DOUBLE)), 4)
         |             ELSE round(${Sketches.HllNum} / CAST(e.s_num AS DOUBLE), 4)
         |        END AS est,
         |        x.exact
         |      FROM est e JOIN exl x USING (scope))
         |SELECT scope, nonempty, s_num, est, est AS est_agg, exact,
         |       round((est - CAST(exact AS DOUBLE)) / CAST(exact AS DOUBLE) * 100, 2)
         |         AS err_pct
         |FROM o ORDER BY scope""".stripMargin,

    "q_sketch_cms" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
        |th AS (SELECT ('0x' || substr(md5('101:' || tok), 1, 15))::BIGINT AS h
        |       FROM tok),
        |bk AS (SELECT d, (h >> (10 * d)) & 1023 AS bucket FROM th, ds),
        |sk AS (SELECT d, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
        |cand AS (SELECT tok, count(*) AS exact_cnt FROM tok GROUP BY tok
        |         ORDER BY exact_cnt DESC, tok LIMIT 15),
        |pr AS (SELECT tok, exact_cnt, d, (h >> (10 * d)) & 1023 AS bucket
        |       FROM (SELECT tok, exact_cnt,
        |               ('0x' || substr(md5('101:' || tok), 1, 15))::BIGINT AS h
        |             FROM cand), ds)
        |SELECT pr.tok, pr.exact_cnt,
        |       min(coalesce(sk.cnt, 0)) AS est_cnt
        |FROM pr LEFT JOIN sk USING (d, bucket)
        |GROUP BY 1, 2 ORDER BY tok""".stripMargin,

    "q_sketch_quantiles" ->
      """WITH kv AS (SELECT l_orderkey || '-' || l_linenumber AS k,
        |                   CAST(l_extendedprice AS DOUBLE) AS v
        |            FROM lineitem),
        |h AS (SELECT k, v,
        |        ('0x' || substr(md5('17:' || k), 1, 15))::BIGINT AS h FROM kv),
        |s AS (SELECT v FROM h ORDER BY h, k LIMIT 256),
        |est AS (SELECT quantile_cont(v, 0.5) AS p50_est,
        |               quantile_cont(v, 0.9) AS p90_est,
        |               quantile_cont(v, 0.99) AS p99_est FROM s),
        |ex AS (SELECT count(*) AS n,
        |              quantile_cont(v, 0.5) AS p50_exact,
        |              quantile_cont(v, 0.9) AS p90_exact,
        |              quantile_cont(v, 0.99) AS p99_exact FROM kv)
        |SELECT n, p50_est, p50_exact, p90_est, p90_exact, p99_est, p99_exact
        |FROM est, ex""".stripMargin,

    "q_sketch_kmv" ->
      s"""WITH pr AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
         |            FROM documents WHERE lang IN ('en', 'de')),
         |hs AS (SELECT DISTINCT lang,
         |         ('0x' || substr(md5('13:' || tok), 1, 15))::BIGINT AS h FROM pr),
         |rk AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
         |       FROM hs),
         |sk AS (SELECT lang AS scope, h FROM rk WHERE rn <= 256),
         |usk AS (SELECT '__union' AS scope, h FROM
         |          (SELECT DISTINCT h FROM sk) ORDER BY h LIMIT 256),
         |agg AS (SELECT scope, max(h) AS hk, count(*) AS nk
         |        FROM (SELECT * FROM sk UNION ALL SELECT * FROM usk) GROUP BY 1),
         |est AS (SELECT scope,
         |          CASE WHEN nk < 256 THEN CAST(nk AS DOUBLE)
         |               ELSE round(${Sketches.KmvNum} / CAST(hk AS DOUBLE), 4) END AS est
         |        FROM agg),
         |piv AS (SELECT max(CASE WHEN scope = 'en' THEN est END) AS est_en,
         |               max(CASE WHEN scope = 'de' THEN est END) AS est_de,
         |               max(CASE WHEN scope = '__union' THEN est END) AS est_union
         |        FROM est),
         |cm AS (SELECT count(*) AS common_k FROM usk
         |       WHERE h IN (SELECT h FROM hs WHERE lang = 'en')
         |         AND h IN (SELECT h FROM hs WHERE lang = 'de')),
         |uk AS (SELECT least(CAST(256 AS DOUBLE), CAST(count(*) AS DOUBLE))
         |         AS union_k FROM usk)
         |SELECT common_k, est_de, est_en, est_union,
         |       round(CAST(common_k AS DOUBLE) / union_k, 6) AS jaccard,
         |       round(CAST(common_k AS DOUBLE) * est_union / union_k, 4)
         |         AS inter_est
         |FROM piv, cm, uk""".stripMargin)
}
