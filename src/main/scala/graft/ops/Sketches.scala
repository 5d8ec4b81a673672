package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable approximate sketches for cardinality, frequency, and set
  * overlap — the aggregations ElasticSearch answers approximately
  * (`cardinality` is HLL-based: reference `dataset.py` exposes
  * eland-backed nunique over ES, which ES serves from a HyperLogLog++
  * sketch). The engine's exact `q_nunique` documents that deviation;
  * these operators close it with REAL sketch semantics, built so every
  * intermediate is integer-exact and the DuckDB oracle can replay the
  * whole computation bit-for-bit:
  *
  *   - hashes come from [[Sampling.hash60]] (md5-derived, both engines
  *     agree exactly);
  *   - HLL registers sum as exact BIGINT numerators over the common
  *     denominator 2^49 (never a float Σ2^-M_j, whose summation order
  *     would diverge in final ulps across engines);
  *   - the only float ops are ONE division of exactly-representable
  *     values and ONE half-up round, identical in both engines.
  *
  * 100-TB shapes: HLL/CMS build is a map-side-combined groupBy onto a
  * bounded key space (≤ m registers / d·w counters — the shuffle
  * carries partial sketches, never rows); KMV is a per-scope top-k
  * (sort inside each scope's partitions, k rows out). All three merge
  * associatively (max / sum / min-k), which is the whole point: at
  * 1000 executors each partition sketches locally and the combine is
  * tiny.
  */
object Sketches {

  // ---------------------------------------------------------------- HLL

  /** Register-index bits: m = 2^p registers. */
  val HllP = 12
  val HllM: Int = 1 << HllP // 4096

  /** Bits left for the rank after the bucket is peeled off a 60-bit
    * hash; rho ∈ [1, 49] (49 = all-zero remainder).
    */
  val HllWBits: Int = 60 - HllP // 48

  /** α_m·m² for the standard bias correction (Flajolet et al. 2007);
    * the exact double literal is shared with the oracle SQL.
    */
  val HllAlphaM2: Double =
    0.7213 / (1.0 + 1.079 / HllM.toDouble) * HllM.toDouble * HllM.toDouble

  /** Numerator of the estimate over the exact register sum S_num/2^49:
    * est = HllNum / S_num.
    */
  val HllNum: Double = HllAlphaM2 * (1L << (HllWBits + 1)).toDouble

  /** (bucket, rho) of one key hash: bucket = h mod m; rho = leading
    * zeros of the 48-bit remainder + 1, via the binary-string length
    * both engines compute identically (`bin`), never floating log2.
    */
  private def hllBucket(h: Column): Column = pmod(h, lit(HllM.toLong))
  private def hllRho(hName: String): Column = {
    val w = expr(s"$hName div $HllM")
    when(w === 0L, lit(HllWBits + 1))
      .otherwise(lit(HllWBits + 1) - length(bin(w)))
  }

  /** Per-scope HLL registers of the distinct `key` values:
    * (scope, bucket, r). The groupBy key space is |scopes|·m — the
    * shuffle carries register partials, not rows.
    */
  def hllSketch(df: DataFrame, scopeCol: String, keyCol: String,
                seed: Long): DataFrame =
    df.select(col(scopeCol).as("scope"),
        Sampling.hash60(col(keyCol), seed).as("_hll_h"))
      .select(col("scope"), hllBucket(col("_hll_h")).as("bucket"),
        hllRho("_hll_h").as("rho"))
      .groupBy(col("scope"), col("bucket"))
      .agg(max(col("rho")).as("r"))

  /** Merge registers across ALL scopes into one sketch named
    * `newScope` — the associative max that makes HLL distributable.
    */
  def hllMerge(regs: DataFrame, newScope: String): DataFrame =
    regs.groupBy(col("bucket")).agg(max(col("r")).as("r"))
      .select(lit(newScope).as("scope"), col("bucket"), col("r"))

  /** Estimate per scope: (scope, nonempty, s_num, est).
    *
    * s_num = Σ 2^(49−r) + (m − nonempty)·2^49 — the register sum as an
    * exact BIGINT numerator (max 2^61, no overflow, no float Σ);
    * raw = α_m·m²·2^49 / s_num — one IEEE division of
    * exactly-representable operands. Small-range correction (Flajolet
    * et al. 2007 §4): when empty registers remain and raw ≤ 2.5m, the
    * raw estimator is biased high and linear counting
    * m·ln(m / empty) is the better estimate — the branch condition
    * compares the UNROUNDED raw (exact-identical across engines), and
    * ln-parity at 4dp is established practice in this oracle suite
    * (q_text_tfidf rounds ln products to 6dp).
    */
  def hllEstimate(regs: DataFrame): DataFrame = {
    val raw = lit(HllNum) / col("s_num").cast("double")
    val emptyR = lit(HllM.toLong) - col("nonempty")
    regs.groupBy(col("scope"))
      .agg(count(lit(1)).as("nonempty"),
        (sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${HllWBits + 1} - r)"))
          + (lit(HllM.toLong) - count(lit(1)))
            * lit(1L << (HllWBits + 1))).as("s_num"))
      .select(col("scope"), col("nonempty"), col("s_num"),
        when(emptyR > 0L && raw <= lit(2.5 * HllM),
          round(lit(HllM.toDouble)
            * log(lit(HllM.toDouble) / emptyR.cast("double")), 4))
          .otherwise(round(raw, 4)).as("est"))
  }

  // ---------------------------------------------------------------- CMS

  /** Count-min sketch depth (hash rows) and width (2^10 buckets). */
  val CmsD = 4
  val CmsW = 1024

  /** Seed of the single base hash. */
  val CmsSeed = 101L

  /** Row d's bucket: a disjoint 10-bit field of ONE 60-bit hash —
    * one md5 per occurrence instead of d (the build's dominant cost);
    * disjoint bit-fields of a cryptographic hash are independent for
    * CMS purposes (d·log2(w) = 40 ≤ 60 bits available).
    */
  private def cmsBucket(h: Column, d: Int): Column =
    shiftright(h, 10 * d).bitwiseAND(lit((CmsW - 1).toLong))

  /** Build the d×w counter matrix over `key` occurrences:
    * (d, bucket, cnt). The explode is d× rows into a map-side-combined
    * groupBy on ≤ d·w keys — the shuffle carries ≤ d·w partial counts
    * per partition regardless of input size.
    */
  def cmsSketch(df: DataFrame, keyCol: String): DataFrame =
    df.select(Sampling.hash60(col(keyCol), CmsSeed).as("_h"))
      .select(posexplode(array((0 until CmsD).map(d =>
        cmsBucket(col("_h"), d)): _*)).as(Seq("d", "bucket")))
      .groupBy(col("d"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Point-estimate the frequency of each `candidates` key:
    * est = min over d of sketch[d][bucket_d(key)] — the classic CMS
    * upper bound (never under-counts; over-counts only on bucket
    * collisions). The sketch side is ≤ d·w rows and broadcasts; the
    * candidate side keeps its partitioning.
    */
  def cmsLookup(sketch: DataFrame, candidates: DataFrame,
                keyCol: String): DataFrame = {
    val probes = candidates
      .withColumn("_h", Sampling.hash60(col(keyCol), CmsSeed))
      .select(col("*"),
        posexplode(array((0 until CmsD).map(d =>
          cmsBucket(col("_h"), d)): _*)).as(Seq("d", "bucket")))
    // LEFT join + 0-fill: a probe bucket matching an EMPTY sketch cell
    // means zero occurrences hashed there — the classic min-over-d
    // bound must see that 0 (an inner join would drop the row when all
    // cells are empty, or overestimate by taking min over only the
    // non-empty ones; an absent key must estimate 0, not disappear)
    probes.join(broadcast(sketch), Seq("d", "bucket"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .groupBy(candidates.columns.map(col): _*)
      .agg(min(col("cnt")).as("est_cnt"))
  }

  // ---------------------------------------------------------------- KMV

  /** K-minimum-values sketch size. */
  val KmvK = 256

  /** Numerator of the KMV estimator (k−1)·2^60 — exact in double
    * (255 is 8 significant bits); shared with the oracle SQL.
    */
  val KmvNum: Double = (KmvK - 1).toDouble * (1L << 60).toDouble

  /** Per-scope k smallest distinct key hashes: (scope, h). The sort
    * is inside each scope (window PARTITIONED by scope — never a
    * global single-partition sort); k rows survive per scope.
    */
  def kmvSketch(df: DataFrame, scopeCol: String, keyCol: String,
                seed: Long): DataFrame = {
    val hs = df.select(col(scopeCol).as("scope"),
        Sampling.hash60(col(keyCol), seed).as("h"))
      .distinct()
    val w = Window.partitionBy(col("scope")).orderBy(col("h"))
    hs.withColumn("rn", row_number().over(w)).filter(col("rn") <= KmvK)
      .drop("rn")
  }

  /** Merge two or more scope sketches into the union sketch (k
    * smallest of the union) under a new scope name — KMV's associative
    * merge. Input is ≤ |scopes|·k rows by construction, so the global
    * order is a TakeOrdered (no single-partition window).
    */
  def kmvMerge(sketches: DataFrame, newScope: String): DataFrame =
    sketches.select(col("h")).distinct()
      .orderBy(col("h")).limit(KmvK)
      .select(lit(newScope).as("scope"), col("h"))

  /** Bounded uniform row sample: the k rows with the smallest key
    * hashes — a TakeOrdered (no global window, no shuffle beyond
    * per-partition top-k + driver merge). The sample is deterministic,
    * partitioning-independent, and MERGEABLE the same way KMV is
    * (union two samples, keep the k smallest hashes), which makes it
    * the quantile-sketch primitive: exact percentiles OF THE SAMPLE
    * estimate the population quantiles with O(1/√k) error, from state
    * that never exceeds k rows per merge site.
    */
  def kminSample(df: DataFrame, key: Column, seed: Long, k: Int): DataFrame =
    df.withColumn("_h", Sampling.hash60(key, seed))
      .orderBy(col("_h"), key).limit(k)
      .drop("_h")

  /** EXACT percentiles of `vCol` — bit-identical to Spark's
    * `percentile(v, array(...))` — WITHOUT the single merge task that
    * holds every distinct value (r20, verdict item 5: the classic
    * exact-percentile aggregate builds a value→count map per
    * partition and merges ALL of them in one final task — O(distinct
    * values) memory and cpu in one place; measured 1.36 s / 5.3 MB of
    * serialized maps at sf0.1, and unboundedly worse at corpus
    * scale).
    *
    * Shape: the multiset is range-sorted and globally numbered by
    * [[graft.core.StableOrder.withRowNumber]] (range exchange +
    * per-partition sort + O(width) offset literals — every partition
    * numbers itself in parallel; the total count comes back with it),
    * the ≤ 2·|percs| rows at the needed positions are filtered out of
    * the pinned sorted table, and the linear interpolation replays
    * Spark's own arithmetic exactly: position = p·(n−1) as a double,
    * value = (ceil−pos)·v_floor + (pos−floor)·v_ceil, with the
    * lower-value shortcut when floor == ceil (Percentile.getPercentile
    * semantics, spec-pinned against the built-in in
    * SketchQuantileSpec). Row-number ties among EQUAL values are
    * harmless here — withRowNumber's uniqueness contract exists for
    * deterministic (row → rn) assignment, and this reader only uses
    * the (rn → value) direction, which is the sorted multiset's
    * position function regardless of tie order.
    *
    * NULL inputs are dropped first (the built-in skips them); an
    * empty/all-null input yields the built-in's NULL row. Returns ONE
    * row: (n, _p0, _p1, ...), where n is the NON-NULL count of `vCol`.
    * Every percentile must lie in [0, 1], as the built-in requires.
    */
  def exactPercentiles(df: DataFrame, vCol: String,
                       percs: Seq[Double]): DataFrame = {
    percs.foreach(p => require(p >= 0.0 && p <= 1.0,
      s"exactPercentiles: percentile $p is outside [0, 1]"))
    val (rnDf, n) = graft.core.StableOrder.withRowNumber(
      df.filter(col(vCol).isNotNull).select(col(vCol).as("_v")),
      Seq(col("_v")))
    // Spark Percentile: position = percentage * (count - 1); linear
    // interpolation between the floor/ceil positions
    val wanted = percs.zipWithIndex.map { case (p, i) =>
      val pos = p * (n - 1)
      (i, math.floor(pos).toLong, math.ceil(pos).toLong, pos)
    }
    val idx = wanted.flatMap(w => Seq(w._2, w._3)).distinct.filter(_ >= 0)
    val vals = rnDf
      .filter(col(graft.core.StableOrder.RN).isin(idx: _*))
      .select(col(graft.core.StableOrder.RN).as("_rn"), col("_v"))
    val aggs = wanted.map { case (i, lo, hi, pos) =>
      val vLo = min(when(col("_rn") === lo, col("_v")))
      val vHi = min(when(col("_rn") === hi, col("_v")))
      (if (lo == hi) vLo
       else lit(hi - pos) * vLo + lit(pos - lo) * vHi).as(s"_p$i")
    }
    vals.agg(aggs.head, aggs.tail: _*)
      .select(lit(n).as("n") +: percs.indices.map(i => col(s"_p$i")): _*)
  }

  /** Cardinality estimate per scope from its sketch:
    * est = round((k−1)·2^60 / h_(k), 4), the classic KMV estimator —
    * one division of exact operands, one half-up round. Scopes with
    * fewer than k distinct hashes get their EXACT count (the sketch
    * holds the whole set).
    */
  def kmvEstimate(sketch: DataFrame): DataFrame =
    sketch.groupBy(col("scope"))
      .agg(max(col("h")).as("hk"), count(lit(1)).as("nk"))
      .select(col("scope"),
        when(col("nk") < KmvK, col("nk").cast("double"))
          .otherwise(round(lit(KmvNum) / col("hk").cast("double"), 4))
          .as("est"))
}
