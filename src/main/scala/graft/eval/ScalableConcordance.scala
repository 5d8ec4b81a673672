package graft.eval

import graft.eval.ScoringSplit.Cfg
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Harrell C-index WITHOUT the quadratic pair join — the declared
  * 100-TB path (SURVEY §2.7, §7.5). Exactly equal to
  * [[Concordance.harrell]] (strict concordance, ties 0.5), but built
  * from counting structures instead of a pair space:
  *
  *   comparable  = Σ_t ev(t) · #{j : t_j > t}          (suffix sums)
  *   ties        = Σ_{r,t} ev(r,t) · #{j : r_j = r, t_j > t}
  *   concordant  = cross-bucket + within-bucket + 0.5·ties
  *
  * Risks are split into B coarse buckets by approxQuantile boundaries
  * (any monotone value→bucket map is CORRECT — bucketing only shapes
  * the partitioning, never the counts):
  *   - cross-bucket pairs (bucket_j < bucket_i ⇒ r_j < r_i) come from
  *     a (bucket × distinct-t) count grid with suffix sums over t and
  *     prefix sums over buckets — all window work over grouped rows;
  *   - within-bucket pairs are counted exactly per bucket with a
  *     local O(m log m) Fenwick sweep inside mapPartitions after a
  *     repartition on the bucket id (memory per task = bucket size,
  *     tunable via B).
  *
  * The comparable and ties counts need suffix sums over DISTINCT times
  * (optionally within a risk / τ group). Those used ordered windows
  * through round 6 — a global `Window.orderBy(t)` serializes on one
  * partition when |distinct t| ≈ n (continuous time), and the keyed
  * windows buffered whole groups. Now: KEYED suffixes hash-partition
  * by key + sort within, so each branch streams in O(1) task memory as
  * one lazy plan ([[evAfterKeyedDf]]); the one genuinely GLOBAL suffix
  * (harrell's comparable) uses the [[KaplanMeier.curveExpr]]-style
  * distributed range scan with driver carries ([[evAfterDf]]) over the
  * small grouped distinct-time table. Each count branch ends in one
  * partial per partition, and all four come back in ONE collect that
  * the driver sums ([[collectScalars]]) — no final single-partition
  * aggregation stage per branch.
  */
object ScalableConcordance {

  def harrell(df: DataFrame, tCol: String, eCol: String, riskCol: String,
              numBuckets: Int = 64): DataFrame = graft.core.Pins.scoped {
    val spark = df.sparkSession
    import spark.implicits._

    // null t/e/r rows are excluded — the same contract as
    // Concordance.harrell (a null would NPE the primitive-tuple
    // encoder in the within-bucket sweep; NaN risks are handled, see
    // countWithin)
    val s = graft.core.Pins.pin(
      df.filter(col(tCol).isNotNull && col(eCol).isNotNull &&
          col(riskCol).isNotNull)
        .select(col(tCol).cast("double").as("t"),
          col(eCol).cast("int").as("e"), col(riskCol).cast("double").as("r")))

    // ---- bucket assignment: monotone value→bucket map ----
    // (approxQuantile is the one unavoidable pre-pass — it defines the
    // bucket bounds the counting branches below are built from; it also
    // materializes the persisted base so the single counting job reads
    // cache instead of racing to recompute it per branch.)
    val probs = (1 until numBuckets).map(_.toDouble / numBuckets).toArray
    val bounds =
      if (probs.isEmpty) Array.empty[Double]
      else s.stat.approxQuantile("r", probs, 0.001).distinct.sorted
    val bArr = array(bounds.map(lit(_)): _*)
    val bucketCol =
      if (bounds.isEmpty) lit(0) else size(filter(bArr, bd => bd < col("r")))
    val sb = s.withColumn("b", bucketCol)

    // ---- comparable: events at t × subjects with larger t ----
    // GLOBAL suffix — the one case that genuinely needs the sampled
    // range scan (a global ordered window serializes on one partition
    // when |distinct t| ≈ n). Its cells are the grouped distinct-time
    // table, so the scan's two prep jobs are small.
    val comparableDf = evAfterDf(
      s.groupBy(col("t")).agg(count(lit(1)).as("m"), sum(col("e")).as("ev")),
      Nil)

    // ---- ties: same risk, larger t ----
    // Keyed suffix: hash-partition BY KEY + sort within — every key's
    // run lives inside one partition, so the count streams in O(1)
    // memory as ONE lazy branch of the final job (no window buffering,
    // no extra jobs, no carries).
    val tiesDf = evAfterKeyedDf(
      s.groupBy(lit(0).as(Cfg), col("r"), col("t"))
        .agg(count(lit(1)).as("m"), sum(col("e")).as("ev")),
      Seq(Cfg, "r"))

    // ---- cross-bucket at EVENT points only (no dense t × bucket
    // grid — see the antolini() comment for the union/prefix trick) ----
    val perBT = sb.groupBy(col("b"), col("t")).agg(count(lit(1)).as("m"))
    val evT = sb.filter(col("e") === 1).select(col("t")).distinct()
    val allB = spark.range(0, bounds.length + 1L).select(col("id").cast("int").as("b"))
    val u = perBT.select(col("b"), col("t"), col("m"), lit(0).as("q"))
      .unionAll(evT.crossJoin(allB)
        .select(col("b"), col("t"), lit(0L).as("m"), lit(1).as("q")))
    val wB = Window.partitionBy(col("b"))
    val grid = u
      .withColumn("pref", // Σ m with t' <= t (data rows sort before queries)
        sum(col("m")).over(wB.orderBy(col("t"), col("q"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("m")).over(wB))
      .filter(col("q") === 1)
      .withColumn("f", col("tot") - col("pref")) // # in bucket b with t_j > t
      .withColumn("g", // Σ_{b' <= b} f(b', t)
        sum(col("f")).over(Window.partitionBy(col("t")).orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val evTB = sb.filter(col("e") === 1)
      .groupBy(col("t"), col("b")).agg(count(lit(1)).as("ev"))
    val crossDf = evTB
      .join(grid.select(col("t"), (col("b") + 1).as("b"), col("g")),
        Seq("t", "b"), "left")
      .select(lit(0).as(Cfg), (col("ev") * coalesce(col("g"), lit(0L))).as("v"))
      .transform(partitionSums)

    // ---- within-bucket: exact local Fenwick sweep per bucket ----
    val withinDf = sb.select(col("t"), col("e"), col("r"), col("b"))
      .repartition(col("b"))
      .as[(Double, Int, Double, Int)]
      .mapPartitions { it =>
        var total = 0L
        it.toSeq.groupBy(_._4).valuesIterator.foreach { rows =>
          total += countWithin(rows.map(x => (x._1, x._2, x._3)))
        }
        Iterator.single((0, total))
      }.toDF(Cfg, "v")

    // ONE action for all four counts: the branches are independent, so
    // Spark schedules their stages concurrently instead of paying four
    // sequential job round-trips over the same cached base. One risk
    // column is one scored config: cfg 0.
    val Seq(comparable: Long, ties: Long, cross: Long, within: Long) =
      collectScalars(Seq(comparableDf, tiesDf, crossDf, withinDf), configs = 1).head
    Seq(concordance(comparable, ties, cross, within))
      .toDF("comparable", "concordant", "cindex")
  }

  /** Antolini time-dependent C-index WITHOUT the quadratic pair join —
    * same counting scheme as [[harrell]], with one extra leading key.
    *
    * Antolini compares S(t_i|x_i) vs S(t_i|x_j), so the compared score
    * depends on the pair only through τ(t_i) — the step grid point of
    * the event subject's time — and τ takes ≤ |grid| distinct values.
    * Slicing the long-form `surv` matrix (id, tau, s) by ACTIVE τ
    * (grid points hit by ≥1 event) gives, per slice, a plain Harrell
    * problem with risk r = −S(τ|x): comparable/ties/cross/within are
    * the identical suffix-sum + bucket-grid + Fenwick algebra with τ
    * prepended to every grouping key, window partition, and shuffle
    * key. Total work is O(|surv|) = O(n·|grid|) — the size of the
    * prediction matrix the caller already materialized — vs the
    * O(n_events·n) pair space of [[Concordance.antolini]].
    *
    * Buckets are equal-width on s ∈ [0, 1] (survival probabilities),
    * a monotone map, so the counts are exact regardless of balance;
    * B and spark.sql.shuffle.partitions bound per-task memory of the
    * within-bucket sweep.
    *
    * τ(t_i) and the active τ set come from the split's
    * [[ScoringSplit]] — the same value `FittedSurvModel.scoreAll` reads,
    * which also takes the integrated Brier score from the same collect.
    * This is the scoring path's one-config case: `surv` is scored as
    * cfg 0.
    */
  def antolini(df: DataFrame, idCol: String, tCol: String, eCol: String,
               surv: DataFrame, grid: Array[Double],
               numBuckets: Int = 16): DataFrame = graft.core.Pins.scoped {
    val split = ScoringSplit.build(df, idCol, tCol, eCol, grid)
    val x = ScoringSplit.materialized(split.attach(surv.withColumn(Cfg, lit(0)), idCol))
    val Seq(comparable: Long, ties: Long, cross: Long, within: Long) =
      collectScalars(antoliniCounts(split, x, numBuckets), configs = 1).head
    val spark = df.sparkSession
    import spark.implicits._
    Seq(concordance(comparable, ties, cross, within))
      .toDF("comparable", "concordant", "cindex")
  }

  /** Antolini's comparable / ties / cross / within counts as four
    * branches of per-partition, per-config partials (cfg, v) for the
    * caller's single [[collectScalars]]. `joined` is
    * [[ScoringSplit.attach]]'s join, cached by the caller; its `cfg`
    * column leads every grouping key, window partition and shuffle
    * key, so the configs of a batch never meet in one count.
    */
  private[eval] def antoliniCounts(split: ScoringSplit, joined: DataFrame,
                                   numBuckets: Int): Seq[DataFrame] = {
    val spark = joined.sparkSession
    import spark.implicits._

    // One Harrell slice per active τ: every subject once, as risk
    // r = −s(τ|x); the event flag is LOCAL to the subject's own slice.
    val x = joined.filter(col("tau").isin(split.activeTau.toIndexedSeq: _*))
      .select(col(Cfg), col("tau"), col("t"), negate(col("s").cast("double")).as("r"),
        when(col("e") === 1 && col("tau_i") === col("tau"), 1)
          .otherwise(0).as("ei"))

    // Suffix counts per τ (and per (τ, r) for ties) via the keyed
    // streaming scan — hash-partitioned on the key, sorted within, so
    // each branch stays one lazy plan inside the single counting job.
    // Parallelism = #keys (≥ |active τ|, vs ONE partition for the old
    // per-τ window), memory O(1) per task (the window buffered whole
    // τ slices).
    val comparableDf = evAfterKeyedDf(
      x.groupBy(col(Cfg), col("tau"), col("t"))
        .agg(count(lit(1)).as("m"), sum(col("ei")).as("ev")),
      Seq(Cfg, "tau"))

    val tiesDf = evAfterKeyedDf(
      x.groupBy(col(Cfg), col("tau"), col("r"), col("t"))
        .agg(count(lit(1)).as("m"), sum(col("ei")).as("ev")),
      Seq(Cfg, "tau", "r"))

    // b monotone in r: r = −s ∈ [−1, 0] → equal-width cells, clamped.
    val b = greatest(lit(0), least(lit(numBuckets - 1),
      floor((col("r") + 1.0) * numBuckets).cast("int")))
    val xb = x.withColumn("b", b)

    // Cross-bucket counts at EVENT points only, without completing the
    // (τ × t × bucket) grid (that crossJoin is O(|τ|·|t|·B) rows — a
    // scale blowup): union the per-(τ,b,t) data counts with one query
    // row per (event (τ,t)) × bucket, running-prefix-sum m ordered by
    // (t, data-before-query), and read f = tot − prefix at the query
    // rows. One window pass over O(|x|) rows instead of the dense grid.
    // The B query rows per event point come from a scan-fused explode:
    // a cross join with a bucket range would be a nested-loop join whose
    // size estimate (the product of both sides) grows with the batch
    // and plans the joins above it as shuffles that AQE only demotes
    // to broadcasts after running them.
    val perBT = xb.groupBy(col(Cfg), col("tau"), col("b"), col("t")).agg(count(lit(1)).as("m"))
    val evT = xb.filter(col("ei") === 1).select(col(Cfg), col("tau"), col("t")).distinct()
    val u = perBT.select(col(Cfg), col("tau"), col("b"), col("t"), col("m"), lit(0).as("q"))
      .unionAll(evT.select(col(Cfg), col("tau"),
        explode(sequence(lit(0), lit(numBuckets - 1))).as("b"), col("t"),
        lit(0L).as("m"), lit(1).as("q")))
    val wBT = Window.partitionBy(col(Cfg), col("tau"), col("b"))
    val cells = u
      .withColumn("pref", // Σ m with t' <= t (data rows sort before queries)
        sum(col("m")).over(wBT.orderBy(col("t"), col("q"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("m")).over(wBT))
      .filter(col("q") === 1)
      .withColumn("f", col("tot") - col("pref")) // # in (τ,b) with t_j > t
      .withColumn("g", // Σ_{b' <= b} f(τ, b', t)
        sum(col("f")).over(Window.partitionBy(col(Cfg), col("tau"), col("t")).orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val evTB = xb.filter(col("ei") === 1)
      .groupBy(col(Cfg), col("tau"), col("t"), col("b")).agg(count(lit(1)).as("ev"))
    val crossDf = evTB
      .join(cells.select(col(Cfg), col("tau"), col("t"), (col("b") + 1).as("b"), col("g")),
        Seq(Cfg, "tau", "t", "b"), "left")
      .select(col(Cfg), (col("ev") * coalesce(col("g"), lit(0L))).as("v"))
      .transform(partitionSums)

    val withinDf = xb.select(col(Cfg), col("tau"), col("b"), col("t"), col("ei"), col("r"))
      .repartition(col(Cfg), col("tau"), col("b"))
      .as[(Int, Double, Int, Double, Int, Double)]
      .mapPartitions { it =>
        sumByCfg(it.toSeq.groupBy(p => (p._1, p._2, p._3)).iterator.map { case (k, rows) =>
          (k._1, countWithin(rows.map(p => (p._4, p._5, p._6))))
        })
      }.toDF(Cfg, "v")

    // branches independent over the cached join → concurrently
    // scheduled stages of the caller's one collect
    Seq(comparableDf, tiesDf, crossDf, withinDf)
  }

  /** (comparable, concordant, cindex) from the four counts; ties
    * score 0.5.
    */
  private[eval] def concordance(comparable: Long, ties: Long, cross: Long,
                                within: Long): (Long, Double, Double) = {
    val concordant = cross + within + 0.5 * ties
    (comparable, concordant, concordant / comparable.toDouble)
  }

  /** Key-run equality with java.lang boxed semantics (NaN == NaN):
    * Spark's groupBy collapses every NaN of a key column into ONE
    * group, so the run detectors must not re-fragment that group —
    * Scala == on boxed doubles would (NaN != NaN), silently
    * undercounting the key's suffix sums. (-0.0 vs 0.0 needs no
    * care: grouping already normalized them into one cell.) Null
    * sentinels compare unequal, matching the detectors' "no open
    * run" convention.
    */
  private def sameKey(a: Seq[Any], b: Seq[Any]): Boolean =
    a != null && b != null && a.length == b.length &&
      a.indices.forall { i =>
        (a(i), b(i)) match {
          case (x: java.lang.Double, y: java.lang.Double) => x.equals(y)
          case (x: java.lang.Float, y: java.lang.Float) => x.equals(y)
          case (x, y) => x == y
        }
      }

  /** KEYED form of [[evAfterDf]] as one LAZY plan: hash-partition the
    * cells by the key columns and sort within by (keys asc, t desc) —
    * a key's whole run is then contained in a single partition, so
    * Σ ev · #(same key, larger t) streams per partition with O(1)
    * state and no cross-partition carries, no window buffering, and
    * no prep jobs. Parallelism is #distinct keys (τ / risk granular);
    * the KEYLESS global suffix is the one case that needs the sampled
    * range scan instead. The keys lead with the config column `cfg`,
    * and each partition yields one partial (cfg, v) per config in it.
    */
  private def evAfterKeyedDf(cells: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.headOption.contains(Cfg), s"keyed suffix keys must lead with $Cfg: $keyCols")
    val k = keyCols.length
    // width: session-default map side, AQE advisory-size coalescing
    val sortExprs = keyCols.map(col(_).asc) :+ col("t").desc
    cells
      .select((keyCols.map(col) :+ col("t").cast("double").as("t") :+
        col("m").cast("long").as("m") :+ col("ev").cast("long").as("ev")): _*)
      .repartition(keyCols.map(col): _*)
      .sortWithinPartitions(sortExprs: _*)
      .mapPartitions { it =>
        var curKey: Seq[Any] = null
        var pref = 0L
        sumByCfg(it.map { r =>
          val key = Seq.tabulate(k)(r.get)
          if (!sameKey(key, curKey)) { curKey = key; pref = 0L }
          val v = r.getLong(k + 2) * pref
          pref += r.getLong(k + 1)
          (r.getInt(0), v)
        })
      }(Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
      .toDF(Cfg, "v")
  }

  /** Σ_cells ev · #{rows in same-key cells with strictly larger t},
    * as one partial (cfg 0, v) per partition, which the caller unions
    * into its single counting collect. Its one caller, [[harrell]],
    * scores a single risk column.
    *
    * `cells` must be (keyCols..., t, m, ev) with one row per distinct
    * (keys, t) — m subjects and ev events at that cell. Used with
    * keys = Nil (the global suffix); the keyed-run machinery keeps the
    * scheme correct for fine partition splits of one run too. This is
    * the KaplanMeier.curveExpr three-pass range scan generalized to
    * keyed runs: rows are range-partitioned and sorted by (keys asc, t DESC),
    * so each key's run is contiguous (possibly spanning partitions) and
    * "same key, larger t" = "earlier in the run". Pass 1 collects per-
    * partition leading/trailing run summaries (4 scalars + the boundary
    * keys per partition — never O(rows) on the driver); a driver scan
    * turns them into per-partition carry-in counts; pass 2 seeds each
    * partition with its carry and streams Σ ev·prefix in O(1) memory.
    * Integer sums only — association-free, so the result is EXACTLY the
    * ordered-window formulation it replaces.
    */
  private def evAfterDf(cells: DataFrame, keyCols: Seq[String]): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    // width: session-default map side, AQE advisory-size coalescing
    val k = keyCols.length
    val sortExprs = keyCols.map(col(_).asc) :+ col("t").desc
    // The grouped cell table is consumed TWICE by repartitionByRange
    // (RangePartitioner's sampling job, then the shuffle write) — pin
    // it across pass 1 so the groupBy aggregation runs once, release as
    // soon as the sorted rows RDD below is materialized.
    val (cellsP, releaseCells) = graft.core.Pins.held(graft.core.Pins.pin(cells
      .select((keyCols.map(col) :+ col("t").cast("double").as("t") :+
        col("m").cast("long").as("m") :+ col("ev").cast("long").as("ev")): _*)))
    val g = cellsP
      .repartitionByRange(sortExprs: _*)
      .sortWithinPartitions(sortExprs: _*)
    // RDD-level persist shared by object across both passes (same
    // contract as KaplanMeier.curveExpr: one sampled partitioning;
    // released with the calling harrell/antolini scope).
    val rows = graft.core.Pins.pinRdd(g.rdd)
    def keyOf(r: Row): Seq[Any] = Seq.tabulate(k)(r.get)

    // Pass 1: per-partition (leadKey, leadRunSum, trailKey, trailRunSum,
    // singleRun) — the only state the cross-partition carries need.
    val stats = rows.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        var leadKey: Seq[Any] = null; var leadSum = 0L
        var curKey: Seq[Any] = null; var curSum = 0L
        var nRuns = 0
        it.foreach { r =>
          val key = keyOf(r)
          if (!sameKey(key, curKey)) {
            if (nRuns == 1) { leadKey = curKey; leadSum = curSum }
            curKey = key; curSum = 0L; nRuns += 1
          }
          curSum += r.getLong(k + 1)
        }
        if (nRuns == 1) { leadKey = curKey; leadSum = curSum }
        Iterator.single((pid, leadKey, leadSum, curKey, curSum, nRuns == 1))
      }
    }.collect().sortBy(_._1)
    // pass 1 materialized `rows`; the unsorted cell cache is done
    releaseCells()

    // Driver scan, ascending partitions: a key's run spans consecutive
    // partitions, so carry-in for p's leading run = the accumulated sum
    // of the SAME key's rows in earlier partitions (earlier partitions
    // sort before ⇒ same key with LARGER t there ⇒ they count).
    val carry = new Array[Long](rows.getNumPartitions)
    var openKey: Seq[Any] = null
    var openSum = 0L
    stats.foreach { case (pid, leadKey, leadSum, trailKey, trailSum, single) =>
      val cont = sameKey(leadKey, openKey)
      carry(pid) = if (cont) openSum else 0L
      if (single && cont) openSum += leadSum
      else if (single) { openKey = leadKey; openSum = leadSum }
      else { openKey = trailKey; openSum = trailSum }
    }

    // Pass 2: seed each partition's first run with its carry; within a
    // run (t strictly descending, cells unique) the streaming prefix of
    // m IS the strict larger-t count for the current row.
    rows.mapPartitionsWithIndex { (pid, it) =>
      var acc = 0L
      var curKey: Seq[Any] = null
      var pref = 0L
      it.foreach { r =>
        val key = keyOf(r)
        if (curKey == null) { curKey = key; pref = carry(pid) }
        else if (!sameKey(key, curKey)) { curKey = key; pref = 0L }
        acc += r.getLong(k + 2) * pref
        pref += r.getLong(k + 1)
      }
      Iterator.single((0, acc))
    }.toDF(Cfg, "v")
  }

  /** One long (cfg, v) per partition and config of `df` (cfg, v): its
    * sum. The partials of a count branch are added up by
    * [[collectScalars]], so the branch needs no final single-partition
    * aggregation stage.
    */
  private def partitionSums(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(Cfg), col("v").cast("long")).as[(Int, Long)]
      .mapPartitions(sumByCfg).toDF(Cfg, "v")
  }

  /** The (cfg, v) pairs of one partition summed per config: one
    * partial per config present, none for an empty partition.
    */
  private def sumByCfg(it: Iterator[(Int, Long)]): Iterator[(Int, Long)] = {
    val acc = scala.collection.mutable.HashMap.empty[Int, Long]
    it.foreach { case (c, v) => acc(c) = acc.getOrElse(c, 0L) + v }
    acc.iterator
  }

  /** Collect N independent scalars for each of `configs` configs in ONE
    * job: tag each branch, union, collect, read back per config in
    * branch order. Every branch is (cfg, v), cfg in [0, configs). A
    * long branch may yield one partial per partition and config — its
    * scalar is their exact sum (0 when none); a double branch yields
    * exactly one row per config. Longs and doubles ride separate
    * columns, so no count is widened to a double.
    */
  private[eval] def collectScalars(branches: Seq[DataFrame],
                                   configs: Int): IndexedSeq[Seq[Any]] = {
    val isLong = branches.map(_.schema("v").dataType == org.apache.spark.sql.types.LongType)
    val tagged = branches.zipWithIndex.map { case (b, i) =>
      b.select(lit(i).as("k"), col(Cfg),
        (if (isLong(i)) col("v") else lit(null).cast("long")).as("l"),
        (if (isLong(i)) lit(null).cast("double") else col("v").cast("double")).as("d"))
    }
    val rows = tagged.reduce(_.unionAll(_)).collect().groupBy(r => (r.getInt(0), r.getInt(1)))
    (0 until configs).map { c =>
      branches.indices.map { i =>
        val rs = rows.getOrElse((i, c), Array.empty[Row])
        if (isLong(i)) rs.map(_.getLong(2)).sum
        else {
          require(rs.length == 1, s"scalar branch $i returned ${rs.length} rows for cfg $c")
          rs.head.getDouble(3)
        }
      }
    }
  }

  /** Strict pairs {(i,j): e_i=1, t_j > t_i, r_j < r_i} in one bucket:
    * descending-time sweep with a Fenwick tree over local risk ranks
    * (equal-t groups query before inserting → strict t).
    */
  private[eval] def countWithin(rows: Seq[(Double, Int, Double)]): Long = {
    if (rows.size < 2) return 0L
    // rank map keyed by CANONICAL bits: doubleToLongBits folds every
    // NaN payload to one pattern, so a NaN risk ranks (largest — the
    // Spark SQL ordering the bucket map used) instead of throwing
    // NoSuchElementException from a boxed-Double map where NaN != NaN
    def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
    val ranks = rows.map(r => bits(r._3)).distinct
      .map(b => b -> java.lang.Double.longBitsToDouble(b))
      .sortWith((a, b) => java.lang.Double.compare(a._2, b._2) < 0)
      .map(_._1).zipWithIndex.toMap
    val bit = new Fenwick(ranks.size)
    var total = 0L
    rows.groupBy(_._1).toSeq.sortBy(-_._1).foreach { case (_, grp) =>
      grp.foreach { case (_, e, r) =>
        if (e == 1) total += bit.queryBelow(ranks(bits(r))) // inserted have t_j > t_i
      }
      grp.foreach { case (_, _, r) => bit.add(ranks(bits(r))) }
    }
    total
  }

  private[eval] final class Fenwick(n: Int) {
    private val a = new Array[Long](n + 1)
    def add(i0: Int): Unit = {
      var i = i0 + 1
      while (i <= n) { a(i) += 1; i += i & (-i) }
    }
    /** # inserted with rank < i0 (strictly). */
    def queryBelow(i0: Int): Long = {
      var i = i0 // prefix sum of ranks [0, i0-1] = indices [1, i0]
      var s = 0L
      while (i > 0) { s += a(i); i -= i & (-i) }
      s
    }
  }
}
