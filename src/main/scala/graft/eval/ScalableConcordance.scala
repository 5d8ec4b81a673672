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
  * (optionally within a risk group). Those used ordered windows
  * through round 6 — a global `Window.orderBy(t)` serializes on one
  * partition when |distinct t| ≈ n (continuous time), and the keyed
  * windows buffered whole groups. Now: KEYED suffixes hash-partition
  * by key + sort within, so each branch streams in O(1) task memory as
  * one lazy plan ([[evAfterKeyedDf]]); the one genuinely GLOBAL suffix
  * (harrell's comparable) is a [[graft.core.CarryScan]] with one
  * `Long` carry per partition ([[evAfterDf]]) over the small grouped
  * distinct-time table. Each count branch ends in one
  * partial per partition, and all four come back in ONE collect that
  * the driver sums ([[collectScalars]]) — no final single-partition
  * aggregation stage per branch.
  *
  * [[antolini]] needs none of this machinery: its pairs fall apart into
  * ≤ |grid| independent τ slices of n test rows each, so one shuffle
  * by τ brings each slice to one task, which counts it exactly with
  * one Fenwick sweep ([[sliceCounts]]) — the [[ScoringSplit]] kernel.
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
      s.groupBy(col("t")).agg(count(lit(1)).as("m"), sum(col("e")).as("ev")))

    // ---- ties: same risk, larger t ----
    // Keyed suffix: hash-partition BY KEY + sort within — every key's
    // run lives inside one partition, so the count streams in O(1)
    // memory as ONE lazy branch of the final job (no window buffering,
    // no extra jobs, no carries).
    val tiesDf = evAfterKeyedDf(
      s.groupBy(col("r"), col("t"))
        .agg(count(lit(1)).as("m"), sum(col("e")).as("ev")),
      Seq("r"))

    // ---- cross-bucket at EVENT points only, without the dense
    // (t × bucket) grid: union the per-(b, t) data counts with one
    // query row per (event t) × bucket, running-prefix-sum m ordered
    // by (t, data-before-query), and read f = tot − prefix at the
    // query rows — one window pass over O(rows) cells ----
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
      .select((col("ev") * coalesce(col("g"), lit(0L))).as("v"))
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
        Iterator.single(total)
      }.toDF("v")

    // ONE action for all four counts: the branches are independent, so
    // Spark schedules their stages concurrently instead of paying four
    // sequential job round-trips over the same cached base.
    val Seq(comparable, ties, cross, within) =
      collectScalars(Seq(comparableDf, tiesDf, crossDf, withinDf))
    Seq(concordance(comparable, ties, cross + within))
      .toDF("comparable", "concordant", "cindex")
  }

  /** Antolini time-dependent C-index WITHOUT the quadratic pair join.
    *
    * Antolini compares S(t_i|x_i) vs S(t_i|x_j), so the compared score
    * depends on the pair only through τ(t_i) — the step grid point of
    * the event subject's time — and τ takes ≤ |grid| distinct values.
    * Slicing the long-form `surv` matrix (id, tau, s) by τ gives, per
    * slice, a plain Harrell problem over the slice's events:
    * [[sliceCounts]] counts it exactly in one descending-t sweep. The
    * slices are the [[ScoringSplit]]'s (cfg, τ) kernel, which also sums
    * the Brier terms — this is the scoring path's one-config case:
    * `surv` is scored as cfg 0. Total work is O(|surv| log n), the size
    * of the prediction matrix, vs the O(n_events·n) pair space of
    * [[Concordance.antolini]]; a task holds one τ slice (the test
    * rows) at a time.
    */
  def antolini(df: DataFrame, idCol: String, tCol: String, eCol: String,
               surv: DataFrame, grid: Array[Double]): DataFrame = graft.core.Pins.scoped {
    val split = ScoringSplit.build(df, idCol, tCol, eCol, grid)
    val c = ScoringSplit.concordance(split.slices(surv.withColumn(Cfg, lit(0)), idCol).collect())
    val spark = df.sparkSession
    import spark.implicits._
    Seq(c).toDF("comparable", "concordant", "cindex")
  }

  /** Antolini's counts over one (cfg, τ) slice of `len` subjects:
    * (comparable, ties, concordant) over the pairs (i, j) with i's event
    * at τ (`ev`) and t_j > t_i; tied when s_j = s_i, concordant when
    * s_j > s_i. One sweep down the distinct t, each equal-t group
    * querying a Fenwick tree over the slice's survival ranks before it
    * inserts (so t_j > t_i strictly). Values compare as Spark SQL
    * compares doubles — −0.0 is 0.0, NaN is the largest and equal to
    * NaN — so the counts are exactly [[Concordance.antolini]]'s. A
    * slice with no event counts nothing and skips the sweep.
    */
  private[eval] def sliceCounts(t: Array[Double], ev: Array[Boolean], s: Array[Double],
                                len: Int): (Long, Long, Long) = {
    if (!ev.iterator.take(len).contains(true)) return (0L, 0L, 0L)
    val sRank = ranks(s, len)
    val tRank = ranks(t, len)
    val byT = (0 until len).groupBy(tRank(_)) // dense ranks: every group exists
    val bit = new Fenwick(sRank.max + 1)
    var inserted, comparable, ties, concordant = 0L
    for (g <- tRank.max to 0 by -1; group = byT(g)) {
      for (i <- group if ev(i)) {
        val atMost = bit.queryBelow(sRank(i) + 1)
        val below = bit.queryBelow(sRank(i))
        comparable += inserted
        ties += atMost - below
        concordant += inserted - atMost
      }
      group.foreach(i => bit.add(sRank(i)))
      inserted += group.size
    }
    (comparable, ties, concordant)
  }

  /** Dense ranks of xs(0 until len) in Spark SQL's double order: −0.0
    * folded into 0.0, every NaN the largest value and one rank.
    */
  private def ranks(xs: Array[Double], len: Int): Array[Int] = {
    val v = Array.tabulate(len)(i => if (xs(i) == 0.0) 0.0 else xs(i))
    val distinct = v.clone()
    java.util.Arrays.sort(distinct) // NaN last
    var m = 0
    for (x <- distinct)
      if (m == 0 || java.lang.Double.compare(x, distinct(m - 1)) != 0) { distinct(m) = x; m += 1 }
    v.map(java.util.Arrays.binarySearch(distinct, 0, m, _))
  }

  /** (comparable, concordant, cindex) from the pair counts: strictly
    * concordant pairs score 1, ties 0.5.
    */
  private[eval] def concordance(comparable: Long, ties: Long,
                                strict: Long): (Long, Double, Double) = {
    val concordant = strict + 0.5 * ties
    (comparable, concordant, concordant / comparable.toDouble)
  }

  /** Key-run equality with java.lang boxed semantics (NaN == NaN):
    * Spark's groupBy collapses every NaN of a key column into ONE
    * group, so [[evAfterKeyedDf]]'s run detector must not re-fragment
    * that group — Scala == on boxed doubles would (NaN != NaN),
    * silently undercounting the key's suffix sums. (-0.0 vs 0.0 needs
    * no care: grouping already normalized them into one cell.) Null
    * sentinels compare unequal, matching the detector's "no open run"
    * convention.
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
    * no prep jobs. Parallelism is #distinct keys (risk granular);
    * the KEYLESS global suffix is the one case that needs the sampled
    * range scan instead. Each partition yields one partial `v`.
    */
  private def evAfterKeyedDf(cells: DataFrame, keyCols: Seq[String]): DataFrame = {
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
        var acc = 0L
        it.foreach { r =>
          val key = Seq.tabulate(k)(r.get)
          if (!sameKey(key, curKey)) { curKey = key; pref = 0L }
          acc += r.getLong(k + 2) * pref
          pref += r.getLong(k + 1)
        }
        Iterator.single(acc)
      }(Encoders.scalaLong)
      .toDF("v")
  }

  /** Σ_cells ev · #{rows in cells with strictly larger t}, as one
    * partial `v` per partition, which the caller unions into its single
    * counting collect.
    *
    * `cells` must be (t, m, ev) with one row per distinct t — m
    * subjects and ev events at that time. This is Harrell's one GLOBAL
    * suffix, so it is a [[graft.core.CarryScan]] over the cells
    * range-partitioned and sorted by t DESC: "larger t" = "earlier in
    * the scan". Pass 1 sums m per partition, the driver's exclusive
    * prefix of those sums seeds each partition, and pass 2 streams
    * Σ ev·prefix in O(1) memory. Integer sums only — association-free,
    * so the result is EXACTLY the ordered-window formulation it
    * replaces.
    */
  private def evAfterDf(cells: DataFrame): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    // width: session-default map side, AQE advisory-size coalescing
    // The grouped cell table is consumed TWICE by repartitionByRange
    // (RangePartitioner's sampling job, then the shuffle write) — pin
    // it across pass 1 so the groupBy aggregation runs once, release as
    // soon as the scan's rows are materialized.
    val (cellsP, releaseCells) = graft.core.Pins.held(graft.core.Pins.pin(cells
      .select(col("t").cast("double").as("t"), col("m").cast("long").as("m"),
        col("ev").cast("long").as("ev"))))
    val scan = new graft.core.CarryScan(cellsP
      .repartitionByRange(col("t").desc)
      .sortWithinPartitions(col("t").desc)
      .rdd)
    // Pass 1: subjects per partition → the number of subjects in
    // earlier partitions (all with larger t).
    val carry = scan.partials(_.map(_.getLong(1)).sum).scanLeft(0L)(_ + _).init
    // pass 1 materialized the scan's rows; the unsorted cell cache is done
    releaseCells()
    // Pass 2: within the scan (t strictly descending, cells unique) the
    // streaming prefix of m IS the strict larger-t count for each row.
    scan.seeded(carry) { (pref0, it) =>
      var acc = 0L
      var pref = pref0
      it.foreach { r =>
        acc += r.getLong(2) * pref
        pref += r.getLong(1)
      }
      Iterator.single(acc)
    }.toDF("v")
  }

  /** One long `v` per partition of `df` (v): its sum. The partials of a
    * count branch are added up by [[collectScalars]], so the branch
    * needs no final single-partition aggregation stage.
    */
  private def partitionSums(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("v").cast("long")).as[Long]
      .mapPartitions(it => Iterator.single(it.sum)).toDF("v")
  }

  /** Collect N independent counts in ONE job: tag each branch, union,
    * collect, read back in branch order. Every branch is (v: long) and
    * may yield one partial per partition — its count is their exact
    * sum (0 when none).
    */
  private def collectScalars(branches: Seq[DataFrame]): Seq[Long] = {
    val tagged = branches.zipWithIndex.map { case (b, i) => b.select(lit(i).as("k"), col("v")) }
    val rows = tagged.reduce(_.unionAll(_)).collect().groupBy(_.getInt(0))
    branches.indices.map(i => rows.getOrElse(i, Array.empty[Row]).map(_.getLong(1)).sum)
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
