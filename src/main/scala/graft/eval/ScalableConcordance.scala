package graft.eval

import graft.core.{CarryScan, Pins}
import graft.eval.ScoringSplit.Cfg
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Harrell C-index WITHOUT the quadratic pair join — the declared
  * 100-TB path (SURVEY §2.7, §7.5). Exactly equal to
  * [[Concordance.harrell]] (strict concordance, ties 0.5), but built
  * from integer counts instead of a pair space. A pair (i, j) is
  * comparable when e_i = 1 and t_j > t_i; it is concordant when
  * r_j < r_i and tied when r_j = r_i.
  *
  * Risks are split into B coarse buckets by approxQuantile bounds. The
  * value→bucket map is monotone, so equal risks share a bucket and
  * bucket_j < bucket_i implies r_j < r_i; the bounds only shape the
  * work, never the counts. Two passes then count every pair:
  *   - a [[graft.core.CarryScan]] over the rows, range-partitioned by
  *     t descending. Each partition's carry is the per-bucket count of
  *     the rows in earlier partitions (all with larger t): B longs at
  *     any scale. Each partition sweeps its equal-t groups with a
  *     B-slot [[Fenwick]] tree; an event adds every row seen so far
  *     (comparable) and those in a smaller bucket (cross-bucket);
  *   - a repartition on the bucket id, where each bucket's rows are
  *     counted exactly by [[sliceCounts]] with s := r: its ties and its
  *     strict within-bucket pairs ([[bucketPairs]]). A task holds one
  *     bucket at a time; B tunes that bound.
  * Both passes shuffle at the session's `spark.sql.shuffle.partitions`,
  * and both sweeps run in one job.
  *
  * [[antolini]] needs none of this machinery: its pairs fall apart into
  * ≤ |grid| independent τ slices of n test rows each, so one shuffle
  * by τ brings each slice to one task, which counts it exactly with
  * one Fenwick sweep ([[sliceCounts]]) — the [[ScoringSplit]] kernel.
  *
  * Both return the pair join's one row: with no comparable pair,
  * concordant and cindex are null, as a SQL sum over no rows is.
  */
object ScalableConcordance {

  def harrell(df: DataFrame, tCol: String, eCol: String, riskCol: String,
              numBuckets: Int = 64): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive, got numBuckets=$numBuckets")
    Pins.scoped {
      val spark = df.sparkSession
      import spark.implicits._

      // null t/e/r rows are excluded — the same contract as
      // Concordance.harrell (a null would NPE the primitive-tuple
      // encoders below)
      val s = Pins.pin(
        df.filter(col(tCol).isNotNull && col(eCol).isNotNull &&
            col(riskCol).isNotNull)
          .select(col(tCol).cast("double").as("t"),
            col(eCol).cast("int").as("e"), col(riskCol).cast("double").as("r")))

      // the monotone value→bucket map; approxQuantile is its one
      // pre-pass, and it materialises the pinned base for both passes
      val probs = (1 until numBuckets).map(_.toDouble / numBuckets).toArray
      val bounds =
        if (probs.isEmpty) Array.empty[Double]
        else s.stat.approxQuantile("r", probs, 0.001).distinct.sorted
      val nb = bounds.length + 1
      val bucket = if (bounds.isEmpty) lit(0) else size(filter(array(bounds.map(lit(_)): _*), _ < col("r")))
      val rows = s.select(col("t"), col("e"), col("r"), bucket).as[(Double, Int, Double, Int)].rdd
      val width = spark.sessionState.conf.numShufflePartitions

      // Pass 1: comparable and cross-bucket pairs, over the rows in
      // t-descending order. Keyed by t with −0.0 as 0.0, the total order
      // compares t as Spark SQL does (NaN the largest); the range
      // partitioner puts equal t in one partition, so a partition's
      // carry counts only larger t.
      val scan = {
        implicit val tOrder: Ordering[Double] = Ordering.Double.TotalOrdering
        new CarryScan(rows.map(x => (if (x._1 == 0.0) 0.0 else x._1, (x._1, x._2, x._4)))
          .sortByKey(ascending = false, width).values)
      }
      val carries = scan.partials { it =>
        val n = new Array[Long](nb)
        it.foreach(r => n(r._3) += 1)
        n
      }.scanLeft(new Array[Long](nb))((a, n) => a.zip(n).map(p => p._1 + p._2)).init

      // Pass 2: ties and strict pairs within each bucket, one bucket at
      // a time
      val buckets = rows.keyBy(_._4).repartitionAndSortWithinPartitions(new HashPartitioner(width))
        .mapPartitions { it =>
          val in = it.buffered
          var ties, strict = 0L
          while (in.hasNext) {
            val b = in.head._1
            val rs = scala.collection.mutable.ArrayBuffer.empty[(Double, Int, Double, Int)]
            while (in.hasNext && in.head._1 == b) rs += in.next()._2
            val (tb, wb) = bucketPairs(rs.map(_._1).toArray, rs.map(_._2 == 1).toArray,
              rs.map(_._3).toArray, rs.length)
            ties += tb; strict += wb
          }
          Iterator.single((ties, strict))
        }

      // one job runs both sweeps; collect keeps partition order, so the
      // first `carries.length` partials are pass 1's
      val (swept, bucketed) = scan.seeded(carries)(sweep).union(buckets).collect().splitAt(carries.length)
      val (comparable, cross) = swept.foldLeft((0L, 0L))(plus)
      val (ties, within) = bucketed.foldLeft((0L, 0L))(plus)
      pairRow(spark, concordance(comparable, ties, cross + within))
    }
  }

  /** Pass 1's per-partition sweep over rows (t, e, b) in t-descending
    * order, seeded with the per-bucket counts of the rows with larger t
    * in earlier partitions: (comparable, cross-bucket) pairs of the
    * partition's events. Every event of an equal-t group queries before
    * any row of the group is inserted (t_j > t_i strictly); the group's
    * rows wait in `held`, at most B slots, so a partition streams in
    * O(B) memory. Equal t as Spark SQL's: −0.0 is 0.0, NaN equals NaN.
    */
  private def sweep(seed: Array[Long], rows: Iterator[(Double, Int, Int)]): Iterator[(Long, Long)] = {
    val nb = seed.length
    val bit = new Fenwick(nb)
    seed.indices.foreach(b => bit.add(b, seed(b)))
    var inserted = seed.sum
    val held = new Array[Long](nb)
    val heldB = new Array[Int](nb) // the buckets `held` has counts in
    var nHeld = 0
    var groupT = Double.NaN
    var comparable, cross = 0L
    rows.foreach { case (t, e, b) =>
      if (t != groupT && !(t.isNaN && groupT.isNaN)) { // a new group: insert the last
        for (k <- 0 until nHeld) {
          bit.add(heldB(k), held(heldB(k)))
          inserted += held(heldB(k))
          held(heldB(k)) = 0L
        }
        nHeld = 0
        groupT = t
      }
      if (e == 1) {
        comparable += inserted
        cross += bit.queryBelow(b)
      }
      if (held(b) == 0L) { heldB(nHeld) = b; nHeld += 1 }
      held(b) += 1
    }
    Iterator.single((comparable, cross))
  }

  private def plus(a: (Long, Long), b: (Long, Long)): (Long, Long) = (a._1 + b._1, a._2 + b._2)

  /** (ties, strict) of one bucket's `len` rows (t, event, r): the pairs
    * with i's event and t_j > t_i whose risks tie, and those with
    * r_j < r_i — [[sliceCounts]] with s := r, whose concordant count
    * is r_j > r_i.
    */
  private[eval] def bucketPairs(t: Array[Double], ev: Array[Boolean], r: Array[Double],
                                len: Int): (Long, Long) = {
    val (comparable, ties, above) = sliceCounts(t, ev, r, len)
    (ties, comparable - ties - above)
  }

  /** The pair join's one-row result (comparable, concordant, cindex):
    * concordant and cindex are null when no pair is comparable.
    */
  private def pairRow(spark: SparkSession, c: (Long, Double, Double)): DataFrame = {
    import spark.implicits._
    def some(x: Double) = if (c._1 == 0L) None else Some(x)
    Seq((c._1, some(c._2), some(c._3))).toDF("comparable", "concordant", "cindex")
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
               surv: DataFrame, grid: Array[Double]): DataFrame = Pins.scoped {
    val split = ScoringSplit.build(df, idCol, tCol, eCol, grid)
    val c = ScoringSplit.concordance(split.slices(surv.withColumn(Cfg, lit(0)), idCol).collect())
    pairRow(df.sparkSession, c)
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

  private[eval] final class Fenwick(n: Int) {
    private val a = new Array[Long](n + 1)
    def add(i0: Int): Unit = add(i0, 1L)
    /** Inserts `k` entries at rank i0. */
    def add(i0: Int, k: Long): Unit = {
      var i = i0 + 1
      while (i <= n) { a(i) += k; i += i & (-i) }
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
