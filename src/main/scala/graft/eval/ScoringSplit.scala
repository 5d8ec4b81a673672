package graft.eval

import java.util.Arrays.copyOf

import graft.core.Pins
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The facts both test-split scores need that depend on the test split
  * alone — not on the model being scored. The time-dependent C-index
  * ([[ScalableConcordance.antolini]]) and the IPCW Brier score
  * ([[BrierScore.grid]]) read them; a Hyperband search scores every
  * config against the same split, so it builds them once
  * ([[graft.model.FittedSurvModel.scoreAll]] shares this value through
  * [[graft.model.TrainCache]]).
  *
  *  - `test`: the test rows the models predict on (pinned by [[of]]);
  *  - `grid`: the τ grid, distinct time points;
  *  - `gAtTau`: the censoring survival G(τ) at each grid point;
  *  - `subjects`: pinned (id, t, e, tau_i, g_ti) — each subject's
  *    step grid point τ(t_i) and its strict IPCW weight G(t_i⁻);
  *  - `n`: the number of test rows (the Brier denominator).
  *
  * The arrays are bounded by the grid; the subject table stays
  * distributed. Scoring a batch of prediction matrices — one per
  * config, a whole Hyperband rung — is one keyed shuffle whatever the
  * batch size ([[slices]]): the matrices, tagged with their config
  * index `cfg`, join the subject table, are hash-partitioned by
  * (cfg, τ), and one kernel scores each (cfg, τ) slice — its exact
  * Brier sum and, where an event falls at τ, its Antolini pair
  * counts. One collect brings back at most configs × |grid| rows; the
  * driver adds up the counts and integrates the Brier scores per
  * config. A task holds one slice at a time — the slice's test rows as
  * primitive arrays.
  */
final case class ScoringSplit(
    test: DataFrame,
    grid: Array[Double],
    gAtTau: Array[Double],
    subjects: DataFrame,
    n: Long) {

  /** One [[ScoringSplit.SliceScore]] per (cfg, τ) slice of the
    * prediction matrices `surv` (cfg, idCol, tau, s), lazy; τ outside
    * the grid is dropped. The rows of a slice are sorted together
    * within their partition, so the kernel reads them one slice at a
    * time.
    */
  private[eval] def slices(surv: DataFrame, idCol: String): Dataset[ScoringSplit.SliceScore] = {
    val spark = surv.sparkSession
    import spark.implicits._
    // the kernel's closure takes the arrays, not the split's frames
    val (grid, gAtTau, n) = (this.grid, this.gAtTau, this.n)
    surv.select(col(ScoringSplit.Cfg), col(idCol).as("id"), col("tau"), col("s"))
      .join(subjects, Seq("id"))
      .select(col(ScoringSplit.Cfg), col("tau"), col("s"), col("t"), col("e"),
        // the subject's event falls in this slice
        coalesce(col("e") === 1 && col("tau_i") === col("tau"), lit(false)),
        coalesce(col("g_ti"), lit(0.0)))
      .repartition(col(ScoringSplit.Cfg), col("tau"))
      .sortWithinPartitions(ScoringSplit.Cfg, "tau")
      .as[(Int, Double, Double, Double, Int, Boolean, Double)]
      .mapPartitions(ScoringSplit.kernel(_, grid, gAtTau, n))
  }

  /** (c_index, brier_score) of each prediction matrix in `survs` (id,
    * tau, s) over [[grid]], in order: the matrices are tagged with
    * their index and scored in ONE pass ([[slices]]).
    */
  def score(survs: Seq[DataFrame]): Seq[(Double, Double)] = {
    val tagged = survs.zipWithIndex.map { case (s, i) =>
      s.select(lit(i).as(ScoringSplit.Cfg), col("id"), col("tau"), col("s"))
    }
    val byCfg = slices(tagged.reduce(_.unionAll(_)), "id").collect().groupBy(_.cfg)
    survs.indices.map { c =>
      val ss = byCfg.getOrElse(c, Array.empty[ScoringSplit.SliceScore]).sortBy(_.tauIdx)
      (ScoringSplit.concordance(ss)._3, BrierScore.trapezoid(ss.map(x => (x.tauIdx, x.tau, x.bs))))
    }
  }
}

object ScoringSplit {

  /** The column that tells the configs of a scored batch apart. */
  private[eval] val Cfg = "cfg"

  /** One (cfg, τ) slice scored: τ's grid index, its Brier score BS(τ),
    * and its Antolini pair counts (0 at a τ no event falls at).
    */
  private[eval] final case class SliceScore(cfg: Int, tauIdx: Int, tau: Double, bs: Double,
                                            comparable: Long, ties: Long, concordant: Long)

  /** (comparable, concordant, cindex) of one config's slices. */
  private[eval] def concordance(ss: Array[SliceScore]): (Long, Double, Double) =
    ScalableConcordance.concordance(ss.map(_.comparable).sum, ss.map(_.ties).sum,
      ss.map(_.concordant).sum)

  /** The scoring facts of a dataset's test split, over the reference's
    * default 100-point grid. Fails, naming the split, when the test
    * split is empty (`trainRatio` = 1 leaves no test rows).
    */
  def of(ds: graft.surv.SurvDataset): ScoringSplit = {
    require(ds.testLen > 0,
      s"scoring needs a non-empty test split, but trainRatio=${ds.trainRatio} " +
        s"leaves ${ds.testLen} of n=${ds.n} rows")
    val test = Pins.pin(ds.tensorized(ds.test).withColumnRenamed(graft.core.StableOrder.RN, "id"))
    build(test, "id", "t", "e", BrierScore.defaultGrid(test, "t"))
  }

  /** Builds the facts of the split `df` (idCol, tCol, eCol) over
    * `grid`. The subject table's pin goes to the calling scope.
    */
  def build(df: DataFrame, idCol: String, tCol: String, eCol: String,
            grid: Array[Double]): ScoringSplit = {
    // duplicate grid values would each join every surv row at that tau
    // and inflate bs by the multiplicity — a degenerate [t_min, t_max]
    // span (all linspace points equal, or step < ulp) must fail loudly,
    // not silently double-count
    require(grid.distinct.length == grid.length,
      s"grid contains duplicate time points (degenerate range? " +
        s"${grid.take(3).mkString(",")}...)")
    val spark = df.sparkSession
    import spark.implicits._

    // τ(t_i) is THE shared Concordance.tauStep, so the two antolini
    // implementations agree on which events are scoreable
    val base = df.select(col(idCol).as("id"), col(tCol).cast("double").as("t"),
        col(eCol).cast("int").as("e"))
      .withColumn("tau_i", Concordance.tauStep(grid, col("t")))

    // The censoring KM's and the lookups' own pins (the range-scan RDDs
    // of a large curve) go to a nested scope: after the build only the
    // pinned subject table is read, so they are dropped as soon as the
    // count below has filled it.
    val ((gAtTau, gAtTi), releaseKm) = Pins.held {
      val cens = KaplanMeier.censoringCurve(df, tCol, eCol)
      // G(τ) per grid point, back in grid order (the lookup may reorder)
      val gByTau = KaplanMeier.lookup(grid.toSeq.toDF("tau"), "tau", cens,
          strict = false, "g")
        .as[(Double, Double)].collect().toMap
      (grid.map(gByTau), KaplanMeier.lookup(base, "t", cens, strict = true, "g_ti"))
    }
    // one job: materializes the subject table and counts it
    val (subjects, n) = try {
      val s = Pins.pin(gAtTi)
      (s, s.count())
    } finally releaseKm()
    ScoringSplit(df, grid, gAtTau, subjects, n)
  }

  /** The slice kernel: the rows of one partition, (cfg, tau, s, t, e,
    * event-at-τ, g_ti) sorted by (cfg, τ), scored one slice at a time —
    * [[BrierScore.term]]s summed exactly ([[graft.core.ExactSum]]) and
    * divided by n, and the pair counts of
    * [[ScalableConcordance.sliceCounts]].
    */
  private def kernel(rows: Iterator[(Int, Double, Double, Double, Int, Boolean, Double)],
                     grid: Array[Double], gAtTau: Array[Double],
                     n: Long): Iterator[SliceScore] = {
    // grid equality as SQL's: −0.0 is 0.0
    def key(tau: Double): Long = java.lang.Double.doubleToLongBits(if (tau == 0.0) 0.0 else tau)
    val pos = grid.indices.map(i => key(grid(i)) -> i).toMap
    val in = rows.buffered
    val sl = new Slice
    val out = scala.collection.mutable.ArrayBuffer.empty[SliceScore]
    while (in.hasNext) {
      val (cfg, tau) = (in.head._1, in.head._2)
      val i = pos.getOrElse(key(tau), -1) // -1: not a grid time
      val gTau = if (i >= 0) gAtTau(i) else 0.0
      sl.size = 0
      while (in.hasNext && in.head._1 == cfg && key(in.head._2) == key(tau)) {
        val (_, _, s, t, e, ev, gTi) = in.next()
        sl.add(t, ev, s, BrierScore.term(s, t, e, tau, gTi, gTau))
      }
      if (i >= 0) {
        val (comparable, ties, concordant) = ScalableConcordance.sliceCounts(sl.t, sl.ev, sl.s, sl.size)
        out += SliceScore(cfg, i, tau, graft.core.ExactSum(sl.bs, sl.size) / n.toDouble,
          comparable, ties, concordant)
      }
    }
    out.iterator
  }

  /** One slice's rows as growable primitive arrays. */
  private final class Slice {
    var size = 0
    var t, s, bs = new Array[Double](64)
    var ev = new Array[Boolean](64)

    def add(ti: Double, evi: Boolean, si: Double, bsi: Double): Unit = {
      if (size == t.length) {
        t = copyOf(t, 2 * size); s = copyOf(s, 2 * size); bs = copyOf(bs, 2 * size)
        ev = copyOf(ev, 2 * size)
      }
      t(size) = ti; ev(size) = evi; s(size) = si; bs(size) = bsi
      size += 1
    }
  }
}
