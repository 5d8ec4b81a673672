package graft.eval

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Kaplan–Meier estimator — the censoring-survival estimate behind the
  * reference's `EvalSurv(..., censor_surv="km")` scoring
  * (reference: src/elastic_surv/models/base.py:75) and a first-class
  * operator here.
  *
  * Output per distinct time t: d (events at t), n (at risk = subjects
  * with T >= t), s = Π_{t' <= t} (1 - d/n).
  *
  * Scale shape: the row-level work is ONE shuffle (groupBy t with
  * map-side partial agg); the cumulative statistics over the grouped
  * distinct-time table then use a [[graft.core.CarryScan]] over the
  * range-partitioned rows (per-partition summaries + driver carry +
  * seeded per-partition scan) instead of a single-partition ordered
  * window, so the curve survives continuous-time data where
  * |distinct t| ≈ n. The at-risk counts are integer sums (exact, any
  * association); the survival product's carry combines per-partition
  * partials, so the final ulps can differ from a single-sequence
  * windowed product — absorbed by the round(…, 6) every consumer
  * applies.
  */
object KaplanMeier {

  /** Knot cap for [[lookup]]'s fused binary-search fast path: 64k
    * knots = two 512 KB double arrays riding the serialized plan —
    * comfortably bounded; above it the distributed range scan takes
    * over.
    */
  val SmallCurveRows: Int = 65536

  /** KM curve of the event distribution. */
  def curve(df: DataFrame, tCol: String, eCol: String): DataFrame =
    curveExpr(df, col(tCol), col(eCol))

  /** KM curve of the CENSORING distribution (event flag flipped) —
    * the IPCW weight source.
    */
  def censoringCurve(df: DataFrame, tCol: String, eCol: String): DataFrame =
    curveExpr(df, col(tCol), lit(1) - col(eCol))

  def curveExpr(df: DataFrame, t: Column, e: Column): DataFrame = {
    val spark = df.sparkSession
    // width: session-default map side, AQE advisory-size coalescing
    // One shuffle to the grouped distinct-time table, range-ordered:
    // partition p holds strictly smaller t than p+1, rows sorted
    // within.
    // null-t rows would produce a null-keyed cell whose getDouble NPEs
    // in the emit pass, and an all-null-e cell a null d — drop the
    // uninterpretable rows (no time = no curve position; no event flag
    // = no at-risk semantics) and 0-fill the sum
    val g = df.filter(t.isNotNull && e.isNotNull)
      .groupBy(t.cast("double").as("t"))
      .agg(coalesce(sum(e.cast("long")), lit(0L)).as("d"),
        count(lit(1)).as("m"))
      .repartitionByRange(col("t"))
      .sortWithinPartitions(col("t"))
      .select(col("t"), col("d"), col("m"))

    val scan = new graft.core.CarryScan(g.rdd)

    // Pass 1: per-partition subject counts → suffix carries for n
    // (n_t = Σ_{t' >= t} m; integer sums — association-free). The
    // at-risk seed for partition p is Σ m over partitions >= p (the
    // scan then decrements row by row, so n at each row is the full
    // suffix count including that row's subjects).
    val mFrom = scan.partials(_.map(_.getLong(2)).sum).scanRight(0L)(_ + _).init

    // Pass 2: per-partition KM factor products (ascending-t,
    // left-to-right) → driver-side carry C_p = Π over partitions < p,
    // also combined left-to-right.
    val carry = scan.seeded(mFrom) { (m0, it) =>
      var atRisk = m0
      var prod = 1.0
      it.foreach { r =>
        val d = r.getLong(1); val m = r.getLong(2)
        prod = prod * (1.0 - d.toDouble / atRisk.toDouble)
        atRisk -= m
      }
      Iterator.single(prod)
    }.collect().scanLeft(1.0)(_ * _).init

    // Pass 3: emit — re-run the identical factor sequence seeded with
    // the carry; the multiply order equals the global window's.
    val out = scan.seeded(mFrom.zip(carry)) { case ((m0, s0), it) =>
      var atRisk = m0
      var s = s0
      it.map { r =>
        val tv = r.getDouble(0); val d = r.getLong(1); val m = r.getLong(2)
        val n = atRisk
        s = s * (1.0 - d.toDouble / n.toDouble)
        atRisk -= m
        org.apache.spark.sql.Row(tv, d, n, s)
      }
    }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("t", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("d", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.DoubleType))))
  }

  /** Restricted mean survival time at `horizon`: ∫₀^τ S(t) dt — the
    * standard interpretable summary of a KM curve (Royston/Parmar
    * '13), EXACT for a step function (rectangle sum over the steps,
    * no quadrature error). Returns one row (tau, rmst).
    *
    * Determinism/scale: [[curveExpr]] hands back the knots
    * range-partitioned by t and sorted within partitions, so each
    * knot's successor is literally the NEXT ROW — a per-partition
    * buffered-iterator shift plus one [[graft.core.CarryScan]]
    * boundary carry (the first knot of the next non-empty partition).
    * Linear in knots, zero joins, no broadcast — the continuous-time
    * regime (|distinct t| ≈ n) that [[lookup]]'s
    * distributed branch handles works here too. The step areas sum in
    * DECIMAL (order-independent). S is rounded to 6dp FIRST: the
    * engine and the oracle prove 6dp agreement on the curve (q_km),
    * and building on the rounded values keeps the horizon-scaled sum
    * engine-exact instead of amplifying sub-6dp product noise by the
    * step widths.
    */
  def rmst(df: DataFrame, tCol: String, eCol: String,
           horizon: Double): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DecimalType, DoubleType, StructField, StructType}
    val spark = df.sparkSession
    // select + filter are narrow: the curve's range partitioning and
    // within-partition t order survive into cv.rdd
    val cv = curve(df, tCol, eCol)
      .select(col("t"), round(col("s"), 6).as("s"))
      .filter(col("t") < lit(horizon))
    val scan = new graft.core.CarryScan(cv.rdd)
    // Pass 1: first knot per partition → boundary successors + the
    // global first knot (S = 1 on [0, minT); rmst = horizon when no
    // knot precedes it).
    val firsts = scan.partials(it => if (it.hasNext) Some(it.next().getDouble(0)) else None)
    val nextFirst: Array[Option[Double]] =
      firsts.scanRight(Option.empty[Double])((cur, acc) => cur.orElse(acc))
        .drop(1)
    val minT = firsts.collectFirst { case Some(t0) => t0 }.getOrElse(horizon)
    // Pass 2: emit (t, s, next) with the in-partition lookahead; the
    // last knot of a partition takes the boundary carry (null = no
    // later knot anywhere → the horizon closes the step).
    val knotsNext = scan.seeded(nextFirst) { (boundary, it0) =>
      val it = it0.buffered
      new scala.collection.AbstractIterator[Row] {
        override def hasNext: Boolean = it.hasNext
        override def next(): Row = {
          val r = it.next()
          val nxt: Option[Double] =
            if (it.hasNext) Some(it.head.getDouble(0)) else boundary
          Row(r.getDouble(0), r.getDouble(1), nxt.map(Double.box).orNull)
        }
      }
    }
    val nxt = spark.createDataFrame(knotsNext, StructType(Seq(
      StructField("t", DoubleType), StructField("s", DoubleType),
      StructField("next", DoubleType))))
    nxt
      .select((col("s") * (coalesce(col("next"), lit(horizon)) - col("t")))
        .cast(DecimalType(38, 12)).as("c"))
      .agg(coalesce(sum(col("c")).cast("double"), lit(0.0)).as("tail"))
      .select(lit(horizon).as("tau"),
        round(lit(minT) + col("tail"), 6).as("rmst"))
  }

  /** Step-function lookup value of `curve` at each `at` time:
    * s(max curve.t <= at) — `<` when `strict` — and 1.0 before the
    * first curve time (null `at` likewise yields 1.0, mirroring the
    * no-match of the SQL formulation).
    *
    * This is a KEYLESS backward as-of join. Two shapes, chosen by
    * curve size: up to [[SmallCurveRows]] knots the whole lookup is a
    * fused codegen binary search ([[graft.functions.StepLookup]] —
    * no shuffle, no jobs, O(log c)/row); beyond that (continuous-time
    * data, |curve| ≈ n_test) the keyed [[graft.ops.AsofJoin]]
    * union-scan would degenerate to one partition, so instead it is a
    * [[graft.core.CarryScan]] like [[curveExpr]]: union the tagged
    * sides, ONE repartitionByRange on (t, tag), per-partition
    * last-curve-value summaries, a driver carry, and a seeded emit
    * scan. Linear in |points|+|curve| with no broadcast —
    * at 100 TB the censoring curve is ~|distinct test times| rows,
    * far past broadcast range. Strictness is the tag order: the curve
    * row at t == at sorts before the point (inclusive) or after it
    * (strict), so the running value seen by the point is exactly the
    * `<=` / `<` step value.
    */
  def lookup(points: DataFrame, atCol: String, curve: DataFrame,
             strict: Boolean, out: String,
             smallCap: Int = SmallCurveRows): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val spark = points.sparkSession
    // width: session-default map side, AQE advisory-size coalescing

    // ADAPTIVE small-side fast path: when the curve fits in the plan
    // (<= SmallCurveRows knots — discrete/rounded time grids, the
    // common case), evaluate the step function with a fused codegen
    // binary search: O(log c) per point, NO union, NO range shuffle,
    // NO extra jobs. The distributed carry scan below stays the
    // continuous-time path where |curve| ≈ n_test and nothing
    // driver-bounded can hold it. The probe collects at most
    // SmallCurveRows+1 rows (limit pushdown stops the scan early).
    val probe =
      if (smallCap <= 0) Array.empty[org.apache.spark.sql.Row]
      else curve.select(col("t").cast("double"), col("s").cast("double"))
        .limit(smallCap + 1).collect()
    if (smallCap > 0 && probe.length <= smallCap) {
      // limit+collect does not guarantee global order — sort the knots
      val knots = probe.map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)
      return points.withColumn(out, graft.functions.StepLookup.step_lookup(
        col(atCol).cast("double"), knots.map(_._1), knots.map(_._2), strict))
    }
    val pCols = points.columns.toSeq
    val pSchema = pCols.foldLeft(new StructType())((st, c) =>
      st.add(points.schema(c)))
    val (cTag, pTag) = if (strict) (1, 0) else (0, 1)
    val c = curve.select(col("t").cast("double").as("_t"),
      lit(cTag).as("_tag"), col("s").as("_ks"),
      lit(null).cast(pSchema).as("_pp"))
    val p = points.select(col(atCol).cast("double").as("_t"),
      lit(pTag).as("_tag"), lit(null).cast("double").as("_ks"),
      struct(pCols.map(col): _*).as("_pp"))
    val u = (c unionByName p)
      .repartitionByRange(col("_t"), col("_tag"))
      .sortWithinPartitions(col("_t"), col("_tag"))
    val scan = new graft.core.CarryScan(u.rdd)
    // Pass 1: last curve value per partition (curve rows have _tag ==
    // cTag; a null `at` point sorts first and sees no curve row).
    val carry = scan.partials { it =>
      var s = Option.empty[Double]
      it.foreach { r => if (r.getInt(1) == cTag) s = Some(r.getDouble(2)) }
      s
    }.scanLeft(Option.empty[Double])((acc, cur) => cur.orElse(acc)).init
    // Pass 2: emit — running step value seeded with the carry.
    val outRows = scan.seeded(carry) { (s0, it) =>
      var s = s0
      it.flatMap { r =>
        if (r.getInt(1) == cTag) { s = Some(r.getDouble(2)); Iterator.empty }
        else {
          val pp = r.getStruct(3)
          Iterator.single(Row.fromSeq(pp.toSeq :+ s.getOrElse(1.0)))
        }
      }
    }
    spark.createDataFrame(outRows,
      StructType(pSchema.fields :+ StructField(out, DoubleType)))
  }
}
