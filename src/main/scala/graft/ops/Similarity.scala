package graft.ops

import graft.functions.VecDot.vec_dot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — a broadcast join of the
  * (small) query set against the corpus, ranked per query. At 100 TB
  * the corpus side stays partitioned; only queries broadcast, so the
  * scan is embarrassingly parallel and the per-query top-k is a
  * window over each query's partition slice.
  *
  * Scale path: sign-random-projection LSH — 'numPlanes' deterministic
  * integer hyperplanes hash every vector into a bucket; candidate
  * generation is an equi-join on the bucket id (shuffle keyed on
  * content, never all-pairs). An IVF variant would swap the plane
  * hash for a learned coarse quantizer; the bucketing dataflow is
  * identical.
  */
object Similarity {

  /** Deterministic integer hyperplane component: plane b, dim j
    * (same values the DuckDB oracle computes inline).
    */
  def planeComponent(b: Int, j: Int): Double =
    ((b * 37 + j * 101) % 19 - 9).toDouble

  /** Bucket id from sign bits of `numPlanes` integer hyperplanes.
    * Planes are literal double arrays → each dot is one codegen'd
    * VecDot pass over the vector. `planeOffset` selects an
    * independent plane family (band b of a banded scheme uses offset
    * b·numPlanes).
    */
  def lshBucket(vec: Column, dims: Int, numPlanes: Int,
                planeOffset: Int = 0): Column = {
    val dots = (0 until numPlanes).map { b =>
      val plane = array((0 until dims).map(j =>
        lit(planeComponent(planeOffset + b, j))): _*)
      vec_dot(vec, plane)
    }
    dots.zipWithIndex.map { case (d, b) =>
      when(d > 0.0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Brute-force cosine top-k: (qid, rank, vec_id, cos) for each
    * query row, deterministic (cos desc, vec_id) ranking.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      sqrt(vec_dot(col(vecCol), col(vecCol))).as("qn")))
    val scored = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"),
        sqrt(vec_dot(col(vecCol), col(vecCol))).as("cn"))
      .crossJoin(q)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (vec_dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("cos"))
  }

  /** IVF (inverted-file) ANN: a deterministic coarse quantizer —
    * centroids are per-dimension means of hash-partitioned groups
    * (rounded to 6dp so both engines see identical coordinates; a
    * learned k-means quantizer slots into the same dataflow), every
    * vector is assigned to its nearest centroid cell (squared-L2 via
    * the VecDot identity ‖x−c‖² = x·x − 2x·c + c·c, ties to the
    * lowest cell), and search ranks only within the query's cell.
    * Returns (qid, cell, rank, vec_id, cos).
    *
    * Scale shape: the centroid table is tiny (cells × dims) and
    * broadcast; assignment is a scan-fused projection; the search
    * join is an equi-join on the cell id.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, numCells: Int, k: Int): DataFrame = {
    val cents = initCentroidMap(corpus, idCol, vecCol, numCells)
    def assigned(df: DataFrame, id: String): DataFrame =
      ivfAssign(df, id, vecCol, cents)

    val c = assigned(corpus, idCol)
      .select(col(idCol).as("vec_id"), col(vecCol).as("cv"),
        sqrt(vec_dot(col(vecCol), col(vecCol))).as("cn"), col("cell"))
    val q = broadcast(assigned(queries, idCol)
      .select(col(idCol).as("qid"), col(vecCol).as("qv"),
        sqrt(vec_dot(col(vecCol), col(vecCol))).as("qn"), col("cell")))
    val scored = c.join(q, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("cell"), col("vec_id"),
        (vec_dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("cell"), col("rank"), col("vec_id"), col("cos"))
  }

  /** Deterministic init: per-dim means of id%cells groups, rounded to
    * 6dp. Driver carry is bounded at cells×dims doubles. The mean
    * runs through an exact fixed-point sum (Dec15 — bit-identical to
    * the DECIMAL(38,15) idiom at ~double-sum cost, r20) like every
    * other mean on an oracle-checked path — a plain double avg() is
    * summation-order-dependent, so Spark's partial-agg order vs
    * DuckDB's scan order could round differently at the 6dp boundary
    * and cascade through every downstream assignment. Domain: unit-
    * scale embedding components, orders inside Dec15's ~9.2e21 bound
    * (out-of-domain now fails loud, never silently wrong).
    */
  private def initCentroidMap(corpus: DataFrame, idCol: String,
                              vecCol: String,
                              numCells: Int): Map[Int, Array[Double]] =
    corpus
      .select((col(idCol) % numCells).cast("int").as("cell"),
        posexplode(col(vecCol)).as(Seq("j", "xv")))
      .select(col("cell"), col("j"),
        graft.functions.Dec15.dec15_split(col("xv").cast("double")).as("_s"))
      .groupBy(col("cell"), col("j"))
      .agg(round(
        graft.functions.Dec15.dec15_sum_split(col("_s"))
          / count(lit(1)).cast("double"), 6).as("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toArray)
      .toMap

  /** Lloyd-refined ("learned") coarse quantizer: `iters` rounds of
    * assign → per-cell mean, from the deterministic id%cells init.
    * The loop is TABLE-TO-TABLE — centroids never touch the driver:
    * each round folds the current (cell, carr) table into ONE sorted
    * candidate-array row, broadcasts it into the exact scan-fused
    * argmin (same arithmetic and lowest-cell tie rule as the literal
    * path, bit-equal distances), then rebuilds the table with ONE
    * map-side-combined (cell, dim) aggregate; cells that lose every
    * vector keep their previous centroid via a left-join fallback.
    * Update means run through exact DECIMAL sums and round to 6dp, so
    * the trajectory is row-order- and engine-independent
    * (oracle-replayable). Returns the (cell, carr) table the
    * IVF/semDedup dataflows consume — the "learned k-means quantizer
    * slots into the same dataflow" path.
    *
    * Scale envelope: exact Lloyd assignment needs every row to see
    * every centroid, so the refinement path is bounded by the
    * broadcast payload (cells·dims doubles ≤ [[TwoLevelBroadcastBytes]]
    * ≈ 2·10⁵ cells at 64 dims — 50× the literal path's
    * [[LiteralSafeCells]]); past that, exact Lloyd is inherently a
    * corpus×cells join and the deterministic-init two-level assignment
    * ([[semDedupAuto]]'s auto route) is the 100-TB quantizer.
    */
  def kmeansQuantizer(corpus: DataFrame, idCol: String, vecCol: String,
                      numCells: Int, iters: Int): DataFrame = {
    var fine = initCentroidDf(corpus, idCol, vecCol, numCells)
    // the currently-live inter-round checkpoint (rolling — see below)
    var prevCkpt: Option[DataFrame] = None
    var it = 0
    while (it < iters) {
      val prev =
        if (it == 0)
          // round 0 reads the lazy init table — pinned, because the
          // round consumes it on BOTH the candidate fold and the
          // empty-cell fallback join (scoped release by the caller's
          // Pins scope, like every operator pin); iters ≤ 1 therefore
          // stays fully lazy end to end
          graft.core.Pins.pin(fine)
        else {
          // PHYSICAL lineage cut between rounds: each round embeds its
          // input table ~3× (candidate fold, assignment, fallback
          // join), so a pin-only loop grows the LOGICAL tree ~3× per
          // round — analyzer cost explodes with `iters`, and a caller
          // whose cache scope sweeps before execution would recompute
          // the exponential tree. The eager checkpoint materializes
          // round it−1 here and the next round reads its blocks; live
          // checkpoint state is O(1) in rounds because the superseded
          // round's blocks are released as soon as its successor
          // materializes (the PageRank/CC rotation pattern). The
          // checkpoint is cells×dims rows — tiny at any corpus scale.
          val ck = fine.localCheckpoint(true)
          prevCkpt.foreach(graft.core.Pins.releaseCheckpoint)
          prevCkpt = Some(ck)
          ck
        }
      fine = lloydRound(corpus, vecCol, prev)
      it += 1
    }
    // the FINAL round stays a live dataflow over the last checkpoint
    // (spec-pinned: fallback join + in-plan argmin visible in the
    // analyzed plan); that last checkpoint is registered with the
    // caller's pin scope, released at scope exit — consume the
    // returned frame inside the scope (the documented contract for
    // every operator pin)
    prevCkpt.foreach(graft.core.Pins.pinCheckpoint)
    fine
  }

  /** One Lloyd round: fold the (cell, carr) table into ONE sorted
    * candidate-array row, broadcast it into the exact scan-fused
    * argmin, rebuild the table with a map-side-combined (cell, dim)
    * DECIMAL-exact 6dp mean, and keep empty cells' previous centroids
    * via the left-join fallback.
    */
  private def lloydRound(corpus: DataFrame, vecCol: String,
                         prev: DataFrame): DataFrame = {
    val allCands = prev.select(
        struct(col("cell"), col("carr"), seqSq(col("carr")).as("cc"))
          .as("cand"))
      .agg(sort_array(collect_list(col("cand"))).as("cands"))
    val assigned = corpus.select(col(vecCol),
        vec_dot(col(vecCol), col(vecCol)).as("vv"))
      .crossJoin(broadcast(allCands))
      .select(nearestCellOver(col(vecCol), col("vv"), col("cands"))
        .as("cell"), col(vecCol))
    val updated = assigned
      .select(col("cell"), posexplode(col(vecCol)).as(Seq("j", "xv")))
      .select(col("cell"), col("j"),
        graft.functions.Dec15.dec15_split(col("xv").cast("double")).as("_s"))
      .groupBy(col("cell"), col("j"))
      .agg(round(
        graft.functions.Dec15.dec15_sum_split(col("_s"))
          / count(lit(1)).cast("double"), 6).as("c"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("j"), col("c")))),
        s => s.getField("c")).as("uarr"))
    prev.join(updated, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("uarr"), col("carr")).as("carr"))
  }

  /** Driver-map form of the Lloyd quantizer for the flat literal
    * assignment paths — ONE bounded collect of the FINAL table (the
    * rounds themselves stay distributed in [[kmeansQuantizer]]).
    */
  private def kmeansMap(corpus: DataFrame, idCol: String, vecCol: String,
                        numCells: Int, iters: Int): Map[Int, Array[Double]] =
    centMapOf(kmeansQuantizer(corpus, idCol, vecCol, numCells, iters))

  /** Nearest-centroid cell per row against a (cell, carr) quantizer
    * table — the public face of the assignment dataflow. The table is
    * driver-bounded by construction (cells × dims), so it collapses to
    * a literal centroid array and the assignment scan-fuses.
    */
  def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
                  centDf: DataFrame): DataFrame =
    ivfAssign(corpus, idCol, vecCol, centMapOf(centDf))
      .select(col(idCol), col("cell"))

  /** (cell, carr) table → driver map; bounded at cells×dims doubles. */
  private def centMapOf(centDf: DataFrame): Map[Int, Array[Double]] =
    centDf.collect()
      .map(r => r.getInt(0) ->
        r.getSeq[Double](1).toArray)
      .toMap

  /** Nearest-centroid assignment (squared-L2 via the VecDot identity
    * ‖x−c‖² = x·x − 2x·c + c·c, ties to the lowest cell) — ONE
    * scan-fused `aggregate()` fold over the literal centroid array:
    * no row explosion, no shuffle, no window. At 100 TB with
    * numCells ~10⁴ this is the difference between a numCells× corpus
    * blow-up + full re-sort and a pure map stage. Fold order is
    * ascending cell with a strict `<`, so ties keep the lowest cell —
    * identical to the retired (dist, cell) window ranking; c·c is
    * pre-accumulated on the driver with VecDot's own sequential
    * double loop, so distances are bit-equal to the joined form.
    */
  private def ivfAssign(df: DataFrame, id: String, vecCol: String,
                        cents: Map[Int, Array[Double]]): DataFrame = {
    val scored = df.select(col(id), col(vecCol),
      vec_dot(col(vecCol), col(vecCol)).as("vv"))
    scored.select(col(id), col(vecCol),
      nearestCell(col(vecCol), col("vv"), cents).as("cell"))
  }

  /** Per-cell (dist, cell) structs — dist FIRST so `sort_array`'s
    * lexicographic struct order is exactly (dist asc, cell asc), the
    * argmin fold's total order. dist = (vv − 2·x·c) + c·c in the
    * exact arithmetic order of the retired join formulation; transform
    * computes each distance exactly once (dims-length work is 1× per
    * cell per row).
    */
  private def nearestCellDists(vec: Column, vv: Column,
                               cents: Map[Int, Array[Double]]): Column = {
    val centArr = array(cents.toSeq.sortBy(_._1).map { case (cell, c) =>
      var cc = 0.0
      var i = 0
      while (i < c.length) { cc += c(i) * c(i); i += 1 }
      struct(lit(cell).as("cell"),
        array(c.toSeq.map(lit(_)): _*).as("carr"),
        lit(cc).as("cc"))
    }: _*)
    transform(centArr, cent =>
      struct(
        (vv - lit(2.0) * vec_dot(vec, cent.getField("carr")) +
          cent.getField("cc")).as("dist"),
        cent.getField("cell").as("cell")))
  }

  /** The fold expression: carry (bestDist, bestCell) across the
    * per-cell distance structs; ascending-cell build order + strict <
    * keeps the lowest cell on ties.
    */
  private def nearestCell(vec: Column, vv: Column,
                          cents: Map[Int, Array[Double]]): Column =
    aggregate(
      nearestCellDists(vec, vv, cents),
      struct(lit(Double.PositiveInfinity).as("dist"), lit(-1).as("cell")),
      (acc, cd) =>
        when(cd.getField("dist") < acc.getField("dist"), cd).otherwise(acc),
      acc => acc.getField("cell"))

  /** Simplified silhouette (centroid-based, Hruschka '04): per
    * vector, a = distance to its own centroid, b = distance to the
    * nearest OTHER centroid, s = (b − a)/max(a, b) — the O(n·k)
    * clustering-quality score that replaces the O(n²) pairwise
    * silhouette at scale. Entirely scan-fused: the same per-row
    * (dist, cell) struct array the argmin assignment folds over is
    * sort_array'd once, positions 1 and 2 ARE (a², own cell) and b²
    * (own centroid is the argmin, so a = min over all cells and b =
    * the runner-up) — no join, no shuffle, no second pass. Squared
    * distances clamp at 0 before the sqrt (exact-arithmetic
    * cancellation can go epsilon-negative), degenerate a = b = 0
    * scores 0, and the score rounds to 6dp — engine-exact.
    */
  def silhouette(corpus: DataFrame, idCol: String, vecCol: String,
                 centDf: DataFrame): DataFrame = {
    val cents = centMapOf(centDf)
    require(cents.size >= 2, "silhouette needs >= 2 cells")
    val scored = corpus.select(col(idCol), col(vecCol),
      vec_dot(col(vecCol), col(vecCol)).as("vv"))
    val sorted = sort_array(
      nearestCellDists(col(vecCol), col("vv"), cents))
    val zero = lit(0.0)
    val a = sqrt(greatest(element_at(sorted, 1).getField("dist"), zero))
    val b = sqrt(greatest(element_at(sorted, 2).getField("dist"), zero))
    scored.select(col(idCol),
      element_at(sorted, 1).getField("cell").as("cell"),
      round(when(greatest(a, b) > 0, (b - a) / greatest(a, b))
        .otherwise(0.0), 6).as("sil"))
  }

  /** Multi-probe IVF: like [[ivfTopK]], but each QUERY probes its
    * `nprobe` nearest cells — the standard IVF recall/cost knob
    * (candidates scale ~nprobe×, recall approaches brute force).
    * Only the tiny query side fans out (nprobe rows per query, still
    * broadcast); the corpus keeps exactly one cell per vector, so the
    * 100-TB shape is unchanged: scan-fused assignment + cell-keyed
    * equi-join.
    *
    * Probe order sorts (dist, cell) structs lexicographically —
    * `sort_array` on exact doubles, ties to the lowest cell, the same
    * total order the single-cell argmin fold uses.
    */
  def ivfTopKProbe(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, numCells: Int, k: Int,
                   nprobe: Int): DataFrame = {
    val cents = initCentroidMap(corpus, idCol, vecCol, numCells)
    val c = ivfAssign(corpus, idCol, vecCol, cents)
      .select(col(idCol).as("vec_id"), col(vecCol).as("cv"),
        sqrt(vec_dot(col(vecCol), col(vecCol))).as("cn"), col("cell"))
    val qScored = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      vec_dot(col(vecCol), col(vecCol)).as("vv"))
    val q = broadcast(qScored
      .select(col("qid"), col("qv"), sqrt(col("vv")).as("qn"),
        explode(slice(sort_array(
          nearestCellDists(col("qv"), col("vv"), cents)), 1, nprobe))
          .as("probe"))
      .select(col("qid"), col("qv"), col("qn"),
        col("probe").getField("cell").as("cell")))
    val scored = c.join(q, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("cell"), col("vec_id"),
        (vec_dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("cell"), col("rank"), col("vec_id"), col("cos"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings with the coarse quantizer,
    * then inside each cluster drop any vector that has an
    * earlier-id neighbor with cosine ≥ `tau` (the deterministic
    * greedy leader rule — the kept "leader" of a near-duplicate chain
    * is the lowest id). Returns one row per input:
    * (id, cell, keep 1/0, dup_of = lowest qualifying earlier id,
    * NULL for keeps).
    *
    * 100-TB shape: the centroid table is tiny and broadcast;
    * assignment is scan-fused; the witness search is a cell-keyed
    * equi-join (shuffle keyed on cell, never all-pairs). Within-cell
    * work is O(Σ|cell|²) — `numCells` is the knob that bounds it, so
    * at scale size cells to ~10³ vectors. Comparisons gate on the
    * 6dp-rounded cosine so the keep set is reproducible across
    * engines (no boundary-ulp flips).
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               numCells: Int, tau: Double, lloydIters: Int = 0): DataFrame = {
    val cents =
      if (lloydIters > 0)
        kmeansMap(corpus, idCol, vecCol, numCells, lloydIters)
      else initCentroidMap(corpus, idCol, vecCol, numCells)
    greedyLeader(
      ivfAssign(corpus, idCol, vecCol, cents)
        .select(col(idCol), col("cell"), col(vecCol).as("v"),
          sqrt(vec_dot(col(vecCol), col(vecCol))).as("n")),
      idCol, tau)
  }

  /** The within-cell greedy leader rule shared by every semDedup
    * flavor: given (id, cell, v, n) assignments, drop any vector with
    * an earlier-id neighbor in its cell at 6dp-cosine ≥ tau. The
    * assignment feeds both sides of the self-join and the final
    * left-join spine — one materialization (Pins-scoped release).
    */
  private def greedyLeader(assigned: DataFrame, idCol: String,
                           tau: Double): DataFrame = {
    val asgn = graft.core.Pins.pin(assigned)
    val a = asgn.select(col(idCol).as("i"), col("cell"),
      col("v").as("iv"), col("n").as("inn"))
    val b = asgn.select(col(idCol).as("j"), col("cell"),
      col("v").as("jv"), col("n").as("jn"))
    val dup = a.join(b, Seq("cell"))
      .filter(col("j") < col("i"))
      .filter(round(vec_dot(col("iv"), col("jv")) / (col("inn") * col("jn")), 6)
        >= lit(tau))
      .groupBy(col("i")).agg(min(col("j")).as("dup_of"))
    asgn.select(col(idCol), col("cell"))
      .join(dup.withColumnRenamed("i", idCol), Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        when(col("dup_of").isNull, lit(1)).otherwise(lit(0)).as("keep"),
        col("dup_of"))
  }

  /** [[semDedup]] with AUTO-SIZED cells: numCells =
    * ceil(n / targetPerCell) from one count of the corpus, so the
    * within-cell O(Σ|cell|²) bound stays honest at ANY corpus size
    * without a caller-tuned constant — 500 vectors get 1 cell, a
    * 100-TB corpus of 10¹⁰ embeddings gets 10⁷ cells of ~10³. The
    * count is one column-pruned pass.
    *
    * Assignment routes on the cell count: up to `twoLevelCellBound`
    * cells the flat scan-fused argmin runs (centroids are a literal
    * Catalyst array — O(cells·dims) per row, fine while cells stay
    * small); above it [[semDedupTwoLevel]] takes over, whose per-row
    * cost is O(√cells·dims) with the centroid table broadcast-joined
    * instead of embedded in the plan — the literal-expression path
    * would neither analyze nor stay linear at the 10⁷-cell scale the
    * sizing rule produces from 10¹⁰ embeddings.
    */
  def semDedupAuto(corpus: DataFrame, idCol: String, vecCol: String,
                   tau: Double, targetPerCell: Int = 1000,
                   lloydIters: Int = 0,
                   twoLevelCellBound: Int = LiteralSafeCells): DataFrame = {
    require(targetPerCell > 0, s"targetPerCell=$targetPerCell must be > 0")
    val n = corpus.select(col(idCol)).count()
    val cellsL = math.max(1L, (n + targetPerCell - 1) / targetPerCell)
    require(cellsL <= Int.MaxValue,
      s"cells=$cellsL overflows Int — raise targetPerCell")
    val cells = cellsL.toInt
    if (cells <= twoLevelCellBound)
      semDedup(corpus, idCol, vecCol, cells, tau, lloydIters)
    else {
      require(lloydIters == 0,
        "two-level assignment supports the deterministic init quantizer only")
      semDedupTwoLevel(corpus, idCol, vecCol, cells, tau)
    }
  }

  /** Largest centroid count the FLAT assignment may embed as a
    * literal Catalyst array-of-structs expression. Past this, plans
    * stop being codegen/analyzer-friendly (the expression tree grows
    * with cells·dims) — the two-level path switches the centroid set
    * to a broadcast-join TABLE, which is how any >10⁴-row dimension
    * belongs in a Spark plan.
    */
  val LiteralSafeCells: Int = 4096

  /** [[semDedup]] with a TWO-LEVEL coarse quantizer — the 100-TB
    * assignment path. The flat argmin is O(cells·dims) per row with a
    * driver-collected literal centroid set; at the sizing rule's
    * cells = ⌈n/10³⌉ that is O(n²·dims/10³) total and the literal
    * won't analyze past ~10⁴ cells. Here the fine cells (same
    * deterministic id%cells per-dim-mean init, built DISTRIBUTED as a
    * (cell, carr) table — never collected) are partitioned into
    * nCoarse = ⌈√cells⌉ groups (coarse group of cell c = c % nCoarse);
    * each row
    *   1. probes its nearest COARSE centroid (per-dim 6dp mean of the
    *      group's fine centroids) — a scan-fused literal fold over
    *      nCoarse ≤ ⌈√cells⌉ entries, literal-safe up to
    *      LiteralSafeCells² ≈ 1.7·10⁷ fine cells;
    *   2. joins (1:1 on the coarse key, no row blow-up) the group's
    *      fine-centroid ARRAY — ≤ ⌈cells/nCoarse⌉ = ⌈√cells⌉
    *      candidates — and folds the same (vv − 2x·c + c·c) argmin
    *      over the joined array column. The candidate table arrives
    *      by BROADCAST while the payload (cells·dims doubles) stays
    *      under [[TwoLevelBroadcastBytes]]; past that (≈2·10⁵ cells at
    *      64 dims) it switches to a SHUFFLE HASH JOIN on the coarse
    *      key — at the docstring's 10⁷-cell scale the payload is
    *      ~5 GB, which no executor should replicate, while the extra
    *      corpus exchange is one keyed pass over rows already headed
    *      into greedyLeader's cell-keyed shuffle.
    * Per-row work is ≤ 2⌈√cells⌉+1 distance evaluations (10⁷ cells:
    * ~6.5k, vs 10⁷ flat) and the only non-scan exchanges are the tiny
    * centroid aggregation and (past the broadcast bound) the one
    * coarse-keyed candidate join. APPROXIMATE relative to the flat
    * argmin by construction (the nearest fine cell inside the nearest
    * coarse group need not be the global nearest — standard IVF
    * semantics); the rule is deterministic and engine-replayable, so
    * it gate-checks against a DuckDB oracle that runs the identical
    * two-level argmin.
    */
  def semDedupTwoLevel(corpus: DataFrame, idCol: String, vecCol: String,
                      numCells: Int, tau: Double): DataFrame =
    greedyLeader(
      assignTwoLevel(corpus, idCol, vecCol, numCells)
        .select(col(idCol), col("cell"), col(vecCol).as("v"),
          sqrt(vec_dot(col(vecCol), col(vecCol))).as("n")),
      idCol, tau)

  /** Fine-centroid init table (cell, carr) — the same id%cells
    * per-dim DECIMAL-exact 6dp means as [[initCentroidMap]], but kept
    * DISTRIBUTED: one map-side-combined (cell, dim) aggregate, then a
    * per-cell gather into a dim-ordered array. Nothing here touches
    * the driver, so the table scales to any cell count.
    */
  private def initCentroidDf(corpus: DataFrame, idCol: String,
                             vecCol: String, numCells: Int): DataFrame =
    corpus
      .select((col(idCol) % numCells).cast("int").as("cell"),
        posexplode(col(vecCol)).as(Seq("j", "xv")))
      .select(col("cell"), col("j"),
        graft.functions.Dec15.dec15_split(col("xv").cast("double")).as("_s"))
      .groupBy(col("cell"), col("j"))
      .agg(round(
        graft.functions.Dec15.dec15_sum_split(col("_s"))
          / count(lit(1)).cast("double"), 6).as("c"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("j"), col("c")))),
        s => s.getField("c")).as("carr"))

  /** c·c in VecDot's sequential fold order — bit-equal to the
    * driver-side loop the flat path bakes into its literals.
    */
  private def seqSq(carr: Column): Column =
    aggregate(carr, lit(0.0), (acc, x) => acc + x * x)

  /** Coarse centroids: per-dim 6dp-rounded DECIMAL-exact mean of the
    * member fine centroids of each coarse group. nCoarse ≤ ⌈√cells⌉
    * entries — small enough to collect and fold as a literal, which
    * is what keeps level 1 scan-fused.
    */
  private def coarseCentroidMap(fine: DataFrame,
                                nCoarse: Int): Map[Int, Array[Double]] =
    fine.select((col("cell") % nCoarse).cast("int").as("coarse"),
        posexplode(col("carr")).as(Seq("j", "cv")))
      .select(col("coarse"), col("j"),
        graft.functions.Dec15.dec15_split(col("cv")).as("_s"))
      .groupBy(col("coarse"), col("j"))
      .agg(round(
        graft.functions.Dec15.dec15_sum_split(col("_s"))
          / count(lit(1)).cast("double"), 6).as("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toArray)
      .toMap

  /** Largest fine-candidate payload (cells·dims doubles) the two-level
    * assignment may BROADCAST. Below this, broadcast is right: one tiny
    * exchange, a map-side join, no corpus shuffle. Above it the payload
    * outgrows what every executor should replicate (the docstring's
    * 10⁷ cells × 64 dims is ~5 GB, and `LiteralSafeCells²` cells can
    * reach Spark's 8 GB broadcast hard cap), so the candidates arrive
    * via SHUFFLE HASH JOIN on the coarse key instead — the corpus is
    * about to shuffle into greedyLeader's cell-keyed join anyway, so
    * the extra exchange is one keyed pass over rows already in flight,
    * and the candidate side ships each group's array exactly once.
    */
  val TwoLevelBroadcastBytes: Long = 100L << 20

  /** Public face of the two-level assignment — (id, cell) — for
    * callers that want the 100-TB quantizer without the semDedup
    * leader rule (and for the route A/B scale probe, which overrides
    * `broadcastBytes` to force each join strategy on the same data).
    */
  def assignCellsTwoLevel(corpus: DataFrame, idCol: String, vecCol: String,
                          numCells: Int,
                          broadcastBytes: Long =
                            TwoLevelBroadcastBytes): DataFrame =
    assignTwoLevel(corpus, idCol, vecCol, numCells, broadcastBytes)
      .select(col(idCol), col("cell"))

  /** Two-level nearest-cell assignment: (id, vec, cell). See
    * [[semDedupTwoLevel]] for the dataflow and cost bound. Every
    * coarse residue 0..nCoarse−1 owns ≥1 fine cell (nCoarse ≤ cells),
    * so the 1:1 candidate join drops no rows.
    *
    * Join strategy routes on the candidate payload (cells·dims
    * doubles, measured against `broadcastBytes`): broadcast below the
    * bound, shuffle-hash on the coarse key above it (build side =
    * candidates — ⌈√cells⌉ rows per key, uniform by construction;
    * corpus-side coarse skew is AQE skew-join territory). Strategy
    * never affects results — both routes feed the same argmin fold.
    */
  private[ops] def assignTwoLevel(corpus: DataFrame, idCol: String,
                                  vecCol: String, numCells: Int,
                                  broadcastBytes: Long =
                                    TwoLevelBroadcastBytes): DataFrame = {
    val nCoarse = math.ceil(math.sqrt(numCells.toDouble)).toInt
    val fine = graft.core.Pins.pin(
      initCentroidDf(corpus, idCol, vecCol, numCells))
    val coarse = coarseCentroidMap(fine, nCoarse)
    // per-group candidate arrays, cell-ascending so the strict-< fold
    // keeps the lowest cell on distance ties (the flat path's order)
    val cands = fine.select((col("cell") % nCoarse).cast("int").as("coarse"),
        struct(col("cell"), col("carr"), seqSq(col("carr")).as("cc")).as("cand"))
      .groupBy(col("coarse"))
      .agg(sort_array(collect_list(col("cand"))).as("cands"))
    // dims comes free with the coarse-centroid collect above (every
    // coarse centroid is a per-dim mean, so its length IS the vector
    // dimensionality) — the retired limit-1 corpus probe here was an
    // EXTRA eager job that also re-executed a derived corpus' upstream
    // pipeline once per operator construction. Empty/all-null corpus →
    // no centroids → payload 0 → broadcast of an empty table, the same
    // degenerate plan as before the routing.
    val dims = coarse.values.headOption.map(_.length).getOrElse(0)
    val payloadBytes = numCells.toLong * dims * 8L
    val candsRouted =
      if (payloadBytes <= broadcastBytes) broadcast(cands)
      else cands.hint("shuffle_hash")
    corpus.select(col(idCol), col(vecCol),
        vec_dot(col(vecCol), col(vecCol)).as("vv"))
      .withColumn("coarse", nearestCell(col(vecCol), col("vv"), coarse))
      .join(candsRouted, Seq("coarse"))
      .select(col(idCol), col(vecCol),
        nearestCellOver(col(vecCol), col("vv"), col("cands")).as("cell"))
  }

  /** The argmin fold of [[nearestCell]] over an array COLUMN of
    * (cell, carr, cc) structs instead of a literal — same distance
    * arithmetic, same ascending-cell strict-< tie rule; this is what
    * lets the centroid set arrive via broadcast join.
    */
  private def nearestCellOver(vec: Column, vv: Column,
                              cands: Column): Column =
    aggregate(
      transform(cands, cent =>
        struct(
          (vv - lit(2.0) * vec_dot(vec, cent.getField("carr")) +
            cent.getField("cc")).as("dist"),
          cent.getField("cell").as("cell"))),
      struct(lit(Double.PositiveInfinity).as("dist"), lit(-1).as("cell")),
      (acc, cd) =>
        when(cd.getField("dist") < acc.getField("dist"), cd).otherwise(acc),
      acc => acc.getField("cell"))

  /** LSH-bucketed top-k: rank only within the query's bucket. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, dims: Int, numPlanes: Int, k: Int): DataFrame = {
    val bucket = lshBucket(col(vecCol), dims, numPlanes)
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"),
      sqrt(vec_dot(col(vecCol), col(vecCol))).as("cn"), bucket.as("bucket"))
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      sqrt(vec_dot(col(vecCol), col(vecCol))).as("qn"), bucket.as("bucket")))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("bucket"), col("vec_id"),
        (vec_dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("bucket"), col("rank"), col("vec_id"), col("cos"))
  }

  /** Per-group centroids of an embedding column, long-form
    * (group, dim, centroid, n). The explode is dims× rows into ONE
    * map-side-combined groupBy on (group, dim) — at 100 TB this is a
    * single shuffle of |groups|·dims partial sums per partition, never
    * per-vector traffic. Sums run through the exact Dec15 fixed-point
    * aggregate (bit-identical to the DECIMAL(38,15) idiom the oracle
    * replays, at ~double-sum cost — r20) so the centroid is
    * independent of row order (float inputs widen to double
    * losslessly; the Dec15 domain far exceeds unit-scale embedding
    * magnitudes, and an out-of-domain sum fails loud).
    */
  def groupCentroids(emb: DataFrame, groupCol: String, vecCol: String): DataFrame =
    emb.select(col(groupCol).as("grp"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("grp"), (col("pos") + 1).as("dim"),
        col("v").cast("double").as("v"))
      .select(col("grp"), col("dim"),
        graft.functions.Dec15.dec15_split(col("v")).as("_s"))
      .groupBy(col("grp"), col("dim"))
      .agg(
        (graft.functions.Dec15.dec15_sum_split(col("_s"))
          / count(lit(1)).cast("double")).as("centroid"),
        count(lit(1)).as("n"))
}
