package graft.ops

import graft.SparkTestBase
import graft.core.Pins
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The near-dup RDD kernels ([[Dedup.ngramJaccardPairs]],
  * [[Dedup.minhashLshPairs]], [[Dedup.connectedComponents]]) against
  * the DataFrame forms they replaced, kept verbatim in
  * [[DedupReference]]: row for row, doubles by their raw bits, at
  * widths 1, 3 and 7. Plus their job counts, argument checks and the
  * source guard that keeps local checkpoints out of the operators.
  */
class DedupKernelSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val Widths = Seq(1, 3, 7)

  // Raw cells: strings as-is, doubles by their bits, so a one-ulp drift
  // or a flipped i < j orientation fails the comparison.
  private def cells(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).sortBy(_.mkString("\u0001"))

  // ids above U+FFFF next to ids in U+E000–U+FFFF: UTF-16 order puts
  // the surrogate pairs first, Spark's UTF8 byte order puts them last
  private val Astral = "\uD83D\uDE00"
  private val Private = "\uE000"

  // 3-gram fixture at maxDocFreq = 3: "k l m" sits in exactly 3 docs
  // (df = cap, kept); "a b c" in 3 docs plus the null-id doc (df = 4,
  // dropped: a null id counts towards df); doc 4 repeats "z z z"; docs
  // 6 and 8 are shorter than n, doc 9 has no text.
  private val fixedTexts: Seq[(Option[Long], String)] = Seq(
    Some(1L) -> "a b c d e f k l m",
    Some(2L) -> "a b c d x y k l m",
    Some(3L) -> "a b c q r",
    Some(4L) -> "z z z z z k l m",
    Some(5L) -> "z z z w",
    Some(6L) -> "p q",
    Some(7L) -> "d e f x y",
    Some(8L) -> "",
    Some(9L) -> null,
    None -> "a b c m n d e f")

  // random docs over a small vocabulary: many shared shingles, repeats,
  // short docs, and a few null ids
  private def randomTexts(seed: Int, docs: Int): Seq[(Option[Long], String)] = {
    val rng = new scala.util.Random(seed)
    (0 until docs).map { d =>
      val id = if (rng.nextInt(12) == 0) None else Some(100L + d)
      id -> Seq.fill(rng.nextInt(11))(s"w${rng.nextInt(6)}").mkString(" ")
    }
  }

  private def longDocs(texts: Seq[(Option[Long], String)]): DataFrame = {
    import spark.implicits._
    texts.map { case (id, t) => (id.map(java.lang.Long.valueOf).orNull, t) }
      .toDF("doc_id", "text")
  }

  // the same texts under string ids that mix astral and private-use
  // characters, so the pair orientation depends on the byte order
  private def stringDocs(texts: Seq[(Option[Long], String)]): DataFrame = {
    import spark.implicits._
    texts.map { case (id, t) =>
      (id.map(i => (if (i % 2 == 0) Astral else Private) + (1000 - i)).orNull, t)
    }.toDF("doc_id", "text")
  }

  private val corpora: Seq[(String, DataFrame)] = Seq(
    "fixed long ids" -> longDocs(fixedTexts),
    "fixed string ids" -> stringDocs(fixedTexts),
    "random long ids" -> longDocs(randomTexts(5, 60)),
    "random string ids" -> stringDocs(randomTexts(6, 60)))

  test("ngramJaccardPairs equals its DataFrame form at widths 1, 3 and 7") {
    val rows = for ((name, docs) <- corpora; cap <- Seq(Int.MaxValue, 3, 2);
         (n, minJac) <- Seq((3, 0.0), (2, 0.2))) yield {
      val what = s"$name, n $n, maxDocFreq $cap, minJac $minJac"
      val want = Pins.scoped(cells(DedupReference.ngramJaccardPairs(docs,
        "doc_id", "text", n, minJac, cap)))
      for (w <- Widths) SparkTestBase.atWidth(w) {
        val got = Pins.scoped(cells(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          n, minJac, cap)))
        assert(got == want, s"$what, width $w")
      }
      name -> want.size
    }
    // every corpus yields pairs under some setting
    rows.groupMapReduce(_._1)(_._2)(_ + _).foreach { case (name, n) => assert(n > 0, name) }
  }

  test("the fixture's capped shingles: df = maxDocFreq is kept, df = maxDocFreq + 1 " +
      "(a null id among them) is dropped") {
    val pairs = Pins.scoped(Dedup.ngramJaccardPairs(longDocs(fixedTexts), "doc_id",
      "text", n = 3, minJac = 0.0, maxDocFreq = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap)
    // 1-2 share "k l m" (kept) and "b c d"; "a b c" (df 4) is gone
    assert(pairs((1L, 2L)) == 2L)
    // 1-3 shared only "a b c"
    assert(!pairs.contains((1L, 3L)))
    // doc 4's repeated "z z z" counts once
    assert(pairs((4L, 5L)) == 1L)
  }

  test("minhashLshPairs equals its DataFrame form at widths 1, 3 and 7") {
    val found = for ((name, docs) <- corpora; (hashes, rows) <- Seq((16, 2), (16, 4), (12, 6));
         n <- Seq(3, 2)) yield {
      val what = s"$name, numHashes $hashes, rowsPerBand $rows, n $n"
      val want = Pins.scoped(cells(DedupReference.minhashLshPairs(docs,
        "doc_id", "text", hashes, rows, n)))
      for (w <- Widths) SparkTestBase.atWidth(w) {
        val got = Pins.scoped(cells(Dedup.minhashLshPairs(docs, "doc_id", "text",
          hashes, rows, n)))
        assert(got == want, s"$what, width $w")
      }
      name -> want.size
    }
    // every corpus yields candidates under some setting
    found.groupMapReduce(_._1)(_._2)(_ + _).foreach { case (name, n) => assert(n > 0, name) }
  }

  // ------------------------------------------------ connected components

  private def longEdges(es: Seq[(Option[Long], Option[Long])]): DataFrame = {
    import spark.implicits._
    es.map { case (i, j) =>
      (i.map(java.lang.Long.valueOf).orNull, j.map(java.lang.Long.valueOf).orNull)
    }.toDF("i", "j")
  }

  private def path(from: Long, len: Int): Seq[(Option[Long], Option[Long])] =
    (0 until len).map(k => Some(from + k) -> Some(from + k + 1))

  // a long path in shuffled order and mixed directions, a star whose
  // centre is not its minimum, isolated pairs, a self-loop, duplicates
  private val graphEdges: Seq[(Option[Long], Option[Long])] = {
    val rng = new scala.util.Random(11)
    val p = rng.shuffle(path(0L, 40).map(e => if (rng.nextBoolean()) e.swap else e))
    val star = (150L to 180L).map(l => Some(200L) -> Some(l))
    val pairs = Seq(Some(300L) -> Some(301L), Some(303L) -> Some(302L))
    p ++ star ++ pairs ++ Seq(Some(400L) -> Some(400L), Some(301L) -> Some(300L))
  }

  private val nullEdges: Seq[(Option[Long], Option[Long])] = Seq(
    Some(500L) -> None, None -> Some(501L), None -> Some(39L), (None, None),
    Some(600L) -> Some(601L))

  test("connectedComponents equals its DataFrame form at widths 1, 3 and 7 " +
      "(paths, stars, pairs, null endpoints, string keys)") {
    import spark.implicits._
    val strings = Seq(
      (Private + "b", Astral + "a"), (Astral + "a", Astral + "c"),
      (Astral + "c", "\uFFFF"), ("\uFFFFz", Private + "q"),
      (null, Astral + "x"), (Astral + "x", Private + "x")).toDF("i", "j")
    val graphs = Seq(
      "long keys" -> longEdges(graphEdges),
      "null endpoints" -> longEdges(graphEdges ++ nullEdges),
      "only a null-null edge beside a pair" -> longEdges(Seq((None, None),
        Some(7L) -> Some(8L))),
      "string keys" -> strings)
    for ((name, edges) <- graphs) {
      val want = Pins.scoped(cells(DedupReference.connectedComponents(edges)))
      assert(want.nonEmpty, name)
      for (w <- Widths) SparkTestBase.atWidth(w) {
        val got = Pins.scoped(cells(Dedup.components(edges, 25, parts = Some(w))))
        assert(got == want, s"$name, width $w")
      }
    }
    // the byte order decides the string component's canonical id
    val strComp = Pins.scoped(Dedup.connectedComponents(strings).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap)
    assert(strComp(Astral + "a") == Private + "b")
  }

  // ------------------------------------------------------- job counts

  private def jobs[T](f: => T): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
    sc.addSparkListener(l)
    try {
      Pins.scoped(f)
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
      n.get()
    } finally sc.removeSparkListener(l)
  }

  test("each pair build is at most one job when consumed") {
    val docs = longDocs(randomTexts(7, 60))
    val ngram = jobs(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      maxDocFreq = 5).rdd.count())
    assert(ngram <= 1, s"ngramJaccardPairs ran $ngram jobs")
    val lsh = jobs(Dedup.minhashLshPairs(docs, "doc_id", "text").rdd.count())
    assert(lsh <= 1, s"minhashLshPairs ran $lsh jobs")
  }

  // the round count a graph needs: the least maxIter that converges
  private def roundsOf(edges: DataFrame): Int =
    (1 to 25).find(m => scala.util.Try(Pins.scoped(
      Dedup.connectedComponents(edges, maxIter = m).collect())).isSuccess).get

  test("a connectedComponents round costs at most one job") {
    val short = longEdges(path(0L, 4))
    val long = longEdges(path(0L, 300))
    val (r, rd) = (roundsOf(short), roundsOf(long))
    assert(rd > r, s"the long path needs $rd rounds, the short one $r")
    val extra = jobs(Dedup.connectedComponents(long).collect()) -
      jobs(Dedup.connectedComponents(short).collect())
    assert(extra <= rd - r, s"${rd - r} more rounds cost $extra more jobs")
  }

  test("non-convergence keeps its message") {
    val e = intercept[IllegalStateException](Pins.scoped(
      Dedup.connectedComponents(longEdges(path(0L, 300)), maxIter = 2).collect()))
    assert(e.getMessage == "connectedComponents did not converge in 2 rounds " +
      "(diameter > 2^maxIter is not a realistic near-dup graph)", e.getMessage)
  }

  // --------------------------------------------------- argument checks

  private def rejects(arg: String, value: Any)(f: => Any): Unit = {
    val e = intercept[IllegalArgumentException](Pins.scoped(f))
    assert(e.getMessage.contains(arg) && e.getMessage.contains(value.toString), e.getMessage)
  }

  test("maxIter < 1 fails naming the argument and its value") {
    for (m <- Seq(0, -1))
      rejects("maxIter", m)(Dedup.connectedComponents(longEdges(path(0L, 3)), maxIter = m))
  }

  test("n < 1 and maxDocFreq < 1 fail naming the argument and its value") {
    val docs = longDocs(fixedTexts)
    rejects("n", 0)(Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 0))
    rejects("maxDocFreq", 0)(Dedup.ngramJaccardPairs(docs, "doc_id", "text", maxDocFreq = 0))
    rejects("n", -2)(Dedup.minhashLshPairs(docs, "doc_id", "text", n = -2))
  }

  test("rowsPerBand < 1 fails naming the argument and its value") {
    rejects("rowsPerBand", 0)(Dedup.minhashLshPairs(longDocs(fixedTexts), "doc_id",
      "text", rowsPerBand = 0))
  }

  test("numHashes that is not a positive multiple of rowsPerBand fails naming both") {
    val docs = longDocs(fixedTexts)
    for (h <- Seq(10, 0, -4)) {
      val e = intercept[IllegalArgumentException](
        Dedup.minhashLshPairs(docs, "doc_id", "text", numHashes = h, rowsPerBand = 4))
      assert(e.getMessage.contains(s"numHashes") && e.getMessage.contains(h.toString) &&
        e.getMessage.contains("rowsPerBand (4)"), e.getMessage)
    }
  }

  // ------------------------------------------------------ source guard

  test("src/main takes local checkpoints only in the k-means quantizer") {
    val found = graft.SourceScan.find(Seq("localCheckpoint"),
      except = "graft/ops/Similarity.scala")
    assert(found.isEmpty, s"local checkpoints outside Similarity.scala:\n${found.mkString("\n")}")
  }
}

/** The DataFrame forms the kernels replaced, verbatim: the n-gram pair
  * self-join, the LSH band self-join with its payload joins, and the
  * per-round CC dataflow (neighbour join + groupBy, a pinned left-join
  * propagation, a pointer-jumping self-join and a local checkpoint per
  * round, on a session clone sized to the loop).
  */
object DedupReference {
  import Dedup.{bandKey, minhashSignatureArr, shingles}

  /** Candidate pairs sharing ≥1 shingle with exact Jaccard ≥ minJac.
    * The shingle self-join is an equi-join on the shingle (shuffle on
    * content, not all-pairs); pair aggregation is one group-by.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, minJac: Double = 0.05,
                        maxDocFreq: Int = Int.MaxValue): DataFrame = {
    // Zipfian corpora have stop-shingles ("of the and" class) whose
    // document frequency df makes the self-join below O(df²) on that
    // one key — skewed AND quadratic. The standard production guard:
    // drop shingles with df > maxDocFreq from the shingle space
    // entirely (intersection AND union stay consistent); a shingle
    // present in that many documents carries no dedup signal. One
    // extra groupBy on the shingle key the join shuffles on anyway.
    // with the cap, shAll feeds BOTH the df aggregate and the join's
    // probe side — pin it so the dominant tokenize+hash+distinct
    // pipeline runs once, not once per consumer
    val shAll =
      if (maxDocFreq == Int.MaxValue) shingles(docs, idCol, textCol, n)
      else Pins.pin(shingles(docs, idCol, textCol, n))
    val sh = Pins.pin(if (maxDocFreq == Int.MaxValue) shAll
      else {
        val freq = shAll.groupBy(col("sh")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDocFreq)
        shAll.join(freq.select(col("sh")), Seq("sh"))
      })
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("i"), col("b.id").as("j"))
      .agg(count(lit(1)).as("inter"))
    val out = inter
      .join(sizes.select(col("id").as("i"), col("sz").as("sza")), Seq("i"))
      .join(sizes.select(col("id").as("j"), col("sz").as("szb")), Seq("j"))
      .select(col("i"), col("j"), col("inter"),
        (col("sza") + col("szb") - col("inter")).as("un"),
        (col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")).cast("double")).as("jac"))
      .filter(col("jac") >= minJac)
    out
  }
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 16, rowsPerBand: Int = 4,
                      n: Int = 3): DataFrame = {
    val sh = Pins.pin(shingles(docs, idCol, textCol, n))
    val sig = Pins.pin(minhashSignatureArr(sh, numHashes))
    val nBands = numHashes / rowsPerBand
    val bands = sig.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(nBands - 1)), b =>
          bandKey(col("sig"), b, rowsPerBand))).as(Seq("band", "key")))
    // persisted: both the est and exact-Jaccard branches consume cand,
    // and without the pin the band self-join runs once per branch
    val cand = Pins.pin(bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j")).distinct())
    // estimated similarity: fraction of agreeing minhashes (array zip)
    val est = cand
      .join(sig.select(col("id").as("i"), col("sig").as("sa")), Seq("i"))
      .join(sig.select(col("id").as("j"), col("sig").as("sb")), Seq("j"))
      .select(col("i"), col("j"),
        (aggregate(zip_with(col("sa"), col("sb"),
          (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") /
          lit(numHashes.toDouble)).as("est"))
    // exact jaccard for verification
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(sh.select(col("id").as("i"), col("sh").as("sha")), Seq("i"))
      .join(sh.select(col("id").as("j"), col("sh").as("shb")), Seq("j"))
      .filter(col("sha") === col("shb"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("inter"))
    est.join(inter, Seq("i", "j"), "left")
      .join(sizes.select(col("id").as("i"), col("sz").as("sza")), Seq("i"))
      .join(sizes.select(col("id").as("j"), col("sz").as("szb")), Seq("j"))
      .select(col("i"), col("j"), col("est"),
        (coalesce(col("inter"), lit(0L)).cast("double") /
          (col("sza") + col("szb") - coalesce(col("inter"), lit(0L))).cast("double"))
          .as("jac"))
  }
  /** Connected components over near-dup pair edges (i, j) — the
    * clustering step that turns pairwise dedup output into keep/drop
    * decisions (canonical = min doc id per component; everything else
    * in the component is a drop candidate). Iterative min-label
    * propagation: lbl'(v) = min(lbl(v), min over neighbors lbl(u)).
    * Each round is one equi-join on the node key plus one map-side-
    * combined groupBy — shuffles keyed on content, never all-pairs —
    * and the labels DataFrame (one row per node IN AN EDGE, a small
    * fraction of the corpus) is the only iterated state. Near-dup
    * graphs are unions of near-cliques (diameter 2–4), so the loop
    * converges in a handful of rounds; convergence costs one count
    * per round. For adversarial long-path graphs the same join+agg
    * structure admits the alternating large-star/small-star variant
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) with O(log n) rounds — the per-round dataflow shape
    * (and hence the 100-TB story) is identical.
    * Returns (node, comp) for every node appearing in an edge.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // Lineage MUST be cut every round: `labels` appears twice in each
    // round's plan (directly + through the neighbor join), so keeping
    // lineage would double the logical plan per round — exponential
    // analyzer/optimizer blowup long before any executor works hard
    // (observed as a driver OOM at 25 rounds). The eager
    // localCheckpoint makes every round's inputs flat cached tables;
    // the blocks are one row per edge-endpoint node (near-dup nodes
    // only, a small fraction of the corpus) and are released by the
    // caller's cache scope.
    // the edge list is checkpointed BEFORE the undirected union — the
    // union consumes it twice, and without the cut the upstream pair
    // pipeline (shingle joins etc.) would execute once per branch
    val e0 = edges.localCheckpoint(true)
    // Right-size the LOOP's shuffle parallelism to the iterated state:
    // the label table is one row per edge-endpoint node — usually a
    // tiny fraction of the corpus — while the session's shuffle
    // partition count is sized for corpus-scale scans. Rounds of
    // 4-shuffle dataflow at session width are pure task-scheduling
    // overhead (re-measured this round: 1461 tasks / 72.6 execCpuS per
    // warm sf0.1 run at width 32 + AQE — whose parallelismFirst
    // coalescing deliberately keeps reducers ≈ cores — vs 356 tasks /
    // 34.5 execCpuS narrowed). Target ~1M edges per partition, capped
    // at the session setting so a 100-TB edge set keeps full width.
    // The narrowing lives on an ISOLATED newSession() clone — shared
    // SparkContext, cache, and checkpoint blocks, but its OWN SQL conf
    // — so every loop shuffle runs narrow WITH map-side combine (what
    // a user-level repartition can't express: the partial agg would
    // move above the exchange and ship raw edge rows) and NOTHING is
    // mutated on the caller's session; concurrent queries are safe.
    // The loop's datasets live in the clone; the returned labels are
    // re-bound to the caller's session at the end.
    val spark = e0.sparkSession
    val nEdges = e0.count()
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    // PageRank.loopWidth with CC's own per-partition target: a
    // billion-edge near-dup graph would derive past any session width,
    // and partitions beyond ~2× the machine add only per-task fixed
    // cost × rounds (see the width rationale and the r17 width-128
    // probe note there). Sharing the helper keeps the cores cap from
    // silently diverging between the two iterated-join loops.
    val loopParts = PageRank.loopWidth(nEdges, sessionParts,
      spark.sparkContext.defaultParallelism, edgesPerPartition = 1000000L)
    // conf-preserving clone: a bare newSession() would silently drop
    // any RUNTIME spark.conf.set state (ANSI mode, AQE toggles,
    // timezone) a library caller holds — the loop must differ from
    // the caller's session in shuffle width ONLY
    val loopSpark = org.apache.spark.sql.graft.bridge.sessionClone(spark)
    loopSpark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    val e = org.apache.spark.sql.graft.bridge.rebind(loopSpark, e0)
    val undBoth = e.select(col("i").as("node"), col("j").as("nbr"))
      .union(e.select(col("j").as("node"), col("i").as("nbr")))
    // init fuses propagation step 1: lbl0(v) = min(v, min nbr) — the
    // same single groupBy an identity init's distinct() would cost,
    // but one round ahead (typical near-dup graphs then need one
    // fewer join-round before the convergence check comes back clean)
    var labels = undBoth.groupBy(col("node"))
      .agg(min(col("nbr")).as("nm"))
      .select(col("node"), least(col("node"), col("nm")).as("comp"))
      .localCheckpoint(true)
    var it = 0
    var converged = false
    // superseded state (labels checkpoints, prop persists) whose
    // blocks can only be released once a LATER round's count has
    // materialized the round that consumed them — more than one entry
    // accumulates only across count-skipped rounds (below)
    var pendingLabels = List.empty[DataFrame]
    var pendingProps = List.empty[() => Unit]
    while (!converged && it < maxIter) {
      // min over neighbors' labels (one equi-join + map-side-combined
      // groupBy), then pointer-jumping compression lbl(v) := lbl(lbl(v))
      // (one more equi-join on the label) — propagation alone needs
      // diameter rounds, with compression the round count is
      // O(log diameter), the property that holds at adversarial depth.
      // The previous label rides along as `prev` so the convergence
      // check is a filter-count on the round's own output — the count
      // is the round's ONLY job; it materializes the lazy checkpoint.
      val viaNbr = undBoth
        .join(labels.select(col("node").as("nbr"), col("comp")), Seq("nbr"))
        .groupBy(col("node")).agg(min(col("comp")).as("nbrMin"))
      // pinned: the compression self-join consumes prop on BOTH sides —
      // without the pin each round computes the propagation (and its
      // two shuffles) twice
      val (prop, releaseProp) = graft.core.Pins.held(graft.core.Pins.pin(
        labels.join(viaNbr, Seq("node"), "left")
          .select(col("node"), col("comp").as("prev"),
            least(col("comp"), coalesce(col("nbrMin"), col("comp"))).as("comp"))))
      val next = prop
        .join(prop.select(col("node").as("comp"), col("comp").as("cc")),
          Seq("comp"))
        .select(col("node"), col("prev"), col("cc").as("comp"))
        .localCheckpoint(false)
      pendingProps ::= releaseProp
      pendingLabels ::= labels
      labels = next.select(col("node"), col("comp"))
      // Round 1's convergence count is SKIPPED (r20, verdict item 4):
      // init already fused propagation step 1, so real near-dup
      // graphs never converge there — round 2's count materializes
      // both rounds' lazy checkpoints in ONE job (the lineage is RDD-
      // flat either way; prop stays persisted until its consumer has
      // materialized). If round 1 DID converge, round 2's count sees
      // changed == 0 over the already-fixed labels: same fixpoint,
      // same result, one spare round of tiny-table dataflow traded
      // for one job per query on every non-degenerate graph.
      if (it > 0 || it == maxIter - 1) {
        val changed = next.filter(col("comp") =!= col("prev")).count()
        // state ROTATION: the count materialized every pending round's
        // checkpoint — release the superseded blocks so live
        // checkpoint state stays O(1) in the round count (see
        // Pins.releaseCheckpoint for the memory-manager convoy that
        // stacking superseded rounds causes at scale)
        pendingProps.foreach(_())
        pendingLabels.foreach(graft.core.Pins.releaseCheckpoint)
        pendingProps = Nil
        pendingLabels = Nil
        converged = changed == 0
      }
      it += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        "(diameter > 2^maxIter is not a realistic near-dup graph)")
    // the edge checkpoint fed every round's undirected union; the
    // returned labels are checkpoint-cut and independent of it
    // (released via e0 — the checkpointed dataset itself; `e` is a
    // rebind whose leaf is a DERIVED scan of the same blocks)
    graft.core.Pins.releaseCheckpoint(e0)
    // the FINAL round's label checkpoint backs the returned frame —
    // registered with the caller's pin scope (released at scope exit;
    // consume the result inside the scope)
    graft.core.Pins.pinCheckpoint(labels)
    // back to the caller's session (and its shuffle width): labels'
    // rows come straight off the final round's checkpoint blocks
    org.apache.spark.sql.graft.bridge.rebind(spark, labels)
  }
}
