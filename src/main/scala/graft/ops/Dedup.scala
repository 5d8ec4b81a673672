package graft.ops

import graft.core.Pins
import graft.functions.VecDot.vec_dot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact
  * (content hash), n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup. Everything is hash-partitioned
  * relational dataflow — group-bys on content keys, explodes bounded
  * by shingle counts, band-bucket joins instead of all-pairs — the
  * shapes that survive a 100-TB corpus. All hash functions are
  * arithmetic-only (md5-derived integers) so results are
  * engine-independent and DuckDB-checkable.
  */
object Dedup {

  val P = 1000000007L

  /** Exact duplicate groups by normalized-content MD5. One shuffle on
    * the hash; map-side combine.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(TextAnalysis.fingerprintMd5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("min_id"),
        max(col(idCol)).as("max_id"))

  /** Distinct hashed word n-gram shingles per document as (id,
    * shingle-int) rows. The CHEAP index sequence is exploded first and
    * the md5 hash computed in a plain projection AFTER the explode:
    * a `transform()` lambda is evaluated on Catalyst's interpreted
    * path, and InferFiltersFromGenerate guards a Generate's input with
    * `size(e) > 0 AND isnotnull(e)` — hashing inside the exploded
    * array meant the full gram transform ran interpreted AND up to 3×
    * per row (measured 10× slower than this shape at sf0.1). Here the
    * duplicated guard is a cheap int sequence and the md5/conv sits in
    * whole-stage codegen, once per gram. Per-doc dedup is the closing
    * distinct — keyed on (id, sh), map-side combined, the same shuffle
    * key downstream joins use.
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String,
               n: Int = 3): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    // Spark sequence(1, k) DESCENDS for k < 1, hence the guard
    val idx = when(size(col("toks")) >= n,
        sequence(lit(1), size(col("toks")) - lit(n - 1)))
      .otherwise(array().cast("array<int>"))
    docs.select(col(idCol).as("id"), toks.as("toks"))
      .select(col("id"), col("toks"), explode(idx).as("i"))
      .select(col("id"), shingleInt(concat_ws(" ",
        (0 until n).map(o => element_at(col("toks"), col("i") + lit(o))): _*))
        .as("sh"))
      .distinct()
  }

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

  /** Shingle → 60-bit integer via md5 prefix (engine-independent).
    * Computed by the codegen'd [[graft.functions.Md5Prefix60]] kernel —
    * bit-identical to the `conv(substring(md5(sh),1,15),16,10)` chain
    * the oracles replay (Md5Prefix60Spec pins the equality), minus its
    * four per-call string materializations (r19 optimization).
    */
  def shingleInt(sh: Column): Column =
    graft.functions.Md5Prefix60.md5_prefix60(sh)

  /** MinHash signature as ONE array column per doc from the (id, sh)
    * shingle table ([[shingles]]): a single groupBy(id) runs all
    * numHashes `min` aggregates as codegen'd map-side-combined
    * columns. Docs with no shingles are simply absent. (A nested
    * transform/array_min formulation looks shuffle-free but Catalyst
    * inlines the hash permutations into every array_min lambda —
    * numHashes× recomputation; this shape is the fast AND scalable
    * one.) Returns (id, sig: array<long>).
    */
  def minhashSignatureArr(sh: DataFrame, numHashes: Int = 16): DataFrame = {
    val xp = sh.select(col("id"), (col("sh") % P).as("xp"))
    val mins = (0 until numHashes).map { i =>
      min((col("xp") * (2L * i + 3L) + (5L * i + 7L)) % P).as(s"mh$i")
    }
    xp.groupBy(col("id")).agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"mh$i")): _*).as("sig"))
  }

  /** LSH band-bucket candidate pairs + estimated (minhash-agreement)
    * and exact Jaccard. Bands of `rowsPerBand` signature rows; docs
    * sharing any band key become candidates — the join is on the band
    * key (content-addressed), never all-pairs. One persisted (id, sh)
    * table feeds signatures, sizes, and the exact-Jaccard branch.
    */
  /** Band `b`'s LSH bucket key from a minhash signature array: the
    * rowsPerBand slice serialized as a comma-joined string. ONE
    * definition on purpose — the streaming ingest gates
    * ([[graft.streaming.StreamingOps]]) and this batch path compare
    * these keys AS STRINGS, so any drift (separator, slice bounds,
    * cast) between hand-rolled copies would silently break their
    * batch-vs-stream parity.
    */
  def bandKey(sig: Column, b: Column, rowsPerBand: Int): Column =
    concat_ws(",", transform(
      slice(sig, b * rowsPerBand + lit(1), lit(rowsPerBand)),
      _.cast("string")))

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

  /** SimHash fingerprint over `bits` bit positions of md5-derived
    * token hashes: bit b set iff Σ_tokens (2·bit_b(h) − 1) > 0.
    * Returns (id, simhash).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              bits: Int = 32): DataFrame = {
    val tok = docs.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(col("id"), shingleInt(col("tok")).as("h"))
    // One row per token, all `bits` majority sums as map-side-combined
    // aggregate columns (NOT a per-(token,bit) explode — that is a
    // bits× row blowup into the shuffle for no information gain).
    val sums = (0 until bits).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * lit(2L) - lit(1L))
        .as(s"s$b")
    }
    tok.groupBy(col("id")).agg(sums.head, sums.tail: _*)
      .select(col("id"),
        (0 until bits).map(b =>
            when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ maxDist — the
    * all-pairs parity formulation ([[simhashPairsBucketed]] is the
    * identical-result 100-TB path).
    */
  def simhashPairs(sims: DataFrame, maxDist: Int): DataFrame =
    sims.select(col("id").as("i"), col("simhash").as("ha"))
      .join(sims.select(col("id").as("j"), col("simhash").as("hb")),
        col("i") < col("j"))
      .select(col("i"), col("j"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .filter(col("hamming") <= maxDist)

  /** [[simhashPairs]] without the all-pairs join, by pigeonhole: split
    * the `bits`-bit fingerprint into maxDist+1 contiguous blocks — two
    * fingerprints within Hamming distance maxDist differ in ≤ maxDist
    * blocks, so at least ONE block is bit-identical. Candidates come
    * from an equi-join on (block index, block value) — shuffle keyed
    * on fingerprint content, never n². A pair matching in SEVERAL
    * blocks is emitted only from its FIRST equal block (the block
    * index of the first zero block of ha⊕hb), a pure filter — no
    * distinct() shuffle over the multiply-matched candidate set.
    * Same rows as [[simhashPairs]] for any input.
    */
  def simhashPairsBucketed(sims: DataFrame, maxDist: Int,
                           bits: Int = 32): DataFrame = {
    val nBlocks = maxDist + 1
    val starts = (0 to nBlocks).map(k => k * bits / nBlocks)
    def blockOf(v: Column, k: Int): Column = {
      val len = starts(k + 1) - starts(k)
      shiftright(v, starts(k)).bitwiseAND(lit((1L << len) - 1L))
    }
    // Pinned: the self-join consumes blocks on BOTH sides — without
    // the pin the fingerprint subtree (tokenize + md5 + bit majority)
    // computes twice per run. Same contract as minhashLshPairs' cand.
    // The join runs at an explicit row-counted width (the count is one
    // cheap job over the pinned blocks): the block table is one slim
    // row per (doc, block) but the within-bucket candidate output is
    // quadratic in bucket occupancy, so AQE's input-bytes advisory
    // sizing is the wrong signal in BOTH directions — r19 it coalesced
    // the join to 4 reducers (1.8 execCpuS | 2.3 s wall), while the
    // measured per-task fixed cost makes extra width pure overhead at
    // probe scale (width 1–2 runs the whole join in 0.7 execCpuS /
    // 0.9 s). Row-proportional width gives 1–2 tasks at sf0.1 and full
    // machine width at corpus scale; the repartition is a by-num
    // origin AQE never coalesces, and both aliases of the self-join
    // reuse the one exchange.
    val blocks0 = Pins.pin(sims.select(col("id"), col("simhash"),
      posexplode(array((0 until nBlocks).map(blockOf(col("simhash"), _)): _*))
        .as(Seq("blk", "key"))))
    val blocks = blocks0
      .repartition(graft.core.Width.explodeRows(blocks0.sparkSession,
        blocks0.count(), rowsPerTask = 25000L),
        col("blk"), col("key"))
    val x = col("a.simhash").bitwiseXOR(col("b.simhash"))
    // 1-based index of the first bit-identical block of the pair
    val firstEq = array_position(
      array((0 until nBlocks).map(blockOf(x, _)): _*), 0L)
    blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .filter(firstEq === col("a.blk") + 1)
      .select(col("a.id").as("i"), col("b.id").as("j"),
        bit_count(x).as("hamming"))
      .filter(col("hamming") <= maxDist)
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

  /** Duplicate-SPAN scrub (the document-REWRITING flavor of dedup used
    * by production LLM corpora — C4's repeated-line removal, Lee et
    * al. ACL'22 substring dedup, approximated at n-gram granularity):
    * any word n-gram whose corpus document frequency exceeds maxDf is
    * boilerplate; every token position it covers is dropped and the
    * cleaned text is rebuilt from the surviving tokens in order.
    * Returns (id, text_clean, n_kept, n_dropped), one row per input
    * document (unscathed docs pass through).
    *
    * Shape at 100 TB: the df pass is one map-side-combined groupBy on
    * the gram hash; duplicate-gram occurrences come back via an
    * equi-join on the same key (the duplicate set is the df tail — a
    * tiny fraction of the gram space); covered positions reduce with
    * one groupBy(id) whose state is bounded by tokens-per-doc; the
    * rebuild is a per-row array filter fused into the final project.
    * No self-joins, no all-pairs anywhere. The (id, i, gh) gram table
    * feeds both the df pass and the occurrence join, hence the pin.
    */
  def scrubDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, maxDf: Int = 4): DataFrame = {
    val base = docs.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    val idx = when(size(col("toks")) >= n,
        sequence(lit(1), size(col("toks")) - lit(n - 1)))
      .otherwise(array().cast("array<int>"))
    // Pinned through Pins: both the df table and the coverage join
    // consume grams. Lifecycle belongs to the caller's Pins scope —
    // the scope's Dataset-level release is what keeps a long session
    // from accumulating this pin (round-6 advisory).
    val grams = Pins.pin(base.select(col("id"), col("toks"), explode(idx).as("i"))
      .select(col("id"), col("i"), shingleInt(concat_ws(" ",
        (0 until n).map(o => element_at(col("toks"), col("i") + lit(o))): _*))
        .as("gh")))
    val dup = grams.select(col("id"), col("gh")).distinct()
      .groupBy(col("gh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("gh"))
    // covered token positions per doc; collect_set state is bounded by
    // the doc's own token count (order irrelevant — membership only)
    val cov = grams.join(dup, Seq("gh"))
      .select(col("id"),
        explode(sequence(col("i"), col("i") + lit(n - 1))).as("p"))
      .groupBy(col("id")).agg(collect_set(col("p")).as("cov"))
    // rebuild: surviving POSITIONS via array_except (hash-based,
    // O(tokens + covered) — a per-token array_contains over the
    // covered set would be O(tokens × covered), quadratic exactly on
    // the boilerplate-heavy documents the scrub targets most), then
    // one element_at gather in position order.
    base.join(cov, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cov"), array().cast("array<int>")).as("cov"),
        col("toks"))
      // empty/null token arrays: size <= 0 makes sequence(1, size)
      // DESCEND ([1, 0, -1] for null's size = -1) — guard to an empty
      // keep list, the same hazard shingles() guards above
      .withColumn("keep_pos",
        when(size(col("toks")) >= 1,
          array_except(sequence(lit(1), size(col("toks"))), col("cov")))
          .otherwise(array().cast("array<int>")))
      .select(col("id"),
        concat_ws(" ", transform(col("keep_pos"),
          p => element_at(col("toks"), p))).as("text_clean"),
        size(col("keep_pos")).cast("long").as("n_kept"),
        size(col("cov")).cast("long").as("n_dropped"))
  }

  /** Cosine over embeddings: sequential-double dot products through
    * the codegen'd VecDot kernel (bit-equal to the DuckDB
    * list_reduce oracle).
    */
  def cosine(a: Column, b: Column): Column =
    vec_dot(a, b) / (sqrt(vec_dot(a, a)) * sqrt(vec_dot(b, b)))

  /** Embedding near-dup pairs with cosine ≥ minCos (brute-force at
    * parity scale; [[embeddingPairsLsh]] is the bucketed scale path).
    * Norms are computed once per vector, not per pair.
    */
  def embeddingPairs(emb: DataFrame, idCol: String, vecCol: String,
                     minCos: Double): DataFrame = {
    val v = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(vec_dot(col(vecCol), col(vecCol))).as("nrm"))
    v.select(col("id").as("i"), col("v").as("va"), col("nrm").as("na"))
      .join(v.select(col("id").as("j"), col("v").as("vb"), col("nrm").as("nb")),
        col("i") < col("j"))
      .select(col("i"), col("j"),
        (vec_dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** [[embeddingPairsLsh]] with AUTO-SIZED planes: the plane count is
    * the smallest p (1 ≤ p ≤ 30) with 2^p ≥ ceil(n / targetPerBucket),
    * from ONE column-pruned corpus count — so expected bucket occupancy
    * (and the within-bucket O(m²) candidate join) stays bounded at ANY
    * corpus size, where a FIXED plane count is quadratic-over-2^planes
    * (measured: the 4-plane parity config cost 370 s at sf10's 200k
    * vectors — 16 buckets of 12.5k). Sizing is integer arithmetic only
    * (ceil-divide + shift compare, no floating log2), so the DuckDB
    * oracle replays it bit-exactly from its own count.
    */
  def embeddingPairsLshAuto(emb: DataFrame, idCol: String, vecCol: String,
                            dims: Int, targetPerBucket: Int,
                            minCos: Double): DataFrame = {
    require(targetPerBucket > 0, s"targetPerBucket=$targetPerBucket must be > 0")
    val n = emb.select(col(idCol)).count()
    val buckets = math.max(1L, (n + targetPerBucket - 1) / targetPerBucket)
    val planes = (1 to 30).find(p => (1L << p) >= buckets).getOrElse(30)
    embeddingPairsLsh(emb, idCol, vecCol, dims, planes, minCos)
  }

  /** [[embeddingPairs]] without the all-pairs join: candidates come
    * from an equi-join on a sign-random-projection LSH bucket
    * ([[Similarity.lshBucket]]) — shuffle keyed on vector content,
    * never n². APPROXIMATE by design (a near-dup pair split across
    * buckets is missed — recall tunes with numPlanes); every emitted
    * pair carries its exact cosine. The oracle runs the identical
    * bucket arithmetic, so results still hash-match.
    */
  def embeddingPairsLsh(emb: DataFrame, idCol: String, vecCol: String,
                        dims: Int, numPlanes: Int, minCos: Double): DataFrame = {
    val v = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(vec_dot(col(vecCol), col(vecCol))).as("nrm"),
      Similarity.lshBucket(col(vecCol), dims, numPlanes).as("bucket"))
    v.select(col("bucket"), col("id").as("i"), col("v").as("va"), col("nrm").as("na"))
      .join(v.select(col("bucket"), col("id").as("j"), col("v").as("vb"),
          col("nrm").as("nb")),
        Seq("bucket"))
      .filter(col("i") < col("j"))
      .select(col("bucket"), col("i"), col("j"),
        (vec_dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= minCos)
  }
}
