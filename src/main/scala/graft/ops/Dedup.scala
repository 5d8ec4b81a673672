package graft.ops

import graft.core.{ByFirst, Key, Pins, Rounds, Width}
import graft.functions.VecDot.vec_dot
import org.apache.spark.{Aggregator, HashPartitioner}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.immutable.ArraySeq

/** Deduplication operators for training-data pipelines: exact
  * (content hash), n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup, plus the connected components that turn
  * near-dup pairs into keep/drop clusters. Every shuffle is keyed on
  * content — group-bys on content keys, explodes bounded by shingle
  * counts, band-bucket joins instead of all-pairs — the shapes that
  * survive a 100-TB corpus. All hash functions are arithmetic-only
  * (md5-derived integers) so results are engine-independent and
  * DuckDB-checkable.
  *
  * The n-gram Jaccard pairs, the MinHash-LSH pairs and the connected
  * components are RDD kernels on one [[HashPartitioner]] each: their
  * shuffles run as stages of one Spark job (per pair build, per CC
  * round), where the same dataflow as DataFrames cost one AQE job per
  * exchange. Ids and node keys travel as Catalyst's internal values and
  * compare as Spark SQL compares them (UTF8 byte order for strings), so
  * every pair, count and label is the one the DataFrame form gives.
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
               n: Int = 3): DataFrame =
    shingleRows(docs, idCol, textCol, n).distinct()

  /** [[shingles]] without its closing distinct: one (id, sh) row per
    * gram position, so a shingle a document repeats comes once per
    * occurrence. The pair kernels de-duplicate in their own shuffles.
    */
  private def shingleRows(docs: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame = {
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
  }

  /** Candidate pairs sharing ≥1 shingle with exact Jaccard ≥ minJac:
    * (i, j, inter, un, jac) with i < j, the shared and the union
    * shingle counts, and jac = inter / un. Shingles in more than
    * `maxDocFreq` documents are dropped from the shingle space first
    * (intersection AND union stay consistent): Zipfian corpora have
    * stop-shingles whose pair count is O(df²) on one key, and a shingle
    * that common carries no dedup signal. Null ids count towards a
    * shingle's document frequency but never pair.
    *
    * One lazy RDD job when consumed: the (id, sh) rows are shuffled once
    * by shingle (`repartitionAndSortWithinPartitions`), and one sweep
    * takes one shingle's ids at a time, drops repeated (id, sh) rows and
    * capped shingles, and emits a size record `(a, null) → 1` per id and
    * a pair record `(a, b) → 1` per pair a < b. One map-side-combined
    * shuffle on [[ByFirst]] sums both kinds, sorted so each id's size
    * comes before its pairs: a narrow pass then attaches `sza`, and one
    * more sorted shuffle, keyed by b, attaches `szb` the same way. No
    * task holds more than one id's records. Width: [[Width.explode]],
    * the sweep emits pairs quadratic in a shingle's df.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, minJac: Double = 0.05,
                        maxDocFreq: Int = Int.MaxValue): DataFrame = {
    require(n >= 1, s"ngramJaccardPairs: n must be >= 1, got $n")
    require(maxDocFreq >= 1,
      s"ngramJaccardPairs: maxDocFreq must be >= 1, got $maxDocFreq")
    val spark = docs.sparkSession
    val rows = shingleRows(docs, idCol, textCol, n)
    val idType = rows.schema("id").dataType
    val key = Key(idType)
    val width = Width.explode(spark)
    // the (x, null) size record first, then x's pairs by key order
    val sizeFirst = new Ordering[(Any, Any)] {
      def compare(p: (Any, Any), q: (Any, Any)): Int = {
        val c = key.ord.compare(p._1, q._1)
        if (c != 0) c
        else if (p._2 == null) { if (q._2 == null) 0 else -1 }
        else if (q._2 == null) 1
        else key.ord.compare(p._2, q._2)
      }
    }
    val swept = rows.queryExecution.toRdd
      .map(r => (r.getLong(1), key.read(r, 0)))
      .repartitionAndSortWithinPartitions(new HashPartitioner(width))
      .mapPartitions { it =>
        val in = it.buffered
        val ids = new java.util.HashSet[Any]()
        Iterator.continually(in.hasNext).takeWhile(identity).flatMap { _ =>
          val sh = in.head._1
          ids.clear()
          while (in.hasNext && in.head._1 == sh) {
            val id = in.next()._2
            if (ids.size <= maxDocFreq) ids.add(id)
          }
          if (ids.size > maxDocFreq) Iterator.empty
          else {
            val s = key.sorted(ids)
            s.indices.iterator.flatMap(a =>
              Iterator.single((s(a), null: Any) -> 1L) ++
                (a + 1 until s.length).iterator.map(b => (s(a), s(b)) -> 1L))
          }
        }
      }
    val counts = new ShuffledRDD[(Any, Any), Long, Long](swept, ByFirst(width))
      .setAggregator(Aggregator[(Any, Any), Long, Long](identity, _ + _, _ + _))
      .setMapSideCombine(true)
      .setKeyOrdering(sizeFirst)
    // (a, null) → (sz, 0) stays; (a, b) → c becomes (b, a) → (c, sza)
    val withSza = counts.mapPartitions { it =>
      var sza = 0L
      it.map { case ((a, b), c) =>
        if (b == null) { sza = c; (a, null: Any) -> (c, 0L) }
        else (b, a) -> (c, sza)
      }
    }
    val out = new ShuffledRDD[(Any, Any), (Long, Long), (Long, Long)](withSza, ByFirst(width))
      .setKeyOrdering(sizeFirst)
      .mapPartitions { it =>
        var szb = 0L
        it.flatMap { case ((j, i), (c, sza)) =>
          if (i == null) { szb = c; Iterator.empty }
          else {
            val un = sza + szb - c
            val jac = c.toDouble / un.toDouble
            if (jac >= minJac) Iterator.single(Row(key.external(i), key.external(j), c, un, jac))
            else Iterator.empty
          }
        }
      }
    spark.createDataFrame(out, StructType(Seq(StructField("i", idType),
      StructField("j", idType), StructField("inter", LongType),
      StructField("un", LongType), StructField("jac", DoubleType))))
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

  /** Band `b`'s LSH bucket key from a minhash signature array: the
    * rowsPerBand slice serialized as a comma-joined string. ONE
    * definition on purpose — the streaming ingest gates
    * ([[graft.streaming.StreamingOps]]) compare these keys AS STRINGS,
    * so any drift (separator, slice bounds, cast) between hand-rolled
    * copies would silently break their batch-vs-stream parity.
    * ([[minhashLshPairs]] compares the same slices as long arrays:
    * equal strings iff equal slices.)
    */
  def bandKey(sig: Column, b: Column, rowsPerBand: Int): Column =
    concat_ws(",", transform(
      slice(sig, b * rowsPerBand + lit(1), lit(rowsPerBand)),
      _.cast("string")))

  /** One document in [[minhashLshPairs]]: its sorted distinct shingles
    * and its minhash signature.
    */
  private final case class MinhashDoc(sh: Array[Long], sig: Array[Long])

  /** LSH band-bucket candidate pairs with their estimated (minhash
    * agreement) and exact Jaccard: (i, j, est, jac), i < j. Bands of
    * `rowsPerBand` signature rows; docs sharing any band key become
    * candidates — buckets are keyed on content, never all-pairs. Null
    * ids never pair. The signature is [[minhashSignatureArr]]'s, with
    * the same Long arithmetic.
    *
    * One lazy RDD job when consumed: one shuffle by id builds each
    * doc's sorted distinct shingle array and signature (pinned: three
    * consumers), one shuffle of (band, slice) keys yields candidate id
    * pairs only — payloads are never grouped inside a bucket — and a
    * `reduceByKey` de-duplicates them; co-partitioned joins on i, then
    * on j, attach both docs' payloads. `est` is agree / numHashes,
    * `jac` a merge-intersection of the sorted arrays over the union.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 16, rowsPerBand: Int = 4,
                      n: Int = 3): DataFrame = {
    require(n >= 1, s"minhashLshPairs: n must be >= 1, got $n")
    require(rowsPerBand >= 1,
      s"minhashLshPairs: rowsPerBand must be >= 1, got $rowsPerBand")
    require(numHashes >= rowsPerBand && numHashes % rowsPerBand == 0,
      s"minhashLshPairs: numHashes must be a positive multiple of " +
        s"rowsPerBand ($rowsPerBand), got $numHashes")
    val spark = docs.sparkSession
    val rows = shingleRows(docs, idCol, textCol, n)
    val idType = rows.schema("id").dataType
    val key = Key(idType)
    val part = new HashPartitioner(Width.explode(spark))
    val nBands = numHashes / rowsPerBand
    val byId = Pins.pinRdd(rows.queryExecution.toRdd
      .flatMap(r => if (r.isNullAt(0)) None else Some(key.read(r, 0) -> r.getLong(1)))
      .groupByKey(part)
      .mapValues { shs =>
        val sh = shs.toArray.distinct.sorted
        val sig = Array.tabulate(numHashes) { i =>
          val (a, b) = (2L * i + 3L, 5L * i + 7L)
          var m = Long.MaxValue
          sh.foreach(x => m = math.min(m, ((x % P) * a + b) % P))
          m
        }
        MinhashDoc(sh, sig)
      })
    val cand = byId.flatMap { case (id, d) =>
        (0 until nBands).iterator.map(b =>
          (b, ArraySeq.unsafeWrapArray(d.sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand))) -> id)
      }
      .groupByKey(part)
      .flatMap { case (_, bucket) =>
        val ids = bucket.toArray.sorted(key.ord)
        ids.indices.iterator.flatMap(a =>
          (a + 1 until ids.length).iterator.map(b => (ids(a), ids(b)) -> ()))
      }
      .reduceByKey(part, (x, _) => x)
      .keys
    val out = cand.join(byId, part)
      .map { case (i, (j, a)) => (j, (i, a)) }
      .join(byId, part)
      .map { case (j, ((i, a), b)) =>
        var agree = 0
        a.sig.indices.foreach(k => if (a.sig(k) == b.sig(k)) agree += 1)
        var (x, y, inter) = (0, 0, 0L)
        while (x < a.sh.length && y < b.sh.length) {
          if (a.sh(x) < b.sh(y)) x += 1
          else if (a.sh(x) > b.sh(y)) y += 1
          else { inter += 1; x += 1; y += 1 }
        }
        val un = a.sh.length.toLong + b.sh.length.toLong - inter
        Row(key.external(i), key.external(j), agree.toDouble / numHashes.toDouble,
          inter.toDouble / un.toDouble)
      }
    spark.createDataFrame(out, StructType(Seq(StructField("i", idType),
      StructField("j", idType), StructField("est", DoubleType),
      StructField("jac", DoubleType))))
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
    * propagation, lbl'(v) = min(lbl(v), min over neighbors lbl(u)),
    * then pointer jumping, lbl(v) := lbl(lbl(v)): propagation alone
    * needs diameter rounds, with the jump a path needs about
    * log(diameter). The label state holds one row per node IN AN EDGE,
    * a small fraction of the corpus. Returns (node, comp) for every
    * node appearing in an edge. Fails with IllegalArgumentException on
    * `maxIter < 1`, and with IllegalStateException when the labels
    * still change after `maxIter` rounds.
    *
    * Scale shape: an RDD kernel on [[graft.core.Rounds]], one
    * [[HashPartitioner]] at [[PageRank.loopWidth]] with CC's 1M
    * edges per partition. Both edge directions are hash-partitioned by
    * node once and pinned; the labels (node → comp) are partitioned the
    * same way. The init labels lbl0(v) = min(v, min nbr) come from one
    * narrow pass over the pinned adjacency. A round is one
    * `zipPartitions` that emits (nbr, label) per edge, one
    * map-side-combined `reduceByKey(min)`, a narrow update, and the
    * pointer jump: each node's request travels to its label's
    * partition and the answer comes back, two more shuffles inside the
    * same job. That job (`Rounds.settle`) materialises the next
    * state's pin and counts the labels that changed; the loop stops at
    * the first round that changes none.
    *
    * Nulls behave as the SQL joins of the DataFrame form did: a null
    * endpoint is a node of its own that neither sends nor receives a
    * neighbour's label; it starts at its least non-null neighbour (and
    * is dropped if it has none) and follows that node's label through
    * the pointer jumps.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame =
    components(edges, maxIter, parts = None)

  /** One node's label, and its label before the round that set it. */
  private final case class Label(comp: Any, prev: Any)

  /** The kernel behind [[connectedComponents]]; `parts` overrides the
    * loop width (specs run it at several widths).
    */
  private[ops] def components(edges: DataFrame, maxIter: Int,
                              parts: Option[Int]): DataFrame = {
    require(maxIter >= 1, s"connectedComponents: maxIter must be >= 1, got $maxIter")
    val spark = edges.sparkSession
    // one key type for both endpoints, as Spark's coercion widens them
    val keyType = edges.select(array(col("i"), col("j"))).schema.head
      .dataType.asInstanceOf[ArrayType].elementType
    val key = Key(keyType)
    val rows = edges.select(col("i").cast(keyType), col("j").cast(keyType))
      .queryExecution.toRdd.map(r => (key.read(r, 0), key.read(r, 1)))
    val width = (nEdges: Long) => parts.getOrElse(PageRank.loopWidth(nEdges,
      spark.conf.get("spark.sql.shuffle.partitions").toLong,
      spark.sparkContext.defaultParallelism, edgesPerPartition = 1000000L))
    val labels = Rounds.run[Any, Any, Label](rows, width,
        spread = _.flatMap { case (i, j) => Iterator(i -> j, j -> i) }) { loop =>
      val part = loop.part
      val adj = loop.input
      var labels: RDD[(Any, Label)] = adj.mapPartitions({ es =>
        val least = new java.util.HashMap[Any, Any]()
        es.foreach { case (v, u) =>
          val cur = if (least.containsKey(v)) least.get(v) else v
          least.put(v, if (u == null) cur else if (cur == null) u else key.ord.min(cur, u))
        }
        val out = Iterator.newBuilder[(Any, Label)]
        least.forEach((v, c) => if (c != null) out += v -> Label(c, c))
        out.result()
      }, preservesPartitioning = true)
      var it = 0
      var changed = 1L
      while (changed > 0 && it < maxIter) {
        val nbrMin = labels.zipPartitions(adj) { (ls, es) =>
          val comp = new java.util.HashMap[Any, Any]()
          ls.foreach { case (v, l) => if (v != null) comp.put(v, l.comp) }
          es.flatMap { case (v, u) =>
            val c = if (u == null) null else comp.get(v)
            if (c == null) Iterator.empty else Iterator.single(u -> c)
          }
        }.reduceByKey(part, key.ord.min(_, _))
        val prop = labels.zipPartitions(nbrMin, preservesPartitioning = true) { (ls, ms) =>
          val m = new java.util.HashMap[Any, Any]()
          ms.foreach { case (u, c) => m.put(u, c) }
          ls.map { case (v, l) =>
            val c = if (v == null) null else m.get(v)
            v -> Label(if (c == null) l.comp else key.ord.min(l.comp, c), l.comp)
          }
        }
        // pointer jumping: ask comp's partition for comp's own label
        val next = prop.map { case (v, l) => l.comp -> (v, l.prev) }
          .partitionBy(part)
          .zipPartitions(prop) { (asks, ps) =>
            val m = new java.util.HashMap[Any, Any]()
            ps.foreach { case (v, l) => m.put(v, l.comp) }
            asks.flatMap { case (c, (v, prev)) =>
              val cc = m.get(c)
              if (cc == null) Iterator.empty else Iterator.single(v -> Label(cc, prev))
            }
          }
          .partitionBy(part)
        val (settled, n) = loop.settle(next)(
          _.count { case (_, l) => !key.ord.equiv(l.comp, l.prev) }.toLong)(_ + _)
        if (it == 0) loop.dropIngest()
        labels = settled
        changed = n
        it += 1
      }
      if (changed > 0) throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(diameter > 2^maxIter is not a realistic near-dup graph)")
      labels
    }
    spark.createDataFrame(
      labels.map { case (v, l) => Row(key.external(v), key.external(l.comp)) },
      StructType(Seq(StructField("node", keyType), StructField("comp", keyType))))
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
