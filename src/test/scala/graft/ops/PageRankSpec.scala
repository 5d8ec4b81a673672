package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

class PageRankSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  // a -> b, a -> c, b -> c; c dangling. n = 3, all masses start at 1.
  private def graph = {
    import spark.implicits._
    Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")
  }

  test("one iteration matches the hand-computed mass update") {
    val got = PageRank.ranks(graph, iters = 1).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    // dangling mass = m(c) = 1; share = 1/3
    // a: .15 + .85*(0 + 1/3)            = .433333 (6dp)
    // b: .15 + .85*(1/2 + 1/3)          = .858333
    // c: .15 + .85*(1/2 + 1 + 1/3)      = 1.708333
    assert(math.abs(got("a") - 0.433333) < 1e-9)
    assert(math.abs(got("b") - 0.858333) < 1e-9)
    assert(math.abs(got("c") - 1.708333) < 1e-9)
    // mass is conserved up to the per-node 6dp rounding
    assert(math.abs(got.values.sum - 3.0) < 3e-6)
  }

  test("trajectory is partitioning-independent (bit-equal)") {
    val a = PageRank.ranks(graph.repartition(1), iters = 3).collect()
      .map(r => (r.getString(0), r.getDouble(2))).sortBy(_._1)
    val b = PageRank.ranks(graph.repartition(7), iters = 3).collect()
      .map(r => (r.getString(0), r.getDouble(2))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("personalized: teleport + dangling mass land on the seed only") {
    import spark.implicits._
    val seeds = Seq("a").toDF("node")
    val got = PageRank.personalizedRanks(graph, seeds, iters = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // a: .85*0 + (.15*3/1 + .85*1/1) = 1.3 ; b: .85*.5 ; c: .85*1.5
    assert(math.abs(got("a") - 1.3) < 1e-9)
    assert(math.abs(got("b") - 0.425) < 1e-9)
    assert(math.abs(got("c") - 1.275) < 1e-9)
    assert(math.abs(got.values.sum - 3.0) < 3e-6) // mass conserved
    // a seed that is not a graph node contributes nothing (and an
    // all-out-of-graph seed set is rejected)
    val got2 = PageRank.personalizedRanks(graph,
      Seq("a", "zzz").toDF("node"), iters = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got2 == got)
    intercept[IllegalArgumentException] {
      PageRank.personalizedRanks(graph, Seq("zzz").toDF("node"), 1)
    }
  }

  test("out-degree column and dangling bookkeeping") {
    val od = PageRank.ranks(graph, iters = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(od == Map("a" -> 2L, "b" -> 1L, "c" -> 0L))
  }

  test("checkpoint state is rotated: O(1) live RDDs, zero after scope") {
    // 20 iterations used to leave 20 superseded rank checkpoints (plus
    // e0 and nodes) in the storage pool — at sf10 that saturated the
    // pool and convoyed every task on the UnifiedMemoryManager monitor
    // (jstack: 18-30 of 32 threads BLOCKED in acquireExecutionMemory).
    // After rotation, only the returned ranks state survives the RUN,
    // and the caller's scope holds its pin (Pins.adopt), so the SCOPE
    // releases everything.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val during = graft.core.Pins.scoped {
      PageRank.ranks(graph, iters = 20).collect()
      sc.getPersistentRDDs.keySet
    }
    assert((during -- before).size <= 2,
      s"expected <=2 live RDDs DURING the run (final ckpt + edge pin), " +
        s"got ${(during -- before).size}")
    val leaked = (sc.getPersistentRDDs.keySet -- before).size
    assert(leaked == 0, s"expected 0 live RDDs after scope exit, got $leaked")
  }

  test("connectedComponents rotates its label checkpoints too") {
    import spark.implicits._
    // a 9-node path graph forces several pointer-jumping rounds
    val edges = (0 until 8).map(i => (s"n$i", s"n${i + 1}"))
      .toDF("i", "j")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val during = graft.core.Pins.scoped {
      val labels = Dedup.connectedComponents(edges).collect()
      assert(labels.map(_.getString(1)).distinct.length == 1) // one comp
      sc.getPersistentRDDs.keySet
    }
    assert((during -- before).size <= 1,
      s"expected <=1 live RDD DURING CC, got ${(during -- before).size}")
    val leaked = (sc.getPersistentRDDs.keySet -- before).size
    assert(leaked == 0, s"expected 0 live RDDs after scope exit, got $leaked")
  }

  test("earlyRelease: bit-identical ranks, zero live state after scope") {
    // the halved peak-storage path (one eager edge pass + immediate
    // ingest-pin release) must change NOTHING observable: same ranks,
    // same out-degrees, and the scope still releases every block
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (dflt, early) = graft.core.Pins.scoped {
      def collectRanks(er: Boolean) =
        PageRank.ranks(graph, iters = 3, earlyRelease = er).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
          .sortBy(_._1)
      (collectRanks(false), collectRanks(true))
    }
    assert(dflt.sameElements(early))
    val leaked = (sc.getPersistentRDDs.keySet -- before).size
    assert(leaked == 0, s"earlyRelease leaked $leaked RDDs past the scope")
    // personalized flavor too (same run() body, seeded restart set)
    import spark.implicits._
    val seeds = Seq("a").toDF("node")
    val p0 = graft.core.Pins.scoped {
      PageRank.personalizedRanks(graph, seeds, iters = 2).collect()
        .map(r => (r.getString(0), r.getDouble(2))).sortBy(_._1)
    }
    val p1 = graft.core.Pins.scoped {
      PageRank.personalizedRanks(graph, seeds, iters = 2,
          earlyRelease = true).collect()
        .map(r => (r.getString(0), r.getDouble(2))).sortBy(_._1)
    }
    assert(p0.sameElements(p1))
  }

  test("loopWidth is the ONE shared helper: CC's 1M-edges/partition " +
      "target derives and caps identically") {
    // connectedComponents now calls PageRank.loopWidth with its own
    // per-partition target — these pins keep the cores cap from
    // silently reverting for CC only (ADVICE r17)
    assert(PageRank.loopWidth(0L, 32L, 32, edgesPerPartition = 1000000L)
      == 1)
    assert(PageRank.loopWidth(40000000L, 1024L, 32,
      edgesPerPartition = 1000000L) == 41) // data target under both caps
    assert(PageRank.loopWidth(1L << 33, 1024L, 32,
      edgesPerPartition = 1000000L) == 64) // cores cap on a wide session
    assert(PageRank.loopWidth(1L << 33, 16L, 32,
      edgesPerPartition = 1000000L) == 16) // session cap still binds
  }

  test("loop width derives from the edge count, capped at session " +
      "width AND machine parallelism") {
    assert(PageRank.loopWidth(0L, 32L, 32) == 1)
    // r19: the default PR target is 256k edges/partition (long-keyed
    // rows made 64k partitions per-task-overhead-bound)
    assert(PageRank.loopWidth(262144L * 3, 32L, 32) == 4)
    assert(PageRank.loopWidth(1L << 30, 32L, 32) == 32) // session cap
    assert(PageRank.loopWidth(10L, 1L, 32) == 1)
    // the r17 probe case: a 40M-edge graph on an over-wide 128-part
    // session with 32 cores — the edge target (611) saturates the
    // session cap, so the CORES cap is what keeps the loop sane
    assert(PageRank.loopWidth(40000000L, 128L, 32) == 64)
    // on a 4000-core cluster the same session width is fully used
    assert(PageRank.loopWidth(40000000L, 128L, 4000) == 128)
  }

  test("loop is self-sizing: an over-wide caller session schedules no " +
      "extra tasks") {
    // A 200-edge graph derives loopWidth = 1 at ANY session width; the
    // loop runs on its own conf clone, so a width-128 caller must
    // schedule about the same task count as the width-4 test session.
    // Before the clone isolation, every per-round exchange (the
    // contribution groupBy, the nodes join) ran at caller width — the
    // width-128 sf10 board measured q_pagerank at 159 s vs 91 s, pure
    // scheduling overhead AQE cannot recover (the per-round
    // localCheckpoint boundary materializes exchanges before
    // coalescing sees them).
    def mkEdges(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      (0 until 200).map(i => (s"n${i % 50}", s"n${(i * 7) % 49}"))
        .toDF("src", "dst")
    }
    def tasksOf(s: org.apache.spark.sql.SparkSession): Int = {
      val tasks = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasks.incrementAndGet(); ()
        }
      }
      org.apache.spark.sql.graft.bridge.drainListenerBus(s)
      s.sparkContext.addSparkListener(l)
      try {
        graft.core.Pins.scoped {
          PageRank.ranks(mkEdges(s), iters = 3).collect()
        }
        org.apache.spark.sql.graft.bridge.drainListenerBus(s)
        tasks.get()
      } finally s.sparkContext.removeSparkListener(l)
    }
    val narrow = tasksOf(spark) // width 4 (the test session)
    val wide128 = {
      val w = org.apache.spark.sql.graft.bridge.sessionClone(spark)
      w.conf.set("spark.sql.shuffle.partitions", "128")
      tasksOf(w)
    }
    assert(wide128 <= narrow * 2,
      s"width-128 session scheduled $wide128 tasks vs $narrow at width 4 " +
        "— the loop is inheriting caller width instead of self-sizing")
  }

  // ------------------------------------------------ argument checks

  test("iters < 0 fails naming the argument and its value") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException](PageRank.ranks(graph, iters = -1))
    assert(e.getMessage.contains("iters") && e.getMessage.contains("-1"), e.getMessage)
    val p = intercept[IllegalArgumentException](
      PageRank.personalizedRanks(graph, Seq("a").toDF("node"), iters = -2))
    assert(p.getMessage.contains("iters") && p.getMessage.contains("-2"), p.getMessage)
  }

  test("damping outside [0, 1] fails naming the argument and its value") {
    for (d <- Seq(-0.1, 1.5, Double.NaN)) {
      val e = intercept[IllegalArgumentException](
        PageRank.ranks(graph, iters = 1, damping = d))
      assert(e.getMessage.contains("damping") && e.getMessage.contains(d.toString),
        e.getMessage)
    }
    // the closed interval's ends are valid
    for (d <- Seq(0.0, 1.0)) PageRank.ranks(graph, iters = 1, damping = d).collect()
  }

  test("roundDp < 0 fails naming the argument and its value") {
    val e = intercept[IllegalArgumentException](
      PageRank.ranks(graph, iters = 1, roundDp = -3))
    assert(e.getMessage.contains("roundDp") && e.getMessage.contains("-3"), e.getMessage)
  }

  // ------------------------- the kernel against the SQL formulation

  // A random graph over n nodes: about a third of them never appear as
  // a src (dangling sinks), the rest have 1-5 distinct out-edges,
  // self-loops allowed.
  private def randomEdges(n: Int, seed: Int): Seq[(Int, Int)] = {
    val rng = new scala.util.Random(seed)
    (0 until n).filter(_ => rng.nextInt(3) != 0).flatMap { s =>
      Seq.fill(1 + rng.nextInt(5))(rng.nextInt(n)).distinct.map(s -> _)
    }
  }

  private def bits(df: DataFrame): Seq[(String, Long, Long)] =
    df.collect().map(r => (String.valueOf(r.get(0)), r.getLong(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).sortBy(_._1).toSeq

  test("the RDD kernel is bit-equal to the SQL formulation at widths 1, 3 " +
      "and 7 (long and string keys, classic and personalized)") {
    import spark.implicits._
    val pairs = randomEdges(120, seed = 17)
    val seedIds = Seq(3, 5, 8, 13, 21, 34, 55, 89, 10000) // 10000: not a node
    val graphs = Seq(
      ("long", LongType,
        pairs.map { case (s, d) => (s.toLong, d.toLong) }.toDF("src", "dst"),
        seedIds.map(_.toLong).toDF("node")),
      ("string", StringType,
        pairs.map { case (s, d) => (s"n$s", s"n$d") }.toDF("src", "dst"),
        seedIds.map(i => s"n$i").toDF("node")))
    // (damping, roundDp): the shipped default and one off-default pair
    for ((name, keyType, edges, seeds) <- graphs;
         (damping, dp) <- Seq((0.85, 6), (0.6, 9));
         personalized <- Seq(false, true)) {
      val s = if (personalized) Some(seeds) else None
      val what = s"$name keys, damping $damping, dp $dp, personalized $personalized"
      val want = graft.core.Pins.scoped(
        bits(referenceRun(edges, 5, damping, dp, s, earlyRelease = false)))
      assert(want.map(_._2).contains(0L), s"$what: no dangling node")
      for (w <- Seq(1, 3, 7)) graft.core.Pins.scoped {
        val got = PageRank.run(edges, 5, damping, dp, s, earlyRelease = false,
          parts = Some(w))
        assert(got.schema("node").dataType == keyType, what)
        assert(bits(got) == want, s"$what, width $w")
      }
    }
  }

  // ------------------------------------------------- jobs per round

  test("each added round costs at most one job") {
    import spark.implicits._
    val edges = randomEdges(60, seed = 3)
      .map { case (s, d) => (s.toLong, d.toLong) }.toDF("src", "dst")
    val seeds = Seq(1L, 2L, 3L).toDF("node")
    val sc = spark.sparkContext
    def jobs(f: => DataFrame): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          n.incrementAndGet(); ()
        }
      }
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
      sc.addSparkListener(l)
      try {
        graft.core.Pins.scoped(f.collect())
        org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
        n.get()
      } finally sc.removeSparkListener(l)
    }
    val classic = jobs(PageRank.ranks(edges, iters = 6)) -
      jobs(PageRank.ranks(edges, iters = 3))
    assert(classic <= 3, s"ranks: 3 more rounds cost $classic more jobs")
    val ppr = jobs(PageRank.personalizedRanks(edges, seeds, iters = 6)) -
      jobs(PageRank.personalizedRanks(edges, seeds, iters = 3))
    assert(ppr <= 3, s"personalizedRanks: 3 more rounds cost $ppr more jobs")
  }

  // The per-round DataFrame formulation the RDD kernel replaced, kept
  // verbatim as the bit-equality reference: a contribution join +
  // groupBy(dst), a broadcast dangling aggregate, a left join onto the
  // node table and an eager localCheckpoint, every round.
  private def referenceRun(edges: DataFrame, iters: Int, damping: Double,
                           roundDp: Int, seeds: Option[DataFrame],
                           earlyRelease: Boolean): DataFrame = {
    val spark = edges.sparkSession
    val e0 = edges.localCheckpoint(true)
    val nEdges = e0.count()
    val teleport = 1.0 - damping

    // Right-size the loop's shuffle width to the edge count
    // ([[loopWidth]]), applied the connectedComponents way: the whole
    // loop runs on an ISOLATED conf-preserving session clone — shared
    // SparkContext, cache, and checkpoint blocks, its OWN SQL conf —
    // so EVERY per-round exchange (the contribution groupBy(dst), the
    // nodes left join, the distinct) runs narrow WITH map-side combine
    // (what a user-level repartition can't express: the partial agg
    // would move above the exchange and ship raw edge rows), and
    // nothing is mutated on the caller's session — concurrent queries
    // (e.g. Hyperband's threaded config evaluation) are safe. The
    // returned ranks are re-bound to the caller's session at the end.
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions")
    val loopParts = PageRank.loopWidth(nEdges, sessionParts.toLong,
      spark.sparkContext.defaultParallelism)
    val loopSpark = org.apache.spark.sql.graft.bridge.sessionClone(spark)
    loopSpark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    val eb = loopSpark.createDataFrame(e0.rdd, e0.schema)

      // The edge table is the loop's big invariant input, so it is
      // cached hash-partitioned AND sorted on the join key via
      // Pins.pin — a persist, NOT a checkpoint: InMemoryTableScan
      // reports the cached plan's outputPartitioning/outputOrdering,
      // while LogicalRDD drops both (verified on the physical plan:
      // a checkpointed edge table re-exchanged 1.1M rows on EVERY
      // round; the pinned one exchanges only the node-cardinality
      // rank table). Each iteration then pays the contribution
      // groupBy(dst) — the algorithm's irreducible shuffle — plus
      // rank-table-sized exchanges, never edge-sized ones. The pin
      // rides the caller's cache scope (Bench/Verify sweeps release
      // it); lineage above it is the already-checkpointed e0, so the
      // per-round lineage cut stays shallow.
      val e = graft.core.Pins.pin(eb.withColumnRenamed("src", "node")
        .repartition(loopParts, col("node"))
        .sortWithinPartitions("node"))
      // earlyRelease: materialize the pin NOW (one extra edge pass).
      // Default path: the pin materializes lazily inside nodes'
      // checkpoint. The checkpoints are not released here: their
      // blocks go when the checkpoint RDDs are garbage-collected.
      if (earlyRelease) e.count()
      // Node universe AND out-degree from ONE pass (r19 optimization):
      // each edge contributes (src, 1) and (dst, 0); a
      // single map-side-combined sum(c) per node IS the out-degree,
      // with pure sinks landing at 0 — so the former three-piece
      // derivation (deg aggregate over the pin + src∪dst distinct +
      // left join, i.e. two aggregations, two extra passes over the
      // edge set and a join) collapses into one explode + groupBy.
      // Reading the PIN (not eb) on both paths keeps the invariant the
      // default path's release below relies on — the pin is fully
      // materialized inside nodes' eager checkpoint, before e0 goes —
      // and retires the r18 path-dependence (the measured pin-scan
      // penalty was the OLD shape's two extra columnar decodes; this
      // shape scans the edge set exactly once). Measured at sf0.1:
      // the pagerank pair's node-table phase cpu roughly halves and
      // the per-query task count drops ~15% (OPTIMIZATION_r19.md).
      val nodes0 = e.select(explode(array(
          struct(col("node"), lit(1L).as("c")),
          struct(col("dst").as("node"), lit(0L).as("c")))).as("nc"))
        .select(col("nc.node").as("node"), col("nc.c").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("od"))
      val nodes = seeds match {
        case None => nodes0.withColumn("seed", lit(true))
          .localCheckpoint(true)
        case Some(s) => nodes0
          // the seed frame is caller-session — re-bound so the whole
          // loop dataflow lives on the clone (it is a tiny query set;
          // its one-time evaluation cost is irrelevant)
          .join(loopSpark.createDataFrame(s.rdd, s.schema)
            .select(col("node")).distinct()
            .withColumn("_sf", lit(1)), Seq("node"), "left")
          .select(col("node"), col("od"), col("_sf").isNotNull.as("seed"))
          .localCheckpoint(true)
      }
      // ONE job for both cardinalities (|V| and the restart set): the
      // two counts ride the same scan of the just-materialized
      // checkpoint (r19: the separate filter-count was a whole extra
      // job per personalized run)
      val cnts = nodes.agg(count(lit(1)),
        count(when(col("seed"), lit(1)))).head()
      val nD = cnts.getLong(0).toDouble
      // |restart set|: the whole graph for classic PR, the in-graph
      // seeds for personalized
      val sD = seeds.fold(nD)(_ => cnts.getLong(1).toDouble)
      require(sD > 0, "personalized PageRank needs >= 1 in-graph seed")
      var ranks = nodes.withColumn("m", lit(1.0)).localCheckpoint(true)
      var it = 0
      while (it < iters) {
        // m/od per out-edge, summed exactly per destination: a plain
        // map-side-combined groupBy — the shuffle carries one combined
        // row per (task, dst), not per edge. The clone session makes
        // this exchange (and every other per-round one) run at
        // loopParts while KEEPING the partial agg below it; the join
        // feeding it is co-located via the pinned edge table.
        // r19: the exact sum runs through Dec15 (split once in the
        // projection, two-long carry aggregation) — bit-identical to
        // CAST(SUM(CAST(… AS DECIMAL(38,15))) AS DOUBLE) at ~half the
        // cpu (Dec15 scaladoc; Dec15Spec pins the equality). Domain:
        // mass conservation bounds every per-node sum by |V| ≪ 9.2e21.
        val contrib = ranks.filter(col("od") > 0)
          .join(e, Seq("node"))
          .select(col("dst").as("node"),
            graft.functions.Dec15.dec15_split(
              col("m") / col("od").cast("double")).as("_c"))
          .groupBy(col("node"))
          .agg(graft.functions.Dec15.dec15_sum_split(col("_c")).as("c"))
        // dangling mass: 1 row, broadcast back — never a driver value
        val dang = ranks.filter(col("od") === 0)
          .select(graft.functions.Dec15.dec15_split(col("m")).as("_m"))
          .agg(coalesce(graft.functions.Dec15.dec15_sum_split(col("_m")),
            lit(0.0)).as("dm"))
        val joined = nodes.join(contrib, Seq("node"), "left")
          .crossJoin(broadcast(dang))
        val m2 = seeds match {
          case None =>
            lit(teleport) + lit(damping) *
              (coalesce(col("c"), lit(0.0)) + col("dm") / lit(nD))
          case Some(_) =>
            lit(damping) * coalesce(col("c"), lit(0.0)) +
              when(col("seed"),
                lit(teleport) * lit(nD) / lit(sD) +
                  lit(damping) * col("dm") / lit(sD))
                .otherwise(lit(0.0))
        }
        ranks = joined
          .select(col("node"), col("od"), col("seed"),
            round(m2, roundDp).as("m"))
          .localCheckpoint(true)
        it += 1
      }
    // back to the caller's session (and its shuffle width): the rows
    // come straight off the final round's checkpoint blocks
    val out = ranks.select(col("node"), col("od"), col("m"))
    spark.createDataFrame(out.rdd, out.schema)
  }
}
