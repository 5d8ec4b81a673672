package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
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
    // After rotation, only the returned ranks checkpoint and the
    // scoped edge-table pin survive the RUN; both are scope-registered
    // (Pins.pin / Pins.pinCheckpoint), so the SCOPE releases
    // everything.
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
    // checkpoint release) must change NOTHING observable: same ranks,
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
}
