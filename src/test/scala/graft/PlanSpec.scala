package graft

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan contracts — the properties the 100-TB story rests on,
  * asserted against the actual executed plans so a regression (a lost
  * pushdown, a surprise shuffle, a broadcast that stopped
  * broadcasting) fails CI instead of surfacing in a bench audit.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push down to the parquet scan") {
    val df = Tables.load(spark, dir, "lineitem")
      .filter(col("l_quantity") > 40)
      .select(col("l_orderkey"), col("l_quantity"))
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,"),
      s"missing pushed filter in:\n$p")
    val readSchema = p.linesIterator.mkString("\n")
    assert(readSchema.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:"),
      s"scan reads more than the projection in:\n$p")
  }

  test("dimension join broadcasts (no shuffle of the small side)") {
    val p = plan(Tables.load(spark, dir, "orders")
      .join(broadcast(Tables.load(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey")))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("aggregation runs inside whole-stage codegen") {
    // AQE decorates codegen stages only once executed — materialize,
    // then assert on the FINAL adaptive plan
    val df = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")))
    df.collect()
    val p = plan(df)
    // codegen stages print as "*(n) Operator" in the final plan tree
    assert(p.contains("isFinalPlan=true") && p.contains("*(") &&
      p.contains("HashAggregate"), s"no codegen span in:\n$p")
  }

  test("scan-fused centroid assignment has no shuffle and no window") {
    val emb = Tables.load(spark, dir, "embeddings")
    val cents = graft.ops.Similarity.kmeansQuantizer(
      emb, "vec_id", "embedding", numCells = 4, iters = 0)
    val p = plan(graft.ops.Similarity.assignCells(
      emb, "vec_id", "embedding", cents))
    assert(!p.contains("Exchange"), s"assignment shuffles in:\n$p")
    assert(!p.contains("Window"), s"assignment windows in:\n$p")
  }

  test("Brier/IBS censoring lookup is not a broadcast nested loop") {
    // the query pins its subject table in this scope; the cached
    // relation's build plan (censoring KM + lookups) prints with it
    graft.core.Pins.scoped {
      val q = SparkEntry.queries("q_ibs")(spark, dir)
      val p = plan(q)
      assert(p.contains("InMemoryRelation") && p.contains("Join"),
        s"no subject join over the cached subject table in:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"censoring lookup regressed to BNL in:\n$p")
    }
  }

  test("deterministic hash sample stays a scan-stage predicate") {
    val p = plan(graft.ops.Sampling.hashSample(
      Tables.load(spark, dir, "documents"), "doc_id", 0.25))
    assert(!p.contains("Exchange"), s"hash sample shuffles in:\n$p")
    assert(!p.contains("Join"), s"hash sample joins in:\n$p")
  }

  test("profiler is ONE aggregation pass: single scan, no join") {
    val df = graft.ops.Profile.summarize(
      Tables.load(spark, dir, "orders"),
      Seq("o_orderkey", "o_totalprice", "o_orderstatus"))
    val p = plan(df)
    assert(!p.contains("Join"), s"profiler joins in:\n$p")
    // exactly one scan of the table feeds every metric
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"profiler scans more than once in:\n$p")
  }

  test("anomaly flags: stats side broadcasts, no per-group window") {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val p = plan(graft.ops.Anomaly.zscoreFlags(ev, "event_type", "value"))
    assert(p.contains("BroadcastHashJoin"), s"stats not broadcast in:\n$p")
    assert(!p.contains("Window"), s"anomaly uses a window in:\n$p")
  }

  test("overlap join is an equi-join, never a cartesian/BNL") {
    import spark.implicits._
    val l = Seq((1L, 100L, 5L, 25L)).toDF("k", "lid", "ls", "le")
    val r = Seq((1L, 200L, 20L, 40L)).toDF("k", "rid", "rs", "re")
    val p = plan(graft.ops.RangeJoin.overlapJoin(l, r, "k",
      "ls", "le", "rs", "re", 10L, Seq("rid")))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"overlap join degenerated to all-pairs in:\n$p")
  }

  test("k-fold assignment stays a scan-stage projection") {
    val p = plan(graft.ops.Sampling.kfold(
      Tables.load(spark, dir, "documents"), "doc_id", 5))
    assert(!p.contains("Exchange"), s"kfold shuffles in:\n$p")
  }

  test("NTZ epoch arithmetic keeps scan pushdown and column pruning") {
    // the timezone-free tsMicros (timestamp_diff against the NTZ
    // epoch) must not block predicate pushdown on sibling columns or
    // widen the read schema
    val ev = Tables.eventsMicros(spark, dir)
      .filter(col("user_id").isNotNull && col("event_type") === "click")
      .select(col("user_id"), col("ts"))
    val p = plan(ev)
    Seq("IsNotNull(user_id)", "IsNotNull(event_type)",
        "EqualTo(event_type,click)").foreach(f =>
      assert(p.contains(f), s"filter $f not pushed in:\n$p"))
    assert(p.contains("ReadSchema: struct<ts:"),
      s"unexpected read schema in:\n$p")
    assert(!p.contains("props"), s"scan reads unused columns in:\n$p")
  }

  test("NTZ hour truncation groups inside whole-stage codegen") {
    // truncNtz is pure timestamp_diff/timestamp_add arithmetic — the
    // tumbling aggregation must stay a codegen'd scan+agg, no UDF
    val df = graft.streaming.StreamingOps.tumblingHourly(
      Tables.events(spark, dir))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen stages print as "*(n) Operator" in the final plan tree
    assert(p.contains("isFinalPlan=true") && p.contains("*(") &&
      p.contains("HashAggregate"), s"no codegen span in:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"non-codegen eval in:\n$p")
  }

  test("bucketed q5 join: zero Exchange below the SortMergeJoin; the " +
    "shuffled twin pays two") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    def smjShuffles(df: org.apache.spark.sql.DataFrame): Seq[Int] = {
      df.collect() // AQE finalizes only after execution
      PlanWalk.allNodes(df.queryExecution.executedPlan).collect {
        case j: SortMergeJoinExec =>
          j.children.flatMap(PlanWalk.allNodes(_))
            .count(_.isInstanceOf[ShuffleExchangeLike])
      }
    }
    val bkt = smjShuffles(
      SparkEntry.queries("q_q5join_bucketed")(spark, dir))
    assert(bkt == Seq(0), s"bucketed join shuffled: $bkt exchanges")
    val shf = smjShuffles(
      SparkEntry.queries("q_q5join_shuffled")(spark, dir))
    assert(shf == Seq(2), s"expected both sides to shuffle: $shf")
  }

  test("PageRank leaves the session shuffle-partitions conf untouched") {
    import spark.implicits._
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
      .toDF("src", "dst")
    graft.ops.PageRank.ranks(edges, iters = 2).collect()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "PageRank mutated the session conf")
  }
}
