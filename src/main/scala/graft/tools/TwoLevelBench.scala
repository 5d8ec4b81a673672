package graft.tools

/** Route A/B scale probe for the two-level assignment's candidate
  * join (VERDICT r15 item 3): run `Similarity.assignCellsTwoLevel` on
  * the SAME corpus twice — once with the candidate payload FORCED to
  * broadcast, once with the production routing (which, past
  * `TwoLevelBroadcastBytes`, takes the shuffle-hash path on the coarse
  * key) — and report wall + the TaskMetricsListener decomposition per
  * route, so the routing claim ("the extra exchange is one keyed pass
  * over rows already in flight") is a measurement, not a cost model.
  *
  * The probe only means anything when cells·dims·8 actually exceeds
  * the 100 MB bound, i.e. on a corpus big enough that
  * ceil(n/targetPerCell) lands past ~2·10⁵ cells at 64 dims — e.g. a
  * GenScale-tiled embeddings table of 2M vectors at targetPerCell 8.
  *
  * Usage: TwoLevelBench <sfDir> <targetPerCell>
  * Env: the `graft.Session` knobs.
  * Prints one JSON line per route:
  *   {"route":…,"join":…,"cells":…,"payloadMB":…,"cold":…,"warm":…,
  *    "execCpuS":…,"spillMB":…,"tasks":…}
  */
object TwoLevelBench {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val targetPerCell = args(1).toInt
    val spark = graft.Session.builder("graft-two-level").getOrCreate()
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)

    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val n = emb.count()
    val cells = math.max(1L, (n + targetPerCell - 1) / targetPerCell).toInt
    // dims for the payload line only (the operator derives its own)
    val dims = emb.select(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.col("embedding"))).head().getInt(0)
    val payloadMB = cells.toLong * dims * 8L / (1L << 20)
    System.err.println(
      s"[2lb] n=$n cells=$cells dims=$dims payloadMB=$payloadMB " +
        s"(bound=${graft.ops.Similarity.TwoLevelBroadcastBytes / (1L << 20)})")

    def measure(f: => Unit): (Double, Double, Long, Long) = {
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
      val (_, c0, _, _, s0, n0) = listener.snap()
      val t0 = System.nanoTime()
      f
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
      val (_, c1, _, _, s1, n1) = listener.snap()
      (wall, (c1 - c0) / 1e9, (s1 - s0) / (1L << 20), n1 - n0)
    }

    // per route: fresh Pins scope, operator re-CONSTRUCTED per run
    // like Bench's once(). NOTE (r17 line review): the join-detection
    // construction below runs BEFORE cold and already pays the
    // centroid build + populates the fine-table pin (pin() is
    // idempotent per canonical plan), so "cold" here is cold for the
    // corpus-side argmin but warm for the centroid stage; route
    // comparisons use the warm minimum, which is unaffected. Kept
    // as-is so rows stay comparable with the r16 record.
    def route(name: String, bytes: Long): Unit = graft.core.Pins.scoped {
      def once() = measure {
        graft.ops.Similarity.assignCellsTwoLevel(
            emb, "vec_id", "embedding", cells, broadcastBytes = bytes)
          .queryExecution.executedPlan.execute().count()
        ()
      }
      val join = {
        val p = graft.ops.Similarity.assignCellsTwoLevel(
            emb, "vec_id", "embedding", cells, broadcastBytes = bytes)
          .queryExecution.executedPlan.toString
        if (p.contains("ShuffledHashJoin")) "ShuffledHashJoin"
        else if (p.contains("BroadcastHashJoin")) "BroadcastHashJoin"
        else "other"
      }
      val cold = once()
      val w = Seq(once(), once()).minBy(_._1)
      println(f"""{"route":"$name","join":"$join","cells":$cells,""" +
        f""""payloadMB":$payloadMB,"cold":${cold._1}%.2f,"warm":${w._1}%.2f,""" +
        f""""execCpuS":${w._2}%.1f,"spillMB":${w._3},"tasks":${w._4}}""")
    }

    route("broadcast-forced", Long.MaxValue)
    route("production", graft.ops.Similarity.TwoLevelBroadcastBytes)
    spark.stop()
  }
}
