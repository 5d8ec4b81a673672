package graft.tools
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Decompose a query's driver-side latency: DataFrame construction +
  * analysis, optimization, physical planning, and execution (with the
  * run's Spark job/stage counts — AQE materializes every exchange as
  * its own job, so the job count is the AQE-round-trip signal). The
  * r20 "where does the per-query ~0.3 s warm floor go" probe
  * (VERDICT r19 item 3). Methodology mirrors TimeQ: cold + warm runs,
  * Pins scope per query, full-plan execute().count().
  * Usage: runMain graft.tools.PhaseProfile <sfDir> <query> [query ...]
  */
object PhaseProfile {

  private final class JobCounter extends SparkListener {
    val jobs = new AtomicLong(0L)
    val stages = new AtomicLong(0L)
    override def onJobStart(js: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "false"))
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        sys.env.getOrElse("SPARK_GRAFT_AQE_CACHED_REPARTITION", "true"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jc = new JobCounter
    spark.sparkContext.addSparkListener(jc)
    try graft.surv.ChurnView.dataset(spark, args(0))
    catch { case e: Throwable => System.err.println(s"[phase] setup: $e") }
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_PHASE_RUNS", "4").toInt
    args.drop(1).foreach { q =>
      graft.core.Pins.scoped {
        (0 until nRuns).foreach { i =>
          val j0 = jc.jobs.get(); val s0 = jc.stages.get()
          val t0 = System.nanoTime()
          // build includes analysis of every intermediate Dataset (each
          // transformation re-analyzes) AND any eager operator loops
          val df = graft.SparkEntry.queries(q)(spark, args(0))
          val t1 = System.nanoTime()
          val qe = df.queryExecution
          qe.optimizedPlan
          val t2 = System.nanoTime()
          val ep = qe.executedPlan
          val t3 = System.nanoTime()
          ep.execute().count()
          val t4 = System.nanoTime()
          org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
          println(f"PHASE $q run=$i buildMs=${(t1 - t0) / 1e6}%.0f " +
            f"optimizeMs=${(t2 - t1) / 1e6}%.0f " +
            f"planMs=${(t3 - t2) / 1e6}%.0f execMs=${(t4 - t3) / 1e6}%.0f " +
            f"totalMs=${(t4 - t0) / 1e6}%.0f " +
            s"jobs=${jc.jobs.get() - j0} stages=${jc.stages.get() - s0}")
        }
      }
    }
    spark.stop()
  }
}
