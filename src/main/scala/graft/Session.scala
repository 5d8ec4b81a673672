package graft

import graft.core.Width
import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: Bench, Verify, every tool and
  * the test suites run on this conf, so the conf the tests check is the
  * conf the bench measures. A caller that needs one more setting adds
  * it to the returned builder before `getOrCreate()`.
  *
  * Env: `SPARK_GRAFT_CPUS` (default: the host's core count) and
  * `SPARK_GRAFT_SHUFFLE` (default: the core count); each must be a
  * positive integer.
  */
object Session {

  /** `local[cores]` with the engine's conf; `cores` defaults to
    * [[hostCores]].
    */
  def builder(app: String, cores: Int = hostCores): SparkSession.Builder =
    SparkSession.builder()
      .appName(app)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions",
        shuffle(sys.env.get("SPARK_GRAFT_SHUFFLE"), cores).toLong)
      // r19: advisory-size AQE coalescing. parallelismFirst=false is
      // Spark's own production recommendation ("respect the configured
      // target size"): reducer count derives from shuffle BYTES
      // (advisory 64 MB default), so a KB-sized aggregate no longer
      // fans out to `cores` reducers paying ~60 ms fixed cpu each
      // (measured: q_corpus_training_set 22→0.4 execCpuS), while a
      // 100-TB shuffle still fills every core — width ∝ data at every
      // scale, the guide-§2.2 prescription. The cached-plan setting
      // extends the same sizing to operator pins (InMemoryRelation
      // otherwise freezes session-width partitions:
      // q_dedup_ngram_jaccard 2.3→0.0 execCpuS, 66→4 tasks); explicit
      // repartition(N)/repartitionByRange(N) calls (StableOrder, the
      // loop pins) are REPARTITION_BY_NUM origins AQE never coalesces,
      // so every spec-pinned partitioning contract is untouched
      // (OPTIMIZATION_r19.md has the A/B boards).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet may store timestamp[ns]; Spark reads it as
      // LongType nanos under this flag (graft.core.Tables converts back)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.log.level", "WARN")

  /** `SPARK_GRAFT_CPUS`, else the host's core count. */
  private def hostCores: Int = cores(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def cores(raw: Option[String]): Int =
    Width.fixedOr("SPARK_GRAFT_CPUS", raw)(
      Runtime.getRuntime.availableProcessors)

  /** Shuffle width: the core count, which is the right size at sf0.1,
    * unless `SPARK_GRAFT_SHUFFLE` decouples it for scale probes — the
    * sf100 run measured q5's 600M-row join partitions spilling 30 GB at
    * width 32; the fix at any real scale is width ∝ data (what a
    * cluster's AQE/initialPartitionNum does).
    */
  private[graft] def shuffle(raw: Option[String], cores: Int): Int =
    Width.fixedOr("SPARK_GRAFT_SHUFFLE", raw)(cores)
}
