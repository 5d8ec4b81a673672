package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, on the engine's conf. */
object SparkTestBase {
  lazy val spark: SparkSession =
    Session.builder("graft-test", cores = 4)
      // a STATIC SQL conf, set deliberately: builder-seeded spark.sql
      // entries land in conf.getAll, and re-setting a static one on a
      // fresh session throws — the hazard bridge.sessionClone must
      // skip (spec: "sessionClone survives non-settable entries")
      .config("spark.sql.warehouse.dir", "spark-warehouse")
      .getOrCreate()

  /** Run `f` at shuffle width `np` with AQE partition coalescing off,
    * then restore both confs. A small fixture's range scan otherwise
    * coalesces to one partition and never crosses a partition
    * boundary; this way it gets up to `np` partitions.
    */
  def atWidth[T](np: Int)(f: => T): T = {
    val confs = Seq("spark.sql.shuffle.partitions" -> np.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val before = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally before.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
