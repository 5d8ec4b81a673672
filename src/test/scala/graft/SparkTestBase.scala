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
}
