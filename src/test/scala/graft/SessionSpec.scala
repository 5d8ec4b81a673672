package graft

import org.scalatest.funsuite.AnyFunSuite

/** One session factory: every session in src/main comes from
  * `graft.Session`, the test session runs its conf, its two env knobs
  * fail loudly on bad values, and mains reject unknown query names
  * before Spark starts.
  */
class SessionSpec extends AnyFunSuite {

  test("only graft.Session builds a SparkSession in src/main") {
    val found = SourceScan.find(Seq("SparkSession.builder"),
      except = Some("graft/Session.scala"))
    assert(found.isEmpty,
      s"sessions built outside graft.Session:\n${found.mkString("\n")}")
  }

  test("the test session runs the engine conf at 4 cores") {
    val spark = SparkTestBase.spark
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst") === "false")
    assert(spark.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") === "true")
  }

  test("SPARK_GRAFT_CPUS / SPARK_GRAFT_SHUFFLE default to the host's " +
      "cores / the core count; anything but a positive integer names " +
      "the knob and the value") {
    assert(Session.cores(None) === Runtime.getRuntime.availableProcessors)
    assert(Session.cores(Some("6")) === 6)
    assert(Session.shuffle(None, 6) === 6)
    assert(Session.shuffle(Some("64"), 6) === 64)
    val knobs = Seq[(String, Option[String] => Int)](
      "SPARK_GRAFT_CPUS" -> (Session.cores(_)),
      "SPARK_GRAFT_SHUFFLE" -> (Session.shuffle(_, 4)))
    for ((knob, parse) <- knobs; bad <- Seq("0", "x")) {
      val e = intercept[IllegalArgumentException](parse(Some(bad)))
      assert(e.getMessage.contains(knob) && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
  }

  test("requireKnown names every unknown query and passes known ones") {
    SparkEntry.requireKnown(Seq("q1_agg", "q_pagerank"))
    SparkEntry.requireKnown(Nil)
    val e = intercept[IllegalArgumentException](
      SparkEntry.requireKnown(Seq("q1_agg", "q_nope", "q_typo", "q_nope")))
    assert(e.getMessage.endsWith("unknown query name(s): q_nope, q_typo"),
      e.getMessage)
  }
}
