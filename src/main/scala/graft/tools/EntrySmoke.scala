package graft.tools

/** Reproduces the driver's smoke check: SparkEntry.entry(spark) must
  * return rows > 0 on sf0.001.
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder("graft-entry-smoke").getOrCreate()
    val df = graft.SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
