package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: run only these queries (local iteration)
    val only = args.drop(2).toSet
    SparkEntry.requireKnown(only.toSeq)
    val spark = Session.builder("graft-verify").getOrCreate()
    new java.io.File(outDir).mkdirs()
    // Materialize the shared churn dataset once (its cache pins predate
    // the per-query scopes below, so the scopes leave them alone):
    // operators persist intermediates that outlive their query, and 50+
    // queries in one session otherwise fill the block manager with dead
    // cache.
    try graft.surv.ChurnView.dataset(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[verify] setup: $e") }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        graft.core.Pins.scoped {
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            // a PREVIOUS run's parquet at this path would gate-compare
            // green against stale results (analysis-time failures throw
            // before the overwrite delete) — remove it so the failure
            // is visible to the compare, not masked by old output
            def rm(f: java.io.File): Unit = {
              if (f.isDirectory) f.listFiles().foreach(rm)
              f.delete(); ()
            }
            val d = new java.io.File(s"$outDir/$name")
            if (d.exists()) rm(d)
          }
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
