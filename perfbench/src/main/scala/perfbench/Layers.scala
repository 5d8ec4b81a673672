package perfbench

import scala.collection.mutable

/** The per-layer metrics of one traced pass, from its span tree. A
  * layer a workload does not call reads 0.
  */
object Layers {
  def of(tree: SpanTree, wallS: Double, cpuS: Double, gcS: Double, cores: Int,
         peakCachedBytes: Long, leaked: Int, extras: Map[String, Double]): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    def spans(name: String): Seq[Span] = tree.named(name)
    def secs(name: String): Double = spans(name).map(_.seconds).sum
    def jobs(name: String): Double = spans(name).map(s => tree.jobsOf(s).size).sum.toDouble
    def cpu(name: String): Double = spans(name).map(tree.cpuOf).sum

    val fits = Workloads.Families.map(f => s"model.$f.fit")
    val scores = Workloads.Families.map(f => s"eval.$f.score")
    Workloads.Families.zip(fits.zip(scores)).foreach { case (f, (fit, score)) =>
      m(s"$fit.s") = secs(fit)
      m(s"$fit.jobs") = jobs(fit)
      m(s"$fit.exec_cpu_s") = cpu(fit)
      m(s"$score.s") = secs(score)
      m(s"$score.jobs") = jobs(score)
    }
    val fitS = fits.map(secs).sum
    val scoreS = scores.map(secs).sum
    m("eval.score.share") = if (fitS + scoreS > 0) scoreS / (fitS + scoreS) else 0.0

    val searchS = secs("automl.select") - secs("automl.refit")
    m("automl.search.s") = searchS
    m("automl.search.jobs") = jobs("automl.select") - jobs("automl.refit")
    m("automl.search.exec_cpu_s") = cpu("automl.select") - cpu("automl.refit")
    m("automl.configs") = scores.map(spans(_).size).sum.toDouble
    m("automl.config.fit.p50_s") = Stats.median(fits.flatMap(spans).map(_.seconds))
    m("automl.config.score.p50_s") = Stats.median(scores.flatMap(spans).map(_.seconds))
    m("automl.slot_busy_share") = if (searchS > 0) (fitS + scoreS) / (cores * searchS) else 0.0
    m("automl.refit.s") = secs("automl.refit")

    Workloads.Queries.foreach { q =>
      m(s"queries.$q.s") = secs(s"queries.$q")
      m(s"queries.$q.jobs") = jobs(s"queries.$q")
      m(s"queries.$q.exec_cpu_s") = cpu(s"queries.$q")
      m(s"queries.$q.build_s") = secs(s"queries.$q.build")
    }
    m("queries.plan_s") = extras.getOrElse("queries.plan_s", 0.0)

    m("core.cache.peak_mb") = peakCachedBytes / 1e6
    m("core.pins.leaked") = leaked.toDouble

    val all = tree.allJobs
    val execCpu = all.map(_.execCpuNs).sum / 1e9
    m("spark.jobs") = all.size.toDouble
    m("spark.tasks") = all.map(_.tasks).sum.toDouble
    m("spark.shuffle_mb") = all.map(_.shuffleWriteBytes).sum / 1e6
    m("spark.gc_s") = gcS
    m("spark.driver_cpu_s") = cpuS - execCpu
    m.toMap
  }
}
