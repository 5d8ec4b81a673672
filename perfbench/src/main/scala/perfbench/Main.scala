package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Internals

/** Runs one workload in one JVM and writes everything it measured to a
  * JSON file: set-up, a cold pass, warm passes for `--seconds`, the
  * operations' outputs, host and conf. `run.py` checks the outputs and
  * prints the result line.
  *
  * Usage: Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  *             --data <dir> --out <file> [--local-dir <dir>]
  *
  * The checked outputs go to `<file>.outputs/`, the trace of a traced
  * run to `<file>.trace.json`.
  *
  * With `--trace 1` the warm passes alternate between untraced and
  * traced; the traced ones give the per-layer metrics and the gap
  * between the two kinds is the tracing overhead.
  */
object Main {
  /** A warm pass never starts after this many seconds of JVM uptime,
    * so a run ends well inside its time limit.
    */
  val UptimeCapS = 110.0
  /** Set-ups per run; setup_s takes their median. */
  val SetupReps = 3

  final case class Pass(index: Int, traced: Boolean, wallS: Double, cpuS: Double,
                        gcS: Double, ops: Seq[Op], leaked: Int,
                        layers: Map[String, Double], spans: Seq[Span], jobs: Seq[JobRec])

  /** local[cores] with graft.Bench's conf, plus the workload's own. */
  def startSpark(wl: Workload, cores: Int, localDir: Option[String]): SparkSession = {
    val conf = Map(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true") ++ wl.extraConf ++
      localDir.map(d => Map(
        "spark.local.dir" -> d,
        "spark.sql.warehouse.dir" -> s"$d/warehouse")).getOrElse(Map.empty)
    val builder = SparkSession.builder().appName(s"perfbench-${wl.name}")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt.contains("record-seeds")) return Record.run(opt)
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val dir = opt("data")
    val outFile = opt("out")
    val cores = Runtime.getRuntime.availableProcessors()

    val wl = Workloads(workloadName, cores)
    val root = startSpark(wl, cores, opt.get("local-dir"))
    val sc = root.sparkContext
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val listener = new TraceListener
    def withTracing[T](on: Boolean)(f: => T): T =
      if (!on) f
      else {
        Trace.enabled = true
        sc.addSparkListener(listener)
        try f
        finally {
          Internals.drainListenerBus(root)
          sc.removeSparkListener(listener)
          Trace.enabled = false
        }
      }

    // set-up, several times: each in a fresh session of the same
    // context, so nothing memoized per session is reused; all but the
    // last are released again
    var session: SparkSession = null
    val setupRuns = (1 to SetupReps).map { r =>
      val s = root.newSession()
      val last = r == SetupReps
      withTracing(traced) {
        val t0 = System.nanoTime()
        def build(): Unit = Trace.span(sc, wl.setupSpan)(wl.setup(s, dir))
        if (last) build() else graft.core.Pins.scoped(build())
        session = s
        (System.nanoTime() - t0) / 1e9
      }
    }
    val setupSpans = Trace.drain()
    val setupJobs = listener.drainJobs()
    val setupTree = new SpanTree(setupSpans, setupJobs)
    val datasetReps = setupTree.named("surv.dataset")
    val setupLayers = Map(
      "surv.dataset.s" -> Stats.median(datasetReps.map(_.seconds)),
      "surv.dataset.jobs" -> Stats.median(datasetReps.map(s => setupTree.jobsOf(s).size.toDouble)),
      "surv.dataset.exec_cpu_s" -> Stats.median(datasetReps.map(setupTree.cpuOf)))

    val baseRdds = sc.getPersistentRDDs.keySet
    val basePlans = Internals.cachedPlans(root)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcSeconds: Double =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
    def uptime: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    def runPass(index: Int, tracedPass: Boolean): Pass = withTracing(tracedPass) {
      listener.takePeakCachedBytes()
      val c0 = os.getProcessCpuTime
      val g0 = gcSeconds
      val t0 = System.nanoTime()
      val ops = graft.core.Pins.scoped(Trace.span(sc, "pass")(wl.pass(session, dir, cold = index == 0)))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - c0) / 1e9
      val gc = gcSeconds - g0
      // anything a pass leaves persisted counts as leaked, then goes
      val leftRdds = sc.getPersistentRDDs.filter { case (id, _) => !baseRdds(id) }
      val leaked = leftRdds.size + math.max(0, Internals.cachedPlans(root) - basePlans)
      leftRdds.values.foreach(_.unpersist(blocking = true))
      if (!tracedPass) Pass(index, tracedPass, wall, cpu, gc, ops, leaked, Map.empty, Nil, Nil)
      else {
        Internals.drainListenerBus(root)
        val (spans, jobs) = (Trace.drain(), listener.drainJobs())
        val layers = Layers.of(new SpanTree(spans, jobs), wall, cpu, gc, cores,
          listener.takePeakCachedBytes(), leaked, wl.passExtras())
        Pass(index, tracedPass, wall, cpu, gc, ops, leaked, layers, spans, jobs)
      }
    }

    val cold = runPass(0, tracedPass = false)
    val warm = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val warmStart = System.nanoTime()
    def elapsed = (System.nanoTime() - warmStart) / 1e9
    // traced runs alternate untraced, traced, untraced: the first warm
    // pass is still warming up, so the traced one is compared with the
    // untraced passes on both sides of it (the third when time allows)
    val (required, wanted) = if (traced) (2, 3) else (1, 1)
    while (warm.size < required ||
           ((warm.size < wanted || elapsed < seconds) && uptime < UptimeCapS)) {
      warm += runPass(warm.size + 1, tracedPass = traced && warm.size % 2 == 1)
    }

    wl.dumpOutputs(session, dir, s"$outFile.outputs")

    val peakRssMb = Host.vmHwmMb()
    val ok = (p: Pass) => p.ops.forall(_.ok)
    // failed passes never enter a timing: a failure must not lower it
    def med(ps: Seq[Pass], f: Pass => Double): Double = {
      val good = ps.filter(ok)
      Stats.median((if (good.nonEmpty) good else ps).map(f))
    }
    val untracedWarm = warm.filterNot(_.traced).toSeq
    val tracedWarm = warm.filter(_.traced).toSeq
    val e2e = Map(
      "setup_s" -> (sessionS + Stats.median(setupRuns)),
      "first_pass_s" -> cold.wallS,
      "wall_s" -> med(untracedWarm, _.wallS),
      "cpu_s" -> med(untracedWarm, _.cpuS),
      "peak_rss_mb" -> peakRssMb)
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val keys = tracedWarm.flatMap(_.layers.keys).distinct
        keys.map(k => k -> Stats.median(tracedWarm.map(_.layers.getOrElse(k, 0.0)))).toMap ++
          setupLayers +
          ("trace.overhead_share" -> (med(tracedWarm, _.wallS) / med(untracedWarm, _.wallS) - 1.0))
      }

    val json = Json.obj(
      "workload" -> workloadName,
      "seed" -> seed,
      "traced" -> traced,
      "host" -> Host.describe(root, cores),
      "conf" -> root.conf.getAll.toSeq.sortBy(_._1).toMap,
      "setup" -> Json.obj("session_s" -> sessionS, "reps_s" -> setupRuns),
      "passes" -> (cold +: warm.toSeq).map(p => Json.obj(
        "index" -> p.index, "traced" -> p.traced, "wall_s" -> p.wallS,
        "cpu_s" -> p.cpuS, "gc_s" -> p.gcS, "leaked" -> p.leaked,
        "ops" -> p.ops.map(o => Json.obj(
          "name" -> o.name, "seconds" -> o.seconds, "ok" -> o.ok, "error" -> o.error,
          "values" -> o.values.toMap)))),
      "end_to_end" -> e2e,
      "per_layer" -> layers)
    Files.writeString(Paths.get(outFile), Json.write(json))
    if (traced) TraceFile.write(s"$outFile.trace.json",
      setupSpans ++ warm.flatMap(_.spans), setupJobs ++ warm.flatMap(_.jobs))
    root.stop()
  }
}

object Stats {
  /** The median; 0 for no values (a layer the workload did not call). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
}
