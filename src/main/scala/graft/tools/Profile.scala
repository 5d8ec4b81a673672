package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.bridge

import scala.collection.concurrent.TrieMap

/** Where a query's time goes, measured as Bench measures it: the shared
  * churn dataset is built first, outside any Pins scope, and reported
  * as the `_setup` record; then each query runs cold (run=0) and warm
  * twice in one `Pins.scoped`, each run driving the planned physical
  * tree (see Bench.once).
  *
  * Every run prints one PROFILE line: its driver phases in ms (build,
  * which includes analysis of every intermediate Dataset and any eager
  * operator loops; optimise; plan; execute), its Spark jobs, stages and
  * tasks (AQE materialises every exchange as its own job, so the job
  * count is the AQE-round-trip signal), and its executor cpu, run, GC
  * and shuffle-fetch-wait seconds and spill. Same tasks + flat cpu +
  * ballooning run time is host scheduling, not the engine. The last
  * warm run also prints one PROFSTAGE line per stage, by cpu: which
  * stage of an iterative or multi-pass operator owns the cpu.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <query> [query ...]
  */
object Profile {

  private final class Stage {
    var name = "?"
    var tasks, runMs, cpuNs, gcMs, fetchWaitMs, spillBytes, readBytes,
      writeBytes = 0L
  }

  /** Jobs and per-stage task totals since the last `clear()`. Events
    * arrive on the listener bus's one thread; read only after a drain.
    */
  private final class Listener extends SparkListener {
    val jobs = new AtomicLong
    val stages = TrieMap.empty[Int, Stage]
    def clear(): Unit = { jobs.set(0L); stages.clear() }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val s = stages.getOrElseUpdate(e.stageId, new Stage)
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.readBytes += m.shuffleReadMetrics.totalBytesRead
        s.writeBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.getOrElseUpdate(e.stageInfo.stageId, new Stage).name =
        e.stageInfo.name.linesIterator.next().take(120)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <sfDir> <query> [query ...]")
    val (sfDir, names) = (args(0), args.toSeq.drop(1))
    graft.SparkEntry.requireKnown(names)
    val spark = graft.Session.builder("graft-profile").getOrCreate()
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)

    // `body` returns its build/optimise/plan/execute times in ns
    def record(tag: String)(body: => Seq[Long]): Unit = {
      bridge.drainListenerBus(spark)
      listener.clear()
      val ms = body.map(_ / 1e6)
      bridge.drainListenerBus(spark)
      val stages = listener.stages.values.toSeq
      def sum(f: Stage => Long): Long = stages.map(f).sum
      println(f"PROFILE $tag wall=${ms.sum / 1e3}%.2f buildMs=${ms(0)}%.0f " +
        f"optimizeMs=${ms(1)}%.0f planMs=${ms(2)}%.0f execMs=${ms(3)}%.0f " +
        s"jobs=${listener.jobs.get} stages=${stages.size} " +
        s"tasks=${sum(_.tasks)} " +
        f"execCpuS=${sum(_.cpuNs) / 1e9}%.2f " +
        f"execRunS=${sum(_.runMs) / 1e3}%.2f " +
        f"gcS=${sum(_.gcMs) / 1e3}%.2f " +
        f"fetchWaitS=${sum(_.fetchWaitMs) / 1e3}%.2f " +
        s"spillMB=${sum(_.spillBytes) / 1000000L}")
    }

    // setup is eager: its whole time is its build phase
    record("_setup") {
      val t0 = System.nanoTime()
      try graft.surv.ChurnView.dataset(spark, sfDir)
      catch { case e: Throwable => System.err.println(s"[profile] setup: $e") }
      Seq(System.nanoTime() - t0, 0L, 0L, 0L)
    }
    def phases(q: String): Seq[Long] = {
      val t0 = System.nanoTime()
      val qe = graft.SparkEntry.queries(q)(spark, sfDir).queryExecution
      val t1 = System.nanoTime()
      qe.optimizedPlan
      val t2 = System.nanoTime()
      val plan = qe.executedPlan
      val t3 = System.nanoTime()
      plan.execute().count()
      Seq(t1 - t0, t2 - t1, t3 - t2, System.nanoTime() - t3)
    }
    names.foreach { q =>
      graft.core.Pins.scoped {
        (0 to 2).foreach(i => record(s"$q run=$i")(phases(q)))
        listener.stages.toSeq.sortBy(-_._2.cpuNs).foreach { case (id, s) =>
          println(f"PROFSTAGE $q sid=$id tasks=${s.tasks}%4d " +
            f"cpuMs=${s.cpuNs / 1000000L}%6d runMs=${s.runMs}%6d " +
            f"srMB=${s.readBytes / 1e6}%.1f swMB=${s.writeBytes / 1e6}%.1f" +
            s"  ${s.name}")
        }
      }
    }
    spark.stop()
  }
}
