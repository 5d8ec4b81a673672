package graft.tools

/** Accumulates task metrics across a measurement window (Bench's
  * per-query record). The run/cpu pair is the decisive split for
  * wall-time variance: executorRunTime is thread WALL (inflates when
  * the host deschedules vCPUs — steal the guest may not even see),
  * executorCpuTime is actual on-CPU nanoseconds (inflates only with
  * real extra cycles: stalls, memory-bandwidth contention, or more
  * work). Same tasks + flat cpu + ballooning run = host-level
  * scheduling, not the engine.
  *
  * Snaps are only coherent after the listener bus is DRAINED
  * (bridge.drainListenerBus) — dispatch is async even in local mode,
  * so an undrained snap can miss tail onTaskEnd events and bleed them
  * into the next window.
  */
final class TaskMetricsListener
    extends org.apache.spark.scheduler.SparkListener {
  val runMs = new java.util.concurrent.atomic.AtomicLong
  val cpuNs = new java.util.concurrent.atomic.AtomicLong
  val gcMs = new java.util.concurrent.atomic.AtomicLong
  val fetchWaitMs = new java.util.concurrent.atomic.AtomicLong
  val spillBytes = new java.util.concurrent.atomic.AtomicLong
  val tasks = new java.util.concurrent.atomic.AtomicLong
  override def onTaskEnd(
      t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      tasks.incrementAndGet()
      ()
    }
  }
  def snap(): (Long, Long, Long, Long, Long, Long) =
    (runMs.get, cpuNs.get, gcMs.get, fetchWaitMs.get, spillBytes.get,
      tasks.get)
}
