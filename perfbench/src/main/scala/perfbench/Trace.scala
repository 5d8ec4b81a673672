package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is 0 for a root span. */
final case class Span(id: Long, name: String, parent: Long, thread: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One Spark job, attributed to the span that was open on the thread
  * that submitted it, with the task totals of its stages.
  */
final class JobRec(val id: Int, val span: Long, val callSite: String,
                   val startMs: Long) {
  var endMs: Long = -1L
  var succeeded: Boolean = false
  var tasks: Long = 0L
  var execCpuNs: Long = 0L
  var shuffleWriteBytes: Long = 0L
}

/** In-memory tracer. Spans are recorded only while [[enabled]]; a job
  * is tied to a span through a Spark thread-local property, which Spark
  * copies into threads a caller spawns (Hyperband's config pool) and
  * into the threads that run broadcasts and subqueries.
  */
object Trace {
  val SpanProp = "perfbench.span"

  @volatile var enabled: Boolean = false
  private val ids = new AtomicLong(0L)
  private val recorded = new ConcurrentLinkedQueue[Span]()

  /** Removes and returns every span recorded so far. */
  def drain(): Seq[Span] = Iterator.continually(recorded.poll())
    .takeWhile(_ != null).toSeq

  /** Runs `f` inside a span named `name` when tracing is on. */
  def span[T](sc: SparkContext, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val outer = sc.getLocalProperty(SpanProp)
      val parent = if (outer == null) 0L else outer.toLong
      val id = ids.incrementAndGet()
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(SpanProp, outer)
        recorded.add(Span(id, name, parent, Thread.currentThread().getName, t0, t1))
      }
    }
}

/** Job, task and cached-block totals, attributed to spans. Installed
  * only for traced passes.
  */
final class TraceListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var cachedBytes = 0L
  @volatile private var peak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Trace.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
      .getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, span, site, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      j.succeeded = e.jobResult == JobSucceeded
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = jobs.get(stageJob.getOrDefault(e.stageId, -1))
    if (j != null) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.execCpuNs += m.executorCpuTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedBytes += now - blockBytes.getOrElse(key, 0L)
      if (now > 0) blockBytes(key) = now else blockBytes.remove(key)
      if (cachedBytes > peak) peak = cachedBytes
    }
  }

  /** Removes and returns every job recorded so far. */
  def drainJobs(): Seq[JobRec] = {
    val out = jobs.values.asScala.toSeq
    out.foreach(j => jobs.remove(j.id))
    out
  }

  /** Peak bytes of cached RDD blocks since the last call, then resets. */
  def takePeakCachedBytes(): Long = {
    val p = peak
    peak = cachedBytes
    p
  }
}

/** Per-span totals over one pass: every span's own duration, the jobs
  * it and its descendants launched, and its self time.
  */
final class SpanTree(spans: Seq[Span], jobs: Iterable[JobRec]) {
  private val children = spans.groupBy(_.parent)

  /** Jobs attributed to each span, its own and its descendants'. */
  private val jobsUnder: Map[Long, Seq[JobRec]] = {
    val own = jobs.toSeq.groupBy(_.span)
    def collect(id: Long): Seq[JobRec] =
      own.getOrElse(id, Nil) ++ children.getOrElse(id, Nil).flatMap(c => collect(c.id))
    spans.map(s => s.id -> collect(s.id)).toMap
  }

  def allJobs: Seq[JobRec] = jobs.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name)
  def jobsOf(s: Span): Seq[JobRec] = jobsUnder.getOrElse(s.id, Nil)
  def cpuOf(s: Span): Double = jobsOf(s).map(_.execCpuNs).sum / 1e9

  /** Span duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) covered += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }
}
