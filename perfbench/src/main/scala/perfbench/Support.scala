package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for maps, sequences, strings, numbers, booleans. */
object Json {
  def obj(kv: (String, Any)*): ListMap[String, Any] = ListMap(kv: _*)

  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

/** What the numbers were measured on. */
object Host {
  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else {
      val line = Files.readAllLines(status).toArray.map(_.toString)
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toDouble / 1024.0
    }
  }

  def describe(spark: SparkSession, cores: Int): ListMap[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    Json.obj(
      "cores" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "jvm_args" -> rt.getInputArguments.toArray.map(_.toString).toSeq
        .filterNot(_.startsWith("--add-opens")),
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")} ${System.getProperty("os.arch")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString)
  }
}

/** Writes the run's spans and jobs: each span with its self time and
  * the jobs attributed to it, each job with its call site.
  */
object TraceFile {
  def write(path: String, spans: Seq[Span], jobs: Seq[JobRec]): Unit = {
    val tree = new SpanTree(spans, jobs)
    val spanRecs = spans.sortBy(_.startNs).map(s => Json.obj(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "thread" -> s.thread,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "seconds" -> s.seconds,
      "self_s" -> tree.selfSeconds(s), "jobs" -> tree.jobsOf(s).size,
      "exec_cpu_s" -> tree.cpuOf(s)))
    val jobRecs = jobs.sortBy(_.id).map(j => Json.obj(
      "id" -> j.id, "span" -> j.span, "call_site" -> j.callSite,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs, "ok" -> j.succeeded,
      "tasks" -> j.tasks, "exec_cpu_s" -> j.execCpuNs / 1e9,
      "shuffle_write_bytes" -> j.shuffleWriteBytes))
    Files.writeString(Paths.get(path), Json.write(Json.obj("spans" -> spanRecs, "jobs" -> jobRecs)))
  }
}
