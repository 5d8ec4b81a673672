package perfbench

import java.nio.file.{Files, Paths}

/** Records each seed's operation outputs, the values the correctness
  * check compares later runs against: one JVM, for each seed a fresh
  * session, its set-up and one pass, all released again.
  *
  * Usage: Main --record-seeds <n,n,...> --workload <w> --data-root <dir>
  *             --scale <sf> --out <file> [--local-dir <dir>]
  * where `<data-root>/seed<n>_sf<sf>` holds each seed's inputs.
  */
object Record {
  def run(opt: Map[String, String]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val seeds = opt("record-seeds").split(',').map(_.trim.toLong).toSeq
    val name = opt("workload")
    val wl = Workloads(name, cores)
    val root = Main.startSpark(wl, cores, opt.get("local-dir"))
    val bySeed = seeds.map { seed =>
      val dir = s"${opt("data-root")}/seed${seed}_sf${opt("scale")}"
      val s = root.newSession()
      val ops = graft.core.Pins.scoped {
        wl.setup(s, dir)
        wl.pass(s, dir, cold = false)
      }
      val failed = ops.filterNot(_.ok)
      require(failed.isEmpty, s"seed $seed: ${failed.map(o => s"${o.name}: ${o.error}")}")
      System.err.println(s"[record] seed $seed: ${ops.map(o => o.name -> o.values)}")
      seed.toString -> ops.map(o => o.name -> o.values.toMap).toMap
    }
    Files.writeString(Paths.get(opt("out")), Json.write(bySeed.toMap))
    root.stop()
  }
}
