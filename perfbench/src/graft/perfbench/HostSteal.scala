package graft.perfbench

import java.nio.file.{Files, Paths}

/** CPU time the hypervisor gave to other guests while this machine's
  * processors wanted to run ("steal" in /proc/stat). A share of it during
  * a timed round says the round was slowed by the host, not the program. */
object HostSteal {
  private val stat = Paths.get("/proc/stat")

  /** (steal, all) clock ticks summed over every processor since boot;
    * (0, 0) where /proc/stat is missing. */
  def ticks(): (Long, Long) =
    if (!Files.isReadable(stat)) (0L, 0L)
    else {
      val f = Files.readAllLines(stat).get(0).trim.split("\\s+")
      // user nice system idle iowait irq softirq steal (guest time is
      // already counted in user and nice)
      val t = f.slice(1, 9).map(_.toLong)
      (t(7), t.sum)
    }

  /** Steal share of all processor time between two `ticks()` readings. */
  def share(from: (Long, Long), to: (Long, Long)): Double = {
    val all = to._2 - from._2
    if (all <= 0) 0.0 else (to._1 - from._1).toDouble / all
  }
}
