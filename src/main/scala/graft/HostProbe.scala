package graft

/** Host-attribution instruments shared by [[Bench]], [[Diag]] and the
  * benchmark under `perfbench/` — one implementation so their noise
  * verdicts stay comparable by construction (separate copies of the
  * jiffy parse / MXBean casts would drift independently).
  *
  * All readers are BEST-EFFORT: a missing /proc/stat or an exotic JVM
  * must degrade the attribution to "unknown", never fail the
  * measurement it annotates.
  */
object HostProbe {

  /** Host busy jiffies (all cores, USER_HZ=100): total minus idle and
    * iowait from /proc/stat's first line; −1 when unreadable. Paired
    * with this process's own CPU time it yields FOREIGN cores consumed
    * during a timed region — direct co-tenant attribution, the signal
    * single-thread calibration probes are blind to (a neighbor on 8 of
    * 32 logical CPUs costs a 32-thread job ~25% while a 1-thread probe
    * reads flat). */
  def busyJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        v.sum - v(3) - v(4)
      } finally src.close()
    } catch { case _: Throwable => -1L }

  /** This JVM's cumulative CPU nanoseconds; −1 when the platform bean
    * is unavailable. */
  def processCpuNanos(): Long =
    try
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
        .getProcessCpuTime
    catch { case _: Throwable => -1L }

  /** Cumulative collector wall-millis across all GC beans. */
  def gcMillis(): Long =
    try {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    } catch { case _: Throwable => 0L }

  /** Foreign cores over a timed region from before/after samples, or
    * 0.0 when any sample was unavailable. */
  def foreignCores(busy0: Long, busy1: Long, cpu0: Long, cpu1: Long,
      wallSec: Double): Double =
    if (busy0 < 0 || busy1 < 0 || cpu0 < 0 || cpu1 < 0 || wallSec <= 0) 0.0
    else math.max(0.0,
      ((busy1 - busy0) / 100.0 - (cpu1 - cpu0) / 1e9) / wallSec)
}
