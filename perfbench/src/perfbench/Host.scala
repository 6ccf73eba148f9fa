package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Process and machine probes: the fixed-work calibration spin, CPU steal
  * from /proc/stat, process CPU time, GC time and live heap. None of them
  * touches the program under test. */
object Host {
  private val CalibIters = 5000000
  @volatile private var sink = 0L

  /** Fixed-work single-thread spin (multiply-xor, no allocation). On an
    * unloaded core it takes a machine-constant time, so a slower sample
    * means the core was taken away (steal, co-tenants), not a code change. */
  def calib(): Double = {
    var h = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < CalibIters) { h = h * 0x100000001B3L; h ^= (h >>> 33); i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    sink ^= h
    dt
  }

  /** (steal, total) jiffies of the aggregate `cpu` line of /proc/stat;
    * (0, 0) where the file is absent. */
  def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  def stealPct(from: (Long, Long), to: (Long, Long)): Double = {
    val total = to._2 - from._2
    if (total <= 0) 0.0 else 100.0 * (to._1 - from._1) / total
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNanos(): Long = os.getProcessCpuTime

  /** Accumulated JIT compilation time, ms (0 where the JVM does not report it). */
  def jitMillis(): Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after full collections, MiB. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    var i = 0
    while (i < 3) { System.gc(); Thread.sleep(50); i += 1 }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Seconds from JVM start to now. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}
