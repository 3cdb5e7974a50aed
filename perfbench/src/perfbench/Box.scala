package perfbench

import java.lang.management.{BufferPoolMXBean, ManagementFactory}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Process and host readings. The box is shared, so every iteration carries
  * contamination markers (steal, other processes' CPU, GC) and the run
  * records a CPU/memory-bandwidth probe at its start and end. Nothing here
  * waits for a quiet box: the markers explain a slow number, they do not
  * gate it. */
object Box {

  /** User + system CPU of this process, in nanoseconds. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double = Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0
    finally src.close()
  }.getOrElse(-1.0)

  /** Memory the JVM still holds after a full collection, in MB: heap in
    * use, non-heap in use (metaspace, code cache) and NIO direct and mapped
    * buffers. Collecting first makes the reading independent of when the
    * collector last ran and of how far it has grown the heap, which VmHWM
    * is not. */
  def retainedMb(): Double = {
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
      .map(_.getMemoryUsed).sum
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed + buffers) / 1048576.0
  }

  /** Host-wide (steal, busy) jiffies from /proc/stat and this process's
    * utime+stime jiffies; all -1 where /proc is unreadable. */
  final case class Ticks(steal: Long, busy: Long, self: Long)

  def ticks(): Ticks = Try {
    val stat = scala.io.Source.fromFile("/proc/stat")
    val cpu = try stat.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    finally stat.close()
    // busy = user+nice+system+irq+softirq+steal (idle and iowait left out)
    val busy = Seq(0, 1, 2, 5, 6, 7).filter(_ < cpu.length).map(cpu(_)).sum
    val selfStat = scala.io.Source.fromFile("/proc/self/stat")
    val self = try {
      val line = selfStat.getLines().next()
      val rest = line.substring(line.lastIndexOf(')') + 2).split(" ")
      rest(11).toLong + rest(12).toLong
    } finally selfStat.close()
    Ticks(if (cpu.length > 7) cpu(7) else -1L, busy, self)
  }.getOrElse(Ticks(-1L, -1L, -1L))

  /** Markers over an interval: steal seconds, CPU seconds used by other
    * processes on the host (clamped at 0: the host counters are sampled
    * per tick), and this JVM's GC seconds. */
  final case class Markers(stealS: Double, otherCpuS: Double, gcS: Double)

  final case class Mark(t: Ticks, gc: Double) {
    def to(end: Mark): Markers = {
      val hz = 100.0
      if (t.steal < 0 || end.t.steal < 0) Markers(-1, -1, end.gc - gc)
      else Markers((end.t.steal - t.steal) / hz,
        math.max(0L, (end.t.busy - t.busy) - (end.t.self - t.self)) / hz, end.gc - gc)
    }
  }

  def mark(): Mark = Mark(ticks(), gcSeconds())

  private lazy val copySrc = new Array[Long](4 << 20) // 32 MB
  private lazy val copyDst = new Array[Long](4 << 20)

  /** Single-core arithmetic rate (M splitmix64 rounds/s over 200 ms) and
    * memory copy bandwidth (GB/s over 24 copies of 32 MB, past any L3). */
  def probe(): (Double, Double) = {
    var x = 0x9E3779B97F4A7C15L
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 200000000L) {
      var i = 0
      while (i < 1000000) {
        x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
        x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
        i += 1
      }
      n += 1000000
    }
    if (x == 42L) println(x) // keeps the loop live
    val mops = n / ((System.nanoTime() - t0) / 1e9) / 1e6
    val t1 = System.nanoTime()
    var r = 0
    while (r < 24) { System.arraycopy(copySrc, 0, copyDst, 0, copySrc.length); r += 1 }
    val gbps = 24 * 2.0 / 32.0 / ((System.nanoTime() - t1) / 1e9)
    (mops, gbps)
  }
}
