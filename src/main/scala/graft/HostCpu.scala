package graft

import java.lang.management.ManagementFactory
import scala.util.control.NonFatal

/** Contention evidence from CPU time: the share of the host's CPU capacity
  * that processes other than this JVM used over a window. A reading near 0
  * says the host was ours; a measured window whose share is well above 0
  * ran beside someone else's work and may read slow for that reason.
  *
  * The arithmetic: host busy and total CPU seconds come from the aggregate
  * `cpu` line of `/proc/stat`, this JVM's CPU seconds from the process CPU
  * clock, and `other = (Δbusy − Δprocess) / Δtotal`, clamped at 0. Idle and
  * iowait are not busy; steal is, because a hypervisor that runs another
  * guest takes that capacity from us. Off Linux, where `/proc/stat` does not
  * exist, both host counters read 0 and every share is 0.
  */
private[graft] object HostCpu {
  /** One reading of the counters the share is computed from, in seconds. */
  final case class Sample(hostBusyS: Double, hostTotalS: Double, procCpuS: Double)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Host (busy, total) CPU seconds from a `/proc/stat` aggregate line:
    * user nice system idle iowait irq softirq steal, in 1/100 s ticks
    * (guest time is already inside user and nice, so later fields are
    * left out).
    */
  def parse(cpuLine: String): (Double, Double) = {
    val f = cpuLine.trim.split("\\s+").drop(1).take(8).map(_.toDouble)
    val idle = f(3) + (if (f.length > 4) f(4) else 0.0)
    val total = f.sum
    ((total - idle) / 100.0, total / 100.0)
  }

  def sample(): Sample = {
    val (busy, total) = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try parse(src.getLines().next()) finally src.close()
    } catch { case NonFatal(_) => (0.0, 0.0) }
    Sample(busy, total, osBean.getProcessCpuTime / 1e9)
  }

  /** The share of host CPU capacity between `a` and `b` that other
    * processes used; 0 on an empty window.
    */
  def otherShare(a: Sample, b: Sample): Double = {
    val total = b.hostTotalS - a.hostTotalS
    if (total <= 0) 0.0
    else math.max(0.0,
      (b.hostBusyS - a.hostBusyS - (b.procCpuS - a.procCpuS)) / total)
  }
}
