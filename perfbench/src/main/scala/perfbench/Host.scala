package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** What else the host was doing: load average, runnable and blocked (D
  * state) task counts, and the aggregate CPU tick counters. */
final case class HostSample(load1: Double, running: Int, blocked: Int,
                            ticks: Map[String, Long])

/** Host state across a timed phase, so a run in a contended window carries
  * that label beside its numbers. */
final case class HostState(cpus: Int, start: HostSample, end: HostSample) {
  private def delta(k: String) = end.ticks.getOrElse(k, 0L) - start.ticks.getOrElse(k, 0L)
  private val total = math.max(1L, end.ticks.values.sum - start.ticks.values.sum)
  val load1: Double = end.load1
  /** Two samples of the runnable count (which includes this process). */
  val runnableAvg: Double = (start.running + end.running) / 2.0
  val blockedAvg: Double = (start.blocked + end.blocked) / 2.0
  val stealTicks: Long = delta("steal")
  val iowaitTicks: Long = delta("iowait")
  val stealShare: Double = stealTicks.toDouble / total
  val iowaitShare: Double = iowaitTicks.toDouble / total
  /** Contended when runnable tasks exceed twice the cores, or any task sat
    * in D state at both samples, or the hypervisor stole or I/O waits took
    * more than 5 % of the ticks. Fixed ratios of the measured deltas, not a
    * load threshold scaled by a small core count. */
  val contended: Boolean = runnableAvg > 2.0 * cpus || blockedAvg >= 1.0 ||
    stealShare > 0.05 || iowaitShare > 0.05

  def toJson: com.fasterxml.jackson.databind.node.ObjectNode = {
    val o = Json.obj()
    o.put("cpus", cpus).put("load1", load1).put("runnable_avg", runnableAvg)
      .put("blocked_avg", blockedAvg).put("steal_ticks", stealTicks)
      .put("iowait_ticks", iowaitTicks).put("steal_share", stealShare)
      .put("iowait_share", iowaitShare).put("contended", contended)
    o
  }
}

object Host {
  private val Fields = Seq("user", "nice", "system", "idle", "iowait", "irq",
    "softirq", "steal")

  private def lines(p: String): Seq[String] =
    try Files.readAllLines(Paths.get(p)).asScala.toSeq
    catch { case _: java.io.IOException => Nil }

  def sample(): HostSample = {
    val load = lines("/proc/loadavg").headOption.map(_.split("\\s+")).getOrElse(Array.empty)
    val stat = lines("/proc/stat")
    def counter(k: String) = stat.find(_.startsWith(k + " "))
      .map(_.split("\\s+")(1).toInt).getOrElse(0)
    val cpu = stat.find(_.startsWith("cpu ")).map(_.split("\\s+").drop(1).map(_.toLong))
      .getOrElse(Array.empty[Long])
    HostSample(load.headOption.map(_.toDouble).getOrElse(0.0),
      counter("procs_running"), counter("procs_blocked"),
      Fields.zip(cpu).toMap)
  }

  /** CPUs of the host as the kernel counts them (the per-CPU lines of
    * /proc/stat), whatever the JVM was told. */
  def cpus(): Int = lines("/proc/stat").count(_.matches("cpu[0-9]+ .*"))

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    lines("/proc/self/status").find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
