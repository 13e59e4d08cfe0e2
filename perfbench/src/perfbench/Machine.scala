package perfbench

import java.nio.file.{Files, Paths}

/** Machine context recorded with every result set: core count, hypervisor
  * steal and load. A number read without its machine is not evidence.
  */
object Machine {
  val nproc: Int = Runtime.getRuntime.availableProcessors()

  /** Cumulative steal seconds of all CPUs (`/proc/stat`, USER_HZ = 100);
    * 0 where the file is missing.
    */
  def stealSeconds(): Double =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
    } catch { case _: Exception => 0.0 }

  /** One-minute load average; -1 where unavailable. */
  def load1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Old-generation heap live after a full collection, in MB: the state a
    * pass retains (cached views, plan and status stores), without its
    * transient garbage.
    */
  def retainedOldGenMb(): Double = {
    import scala.jdk.CollectionConverters._
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  /** CPU seconds this process has used (every thread, JIT and GC included). */
  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Seconds the JIT compilers have spent compiling, all threads. */
  def jitSeconds(): Double =
    Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1000.0).getOrElse(0.0)

  /** Seconds of garbage collection, every collector (pauses and, for
    * concurrent collectors, their cycles).
    */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
  }
}
