package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files => NioFiles, Paths}

import scala.jdk.CollectionConverters._

/** Process and host counters that attribute a noisy run. */
object Host {

  /** Cumulative JVM garbage-collection time, seconds. */
  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  /** Cumulative JIT compilation time, seconds. */
  def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  /** Host CPU jiffies from /proc/stat: (steal, total of user..steal). */
  def cpu(): (Long, Long) = try {
    val vals = NioFiles.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (vals.length > 7) vals(7) else 0L, vals.take(8).sum)
  } catch { case _: Exception => (0L, 0L) }

  /** Steal share of host CPU time between two [[cpu]] samples, percent. */
  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 <= a._2) 0.0 else 100.0 * (b._1 - a._1) / (b._2 - a._2)

  /** Peak resident set of this process (VmHWM), MB. */
  def rssPeakMb(): Double =
    NioFiles.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Counters sampled at the start of a measured window. */
  final case class Window(gcS: Double, jitS: Double, cpu: (Long, Long)) {
    /** JVM and host layer metrics over the window that ends now. */
    def layers(): Map[String, (Double, String)] = {
      val now = Window.start()
      Map(
        "jvm.gc_s" -> (now.gcS - gcS, "s"),
        "jvm.jit_s" -> (now.jitS - jitS, "s"),
        "host.steal_pct" -> (stealPct(cpu, now.cpu), "%"))
    }
  }
  object Window {
    def start(): Window = Window(gcS(), jitS(), cpu())
  }
}
