package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

/** Process and host counters read from /proc, plus directory sizes. */
object Proc {
  private val TicksPerS = 100.0

  private def read(p: String): String =
    Try(new String(Files.readAllBytes(Paths.get(p)), "UTF-8")).getOrElse("")

  /** Process CPU time (utime + stime) in seconds; in local mode the
    * scheduler and the executors share this one JVM.
    */
  def cpuS(): Double = {
    val s = read("/proc/self/stat")
    val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
    // fields 14 and 15 of stat, counted after the ")" that ends field 2
    Try((f(11).toLong + f(12).toLong) / TicksPerS).getOrElse(0.0)
  }

  private def statusKb(key: String): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  def peakRssMb(): Double = statusKb("VmHWM") / 1024.0

  /** Resets the peak RSS to the current RSS; false where the kernel
    * refuses it.
    */
  def resetPeakRss(): Boolean =
    Try(Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes("UTF-8"))).isSuccess

  /** Host-wide steal jiffies (the 8th value of the cpu line). */
  def stealJiffies(): Long =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .flatMap(l => Try(l.trim.split("\\s+")(8).toLong).toOption).getOrElse(0L)

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** (bytes, regular files) under `p`; (0, 0) when it does not exist. */
  def du(p: Path): (Long, Int) =
    if (!Files.exists(p)) (0L, 0)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
