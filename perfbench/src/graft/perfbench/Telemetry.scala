package graft.perfbench

/** Host and process readings: clock, CPU time, peak RSS, load. */
object Telemetry {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()

  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * epoch as the listener timestamps.
    */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def cpuSeconds(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def procStatus(key: String): Option[Double] =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toDouble)
    } catch { case _: Throwable => None }

  /** Peak resident set of this process, in MB. */
  def peakRssMb(): Double = procStatus("VmHWM").map(_ / 1024).getOrElse(0.0)

  /** Heap still reachable after a full collection, in MB. The pauses
    * let Spark's context cleaner drop the blocks of RDDs and broadcasts
    * the first collection found unreachable, so the last one frees them.
    */
  def heapLiveMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "" }

  def nproc: Int = Runtime.getRuntime.availableProcessors

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
