package graft.perfbench

import scala.util.control.NonFatal

/** One client running one operation at a time (a closed loop): the next
  * operation starts only when the previous one has returned and its output
  * has been checked.
  */
object ClosedLoop {

  /** Wall and process-CPU seconds of the operations that succeeded, plus
    * the attempt and failure counts. A failed operation contributes no time.
    */
  final case class Samples(times: Vector[Double], cpuTimes: Vector[Double],
      attempted: Int, failed: Int) {
    def errorRate: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
  }

  /** CPU nanoseconds used so far by every thread of this JVM. Unlike wall
    * time it does not grow while the host runs other tenants on our cores.
    */
  def processCpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Runs one operation: `op` does the work and is timed; `check` validates
    * its output outside the timed region and returns a mismatch message,
    * or None when the output is correct. Returns (wall, CPU) seconds, or
    * None when the operation threw or its output was wrong.
    */
  def attempt[T](op: () => T, check: T => Option[String],
      log: String => Unit): Option[(Double, Double)] =
    try {
      val c0 = processCpuNanos()
      val t0 = System.nanoTime()
      val out = op()
      val sec = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNanos() - c0) / 1e9
      check(out) match {
        case None => Some((sec, cpu))
        case Some(msg) => log(s"output check failed: $msg"); None
      }
    } catch {
      case NonFatal(e) => log(s"operation threw: $e"); None
    }

  /** Repeats [[attempt]] until `seconds` of wall time have passed since the
    * loop began (always at least `minOps` attempts).
    */
  def run[T](seconds: Double, minOps: Int, op: () => T,
      check: T => Option[String], log: String => Unit): Samples = {
    val start = System.nanoTime()
    var times = Vector.empty[Double]
    var cpuTimes = Vector.empty[Double]
    var attempted = 0
    var failed = 0
    while (attempted < minOps || (System.nanoTime() - start) / 1e9 < seconds) {
      attempted += 1
      attempt(op, check, log) match {
        case Some((sec, cpu)) => times :+= sec; cpuTimes :+= cpu
        case None => failed += 1
      }
    }
    Samples(times, cpuTimes, attempted, failed)
  }
}
