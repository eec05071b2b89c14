package graft.perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Process and machine counters: process CPU, GC time, peak RSS, and the
  * machine-wide steal and iowait that mark a run as contended.
  */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  /** Time the JIT compiler threads have spent compiling. */
  def jitMillis: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap still in use after a full collection, in MB: what the process
    * keeps once an op's results and pinned blocks are released.
    */
  def retainedHeapMb(): Double = {
    // the second collection frees what Spark's ContextCleaner released
    // after the first one (broadcasts and shuffles of collected plans)
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status")) {
      _.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
      }.getOrElse(0.0)
    }

  /** Seconds that `threads` concurrent copies of a fixed integer loop take
    * to finish. The work is the same in every run, so a host slowed by its
    * neighbours reads higher even when it loses no time to steal; with one
    * thread per core it also sees the shared-core slowdowns a single
    * thread misses.
    */
  def calibrate(threads: Int): Double = {
    def pass(n: Int): Long = {
      var acc = 0L; var j = 0
      while (j < n) { acc += (j * 2654435761L) ^ (acc >>> 13); j += 1 }
      acc
    }
    val sink = new java.util.concurrent.atomic.AtomicLong(pass(20000000)) // JIT warm-up
    val t0 = System.nanoTime()
    val ts = Seq.fill(threads)(new Thread(() => { sink.addAndGet(pass(200000000)); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    val dt = (System.nanoTime() - t0) / 1e9
    if (sink.get == 42) System.err.print("") // keep the loop from being elided
    dt
  }

  /** Machine-wide (iowait, steal) seconds so far, summed over all CPUs
    * (`/proc/stat` counts in USER_HZ = 1/100 s).
    */
  def iowaitSteal(): (Double, Double) =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/stat")) { f =>
      val p = f.getLines().next().trim.split("\\s+")
      (p(5).toDouble / 100, p(8).toDouble / 100)
    }

  /** Machine-wide iowait plus steal seconds so far: CPU time the host did
    * not give the machine's runnable work.
    */
  def lostSeconds(): Double = { val (io, st) = iowaitSteal(); io + st }
}

/** Order statistics over a run's samples. */
object Stats {
  /** Linear-interpolation quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
