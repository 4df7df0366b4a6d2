package graft.perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Small measurement helpers. */
object Stats {

  /** Nearest-rank percentile (p in 0..100) of `xs`; NaN when empty. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** The faster half of `xs` by `time` (the middle one too when odd). */
  def fasterHalf[A](xs: Seq[A])(time: A => Double): Seq[A] = xs.sortBy(time).take((xs.size + 1) / 2)

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean

  /** CPU time of the whole process (ns). */
  def processCpuNs: Long = os.getProcessCpuTime

  /** CPU time of the calling thread (ns). */
  def threadCpuNs: Long = threads.getCurrentThreadCpuTime

  /** Total GC time of the JVM so far (ms). */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  /** Time the JIT compilers have spent so far (ms). */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** (steal, total) jiffies of all CPUs so far, from /proc/stat; (0, 0)
    * where it cannot be read. Steal is time this VM's vCPUs were ready to
    * run while the hypervisor ran another guest. */
  def stealTicks: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Heap in use after full collections (MB). */
  def liveHeapMb: Double = {
    var i = 0
    while (i < 3) { System.gc(); Thread.sleep(100); i += 1 }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def now: Long = System.nanoTime()
  def secs(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  /** Times `body`, returning (result, seconds). */
  def timed[A](body: => A): (A, Double) = {
    val t = now
    val r = body
    (r, secs(t))
  }

  /** Bytes of every file under `p`. */
  def treeBytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map(java.nio.file.Files.size).sum
      finally s.close()
    }
}
