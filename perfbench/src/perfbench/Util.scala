package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

object Util {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest whole percentile that leaves at least ten samples above
    * it, or None when fewer than 20 samples exist.
    */
  def tailPercentile(n: Int): Option[Int] =
    if (n < 20) None else Some(math.floor(100.0 * (n - 10) / n).toInt)

  def seconds(ns: Long): Double = ns / 1e9

  /** Regular files under `path` (recursively), skipping nothing: CRC side
    * files and metadata logs take disk space too.
    */
  def files(path: String): Seq[File] = {
    val root = new File(path)
    if (!root.exists) Seq.empty
    else if (root.isFile) Seq(root)
    else root.listFiles.toSeq.sortBy(_.getName).flatMap(f => files(f.getPath))
  }

  def bytes(paths: String*): Long = paths.flatMap(files).map(_.length).sum

  /** Parquet data files under `path` — the unit the log, the topics and
    * the cdcpoll planner count in.
    */
  def dataFiles(path: String): Seq[File] =
    files(path).filter(f => f.getName.endsWith(".parquet") && !f.getPath.contains("/_"))

  def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Wall (ms) of a fixed single-threaded integer loop, best of three: a
    * reading of the host's speed, printed beside a run's figures so that
    * host drift can be told apart from a change in the program.
    */
  def calibrationMs(): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var i = 0
      while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 0L) println("calibration loop degenerated")
      (System.nanoTime() - t0) / 1e6
    }.min

  /** (steal, total) CPU ticks of the whole machine so far, from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    } finally src.close()
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())

  def heapPeakBytes(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum

  /** Heap and non-heap memory in use right after a full collection, in
    * bytes: what the process holds on to, whatever size the collector let
    * the heap grow to meanwhile.
    */
  def retainedBytes(): Long = {
    // the first collection lets Spark's ContextCleaner drop the blocks of
    // unreachable broadcasts and shuffles; the second frees what it dropped
    System.gc()
    Thread.sleep(1000L)
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed
  }

  def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < 0x20 => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
}
