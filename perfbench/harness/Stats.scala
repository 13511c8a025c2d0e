package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object Stats {

  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = (p / 100.0) * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Heap in use after a full collection, in MB: what the program keeps
    * reachable, whatever the collector's sizing policy made resident.
    * Spark's context cleaner frees blocks of unreachable broadcasts and
    * shuffles on its own thread after a collection finds them, so the
    * collection is repeated after it has had time to run. */
  def retainedHeapMb(): Double = {
    (0 until 3).foreach { i =>
      if (i > 0) Thread.sleep(1000)
      System.gc()
    }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Fixed single-threaded CPU probe, the same loop as `graft.Bench`'s
    * `canary_sec`: its seconds read the host's speed during this run, so
    * a slow host window shows beside the numbers. */
  def canary(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < 200000000L) {
      h = java.lang.Long.rotateLeft(h * 0xc2b2ae3d27d4eb4fL, 31) ^ i
      i += 1
    }
    if (h == 0L) System.err.println("canary fixed point")
    (System.nanoTime() - t0) / 1e9
  }

  /** Order-independent content hash of a table: row count plus the
    * decimal sum of a 64-bit hash of every row (a sum cannot overflow
    * or cancel duplicate rows the way XOR would). */
  def tableHash(df: DataFrame): String = {
    val h = xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  def sha1(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
