package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(kv.toMap)
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), p in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toArray
    val pos = p * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Least-squares (intercept, slope) of y against x. */
  def fit(xy: Seq[(Double, Double)]): (Double, Double) = {
    val n = xy.size.toDouble
    if (n < 2) return (Double.NaN, Double.NaN)
    val mx = xy.map(_._1).sum / n
    val my = xy.map(_._2).sum / n
    val sxx = xy.map { case (x, _) => (x - mx) * (x - mx) }.sum
    val sxy = xy.map { case (x, y) => (x - mx) * (y - my) }.sum
    val slope = if (sxx == 0) 0.0 else sxy / sxx
    (my - slope * mx, slope)
  }
}

/** JVM-wide counters: collector time, and the heap still in use right after
  * a full collection (the retained state). */
object Jvm {
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

  private var explicitGcMs = 0L
  private var peakLiveBytes = 0L

  /** Collect, then sample the heap in use. Spark's cleaner releases the
    * blocks of collected plans (broadcasts, shuffles) only after a
    * collection finds them, so the heap settles over a few collections a
    * moment apart; the sample is taken after the last. Their own time is
    * kept out of [[collectorMs]]. */
  def sampleLiveHeap(): Unit = {
    val before = gcMs
    for (_ <- 1 to 4) { Thread.sleep(250); System.gc() }
    explicitGcMs += gcMs - before
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakLiveBytes = math.max(peakLiveBytes, used)
  }

  def liveHeapMbPeak: Double = peakLiveBytes / 1048576.0

  /** Collector time since `since` (a [[gcMs]] reading), excluding the
    * benchmark's own heap samples. */
  def collectorMs(since: Long, explicitSince: Long): Long =
    (gcMs - since) - (explicitGcMs - explicitSince)

  def explicitMs: Long = explicitGcMs

  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - startMs) / 1000.0}%7.2fs] $msg")
}
