package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Growable array of longs, so per-request timings never box. */
final class LongBuf(initial: Int = 1024) {
  private var a = new Array[Long](initial)
  private var n = 0
  def +=(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def length: Int = n
  def apply(i: Int): Long = a(i)
  def update(i: Int, v: Long): Unit = {
    while (i >= a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
    if (i >= n) n = i + 1
    a(i) = v
  }
  def toArray: Array[Long] = java.util.Arrays.copyOf(a, n)
}

object Stats {
  /** Nearest-rank percentile of unsorted values; NaN when empty. */
  def pct(xs: Array[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100 * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  /** Least-squares slope of y over x; 0 with fewer than two points. */
  def slope(pts: Seq[(Double, Double)]): Double =
    if (pts.length < 2) 0.0
    else {
      val mx = pts.map(_._1).sum / pts.length
      val my = pts.map(_._2).sum / pts.length
      val den = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
      if (den == 0) 0.0 else pts.map(p => (p._1 - mx) * (p._2 - my)).sum / den
    }
}

/** Facts about a running process and its files, read from outside it. */
object Probe {
  def status(pid: Long, key: String): Long =
    try Files.readAllLines(Paths.get(s"/proc/$pid/status")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: Exception => 0L }

  /** User plus system CPU seconds of `pid` (fields 14 and 15 of stat). */
  def cpuSeconds(pid: Long): Double =
    try {
      val s = new String(Files.readAllBytes(Paths.get(s"/proc/$pid/stat")))
      val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
      (f(11).toLong + f(12).toLong) / 100.0
    } catch { case _: Exception => 0.0 }

  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  def bytes(dir: Path): Long = files(dir).map(Files.size).sum

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** The fixed CPU calibration loop `graft.Bench` prints, best of two, so
    * runs on a loaded or slower box can be told apart from regressions. */
  def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var acc = 0L
      var i = 0
      while (i < 80000000) { acc += java.lang.Long.hashCode(acc + i); i += 1 }
      if (acc == 42L) System.err.println("")
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }
}
