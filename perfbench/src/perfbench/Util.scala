package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Clocks, order statistics and the run's result record. */
object Util {

  def nowMs: Long = System.currentTimeMillis()

  /** Wall milliseconds of `f`, with its result. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def timeMs(f: => Unit): Double = timed(f)._2

  /** Linear-interpolated percentile (p in [0, 1]) of unsorted values. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Percentile of a weighted sample: the smallest value whose
    * cumulative weight reaches p of the total. */
  def weightedPct(xs: Seq[(Double, Long)], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sortBy(_._1)
    val total = s.map(_._2).sum.toDouble
    var acc = 0.0
    s.find { case (_, w) => acc += w; acc >= p * total }.getOrElse(s.last)._1
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Accumulated GC time over every collector, in ms. */
  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum.toDouble

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length() else 0L

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}

/** What one run measured. `e2e` and `layer` are keyed by the metric
  * names in BENCHMARK.json; `info` holds extra figures for the record
  * (sample counts, per-phase splits) that the final line does not
  * carry. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val gates = mutable.LinkedHashMap[String, Boolean]()
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Double]()
  val notes = mutable.ArrayBuffer[String]()

  /** Record a correctness gate; a failed gate counts as a failed
    * operation. */
  def gate(name: String, ok: Boolean, detail: => String = ""): Unit = {
    gates(name) = gates.getOrElse(name, true) && ok
    if (!ok) {
      failed += 1
      notes += s"gate $name failed: $detail"
      System.err.println(s"[perfbench] gate $name failed: $detail")
    }
  }

  /** Run one attempted operation; an exception counts as a failure. */
  def attempt[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable =>
        failed += 1
        notes += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }

  def toJson: String = {
    def obj(m: Iterable[(String, Double)]) =
      m.map { case (k, v) => s"${Util.jsonStr(k)}:${Util.jsonNum(v)}" }.mkString("{", ",", "}")
    val g = gates.map { case (k, v) => s"${Util.jsonStr(k)}:$v" }.mkString("{", ",", "}")
    s"""{"correct":${gates.values.forall(identity) && failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""gates":$g,"e2e":${obj(e2e)},"layer":${obj(layer)},"info":${obj(info)},""" +
      s""""notes":${notes.map(Util.jsonStr).mkString("[", ",", "]")}}"""
  }
}
