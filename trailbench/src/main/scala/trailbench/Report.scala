package trailbench

import scala.collection.mutable

/** Order statistics over one run's samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(1, math.ceil(p / 100.0 * s.size).toInt) - 1)
  }

  /** The percentile actually reported for a request of `p` over `n`
    * samples: `p` itself when at least ten samples lie beyond it,
    * otherwise the next lower of 90 and 50 that has them. A sample too
    * small for even p50 still reports p50, flagged by its count.
    */
  def reportable(n: Int, p: Int): Int =
    Seq(99, 90, 50).filter(_ <= p).find(q => n * (100 - q) / 100.0 >= 10).getOrElse(50)
}

/** Samples, sums and output checks of one phase of a run. Checks are
  * always counted; timing samples only while `measuring`. `probe` times
  * the machine's momentary speed (see [[Calibration]]).
  */
final class Recorder(val measuring: Boolean, probe: () => Double = () => Double.NaN) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  var attempted = 0L
  var failed = 0L

  def add(name: String, v: Double): Unit =
    if (measuring) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def time[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    val s = (System.nanoTime() - t0) / 1e9
    add(name, s)
    (r, s)
  }

  /** Times a gated call right after a probe, so the two see the same
    * machine speed; records its time as `name` and, in probe units, as
    * `op_rel`.
    */
  def timeGated[T](name: String)(body: => T): (T, Double) = {
    val p = if (measuring) probe() else Double.NaN
    val r = time(name)(body)
    if (measuring) { add("op_rel", r._2 / p); add("calibration", p) }
    r
  }

  def addSum(name: String, v: Double): Unit = if (measuring) sums(name) += v
  def sum(name: String): Double = sums(name)

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[trailbench] output check failed: $what")
    }
  }

  def get(name: String): Seq[Double] = samples.getOrElse(name, Seq.empty).toSeq
}

/** One printed end-to-end or per-layer figure. */
final case class Figure(name: String, value: Double, unit: String, note: String = "")

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) f"$v%.1f" else v.toString

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Report {
  /** A latency percentile figure under the ten-beyond rule. */
  def pct(name: String, xs: Seq[Double], p: Int): Figure =
    if (xs.isEmpty) Figure(name, Double.NaN, "s", "n=0")
    else {
      val q = Stats.reportable(xs.size, p)
      Figure(name, Stats.pct(xs, q), "s",
        s"n=${xs.size}" + (if (q != p) s", reported as p$q (fewer than 10 samples beyond p$p)"
        else ""))
    }
}
