package graftbench

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** full precision; non-finite values (an undefined ratio) print as 0 */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

object Stats {
  /** linear-interpolated quantile (q in [0, 1]); NaN on no samples */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
  def ratio(a: Double, b: Double): Double = if (b == 0) Double.NaN else a / b
}

/** Timed-region clock of a closed loop: only the measured calls add to it. */
final class Clock(val budgetS: Double) {
  private var usedNs = 0L
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    val dt = System.nanoTime() - t0
    usedNs += dt
    (r, dt / 1e9)
  }
  def usedS: Double = usedNs / 1e9
  def expired: Boolean = usedS >= budgetS
}

/** Correctness bookkeeping: every check and every engine call counts as
  * attempted; a failed check or a call that threw counts as failed. */
final class Checks {
  private val ran = scala.collection.mutable.LinkedHashMap.empty[String, (Int, Int)]
  private val firstFailures = scala.collection.mutable.ArrayBuffer.empty[String]
  var callsAttempted = 0L
  var callsFailed = 0L

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val (n, f) = ran.getOrElse(name, (0, 0))
    ran(name) = (n + 1, if (ok) f else f + 1)
    if (!ok && firstFailures.size < 20) firstFailures += s"$name: $detail"
  }
  def attempted: Long = callsAttempted + ran.values.map(_._1).sum
  def failed: Long = callsFailed + ran.values.map(_._2).sum
  def counts: Seq[(String, Int, Int)] =
    ran.toSeq.map { case (k, (n, f)) => (k, n, f) }
  def failures: Seq[String] = firstFailures.toSeq
}
