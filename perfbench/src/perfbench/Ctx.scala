package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed workload operation: wall seconds and the CPU seconds of work
  * the JVM did meanwhile ([[Machine.workS]]). `group` is "op" (the workload's frequent
  * operation), "heavy" (its heavy operation) or "" (counted in throughput
  * only).
  */
final case class OpRec(id: Int, cls: String, group: String, seconds: Double, cpuSeconds: Double,
                       ok: Boolean)

/** State shared by a run: session, tracer, seed, working directory, the
  * timed operations and the failed checks.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val dir: String) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  /** Ids of timed operations whose result failed a check. */
  val badOps = mutable.LinkedHashMap.empty[Int, String]
  /** End-of-run checks of the whole output: (name, passed). */
  val runChecks = mutable.ArrayBuffer.empty[(String, Boolean)]
  var timing = false

  /** Run one workload operation in the closed loop. Outside the timed
    * phase it is a plain traced call; inside it is recorded. A thrown
    * exception is a failed operation, never a fast one.
    */
  def op[A](cls: String, group: String = "")(body: => A): Option[A] = {
    val id = ops.size
    val m0 = Machine.sample()
    val t0 = System.nanoTime()
    val r =
      try Some(tracer.op(s"op.$cls")(body))
      catch {
        case NonFatal(e) =>
          if (!timing) throw e
          badOps(id) = s"$cls threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          None
      }
    if (timing)
      ops += OpRec(id, cls, group, (System.nanoTime() - t0) / 1e9, Machine.sample().minus(m0).workS,
        r.isDefined)
    r
  }

  /** Id the next recorded operation gets (for deferred result checks). */
  def nextOpId: Int = ops.size

  def checkOp(id: Int, passed: Boolean, what: => String): Unit =
    if (!passed && !badOps.contains(id)) badOps(id) = what

  def checkRun(name: String, passed: Boolean): Unit = runChecks += name -> passed
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile (at most p90, in steps of 10) that leaves at
    * least ten samples above it, and its value; None when there are fewer
    * than 25 samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    (90 to 60 by -10).find(p => xs.size * (100 - p) / 100 >= 10)
      .map(p => p -> quantile(xs, p / 100.0))
}
