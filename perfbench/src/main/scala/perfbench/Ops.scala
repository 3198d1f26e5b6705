package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Failure accounting for the measured operations of one run.
  *
  * Every operation the benchmark times goes through [[attempt]]: it counts
  * as attempted, and an operation that throws counts as failed and returns
  * None, so its elapsed time never reaches a latency sample. Fatal errors
  * (OOM, interrupts) are not caught; they end the run.
  */
final class Ops {
  private var attemptedN = 0L
  private var failedN = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def attempted: Long = attemptedN
  def failed: Long = failedN
  def failedShare: Double = if (attemptedN == 0) 0.0 else failedN.toDouble / attemptedN

  /** Runs `f`, returning its value and wall seconds, or None when it throws. */
  def attempt[T](label: String)(f: => T): Option[(T, Double)] = {
    attemptedN += 1
    val t0 = System.nanoTime()
    try {
      val r = f
      Some((r, (System.nanoTime() - t0) / 1e9))
    } catch {
      case NonFatal(e) =>
        failedN += 1
        if (failures.size < 20) failures += s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[perfbench] operation failed: $label: $e")
        None
    }
  }
}

object Stats {
  /** Linear-interpolated quantile of `xs` (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Writes the result and span files. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}
