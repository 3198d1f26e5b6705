package perfbench

import org.apache.spark.sql.SparkSession

/** One measured run of one workload, in a JVM started by `perfbench/run.py`.
  *
  * Setup (timed as `setup_s`): session start, input generation three times
  * (the median counts), one warm-up pass. Then the workload's closed loop
  * runs whole passes for about `--seconds`. A traced run splits the time:
  * the first half runs untraced, the second traced; traced minus untraced
  * median pass time is the tracing overhead (it includes the second half
  * being warmer).
  * Output checks run after the timed region, or in untimed blocks inside
  * it ([[Ctx.untimed]]); the result goes to `--out`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, out: String, spans: String, injectFailure: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      kv.get("trace").contains("1"), need("work"), need("out"),
      kv.getOrElse("spans", ""), kv.get("inject-failure").contains("1"))
  }

  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark_local")
      .getOrCreate()
    graft.core.Session.tune(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(a.work, cores)
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ops = new Ops
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, a.work, a.seed, ops, tracer, a.injectFailure)
    val wl: Workload = a.workload match {
      case "faers_quarter" => new FaersQuarter(ctx)
      case "tablelog_history" => new TablelogHistory(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val genS = (1 to 3).map(_ => ctx.timed(wl.generate()))
    System.err.println(f"[perfbench] session ${sessionS}%.2f s, generate ${genS.mkString(" ")} s")
    val warmS = ctx.timed(wl.warmUp())
    System.err.println(f"[perfbench] warm-up $warmS%.2f s")
    val setupS = sessionS + Stats.median(genS) + warmS

    val metrics: Map[String, (Double, String)] =
      if (!a.trace) {
        val run = wl.loop(a.seconds)
        wl.endToEnd(run) + ("setup_s" -> (setupS, "s"))
      } else {
        val untraced = wl.loop(a.seconds / 2)
        tracer.enable()
        val traced = wl.loop(a.seconds / 2)
        tracer.disable()
        if (a.spans.nonEmpty) tracer.writeSpanFile(a.spans)
        val selfS = tracer.selfMsByLayer.map { case (l, ms) =>
          s"self_s.$l" -> (ms / 1e3 / traced.passS.size, "s") }
        wl.perLayer(untraced, traced) ++ selfS ++ Map(
          "trace_overhead.pass_s" -> (Stats.median(traced.passS) - Stats.median(untraced.passS), "s"),
          "jvm.peak_rss_mb" -> (peakRssMb(), "MB"))
      }
    val checks = wl.check()
    Json.write(a.out, Map[String, Any](
      "correct" -> checks.isEmpty,
      "attempted" -> ops.attempted,
      "failed" -> ops.failed,
      "failed_share" -> ops.failedShare,
      "failures" -> ops.failures,
      "check_failures" -> checks,
      "observed" -> wl.observed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> genS, "warmup_s" -> warmS),
      "nproc" -> cores))
    spark.stop()
  }
}

/** What a workload needs from the run. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long, val ops: Ops,
                val tracer: Tracer, injectFailure: Boolean) {
  private var untimedNs = 0L

  /** Wall seconds of `f`, less the time it spent in [[untimed]] blocks. */
  def timed(f: => Unit): Double = {
    val u0 = untimedNs
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0 - (untimedNs - u0)) / 1e9
  }

  /** Runs `f` outside the measured time of the enclosing [[timed]]: output
    * observations and trace bookkeeping that are not the workload's work.
    */
  def untimed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally untimedNs += System.nanoTime() - t0
  }

  /** The self-test's injected failure: a real call that throws (a snapshot
    * read of a table that was never written), counted like any other.
    */
  def maybeInjectFailure(): Unit =
    if (injectFailure) ops.attempt("injected: read of a missing table") {
      graft.core.TableLog.read(spark, s"$work/never_written").count()
    }
}

/** Timed samples of one closed loop: whole-pass wall seconds in pass order,
  * and the workload's own named latency samples.
  */
final case class LoopResult(passS: Seq[Double], samples: Map[String, Seq[Double]]) {
  def get(k: String): Seq[Double] = samples.getOrElse(k, Seq.empty)
}

trait Workload {
  def ctx: Ctx

  /** Writes the run's inputs (deterministic in the seed); run three times. */
  def generate(): Unit
  def warmUp(): Unit
  /** Runs whole passes for about `seconds` (at least one). */
  def loop(seconds: Double): LoopResult
  def endToEnd(r: LoopResult): Map[String, (Double, String)]
  def perLayer(untraced: LoopResult, traced: LoopResult): Map[String, (Double, String)]
  /** Output checks; returns the failed ones. */
  def check(): Seq[String]
  /** Values the driver-side checks compare (counts, hashes). */
  def observed: Map[String, Any] = Map.empty

  /** Runs `pass` while another pass as long as the last one still ends
    * within `seconds` (at least one pass), recording each pass's wall time
    * less its untimed blocks; `pass` adds its own latency samples through
    * the `sample` function it is given.
    */
  protected def passesFor(seconds: Double)(
      pass: ((String, Double) => Unit) => Unit): LoopResult = {
    val samples = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    def sample(k: String, v: Double): Unit =
      samples.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty) += v
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer.empty[Double]
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 + out.last <= seconds) {
      ctx.tracer.iteration += 1
      out += ctx.timed(pass(sample))
      System.err.println(f"[perfbench] pass $i: ${out.last}%.2f s")
      i += 1
    }
    LoopResult(out.toSeq, samples.map { case (k, v) => k -> v.toSeq }.toMap)
  }
}
