package perfbench

import graft.core.ScdClock
import graft.faers.Pipeline
import graft.faers.gold.{Dims, FactAnalytics}
import org.apache.spark.sql.functions.{col, count, lit, sum, when}
import scala.collection.mutable

/** `faers_quarter`: the quarterly medallion job plus its reports.
  *
  * Each pass starts on a wiped warehouse and runs two epochs through
  * `Pipeline.runBronze` -> `runSilver` -> `runGold`: the initial quarter
  * (Q1) and an incremental follow-up (Q2, whose salt comes from the seed,
  * so its SCD2 merges close versions). Then the 10 `FactAnalytics.all`
  * reports run [[FaersQuarter.ReportRounds]] times each over the gold fact,
  * into a noop sink. After each pass and after the warm-up, untimed, the
  * gold tables are counted and every report is hashed for the output
  * checks, so every run compares at least two observations.
  */
final class FaersQuarter(val ctx: Ctx) extends Workload {
  import ctx.{ops, spark, tracer}

  import FaersQuarter._

  // nonzero and never a multiple of the weight cycle (80), so Q2 changes
  // the tracked weight of every fifth case
  private val salt = 1 + (ctx.seed % 79).toInt
  private val landing1 = s"${ctx.work}/landing_q1"
  private val landing2 = s"${ctx.work}/landing_q2"
  private val warehouse = s"${ctx.work}/warehouse"
  private val clock1 = java.time.Instant.parse("2025-01-15T00:00:00Z")
  private val clock2 = java.time.Instant.parse("2025-04-15T00:00:00Z")

  /** Per-pass gold counts and report hashes, compared across passes. */
  private val passObservations = mutable.ArrayBuffer.empty[Map[String, String]]
  private val checkFailures = mutable.ArrayBuffer.empty[String]
  /** Per traced epoch: data files under the gold layer after it. */
  private val goldFiles = mutable.ArrayBuffer.empty[(String, Double)]

  def generate(): Unit = {
    Seq(landing1, landing2).foreach(graft.queries.Scratch.wipe)
    graft.faers.SyntheticQuarter.write(landing1, Cases)
    graft.faers.SyntheticQuarter.write(landing2, Cases, yy = 25, q = 2, salt = salt)
  }

  /** Drops the three databases and deletes their directories and the
    * bucketed SCD2 stores, which live outside them and are sticky.
    */
  private def wipeWarehouse(): Unit = {
    Pipeline.databases.foreach { db =>
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      graft.queries.Scratch.wipe(s"$warehouse/$db.db")
    }
    graft.queries.Scratch.wipe(s"$warehouse/gold_scd2")
  }

  private def epoch(tag: String, landing: String, q: Int,
                    clock: java.time.Instant): Option[Double] = {
    val scd = ScdClock.fixed(clock.toString.take(10))
    ops.attempt(s"epoch $tag") {
      tracer.span(s"faers.Bronze.$tag", "faers.Bronze", drainAfter = true)(
        Pipeline.runBronze(spark, landing, 25, q, Some(clock)))
      tracer.span(s"faers.Silver.$tag", "faers.Silver", drainAfter = true)(
        Pipeline.runSilver(spark, Some(clock)))
      tracer.span(s"faers.gold.$tag", "faers.gold", drainAfter = true)(
        Pipeline.runGold(spark, scd, Some(scd.today)))
    }.map(_._2)
  }

  private def reports() = FactAnalytics.all(spark.table("gold.fact_adverse_events"))

  private def onePass(rounds: Int, sample: (String, Double) => Unit): Unit = {
    wipeWarehouse()
    Pipeline.initDatabases(spark)
    val e1 = epoch("e1", landing1, 1, clock1)
    if (tracer.enabled) ctx.untimed(goldFiles += ("e1" -> goldDataFiles().toDouble))
    val e2 = e1.flatMap(_ => epoch("e2", landing2, 2, clock2))
    if (tracer.enabled) ctx.untimed(goldFiles += ("e2" -> goldDataFiles().toDouble))
    ctx.maybeInjectFailure()
    e1.foreach(sample("initial_s", _))
    e2.foreach(sample("incremental_s", _))
    if (e1.isDefined && e2.isDefined) {
      (0 until rounds).foreach { _ =>
        reports().foreach { case (name, df) =>
          ops.attempt(s"report $name") {
            tracer.span(s"report.$name", "faers.gold.FactAnalytics")(
              df.write.format("noop").mode("overwrite").save())
          }.foreach { case (_, s) =>
            sample("report_ms", s * 1e3)
            sample(s"report.${name}_ms", s * 1e3)
          }
        }
      }
      ctx.untimed(passObservations += observeGold())
    }
  }

  /** Both epochs and one round of reports on a wiped warehouse. */
  def warmUp(): Unit = onePass(1, (_, _) => ())

  def loop(seconds: Double): LoopResult =
    passesFor(seconds)(onePass(ReportRounds, _))

  def endToEnd(r: LoopResult): Map[String, (Double, String)] =
    Map("pass_s" -> (Stats.median(r.passS), "s"))

  def perLayer(untraced: LoopResult, traced: LoopResult): Map[String, (Double, String)] = {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    val rep = untraced.get("report_ms")
    m("faers.initial_quarter_s") = (Stats.median(untraced.get("initial_s")), "s")
    m("faers.incremental_quarter_s") = (Stats.median(untraced.get("incremental_s")), "s")
    m("faers.report_p50_ms") = (Stats.median(rep), "ms")
    m("faers.report_p90_ms") = (Stats.quantile(rep, 0.9), "ms")
    for ((layer, short) <- Seq("faers.Bronze" -> "Bronze", "faers.Silver" -> "Silver",
                               "faers.gold" -> "gold")) {
      val spans = tracer.spans.filter(_.layer == layer)
      for (tag <- Seq("e1", "e2")) {
        val ss = spans.filter(_.name.endsWith(s".$tag"))
        m(s"faers.$short.s.$tag") = (Stats.median(ss.map(_.durMs / 1e3)), "s")
      }
      val jobs = spans.map(tracer.jobsIn)
      m(s"faers.$short.jobs") = (Stats.median(jobs.map(_.size.toDouble)), "count")
      m(s"faers.$short.driver_gap_s") =
        (Stats.median(spans.map(tracer.driverGapMs(_) / 1e3)), "s")
      if (short == "gold") {
        m("faers.gold.shuffle_write_mb") =
          (Stats.median(jobs.map(_.map(_.shuffleWriteBytes).sum / 1e6)), "MB")
        m("faers.gold.spill_mb") = (Stats.median(jobs.map(_.map(_.spillBytes).sum / 1e6)), "MB")
        for (tag <- Seq("e1", "e2")) {
          m(s"faers.gold.files.$tag") =
            (Stats.median(goldFiles.filter(_._1 == tag).map(_._2).toSeq), "count")
          val writes = spans.filter(_.name.endsWith(s".$tag")).map(tracer.writesIn)
          for (t <- Dims.specs.map(_.name) :+ "fact_adverse_events")
            m(s"gold.$t.write_s.$tag") =
              (Stats.median(writes.map(_.getOrElse(t, 0.0))), "s")
        }
      }
    }
    traced.samples.keys.filter(_.startsWith("report.")).foreach { k =>
      m(k) = (Stats.median(traced.get(k)), "ms")
    }
    m.toMap
  }

  private def goldDataFiles(): Long = {
    val root = java.nio.file.Path.of(warehouse)
    Seq("gold.db", "gold_scd2").map(root.resolve).filter(java.nio.file.Files.exists(_))
      .map { p =>
        val s = java.nio.file.Files.walk(p)
        try s.filter(f => f.getFileName.toString.startsWith("part-")).count()
        finally s.close()
      }.sum
  }

  /** Counts of the gold layer and an order-insensitive hash of each report. */
  private def observeGold(): Map[String, String] = {
    val obs = mutable.LinkedHashMap.empty[String, String]
    obs("fact_adverse_events.rows") = spark.table("gold.fact_adverse_events").count().toString
    Dims.specs.foreach { spec =>
      val row = spark.table(s"gold.${spec.name}")
        .groupBy(spec.businessKeys.map(col): _*)
        .agg(count(lit(1)).as("n"),
          sum(when(col("is_current"), 1).otherwise(0)).as("cur"))
        .agg(sum("n"), count(lit(1)), sum(when(col("cur") =!= 1, 1).otherwise(0)))
        .first()
      val rows = row.getLong(0)
      val keys = row.getLong(1)
      obs(s"${spec.name}.rows") = rows.toString
      obs(s"${spec.name}.closed") = (rows - keys).toString
      if (row.getLong(2) != 0)
        checkFailures += s"${spec.name}: ${row.getLong(2)} business keys without exactly one current row"
    }
    reports().foreach { case (name, df) =>
      obs(s"report.$name.sha256") = Reports.hash(df)
    }
    obs.toMap
  }

  def check(): Seq[String] = {
    val distinct = passObservations.distinct
    val out = checkFailures.distinct.toSeq ++
      (if (passObservations.size < 2) Seq("fewer than two passes completed both epochs") else Nil)
    if (distinct.size <= 1) out
    else out ++ distinct.head.keys.filter(k => distinct.map(_.get(k)).distinct.size > 1)
      .map(k => s"$k differs across passes: ${distinct.map(_.getOrElse(k, "-")).mkString(", ")}")
  }

  override def observed: Map[String, Any] =
    passObservations.lastOption.getOrElse(Map.empty[String, String]) ++
      Map("cases" -> Cases.toString, "report_rounds" -> ReportRounds.toString,
        "salt" -> salt.toString)
}

object FaersQuarter {
  /** Cases per quarter and report rounds per pass: sized so a run (set-up,
    * one pass, checks) takes about 85 s on 4 cores (README.md, Sizing).
    */
  val Cases = 1000
  val ReportRounds = 3
}

/** Order-insensitive content hash of a small result. */
object Reports {
  private def cell(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN) "NaN" else f"$d%.6e"
    case f: Float => f"${f.toDouble}%.6e"
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  def hash(df: org.apache.spark.sql.DataFrame): String = {
    val cols = df.columns.sorted
    val lines = df.select(cols.map(col): _*).collect()
      .map(r => r.toSeq.map(cell).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(cols.mkString(",").getBytes("UTF-8"))
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}
