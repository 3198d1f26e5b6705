package perfbench

import graft.core.TableLog
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** `tablelog_history`: one change-data-feed table grown from an empty
  * history by a single client.
  *
  * A pass replays the same seeded sequence of [[TablelogHistory.Commits]]
  * DML commits on a fresh table: `append` of a small batch, a single-key
  * `deleteWhereDv`, or a small keyed `upsert`. Every commit is followed by
  * a snapshot `read` into a noop sink, and every
  * [[TablelogHistory.ChangesEvery]] commits a trailing-window `changes`
  * runs. An in-memory model applies the same operations; the
  * final snapshot must equal it.
  */
final class TablelogHistory(val ctx: Ctx) extends Workload {
  import ctx.{ops, spark, tracer}
  import spark.implicits._
  import TablelogHistory._

  private val dir = s"${ctx.work}/tablelog/history"

  private var script: Seq[Op] = Nil
  private var model = mutable.LinkedHashMap.empty[Long, (Long, String)]
  private val dmlOps = Seq("append", "deleteWhereDv", "upsert")

  /** The operation sequence: a fixed cycle of kinds (A = append, D =
    * delete, U = upsert), so every seed has the same mix, with seeded rows
    * and keys. Keys for deletes and updates are drawn as fractions,
    * resolved against the model's live keys at replay.
    */
  def generate(): Unit = {
    val rng = new scala.util.Random(ctx.seed)
    var nextId = 0L
    def rows(n: Int) = (0 until n).map { _ =>
      val id = nextId
      nextId += 1
      (id, rng.nextInt(1000).toLong, rng.alphanumeric.take(12).mkString)
    }
    script = (0 until Commits).map(i => Cycle(i % Cycle.length)).map {
      case 'A' => Append(rows(BatchRows))
      case 'D' => Delete(rng.nextDouble())
      case _ => Upsert(Seq.fill(5)(rng.nextDouble()), rows(2))
    }
  }

  private def liveKey(frac: Double): Long = {
    val keys = model.keysIterator.toIndexedSeq
    keys((frac * keys.size).toInt min (keys.size - 1))
  }

  /** Replays the operation sequence on a fresh table. */
  private def replay(sample: (String, Double) => Unit): Unit = {
    graft.queries.Scratch.wipe(dir)
    model = mutable.LinkedHashMap.empty
    script.zipWithIndex.foreach { case (op, i) =>
      val (name, run, apply) = op match {
        case Append(rs) =>
          ("append", () => TableLog.append(spark, dir, rs.toDF("id", "v", "s")),
            () => rs.foreach { case (id, v, s) => model(id) = (v, s) })
        case Delete(pick) =>
          val k = liveKey(pick)
          ("deleteWhereDv", () => TableLog.deleteWhereDv(spark, dir, col("id") === k),
            () => model.remove(k))
        case Upsert(picks, fresh) =>
          val rs = picks.map(liveKey).distinct.map(k => (k, model(k)._1 + 1, model(k)._2)) ++ fresh
          ("upsert", () => TableLog.upsert(spark, dir, rs.toDF("id", "v", "s"), Seq("id")),
            () => rs.foreach { case (id, v, s) => model(id) = (v, s) })
      }
      ops.attempt(s"$name #$i")(tracer.span(s"$name.$i", "core.TableLog")(run())).foreach {
        case (_, s) =>
          apply()
          sample("commit_ms", s * 1e3)
          sample(s"$name.$i", s * 1e3)
      }
      if (i == 0) TableLog.setTableProperties(spark, dir, Map(
        "graft.enableChangeDataFeed" -> "true", "graft.changeDataFeed.keys" -> "id"))
      ops.attempt(s"read #$i")(tracer.span(s"read.$i", "core.TableLog")(
        TableLog.read(spark, dir).write.format("noop").mode("overwrite").save()))
        .foreach { case (_, s) => sample("read_ms", s * 1e3); sample(s"read.$i", s * 1e3) }
      if ((i + 1) % ChangesEvery == 0) {
        val tip = TableLog.versions(spark, dir).last
        ops.attempt(s"changes #$i")(tracer.span(s"changes.$i", "core.TableLog")(
          TableLog.changes(spark, dir, math.max(0L, tip - ChangesEvery), tip, Seq("id"))
            .write.format("noop").mode("overwrite").save()))
          .foreach { case (_, s) => sample(s"changes.$i", s * 1e3) }
      }
      ctx.maybeInjectFailure()
    }
  }

  def warmUp(): Unit = replay((_, _) => ())

  def loop(seconds: Double): LoopResult = passesFor(seconds)(replay)

  /** Samples of `prefix` (keyed by commit index) from the last tenth of the history. */
  private def late(r: LoopResult, prefix: String): Seq[Double] =
    r.samples.toSeq.collect {
      case (k, v) if k.startsWith(prefix + ".") && k.drop(prefix.length + 1).toInt >= Commits * 9 / 10 => v
    }.flatten

  def endToEnd(r: LoopResult): Map[String, (Double, String)] =
    Map("pass_s" -> (Stats.median(r.passS), "s"))

  def perLayer(untraced: LoopResult, traced: LoopResult): Map[String, (Double, String)] = {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    val c = untraced.get("commit_ms")
    m("tablelog.commit_p50_ms") = (Stats.median(c), "ms")
    m("tablelog.commit_p90_ms") = (Stats.quantile(c, 0.9), "ms")
    m("tablelog.late_commit_p50_ms") = (Stats.median(dmlOps.flatMap(late(untraced, _))), "ms")
    m("tablelog.read_p50_ms") = (Stats.median(untraced.get("read_ms")), "ms")
    for (op <- dmlOps :+ "read" :+ "changes") {
      val spans = tracer.spans.filter(s => s.layer == "core.TableLog" && s.name.startsWith(op + "."))
      val idx = (s: Span) => s.name.drop(op.length + 1).toInt
      // the last tenth of this operation's own calls (at least one)
      val opIdx = spans.map(idx).distinct.sorted
      val lateIdx = opIdx.takeRight(math.max(1, opIdx.size / 10)).toSet
      val lateSpans = spans.filter(s => lateIdx(idx(s)))
      def med(ss: Seq[Span], f: Span => Double) = if (ss.isEmpty) 0.0 else Stats.median(ss.map(f))
      m(s"tablelog.$op.p50_ms") = (med(spans, _.durMs), "ms")
      m(s"tablelog.$op.late_p50_ms") = (med(lateSpans, _.durMs), "ms")
      m(s"tablelog.$op.jobs") = (med(spans, tracer.jobsIn(_).size.toDouble), "count")
      m(s"tablelog.$op.driver_gap_ms") = (med(spans, tracer.driverGapMs), "ms")
    }
    m ++= storage()
    m.toMap
  }

  /** Layout of the final table: log tip size, deletion-vector entries,
    * data files, and bytes on disk over the live snapshot written once.
    */
  private def storage(): Map[String, (Double, String)] = {
    val root = java.nio.file.Path.of(dir)
    def files(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
      finally s.close()
    }
    val all = files(root)
    val logTip = all.filter(_.getParent.getFileName.toString == "_graft_log")
      .maxBy(_.getFileName.toString)
    val dataFiles = all.count { p =>
      val rel = root.relativize(p).toString
      rel.endsWith(".parquet") && !rel.startsWith("_")
    }
    val once = s"${ctx.work}/tablelog/snapshot_once"
    graft.queries.Scratch.wipe(once)
    TableLog.read(spark, dir).coalesce(1).write.parquet(once)
    val onceBytes = files(java.nio.file.Path.of(once))
      .filter(_.getFileName.toString.endsWith(".parquet")).map(java.nio.file.Files.size).sum
    Map(
      "tablelog.tip_log_bytes" -> (java.nio.file.Files.size(logTip).toDouble, "bytes"),
      "tablelog.dv_entries" -> (TableLog.dvEntryCount(spark, dir).toDouble, "count"),
      "tablelog.data_files" -> (dataFiles.toDouble, "count"),
      "tablelog.storage_amplification" ->
        (all.map(java.nio.file.Files.size).sum.toDouble / onceBytes, "ratio"))
  }

  def check(): Seq[String] = {
    val snap = TableLog.read(spark, dir).select("id", "v", "s").as[(Long, Long, String)]
      .collect().map { case (id, v, s) => id -> (v, s) }
    val ids = snap.map(_._1)
    if (ids.distinct.length != ids.length) Seq("final snapshot has duplicate ids")
    else if (snap.toMap != model.toMap)
      Seq(s"final snapshot (${snap.length} rows) differs from the model (${model.size} rows)")
    else Nil
  }

  override def observed: Map[String, Any] = Map(
    "commits" -> Commits.toString, "batch_rows" -> BatchRows.toString,
    "changes_every" -> ChangesEvery.toString, "rows" -> model.size.toString,
    "versions" -> TableLog.versions(spark, dir).size.toString)
}

object TablelogHistory {
  /** History length, rows per append and the `changes` window: sized so a
    * run takes about 40 s on 4 cores (README.md, Sizing).
    */
  val Commits = 12
  val BatchRows = 50
  val ChangesEvery = 4

  sealed trait Op
  final case class Append(rows: Seq[(Long, Long, String)]) extends Op
  final case class Delete(pick: Double) extends Op
  final case class Upsert(picks: Seq[Double], fresh: Seq[(Long, Long, String)]) extends Op

  /** Kinds of the commits, in order: 4 appends, 5 deletes, 3 upserts per
    * 12, so the median commit is a delete and the 90th percentile an upsert
    * rather than a boundary between two kinds.
    */
  val Cycle = "ADUADAUDADUD"
}
