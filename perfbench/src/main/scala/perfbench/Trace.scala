package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.CreateDataSourceTableAsSelectCommand
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed call into a layer's public function. Times are epoch ms. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      iter: Int, startMs: Double, endMs: Double, ok: Boolean) {
  def durMs: Double = endMs - startMs
}

final class JobRec(val id: Int, val span: Int, val startMs: Double) {
  var endMs: Double = Double.NaN
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** A table write seen by the QueryExecutionListener, attributed to the
  * span that was open when the listener bus was drained after it.
  */
final case class WriteRec(table: String, span: Int, seconds: Double)

/** Per-layer tracing for a traced run.
  *
  * Spans are taken around the calls the benchmark makes into each layer
  * and kept in memory. Counts come from a SparkListener (jobs, shuffle
  * write, spill, job intervals) and a QueryExecutionListener (table
  * writes), both registered by [[enable]]. A job is attributed to the
  * innermost span open on the thread that submitted it, via a Spark local
  * property that threads created inside the span inherit.
  */
final class Tracer(spark: SparkSession) {
  private val SpanProp = "perfbench.span"
  private val sc = spark.sparkContext
  private val epochBase = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs: Double = epochBase + System.nanoTime() / 1e6

  private var on = false
  def enabled: Boolean = on
  var iteration = 0

  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val pendingWrites = mutable.ArrayBuffer.empty[(String, Double)]
  private val writeBuf = mutable.ArrayBuffer.empty[WriteRec]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = new JobRec(e.jobId, span, e.time.toDouble)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val m = e.stageInfo.taskMetrics
        if (m != null) stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach { j =>
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.diskBytesSpilled
        }
      }
  }

  private val writeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.writeTarget(qe.logical).foreach { t =>
        Tracer.this.synchronized(pendingWrites += ((t, durationNs / 1e9)))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Registers both listeners; spans are recorded from here on. */
  def enable(): Unit = if (!on) {
    sc.addSparkListener(jobListener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(writeListener)
    on = true
  }

  /** Delivers pending events, then removes both listeners; recorded spans
    * and counts stay readable.
    */
  def disable(): Unit = if (on) {
    drain()
    sc.removeSparkListener(jobListener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.unregister(writeListener)
    on = false
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Times `f` as a span of `layer`. With `drainAfter`, the listener bus is
    * drained once the span has closed (outside its time) and table writes
    * seen since the last drain are attributed to this span.
    */
  def span[T](name: String, layer: String, drainAfter: Boolean = false)(f: => T): T =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      stack = id :: stack
      val t0 = nowMs
      var ok = false
      try {
        val r = f
        ok = true
        r
      } finally {
        val t1 = nowMs
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prevProp)
        spanBuf += Span(id, name, layer, parent, iteration, t0, t1, ok)
        if (drainAfter) {
          drain()
          synchronized {
            writeBuf ++= pendingWrites.map { case (t, s) => WriteRec(t, id, s) }
            pendingWrites.clear()
          }
        }
      }
    }

  def spans: Seq[Span] = spanBuf.toSeq

  private def descendants(root: Int): Set[Int] = {
    val kids = spanBuf.groupBy(_.parent).view.mapValues(_.map(_.id)).toMap
    def go(id: Int): Set[Int] = kids.getOrElse(id, Nil).toSet.flatMap(go) + id
    go(root)
  }

  /** Jobs submitted inside `s` or any span nested in it. */
  def jobsIn(s: Span): Seq[JobRec] = synchronized {
    val ids = descendants(s.id)
    jobs.values.filter(j => ids.contains(j.span)).toSeq
  }

  /** Milliseconds of `s` during which no Spark job was running. */
  def driverGapMs(s: Span): Double = {
    val iv = synchronized(jobs.values.toSeq)
      .map(j => (math.max(j.startMs, s.startMs),
        math.min(if (j.endMs.isNaN) s.endMs else j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, s.durMs - covered)
  }

  /** Table writes attributed to `s`, one per table: the longest write. */
  def writesIn(s: Span): Map[String, Double] = synchronized {
    writeBuf.filter(_.span == s.id).groupBy(_.table)
      .view.mapValues(_.map(_.seconds).max).toMap
  }

  /** Self time per layer: each span's time minus its child spans' time. */
  def selfMsByLayer: Map[String, Double] = {
    val childMs = spanBuf.groupBy(_.parent).view.mapValues(_.map(_.durMs).sum).toMap
    spanBuf.groupBy(_.layer).view
      .mapValues(_.map(s => s.durMs - childMs.getOrElse(s.id, 0.0)).sum).toMap
  }

  /** Writes every span, with its inclusive job counts and driver gap. */
  def writeSpanFile(path: String): Unit = {
    val rows = spanBuf.map { s =>
      val js = jobsIn(s)
      Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "iter" -> s.iter, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "ok" -> s.ok,
        "jobs" -> js.size, "shuffle_write_bytes" -> js.map(_.shuffleWriteBytes).sum,
        "spill_bytes" -> js.map(_.spillBytes).sum, "driver_gap_ms" -> driverGapMs(s),
        "writes" -> writesIn(s))
    }
    Json.write(path, rows)
  }
}

object Tracer {
  /** Name of the table a write command targets, without the swap suffix
    * the pipeline's overwrite-via-staging protocol adds.
    */
  def writeTarget(plan: LogicalPlan): Option[String] =
    plan.collectFirst {
      case c: CreateDataSourceTableAsSelectCommand => c.table.identifier.table
      case i: InsertIntoHadoopFsRelationCommand if i.catalogTable.isDefined =>
        i.catalogTable.get.identifier.table
    }.map(_.stripSuffix("__staging"))
}
