package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Optimization-round measurement tool (guide §1): run named queries
  * through the bench's noop-sink methodology with a job- and stage-level
  * listener, printing job count, in-job vs inter-job gap seconds, and
  * per-stage wall time, task count, shuffle read/write and spill — the
  * "where does the time actually go" view the UI would give if it were
  * enabled.
  *
  * Usage: tools/run.sh graft.Profile <sfDir> q1,q2,...
  * Each query runs twice; the second (warm) run is the one profiled.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.core.Session.local(appName = "graft-profile",
      extra = Map("spark.sql.warehouse.dir" ->
        graft.queries.Scratch.dir("profile_warehouse")))
    spark.sparkContext.setLogLevel("ERROR")

    case class St(name: String, submitted: Long) {
      var completed: Long = 0
      var tasks: Int = 0
      var shufRead: Long = 0
      var shufWrite: Long = 0
      var input: Long = 0
      var spillDisk: Long = 0
      var cpuNs: Long = 0
    }
    val stages = mutable.LinkedHashMap[Int, St]()
    val stageJob = mutable.HashMap[Int, (Int, String)]()
    case class Jb(desc: String, started: Long) { var ended: Long = 0 }
    val jobs = mutable.LinkedHashMap[Int, Jb]()
    var collecting = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (collecting) stages.synchronized {
          val desc = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(e.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("")
          jobs(e.jobId) = Jb(desc, System.nanoTime())
          e.stageIds.foreach(sid => stageJob(sid) = (e.jobId, desc))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (collecting) stages.synchronized {
          jobs.get(e.jobId).foreach(_.ended = System.nanoTime())
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (collecting) stages.synchronized {
          stages(e.stageInfo.stageId) =
            St(e.stageInfo.name.takeWhile(_ != '\n'), System.nanoTime())
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (collecting) stages.synchronized {
          stages.get(e.stageInfo.stageId).foreach { st =>
            st.completed = System.nanoTime()
            st.tasks = e.stageInfo.numTasks
            val m = e.stageInfo.taskMetrics
            st.shufRead = m.shuffleReadMetrics.totalBytesRead
            st.shufWrite = m.shuffleWriteMetrics.bytesWritten
            st.input = m.inputMetrics.bytesRead
            st.spillDisk = m.diskBytesSpilled
            st.cpuNs = m.executorCpuTime
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"unknown query: $name")
        case Some(fn) =>
          // warm-up pass (JIT, codegen cache, footers)
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            System.err.println(s"$name warmup failed: ${e.getMessage}") }
          stages.synchronized(stages.clear())
          collecting = true
          val t0 = System.nanoTime()
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            System.err.println(s"$name failed: ${e.getMessage}") }
          val wall = (System.nanoTime() - t0) / 1e9
          // let straggler stage-completed events drain
          Thread.sleep(200)
          collecting = false
          // per-job account: count, in-job wall, inter-job gaps (driver
          // planning / fs / collect), grouped by job description so
          // repeated per-commit work shows up as one aggregate line
          val jsnap = stages.synchronized(jobs.toSeq.sortBy(_._1))
          if (jsnap.nonEmpty) {
            // merged-interval union, not a per-job sum: the pipeline (and
            // every broadcast future) submits jobs CONCURRENTLY, where a
            // naive sum exceeds wall time and jobId-ordered "gaps" are
            // meaningless. in-job = union of [start, end] intervals;
            // gaps = covered span minus that union.
            val ivs = jsnap.filter(_._2.ended > 0)
              .map(j => (j._2.started, j._2.ended)).sortBy(_._1)
            val (inJobNs, overlapped) = ivs.foldLeft((0L, false, Long.MinValue)) {
              case ((acc, ov, hi), (s0, e0)) =>
                val covered = math.max(0L, e0 - math.max(s0, hi))
                (acc + covered, ov || (hi != Long.MinValue && s0 < hi),
                  math.max(hi, e0))
            } match { case (acc, ov, _) => (acc, ov) }
            val spanNs =
              if (ivs.isEmpty) 0L else ivs.map(_._2).max - ivs.map(_._1).min
            val inJob = inJobNs / 1e9
            val gaps = (spanNs - inJobNs) / 1e9
            val note = if (overlapped) " (concurrent jobs: union-based)" else ""
            println(f"  ${jsnap.size} jobs, ? in-job = $inJob%.3f s, ? inter-job gaps = $gaps%.3f s$note")
            // jobs carry no description under the noop sink; fall back to
            // the job's first stage's callsite name
            val snapStages = stages.synchronized(stages.toSeq)
            val jobName: Map[Int, String] = snapStages
              .flatMap { case (sid, st) =>
                stageJob.get(sid).map { case (jid, _) => (jid, st.name) } }
              .groupBy(_._1).map { case (j, ns) => j -> ns.head._2 }
            jsnap.groupBy { case (jid, jb) =>
                (if (jb.desc.nonEmpty) jb.desc
                 else jobName.getOrElse(jid, "")).take(60) }.toSeq
              .map { case (d, js) =>
                (d, js.size, js.map(j =>
                  if (j._2.ended > 0) (j._2.ended - j._2.started) / 1e9 else 0.0).sum)
              }
              .sortBy(-_._3).take(14)
              .foreach { case (d, n, t) =>
                println(f"    jobs=$n%3d  $t%7.3f s  ${if (d.isEmpty) "(unlabeled)" else d}")
              }
          }
          stages.synchronized(jobs.clear())
          println(f"%n=== $name  wall=$wall%.3f s ===")
          val snap = stages.synchronized(stages.toSeq)
          val totalStage = snap.map { case (_, s) =>
            if (s.completed > 0) (s.completed - s.submitted) / 1e9 else 0.0
          }.sum
          println(f"  ${snap.size} stages, Σ stage wall = $totalStage%.3f s" +
            f" (overlap possible); unaccounted vs query wall =" +
            f" ${wall - totalStage}%.3f s (driver/planning/gaps)")
          snap.sortBy { case (_, s) =>
            -(if (s.completed > 0) s.completed - s.submitted else 0L)
          }.take(12).foreach { case (id, s) =>
            val dur = if (s.completed > 0) (s.completed - s.submitted) / 1e9 else -1.0
            val (jid, jdesc) = stageJob.getOrElse(id, (-1, ""))
            println(f"  stage $id%4d job $jid%3d $dur%7.3f s  tasks=${s.tasks}%3d" +
              f"  cpu=${s.cpuNs / 1e9}%6.2f s  in=${s.input / 1048576.0}%7.1f MB" +
              f"  sr=${s.shufRead / 1048576.0}%7.1f MB sw=${s.shufWrite / 1048576.0}%7.1f MB" +
              f"  spill=${s.spillDisk / 1048576.0}%6.1f MB  ${jdesc.take(70)}")
          }
      }
    }
    spark.stop()
  }
}
