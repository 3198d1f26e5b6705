package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // pipeline bench writes full medallion tables; keep them on scratch,
    // not in the repo's spark-warehouse
    val warehouse = graft.queries.Scratch.dir("bench_warehouse")
    val spark = graft.core.Session.local(appName = "graft-bench",
      extra = Map("spark.sql.warehouse.dir" -> warehouse))
    // Min over SPARK_GRAFT_PASSES timed passes (default 3): pass 1 doubles
    // as the warm-up (JIT, codegen cache, parquet footers), and the min
    // discards whatever
    // GC / catalog-cache churn a previous query leaves behind (observed 3x
    // inflation on the first alphabetical query in single-pass timing).
    // All pass times are published ("passes") so cross-round comparisons
    // can tell environment noise from plan regressions.
    // SPARK_GRAFT_ONLY=q_a,q_b: time a subset for fast local iteration
    // (the driver never sets it; also skips the pipeline bench)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    // A query that throws has no time (None): it is listed under "failed"
    // and left out of the total.
    def timedPass(): Map[String, Option[Double]] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
        val t0 = System.nanoTime()
        // noop sink materializes every row (count() would let Catalyst prune
        // the whole projection and under-measure scan+compute cost).
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          name -> Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          name -> None
        }
      }.toMap
    // SPARK_GRAFT_PASSES overrides the pass count (driver default 3; a
    // large-SF escalation run can use 2 — one warm-up, one timed — to
    // keep wall clock sane while still discarding cold-start effects)
    val nPasses = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt)
      .filter(_ >= 1).getOrElse(3)
    val passes = (1 to nPasses).map(_ => timedPass())
    val failedQueries = passes.head.keySet.filter(k => passes.exists(_(k).isEmpty))
    // End-to-end FAERS medallion run (the reference's ACTUAL workload:
    // 7 ingests -> 7 silvers -> dim_date + 7 SCD2 dims -> 9-join fact) over
    // a deterministic ~100k-case synthetic quarter (~300k fact rows).
    // Timed once (write-path heavy; min-of-2 would just measure the page
    // cache), generation excluded from the timing.
    val pipelineSec: Option[Double] = if (only.isDefined) None else try {
      val landing = graft.queries.Scratch.dir("bench_faers_landing")
      graft.faers.SyntheticQuarter.write(landing, nCases = 100000)
      Seq("bronze", "silver", "gold").foreach { db =>
        spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
        // a fresh JVM's catalog doesn't know the previous run's tables —
        // clear their lingering warehouse dirs too
        graft.queries.Scratch.wipe(s"$warehouse/$db.db")
      }
      // bucketed SCD2 stores live OUTSIDE the db.db dirs and their layout
      // is sticky (isBucketedStore short-circuits useBucketedScd2) — a
      // leftover store would turn the measured initial load into a merge
      graft.queries.Scratch.wipe(s"$warehouse/gold_scd2")
      val t0 = System.nanoTime()
      // staged inline (≡ Pipeline.run) so each round's bench stderr
      // carries the per-stage split — round-over-round drift on this
      // entry is then attributable to a stage, not guessed at
      var last = t0
      def stage(label: String): Unit = {
        val now = System.nanoTime()
        System.err.println(
          f"[bench] pipeline_faers stage $label: ${(now - last) / 1e9}%.2f s")
        last = now
      }
      val fixedClock = Some(java.time.Instant.parse("2025-01-15T00:00:00Z"))
      val scd = graft.core.ScdClock.fixed("2025-01-15")
      graft.faers.Pipeline.initDatabases(spark)
      graft.faers.Pipeline.runBronze(spark, landing, 25, 1, fixedClock)
      stage("bronze")
      graft.faers.Pipeline.runSilver(spark, fixedClock)
      stage("silver")
      graft.faers.Pipeline.runGold(spark, scd, Some(scd.today))
      stage("gold")
      Some((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] pipeline_faers failed: ${e.getMessage}"); None
    }
    val failed = (failedQueries ++
      (if (only.isEmpty && pipelineSec.isEmpty) Some("pipeline_faers") else None))
      .toSeq.sorted
    // Per-query min of the 3 timed passes PLUS the raw pass times: a
    // round-over-round move on untouched code is only diagnosable as
    // noise when the spread is visible (r3 saw 4.6x on an unchanged
    // query from same-JVM environment drift; min-of-3 + published
    // spread makes that attributable instead of looking like a plan
    // regression).
    val timed = passes.head.keys.toSeq.sorted.filterNot(failedQueries)
    val results = timed.map(k => k -> passes.map(_(k).get).min).toMap ++
      pipelineSec.map("pipeline_faers" -> _)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spread = timed.map { k =>
      s"\"" + k + "\":[" + passes.map(_(k).get).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val failedJson = failed.map(k => s"\"" + k + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"passes":$spread,"failed":$failedJson,"sf":"$sfDir"}"""
    println(json)
    // The driver captures stdout through a bounded TAIL buffer (2000
    // chars), which can never hold the full per-query line (~20 KB at 228
    // queries) — every BENCH_r*.json so far carries "parsed": null
    // because the only JSON line was truncated mid-flight. The file copy
    // stays authoritative for per-query work; the LAST stdout line is a
    // compact summary sized to survive the tail (total, counts,
    // distribution, the slowest queries) so the driver's parse is
    // populated. Printed after spark.stop() so no shutdown logging lands
    // behind it.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH.out.json"), json + "\n")
    val sorted = results.toSeq.sortBy(-_._2)
    val med =
      if (results.isEmpty) 0.0
      else sorted.map(_._2).sorted.apply(results.size / 2)
    val top = sorted.take(8)
      .map { case (k, v) => s"\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    val compact =
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"median_sec":$med%.3f,"slowest":$top,"failed":$failedJson,"detail":"BENCH.out.json"}"""
    spark.stop()
    println(compact)
  }
}
