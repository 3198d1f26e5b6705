package graft.core

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Deletion vectors (merge-on-read DELETE): no data-file writes, correct
  * interaction with every other TableLog path — time travel, restore,
  * copy-on-write delete/merge (no resurrection), compaction
  * (materialize + retire), vacuum (sidecar reclamation), data skipping.
  */
class TableLogDvSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("graft_dv").toString

  private def dataFiles(dir: String): Map[String, Long] = {
    val d = new java.io.File(dir)
    d.listFiles.filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap
  }

  test("dv delete hides rows without touching a single data file") {
    val dir = freshDir()
    TableLog.append(spark, dir,
      spark.range(0, 1000).select($"id", ($"id" % 7).as("m")))
    val before = dataFiles(dir)
    val (v, n) = TableLog.deleteWhereDv(spark, dir, col("m") === 3)
    assert(n == 143) // ids with id % 7 == 3 in [0, 1000)
    assert(v == 2)
    // merge-on-read: the data files are bit-identical, only a sidecar +
    // manifest were written
    assert(dataFiles(dir) == before)
    val visible = TableLog.read(spark, dir)
    assert(visible.count() == 857)
    assert(visible.filter(col("m") === 3).count() == 0)
    // time travel still sees the deleted rows
    assert(TableLog.read(spark, dir, version = Some(1L)).count() == 1000)
  }

  test("dv deletes accumulate across commits; already-deleted rows don't re-match") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 100).select($"id"))
    val (_, n1) = TableLog.deleteWhereDv(spark, dir, col("id") < 30)
    val (_, n2) = TableLog.deleteWhereDv(spark, dir, col("id") < 50)
    assert(n1 == 30)
    assert(n2 == 20) // 0-29 already hidden: only 30-49 match the second pass
    assert(TableLog.read(spark, dir).count() == 50)
    // zero matches: version unchanged, no sidecar committed
    val tip = TableLog.versions(spark, dir).last
    val (v3, n3) = TableLog.deleteWhereDv(spark, dir, col("id") < 50)
    assert(n3 == 0 && v3 == tip)
  }

  test("copy-on-write delete after a dv delete never resurrects dv-hidden rows") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 100).select($"id"))
    TableLog.deleteWhereDv(spark, dir, col("id") === 10)
    // CoW delete rewrites the file holding id=20 — the rewrite must read
    // THROUGH the vector, or id=10 comes back from the raw file bytes
    TableLog.deleteWhere(spark, dir, col("id") === 20)
    val ids = TableLog.read(spark, dir).select("id").as[Long].collect().toSet
    assert(!ids.contains(10L) && !ids.contains(20L))
    assert(ids.size == 98)
  }

  test("upsert after a dv delete: updates land, dv-hidden rows stay hidden") {
    val dir = freshDir()
    TableLog.append(spark, dir,
      spark.range(0, 100).select($"id", lit("old").as("v")))
    TableLog.deleteWhereDv(spark, dir, col("id") === 5)
    TableLog.upsert(spark, dir,
      Seq((7L, "new"), (500L, "new")).toDF("id", "v"), Seq("id"))
    val out = TableLog.read(spark, dir)
    assert(out.count() == 100) // 100 - deleted(5) + inserted(500)
    assert(out.filter(col("id") === 5).count() == 0)
    assert(out.filter(col("id") === 7).select("v").as[String].head() == "new")
    assert(out.filter(col("id") === 500).count() == 1)
  }

  test("compact materializes deletes, retires the vectors, preserves the rows") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 500).select($"id"))
    TableLog.deleteWhereDv(spark, dir, col("id") % 5 === 0)
    val (_, _, v) = TableLog.compact(spark, dir, targetBytes = 1L << 30)
    val lines = TableLog.manifestLines(spark, dir, v)
    assert(!lines.exists(_.startsWith("#dvp=")), lines.mkString("\n"))
    val out = TableLog.read(spark, dir)
    assert(out.count() == 400)
    assert(out.filter(col("id") % 5 === 0).count() == 0)
  }

  test("restore re-instates the target version's exact visible row set") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 100).select($"id")) // v1
    TableLog.deleteWhereDv(spark, dir, col("id") < 10)             // v2: 90 rows
    TableLog.deleteWhereDv(spark, dir, col("id") < 20)             // v3: 80 rows
    TableLog.restore(spark, dir, 2L)                               // v4 == v2's view
    assert(TableLog.read(spark, dir).count() == 90)
    TableLog.restore(spark, dir, 1L)                               // v5: pre-delete
    assert(TableLog.read(spark, dir).count() == 100)
  }

  test("dv works under partition pruning and stats skipping") {
    val dir = freshDir()
    val df = spark.range(0, 200)
      .select($"id", ($"id" % 2).as("p"), ($"id" * 10).as("val"))
    TableLog.append(spark, dir, df, partitionBy = Seq("p"),
      statsCol = Some("val"))
    TableLog.deleteWhereDv(spark, dir, col("id") === 4) // p=0 partition
    val p0 = TableLog.read(spark, dir).where(col("p") === 0)
    assert(p0.count() == 99)
    assert(p0.filter(col("id") === 4).count() == 0)
    // skipping path (file subset) still applies the vector
    val skipped = TableLog.read(spark, dir).where(col("val").between(0, 100))
    assert(skipped.filter(col("id") === 4).count() == 0)
  }

  test("vacuum reclaims sidecars once no retained manifest references them") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 100).select($"id"))
    TableLog.deleteWhereDv(spark, dir, col("id") < 10)
    val dvRoot = new java.io.File(dir, "_graft_dv")
    def sidecars() =
      if (!dvRoot.exists) 0
      else {
        def walk(f: java.io.File): Int =
          if (f.isFile) (if (f.getName.startsWith("part-")) 1 else 0)
          else f.listFiles.map(walk).sum
        walk(dvRoot)
      }
    assert(sidecars() > 0)
    // compact materializes (drops the #dvp lines), then vacuum with only
    // the tip retained may reclaim the sidecar files
    TableLog.compact(spark, dir, targetBytes = 1L << 30)
    TableLog.vacuum(spark, dir, keepVersions = 1, retainMs = 0L)
    assert(sidecars() == 0)
    assert(TableLog.read(spark, dir).count() == 90)
  }

  test("compactDeletes retires entries gone inert after a partition rewrite") {
    val dir = freshDir()
    // two appends -> 2 files per partition, so compactPartition has
    // something to rewrite (it no-ops on single-file partitions)
    TableLog.append(spark, dir,
      spark.range(0, 200).select($"id", ($"id" % 4).as("p"))
        .repartition(4, $"p"),
      partitionBy = Seq("p"))
    TableLog.append(spark, dir,
      spark.range(200, 400).select($"id", ($"id" % 4).as("p"))
        .repartition(4, $"p"),
      partitionBy = Seq("p"))
    TableLog.deleteWhereDv(spark, dir, $"id" % 10 === 3) // odd ids: 20 in p=1, 20 in p=3
    assert(TableLog.dvEntryCount(spark, dir) == 40)
    // rewrite ONE partition: its 20 entries go inert but stay COUNTED
    TableLog.compactPartition(spark, dir, ("p", "1"), targetBytes = 1L)
    assert(TableLog.read(spark, dir).count() == 360)
    assert(TableLog.dvEntryCount(spark, dir) == 40) // inert still counted
    val visibleBefore = TableLog.read(spark, dir)
      .orderBy($"id").as[(Long, Long)].collect().toSeq
    val (before, after, _) = TableLog.compactDeletes(spark, dir)
    assert(before == 40 && after == 20) // p=1's inert entries retired
    assert(TableLog.dvEntryCount(spark, dir) == 20)
    // semantically a no-op: the visible row set is identical
    assert(TableLog.read(spark, dir)
      .orderBy($"id").as[(Long, Long)].collect().toSeq == visibleBefore)
  }

  test("compactDeletes on a dv-free table is a no-op") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 10).toDF("id"))
    val tip = TableLog.versions(spark, dir).last
    val (b, a, v) = TableLog.compactDeletes(spark, dir)
    assert(b == 0 && a == 0 && v == tip)
    assert(TableLog.dvEntryCount(spark, dir) == 0)
  }

  test("history surfaces delete_dv commits; file count never changes") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 50).select($"id"))
    val filesBefore = TableLog.history(spark, dir)
      .select("n_files").as[Int].head()
    TableLog.deleteWhereDv(spark, dir, col("id") === 1)
    val h = TableLog.history(spark, dir).orderBy(desc("version"))
      .select("operation", "n_files").as[(String, Int)].collect()
    assert(h.head == (("delete_dv", filesBefore)))
  }

  /** Spark jobs `body` runs, counted through a job group: job events
    * reach the status tracker through the listener bus, so the count is
    * read once it stops changing.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val g = s"dv-jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(g, g)
    try body finally sc.clearJobGroup()
    def n = sc.statusTracker.getJobIdsForGroup(g).length
    var last = -1
    var cur = n
    while (cur != last) { last = cur; Thread.sleep(300); cur = n }
    cur
  }

  private def joins(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => joins(a.executedPlan)
      case q: QueryStageExec => joins(q.plan)
      case other =>
        other.children.flatMap(joins) ++
          Seq(other.nodeName).filter(_.toLowerCase.contains("join"))
    }
  }

  test("a read of a dv snapshot is one job whose plan has no join") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 200).select($"id"))
    TableLog.deleteWhereDv(spark, dir, col("id") % 10 === 0)
    TableLog.deleteWhereDv(spark, dir, col("id") === 51)
    val df = TableLog.read(spark, dir)
    var ids = Array.empty[Long]
    assert(jobsOf { ids = df.select("id").as[Long].collect() } == 1)
    assert(ids.length == 179 && !ids.contains(0L) && !ids.contains(51L))
    assert(joins(df.queryExecution.executedPlan).isEmpty,
      df.queryExecution.executedPlan.treeString)
  }

  test("reading snapshot k after k single-row dv deletes loads only the " +
    "k-th sidecar") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 50).select($"id"))
    (1 to 5).foreach { k =>
      TableLog.deleteWhereDv(spark, dir, col("id") === k)
      val before = graft.sources.MorDvCache.sidecarLoads
      assert(TableLog.read(spark, dir).count() == 50 - k)
      assert(graft.sources.MorDvCache.sidecarLoads - before == 1,
        s"snapshot $k re-read older sidecars")
    }
  }

  test("a one-row delete outside scan partition 0 leaves one sidecar part " +
    "and one change-data part") {
    val dir = freshDir()
    // two files of different sizes: the larger plans into scan partition
    // 0, so the deleted row (in the smaller) lands in partition 1
    TableLog.append(spark, dir,
      spark.range(0, 500).select($"id", ($"id" * 3).as("v")).coalesce(1))
    TableLog.append(spark, dir,
      spark.range(1000, 1002).select($"id", ($"id" * 3).as("v")).coalesce(1))
    TableLog.setTableProperties(spark, dir,
      Map(TableLog.CdfProp -> "true", TableLog.CdfKeysProp -> "id"))
    val (v, n) = TableLog.deleteWhereDv(spark, dir, col("id") === 1001)
    assert(n == 1)
    def parts(rel: String): Seq[String] = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isFile) Seq(f.getName).filter(_.startsWith("part-"))
        else f.listFiles.toSeq.flatMap(walk)
      walk(new java.io.File(dir, rel))
    }
    val dvp = TableLog.manifestLines(spark, dir, v).filter(_.startsWith("#dvp="))
    assert(dvp.size == 1, dvp)
    assert(parts("_graft_dv").size == 1)
    assert(parts(s"${TableLog.ChangeDataDir}/_commit_version=$v").size == 1)
    assert(TableLog.read(spark, dir).count() == 501)
    assert(TableLog.changes(spark, dir, v - 1, v, Seq("id"))
      .select($"id", $"_change_type").as[(Long, String)].collect().toSeq ==
      Seq((1001L, "delete")))
  }

  test("dv deletes, a copy-on-write delete, an upsert and a restore: the " +
    "API read, the catalog read and a model agree at every version") {
    val dir = freshDir()
    TableLog.append(spark, dir,
      spark.range(0, 20).select($"id", ($"id" * 10).as("v")).coalesce(1))
    TableLog.append(spark, dir,
      spark.range(20, 40).select($"id", ($"id" * 10).as("v")).coalesce(1))
    var model = (0L until 40L).map(i => i -> i * 10).toMap
    def check(step: String): Unit = {
      val want = model.toSeq.sorted
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select($"id", $"v").as[(Long, Long)].collect().sorted.toSeq
      assert(rows(TableLog.read(spark, dir)) == want, s"API read after $step")
      assert(rows(spark.read.format("graft").load(dir)) == want,
        s"catalog read after $step")
    }
    TableLog.deleteWhereDv(spark, dir, col("id") === 3)
    model -= 3L
    check("a dv delete")
    TableLog.deleteWhereDv(spark, dir, col("id").isin(7, 25)) // same file again
    model --= Seq(7L, 25L)
    check("a second dv delete in the same file")
    val afterDv = model
    val vDv = TableLog.versions(spark, dir).last
    TableLog.deleteWhere(spark, dir, col("id") === 10) // rewrites the dv file
    model -= 10L
    check("a copy-on-write delete")
    TableLog.upsert(spark, dir,
      Seq((12L, 121L), (30L, 301L), (100L, 1000L)).toDF("id", "v"), Seq("id"))
    model ++= Seq(12L -> 121L, 30L -> 301L, 100L -> 1000L)
    check("an upsert")
    TableLog.restore(spark, dir, vDv)
    model = afterDv
    check("a restore")
  }
}
