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
}
