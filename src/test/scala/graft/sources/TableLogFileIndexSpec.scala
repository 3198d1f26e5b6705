package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.TableLog

/** `TableLog.read` (manifest-backed FileIndex): automatic partition
  * pruning + stats skipping from query predicates, partition columns
  * typed as Spark's basePath inference types them, dv interaction, and
  * the scan-metric evidence that pruning really dropped files at PLAN
  * time.
  */
class TableLogFileIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("graft_tli").toString

  /** numFiles the executed scan actually planned over. */
  private def scannedFiles(df: DataFrame): Long = graft.TestPlans.scannedFiles(df)

  test("stats skipping engages automatically from the query's WHERE") {
    val dir = freshDir()
    // four appends, disjoint id ranges, one file each, stats recorded
    (0 until 4).foreach(i => TableLog.append(spark, dir,
      spark.range(i * 100, (i + 1) * 100).select($"id").coalesce(1),
      statsCol = Some("id")))
    val all = TableLog.read(spark, dir)
    assert(scannedFiles(all) == 4)
    // predicate covers exactly one file's [min,max] range
    val one = TableLog.read(spark, dir).filter($"id" >= 210 && $"id" <= 230)
    assert(scannedFiles(one) == 1)
    assert(one.count() == 21)
    // boundary: touches two ranges
    val two = TableLog.read(spark, dir).filter($"id" >= 190 && $"id" < 210)
    assert(scannedFiles(two) == 2)
    assert(two.count() == 20)
    // equality predicate
    val eq = TableLog.read(spark, dir).filter($"id" === 399)
    assert(scannedFiles(eq) == 1)
    assert(eq.count() == 1)
  }

  test("partition pruning engages from a partition-column predicate") {
    val dir = freshDir()
    val df = spark.range(0, 400)
      .select($"id", ($"id" % 4).cast("int").as("p"))
    TableLog.append(spark, dir, df, partitionBy = Seq("p"))
    val full = TableLog.read(spark, dir)
    val totalFiles = scannedFiles(full)
    assert(full.count() == 400)
    val pruned = TableLog.read(spark, dir).filter($"p" === 2)
    assert(scannedFiles(pruned) < totalFiles)
    assert(pruned.count() == 100)
    // partition value survives as a real column
    assert(pruned.select("p").distinct().as[Int].collect().toSeq == Seq(2))
  }

  test("partition pruning and stats skipping compose") {
    val dir = freshDir()
    val df = spark.range(0, 400)
      .select($"id", ($"id" % 2).cast("int").as("p"))
    // two appends per partition with disjoint id ranges
    TableLog.append(spark, dir, df.filter($"id" < 200).coalesce(1),
      partitionBy = Seq("p"), statsCol = Some("id"))
    TableLog.append(spark, dir, df.filter($"id" >= 200).coalesce(1),
      partitionBy = Seq("p"), statsCol = Some("id"))
    val q = TableLog.read(spark, dir).filter($"p" === 0 && $"id" >= 300)
    assert(scannedFiles(q) == 1) // one partition x one id-range commit
    assert(q.count() == 50)
  }

  test("string partition values prune correctly") {
    val dir = freshDir()
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L)).toDF("m", "v")
    TableLog.append(spark, dir, df, partitionBy = Seq("m"))
    val b = TableLog.read(spark, dir).filter($"m" === "b")
    assert(b.count() == 2)
    assert(b.select(sum("v")).as[Long].head() == 7L)
  }

  test("deletion vectors apply through the FileIndex path") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 100).select($"id"))
    TableLog.deleteWhereDv(spark, dir, col("id") < 10)
    val t = TableLog.read(spark, dir)
    assert(t.count() == 90)
    assert(t.filter($"id" < 10).count() == 0)
  }

  test("time travel through table()") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 100).select($"id"))
    TableLog.append(spark, dir, spark.range(100, 150).select($"id"))
    assert(TableLog.read(spark, dir, version = Some(1L)).count() == 100)
    assert(TableLog.read(spark, dir).count() == 150)
  }

  test("multi-column stats: predicates on EITHER column prune independently") {
    val dir = freshDir()
    // 4 commits; id ranges ascend while rev ranges DESCEND — a predicate
    // on either column isolates a different single file
    (0 until 4).foreach { i =>
      val lo = i * 100
      TableLog.append(spark, dir,
        spark.range(lo, lo + 100)
          .select($"id", (lit(1000) - $"id").as("rev")).coalesce(1),
        statsCol = Some("id"), statsCols = Seq("rev"))
    }
    val q1 = TableLog.read(spark, dir).filter($"id".between(110, 120))
    assert(scannedFiles(q1) == 1)
    assert(q1.count() == 11)
    val q2 = TableLog.read(spark, dir).filter($"rev".between(610, 620))
    assert(scannedFiles(q2) == 1) // ids 380..390 → file 3
    assert(q2.count() == 11)
    // conjunction across BOTH columns: contradictory ranges → zero files
    val q3 = TableLog.read(spark, dir)
      .filter($"id" < 50 && $"rev" < 500) // id<50 → rev>950: impossible
    assert(scannedFiles(q3) == 0)
    assert(q3.count() == 0)
  }

  test("IN-list and OR predicates prune via union ranges") {
    val dir = freshDir()
    (0 until 4).foreach(i => TableLog.append(spark, dir,
      spark.range(i * 100, (i + 1) * 100).select($"id").coalesce(1),
      statsCol = Some("id")))
    val in = TableLog.read(spark, dir).filter($"id".isin(105, 110, 190))
    assert(scannedFiles(in) == 1)
    assert(in.count() == 3)
    val or = TableLog.read(spark, dir)
      .filter($"id" === 105 || $"id" === 320)
    // union range [105, 320] spans files 1..3 (not file 0)
    assert(scannedFiles(or) == 3)
    assert(or.count() == 2)
  }

  test("IN-list on a bucket transform scans only the matching buckets") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 1000).select($"id"),
      transforms = Seq(graft.sources.BucketOf(8, "id")))
    val total = scannedFiles(TableLog.read(spark, dir))
    val q = TableLog.read(spark, dir).filter($"id".isin(3, 700))
    assert(q.count() == 2)
    assert(scannedFiles(q) <= total / 2)
  }

  test("residual predicate still filters rows inside kept files") {
    val dir = freshDir()
    TableLog.append(spark, dir,
      spark.range(0, 100).select($"id").coalesce(1), statsCol = Some("id"))
    // file range [0,99] intersects the predicate, so the file is kept and
    // the row-level filter (pushed into parquet) does the rest
    val q = TableLog.read(spark, dir).filter($"id" === 42)
    assert(q.count() == 1)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan)
  }

  test("additive schema evolution: a column added by a later commit surfaces") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 10).select($"id"))
    TableLog.append(spark, dir,
      spark.range(10, 20).select($"id", ($"id" * 2).as("extra")))
    val t = TableLog.read(spark, dir)
    // per-COMMIT schema representatives must merge both shapes: the new
    // column exists, old rows surface it as null
    assert(t.columns.toSet == Set("id", "extra"), t.columns.mkString(","))
    assert(t.filter($"extra".isNull).count() == 10)
    assert(t.filter($"extra".isNotNull).count() == 10)
  }

  test("date and double partition columns type as Spark infers them, and prune") {
    val dir = freshDir()
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    TableLog.append(spark, dir,
      Seq((1L, d1, 0.5), (2L, d1, 2.5), (3L, d2, 0.5), (4L, d2, 2.5),
        (5L, d2, 2.5)).toDF("id", "d", "x").coalesce(1),
      partitionBy = Seq("d", "x"))
    val t = TableLog.read(spark, dir)
    assert(t.schema("d").dataType == org.apache.spark.sql.types.DateType)
    assert(t.schema("x").dataType == org.apache.spark.sql.types.DoubleType)
    // same types as Spark's own basePath read of the table's files
    val raw = spark.read.option("basePath", dir).parquet(
      t.inputFiles.toIndexedSeq: _*)
    assert(t.schema.map(f => f.name -> f.dataType).toSet ==
      raw.schema.map(f => f.name -> f.dataType).toSet)
    assert(scannedFiles(t) == 4)
    val day = TableLog.read(spark, dir).where($"d" === lit(d2))
    assert(scannedFiles(day) == 2)
    assert(day.select($"id").as[Long].collect().toSet == Set(3L, 4L, 5L))
    val cell = TableLog.read(spark, dir).where($"d" === lit(d2) && $"x" === 2.5)
    assert(scannedFiles(cell) == 1)
    assert(cell.select($"id").as[Long].collect().toSet == Set(4L, 5L))
    val range = TableLog.read(spark, dir).where($"x" > 1.0)
    assert(scannedFiles(range) == 2)
    assert(range.count() == 3)
    // the SQL/catalog front door plans over the same index
    val viaCatalog = spark.read.format("graft").load(dir)
    assert(viaCatalog.schema("d").dataType == org.apache.spark.sql.types.DateType)
    assert(viaCatalog.schema("x").dataType == org.apache.spark.sql.types.DoubleType)
    val catDay = viaCatalog.where($"d" === lit(d2))
    assert(catDay.select(input_file_name()).distinct().count() == 2)
    assert(catDay.count() == 3)
  }
}
