package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.TableLog

/** Hidden partitioning: `days(ts)` / `bucket(n,c)` / `truncate(w,c)`
  * transforms derive the layout at write time, stay invisible to readers,
  * and prune files from predicates on the SOURCE column.
  */
class HiddenPartitioningSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("graft_hp").toString

  private def scannedFiles(df: DataFrame): Long = graft.TestPlans.scannedFiles(df)

  private def ts(s: String) = Timestamp.valueOf(s)

  test("days(ts): raw-timestamp predicate prunes day directories") {
    val dir = freshDir()
    // 8 days of events, one row per hour
    val rows = for (d <- 1 to 8; h <- 0 until 24)
      yield (ts(f"2024-03-0$d $h%02d:30:00"), (d * 100 + h).toLong)
    TableLog.append(spark, dir, rows.toDF("ts", "v"),
      transforms = Seq(DaysOf("ts")))
    val t = TableLog.read(spark, dir)
    // hidden: the derived column is not in the schema
    assert(!t.columns.contains("_tp_day_ts"), t.columns.mkString(","))
    val total = scannedFiles(t)
    assert(total >= 8) // at least one file per day directory
    // a two-day window on the RAW ts column scans only those directories
    val q = TableLog.read(spark, dir)
      .filter($"ts" >= ts("2024-03-03 00:00:00") && $"ts" < ts("2024-03-05 00:00:00"))
    assert(q.count() == 48)
    assert(scannedFiles(q) * 4 <= total, s"${scannedFiles(q)} vs $total")
  }

  test("days(ts): equality timestamp predicate hits one day") {
    val dir = freshDir()
    val rows = for (d <- 1 to 4) yield (ts(s"2024-03-0$d 12:00:00"), d.toLong)
    TableLog.append(spark, dir, rows.toDF("ts", "v"),
      transforms = Seq(DaysOf("ts")))
    val q = TableLog.read(spark, dir).filter($"ts" === ts("2024-03-02 12:00:00"))
    assert(q.count() == 1)
    assert(scannedFiles(q) == 1)
  }

  test("bucket(n, k): equality predicate scans one bucket, ranges scan all") {
    val dir = freshDir()
    val df = spark.range(0, 1000).select($"id", ($"id" * 3).as("v"))
    TableLog.append(spark, dir, df, transforms = Seq(BucketOf(8, "id")))
    val t = TableLog.read(spark, dir)
    assert(!t.columns.contains("_tp_bucket_id"))
    val total = scannedFiles(t)
    assert(total >= 8)
    val q = TableLog.read(spark, dir).filter($"id" === 777)
    assert(q.count() == 1)
    assert(q.select("v").as[Long].head() == 2331)
    // exactly the one bucket directory holding xxhash64(777) % 8
    assert(scannedFiles(q) * 8 <= total * 2, s"${scannedFiles(q)} vs $total")
    // a range predicate cannot prune hash buckets: conservatively all kept
    val r = TableLog.read(spark, dir).filter($"id" < 100)
    assert(r.count() == 100)
    assert(scannedFiles(r) == total)
  }

  test("bucket on a STRING key prunes equality lookups") {
    val dir = freshDir()
    val df = Seq.tabulate(100)(i => (s"user_$i", i.toLong)).toDF("u", "v")
    TableLog.append(spark, dir, df, transforms = Seq(BucketOf(4, "u")))
    val total = scannedFiles(TableLog.read(spark, dir))
    val q = TableLog.read(spark, dir).filter($"u" === "user_42")
    assert(q.select("v").as[Long].head() == 42L)
    assert(scannedFiles(q) < total)
  }

  test("truncate(w, k): range predicates map to truncated ranges") {
    val dir = freshDir()
    val df = spark.range(0, 1000).select($"id")
    TableLog.append(spark, dir, df, transforms = Seq(TruncateOf(100, "id")))
    val t = TableLog.read(spark, dir)
    val total = scannedFiles(t)
    assert(total >= 10)
    val q = TableLog.read(spark, dir).filter($"id" >= 250 && $"id" < 350)
    assert(q.count() == 100)
    // ids 250..349 live in truncate buckets 200 and 300 only
    assert(scannedFiles(q) * 5 <= total, s"${scannedFiles(q)} vs $total")
  }

  test("layout is a table property: later plain appends keep pruning") {
    val dir = freshDir()
    val mk = (lo: Int, hi: Int) => (lo until hi)
      .map(d => (ts(f"2024-03-${d}%02d 10:00:00"), d.toLong)).toDF("ts", "v")
    TableLog.append(spark, dir, mk(1, 5), transforms = Seq(DaysOf("ts")))
    TableLog.append(spark, dir, mk(5, 9), transforms = Seq(DaysOf("ts")))
    // #layout= carries through non-transform commits too (e.g. a dv delete)
    TableLog.deleteWhereDv(spark, dir, col("v") === 2L)
    val q = TableLog.read(spark, dir)
      .filter($"ts" >= ts("2024-03-06 00:00:00"))
    assert(q.count() == 3)
    val all = TableLog.read(spark, dir)
    assert(all.count() == 7) // 8 days minus the dv-deleted row
    assert(scannedFiles(q) < scannedFiles(all))
  }

  test("transform + hive partition + stats skipping compose") {
    val dir = freshDir()
    val rows = for (d <- 1 to 4; m <- Seq("a", "b"); i <- 0 until 5)
      yield (ts(f"2024-03-0$d 08:00:00"), m, (d * 1000 + i).toLong)
    TableLog.append(spark, dir, rows.toDF("ts", "m", "v"),
      partitionBy = Seq("m"), statsCol = Some("v"),
      transforms = Seq(DaysOf("ts")))
    val total = scannedFiles(TableLog.read(spark, dir))
    val q = TableLog.read(spark, dir)
      .filter($"m" === "b" && $"ts" >= ts("2024-03-03 00:00:00") && $"v" < 4000)
    assert(q.count() == 5) // day 3, market b, v in [3000, 3004]
    assert(scannedFiles(q) < total)
  }
}
