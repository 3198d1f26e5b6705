package graft.core

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec

/** Governance features: CHECK constraints, timestamp time travel,
  * optimized writes, streaming rate limiting, and dv deletes surfacing
  * through the snapshot-diff CDC.
  */
class TableLogGovernanceSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("graft_gov").toString

  test("CHECK constraint rejects violating batches on every write path") {
    val dir = freshDir()
    TableLog.append(spark, dir,
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amount"))
    TableLog.addConstraint(spark, dir, "positive_amount", "amount > 0")
    assert(TableLog.constraints(spark, dir) ==
      Seq(("positive_amount", "amount > 0")))
    val tip = TableLog.versions(spark, dir).last
    // violating append: rejected, version unchanged
    val e1 = intercept[IllegalStateException] {
      TableLog.append(spark, dir, Seq((3L, -5.0)).toDF("id", "amount"))
    }
    assert(e1.getMessage.contains("positive_amount"))
    assert(TableLog.versions(spark, dir).last == tip)
    // violating upsert: rejected
    intercept[IllegalStateException] {
      TableLog.upsert(spark, dir, Seq((1L, -1.0)).toDF("id", "amount"), Seq("id"))
    }
    // violating overwrite: rejected
    intercept[IllegalStateException] {
      TableLog.overwrite(spark, dir, Seq((9L, 0.0)).toDF("id", "amount"))
    }
    // NULL passes (SQL CHECK semantics); valid rows commit
    TableLog.append(spark, dir,
      Seq((4L, Some(5.0)), (5L, None)).toDF("id", "amount"))
    assert(TableLog.read(spark, dir).count() == 4)
    // the constraint survives unrelated commits (table property carry)
    assert(TableLog.constraints(spark, dir).nonEmpty)
  }

  test("constraint cannot be added to a snapshot already violating it") {
    val dir = freshDir()
    TableLog.append(spark, dir, Seq((1L, -3.0)).toDF("id", "amount"))
    intercept[IllegalArgumentException] {
      TableLog.addConstraint(spark, dir, "positive_amount", "amount > 0")
    }
    assert(TableLog.constraints(spark, dir).isEmpty)
  }

  test("TIMESTAMP AS OF resolves to the version committed at that time") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 10).select($"id"))
    Thread.sleep(60)
    val between = System.currentTimeMillis()
    Thread.sleep(60)
    TableLog.append(spark, dir, spark.range(10, 30).select($"id"))
    assert(TableLog.versionAsOf(spark, dir, between) == 1L)
    assert(TableLog.read(spark, dir, asOfTimestamp = Some(between)).count() == 10)
    assert(TableLog.read(spark, dir).count() == 30)
    // before the first commit: no version existed
    intercept[IllegalArgumentException] {
      TableLog.versionAsOf(spark, dir, between - 3600 * 1000L)
    }
  }

  test("optimizeWrite: one file per partition directory per commit") {
    val dir = freshDir()
    val df = spark.range(0, 1000)
      .repartition(8) // simulate a wide write cluster
      .select($"id", ($"id" % 2).cast("int").as("p"))
    TableLog.append(spark, dir, df, partitionBy = Seq("p"),
      optimizeWrite = true)
    def filesPerDir(d: String): Map[String, Int] =
      new java.io.File(d).listFiles
        .filter(f => f.isDirectory && !f.getName.startsWith("_")
          && !f.getName.startsWith("."))
        .map(sub => sub.getName ->
          sub.listFiles.count(f => f.getName.endsWith(".parquet"))).toMap
    assert(filesPerDir(dir).values.toSet == Set(1), filesPerDir(dir))
    assert(TableLog.read(spark, dir).count() == 1000)
    // contrast: the unshuffled write fans out one file per task per dir
    val dir2 = freshDir()
    TableLog.append(spark, dir2, df, partitionBy = Seq("p"))
    assert(filesPerDir(dir2).values.max > 1, filesPerDir(dir2))
  }

  test("maxVersionsPerTrigger bounds each micro-batch's version span") {
    val dir = freshDir()
    (0 until 4).foreach(i => TableLog.append(spark, dir,
      spark.range(i * 10, (i + 1) * 10).select($"id")))
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    // default trigger + processAllAvailable: each trigger re-consults
    // getOffset, so the capped cursor advances batch by batch until the
    // tip. (Trigger.AvailableNow captures a V1 source's offset ONCE at
    // start — with a rate cap that means one bounded run per invocation,
    // checkpoint-consistent; rerun to continue. Documented in the source.)
    val q = spark.readStream
      .format(classOf[graft.sources.TableLogStreamProvider].getName)
      .option("path", dir).option("maxVersionsPerTrigger", "2").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized { batches += df.count() }; ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_gov_ck").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    // 4 versions at <=2 per trigger: at least two batches, nothing lost
    assert(batches.count(_ > 0) >= 2, batches)
    assert(batches.sum == 40, batches)
  }

  test("dv deletes surface as CDC deletes through SnapshotDiff") {
    val dir = freshDir()
    TableLog.append(spark, dir,
      spark.range(0, 20).select($"id", ($"id" * 2).as("v")))
    TableLog.deleteWhereDv(spark, dir, col("id") < 3)
    val changes = graft.ops.SnapshotDiff.diff(
      TableLog.read(spark, dir, Some(1L)),
      TableLog.read(spark, dir, Some(2L)), Seq("id"))
    val deletes = changes.filter(col("change_type") === "delete")
      .select("id").as[Long].collect().sorted.toSeq
    assert(deletes == Seq(0L, 1L, 2L))
    assert(changes.filter(col("change_type") =!= "delete").count() == 0)
  }
}
