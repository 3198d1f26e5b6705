package graft.core

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Equality deletes: scan-free delete-by-key, interaction with the other
  * table paths (dv, rewrites, compaction, restore, later appends,
  * streaming change detection, vacuum).
  */
class TableLogEqDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("graft_eq").toString

  test("delete-by-key hides rows without touching or reading data files") {
    val dir = freshDir()
    TableLog.append(spark, dir,
      spark.range(0, 100).select($"id", ($"id" % 10).as("u")))
    val before = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    val v = TableLog.deleteKeys(spark, dir, Seq(3L, 7L).toDF("u"))
    assert(v == 2)
    val after = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(after == before) // zero data files written or rewritten
    val t = TableLog.read(spark, dir)
    assert(t.count() == 80)
    assert(t.filter($"u".isin(3, 7)).count() == 0)
    assert(TableLog.read(spark, dir, version = Some(1L)).count() == 100)
  }

  test("rows appended AFTER the delete with a deleted key are hidden too") {
    val dir = freshDir()
    TableLog.append(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("uid", "v"))
    TableLog.deleteKeys(spark, dir, Seq(1L).toDF("uid"))
    TableLog.append(spark, dir, Seq((1L, "late"), (3L, "c")).toDF("uid", "v"))
    val out = TableLog.read(spark, dir).select("uid").as[Long].collect().sorted
    assert(out.toSeq == Seq(2L, 3L)) // the late uid=1 row is also hidden
    // compact materializes and retires the delete: new appends survive
    TableLog.compact(spark, dir, targetBytes = 1L << 30)
    TableLog.append(spark, dir, Seq((1L, "reborn")).toDF("uid", "v"))
    val out2 = TableLog.read(spark, dir).select("uid").as[Long].collect().sorted
    assert(out2.toSeq == Seq(1L, 2L, 3L))
  }

  test("multi-column keys and composition with positional dv deletes") {
    val dir = freshDir()
    TableLog.append(spark, dir,
      Seq((1L, "x", 10.0), (1L, "y", 20.0), (2L, "x", 30.0), (2L, "y", 40.0))
        .toDF("a", "b", "v"))
    TableLog.deleteKeys(spark, dir, Seq((1L, "y")).toDF("a", "b"))
    TableLog.deleteWhereDv(spark, dir, col("v") === 30.0)
    val rows = TableLog.read(spark, dir)
      .select("a", "b").as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "x"), (2L, "y")))
    // rewrite path reads through BOTH delete families
    TableLog.upsert(spark, dir, Seq((2L, "y", 99.0)).toDF("a", "b", "v"), Seq("a", "b"))
    val rows2 = TableLog.read(spark, dir)
      .select("a", "b", "v").as[(Long, String, Double)].collect().toSet
    assert(rows2 == Set((1L, "x", 10.0), (2L, "y", 99.0)))
  }

  test("restore re-instates pre-delete visibility; vacuum reclaims sidecars") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 50).select($"id"))
    TableLog.deleteKeys(spark, dir, Seq(1L, 2L).toDF("id"))
    assert(TableLog.read(spark, dir).count() == 48)
    TableLog.restore(spark, dir, 1L)
    assert(TableLog.read(spark, dir).count() == 50)
    // compact + vacuum: the eq sidecar is unreferenced afterwards
    TableLog.compact(spark, dir, targetBytes = 1L << 30)
    TableLog.vacuum(spark, dir, keepVersions = 1, retainMs = 0L)
    def sidecars(): Int = {
      val root = new java.io.File(dir, "_graft_dv")
      if (!root.exists) 0
      else { def walk(f: java.io.File): Int =
        if (f.isFile) (if (f.getName.startsWith("part-")) 1 else 0)
        else f.listFiles.map(walk).sum
        walk(root) }
    }
    assert(sidecars() == 0)
  }

  test("streaming source treats an equality delete as a change commit") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 10).select($"id"))
    val ck = java.nio.file.Files.createTempDirectory("graft_eq_ck").toString
    def run(skip: Boolean): Either[String, Long] = {
      var n = 0L
      val q = spark.readStream
        .format(classOf[graft.sources.TableLogStreamProvider].getName)
        .option("path", dir).option("skipChangeCommits", skip.toString).load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          n += df.count(); ()
        }
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try { q.awaitTermination(60000); Right(n) }
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        Left(e.getCause.getMessage) }
    }
    assert(run(skip = false) == Right(10L))
    TableLog.deleteKeys(spark, dir, Seq(1L).toDF("id"))
    TableLog.append(spark, dir, spark.range(10, 15).select($"id"))
    run(skip = false) match {
      case Left(msg) => assert(msg.contains("non-append"), msg)
      case Right(n)  => fail(s"expected change-commit failure, got $n")
    }
    assert(run(skip = true) == Right(5L))
  }
}
