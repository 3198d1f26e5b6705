package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.core.TableLog

/** TableLog streaming source: version-tailing micro-batches, incremental
  * delivery, checkpoint restart, and the append-only contract.
  */
class TableLogStreamSourceSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("graft_tls").toString

  private val provider = classOf[TableLogStreamProvider].getName

  test("tailing: each committed version arrives as its own micro-batch") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 100).select($"id"))
    TableLog.append(spark, dir, spark.range(100, 150).select($"id"))
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = spark.readStream.format(provider).option("path", dir).load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.synchronized { batches += ((id, df.count())) }; ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_tls_ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // both pre-existing versions arrive (as one or two catch-up batches)
    assert(batches.map(_._2).sum == 150, batches)
  }

  test("incremental + restart: only new versions replay after recovery") {
    val dir = freshDir()
    val ck = java.nio.file.Files.createTempDirectory("graft_tls_ck2").toString
    TableLog.append(spark, dir, spark.range(0, 100).select($"id"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(): Unit = {
      val q = spark.readStream.format(provider).option("path", dir).load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = df.select("id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
            .collect()
          seen.synchronized { seen ++= ids }; ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    run()
    assert(seen.sorted.toSeq == (0L until 100L))
    // two more commits while the stream is DOWN; restart must deliver
    // exactly those (offsets ride the checkpoint, not the source object)
    TableLog.append(spark, dir, spark.range(100, 130).select($"id"))
    TableLog.append(spark, dir, spark.range(130, 160).select($"id"))
    run()
    assert(seen.sorted.toSeq == (0L until 160L), "restart replayed or lost rows")
  }

  test("append-only contract: a dv delete breaks the stream; skipChangeCommits continues") {
    val dir = freshDir()
    val ck = java.nio.file.Files.createTempDirectory("graft_tls_ck3").toString
    TableLog.append(spark, dir, spark.range(0, 50).select($"id"))
    def run(skip: Boolean, ckDir: String): Either[Throwable, Long] = {
      var n = 0L
      val reader = spark.readStream.format(provider).option("path", dir)
        .option("skipChangeCommits", skip.toString).load()
      val q = reader.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          n += df.count(); ()
        }
        .option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow()).start()
      try { q.awaitTermination(60000); Right(n) }
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        Left(e.getCause) }
    }
    assert(run(skip = false, ck) == Right(50L))
    TableLog.deleteWhereDv(spark, dir, col("id") < 10)
    TableLog.append(spark, dir, spark.range(50, 60).select($"id"))
    // strict mode: the dv commit is a change commit -> stream errors
    run(skip = false, ck) match {
      case Left(t) =>
        assert(t.getMessage.contains("non-append"), t.getMessage)
      case Right(n) => fail(s"expected failure, got $n rows")
    }
    // skipChangeCommits: the appended files still arrive, the dv change
    // contributes nothing (already-emitted rows are NOT retracted)
    assert(run(skip = true, ck) == Right(10L))
  }

  test("partitioned table: partition column arrives as a real column") {
    val dir = freshDir()
    TableLog.append(spark, dir,
      spark.range(0, 100).select($"id", ($"id" % 2).cast("int").as("p")),
      partitionBy = Seq("p"))
    var total = 0L
    var pSum = 0L
    val q = spark.readStream.format(provider).option("path", dir).load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        total += df.count()
        pSum += df.agg(sum("p")).head().getLong(0); ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_tls_ck4").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(total == 100 && pSum == 50)
  }

  test("disabled V2 reader: the stream fails at start, naming the provider") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 10).select($"id"))
    val key = "spark.sql.streaming.disabledV2MicroBatchReaders"
    spark.conf.set(key, provider)
    var batches = 0
    try {
      val q = spark.readStream.format(provider).option("path", dir).load()
        .writeStream
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          batches += 1; ()
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_tls_ck5").toString)
        .trigger(Trigger.AvailableNow()).start()
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.awaitTermination(60000))
      // no V1 fallback exists: nothing was delivered through another path
      assert(e.getMessage.contains(provider) &&
        e.getMessage.contains("does not support microbatch processing"),
        e.getMessage)
      assert(batches == 0)
    } finally spark.conf.unset(key)
  }
}
