package graft.core

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.sources.GraftCatalog

/** Writes to `file://` start no OS process, and leave the modes Hadoop's
  * local filesystem always left.
  */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_localfs_$tag")
    Files.delete(d)
    d.toString
  }

  /** Permission bits of `p` with the sticky/setuid/setgid bits, as `ls` shows them. */
  private def mode(p: JPath): String =
    Integer.toOctalString(Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)

  /** The commands of the OS processes this JVM starts while `body` runs,
    * but for the JVM's background threads: the cleaner that removes a
    * collected session's artifact directory (`rm -rf`) and the executor
    * heartbeat's one-time page-size probe (`getconf`).
    */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft_localfs", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => (e.getThread("eventThread").getJavaName, e.getString("command")))
        .filterNot { case (thread, _) =>
          thread.startsWith("Cleaner-") || thread == "executor-heartbeater" }
        .map { case (thread, command) => s"$thread: $command" }
    } finally { rec.close(); Files.delete(dump) }
  }

  test("parquet, table-log, catalog and streaming writes start no process") {
    val started = processesStartedBy {
      val parquet = freshDir("parquet")
      spark.range(0, 100).select($"id", ($"id" % 7).as("g"))
        .write.partitionBy("g").parquet(parquet)

      val dir = freshDir("tablelog")
      TableLog.append(spark, dir, spark.range(0, 50).select($"id", ($"id" * 10).as("v")))
      TableLog.setTableProperties(spark, dir,
        Map(TableLog.CdfProp -> "true", TableLog.CdfKeysProp -> "id"))
      TableLog.append(spark, dir, spark.range(50, 60).select($"id", ($"id" * 10).as("v")))
      TableLog.deleteWhereDv(spark, dir, $"id" === 3)
      TableLog.upsert(spark, dir, Seq((4L, -4L), (100L, 1000L)).toDF("id", "v"), Seq("id"))
      TableLog.compact(spark, dir)

      val wh = freshDir("catalog")
      spark.conf.set("spark.sql.catalog.graftfs", classOf[GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.graftfs.warehouse", wh)
      spark.sql("CREATE TABLE graftfs.db.t (k BIGINT, v STRING)")
      spark.sql("INSERT INTO graftfs.db.t VALUES (1, 'a'), (2, 'b')")

      val q = spark.readStream.schema("id BIGINT, g BIGINT").parquet(parquet)
        .writeStream.format("parquet")
        .option("path", freshDir("stream_out"))
        .option("checkpointLocation", freshDir("stream_ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000))
    }
    assert(started.isEmpty, started.mkString("processes started:\n", "\n", ""))
  }

  test("files, .crc files and directories keep Hadoop's modes") {
    val out = freshDir("modes")
    spark.range(0, 10).select($"id", ($"id" % 2).as("g"))
      .write.partitionBy("g").parquet(out)
    val all = Files.walk(java.nio.file.Paths.get(out)).iterator().asScala.toSeq
    val (dirs, files) = all.partition(Files.isDirectory(_))
    assert(files.exists(_.getFileName.toString.endsWith(".crc")))
    assert(files.exists(_.getFileName.toString.startsWith("part-")))
    // 0666 / 0777 under Hadoop's default umask 022
    files.foreach(f => assert(mode(f) == "644", f))
    dirs.foreach(d => assert(mode(d) == "755", d))
  }

  test("rename refuses an existing target file") {
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(freshDir("rename"))
    val (a, b) = (new Path(dir, "a"), new Path(dir, "b"))
    Seq(a, b).foreach(fs.create(_).close())
    assert(!fs.rename(a, b))
    assert(fs.exists(a) && fs.exists(b))
    assert(fs.rename(a, new Path(dir, "c")))
  }

  test("an explicit permission is applied; a sticky bit goes through Hadoop's own path") {
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(freshDir("explicit"))
    val file = new Path(dir, "f")
    fs.create(file).close()
    fs.setPermission(file, new FsPermission("600"))
    assert(mode(fs.pathToFile(file).toPath) == "600")
    fs.setPermission(dir, new FsPermission("1755"))
    assert(mode(fs.pathToFile(dir).toPath) == "1755")
  }
}
