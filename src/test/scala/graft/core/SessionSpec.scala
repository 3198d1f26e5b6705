package graft.core

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem}
import org.apache.spark.sql.SparkSession
import graft.SparkSpec
import graft.plans.{AsOfJoinOptimizations, AsOfJoinStrategy, MergeRuntimeFiltering}

/** The session front door: every way into a graft session ends with the
  * same native functions, planner strategies and optimizer rules, and
  * resolves `file://` to graft's local filesystem.
  */
class SessionSpec extends SparkSpec {

  private val functionNames =
    graft.functions.GraftFunctions.functions.map(_._1.funcName).sorted

  private def graftFunctions(s: SparkSession): Seq[String] =
    s.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_"))

  private def assertInstalled(s: SparkSession): Unit = {
    assert(graftFunctions(s).sorted == functionNames)
    assert(s.experimental.extraStrategies == Seq(AsOfJoinStrategy))
    assert(s.experimental.extraOptimizations ==
      Seq(AsOfJoinOptimizations, MergeRuntimeFiltering))
  }

  test("Session.local and Session.tune install the same extensions") {
    assertInstalled(spark)
    // a new session starts from an empty registry and no experimental
    // methods; tune must bring it to the same state as local
    val fresh = spark.newSession()
    assert(graftFunctions(fresh).isEmpty && fresh.experimental.extraStrategies.isEmpty)
    assertInstalled(Session.tune(fresh))
  }

  test("install is idempotent: a second call adds no duplicates") {
    val s = Session.install(Session.install(spark.newSession()))
    assertInstalled(Session.install(s))
  }

  private val root = URI.create("file:///")
  private def confs(s: SparkSession): Seq[Configuration] =
    Seq(s.sparkContext.hadoopConfiguration,
      org.apache.spark.sql.graftshim.GraftShim.sharedHadoopConf(s))

  test("file:// resolves to graft's local filesystem for FileSystem and FileContext") {
    Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())
      .foreach { c =>
        assert(FileSystem.get(root, c).isInstanceOf[GraftLocalFileSystem])
        assert(FileSystem.getLocal(c).isInstanceOf[LocalFileSystem])
      }
    val fc = FileContext.getFileContext(root, spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[GraftLocalFs])
  }

  test("install is idempotent on the filesystem: same keys, same cached instance") {
    val before = FileSystem.get(root, spark.sparkContext.hadoopConfiguration)
    Session.install(Session.install(spark))
    confs(spark).foreach(c => Session.localFsConfs.foreach { case (k, v) =>
      assert(c.get(k) == v) })
    assert(FileSystem.get(root, spark.sparkContext.hadoopConfiguration) eq before)
  }

  test("a conf that names another file:// filesystem is left alone") {
    val other = Map(
      "fs.file.impl" -> classOf[LocalFileSystem].getName,
      "fs.AbstractFileSystem.file.impl" -> classOf[org.apache.hadoop.fs.local.RawLocalFs].getName)
    try {
      confs(spark).foreach(c => other.foreach { case (k, v) => c.set(k, v) })
      Session.install(spark)
      confs(spark).foreach(c => other.foreach { case (k, v) => assert(c.get(k) == v) })
    } finally confs(spark).foreach(c => Session.localFsConfs.foreach {
      case (k, v) => c.set(k, v) })
  }

  test("install replaces Hadoop's default local filesystem cached before it") {
    // what a session built outside graft leaves in Hadoop's cache
    val conf = spark.sparkContext.hadoopConfiguration
    FileSystem.get(root, conf).close()
    val defaultConf = new Configuration(conf)
    defaultConf.unset("fs.file.impl")
    assert(!FileSystem.get(root, defaultConf).isInstanceOf[GraftLocalFileSystem])
    Session.tune(spark)
    assert(FileSystem.get(root, conf).isInstanceOf[GraftLocalFileSystem])
  }
}
