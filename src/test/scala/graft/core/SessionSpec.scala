package graft.core

import org.apache.spark.sql.SparkSession
import graft.SparkSpec
import graft.plans.{AsOfJoinOptimizations, AsOfJoinStrategy, MergeRuntimeFiltering}

/** The session front door: every way into a graft session ends with the
  * same native functions, planner strategies and optimizer rules.
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
}
