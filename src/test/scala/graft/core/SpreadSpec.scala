package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The scan spread and write pack plan their exchange only at or below
  * the `Spread.MaxInputBytes` gate; above it the input plan is untouched.
  */
class SpreadSpec extends SparkSpec {
  import spark.implicits._

  private def df: DataFrame = Seq((1, "a"), (2, "b"), (3, "a")).toDF("k", "v")

  private def plan(d: DataFrame): String = d.queryExecution.executedPlan.toString

  private val above = Spread.MaxInputBytes + 1

  test("below the gate byKnownSize plans a round-robin exchange to defaultParallelism") {
    val n = spark.sparkContext.defaultParallelism
    val p = plan(Spread.byKnownSize(spark, 0L)(df))
    assert(p.contains(s"Exchange RoundRobinPartitioning($n)"), p)
    // the dir-listing form applies the same gate to a small test table
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val pd = plan(Spread.bySize(spark, "/root/testdata/sf0.001", Seq("documents"))(docs))
    assert(pd.contains(s"Exchange RoundRobinPartitioning($n)"), pd)
  }

  test("below the gate packForWrite packs keyless input into one partition, keyed by hash") {
    val packed = Spread.packForWrite(spark, Spread.MaxInputBytes)(df)
    assert(packed.rdd.getNumPartitions == 1)
    assert(packed.count() == 3)
    val keyed = plan(Spread.packForWrite(spark, 0L, Seq($"k"))(df))
    assert("Exchange hashpartitioning\\(k#\\d+".r.findFirstIn(keyed).nonEmpty, keyed)
  }

  test("above the gate neither byKnownSize nor packForWrite adds an exchange") {
    Seq(Spread.byKnownSize(spark, above)(df),
        Spread.packForWrite(spark, above)(df),
        Spread.packForWrite(spark, above, Seq($"k"))(df)).foreach { d =>
      assert(!plan(d).contains("Exchange"), plan(d))
    }
  }
}
