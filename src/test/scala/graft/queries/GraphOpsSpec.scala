package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class GraphOpsSpec extends SparkSpec {

  test("pagerank iterations broadcast the rank side; edges are never re-shuffled") {
    // one un-checkpointed iteration step (the query's localCheckpoint
    // hides the loop plan): the edges⋈contrib join must be broadcast —
    // a SortMergeJoin there would shuffle the O(edges) side every round
    val (e, deg) = GraphOps.tradingGraph(spark, "/root/testdata/sf0.001")
    val plan = GraphOps.iterate(e, deg, GraphOps.initialRank(deg))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"edge re-shuffle detected:\n$plan")
    assert(plan.contains("partial_sum"), s"no map-side combine:\n$plan")
  }

  test("integer pagerank is bit-identical under different partitioning") {
    // the claim the micro-unit arithmetic makes: shuffle/merge order cannot
    // perturb ranks, so any partitioning yields the same bytes
    val sf = "/root/testdata/sf0.001"
    val base = GraphOps.pagerank(spark, sf).collect().toSeq
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val other = GraphOps.pagerank(spark, sf).collect().toSeq
      assert(base == other)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(base.size == 25)
    // ranks are positive and sorted desc with node tie-break
    val ranks = base.map(_.getLong(1))
    assert(ranks == ranks.sorted.reverse && ranks.forall(_ > 0))
    // suppliers aggregate many customers' mass -> the head of the ranking
    // on this bipartite graph must contain supplier nodes
    assert(base.take(5).exists(_.getString(0).startsWith("s")))
  }

  test("triangle census: exact counts on known graphs") {
    import spark.implicits._
    // K4: 6 edges, 4 triangles, 12 wedges, clustering = 1.0
    val k4 = (for { u <- 1 to 4; v <- 1 to 4 if u < v } yield (u.toLong, v.toLong))
      .toDF("u", "v")
    val r = GraphOps.triangleCensus(k4).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((4L, 6L, 12L, 4L, 1000000L)))
    // a 6-node path: wedges but zero triangles
    val path = (1 to 5).map(i => (i.toLong, (i + 1).toLong)).toDF("u", "v")
    val p = GraphOps.triangleCensus(path).collect().head
    assert(p.getLong(3) == 0L && p.getLong(2) == 4L)
  }

  test("triangle census matches the naive closed-wedge count on a random graph") {
    import spark.implicits._
    // deterministic pseudo-random graph over 60 nodes
    val edges = (for { u <- 1 to 60; v <- 1 to 60 if u < v }
      yield (u.toLong, v.toLong))
      .filter { case (u, v) => (u * 7919 + v * 104729) % 7 == 0 }
      .toDF("u", "v")
    val census = GraphOps.triangleCensus(edges).collect().head.getLong(3)
    val e = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nodes = e.flatMap(t => Seq(t._1, t._2)).toSeq.sorted
    var naive = 0L
    for { a <- nodes; b <- nodes if a < b && e((a, b))
          c <- nodes if b < c && e((b, c)) && e((a, c)) } naive += 1
    assert(census == naive, s"census=$census naive=$naive")
  }

  test("triangle wedge join is bounded: hubs never enumerate neighbor pairs") {
    import spark.implicits._
    // star graph: hub 0 joined to 1..50 plus one closing edge (1,2).
    // With degree orientation the hub has out-degree 0 (every neighbor has
    // lower degree), so wedges come only from the leaves - 50 leaves of
    // out-degree at most 2 - instead of the hub's C(50,2) = 1225 pairs.
    val star = ((1 to 50).map(i => (0L, i.toLong)) :+ (1L, 2L)).toDF("u", "v")
    val r = GraphOps.triangleCensus(star).collect().head
    assert(r.getLong(3) == 1L) // exactly the 0-1-2 triangle
  }

  test("co-partitioned graph mode: results equal broadcast mode, plans broadcast nothing") {
    import spark.implicits._
    val edges = (for { u <- 1 to 60; v <- 1 to 60 if u < v }
      yield (u.toLong, v.toLong))
      .filter { case (u, v) => (u * 7919 + v * 104729) % 7 == 0 }
      .toDF("u", "v")
    // census + LPA: the copart flag must not change a single row
    assert(GraphOps.triangleCensus(edges, copart = true).collect().toSeq ==
      GraphOps.triangleCensus(edges, copart = false).collect().toSeq)
    assert(GraphOps.lpaCommunities(edges, copart = true).collect().toSeq ==
      GraphOps.lpaCommunities(edges, copart = false).collect().toSeq)
    // pagerank end-to-end through the size threshold (0 = co-partition)
    val sf = "/root/testdata/sf0.001"
    val base = GraphOps.pagerank(spark, sf).collect().toSeq
    try {
      spark.conf.set("spark.graft.graph.broadcastMaxInputBytes", "0")
      assert(GraphOps.pagerank(spark, sf).collect().toSeq == base)
    } finally spark.conf.unset("spark.graft.graph.broadcastMaxInputBytes")
    // the at-scale plan shape: ONE un-checkpointed iteration step in
    // copartition mode must contain no broadcast anywhere — the exact
    // structure (rank/contrib/adjacency shipped to every executor) that
    // OOMs when node tables are data-sized
    val (e, deg) = GraphOps.tradingGraph(spark, sf, copart = true)
    val plan = GraphOps.iterate(e, deg, GraphOps.initialRank(deg), copart = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Broadcast"), s"broadcast in copartition plan:\n$plan")
  }

  test("LPA round plans exactly one shuffle exchange (count agg + argmax share it)") {
    import spark.implicits._
    val e0 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    val e = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
      .select(col("u").as("src"), col("v").as("dst"))
      .transform(graft.core.Checkpoint.apply)
    val labels = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .transform(graft.core.Checkpoint.apply)
    // broadcast mode (what the bench's auto dial picks): the checkpointed
    // edge list scans, labels broadcast, and the repartition(dst) is the
    // ROUND'S ONLY shuffle — both group-bys run on its partitioning
    val plan = GraphOps.lpaRound(e, labels, copart = false)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"LPA round exchange count drifted:\n$plan")
    // the at-scale shape (partialAgg): two exchanges, each fed by a
    // map-side partial HashAggregate — converged-label rounds compress
    // BEFORE the shuffle and no single dst owns a whole task
    val planPA = GraphOps.lpaRound(e, labels, copart = false, partialAgg = true)
      .queryExecution.executedPlan.toString
    val exchangesPA = "Exchange hashpartitioning".r.findAllIn(planPA).length
    assert(exchangesPA == 2, s"partial-agg LPA round shape drifted:\n$planPA")
  }

  private def withConf(k: String, v: String)(f: => Unit): Unit = {
    spark.conf.set(k, v)
    try f finally spark.conf.unset(k)
  }

  test("LPA round-shape dial: size-thresholded, both sides reachable") {
    val sf = "/root/testdata/sf0.001"
    val k = "spark.graft.lpa.oneShuffleMaxInputBytes"
    assert(!GraphOps.lpaPartialAgg(spark, sf)) // tiny input -> one-shuffle
    withConf(k, "1") {
      assert(GraphOps.lpaPartialAgg(spark, sf)) // above threshold -> partial agg
    }
    withConf(k, Long.MaxValue.toString) {
      assert(!GraphOps.lpaPartialAgg(spark, sf))
    }
  }

  test("auto mode is size-thresholded on input bytes") {
    val sf = "/root/testdata/sf0.001"
    val k = "spark.graft.graph.broadcastMaxInputBytes"
    // tiny input, default 2 GiB threshold -> broadcast
    assert(!GraphOps.copartitionMode(spark, sf))
    // threshold under the input size -> co-partition
    withConf(k, "1") { assert(GraphOps.copartitionMode(spark, sf)) }
    withConf(k, Long.MaxValue.toString) {
      assert(!GraphOps.copartitionMode(spark, sf))
    }
  }

  test("label propagation separates two bridged cliques deterministically") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} with one bridge edge (3,4): after 3
    // synchronous min-tie-break rounds the cliques keep distinct labels
    val edges = Seq((1L,2L),(1L,3L),(2L,3L),(4L,5L),(4L,6L),(5L,6L),(3L,4L))
      .toDF("u", "v")
    val got = GraphOps.lpaCommunities(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 3L), (3L, 3L)), got.mkString(","))
  }

  test("k-core peel: known graph — clique survives, pendants and paths peel away") {
    import spark.implicits._
    // K4 clique {1,2,3,4} (every degree 3) + pendant 5-1 + path 10-11-12:
    // round 1 removes 5 (deg 1) and 10/11/12 (deg <= 2); the clique keeps
    // degree 3 throughout (1's extra pendant edge vanishes with node 5)
    val und = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
      (5L,1L),(10L,11L),(11L,12L)).toDF("u", "v")
    val e0 = und.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(und.select(col("v").as("src"), col("u").as("dst")))
    for (copart <- Seq(false, true)) {
      val kept = GraphOps.peelEdges(e0, copart)
        .select(col("src")).distinct().as[Long].collect().toSet
      assert(kept == Set(1L, 2L, 3L, 4L), s"copart=$copart kept $kept")
    }
  }

  test("k-core: co-partition geometry equals broadcast; copart plan broadcasts nothing") {
    val sf = "/root/testdata/sf0.001"
    val a = GraphOps.kcoreWith(spark, sf, copart = false).collect().toSeq
    val b = GraphOps.kcoreWith(spark, sf, copart = true).collect().toSeq
    assert(a == b, s"kcore geometries disagree:\n$a\n$b")
    assert(a.nonEmpty)
    import spark.implicits._
    // plan shape: one peel round in copart mode must not broadcast the
    // keep-set (the O(nodes) side that outgrows memory at 100x). Disable
    // auto-broadcast so the assertion tests OUR hint, not the optimizer's
    // size estimate on a toy graph.
    val prevT = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    def restore(key: String, v: Option[String]): Unit =
      v.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val e0 = (1 to 50).flatMap(i => Seq((i.toLong, (i % 50 + 1).toLong),
        ((i % 50 + 1).toLong, i.toLong))).toDF("src", "dst")
      val plan = GraphOps.peelRound(e0, copart = true)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Broadcast"), s"broadcast in copart peel plan:\n$plan")
      val hinted = GraphOps.peelRound(e0, copart = false)
        .queryExecution.executedPlan.toString
      assert(hinted.contains("Broadcast"), "broadcast geometry lost its hint")
    } finally {
      restore("spark.sql.autoBroadcastJoinThreshold", prevT)
      restore("spark.sql.adaptive.autoBroadcastJoinThreshold", prevA)
    }
  }

  test("triangle census and LPA are bit-identical under different partitioning") {
    import spark.implicits._
    val edges = (for { u <- 1 to 40; v <- 1 to 40 if u < v }
      yield (u.toLong, v.toLong))
      .filter { case (u, v) => (u * 31 + v * 17) % 5 == 0 }
      .toDF("u", "v")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def run(): (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) =
      (GraphOps.triangleCensus(edges).collect().toSeq,
        GraphOps.lpaCommunities(edges).collect().toSeq)
    val base = run()
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      assert(run() == base)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
