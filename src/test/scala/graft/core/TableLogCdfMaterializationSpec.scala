package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Change-data materialization (the Delta `_change_data` role): with
  * `graft.enableChangeDataFeed` set, every row-level DML commit writes
  * its typed change rows as a hive-partitioned sidecar at commit time,
  * and [[TableLog.changes]] over a rewrite-heavy window plans ONE scan
  * per schema era instead of one reconstruction branch per commit.
  */
class TableLogCdfMaterializationSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    java.nio.file.Files.delete(d)
    d.toString
  }

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def leaves(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collectLeaves().size

  test("a 200-DML window plans O(1) scans materialized, one branch per " +
    "commit reconstructed, with identical rows") {
    val dir = freshDir("graft_cdf_mat")
    TableLog.append(spark, dir,
      spark.range(0, 200).select($"id", ($"id" * 10).as("v")).coalesce(1))
    TableLog.setTableProperties(spark, dir,
      Map(TableLog.CdfProp -> "true", TableLog.CdfKeysProp -> "id"))
    val v0 = TableLog.versions(spark, dir).last
    // 200 row-level dv-delete commits — the rewrite-heavy shape (a year
    // of daily MERGEs on a hot table); each materializes at commit time
    (0 until 200).foreach(i => TableLog.deleteWhereDv(spark, dir, $"id" === i))
    val tip = TableLog.versions(spark, dir).last

    val mat = TableLog.changes(spark, dir, v0, tip, keys = Seq("id"))
    // O(1) plan branches: one sidecar scan serves all 200 commits (the
    // whole point — reconstruction would also run 200 driver-side dv
    // census jobs BEFORE the plan even exists)
    assert(leaves(mat) <= 2, s"materialized feed planned ${leaves(mat)} leaves")
    val matRows = mat.select($"id", $"v", $"_change_type", $"_commit_version")
      .as[(Long, Long, String, Long)].collect().sorted.toSeq
    assert(matRows.size == 200 && matRows.forall(_._3 == "delete"))

    // hide the _SUCCESS markers -> every commit falls back to per-commit
    // reconstruction (the crash-between-commit-and-marker contract), and
    // the rows must be IDENTICAL — materialization is a serving
    // mechanism, never a semantics change
    val cd = new Path(dir, TableLog.ChangeDataDir)
    fs(dir).listStatus(cd).foreach { st =>
      fs(dir).rename(new Path(st.getPath, "_SUCCESS"),
        new Path(st.getPath, ".hidden_success"))
    }
    val rec = TableLog.changes(spark, dir, v0, tip, keys = Seq("id"))
    assert(leaves(rec) >= 200, s"reconstruction planned only ${leaves(rec)} leaves")
    val recRows = rec.select($"id", $"v", $"_change_type", $"_commit_version")
      .as[(Long, Long, String, Long)].collect().sorted.toSeq
    assert(recRows == matRows)
  }

  test("a requested key differing from the declared one falls back to " +
    "reconstruction (sidecar classification is key-dependent)") {
    val dir = freshDir("graft_cdf_key")
    TableLog.append(spark, dir,
      spark.range(0, 20).select($"id", $"id".as("v")).coalesce(1))
    TableLog.setTableProperties(spark, dir,
      Map(TableLog.CdfProp -> "true", TableLog.CdfKeysProp -> "id"))
    val v0 = TableLog.versions(spark, dir).last
    TableLog.deleteWhereDv(spark, dir, $"id" < 5)
    val tip = TableLog.versions(spark, dir).last
    // declared key: served from the sidecar
    val served = TableLog.changes(spark, dir, v0, tip, Seq("id"))
    assert(served.inputFiles.exists(_.contains(TableLog.ChangeDataDir)),
      served.inputFiles.mkString(","))
    // different key: must NOT serve the sidecar — its update pairing and
    // no-op suppression were computed under the declared key
    val fallback = TableLog.changes(spark, dir, v0, tip, Seq("v"))
    assert(!fallback.inputFiles.exists(_.contains(TableLog.ChangeDataDir)),
      fallback.inputFiles.mkString(","))
    // and both classify this pure delete identically
    assert(served.select($"id", $"_change_type").as[(Long, String)]
      .collect().sorted.toSeq ==
      fallback.select($"id", $"_change_type").as[(Long, String)]
        .collect().sorted.toSeq)
  }

  test("vacuum reclaims the dropped versions' sidecars") {
    val dir = freshDir("graft_cdf_vac")
    TableLog.append(spark, dir,
      spark.range(0, 30).select($"id", $"id".as("v")).coalesce(1))
    TableLog.setTableProperties(spark, dir,
      Map(TableLog.CdfProp -> "true", TableLog.CdfKeysProp -> "id"))
    (0 until 4).foreach(i => TableLog.deleteWhereDv(spark, dir, $"id" === i))
    val before = TableLog.materializedChangeVersions(spark, dir).keySet
    assert(before.size == 4, before)
    TableLog.vacuum(spark, dir, keepVersions = 2, retainMs = 0L)
    val after = TableLog.materializedChangeVersions(spark, dir).keySet
    val retained = TableLog.versions(spark, dir).toSet
    assert(after.subsetOf(retained), s"stale sidecars: ${after -- retained}")
    assert(after.size < before.size)
  }

  test("a multi-version sidecar batch plans from every version's footer: " +
    "a column a DML adds without ALTER surfaces in the feed") {
    val dir = freshDir("graft_cdf_drift")
    TableLog.append(spark, dir,
      spark.range(0, 10).select($"id", ($"id" * 10).as("v")).coalesce(1))
    TableLog.setTableProperties(spark, dir,
      Map(TableLog.CdfProp -> "true", TableLog.CdfKeysProp -> "id"))
    val v0 = TableLog.versions(spark, dir).last
    TableLog.deleteWhereDv(spark, dir, $"id" === 1)   // sidecar: (id, v)
    TableLog.upsert(spark, dir,                        // sidecar: (id, v, tag)
      Seq((2L, 20L, "x")).toDF("id", "v", "tag"), Seq("id"))
    val tip = TableLog.versions(spark, dir).last
    assert(TableLog.materializedChangeVersions(spark, dir).keySet ==
      Set(v0 + 1, v0 + 2))
    // both commits are sidecar-served in one schema era: ONE scan whose
    // schema must merge both versions' footers
    val feed = TableLog.changes(spark, dir, v0, tip, keys = Seq("id"))
    assert(feed.columns.contains("tag"), feed.columns.mkString(","))
    assert(feed.filter($"_change_type" === "update_postimage" && $"id" === 2)
      .select($"tag").as[String].collect().toSeq == Seq("x"))
    assert(feed.filter($"_change_type" === "delete")
      .select($"id").as[Long].collect().toSeq == Seq(1L))
  }

  private def hideSuccessMarkers(dir: String): Unit = {
    val cd = new Path(dir, TableLog.ChangeDataDir)
    fs(dir).listStatus(cd).foreach { st =>
      fs(dir).rename(new Path(st.getPath, "_SUCCESS"),
        new Path(st.getPath, ".hidden_success"))
    }
  }

  test("materialized change rows equal reconstructed ones over a mixed " +
    "history: deletes of one key and across two files, a keyed upsert") {
    val dir = freshDir("graft_cdf_eq")
    TableLog.append(spark, dir, spark.range(0, 10)
      .select($"id", ($"id" * 10).as("v"), lit("a").as("s")).coalesce(1))
    TableLog.setTableProperties(spark, dir,
      Map(TableLog.CdfProp -> "true", TableLog.CdfKeysProp -> "id"))
    val v0 = TableLog.versions(spark, dir).last
    TableLog.append(spark, dir, spark.range(10, 20)
      .select($"id", ($"id" * 10).as("v"), lit("b").as("s")).coalesce(1))
    TableLog.deleteWhereDv(spark, dir, $"id" === 3)
    TableLog.deleteWhereDv(spark, dir, $"id".isin(5, 15))
    // a no-op update (id 1 unchanged), a changed row (id 2), a new key
    TableLog.upsert(spark, dir,
      Seq((1L, 10L, "a"), (2L, 21L, "a"), (100L, 1000L, "n"))
        .toDF("id", "v", "s"), Seq("id"))
    // a delete after the rewrite, and an upsert into a dv-touched file
    TableLog.deleteWhereDv(spark, dir, $"id".isin(2, 12))
    TableLog.upsert(spark, dir,
      Seq((16L, 161L, "b"), (101L, 1010L, "n")).toDF("id", "v", "s"),
      Seq("id"))
    val tip = TableLog.versions(spark, dir).last
    assert(TableLog.materializedChangeVersions(spark, dir).keySet ==
      ((v0 + 2) to tip).toSet)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"v", $"s", $"_change_type", $"_commit_version")
        .as[(Long, Long, String, String, Long)].collect().sorted.toSeq
    val mat = rows(TableLog.changes(spark, dir, v0, tip, Seq("id")))
    assert(mat.map(r => (r._1, r._4)).sorted == Seq(
      (2L, "delete"), (2L, "update_postimage"), (2L, "update_preimage"),
      (3L, "delete"), (5L, "delete"), (10L, "insert"), (11L, "insert"),
      (12L, "delete"), (12L, "insert"), (13L, "insert"), (14L, "insert"),
      (15L, "delete"), (15L, "insert"), (16L, "insert"),
      (16L, "update_postimage"), (16L, "update_preimage"), (17L, "insert"),
      (18L, "insert"), (19L, "insert"), (100L, "insert"), (101L, "insert")))
    hideSuccessMarkers(dir)
    assert(TableLog.materializedChangeVersions(spark, dir).isEmpty)
    assert(rows(TableLog.changes(spark, dir, v0, tip, Seq("id"))) == mat)
  }

  test("a null-keyed insert beside an unchanged null-keyed row reaches " +
    "the feed, materialized or reconstructed") {
    for (cdf <- Seq(true, false)) {
      val dir = freshDir("graft_cdf_nullkey")
      TableLog.append(spark, dir,
        Seq((Some(1L), "old"), (None, "five"), (Some(2L), "keep"))
          .toDF("id", "s").coalesce(1))
      TableLog.setTableProperties(spark, dir, Map(
        TableLog.CdfProp -> cdf.toString, TableLog.CdfKeysProp -> "id"))
      val v0 = TableLog.versions(spark, dir).last
      TableLog.upsert(spark, dir,
        Seq((Some(1L), "new"), (None, "seven")).toDF("id", "s"), Seq("id"))
      val tip = TableLog.versions(spark, dir).last
      assert(TableLog.read(spark, dir).filter($"id".isNull)
        .select($"s").as[String].collect().sorted.toSeq == Seq("five", "seven"))
      val feed = TableLog.changes(spark, dir, v0, tip, Seq("id"))
        .select($"id", $"s", $"_change_type")
        .as[(Option[Long], String, String)].collect().toSeq
      assert(feed.sortBy(_._2) == Seq(
        (Some(1L), "new", "update_postimage"),
        (Some(1L), "old", "update_preimage"),
        (None, "seven", "insert")), s"cdf=$cdf")
    }
  }

  test("a commit's own change rows serve it only when its parent is the " +
    "snapshot they were computed against") {
    val rows = spark.range(1).toDF()
    val own = TableLog.ownChanges(snapshot = 7L, rows)
    assert(own(7L).contains(rows))
    assert(own(8L).isEmpty) // rebased onto a racing writer's version
    assert(own(6L).isEmpty)
  }

  test("a keyed rewrite pairs its pre and post images in one shuffle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def shuffles(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case q: QueryStageExec => shuffles(q.plan)
      case e: ShuffleExchangeLike => 1 + e.children.map(shuffles).sum
      case other => other.children.map(shuffles).sum
    }
    val dir = freshDir("graft_cdf_pair")
    TableLog.append(spark, dir,
      spark.range(0, 20).select($"id", $"id".as("v")).coalesce(1))
    TableLog.deleteWhereDv(spark, dir, $"id" === 7)
    TableLog.upsert(spark, dir,
      Seq((1L, 1L), (2L, 20L), (50L, 50L)).toDF("id", "v"), Seq("id"))
    val v = TableLog.versions(spark, dir).last
    val feed = TableLog.changesOfVersion(spark, dir, v, Seq("id")).get
    val rows = feed.select($"id", $"v", $"_change_type")
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(rows == Seq((2L, 2L, "update_preimage"),
      (2L, 20L, "update_postimage"), (50L, 50L, "insert")))
    assert(shuffles(feed.queryExecution.executedPlan) == 1,
      feed.queryExecution.executedPlan.treeString)
  }
}
