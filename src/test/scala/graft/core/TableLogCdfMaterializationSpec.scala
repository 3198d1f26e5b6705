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
}
