package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.TableLog

/** SQL UPDATE / MERGE INTO / subquery DELETE through the DSv2
  * row-level-operation path ([[GraftRowLevelOperation]]): delta-based
  * merge-on-read — deleted positions land in dv sidecars, inserted rows
  * in fresh files, NO existing data file is rewritten.
  */
class GraftRowLevelSpec extends SparkSpec {
  import spark.implicits._

  private def freshWh(name: String): (String, String) = {
    val d = java.nio.file.Files.createTempDirectory(name)
    java.nio.file.Files.delete(d)
    val cat = name.replace('.', '_')
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", d.toString)
    (d.toString, cat)
  }

  test("SQL UPDATE: merge-on-read, no data file rewritten, time travel intact") {
    val (wh, cat) = freshWh("graft_rlo_upd")
    val dir = s"$wh/s/t"
    TableLog.append(spark, dir,
      spark.range(0, 100).select($"id", ($"id" % 10).as("v")).coalesce(2))
    def tipFiles() = TableLog.manifestLines(spark, dir,
      TableLog.versions(spark, dir).last).filterNot(_.startsWith("#")).toSet
    val before = tipFiles()
    spark.sql(s"UPDATE $cat.s.t SET v = v + 100 WHERE id % 10 = 3")
    val t = spark.table(s"$cat.s.t")
    assert(t.count() == 100)
    assert(t.filter($"id" % 10 === 3).select(sum($"v")).as[Long].head() ==
      10 * 103L)
    assert(t.filter($"id" % 10 =!= 3 && $"v" >= 100).count() == 0)
    // merge-on-read: every pre-update data file still serves the tip,
    // and the commit added fresh data + a dv sidecar line
    val after = tipFiles()
    assert(before.nonEmpty && before.subsetOf(after),
      "UPDATE rewrote data files (expected MoR)")
    assert(after.size > before.size, "UPDATE added no fresh data file")
    // time travel: version 1 still shows the pre-update values
    assert(spark.sql(s"SELECT sum(v) FROM $cat.s.t VERSION AS OF 1")
      .as[Long].head() == (0L until 100L).map(_ % 10).sum)
  }

  test("SQL UPDATE on a partitioned table: moves rows across partitions, " +
    "untouched partition files byte-identical") {
    val (wh, cat) = freshWh("graft_rlo_updp")
    val dir = s"$wh/s/p"
    TableLog.append(spark, dir,
      spark.range(0, 400).select($"id", ($"id" % 4).as("p")).repartition(4, $"p"),
      partitionBy = Seq("p"))
    val untouched = TableLog.manifestLines(spark, dir,
        TableLog.versions(spark, dir).last)
      .filterNot(_.startsWith("#"))
      .filter(f => f.contains("p=0/") || f.contains("p=1/"))
    assert(untouched.nonEmpty)
    val sigs = untouched.map(f => f ->
      java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$dir/$f")).toMillis).toMap
    // partition-column update: rows move p=2 -> p=9
    spark.sql(s"UPDATE $cat.s.p SET p = 9 WHERE p = 2")
    val t = spark.table(s"$cat.s.p")
    assert(t.filter($"p" === 2).count() == 0)
    assert(t.filter($"p" === 9).count() == 100)
    assert(t.count() == 400)
    // inserted images landed in the hive layout for p=9
    assert(t.filter($"p" === 9).select(input_file_name()).distinct()
      .as[String].collect().forall(_.contains("p=9")))
    sigs.foreach { case (f, ts) =>
      assert(java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$dir/$f")).toMillis == ts,
        s"untouched partition file $f was modified")
    }
  }

  test("MERGE INTO: matched update + not-matched insert, one commit") {
    val (wh, cat) = freshWh("graft_rlo_merge")
    val dir = s"$wh/s/d"
    TableLog.append(spark, dir,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("k", "n", "amt")
        .coalesce(1))
    Seq((2L, "B", 200L), (4L, "D", 400L)).toDF("k", "n", "amt")
      .createOrReplaceTempView("rlo_src")
    val vBefore = TableLog.versions(spark, dir).last
    spark.sql(s"""MERGE INTO $cat.s.d t USING rlo_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET t.n = s.n, t.amt = s.amt
      WHEN NOT MATCHED THEN INSERT *""")
    assert(TableLog.versions(spark, dir).last == vBefore + 1)
    val got = spark.table(s"$cat.s.d").orderBy($"k")
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "a", 10L), (2L, "B", 200L), (3L, "c", 30L),
      (4L, "D", 400L)))
    // API path sees the same snapshot (shared dv/data machinery)
    assert(TableLog.read(spark, dir).count() == 4)
  }

  test("MERGE INTO with NOT MATCHED BY SOURCE DELETE") {
    val (wh, cat) = freshWh("graft_rlo_mbs")
    val dir = s"$wh/s/d2"
    TableLog.append(spark, dir,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "amt").coalesce(1))
    Seq((2L, 200L)).toDF("k", "amt").createOrReplaceTempView("rlo_src2")
    spark.sql(s"""MERGE INTO $cat.s.d2 t USING rlo_src2 s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET t.amt = s.amt
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val got = spark.table(s"$cat.s.d2").orderBy($"k")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((2L, 200L)))
  }

  test("UPDATE cannot resurrect dv- or eq-deleted rows") {
    val (wh, cat) = freshWh("graft_rlo_nores")
    val dir = s"$wh/s/t3"
    TableLog.append(spark, dir,
      spark.range(0, 50).select($"id", lit(0L).as("v")).coalesce(1))
    TableLog.deleteWhereDv(spark, dir, $"id" === 7L)
    TableLog.deleteKeys(spark, dir, Seq(9L).toDF("id"))
    // predicate matches the deleted rows too — they must stay deleted
    spark.sql(s"UPDATE $cat.s.t3 SET v = 1 WHERE id IN (6, 7, 9)")
    val t = spark.table(s"$cat.s.t3")
    assert(t.count() == 48)
    assert(t.filter($"id".isin(7L, 9L)).count() == 0)
    assert(t.filter($"v" === 1).select($"id").as[Long].collect().toSeq == Seq(6L))
  }

  test("UPDATE through a column mapping (post-RENAME) writes physical names") {
    val (wh, cat) = freshWh("graft_rlo_map")
    val dir = s"$wh/s/t4"
    TableLog.append(spark, dir,
      Seq((1L, "x"), (2L, "y")).toDF("k", "val").coalesce(1))
    spark.sql(s"ALTER TABLE $cat.s.t4 RENAME COLUMN val TO label")
    spark.sql(s"UPDATE $cat.s.t4 SET label = 'Z' WHERE k = 2")
    val got = spark.table(s"$cat.s.t4").orderBy($"k")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "x"), (2L, "Z")))
    // files carry the ON-DISK name: a fresh mapping-free read of the new
    // data file must see column `val`
    val newest = TableLog.manifestLines(spark, dir,
        TableLog.versions(spark, dir).last)
      .filterNot(_.startsWith("#")).filter(_.contains("-d0-")).toSeq
    assert(newest.nonEmpty)
    assert(spark.read.parquet(newest.map(f => s"$dir/$f"): _*)
      .columns.toSeq == Seq("k", "val"))
  }

  test("DELETE with a subquery predicate routes through the delta path") {
    val (wh, cat) = freshWh("graft_rlo_subq")
    val dir = s"$wh/s/t5"
    TableLog.append(spark, dir,
      spark.range(0, 30).select($"id", ($"id" % 3).as("g")).coalesce(1))
    Seq(0L, 17L, 23L).toDF("bad").createOrReplaceTempView("rlo_bad")
    spark.sql(
      s"DELETE FROM $cat.s.t5 WHERE id IN (SELECT bad FROM rlo_bad)")
    val t = spark.table(s"$cat.s.t5")
    assert(t.count() == 27)
    assert(t.filter($"id".isin(0L, 17L, 23L)).count() == 0)
    // merge-on-read: the original data file still serves the tip and a
    // dv sidecar line carries the subquery-selected positions
    val lines = TableLog.manifestLines(spark, dir,
      TableLog.versions(spark, dir).last)
    assert(lines.filterNot(_.startsWith("#")).nonEmpty)
    assert(lines.exists(_.startsWith("#dvp=")))
  }

  test("MERGE into a created-but-empty table inserts through the declared layout") {
    val (wh, cat) = freshWh("graft_rlo_empty")
    spark.sql(s"""CREATE TABLE $cat.s.t6 (k BIGINT, p STRING, amt BIGINT)
      PARTITIONED BY (p)""")
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "p", "amt")
      .createOrReplaceTempView("rlo_seed")
    spark.sql(s"""MERGE INTO $cat.s.t6 t USING rlo_seed s ON t.k = s.k
      WHEN NOT MATCHED THEN INSERT *""")
    val t = spark.table(s"$cat.s.t6")
    assert(t.count() == 2)
    assert(t.select(input_file_name()).distinct().as[String].collect()
      .forall(f => f.contains("p=a") || f.contains("p=b")))
  }

  test("lineage metadata columns _file/_pos are selectable on MoR snapshots") {
    val dir = {
      val d = java.nio.file.Files.createTempDirectory("graft_rlo_lin")
      java.nio.file.Files.delete(d); d.toString
    }
    TableLog.append(spark, dir, spark.range(0, 20).toDF("id").coalesce(1))
    TableLog.deleteWhereDv(spark, dir, $"id" === 5L)
    val rows = spark.read.format("graft").load(dir)
      .select($"id", col("_file"), col("_pos"))
      .collect()
    assert(rows.length == 19)
    assert(rows.forall(r => !r.getString(1).contains(dir))) // relative path
    // _pos is the TRUE file position: id 6 sits at index 6 even though
    // id 5 is dv-hidden
    assert(rows.find(_.getLong(0) == 6L).get.getLong(2) == 6L)
  }

  test("MERGE WITH SCHEMA EVOLUTION: source's new column evolves the " +
    "target (metadata-only ALTER), old rows read null, delta write " +
    "carries the column") {
    val (wh, cat) = freshWh("graft_rlo_evo")
    val dir = s"$wh/s/e"
    TableLog.append(spark, dir,
      spark.range(0, 20).select($"id", ($"id" * 10).as("v")).coalesce(1))
    val filesBefore = TableLog.manifestLines(spark, dir,
      TableLog.versions(spark, dir).last).filterNot(_.startsWith("#")).toSet
    spark.range(10, 30)
      .select($"id", lit(-1L).as("v"), ($"id" * 100).as("w"))
      .createOrReplaceTempView("evo_src")
    spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.s.e t
      USING evo_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val t = spark.table(s"$cat.s.e")
    assert(t.columns.toSeq == Seq("id", "v", "w"))
    assert(t.count() == 30)
    // untouched rows read null for the evolved column
    assert(t.filter($"id" < 10).filter($"w".isNotNull).count() == 0)
    // matched + inserted rows carry it
    assert(t.filter($"id" >= 10).select(sum($"w")).as[Long].head() ==
      (10L until 30L).map(_ * 100).sum)
    assert(t.filter($"id" >= 10 && $"v" =!= -1L).count() == 0)
    // the evolution was metadata + delta: the original file was NOT
    // rewritten (still serves the tip through its pre-evolution schema)
    val filesAfter = TableLog.manifestLines(spark, dir,
      TableLog.versions(spark, dir).last).filterNot(_.startsWith("#")).toSet
    assert(filesBefore.subsetOf(filesAfter),
      "schema-evolving MERGE rewrote pre-existing data files")
    // and the change feed classifies the window exactly
    val tip = TableLog.versions(spark, dir).last
    val f = TableLog.changes(spark, dir, 1, tip, Seq("id"))
      .groupBy($"_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(f == Map("update_preimage" -> 10L, "update_postimage" -> 10L,
      "insert" -> 10L), f)
  }
}
