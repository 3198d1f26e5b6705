package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.TableLog

/** The ALTER TABLE SQL surface through the graft catalog: ADD/RENAME/
  * DROP COLUMN, SET/UNSET TBLPROPERTIES, RENAME TO — all metadata-only
  * commits; reads (plain and merge-on-read), writes, and time travel
  * compose with the column mapping.
  */
class GraftAlterTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshWh(tag: String): (String, String) = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_alter_$tag")
    java.nio.file.Files.delete(d)
    val cat = s"g$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", d.toString)
    (cat, d.toString)
  }

  test("SQL journey: create, insert, add, rename, drop, select") {
    val (cat, _) = freshWh("j")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v DOUBLE, tag STRING)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 10.0, 'a'), (2, 20.0, 'b')")
    spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMNS (note STRING)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (3, 30.0, 'c', 'n3')")
    spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN v TO amount")
    spark.sql(s"ALTER TABLE $cat.db.t DROP COLUMN tag")
    val out = spark.sql(
      s"SELECT k, amount, note FROM $cat.db.t WHERE amount > 5 ORDER BY k")
    assert(out.schema.fieldNames.toSeq == Seq("k", "amount", "note"))
    assert(out.as[(Long, Double, Option[String])].collect().toSeq ==
      Seq((1L, 10.0, None), (2L, 20.0, None), (3L, 30.0, Some("n3"))))
    // filter pushdown on the renamed column still prunes/pushes: the
    // physical plan carries the on-disk name into the parquet scan
    val plan = out.queryExecution.executedPlan.toString()
    assert(plan.contains("GraftMapped") || plan.contains("PushedFilters"),
      s"expected a mapped scan in:\n$plan")
    // inserts after the rename stay physically consistent
    spark.sql(s"INSERT INTO $cat.db.t VALUES (4, 40.0, 'n4')")
    assert(spark.sql(s"SELECT sum(amount) FROM $cat.db.t").as[Double].head() == 100.0)
  }

  test("time travel pins the pre-alter schema; MoR deletes compose") {
    val (cat, wh) = freshWh("tt")
    spark.sql(s"CREATE TABLE $cat.db.e (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.e SELECT id, id * 2 FROM range(0, 100)")
    val dir = s"$wh/db/e"
    spark.sql(s"ALTER TABLE $cat.db.e RENAME COLUMN v TO amount")
    // merge-on-read deletes against the renamed column: dv by predicate,
    // then equality keys under the LOGICAL name
    TableLog.deleteWhereDv(spark, dir, col("amount") >= 180)
    TableLog.deleteKeys(spark, dir, Seq(0L, 2L).toDF("amount"))
    val visible = spark.sql(s"SELECT count(*) AS n, sum(amount) AS s FROM $cat.db.e")
      .as[(Long, Long)].head()
    assert(visible._1 == 88, s"got $visible")
    // oracle: ids 0..89 minus amount in (0,2) -> ids 2..89 minus {1}
    val expect = (0L until 90L).map(_ * 2).filterNot(a => a == 0 || a == 2).sum
    assert(visible._2 == expect)
    // VERSION AS OF before the alter resolves the OLD name
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db.e VERSION AS OF 1")
      .as[Long].head() == (0L until 100L).map(_ * 2).sum)
    intercept[Exception] {
      spark.sql(s"SELECT sum(amount) FROM $cat.db.e VERSION AS OF 1").collect()
    }
  }

  test("re-added column after drop gets a fresh on-disk name (no resurrection)") {
    val (cat, wh) = freshWh("rz")
    spark.sql(s"CREATE TABLE $cat.db.r (k BIGINT, secret STRING)")
    spark.sql(s"INSERT INTO $cat.db.r VALUES (1, 'hidden')")
    spark.sql(s"ALTER TABLE $cat.db.r DROP COLUMN secret")
    spark.sql(s"ALTER TABLE $cat.db.r ADD COLUMNS (secret STRING)")
    // old file still stores 'hidden' under the retired physical column;
    // the re-added logical column must NOT surface it
    val r = spark.sql(s"SELECT secret FROM $cat.db.r").as[Option[String]].collect()
    assert(r.toSeq == Seq(None), s"resurrected: ${r.mkString(",")}")
    spark.sql(s"INSERT INTO $cat.db.r VALUES (2, 'fresh')")
    assert(spark.sql(s"SELECT k FROM $cat.db.r WHERE secret = 'fresh'")
      .as[Long].collect().toSeq == Seq(2L))
  }

  test("TBLPROPERTIES and RENAME TO surface") {
    val (cat, _) = freshWh("pr")
    spark.sql(s"CREATE TABLE $cat.db.p (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.p VALUES (7)")
    spark.sql(s"ALTER TABLE $cat.db.p SET TBLPROPERTIES ('team'='gold','pii'='no')")
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.db.p").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("team").contains("gold") && props.get("pii").contains("no"))
    spark.sql(s"ALTER TABLE $cat.db.p UNSET TBLPROPERTIES ('pii')")
    val props2 = spark.sql(s"SHOW TBLPROPERTIES $cat.db.p").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props2.get("team").contains("gold") && !props2.contains("pii"))
    spark.sql(s"ALTER TABLE $cat.db.p RENAME TO db.q")
    assert(spark.sql(s"SELECT k FROM $cat.db.q").as[Long].head() == 7L)
    assert(!spark.catalog.tableExists(s"$cat.db.p"))
    // history and properties survive the move
    assert(TableLog.tableProperties(spark,
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/db/q")("team") == "gold")
  }

  test("SQL DELETE FROM: merge-on-read by default, cow by conf, composes with rename") {
    val (cat, wh) = freshWh("dl")
    spark.sql(s"CREATE TABLE $cat.db.d (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.d SELECT id, id * 3 FROM range(0, 100)")
    val dir = s"$wh/db/d"
    def tipFiles() = {
      val v = TableLog.versions(spark, dir).last
      TableLog.manifestLines(spark, dir, v).filterNot(_.startsWith("#")).toSet
    }
    def tipHasDv() = {
      val v = TableLog.versions(spark, dir).last
      TableLog.manifestLines(spark, dir, v).exists(_.startsWith("#dvp="))
    }
    val filesBefore = tipFiles()
    spark.sql(s"DELETE FROM $cat.db.d WHERE v >= 270")
    // merge-on-read: no data file replaced, rows hidden by a dv sidecar
    assert(tipFiles() == filesBefore && tipHasDv())
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.d").as[Long].head() == 90)
    // composes with a rename: DELETE under the NEW name
    spark.sql(s"ALTER TABLE $cat.db.d RENAME COLUMN v TO amount")
    spark.sql(s"DELETE FROM $cat.db.d WHERE amount IN (0, 3)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.d").as[Long].head() == 88)
    // copy-on-write under the conf dial rewrites instead of veiling
    spark.conf.set("spark.graft.delete.mode", "cow")
    try {
      spark.sql(s"DELETE FROM $cat.db.d WHERE k < 10")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.d").as[Long].head() == 80)
      assert(tipFiles() != filesBefore)
    } finally spark.conf.unset("spark.graft.delete.mode")
    // time travel still sees the pre-delete snapshot
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.d VERSION AS OF 1")
      .as[Long].head() == 100)
  }

  test("alter on a created-but-never-written table rewrites the sidecar") {
    val (cat, _) = freshWh("sc")
    spark.sql(s"CREATE TABLE $cat.db.s (a BIGINT, b STRING)")
    spark.sql(s"ALTER TABLE $cat.db.s RENAME COLUMN b TO label")
    spark.sql(s"ALTER TABLE $cat.db.s ADD COLUMNS (c DOUBLE)")
    assert(spark.table(s"$cat.db.s").schema.fieldNames.toSeq ==
      Seq("a", "label", "c"))
    spark.sql(s"INSERT INTO $cat.db.s VALUES (1, 'x', 0.5)")
    assert(spark.sql(s"SELECT label FROM $cat.db.s").as[String].head() == "x")
  }

  test("ALTER COLUMN TYPE: lossless widening reads old and new files; " +
    "narrowing refuses") {
    val (cat, wh) = freshWh("wide")
    spark.sql(s"CREATE TABLE $cat.db.w (k INT, r FLOAT, d DECIMAL(7,2))")
    spark.sql(s"INSERT INTO $cat.db.w SELECT CAST(id AS INT), " +
      "CAST(id AS FLOAT), CAST(id AS DECIMAL(7,2)) FROM range(0, 50)")
    // widen all three families: int->long, float->double, decimal growth
    spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN k TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN r TYPE DOUBLE")
    spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN d TYPE DECIMAL(12,2)")
    assert(spark.table(s"$cat.db.w").schema
      .map(f => f.name -> f.dataType.simpleString) ==
      Seq("k" -> "bigint", "r" -> "double", "d" -> "decimal(12,2)"))
    // a value only BIGINT can hold lands in a NEW file; the snapshot now
    // spans int32-era and int64-era files — both must read
    spark.sql(s"INSERT INTO $cat.db.w VALUES " +
      s"(${Int.MaxValue.toLong + 1}, 1.5, CAST(9999999999.25 AS DECIMAL(12,2)))")
    assert(spark.table(s"$cat.db.w").count() == 51)
    assert(spark.sql(s"SELECT sum(k) FROM $cat.db.w").as[Long].head() ==
      (0L until 50L).sum + Int.MaxValue.toLong + 1)
    assert(spark.sql(s"SELECT sum(r) FROM $cat.db.w").as[Double].head() ==
      (0 until 50).map(_.toFloat.toDouble).sum + 1.5)
    // the API read path agrees (explicit declared schema, not mergeSchema)
    val dir = s"$wh/db/w"
    assert(TableLog.read(spark, dir).agg(sum($"k")).as[Long].head() ==
      (0L until 50L).sum + Int.MaxValue.toLong + 1)
    assert(TableLog.read(spark, dir).count() == 51)
    // MoR composes: dv-delete a pre-widening row, read through SQL
    TableLog.deleteWhereDv(spark, dir, $"k" === 7L)
    assert(spark.table(s"$cat.db.w").count() == 50)
    // time travel to the pre-widening version still shows INT
    assert(spark.sql(s"SELECT * FROM $cat.db.w VERSION AS OF 1")
      .schema("k").dataType.simpleString == "int")
    // narrowing refuses — Spark's analyzer itself rejects BIGINT->INT
    // (NOT_SUPPORTED_CHANGE_COLUMN) before the catalog is consulted
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN k TYPE INT")
    }
    // upcasts the ANALYZER allows but the FILES cannot serve per-field
    // refuse with OUR widening message: double->string re-renders values,
    // and a decimal SCALE change re-scales them — both need a rewrite
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN r TYPE STRING")
    }
    assert(e1.getMessage.contains("widening"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN d TYPE DECIMAL(14,4)")
    }
    assert(e2.getMessage.contains("widening"), e2.getMessage)
  }

  test("widening composes with RENAME: the mapping carries the wide type " +
    "under the old on-disk name") {
    val (cat, wh) = freshWh("widren")
    spark.sql(s"CREATE TABLE $cat.db.v (k INT, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.v VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"ALTER TABLE $cat.db.v RENAME COLUMN k TO key")
    spark.sql(s"ALTER TABLE $cat.db.v ALTER COLUMN key TYPE BIGINT")
    spark.sql(s"INSERT INTO $cat.db.v VALUES (${1L << 40}, 'c')")
    assert(spark.sql(s"SELECT sum(key) FROM $cat.db.v").as[Long].head() ==
      3L + (1L << 40))
    // cow upsert through the API path on the widened key
    TableLog.upsert(spark, s"$wh/db/v",
      Seq((2L, "B")).toDF("key", "v"), Seq("key"))
    assert(spark.sql(s"SELECT v FROM $cat.db.v WHERE key = 2").as[String]
      .head() == "B")
  }
}
