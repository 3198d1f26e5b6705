package graft.core

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** ALTER TABLE as metadata-only commits: `#schema=` (logical schema +
  * Delta-style column mapping for renames) and `#tblprop=` lines. No
  * data file is touched by any alter; reads project physical→logical,
  * writes rename logical→physical at the writeDataFiles funnel.
  */
class TableLogAlterSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(name: String) = {
    val d = java.nio.file.Files.createTempDirectory(name)
    java.nio.file.Files.delete(d)
    d.toString
  }

  test("rename column: metadata-only commit, reads logical, appends map back") {
    val dir = freshDir("alter_rename")
    TableLog.append(spark, dir,
      Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("k", "v", "tag").coalesce(1))
    val vBefore = TableLog.versions(spark, dir).last
    val filesBefore = spark.read.format("graft").load(dir).inputFiles.toSet

    TableLog.alterSchema(spark, dir) { s =>
      val i = s.fieldIndex("v")
      val f = s.fields(i)
      org.apache.spark.sql.types.StructType(s.fields.updated(i,
        f.copy(name = "amount",
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .putString(TableLog.PhysKey, "v").build())))
    }
    assert(TableLog.versions(spark, dir).last == vBefore + 1)
    // metadata-only: the data files are byte-identical (same set)
    assert(spark.read.format("graft").load(dir).inputFiles.toSet == filesBefore)

    val df = TableLog.read(spark, dir)
    assert(df.schema.fieldNames.toSeq == Seq("k", "amount", "tag"))
    assert(df.filter($"amount" === 20.0).select($"k").as[Long].head() == 2L)

    // an append under the NEW name lands physically under the OLD name
    TableLog.append(spark, dir,
      Seq((3L, 30.0, "c")).toDF("k", "amount", "tag").coalesce(1))
    val raw = spark.read.parquet(
      TableLog.read(spark, dir).inputFiles.toIndexedSeq: _*)
    assert(raw.schema.fieldNames.contains("v") &&
      !raw.schema.fieldNames.contains("amount"),
      s"files must stay physically consistent: ${raw.schema.fieldNames.mkString(",")}")
    assert(TableLog.read(spark, dir).agg(sum($"amount")).as[Double].head() == 60.0)

    // time travel BEFORE the alter sees the old logical name
    assert(TableLog.read(spark, dir, Some(vBefore))
      .schema.fieldNames.toSeq == Seq("k", "v", "tag"))
  }

  test("add + drop column: nulls until data arrives; dropped stays in files") {
    val dir = freshDir("alter_add_drop")
    TableLog.append(spark, dir,
      Seq((1L, "x"), (2L, "y")).toDF("k", "tag").coalesce(1))
    TableLog.alterSchema(spark, dir)(s =>
      org.apache.spark.sql.types.StructType(s.fields :+
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType, nullable = true)))
    val withAdd = TableLog.read(spark, dir)
    assert(withAdd.schema.fieldNames.toSeq == Seq("k", "tag", "score"))
    assert(withAdd.filter($"score".isNull).count() == 2)

    TableLog.append(spark, dir,
      Seq((3L, "z", 0.5)).toDF("k", "tag", "score").coalesce(1))
    assert(TableLog.read(spark, dir).agg(sum($"score")).as[Double].head() == 0.5)

    // drop tag: metadata-only; files keep the column, reads hide it
    TableLog.alterSchema(spark, dir)(s =>
      org.apache.spark.sql.types.StructType(s.fields.filterNot(_.name == "tag")))
    val dropped = TableLog.read(spark, dir)
    assert(dropped.schema.fieldNames.toSeq == Seq("k", "score"))
    val raw = spark.read.parquet(dropped.inputFiles.toIndexedSeq: _*)
    assert(raw.schema.fieldNames.contains("tag"))
  }

  test("deletes, upsert, and stats-skip resolve the logical (renamed) name") {
    val dir = freshDir("alter_dml")
    TableLog.append(spark, dir,
      spark.range(0, 100).select($"id".as("k"), ($"id" * 2).as("v")).coalesce(1),
      statsCol = Some("v"))
    TableLog.alterSchema(spark, dir) { s =>
      val i = s.fieldIndex("v")
      org.apache.spark.sql.types.StructType(s.fields.updated(i,
        s.fields(i).copy(name = "amount",
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .putString(TableLog.PhysKey, "v").build())))
    }
    // predicate delete on the logical name
    TableLog.deleteWhere(spark, dir, col("amount") >= 180)
    assert(TableLog.read(spark, dir).count() == 90)
    // dv delete on the logical name
    TableLog.deleteWhereDv(spark, dir, col("amount") === 0)
    assert(TableLog.read(spark, dir).count() == 89)
    // equality delete keyed by the logical name
    TableLog.deleteKeys(spark, dir, Seq(2L, 4L).toDF("amount"))
    assert(TableLog.read(spark, dir).count() == 87)
    // upsert keyed on k, updates speak logical names
    TableLog.upsert(spark, dir,
      Seq((50L, -1L)).toDF("k", "amount"), Seq("k"))
    assert(TableLog.read(spark, dir)
      .filter($"k" === 50).select($"amount").as[Long].head() == -1L)
    // stats skip accepts the logical column (stats lines carry "v")
    val skipped = TableLog.read(spark, dir).where($"amount".between(10, 20))
    assert(skipped.count() > 0)
    // fresh stats after the rename keep skipping (append + read again)
    TableLog.append(spark, dir,
      Seq((1000L, 5000L)).toDF("k", "amount").coalesce(1), statsCol = Some("amount"))
    assert(TableLog.read(spark, dir).where($"amount" === 5000L).count() == 1)
  }

  test("compact keeps the physical layout; vectors retire; logical intact") {
    val dir = freshDir("alter_compact")
    TableLog.append(spark, dir,
      spark.range(0, 50).select($"id".as("k"), $"id".cast("double").as("v")))
    TableLog.alterSchema(spark, dir) { s =>
      val i = s.fieldIndex("v")
      org.apache.spark.sql.types.StructType(s.fields.updated(i,
        s.fields(i).copy(name = "amount",
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .putString(TableLog.PhysKey, "v").build())))
    }
    TableLog.deleteWhereDv(spark, dir, col("amount") < 5)
    TableLog.compact(spark, dir)
    val df = TableLog.read(spark, dir)
    assert(df.count() == 45)
    assert(df.schema.fieldNames.toSeq == Seq("k", "amount"))
    // the rewritten files still store the ON-DISK name
    val raw = spark.read.parquet(df.inputFiles.toIndexedSeq: _*)
    assert(raw.schema.fieldNames.toSet == Set("k", "v"))
  }

  test("guards: partition col, constraint refs, type change, resurrection") {
    val dir = freshDir("alter_guards")
    TableLog.append(spark, dir,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "p", "v").coalesce(1),
      partitionBy = Seq("p"))
    // partition columns live outside the data schema: they can't be
    // shadowed by a new logical column (reads would turn ambiguous)
    intercept[IllegalArgumentException] {
      TableLog.alterSchema(spark, dir)(s =>
        org.apache.spark.sql.types.StructType(s.fields :+
          org.apache.spark.sql.types.StructField("p",
            org.apache.spark.sql.types.StringType, nullable = true)))
    }
    // constraint-referenced column: not renamable
    TableLog.addConstraint(spark, dir, "v_pos", "v >= 0")
    intercept[IllegalArgumentException] {
      TableLog.alterSchema(spark, dir) { s =>
        val i = s.fieldIndex("v")
        org.apache.spark.sql.types.StructType(s.fields.updated(i,
          s.fields(i).copy(name = "w",
            metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .putString(TableLog.PhysKey, "v").build())))
      }
    }
    // type change: rejected (needs a rewrite)
    intercept[IllegalArgumentException] {
      TableLog.alterSchema(spark, dir) { s =>
        val i = s.fieldIndex("k")
        org.apache.spark.sql.types.StructType(s.fields.updated(i,
          s.fields(i).copy(dataType = org.apache.spark.sql.types.IntegerType)))
      }
    }
  }

  test("incompatible file-schema twins with no #schema= metadata fail at " +
    "PLANNING (CANNOT_MERGE_SCHEMAS), not as a per-file cast error mid-read") {
    val dir = freshDir("alter_conflict")
    TableLog.append(spark, dir, Seq((1L, 10)).toDF("k", "v").coalesce(1))
    // a second append whose `v` is a STRING — not a widening in either
    // direction; nothing arbitrates (the table never ran an ALTER)
    TableLog.append(spark, dir, Seq((2L, "oops")).toDF("k", "v").coalesce(1))
    val e = intercept[org.apache.spark.SparkException] {
      TableLog.read(spark, dir).collect()
    }
    assert(e.getMessage.contains("CANNOT_MERGE_SCHEMAS") ||
      e.getMessage.contains("Failed merging schemas"), e.getMessage)
    // widenable twins (int-file + long-file) still plan fine leniently
    val dir2 = freshDir("alter_widen_ok")
    TableLog.append(spark, dir2, Seq((1L, 10)).toDF("k", "v").coalesce(1))
    TableLog.append(spark, dir2, Seq((2L, 20L)).toDF("k", "v").coalesce(1))
    assert(TableLog.read(spark, dir2).agg(sum($"v")).as[Long].head() == 30L)
  }

  test("table properties: set, merge, unset; carried across appends") {
    val dir = freshDir("alter_props")
    TableLog.append(spark, dir, Seq((1L, "a")).toDF("k", "v").coalesce(1))
    TableLog.setTableProperties(spark, dir, Map("owner" -> "gold", "pii" -> "false"))
    assert(TableLog.tableProperties(spark, dir) ==
      Map("owner" -> "gold", "pii" -> "false"))
    TableLog.append(spark, dir, Seq((2L, "b")).toDF("k", "v").coalesce(1))
    assert(TableLog.tableProperties(spark, dir)("owner") == "gold")
    TableLog.setTableProperties(spark, dir, Map("owner" -> "silver"), unset = Seq("pii"))
    assert(TableLog.tableProperties(spark, dir) == Map("owner" -> "silver"))
  }
}
