package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.TableLog

/** The SQL/catalog front door: `spark.read.format("graft")` and
  * `spark.table("graft.schema.name")` must answer exactly like
  * `TableLog.read(...)`, resolve time travel, and keep the manifest
  * index's pruning/skipping through the DSv2 scan.
  */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(name: String) = {
    val d = java.nio.file.Files.createTempDirectory(name)
    java.nio.file.Files.delete(d)
    d.toString
  }

  test("format(\"graft\").load reads the snapshot; versionAsOf time-travels") {
    val dir = freshDir("graft_dsv2")
    TableLog.append(spark,
      dir, spark.range(0, 100).select($"id", ($"id" % 5).as("g")).coalesce(1))
    TableLog.append(spark,
      dir, spark.range(100, 150).select($"id", ($"id" % 5).as("g")).coalesce(1))
    val tip = spark.read.format("graft").load(dir)
    assert(tip.count() == 150)
    assert(tip.schema.fieldNames.toSet == Set("id", "g"))
    val v1 = spark.read.format("graft").option("versionAsOf", 1).load(dir)
    assert(v1.count() == 100)
    // agrees with the API path value-for-value
    val api = TableLog.read(spark, dir).agg(sum($"id")).as[Long].head()
    val sql = tip.agg(sum($"id")).as[Long].head()
    assert(api == sql)
  }

  test("catalog: spark.table + SQL + VERSION AS OF resolve TableLog tables") {
    val wh = freshDir("graft_wh")
    val dir = s"$wh/gold/dim_x"
    TableLog.append(spark,
      dir, Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    TableLog.append(spark, dir, Seq((3L, "c")).toDF("k", "v").coalesce(1))
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    assert(spark.table("graft.gold.dim_x").count() == 3)
    assert(spark.sql("SELECT sum(k) AS s FROM graft.gold.dim_x")
      .as[Long].head() == 6L)
    assert(spark.sql("SELECT count(*) FROM graft.gold.dim_x VERSION AS OF 1")
      .as[Long].head() == 2L)
    // catalog listing sees the table
    assert(spark.sql("SHOW TABLES IN graft.gold").collect()
      .map(_.getString(1)).contains("dim_x"))
  }

  test("V2 scan prunes partitions and skips by manifest stats") {
    val dir = freshDir("graft_dsv2_prune")
    val df = spark.range(0, 1000)
      .select($"id", ($"id" % 4).as("p"), ($"id" * 2).as("val"))
    TableLog.append(spark, dir, df.repartition(4, $"p"),
      partitionBy = Seq("p"), statsCol = Some("id"))
    TableLog.append(spark, dir,
      spark.range(1000, 2000).select($"id", ($"id" % 4).as("p"), ($"id" * 2).as("val"))
        .repartition(4, $"p"),
      partitionBy = Seq("p"), statsCol = Some("id"))
    val t = spark.read.format("graft").load(dir)
    // partition pruning: only p=2 files reach the scan
    val pruned = t.filter($"p" === 2)
    val scannedP = pruned.select(input_file_name()).distinct()
      .as[String].collect()
    assert(scannedP.nonEmpty && scannedP.forall(_.contains("p=2")), scannedP.toSeq)
    assert(pruned.count() == 500)
    // stats skipping: id < 10 touches only the first commit's files
    val skipped = t.filter($"id" < 10)
    val scannedS = skipped.select(input_file_name()).distinct().as[String].collect()
    val allFiles = t.select(input_file_name()).distinct().as[String].collect()
    assert(scannedS.length < allFiles.length,
      s"stats skipping did not drop files: ${scannedS.length} of ${allFiles.length}")
    assert(skipped.count() == 10)
    // and the filter is pushed into the parquet scan
    val plan = skipped.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("ParquetScan"), plan)
  }

  test("merge-on-read: deletion-vector snapshots read through the front door") {
    val dir = freshDir("graft_dsv2_dv")
    TableLog.append(spark,
      dir, spark.range(0, 50).select($"id", lit("x").as("v")).coalesce(1))
    TableLog.deleteWhereDv(spark, dir, $"id" % 7 === 0L)
    val t = spark.read.format("graft").load(dir)
    assert(t.count() == 42)
    assert(t.agg(sum($"id")).as[Long].head() ==
      TableLog.read(spark, dir).agg(sum($"id")).as[Long].head())
    // filters still answer correctly THROUGH the MoR scan (pushdown on)
    assert(t.filter($"id" < 10).as[(Long, String)].collect().map(_._1).sorted
      .sameElements(Array(1L, 2, 3, 4, 5, 6, 8, 9)))
    // time travel to the pre-delete version sees every row
    assert(spark.read.format("graft").option("versionAsOf", 1).load(dir)
      .count() == 50)
  }

  test("merge-on-read: equality deletes + dv compose through the front door") {
    val dir = freshDir("graft_dsv2_eq")
    TableLog.append(spark, dir,
      spark.range(0, 100).select($"id", ($"id" % 10).as("u"), lit("p").as("v"))
        .coalesce(1))
    TableLog.deleteKeys(spark, dir, Seq(3L, 8L).toDF("u")) // 20 rows
    TableLog.deleteWhereDv(spark, dir, $"id" === 0L)       // 1 more
    val t = spark.read.format("graft").load(dir)
    assert(t.count() == 79)
    val api = TableLog.read(spark, dir)
    assert(t.agg(sum($"id")).as[Long].head() ==
      api.agg(sum($"id")).as[Long].head())
    // pruning a key column out of the projection still applies the delete
    assert(t.select($"id").count() == 79)
  }

  test("merge-on-read keeps manifest partition pruning") {
    val dir = freshDir("graft_dsv2_dvprune")
    val df = spark.range(0, 400)
      .select($"id", ($"id" % 4).as("p"))
    TableLog.append(spark, dir, df.repartition(4, $"p"), partitionBy = Seq("p"))
    TableLog.deleteWhereDv(spark, dir, $"id" === 5L)
    val t = spark.read.format("graft").load(dir).filter($"p" === 2)
    assert(t.count() == 100)
    // only p=2 files planned (the MoR scan delegates to the manifest
    // index): inspect the ACTUAL planned input partitions, not the plan
    // string
    val planned = t.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.collect {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
            fp.files.map(_.toPath.toString).toSeq
        }.flatten
    }.flatten
    assert(planned.nonEmpty && planned.forall(_.contains("p=2")), planned)
    assert(TableLog.read(spark, dir).filter($"p" === 2).count() == 100)
  }

  test("MoR scan keeps the VECTORIZED path when planned files avoid every " +
    "dv-touched file") {
    // round-8 VERDICT ask: a snapshot with deletes used to force ALL
    // queries row-based; a query pruned to an untouched region must keep
    // the stock columnar handoff (the dial is whole-scan — Spark forbids
    // mixing columnar and row partitions in one scan).
    val dir = freshDir("graft_dsv2_dvcol")
    TableLog.append(spark, dir,
      spark.range(0, 400).select($"id", ($"id" % 4).as("p"))
        .repartition(4, $"p"), partitionBy = Seq("p"))
    TableLog.deleteWhereDv(spark, dir, $"id" === 5L) // touches only p=1
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head
    val clean = spark.read.format("graft").load(dir).filter($"p" === 2)
    assert(scanOf(clean).supportsColumnar,
      "clean-region MoR query lost the vectorized path")
    assert(clean.count() == 100)
    assert(clean.agg(sum($"id")).as[Long].head() ==
      (0L until 400L).filter(_ % 4 == 2).sum,
      "columnar re-wrap corrupted values")
    // overlapping the touched file: row-based, and the row stays hidden
    val dirty = spark.read.format("graft").load(dir).filter($"p" === 1)
    assert(!scanOf(dirty).supportsColumnar)
    assert(dirty.count() == 99)
    // `_file` needs the per-file constant join -> row-based even when clean
    val withFile = spark.read.format("graft").load(dir)
      .filter($"p" === 2).select($"id", $"_file")
    assert(!scanOf(withFile).supportsColumnar)
    assert(withFile.count() == 100)
    // unpruned query overlaps the touched file -> row-based, full subtract
    val all = spark.read.format("graft").load(dir)
    assert(!scanOf(all).supportsColumnar)
    assert(all.count() == 399)
  }

  test("MoR broadcast cache keys are content fingerprints, never 32-bit hashes") {
    // round-8 VERDICT: (lines, schema).hashCode as the cache key could
    // serve the WRONG delete set on an Int collision over a long session
    val sch = new org.apache.spark.sql.types.StructType().add("id", "long")
    val s1 = Seq("a.parquet", "#dvp=_graft_dv/x/d.parquet")
    val s2 = Seq("a.parquet")
    val f1 = GraftMorScan.snapshotFingerprint(s1, sch)
    assert(f1.length == 64, "expected a SHA-256 hex fingerprint")
    assert(f1 != GraftMorScan.snapshotFingerprint(s2, sch))
    assert(f1 == GraftMorScan.snapshotFingerprint(s1, sch))
    // the line delimiter defeats concatenation ambiguity
    assert(GraftMorScan.snapshotFingerprint(Seq("ab", "c"), sch) !=
      GraftMorScan.snapshotFingerprint(Seq("a", "bc"), sch))
    // schema participates (same manifest, altered column types)
    assert(f1 != GraftMorScan.snapshotFingerprint(s1,
      new org.apache.spark.sql.types.StructType().add("id", "int")))
  }

  test("merge-on-read: eq-delete sidecar with a NARROWER key type still hides rows") {
    // ADVICE round-7: an INT-keyed sidecar against a BIGINT column must
    // not let deleted rows resurrect through the SQL front door
    val dir = freshDir("graft_dsv2_eqcast")
    TableLog.append(spark, dir,
      spark.range(0, 50).select($"id", ($"id" % 10).as("u")).coalesce(1))
    TableLog.deleteKeys(spark, dir,
      Seq(3, 8).toDF("u").select($"u".cast("int"))) // INT keys, BIGINT col
    assert(TableLog.read(spark, dir).count() == 40) // API path
    val t = spark.read.format("graft").load(dir)
    assert(t.count() == 40, "SQL front door resurrected eq-deleted rows")
    assert(t.select($"id").count() == 40)
  }

  test("SQL writes: CREATE TABLE, INSERT INTO, INSERT OVERWRITE, DROP") {
    val wh = freshDir("graft_wh_w")
    spark.conf.set("spark.sql.catalog.graftw", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftw.warehouse", wh)
    spark.sql("CREATE TABLE graftw.silver.t (k BIGINT, v STRING) PARTITIONED BY (g INT)")
    // empty table scans as empty with the declared schema
    assert(spark.table("graftw.silver.t").count() == 0)
    assert(spark.table("graftw.silver.t").schema.fieldNames.toSet ==
      Set("k", "v", "g"))
    spark.sql("INSERT INTO graftw.silver.t VALUES (1, 'a', 0), (2, 'b', 1)")
    spark.sql("INSERT INTO graftw.silver.t VALUES (3, 'c', 0)")
    assert(spark.sql("SELECT sum(k) FROM graftw.silver.t").as[Long].head() == 6L)
    // hive layout landed (partition pruning works on the written table)
    val dir = s"$wh/silver/t"
    val files = TableLog.read(spark, dir).filter($"g" === 0)
      .select(input_file_name()).distinct().as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains("g=0")), files.toSeq)
    spark.sql("INSERT OVERWRITE graftw.silver.t VALUES (9, 'z', 2)")
    assert(spark.table("graftw.silver.t").count() == 1)
    // version history shows the protocol ops
    assert(TableLog.history(spark, dir).select("operation").as[String]
      .collect().toSet == Set("append", "overwrite"))
    assert(spark.sql("DROP TABLE graftw.silver.t").collect().isEmpty)
    assert(!spark.catalog.tableExists("graftw.silver.t"))
  }

  test("CTAS + writeTo.append commit through the TableLog protocol") {
    val wh = freshDir("graft_wh_ctas")
    spark.conf.set("spark.sql.catalog.graftc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftc.warehouse", wh)
    spark.sql("CREATE TABLE graftc.gold.agg AS SELECT id, id * 2 AS dbl FROM range(10)")
    assert(spark.table("graftc.gold.agg").count() == 10)
    spark.range(10, 15).select($"id", ($"id" * 2).as("dbl"))
      .writeTo("graftc.gold.agg").append()
    assert(spark.table("graftc.gold.agg").count() == 15)
    // CHECK constraints gate SQL writes exactly like API writes
    val dir = s"$wh/gold/agg"
    TableLog.addConstraint(spark, dir, "pos", "id >= 0")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graftc.gold.agg VALUES (-1, -2)")
    }
    assert(e.getMessage != null)
    assert(spark.table("graftc.gold.agg").count() == 15) // rejected batch never landed
  }

  test("SQL write then MoR SQL read round-trips after a GDPR-style delete") {
    val wh = freshDir("graft_wh_mor")
    spark.conf.set("spark.sql.catalog.graftm", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftm.warehouse", wh)
    spark.sql("CREATE TABLE graftm.gold.users AS " +
      "SELECT id AS user_id, CAST(id % 7 AS STRING) AS cohort FROM range(70)")
    TableLog.deleteKeys(spark, s"$wh/gold/users", Seq("3").toDF("cohort"))
    assert(spark.sql("SELECT count(*) FROM graftm.gold.users").as[Long].head() == 60L)
    // and the table still ACCEPTS writes post-delete
    spark.sql("INSERT INTO graftm.gold.users VALUES (100, '9')")
    assert(spark.sql("SELECT count(*) FROM graftm.gold.users").as[Long].head() == 61L)
    // a LATER row with a deleted key is hidden too (Iceberg eq-delete
    // sequencing, simplified): insert cohort=3, still invisible
    spark.sql("INSERT INTO graftm.gold.users VALUES (101, '3')")
    assert(spark.sql("SELECT count(*) FROM graftm.gold.users").as[Long].head() == 61L)
  }

  test("TIMESTAMP AS OF resolves through the catalog") {
    val wh = freshDir("graft_wh_ts")
    val dir = s"$wh/gold/ts"
    TableLog.append(spark, dir, Seq((1L, "a")).toDF("k", "v").coalesce(1))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Thread.sleep(5)
    val between = System.currentTimeMillis()
    Thread.sleep(5)
    TableLog.append(spark, dir, Seq((2L, "b")).toDF("k", "v").coalesce(1))
    spark.conf.set("spark.sql.catalog.graftt", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftt.warehouse", wh)
    val ts = new java.sql.Timestamp(between).toString
    assert(spark.sql(
      s"SELECT count(*) FROM graftt.gold.ts TIMESTAMP AS OF '$ts'")
      .as[Long].head() == 1L)
    assert(spark.sql("SELECT count(*) FROM graftt.gold.ts").as[Long].head() == 2L)
  }

  test("partition-scoped INSERT OVERWRITE rewrites ONLY the named partition") {
    val wh = freshDir("graft_wh_pow")
    spark.conf.set("spark.sql.catalog.graftp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftp.warehouse", wh)
    spark.sql("CREATE TABLE graftp.s.f (k BIGINT, v STRING) PARTITIONED BY (g INT)")
    spark.sql("INSERT INTO graftp.s.f VALUES (1, 'a', 0), (2, 'b', 1), (3, 'c', 2)")
    spark.sql("INSERT INTO graftp.s.f VALUES (4, 'd', 1)")
    val dir = s"$wh/s/f"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // checksum every file OUTSIDE the target partition before the commit
    def filesOutside(): Map[String, Long] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      val m = scala.collection.mutable.Map.empty[String, Long]
      while (it.hasNext) {
        val s = it.next()
        val p = s.getPath.toString
        if (s.isFile && p.contains("/g=") && !p.contains("/g=1/"))
          m += p -> (s.getLen ^ s.getModificationTime)
      }
      m.toMap
    }
    val before = filesOutside()
    // static partition overwrite: backfill g=1 wholesale
    spark.sql("INSERT OVERWRITE graftp.s.f PARTITION (g=1) VALUES (9, 'z')")
    // untouched partitions' files are byte-identical (same path/len/mtime)
    assert(filesOutside() == before)
    val rows = spark.sql("SELECT k, v, g FROM graftp.s.f ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows == Seq((1L, "a", 0), (3L, "c", 2), (9L, "z", 1)), rows)
    assert(TableLog.history(spark, dir).select("operation").as[String]
      .collect().contains("overwrite_partitions"))
    // a batch carrying rows OUTSIDE the named partition aborts cleanly
    val e = intercept[Exception] {
      TableLog.overwritePartitions(spark, dir,
        Seq((7L, "x", 0), (8L, "y", 1)).toDF("k", "v", "g"),
        Seq("g" -> "1"))
    }
    assert(e.getMessage.contains("outside the target"), e.getMessage)
    assert(spark.sql("SELECT count(*) FROM graftp.s.f").as[Long].head() == 3L)
  }

  test("mixed-layout tip: SQL insert follows the MAJORITY layout") {
    // ADVICE round-7: tipLayout derived hive partition columns from only
    // the first manifest line; an unpartitioned stray file must not
    // flatten later SQL inserts
    val dir = freshDir("graft_mixed")
    TableLog.append(spark, dir,
      spark.range(0, 20).select($"id", ($"id" % 2).as("g")),
      partitionBy = Seq("g"))
    TableLog.append(spark, dir, // stray unpartitioned commit
      Seq((100L, 5L)).toDF("id", "g").coalesce(1))
    TableLog.append(spark, dir,
      spark.range(20, 40).select($"id", ($"id" % 2).as("g")),
      partitionBy = Seq("g"))
    // the SQL-path append must land hive-partitioned (majority layout),
    // not flat — assert on the files the commit ADDS (the mixed tip
    // itself is degenerate, so no full-table read here)
    def dataFiles(): Set[String] = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      val out = scala.collection.mutable.Set.empty[String]
      while (it.hasNext) {
        val s = it.next()
        val p = s.getPath.toString
        if (s.isFile && p.contains("part-") && !p.contains("_graft_log"))
          out += p
      }
      out.toSet
    }
    val before = dataFiles()
    TableLog.appendLikeTip(spark, dir, Seq((200L, 0L)).toDF("id", "g"))
    val added = dataFiles() -- before
    assert(added.nonEmpty && added.forall(_.contains("g=0")), added)
  }

  test("racing SQL inserts both land (optimistic rebase, no lost update)") {
    val wh = freshDir("graft_wh_race")
    spark.conf.set("spark.sql.catalog.graftr", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftr.warehouse", wh)
    spark.sql("CREATE TABLE graftr.s.r (k BIGINT)")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { i =>
        pool.submit(new Runnable {
          def run(): Unit =
            spark.sql(s"INSERT INTO graftr.s.r VALUES ($i)")
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    assert(spark.sql("SELECT count(*) FROM graftr.s.r").as[Long].head() == 4L)
    assert(TableLog.versions(spark, s"$wh/s/r").size == 4)
  }
}
