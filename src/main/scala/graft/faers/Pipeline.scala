package graft.faers

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Scd2, ScdClock}
import graft.faers.gold.{DimDate, Dims, FactAdverseEvents, FactAnalytics}

/** In-process medallion pipeline runner replacing the reference's external
  * Databricks job DAG (resources/jobs/faers_pipeline.yml:24-203): bronze
  * (7 parallel-safe ingests) → silver (7 transforms, each reading only the
  * latest bronze partition) → dim_date → 7 SCD2 dims → fact. State passes
  * exclusively through catalog tables, exactly like the reference's
  * task-isolated jobs.
  *
  * `USE CATALOG` collapses to database create/use (no Unity Catalog);
  * `OPTIMIZE t` maps to [[graft.core.Maintenance.compact]] on the table's
  * location (real small-file compaction, not a no-op); `ANALYZE TABLE`
  * runs as-is (S10/S11).
  */
object Pipeline {

  val databases: Seq[String] = Seq("bronze", "silver", "gold")

  def initDatabases(spark: SparkSession): Unit =
    databases.foreach(db => spark.sql(s"CREATE DATABASE IF NOT EXISTS $db"))

  /** Run independent per-table stage steps as CONCURRENT Spark jobs.
    * Each medallion stage is a fan of writes to DISTINCT tables with no
    * cross-dependencies (the reference runs them as task-isolated
    * Databricks jobs, i.e. concurrently when the scheduler allows —
    * resources/jobs/faers_pipeline.yml:24-203); submitting them from one
    * driver thread each lets Spark's FIFO scheduler interleave their
    * stages, hiding the fixed per-write latency (commit protocol, catalog
    * DDL, small-job scheduling) that dominates when tables are much
    * smaller than the cluster. Pool of 4: enough to hide latency, small
    * enough that concurrent jobs don't thrash executor memory. Await
    * re-throws the first failure, so error semantics match the
    * sequential loop — and on failure outstanding work is CANCELLED and
    * drained before the rethrow (shutdownNow + awaitTermination), so a
    * failed stage's stragglers can't keep writing tables concurrently
    * with whatever the caller does next (a bare shutdown() would let them
    * run to completion across the stage boundary).
    */
  private[faers] def inParallel[T](items: Seq[T], par: Int = 4)(f: T => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val futures = items.map(i => scala.concurrent.Future(f(i)))
      try futures.foreach(scala.concurrent.Await.result(_,
        scala.concurrent.duration.Duration.Inf))
      catch { case e: Throwable =>
        pool.shutdownNow() // cancel queued tasks, interrupt running ones
        pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
        throw e
      }
    } finally pool.shutdown()
  }

  /** The reference's post-write `OPTIMIZE <table>`: compact the managed
    * table's directory to ~target-size files — per leaf partition when the
    * table is hive-partitioned (Delta OPTIMIZE bins never span partitions).
    */
  def optimizeTable(spark: SparkSession, table: String,
                    targetBytes: Long = 128L * 1024 * 1024): Unit = {
    tableLocation(spark, table).foreach { loc =>
      val p = new org.apache.hadoop.fs.Path(loc)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val partitioned = fs.exists(p) && fs.listStatus(p)
        .exists(s => s.isDirectory && s.getPath.getName.contains("="))
      if (partitioned) graft.core.Maintenance.compactPartitioned(spark, loc, targetBytes)
      else graft.core.Maintenance.compact(spark, loc, targetBytes)
    }
  }

  /** Overwrite a table that may be read inside `df`'s own lineage (the SCD2
    * merge reads the target): stage to a side table, retire the live table
    * to `__prev`, promote staging, drop the retired copy. There is no
    * multi-statement transaction on a v1 catalog, so a crash can land
    * between any two steps — but at every point either the live name or
    * `__prev` holds the full pre-swap data, and [[resolveTable]] checks
    * both, so SCD2 history is never silently reset (a bare DROP+RENAME
    * swap would rebuild the dimension as a fresh initial load after a
    * mid-swap crash).
    */
  private def overwriteViaSwap(spark: SparkSession, df: DataFrame, table: String): Unit = {
    val staging = table + "__staging"
    val prev = table + "__prev"
    df.write.mode("overwrite").saveAsTable(staging)
    spark.sql(s"DROP TABLE IF EXISTS $prev")
    if (spark.catalog.tableExists(table))
      spark.sql(s"ALTER TABLE $table RENAME TO $prev")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    spark.sql(s"DROP TABLE IF EXISTS $prev")
  }

  /** The readable copy of a swapped table: the live name, or the retired
    * `__prev` left by a crash between swap steps (recovered + re-promoted).
    */
  private[faers] def resolveTable(spark: SparkSession, table: String): Option[DataFrame] = {
    val prev = table + "__prev"
    if (spark.catalog.tableExists(table)) Some(spark.table(table))
    else if (spark.catalog.tableExists(prev)) {
      spark.sql(s"ALTER TABLE $prev RENAME TO $table")
      Some(spark.table(table))
    } else None
  }

  /** Physical root of a dimension's bucketed SCD2 store (outside the
    * managed-table dirs so swaps/drops of the facade never touch it).
    */
  private[faers] def bucketedDimPath(spark: SparkSession, name: String): String =
    spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
      s"/gold_scd2/$name"

  /** The SCD2 merge pick, same shape as the dedup family's size dials:
    * the reference's full-overwrite-via-swap (fine while a dim is
    * table-scan sized) until the dimension's on-disk size crosses
    * `spark.graft.scd2.bucketedMinBytes` (256 MB default — past that,
    * rewriting the whole dim for a delta-sized change is the 100 TB
    * anti-pattern; below it, the swap is one small job and extra layout
    * machinery buys nothing), then [[Scd2.mergeBucketed]]'s
    * partition-pruned merge. A threshold of 0 flips every non-empty dim,
    * `Long.MaxValue` keeps all on overwrite. STICKY: an already-bucketed
    * dim stays bucketed regardless of the threshold, because flapping
    * layouts would re-shuffle the dimension every flip.
    */
  private[faers] def useBucketedScd2(spark: SparkSession, name: String): Boolean =
    Scd2.isBucketedStore(spark, bucketedDimPath(spark, name)) ||
      tableSizeBytes(spark, s"gold.$name") > spark.conf.get(
        "spark.graft.scd2.bucketedMinBytes", (256L << 20).toString).toLong

  /** Total on-disk bytes of the silver layer — the metadata gate for the
    * fact write's keyed pack (the fact derives from exactly these tables).
    */
  private def silverBytes(spark: SparkSession): Long =
    Silver.all.keys.map(t => tableSizeBytes(spark, s"silver.$t")).sum

  /** On-disk bytes of a catalog table (0 when absent) — the size dials'
    * probe; pure filesystem metadata, no scan.
    */
  private def tableSizeBytes(spark: SparkSession, table: String): Long =
    if (!spark.catalog.tableExists(table)) 0L
    else tableLocation(spark, table).map { l =>
      val p = new org.apache.hadoop.fs.Path(l)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.getOrElse(0L)

  /** The catalog `Location` of a table, from `DESCRIBE EXTENDED`. */
  private def tableLocation(spark: SparkSession, table: String): Option[String] =
    spark.sql(s"DESCRIBE EXTENDED $table")
      .filter(org.apache.spark.sql.functions.col("col_name") === "Location")
      .select("data_type").collect().headOption.map(_.getString(0))

  /** Bucketed-path dim merge: migrate existing history into the bucketed
    * store on first flip (read + seed write, per the layout contract),
    * merge only the delta's buckets, and keep `gold.<name>` resolving for
    * every reader via a view facade over the store (minus the `_bucket`
    * layout column). Per-bucket dynamic overwrite leaves each rewritten
    * bucket one file, so no separate OPTIMIZE pass is needed.
    */
  private def mergeDimBucketed(spark: SparkSession, spec: gold.Dims.DimSpec,
                               staged: DataFrame, scdClock: ScdClock): Unit = {
    val path = bucketedDimPath(spark, spec.name)
    val fq = s"gold.${spec.name}"
    if (!Scd2.isBucketedStore(spark, path))
      resolveTable(spark, fq).foreach(existing =>
        Scd2.seedBucketed(spark, path, existing, spec.businessKeys))
    Scd2.mergeBucketed(spark, path, staged, spec.businessKeys,
      spec.trackedCols, scdClock)
    spark.sql(s"DROP TABLE IF EXISTS ${fq}__prev")
    if (spark.catalog.tableExists(fq) &&
        spark.catalog.getTable(fq).tableType != "VIEW")
      spark.sql(s"DROP TABLE $fq")
    spark.sql(
      s"CREATE OR REPLACE VIEW $fq AS SELECT * EXCEPT (_bucket) FROM parquet.`$path`")
  }

  def runBronze(spark: SparkSession, landingDir: String, yy: Int, q: Int,
                fixedClock: Option[java.time.Instant]): Unit =
    Bronze.ingestQuarter(spark, landingDir, yy, q, fixedClock)

  /** Silver transforms write plain overwrites — the reference's silver
    * scripts run no OPTIMIZE/ANALYZE (silver_demographics.py:83-95);
    * maintenance is a GOLD-layer concern (dim_patient.py:154-157).
    */
  /** Catalog-table read with scan-parallelism repair: the bench's bronze/
    * silver tables are one or two single-row-group parquet files, so every
    * transform pipelined into their scan runs in ONE task regardless of
    * core count (guide §2.5 input skew — "one huge unsplittable file …
    * repartition immediately after the read"). Metadata-gated by the
    * table's on-disk size ([[graft.core.Spread]]): above 1 GiB the input
    * has real row groups, the scan parallelizes naturally, and no
    * repartition is ever planned.
    */
  private[faers] def readSpread(spark: SparkSession, table: String): DataFrame =
    graft.core.Spread.byKnownSize(spark, tableSizeBytes(spark, table))(
      spark.table(table))

  def runSilver(spark: SparkSession,
                fixedClock: Option[java.time.Instant]): Unit =
    inParallel(Silver.all.toSeq) { case (table, transform) =>
      val latest = Transforms.readLatestPartition(spark, table)
        .transform(graft.core.Spread.byKnownSize(spark,
          tableSizeBytes(spark, s"bronze.$table")))
      transform(latest, fixedClock)
        .write.mode("overwrite").saveAsTable(s"silver.$table")
    }

  def runGold(spark: SparkSession, scdClock: ScdClock,
              today: Option[java.sql.Date] = None): Unit = {
    DimDate.create(spark, today = today)
      .write.mode("overwrite").saveAsTable("gold.dim_date")
    optimizeTable(spark, "gold.dim_date") // dim_date.py:182-185
    spark.sql("ANALYZE TABLE gold.dim_date COMPUTE STATISTICS")

    inParallel(Dims.specs) { spec =>
      val staged = spec.build(readSpread(spark, s"silver.${spec.sourceTable}"))
      val fq = s"gold.${spec.name}"
      if (useBucketedScd2(spark, spec.name))
        // bucketed store: merge cost ∝ delta's buckets; the per-bucket
        // overwrite already leaves compact files and the facade is a
        // view, so the reference's OPTIMIZE/ANALYZE pass doesn't apply
        mergeDimBucketed(spark, spec, staged, scdClock)
      else {
        val target = resolveTable(spark, fq)
        // pack the MB-sized dim to one file so the OPTIMIZE below skips
        // its read+rewrite (metadata-gated — at scale writers stay wide).
        // Gate on the size of what is WRITTEN, not just the quarterly
        // source: the merged dim carries full SCD2 history, which grows
        // across epochs while the source stays small — max(source,
        // existing gold dim) tracks that growth, so a multi-epoch dim
        // past the gate never gets a single-task write.
        val merged = Scd2.applyScdType2Merge(
          target, staged, spec.businessKeys, spec.trackedCols, scdClock)
          .transform(graft.core.Spread.packForWrite(spark,
            math.max(tableSizeBytes(spark, s"silver.${spec.sourceTable}"),
              tableSizeBytes(spark, fq))))
        if (target.isEmpty)
          merged.write.mode("overwrite").saveAsTable(fq)
        else overwriteViaSwap(spark, merged, fq)
        // the reference's per-dim OPTIMIZE + ANALYZE (dim_patient.py:154-157)
        optimizeTable(spark, fq)
        spark.sql(s"ANALYZE TABLE $fq COMPUTE STATISTICS")
      }
    }

    // only the PROBE stream needs the parallelism repair — the other six
    // sides become broadcast builds (each already a parallel scan); the
    // reactions⋈drug_details pair seeds the probe side whichever the
    // planner picks as build
    val fact = FactAdverseEvents.create(
      spark.table("silver.demographics"),
      readSpread(spark, "silver.drug_details"),
      readSpread(spark, "silver.reactions"),
      spark.table("silver.indications"),
      spark.table("silver.therapy_dates"), spark.table("silver.outcomes"),
      spark.table("silver.reports"), spark.table("gold.dim_date"))
    // keyed pack: one file per (date, country) leaf, so the per-leaf
    // OPTIMIZE below skips every rewrite (the scan spread above would
    // otherwise fan 32 writers × ~20 leaves into ~600 small files)
    // gate on what is WRITTEN: the fact join can fan out beyond the
    // silver footprint, and the fact table itself accretes across
    // epochs — max(silver inputs, existing gold fact) keeps the pack
    // from serializing a large multi-epoch rewrite
    val factArranged = fact.transform(graft.core.Spread.packForWrite(spark,
      math.max(silverBytes(spark),
        tableSizeBytes(spark, "gold.fact_adverse_events")),
      Seq(org.apache.spark.sql.functions.col("fact_created_date"),
        org.apache.spark.sql.functions.col("reporter_country"))))
    factArranged.write
      .partitionBy("fact_created_date", "reporter_country")
      .mode("overwrite")
      .saveAsTable("gold.fact_adverse_events")
    // fact OPTIMIZE + ANALYZE (fact_adverse_events.py:330-333); per-leaf
    // compaction since the table is partitioned
    optimizeTable(spark, "gold.fact_adverse_events")
    spark.sql("ANALYZE TABLE gold.fact_adverse_events COMPUTE STATISTICS")
  }

  /** The reference's analytics job (`generate_adverse_events_analytics`,
    * src/gold/analytics/fact_analytics.py:19-255): run all 10 reports over
    * the gold fact table. Returned (not shown) so callers can assert,
    * persist, or display; each report is a single agg over the fact scan.
    */
  def runAnalytics(spark: SparkSession): Seq[(String, DataFrame)] =
    FactAnalytics.all(spark.table("gold.fact_adverse_events"))

  /** Full medallion run for one landing quarter. */
  def run(spark: SparkSession, landingDir: String, yy: Int = 25, q: Int = 1,
          fixedClock: Option[java.time.Instant] = None,
          scdClock: ScdClock = ScdClock.system()): Unit = {
    initDatabases(spark)
    runBronze(spark, landingDir, yy, q, fixedClock)
    runSilver(spark, fixedClock)
    runGold(spark, scdClock, Some(scdClock.today))
  }
}
