package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  BoundReference, Cast, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan,
  ScanBuilder, Statistics, SupportsPushDownRequiredColumns,
  SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.{
  MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.v2.parquet.{
  ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.TableLog

/** DSv2 MICRO-BATCH streaming over TableLog — the Delta streaming-source
  * role behind the standard front doors:
  *
  *  - `spark.readStream.table("graft.s.n")` — the catalog table
  *    advertises `MICRO_BATCH_READ`, so the append tail streams with no
  *    provider class name in sight;
  *  - `spark.readStream.format("graft").load(dir)` — the path-based
  *    twin; add `.option("readChangeFeed", "true")` for the CHANGE FEED
  *    (typed `_change_type` / `_commit_version` rows per micro-batch —
  *    this door, not the catalog one, because catalog streaming
  *    resolution takes the schema from `Table.schema()` before reader
  *    options exist, the same reason Delta's streaming CDF is
  *    path/option-addressed).
  *
  * Offsets are VERSION NUMBERS (one long of checkpoint state); a batch is
  * re-derivable from the immutable log, so recovery replays exactly the
  * unprocessed versions. Unlike the V1 `Source` contract — which
  * snapshots `getOffset` ONCE under `Trigger.AvailableNow`, silently
  * turning `maxVersionsPerTrigger` into a whole-run cap — these streams
  * implement [[SupportsTriggerAvailableNow]]: the tip is pinned at
  * `prepareForTriggerAvailableNow` and the rate limit applies PER
  * micro-batch until the pinned tip is reached, which is the admission-
  * control semantics the option's name promises.
  *
  * Every micro-batch bottoms out in the STOCK DSv2 parquet machinery:
  * the window's files become a manifest-backed file index, a
  * [[ParquetScanBuilder]] plans pruned/coalesced [[InputPartition]]s, and
  * a per-partition bound projection translates the file era's PHYSICAL
  * row layout (column mapping, type widening, absent columns) to the
  * stream's logical schema and stamps feed constants — no per-row
  * interpretation, one codegen'd [[UnsafeProjection]] per partition.
  */
private[sources] case class GraftVersionOffset(v: Long) extends Offset {
  override def json: String = v.toString
}

/** The per-partition recipe: which inner parquet partition to read, the
  * factory that opens it, and the bound output expressions (column
  * re-ordering, widening casts, null fills for pre-ALTER files, and
  * constant stamps like `_change_type`/`_commit_version`). Carried BY the
  * partition so the top-level factory is stateless — partitions from
  * different commits/eras coexist in one micro-batch with different
  * recipes.
  */
private[sources] case class GraftStampedPartition(
    inner: InputPartition,
    factory: PartitionReaderFactory,
    exprs: Seq[Expression]) extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

private[sources] class GraftStampedReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val sp = p.asInstanceOf[GraftStampedPartition]
    val delegate = sp.factory.createReader(sp.inner)
    val proj = UnsafeProjection.create(sp.exprs.toArray)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = delegate.next()
      override def get(): InternalRow = proj(delegate.get())
      override def close(): Unit = delegate.close()
    }
  }
}

private[sources] object GraftStreamPlanner {

  /** Output expressions mapping an inner (physical) row layout to the
    * requested logical schema: present columns bind positionally (with a
    * widening cast when the declared type outgrew the file's), absent
    * columns null-fill (pre-ADD-COLUMN files), `constants` stamp feed
    * literals.
    */
  def stampExprs(inner: StructType, out: StructType,
                 l2p: Map[String, String],
                 constants: Map[String, Any]): Seq[Expression] =
    out.fields.toSeq.map { f =>
      constants.get(f.name) match {
        case Some(c) => Literal.create(c, f.dataType)
        case None =>
          val p = l2p.getOrElse(f.name, f.name)
          val i = inner.fieldNames.indexOf(p)
          if (i < 0) Literal.create(null, f.dataType)
          else {
            val b = BoundReference(i, inner.fields(i).dataType, nullable = true)
            if (inner.fields(i).dataType == f.dataType) b
            else Cast(b, f.dataType, Some(java.util.TimeZone.getDefault.getID))
          }
      }
    }

  /** Plan one file group (one commit window / one era) as stamped
    * partitions: manifest-backed index (no directory listing), stock
    * parquet scan builder (column pruning, small-file coalescing,
    * vectorized readers), projection recipe per partition.
    *
    * @param baseDir    qualified directory the `entries` paths are
    *                   relative to (the table dir, or a sidecar/spool
    *                   version dir)
    * @param entries    (relative path, length, mtime) — from the manifest
    *                   or a sidecar listing, never a recursive scan
    * @param metaOpt    the era's `#schema=` metadata (column mapping /
    *                   widening), None for sidecar/spool files which are
    *                   written in logical names already
    * @param fileSchema explicit physical data schema when known (sidecar
    *                   footers); otherwise derived from meta or `out`
    */
  def plan(spark: SparkSession, baseDir: String,
           entries: Seq[(String, Long, Long)],
           metaOpt: Option[StructType],
           fileSchema: Option[StructType],
           out: StructType,
           constants: Map[String, Any],
           options: CaseInsensitiveStringMap): Seq[InputPartition] = {
    if (entries.isEmpty) return Seq.empty
    val idx = TableLogFileIndex(spark, baseDir, entries)
    val partSchema = idx.partitionSchema
    val l2p = metaOpt.map(TableLog.renameMap).getOrElse(Map.empty)
    val physData = metaOpt.map(TableLog.physicalSchema)
      .orElse(fileSchema)
      .getOrElse(StructType(out.fields.filterNot(f =>
        constants.contains(f.name) ||
          partSchema.fieldNames.contains(f.name))))
    val physVisible = StructType(physData.fields ++ partSchema.fields)
    val snapIdx = new TableLogSnapshotIndex(spark, idx, entries, baseDir)
    val builder = ParquetScanBuilder(spark, snapIdx, physVisible, physData, options)
    // prune the inner scan to exactly the physical columns the output
    // projection references — the stream reads requested bytes only
    val needed = out.fields.toSeq
      .filterNot(f => constants.contains(f.name))
      .flatMap { f =>
        val p = l2p.getOrElse(f.name, f.name)
        physVisible.fields.find(_.name == p)
      }
    builder.pruneColumns(StructType(needed))
    val scan = builder.build().asInstanceOf[ParquetScan]
    val innerRow = StructType(
      scan.readDataSchema.fields ++ scan.readPartitionSchema.fields)
    val exprs = stampExprs(innerRow, out, l2p, constants)
    val batch = scan.toBatch
    val factory = batch.createReaderFactory()
    batch.planInputPartitions().toSeq
      .map(p => GraftStampedPartition(p, factory, exprs))
  }

  /** (relative path, len, mtime) for manifest-relative files. */
  def fileEntries(spark: SparkSession, dir: String,
                  rels: Seq[String]): Seq[(String, Long, Long)] = {
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    rels.map { rel =>
      val st = fs.getFileStatus(new Path(dir, rel))
      (rel, st.getLen, st.getModificationTime)
    }
  }

  def qualified(spark: SparkSession, dir: String): String = {
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.makeQualified(new Path(dir)).toUri.getPath
  }
}

/** Version-offset bookkeeping shared by the append and CDC streams:
  * admission control (`maxVersionsPerTrigger` caps EACH micro-batch) and
  * the [[SupportsTriggerAvailableNow]] pin (catch-up runs drain to the
  * tip observed at start, rate limit intact per batch — the V1 contract
  * could not express this; see the class scaladoc above).
  */
private[sources] abstract class GraftVersionStream(
    spark: SparkSession, dir: String,
    startVersion: Long, maxVersionsPerTrigger: Option[Int])
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  protected def versionOf(o: Offset): Long = o match {
    case GraftVersionOffset(v) => v
    case other => other.json.trim.toLong
  }

  private var availableNowTip: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTip =
      Some(TableLog.versions(spark, dir).lastOption.getOrElse(startVersion))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = math.max(Option(start).map(versionOf).getOrElse(startVersion),
      startVersion)
    val vs = TableLog.versions(spark, dir)
    val bound = availableNowTip.getOrElse(vs.lastOption.getOrElse(from))
    val next = maxVersionsPerTrigger match {
      case Some(k) =>
        // step onto RETAINED versions only, so a vacuumed prefix can
        // never strand the cursor between versions
        vs.filter(v => v > from && v <= bound).take(k)
          .lastOption.getOrElse(from)
      case None => math.max(bound, from)
    }
    GraftVersionOffset(next)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def initialOffset(): Offset = GraftVersionOffset(startVersion)

  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftStampedReaderFactory
}

/** The append tail: each micro-batch is the files the offset window's
  * commits ADDED, read through the stock parquet path. Non-append
  * commits (removals, deletion vectors) break the stream with an
  * explanatory error unless `skipChangeCommits=true` (Delta's option of
  * the same name), in which case change commits contribute only their
  * added files.
  *
  * SCALE: per-batch planning is two manifest reads and a set difference;
  * checkpoint state is one long; no directory listing ever happens — the
  * log says what is new.
  */
private[sources] class GraftAppendMicroBatchStream(
    spark: SparkSession, dir: String, out: StructType,
    options: CaseInsensitiveStringMap)
  extends GraftVersionStream(spark, dir, 0L,
    Option(options.get("maxVersionsPerTrigger")).map(_.toInt)) {

  private val skipChangeCommits =
    options.getBoolean("skipChangeCommits", false)

  private def snapshot(v: Long): (Set[String], Set[String]) =
    if (v <= 0) (Set.empty, Set.empty)
    else {
      val lines = TableLog.manifestLines(spark, dir, v)
      (lines.filterNot(_.startsWith("#")).toSet,
        lines.filter(l => l.startsWith("#dvp=") || l.startsWith("#dveq="))
          .toSet)
    }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val sv = versionOf(start)
    val ev = versionOf(end)
    if (ev <= sv) return Array.empty
    val (sFiles, sDv) = snapshot(sv)
    val (eFiles, eDv) = snapshot(ev)
    val removed = sFiles -- eFiles
    val dvChanged = eDv != sDv
    if ((removed.nonEmpty || dvChanged) && !skipChangeCommits)
      throw new IllegalStateException(
        s"table at $dir changed non-append between versions $sv and $ev " +
          s"(${removed.size} files removed, dvChanged=$dvChanged); " +
          "streaming reads require append-only commits, or set " +
          ".option(\"skipChangeCommits\", \"true\") to emit only added files")
    val added = (eFiles -- sFiles).toSeq.sorted
    val qd = GraftStreamPlanner.qualified(spark, dir)
    val lines = TableLog.manifestLines(spark, dir, ev)
    GraftStreamPlanner.plan(spark, qd,
      GraftStreamPlanner.fileEntries(spark, dir, added),
      TableLog.metaSchema(lines), None, out, Map.empty, options).toArray
  }
}

/** The CHANGE FEED (`readChangeFeed`): each micro-batch is the window's
  * typed change rows — `_change_type` ∈ {insert, delete, update_preimage,
  * update_postimage} and `_commit_version` — planned as FILES, the only
  * thing a DSv2 partition reader can serve:
  *
  *  - insert-only commits: the commit's ADDED files, stamped
  *    `insert`/version by the partition projection — the inserted bytes
  *    are read once, never copied;
  *  - row-level DML commits on a table with change-data materialization
  *    ([[TableLog.CdfProp]]): the commit's `_change_data` sidecar — one
  *    parquet scan, classification already done at commit time;
  *  - unmaterialized DML commits: the change rows are reconstructed ONCE
  *    via [[TableLog.changesOfVersion]] and SPOOLED under this stream's
  *    own checkpoint metadata path (the engine-assigned
  *    `checkpointLocation/sources/<id>` — private state, like
  *    FileStreamSource's metadata log), then planned as files; replays
  *    and retries reuse the spool via its `_SUCCESS` marker. Cost is one
  *    extra write+read of the commit's OWN change set — enable
  *    materialization to amortize it across consumers.
  *
  * The BATCH form of the same scan (`spark.read.format("graft")
  * .option("readChangeFeed", "true")`, options `startingVersion` /
  * `endingVersion`) serves materialization-covered windows; windows
  * needing reconstruction are refused with a pointer to
  * [[TableLog.changes]], which handles them with full join machinery.
  */
private[sources] class GraftCdcMicroBatchStream(
    spark: SparkSession, dir: String, out: StructType,
    options: CaseInsensitiveStringMap,
    checkpointLocation: Option[String])
  extends GraftVersionStream(spark, dir,
    Option(options.get("startingVersion")).map(_.toLong).getOrElse(0L),
    Option(options.get("maxVersionsPerTrigger")).map(_.toInt)) {

  private val keys: Seq[String] = Option(options.get("keys")).toSeq
    .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))

  private def fs = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Reconstruct-and-spool for an unmaterialized DML commit: write once
    * under the checkpoint metadata path, reuse forever (the window is
    * immutable). Returns the spool dir, or None for the batch form.
    */
  private def spool(v: Long): Option[String] = checkpointLocation.map { ck =>
    val target = s"$ck/graft-cdc-spool/v=$v"
    val marker = new Path(target, "_SUCCESS")
    if (!fs.exists(marker)) {
      TableLog.changesOfVersion(spark, dir, v, keys).foreach { df =>
        df.drop("_commit_version").write.mode("overwrite").parquet(target)
      }
      if (!fs.exists(marker)) {
        fs.mkdirs(new Path(target))
        fs.create(marker, true).close()
      }
    }
    target
  }

  /** Plan one flat-parquet version dir (sidecar or spool): files carry
    * logical names + `_change_type`; `_commit_version` stamps from the
    * plan constant.
    */
  private def planVersionDir(base: String, v: Long): Seq[InputPartition] = {
    val qd = GraftStreamPlanner.qualified(spark, base)
    val parts = fs.listStatus(new Path(base)).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
    if (parts.isEmpty) return Seq.empty
    // sidecar/spool files are Spark-written in ONE write per version dir:
    // schema from their footers (driver metadata), not an inference job
    val fileSchema = TableLog.footerMergedSchema(spark, base,
      parts.map(_._1), strict = true)
    GraftStreamPlanner.plan(spark, qd, parts, None, Some(fileSchema), out,
      Map("_commit_version" -> v), options)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val sv = versionOf(start)
    val ev = versionOf(end)
    if (ev <= sv) return Array.empty
    // VACUUM contract (same up-front refusal as TableLog.changes): the
    // window reads pre-images from files referenced by the window's own
    // manifests, alive exactly while those manifests are retained —
    // refuse a vacuumed window with retention advice instead of dying
    // mid-batch on a reclaimed pre-image
    val floor = TableLog.versions(spark, dir).headOption.getOrElse(1L)
    require(sv >= floor || (floor == 1 && sv == 0),
      s"change window ($sv, $ev] reaches below the earliest retained " +
        s"version $floor of $dir (older versions were vacuumed, and " +
        "their pre-image files may be reclaimed). Start from " +
        s"startingVersion >= $floor, or raise vacuum's keepVersions " +
        "above the consumer's replay horizon.")
    val materialized = TableLog.materializedChangeVersions(spark, dir)
    val qd = GraftStreamPlanner.qualified(spark, dir)
    val vs = TableLog.versions(spark, dir).filter(v => v > sv && v <= ev)
    vs.flatMap { v =>
      val op = TableLog.opOf(spark, dir, v)
      if (TableLog.isNoChangeOp(op)) Seq.empty
      else {
        val cur = TableLog.manifestLines(spark, dir, v)
        val prev =
          if (v <= 1) Seq.empty else TableLog.manifestLines(spark, dir, v - 1)
        val curFiles = cur.filterNot(_.startsWith("#"))
        val prevFiles = prev.filterNot(_.startsWith("#"))
        val added = curFiles.filterNot(prevFiles.toSet)
        val removed = prevFiles.filterNot(curFiles.toSet)
        val newDv = TableLog.dvFiles(cur).filterNot(TableLog.dvFiles(prev).toSet)
        val newEq = TableLog.eqLines(cur).filterNot(TableLog.eqLines(prev).toSet)
        val pureInsert = removed.isEmpty && newDv.isEmpty && newEq.isEmpty &&
          TableLog.eqLines(cur).isEmpty
        if (pureInsert && added.isEmpty) Seq.empty // metadata-only commit
        else if (pureInsert)
          GraftStreamPlanner.plan(spark, qd,
            GraftStreamPlanner.fileEntries(spark, dir, added),
            TableLog.metaSchema(cur), None, out,
            Map("_change_type" -> "insert", "_commit_version" -> v), options)
        else {
          val props = TableLog.metaProps(cur)
          val sidecarOk = materialized.contains(v) &&
            TableLog.cdfEnabled(props) && keys == TableLog.cdfKeys(props)
          if (sidecarOk)
            planVersionDir(s"$dir/${TableLog.ChangeDataDir}/_commit_version=$v", v)
          else spool(v) match {
            case Some(sp) => planVersionDir(sp, v)
            case None => throw new UnsupportedOperationException(
              s"batch change-feed read over ($sv, $ev] hits version $v " +
                s"(op=$op), a row-level change commit with no materialized " +
                s"sidecar; SET TBLPROPERTIES ('${TableLog.CdfProp}'='true') " +
                "before such commits, or use TableLog.changes for " +
                "reconstruction-based batch reads")
          }
        }
      }
    }.toArray
  }
}

/** CDC scan builder — honors Spark's column pruning verbatim (the built
  * scan's readSchema must echo exactly what the engine asked for).
  */
private[sources] class GraftCdcScanBuilder(
    spark: SparkSession, dir: String, full: StructType,
    options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var pruned: StructType = full

  override def pruneColumns(requiredSchema: StructType): Unit =
    pruned = requiredSchema

  override def build(): Scan = new GraftCdcScan(spark, dir, pruned, options)
}

private[sources] class GraftCdcScan(
    spark: SparkSession, dir: String, out: StructType,
    options: CaseInsensitiveStringMap) extends Scan with Batch {

  override def readSchema(): StructType = out

  override def description(): String = s"GraftCdcScan($dir)"

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftCdcMicroBatchStream(spark, dir, out, options,
      Some(checkpointLocation))

  // the bounded batch form: (startingVersion, endingVersion|tip]
  override def planInputPartitions(): Array[InputPartition] = {
    val from = Option(options.get("startingVersion")).map(_.toLong).getOrElse(0L)
    val to = Option(options.get("endingVersion")).map(_.toLong)
      .getOrElse(TableLog.versions(spark, dir).lastOption.getOrElse(0L))
    new GraftCdcMicroBatchStream(spark, dir, out, options, None)
      .planInputPartitions(GraftVersionOffset(from), GraftVersionOffset(to))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftStampedReaderFactory
}

/** Adds `toMicroBatchStream` to the batch scan the table already builds —
  * the batch path is forwarded untouched (same pruning, same pushdown,
  * same MoR wrapping), streaming plans its own per-window scans.
  */
private[sources] class GraftStreamableScanBuilder(
    inner: ScanBuilder with SupportsPushDownRequiredColumns
      with SupportsPushDownCatalystFilters,
    spark: SparkSession, dir: String, options: CaseInsensitiveStringMap,
    pruneCtx: Option[GraftRuntimePruneCtx] = None)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns with SupportsPushDownCatalystFilters {

  override def pruneColumns(requiredSchema: StructType): Unit =
    inner.pruneColumns(requiredSchema)

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    inner.pushFilters(filters)

  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner.pushedFilters

  // the rebuild thunk re-runs the INNER builder with its accumulated
  // pushdown state: after runtime filters land in the snapshot index, a
  // fresh inner scan plans over the PRUNED file set (side-stepping any
  // partition caching inside the stock FileScan)
  override def build(): Scan =
    new GraftStreamableScan(inner.build(), () => inner.build(),
      spark, dir, options, pruneCtx)
}

private[sources] class GraftStreamableScan(
    initial: Scan, rebuild: () => Scan, spark: SparkSession, dir: String,
    options: CaseInsensitiveStringMap,
    pruneCtx: Option[GraftRuntimePruneCtx])
  extends Scan with SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  // swapped by filter(): BatchScanExec re-calls toBatch/planInputPartitions
  // after runtime filtering, and the fresh inner scan sees the pruned index
  @volatile private var current: Scan = initial

  override def readSchema(): StructType = initial.readSchema()

  override def toBatch: Batch = current.toBatch

  override def description(): String = current.description()

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    initial.supportedCustomMetrics()

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    current.reportDriverMetrics()

  override def estimateStatistics(): Statistics = current match {
    case s: SupportsReportStatistics => s.estimateStatistics()
    case _ => new Statistics {
      override def sizeInBytes() = java.util.OptionalLong.empty()
      override def numRows() = java.util.OptionalLong.empty()
    }
  }

  /** Dynamic partition / file pruning (see [[GraftRuntimePrune]]): the
    * prunable columns, in relation-output (logical) names. Empty when
    * the table has neither hive partitions nor hidden transforms —
    * Spark then never inserts a DPP subquery for this scan.
    */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    pruneCtx.map(GraftRuntimePrune.filterAttributes).getOrElse(Array.empty)

  /** Called by `BatchScanExec.filteredPartitions` mid-execution, after
    * the DPP subquery's build side materialized. Installs the translated
    * predicates on the snapshot index and swaps in a freshly-built inner
    * scan, so the engine's follow-up `toBatch.planInputPartitions()`
    * plans only the surviving files.
    */
  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    pruneCtx.foreach { ctx =>
      val (part, data) = GraftRuntimePrune.translate(ctx, filters)
      if (part.nonEmpty || data.nonEmpty) {
        ctx.index.addRuntimeFilters(part, data)
        current = rebuild()
      }
    }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftAppendMicroBatchStream(spark, dir, initial.readSchema(), options)
}

object GraftCdc {
  /** The two feed columns appended to the table schema by
    * `readChangeFeed` reads.
    */
  def feedFields: Seq[StructField] = Seq(
    StructField("_change_type", StringType),
    StructField("_commit_version", LongType))
}
