package graft.sources

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{
  BoundReference, Cast, Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{
  DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter,
  DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation,
  WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** SQL `UPDATE` / `MERGE INTO` (and non-translatable `DELETE`) for
  * TableLog tables — Spark's DSv2 row-level-operation contract,
  * implemented DELTA-based (merge-on-read): the reference's dimension
  * maintenance is a MERGE (reference: src/utils/scd_type2.py — the
  * SCD2 upsert the API path mirrors in [[graft.core.Scd2]]), and through
  * SQL it must not rewrite every file holding a matched row.
  *
  * Shape (the Iceberg `SupportsDelta` geometry, re-expressed over this
  * table format):
  *  - the operation's SCAN is the lineage-enabled MoR scan
  *    ([[GraftMorScanBuilder]]): each row carries its row ID
  *    (`_file` = manifest-relative path, `_pos` = true parquet row
  *    index — the reader-generated row-index column, so pushdown and
  *    row-group skipping stay ON and only MATCHING rows are read);
  *    rows already hidden by deletion vectors or equality deletes are
  *    subtracted before matching, so an UPDATE can never resurrect them.
  *  - the WRITE receives only the CHANGED rows (updates split into
  *    delete + reinsert, `representUpdateAsDeleteAndInsert`): executors
  *    stream deleted positions into [[graft.core.TableLog.deleteWhereDv]]-
  *    format parquet sidecars and inserted rows into hive-layout data
  *    files — written directly at their final paths with commit-unique
  *    names, the same crash story as every staged write (vacuum's age
  *    guard sweeps orphans).
  *  - ONE atomic commit appends both ([[graft.core.TableLog.commitDelta]]):
  *    no existing data file is read back or rewritten, so a MERGE
  *    against a 100 TB table costs O(changed rows) + one manifest CAS.
  *    Positions are validated against the read snapshot at commit time
  *    (racing compaction/overwrite aborts, racing appends compose;
  *    `spark.graft.commit.isolation=serializable` tightens to abort).
  *
  * Translatable `DELETE` predicates never reach this path — Spark's
  * `OptimizeMetadataOnlyDeleteFromTable` folds them back to
  * [[GraftTable.deleteWhere]] (the dv/cow dial); this operation catches
  * what that cannot express (subqueries, UDF predicates, MERGE deletes).
  */
class GraftRowLevelOperation(table: GraftTable, dir: String,
                             cmd: RowLevelOperation.Command)
  extends org.apache.spark.sql.connector.write.SupportsDelta {

  override def command: RowLevelOperation.Command = cmd

  override def description(): String = s"GraftDelta($cmd, $dir)"

  // the lineage-enabled scan: same pruning/pushdown as every read, plus
  // `_file`/`_pos` row IDs and MoR subtraction
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    table.lineageScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(SparkSession.active, dir, info, cmd,
          table.pinnedLines)
    }

  override def rowId(): Array[NamedReference] = Array(
    org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftLineage.FileCol),
    org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftLineage.PosCol))

  // updates arrive as delete + insert rows: one writer code path, and
  // the inserted image is free to land in a DIFFERENT partition (an
  // UPDATE may change a partition column)
  override def representUpdateAsDeleteAndInsert: Boolean = true

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty
}

private[sources] case class GraftDeltaMessage(
    inserted: Seq[String], dvSidecars: Seq[String],
    nInserted: Long, nDeleted: Long) extends WriterCommitMessage

/** Serializable bundle executors need to write one side (data files or
  * dv sidecars) of a delta: the parquet [[OutputWriterFactory]] prepared
  * on the driver plus the Hadoop conf `prepareWrite` configured (schema,
  * codec, committer settings travel inside the conf).
  */
private[sources] case class ParquetSideWriter(
    factory: OutputWriterFactory, conf: SerializableHadoopConf,
    extension: String, schema: StructType) extends Serializable {

  def open(path: String, partitionId: Int): OutputWriter = {
    val ctx = new TaskAttemptContextImpl(conf.value,
      new TaskAttemptID("graft-delta", 0, TaskType.MAP, partitionId, 0))
    factory.newInstance(path, schema, ctx)
  }
}

private[sources] object ParquetSideWriter {
  def prepare(spark: SparkSession, schema: StructType): ParquetSideWriter = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(
      spark, job, Map.empty[String, String], schema)
    val ext = factory.getFileExtension(new TaskAttemptContextImpl(
      job.getConfiguration, new TaskAttemptID()))
    ParquetSideWriter(factory, new SerializableHadoopConf(job.getConfiguration),
      ext, schema)
  }
}

class GraftDeltaWrite(spark: SparkSession, dir: String,
                      info: LogicalWriteInfo, cmd: RowLevelOperation.Command,
                      pinnedLines: Seq[String])
  extends DeltaWrite {

  override def description(): String = s"GraftDeltaWrite($cmd, $dir)"

  override def toBatch: DeltaBatchWrite =
    new GraftDeltaBatchWrite(spark, dir, info, cmd, pinnedLines)
}

class GraftDeltaBatchWrite(spark: SparkSession, dir: String,
                           info: LogicalWriteInfo, cmd: RowLevelOperation.Command,
                           pinnedLines: Seq[String])
  extends DeltaBatchWrite {

  private val commitId = UUID.randomUUID().toString.take(8)

  // declared partition columns seed the layout of a never-written table
  // (MERGE with only NOT MATCHED inserts on a fresh CREATE TABLE).
  // The spec derives from the SAME pinned snapshot the row-level scan
  // read — not a re-read tip — so the commit-time conflict check really
  // validates the row positions' snapshot (a compaction landing between
  // analysis and write-construction must abort, not slip through).
  private val spec = graft.core.TableLog.deltaWriteSpec(spark, dir,
    GraftTableSidecar.read(spark, dir).map(_._2).getOrElse(Seq.empty),
    pinnedLines = if (pinnedLines.isEmpty) None else Some(pinnedLines))

  private val qualifiedDir: String = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DeltaWriterFactory = {
    val rowSchema = info.schema()
    // the row image arrives in LOGICAL names; files carry PHYSICAL names
    // (partition columns are rename-protected, so logical == physical
    // for them). A DELETE-only plan ships no row image — its writer can
    // never be asked to insert, so missing partition columns are fine.
    val partOrds =
      if (spec.partCols.forall(rowSchema.fieldNames.contains))
        spec.partCols.map(c => rowSchema.fieldIndex(c))
      else Seq.empty[Int]
    val dataFields = rowSchema.fields.zipWithIndex
      .filterNot { case (_, i) => partOrds.contains(i) }
    val physDataSchema = StructType(dataFields.map { case (f, _) =>
      f.copy(name = spec.l2p.getOrElse(f.name, f.name),
        metadata = org.apache.spark.sql.types.Metadata.empty)
    })
    val idSchema = info.rowIdSchema().orElseThrow(() =>
      new IllegalStateException("delta write without a row-ID schema"))
    new GraftDeltaWriterFactory(qualifiedDir, commitId,
      ParquetSideWriter.prepare(spark, physDataSchema),
      ParquetSideWriter.prepare(spark, graft.core.TableLog.DvSidecarSchema),
      rowSchema, dataFields.map(_._2), spec.partCols, partOrds,
      idSchema.fieldIndex(GraftLineage.FileCol),
      idSchema.fieldIndex(GraftLineage.PosCol),
      spark.sessionState.conf.sessionLocalTimeZone)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: GraftDeltaMessage => m }
    graft.core.TableLog.commitDelta(spark, dir,
      added = msgs.flatMap(_.inserted).toSeq,
      dvSidecars = msgs.flatMap(_.dvSidecars).toSeq,
      snapFiles = spec.snapFiles,
      op = cmd.toString.toLowerCase + "_delta",
      statsCols = spec.statsCols,
      snapDv = spec.snapDv)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.collect { case m: GraftDeltaMessage => m }
      .flatMap(m => m.inserted ++ m.dvSidecars)
      .foreach(f =>
        try fs.delete(new Path(dir, f), false)
        catch { case _: java.io.IOException => () })
  }
}

private[sources] class GraftDeltaWriterFactory(
    qualifiedDir: String, commitId: String,
    dataSide: ParquetSideWriter, dvSide: ParquetSideWriter,
    rowSchema: StructType, dataOrds: Array[Int],
    partCols: Seq[String], partOrds: Seq[Int],
    idFileOrd: Int, idPosOrd: Int, zoneId: String)
  extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(qualifiedDir, commitId, dataSide, dvSide,
      rowSchema, dataOrds, partCols, partOrds, idFileOrd, idPosOrd,
      zoneId, partitionId, taskId)
}

/** Executor-side delta writer: inserted rows stream into one parquet
  * data file per (hive partition value, task); deleted row IDs stream
  * into one dv sidecar per task. Nothing accumulates in memory and
  * nothing round-trips through the driver — commit messages carry file
  * NAMES only.
  */
private[sources] class GraftDeltaWriter(
    qualifiedDir: String, commitId: String,
    dataSide: ParquetSideWriter, dvSide: ParquetSideWriter,
    rowSchema: StructType, dataOrds: Array[Int],
    partCols: Seq[String], partOrds: Seq[Int],
    idFileOrd: Int, idPosOrd: Int, zoneId: String,
    partitionId: Int, taskId: Long)
  extends DeltaWriter[InternalRow] {

  private val fs = new Path(qualifiedDir)
    .getFileSystem(dataSide.conf.value)

  private val dataProj = UnsafeProjection.create(
    dataOrds.map(i => BoundReference(i, rowSchema.fields(i).dataType,
      rowSchema.fields(i).nullable): Expression).toIndexedSeq)

  // hive path rendering: Spark's own partition-path semantics — a cast
  // to string (session zone for temporal types) + path escaping, null
  // and empty both landing in __HIVE_DEFAULT_PARTITION__
  private val partProj = UnsafeProjection.create(
    partOrds.map(i => Cast(
      BoundReference(i, rowSchema.fields(i).dataType,
        rowSchema.fields(i).nullable),
      StringType, Option(zoneId)): Expression).toIndexedSeq)

  private val dvProj = UnsafeProjection.create(
    Seq(BoundReference(0, StringType, nullable = false),
      BoundReference(1, LongType, nullable = false): Expression))
  private val dvRow = new GenericInternalRow(2)

  private val inserted = mutable.LinkedHashMap.empty[String, OutputWriter]
  private var dvWriter: OutputWriter = _
  private var dvRel: String = _
  private var nIns = 0L
  private var nDel = 0L

  private def partDir(row: InternalRow): String = {
    if (partCols.isEmpty) return ""
    val vals = partProj(row)
    partCols.indices.map { i =>
      val v = if (vals.isNullAt(i)) null else vals.getUTF8String(i).toString
      val seg =
        if (v == null || v.isEmpty) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        else ExternalCatalogUtils.escapePathName(v)
      s"${partCols(i)}=$seg"
    }.mkString("", "/", "/")
  }

  override def insert(row: InternalRow): Unit = {
    // a delete-only plan ships no row image, so its factory could not
    // resolve the table's partition columns — it must never insert
    require(partCols.length == partOrds.length,
      "delta writer built from a row image without the table's " +
        s"partition column(s) ${partCols.mkString(",")} cannot insert")
    val rel = partDir(row)
    val w = inserted.getOrElseUpdate(rel, {
      if (rel.nonEmpty) fs.mkdirs(new Path(qualifiedDir, rel))
      dataSide.open(
        s"$qualifiedDir/$rel$commitId-d$partitionId-$taskId${dataSide.extension}",
        partitionId)
    })
    w.write(dataProj(row))
    nIns += 1
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    if (dvWriter == null) {
      val relDir = s"_graft_dv/$commitId-delta"
      fs.mkdirs(new Path(qualifiedDir, relDir))
      dvRel = s"$relDir/d$partitionId-$taskId${dvSide.extension}"
      dvWriter = dvSide.open(s"$qualifiedDir/$dvRel", partitionId)
    }
    dvRow.update(0, id.getUTF8String(idFileOrd))
    dvRow.update(1, id.getLong(idPosOrd))
    dvWriter.write(dvProj(dvRow))
    nDel += 1
  }

  // never reached with representUpdateAsDeleteAndInsert = true; kept
  // semantically correct regardless
  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def commit(): WriterCommitMessage = {
    val files = inserted.toSeq.map { case (rel, w) =>
      w.close()
      rel + new Path(w.path()).getName
    }
    if (dvWriter != null) dvWriter.close()
    GraftDeltaMessage(files, Option(dvRel).toSeq, nIns, nDel)
  }

  override def abort(): Unit = {
    inserted.values.foreach { w =>
      try w.close() catch { case _: Exception => () }
      try fs.delete(new Path(w.path()), false)
      catch { case _: java.io.IOException => () }
    }
    if (dvWriter != null) {
      try dvWriter.close() catch { case _: Exception => () }
      try fs.delete(new Path(qualifiedDir, dvRel), false)
      catch { case _: java.io.IOException => () }
    }
  }

  override def close(): Unit = ()
}
