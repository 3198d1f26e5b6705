package graft.sources

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan,
  ScanBuilder, SupportsPushDownRequiredColumns, SupportsReportStatistics,
  Statistics}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Java-serializable Hadoop `Configuration` carrier (the stock Spark one
  * is `private[spark]`): executors need the session conf to open delete
  * sidecar files.
  */
private[sources] class SerializableHadoopConf(
    @transient private var conf: Configuration) extends Serializable {
  def value: Configuration = conf

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}

/** Merge-on-read through the DSv2 front door, applying deletion vectors
  * through the same executor-side [[DvLookup]] `TableLog.read` filters
  * with (reference surface:
  * `spark.table(...)` everywhere, /root/reference/src/utils/
  * silver_transformations.py:43 — a user must not lose SQL access to a
  * table the moment someone runs a GDPR delete on it).
  *
  * Positional deletion vectors need each row's parquet row index; Spark's
  * own `_metadata.row_index` machinery bottoms out in a reader-generated
  * column keyed by the reserved name
  * [[ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME]] — split-safe and
  * pushdown-safe (the generator walks row-group offsets, so indexes stay
  * TRUE file positions even when predicate pushdown skips rows). We append
  * that field to the inner [[ParquetScanBuilder]]'s data schema, let the
  * stock scan do EVERYTHING it does today (manifest-backed pruning,
  * min/max skipping, filter pushdown, column pruning, small-file
  * coalescing into multi-file partitions), and wrap its readers to drop
  * rows whose (file, row-index) sits in a deletion vector or whose key
  * tuple sits in an equality-delete set.
  *
  * Row-group/filter pushdown stays ON: a pushed filter only removes rows
  * the query's own Filter node would re-reject — hidden (deleted) rows
  * are *subtracted*, so early removal can never change the result, and
  * the row-index generator keeps absolute positions regardless.
  * Aggregate pushdown is deliberately NOT offered (a pushed count would
  * see deleted rows).
  *
  * SCALE: delete sidecars are deleted-row-count sized by design (that is
  * why dv/eq deletes exist — kilobytes of sidecar against a 100 TB
  * table). Deletion-vector sidecars are NEVER materialized on the
  * driver: the driver ships only their paths (plus the eq-delete key
  * sets, which are external-key-list sized) in ONE broadcast per
  * snapshot — cached across scans, so repeated MoR queries in a session
  * reuse a single broadcast — and each EXECUTOR reads each sidecar once
  * and merges a snapshot's (file → deleted row indexes) map once
  * ([[MorDvCache]]), the Delta/Iceberg geometry. Both delete families are
  * capped at [[MaxEntries]] (10M — past that the table needs OPTIMIZE,
  * and the error says so). The read-side cost is a row-based
  * (non-vectorized) reader on MoR snapshots only — compaction retires the
  * vectors and restores the vectorized fast path, the same trade
  * Delta/Iceberg make.
  */
object GraftMorScan {

  /** Merge-on-read cap: delete entries a snapshot may carry per family
    * (deletion-vector rows, equality-delete keys) before reads refuse it.
    */
  val MaxEntries: Long = 10000000L

  /** A snapshot's delete state as shipped to executors: dv sidecar
    * ABSOLUTE (qualified) paths — the entries themselves load
    * executor-side — plus eq-delete groups as (key column names, key
    * tuple set). Key sets hold CATALYST values (UTF8String etc.), CAST
    * to the TABLE column types at load, so a sidecar written with a
    * narrower key type (INT keys against a BIGINT column) still hides
    * its rows — matching the API path's cast-coercing `<=>` anti-join.
    * `touched` is the sorted distinct set of manifest-relative data-file
    * paths the dv entries target — driver-sized (bounded by the manifest
    * the driver already holds) — so the scan can keep the stock
    * VECTORIZED path for a snapshot region no delete touches.
    */
  case class MorDeletes(dvSidecars: Array[String],
                        eq: Seq[(Seq[String], Set[Seq[Any]])],
                        touched: Array[String])

  /** Content fingerprint of a (manifest, schema) pair — SHA-256, NOT a
    * 32-bit hashCode: the broadcast cache below lives for a whole
    * session of commits, and a colliding Int key would silently serve
    * the WRONG delete set. A 256-bit digest makes collision structurally
    * impossible rather than merely unlikely-per-pair.
    */
  private[sources] def snapshotFingerprint(lines: Seq[String],
                                           tableSchema: StructType): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l =>
      md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0: Byte) // line delimiter: ["ab","c"] != ["a","bc"]
    }
    md.update(tableSchema.catalogString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().map("%02x".format(_)).mkString
  }

  // one broadcast per (dir, snapshot fingerprint), LRU-bounded: evicted
  // entries unpersist (not destroy — in-flight scans can re-fetch from
  // the driver), so long sessions don't accumulate broadcast blocks
  private val bcastCache =
    new java.util.LinkedHashMap[(String, String), Broadcast[MorDeletes]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Broadcast[MorDeletes]]): Boolean =
        if (size > 32) { e.getValue.unpersist(false); true } else false
    }

  def deletesFor(spark: SparkSession, dir: String, lines: Seq[String],
                 tableSchema: StructType): Broadcast[MorDeletes] =
    bcastCache.synchronized {
      val key = (dir, snapshotFingerprint(lines, tableSchema))
      Option(bcastCache.get(key)).getOrElse {
        val b = spark.sparkContext.broadcast(
          loadDeletes(spark, dir, lines, tableSchema))
        bcastCache.put(key, b)
        b
      }
    }

  // the session Hadoop conf executors need to open sidecar files; one
  // broadcast per SparkContext, reused across scans
  @volatile private var confCache: (SparkContext, Broadcast[SerializableHadoopConf]) = _

  def hadoopConfBroadcast(spark: SparkSession): Broadcast[SerializableHadoopConf] = {
    val sc = spark.sparkContext
    val c = confCache
    if (c != null && (c._1 eq sc)) c._2
    else {
      val b = sc.broadcast(
        new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
      confCache = (sc, b)
      b
    }
  }

  private[sources] def loadDeletes(spark: SparkSession, dir: String,
                                   lines: Seq[String],
                                   tableSchema: StructType): MorDeletes = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val qualified = fs.makeQualified(new org.apache.hadoop.fs.Path(dir)).toString
    val dvs = graft.core.TableLog.dvFiles(lines)
      .map(f => s"$qualified/$f").toArray
    var touched = Array.empty[String]
    if (dvs.nonEmpty) {
      // cap check + touched-file census in one distributed pass — dv
      // ROWS never reach the driver, only one (file, count) row per
      // TOUCHED data file (bounded by the manifest, which the driver
      // already holds line-by-line)
      val perFile = spark.read.schema(graft.core.TableLog.DvSidecarSchema)
        .parquet(dvs.toIndexedSeq: _*)
        .groupBy("_dv_file").count().collect()
      val n = perFile.map(_.getLong(1)).sum
      require(n <= MaxEntries, s"snapshot at $dir carries $n deletion-vector " +
        s"entries (> the $MaxEntries merge-on-read cap); run " +
        "OPTIMIZE (TableLog.compact) to materialize the deletes first")
      touched = perFile.map(_.getString(0)).sorted
    }
    // deterministic group order: the scan builder indexes into this seq
    val eqGroups = graft.core.TableLog.eqLines(lines).groupBy(_._2).toSeq
      .sortBy(_._1.mkString(","))
    val eqSets = eqGroups.map { case (cols, entries) =>
      val typed = cols.map { c =>
        tableSchema.fields.find(_.name == c) match {
          case Some(f) => org.apache.spark.sql.functions.col(c).cast(f.dataType)
          case None => org.apache.spark.sql.functions.col(c)
        }
      }
      val df = spark.read.parquet(entries.map(e => s"$qualified/${e._1}"): _*)
        .select(typed: _*)
      val n = df.count()
      require(n <= MaxEntries, s"snapshot at $dir carries $n equality-delete " +
        s"keys (> the $MaxEntries merge-on-read cap); run " +
        "OPTIMIZE (TableLog.compact) to materialize the deletes first")
      val converters = df.schema.fields.map(f =>
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(f.dataType))
      val keys = df.collect().map { r =>
        Seq.tabulate(converters.length)(i =>
          if (r.isNullAt(i)) null else converters(i)(r.get(i)))
      }.toSet
      (cols, keys)
    }
    MorDeletes(dvs, eqSets, touched)
  }
}

/** The one deletion-vector test of this format, applied inside the scan
  * by both read paths: [[graft.core.TableLog]] filters lineage-tagged
  * rows through [[DvLookup.column]], and [[GraftMorReaderFactory]] asks
  * [[positions]] once per file. Only the snapshot's qualified sidecar
  * paths and the session's Hadoop conf broadcast travel with the plan;
  * each task takes the (data file → deleted row positions) map from the
  * executor's [[MorDvCache]] on first use.
  */
private[graft] class DvLookup(sidecars: Array[String],
                              confB: Broadcast[SerializableHadoopConf])
  extends Serializable {

  @transient private lazy val byFile: Map[String, Array[Long]] =
    MorDvCache.get(sidecars, confB.value.value)

  /** Sorted deleted row positions of manifest-relative `file`. */
  def positions(file: String): Array[Long] =
    byFile.getOrElse(file, Array.emptyLongArray)

  /** Is row `idx` of `file` visible in the snapshot? */
  def survives(file: String, idx: Long): Boolean =
    !DvLookup.hides(positions(file), idx)
}

private[graft] object DvLookup {

  def hides(positions: Array[Long], idx: Long): Boolean =
    positions.nonEmpty && java.util.Arrays.binarySearch(positions, idx) >= 0

  def apply(spark: SparkSession, sidecars: Seq[String]): DvLookup =
    new DvLookup(sidecars.toArray, GraftMorScan.hadoopConfBroadcast(spark))

  /** True for a row of lineage (`file`, `idx`) — manifest-relative data
    * file, parquet row index — that no sidecar of `sidecars` (qualified
    * paths) lists.
    */
  def column(spark: SparkSession, sidecars: Seq[String],
             file: Column, idx: Column): Column = {
    val dv = DvLookup(spark, sidecars)
    udf((f: String, i: Long) => dv.survives(f, i)).apply(file, idx)
  }
}

/** Executor-side per-JVM deletion-vector cache. Sidecar files are
  * immutable, so each one's (data file → sorted deleted row positions)
  * map is read once per JVM, keyed on its path: a snapshot one delete
  * newer than a cached one opens only that delete's sidecars. There is no
  * SparkSession on executors, so the read goes through parquet-hadoop's
  * example API. A multi-sidecar snapshot's merged map is also built once
  * per JVM. Both caches are LRU-bounded by the entries they hold, at
  * [[GraftMorScan.MaxEntries]] each, so long-lived executors don't hoard
  * heap. Loads serialize on the object, so concurrent tasks of one
  * snapshot wait for one load instead of repeating it.
  */
private[graft] object MorDvCache {
  private type Entries = Map[String, Array[Long]]

  /** Access-ordered map whose eldest values go once the entries held
    * exceed [[GraftMorScan.MaxEntries]]; the newest value always stays.
    */
  private final class EntryLru {
    private val m =
      new java.util.LinkedHashMap[String, (Entries, Long)](16, 0.75f, true)
    private var held = 0L

    def get(k: String): Option[Entries] = Option(m.get(k)).map(_._1)

    def put(k: String, e: Entries): Entries = {
      val n = e.valuesIterator.map(_.length.toLong).sum
      Option(m.put(k, (e, n))).foreach(old => held -= old._2)
      held += n
      val it = m.entrySet.iterator
      while (held > GraftMorScan.MaxEntries && m.size > 1) {
        val eldest = it.next()
        held -= eldest.getValue._2
        it.remove()
      }
      e
    }
  }

  private val bySidecar = new EntryLru
  private val bySnapshot = new EntryLru
  private val loads = new java.util.concurrent.atomic.AtomicLong

  /** Sidecar files read from storage by this JVM so far. */
  def sidecarLoads: Long = loads.get

  def get(sidecars: Array[String], conf: Configuration): Entries = synchronized {
    if (sidecars.length == 1) sidecar(sidecars(0), conf)
    else {
      val key = sidecars.mkString("\n")
      bySnapshot.get(key).getOrElse(
        bySnapshot.put(key, merge(sidecars.map(sidecar(_, conf)))))
    }
  }

  private def sidecar(path: String, conf: Configuration): Entries =
    bySidecar.get(path).getOrElse(bySidecar.put(path, load(path, conf)))

  private def merge(maps: Seq[Entries]): Entries =
    maps.flatMap(_.toSeq).groupBy(_._1).map {
      case (f, Seq((_, one))) => f -> one
      case (f, several) => f -> several.flatMap(_._2).distinct.sorted.toArray
    }

  private def load(path: String, conf: Configuration): Entries = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    loads.incrementAndGet()
    val buf = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    val reader = ParquetReader
      .builder(new GroupReadSupport(), new org.apache.hadoop.fs.Path(path))
      .withConf(conf).build()
    try {
      var g = reader.read()
      while (g != null) {
        buf.getOrElseUpdate(g.getString("_dv_file", 0),
          mutable.ArrayBuffer.empty[Long]) += g.getLong("_dv_idx", 0)
        g = reader.read()
      }
    } finally reader.close()
    buf.map { case (f, idxs) => f -> idxs.distinct.sorted.toArray }.toMap
  }
}

/** Delegates pruning + catalyst filter pushdown to a stock
  * [[ParquetScanBuilder]] whose data schema is augmented with the
  * reader-generated row-index column (dv snapshots) and any
  * equality-delete key columns the query pruned away.
  *
  * Also serves the table's LINEAGE metadata columns — `_file` (the
  * file's manifest-relative path) and `_pos` (the row's TRUE parquet row
  * index, Iceberg's names) — which the row-level-operation path
  * ([[GraftRowLevelOperation]]) uses as its row ID, and any SQL query
  * can select for debugging. When the snapshot carries no deletes and
  * the query asked for no lineage, `build()` returns the INNER stock
  * scan untouched — the vectorized fast path, zero wrapper overhead.
  */
class GraftMorScanBuilder(spark: SparkSession,
                          index: PartitioningAwareFileIndex,
                          tableSchema: StructType, dataSchema: StructType,
                          options: CaseInsensitiveStringMap,
                          dir: String, qualifiedDir: String,
                          deletes: Broadcast[GraftMorScan.MorDeletes])
  extends ScanBuilder
  with SupportsPushDownRequiredColumns with SupportsPushDownCatalystFilters {

  private val rowIdxName = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  // the row-index generator column is ALWAYS declared on the inner scan
  // (a declaration costs nothing; only a REQUEST in pruneColumns makes
  // readers generate it) so one builder serves dv subtraction and `_pos`
  private val augDataSchema =
    StructType(dataSchema.fields :+ StructField(rowIdxName, LongType, nullable = true))

  private val inner = ParquetScanBuilder(spark, index,
    StructType(tableSchema.fields :+ StructField(rowIdxName, LongType, nullable = true)),
    augDataSchema, options)

  // what the QUERY asked for — extras are appended below, then projected
  // back out by the reader
  private var visible: StructType = tableSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    visible = requiredSchema

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    inner.pushFilters(filters)

  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner.pushedFilters

  override def build(): Scan = {
    val eq = deletes.value.eq
    // lineage metadata columns: honored only when the table has no data
    // column of the same name (Spark hides conflicting metadata columns)
    val dataNames = tableSchema.fieldNames.toSet
    val wantFile = visible.fieldNames.contains(GraftLineage.FileCol) &&
      !dataNames.contains(GraftLineage.FileCol)
    val wantPos = visible.fieldNames.contains(GraftLineage.PosCol) &&
      !dataNames.contains(GraftLineage.PosCol)
    val needRowIdx = deletes.value.dvSidecars.nonEmpty || wantPos
    val dataVisible = StructType(visible.fields.filterNot(f =>
      (f.name == GraftLineage.FileCol && wantFile) ||
        (f.name == GraftLineage.PosCol && wantPos)))
    if (!needRowIdx && !wantFile && eq.isEmpty) {
      // clean snapshot, no lineage requested: the stock vectorized scan
      inner.pruneColumns(dataVisible)
      return inner.build()
    }
    val visNames = dataVisible.fieldNames.toSet
    val eqKeyCols = eq.flatMap(_._1).distinct
    val extraKeys = eqKeyCols.filterNot(visNames)
      .flatMap(c => tableSchema.fields.find(_.name == c))
    val required = StructType(dataVisible.fields ++ extraKeys ++
      (if (needRowIdx) Seq(StructField(rowIdxName, LongType, nullable = true))
       else Seq.empty))
    inner.pruneColumns(required)
    val pScan = inner.build().asInstanceOf[ParquetScan]
    // the inner row layout the readers actually produce: data cols (in
    // augmented-dataSchema order) then partition cols; `_file` is bound
    // one past the end (the reader joins a per-file constant row)
    val innerRow = StructType(
      pScan.readDataSchema.fields ++ pScan.readPartitionSchema.fields)
    val fileOrd = innerRow.length
    val rowIdxOrd = innerRow.fieldNames.indexOf(rowIdxName)
    // keep the EXACT fields Spark asked for (metadata-column markers
    // included) so downstream attribute matching sees what it requested
    val declared = visible
    val outOrdinals = visible.fields.map { f =>
      if (f.name == GraftLineage.FileCol && wantFile) fileOrd
      else if (f.name == GraftLineage.PosCol && wantPos) rowIdxOrd
      else innerRow.fieldNames.indexOf(f.name)
    }
    require(outOrdinals.forall(_ >= 0),
      s"scan on $dir cannot serve ${visible.fieldNames.mkString(",")} " +
        s"from ${innerRow.fieldNames.mkString(",")}")
    // per-scan binding of each eq group (same index order as MorDeletes.eq)
    // to the inner row's ordinals; the key SETS stay in the broadcast
    val eqBound = eq.map { case (cols, _) =>
      (cols.map(c => innerRow.fieldNames.indexOf(c)).toArray,
        cols.map(c => innerRow.fields(innerRow.fieldNames.indexOf(c)).dataType).toArray)
    }.toArray
    new GraftMorScanImpl(pScan, declared, innerRow,
      outOrdinals, rowIdxOrd, qualifiedDir, deletes,
      DvLookup(spark, deletes.value.dvSidecars.toSeq), eqBound)
  }
}

/** Reserved lineage metadata column names (Iceberg's `_file`/`_pos`). */
object GraftLineage {
  val FileCol = "_file"
  val PosCol = "_pos"
}

private[sources] class GraftMorScanImpl(
    inner: ParquetScan, declared: StructType,
    innerRow: StructType, outOrdinals: Array[Int], rowIdxOrd: Int,
    qualifiedDir: String,
    deletes: Broadcast[GraftMorScan.MorDeletes],
    dv: DvLookup,
    eqBound: Array[(Array[Int], Array[DataType])])
  extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = declared

  override def toBatch: Batch = this

  override def description(): String =
    s"GraftMorScan(${inner.description()})"

  // conservative overestimate: file bytes include deleted rows — fine for
  // join-side planning, and exact stats would need a count
  override def estimateStatistics(): Statistics = inner.estimateStatistics()

  // stock partitions, small-file coalescing included: each PartitionedFile
  // inside a multi-file partition still names its file, which is all the
  // per-file dv lookup needs (the factory chains one delegate per file)
  private lazy val plannedPartitions: Array[InputPartition] =
    inner.planInputPartitions()

  override def planInputPartitions(): Array[InputPartition] = plannedPartitions

  /** Whole-scan vectorized dial for MoR snapshots whose deletes don't
    * touch the files this query reads: Spark's DSv2 exec REQUIRES all
    * partitions of one scan to agree on columnar vs row, so the decision
    * is global — when every planned file (post partition-pruning and
    * stats skipping) is absent from the dv touched-file set, no
    * eq-delete group exists (eq keys hide rows in ANY file), and the
    * per-file `_file` constant is not requested, the readers hand the
    * stock vectorized ColumnarBatches straight through (minus the
    * internal row-index vector — a column-reference re-wrap, no copy).
    * A mostly-clean 100 TB snapshot then pays the row-based trade only
    * on queries that actually overlap dv-touched files.
    */
  private lazy val columnarOk: Boolean =
    eqBound.isEmpty && !outOrdinals.contains(innerRow.length) && {
      val touched = deletes.value.touched
      touched.isEmpty || {
        val tset = touched.toSet
        plannedPartitions.forall {
          case fp: FilePartition => fp.files.forall { f =>
            !tset.contains(f.toPath.toUri.getPath
              .stripPrefix(qualifiedDir).stripPrefix("/"))
          }
          case _ => false
        }
      }
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftMorReaderFactory(inner.createReaderFactory(), innerRow,
      outOrdinals, rowIdxOrd, qualifiedDir, deletes, dv, eqBound,
      columnarOk)
}

/** Row-based reader wrapper: chains one stock parquet reader per file in
  * the (possibly multi-file) partition, drops dv/eq-deleted rows, and
  * projects the internal extras (row index, re-added key columns) back
  * out. Each file's deleted positions come from [[DvLookup]], the same
  * executor-side test the API read path filters through — the driver
  * never materializes dv entries.
  */
private[sources] class GraftMorReaderFactory(
    inner: PartitionReaderFactory, innerRow: StructType,
    outOrdinals: Array[Int], rowIdxOrd: Int, qualifiedDir: String,
    deletes: Broadcast[GraftMorScan.MorDeletes],
    dv: DvLookup,
    eqBound: Array[(Array[Int], Array[DataType])],
    columnarOk: Boolean = false)
  extends PartitionReaderFactory {

  // MoR snapshots whose deletes overlap the planned files read
  // row-based: per-row subtraction can't run on a ColumnarBatch without
  // a selection-vector protocol Spark doesn't expose (compaction retires
  // the vectors and the vectorized path). When the SCAN proved every
  // planned file untouched (columnarOk, see GraftMorScanImpl), batches
  // pass through vectorized.
  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnarOk && inner.supportColumnarReads(partition)

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val delegate = inner.createColumnarReader(partition)
    // no row survives subtraction checks here by construction (untouched
    // files, no eq groups) — the wrapper only projects out the internal
    // row-index vector, re-wrapping the delegate batch's column
    // references (zero data movement)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      override def next(): Boolean = delegate.next()
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        val b = delegate.get()
        new org.apache.spark.sql.vectorized.ColumnarBatch(
          outOrdinals.map(b.column(_)
            : org.apache.spark.sql.vectorized.ColumnVector), b.numRows())
      }
      override def close(): Unit = delegate.close()
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val fp = partition.asInstanceOf[FilePartition]
    val del = deletes.value
    val eqSets: Array[(Array[Int], Array[DataType], Set[Seq[Any]])] =
      eqBound.zip(del.eq).map { case ((ords, types), (_, keys)) =>
        (ords, types, keys)
      }
    new PartitionReader[InternalRow] {
      private var fi = 0
      private var delegate: PartitionReader[InternalRow] = _
      private var deleted: Array[Long] = Array.emptyLongArray
      private var cur: InternalRow = _
      // `_file` binds one past the inner row: the reader joins a per-file
      // constant row holding the manifest-relative path
      private val fileRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      private val joined =
        new org.apache.spark.sql.catalyst.expressions.JoinedRow()
      private lazy val proj = UnsafeProjection.create(
        outOrdinals.map(i =>
          (if (i == innerRow.length)
            BoundReference(i, org.apache.spark.sql.types.StringType,
              nullable = false)
          else BoundReference(i,
            innerRow.fields(i).dataType, innerRow.fields(i).nullable))
            : Expression).toIndexedSeq)

      private def openNext(): Boolean = {
        if (fi >= fp.files.length) return false
        val f = fp.files(fi)
        fi += 1
        val rel = f.toPath.toUri.getPath
          .stripPrefix(qualifiedDir).stripPrefix("/")
        deleted =
          if (del.dvSidecars.isEmpty) Array.emptyLongArray else dv.positions(rel)
        fileRow.update(0,
          org.apache.spark.unsafe.types.UTF8String.fromString(rel))
        delegate = inner.createReader(FilePartition(fp.index, Array(f)))
        true
      }

      private def survives(r: InternalRow): Boolean = {
        if (rowIdxOrd >= 0 && DvLookup.hides(deleted, r.getLong(rowIdxOrd)))
          return false
        var i = 0
        while (i < eqSets.length) {
          val (ords, types, keys) = eqSets(i)
          val tuple = Seq.tabulate(ords.length)(j =>
            if (r.isNullAt(ords(j))) null else r.get(ords(j), types(j)))
          if (keys.contains(tuple)) return false
          i += 1
        }
        true
      }

      override def next(): Boolean = {
        while (true) {
          if (delegate == null && !openNext()) return false
          while (delegate.next()) {
            val r = delegate.get()
            if (survives(r)) { cur = r; return true }
          }
          delegate.close()
          delegate = null
        }
        false
      }

      override def get(): InternalRow = proj(joined.apply(cur, fileRow))

      override def close(): Unit =
        if (delegate != null) { delegate.close(); delegate = null }
    }
  }
}
