package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  And, Attribute, BoundReference, EqualNullSafe, EqualTo, Expression,
  GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual,
  Literal, Or}
import org.apache.spark.sql.execution.datasources.{
  FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation,
  PartitionDirectory, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.{
  ByteType, DateType, IntegerType, LongType, ShortType, StringType,
  StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Manifest-driven [[FileIndex]] for TableLog snapshots — the mechanism
  * that makes partition pruning and min/max data skipping engage
  * AUTOMATICALLY from query predicates (the Delta `TahoeFileIndex` role,
  * built from the public FileIndex contract).
  *
  * `TableLog.read` plans every snapshot read through it: Spark's own
  * FileSourceStrategy splits the query's WHERE into partitionFilters +
  * dataFilters and passes both to [[listFiles]]; we answer from the
  * MANIFEST alone — partition values parsed from the hive-style relative
  * paths (typed by Spark's own basePath inference), value ranges from
  * the `#stats=` lines — before a single footer is opened or a directory
  * listed. Everything downstream (vectorized parquet reading, whole-stage
  * codegen, AQE) is the stock engine: the index only decides which files
  * exist.
  *
  * At 100 TB this is the difference between planning over a manifest in
  * driver memory and listing object-store prefixes: listing cost is
  * O(manifest lines), pruning cost is O(files) comparisons, and a
  * selective predicate on the stats column reads only the matching
  * files' bytes.
  */
class TableLogFileIndex(
    spark: SparkSession,
    dir: String,
    // (manifest-relative path, size bytes, modification time)
    fileEntries: Seq[(String, Long, Long)],
    // rel path -> per-column (min, max) from #stats= lines
    stats: Map[String, Map[String, (Long, Long)]],
    override val partitionSchema: StructType,
    // manifest-relative directory ("a=1/b=x/") -> its typed partition values
    partRows: Map[String, InternalRow],
    // hidden-partitioning transforms (`#layout=` lines): map predicates on
    // SOURCE columns to constraints on the derived layout directories
    transforms: Seq[PartTransform]) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(new Path(dir))

  private[sources] def partValues(rel: String): Seq[String] =
    rel.split('/').init.map(_.split("=", 2)(1)).toSeq

  private[sources] def partRow(rel: String): InternalRow =
    partRows(rel.take(rel.lastIndexOf('/') + 1))

  /** Integral bounds implied by the pushed conjuncts, per column name —
    * the same simple shapes parquet footer skipping understands. Anything
    * else (strings, nulls checks, ORs, casts) is conservatively ignored:
    * pruning may keep too much, never too little.
    */
  private def bounds(filters: Seq[Expression]): Map[String, (Long, Long)] = {
    def lit(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType)  => Some(v.toLong)
      case Literal(v: Long, LongType)    => Some(v)
      case Literal(v: Short, ShortType)  => Some(v.toLong)
      case Literal(v: Byte, ByteType)    => Some(v.toLong)
      case Literal(v: Int, DateType)     => Some(v.toLong)
      case _ => None
    }
    def walk(e: Expression): Seq[(String, Long, Long)] = e match {
      case And(l, r) => walk(l) ++ walk(r)
      // OR of bounds on the SAME single column → the union range; any
      // other disjunction prunes nothing (conservative)
      case Or(l, r) =>
        val (a, b) = (walk(l), walk(r))
        (a.map(_._1).distinct, b.map(_._1).distinct) match {
          case (Seq(c1), Seq(c2)) if c1 == c2 && a.nonEmpty && b.nonEmpty =>
            Seq((c1, (a ++ b).map(_._2).min, (a ++ b).map(_._3).max))
          case _ => Seq.empty
        }
      case EqualTo(a: Attribute, v) => lit(v).toSeq.map(x => (a.name, x, x))
      case EqualTo(v, a: Attribute) => lit(v).toSeq.map(x => (a.name, x, x))
      case EqualNullSafe(a: Attribute, v) => lit(v).toSeq.map(x => (a.name, x, x))
      case EqualNullSafe(v, a: Attribute) => lit(v).toSeq.map(x => (a.name, x, x))
      case In(a: Attribute, vs) if vs.nonEmpty && vs.forall(lit(_).isDefined) =>
        val xs = vs.flatMap(lit)
        Seq((a.name, xs.min, xs.max))
      case InSet(a: Attribute, hs) if hs.nonEmpty =>
        val xs = hs.toSeq.collect {
          case i: java.lang.Integer => i.longValue
          case l: java.lang.Long    => l.longValue
          case s: java.lang.Short   => s.longValue
          case b: java.lang.Byte    => b.longValue
        }
        if (xs.size == hs.size) Seq((a.name, xs.min, xs.max)) else Seq.empty
      case GreaterThan(a: Attribute, v) =>
        lit(v).toSeq.map(x => (a.name, x + 1, Long.MaxValue))
      case GreaterThanOrEqual(a: Attribute, v) =>
        lit(v).toSeq.map(x => (a.name, x, Long.MaxValue))
      case LessThan(a: Attribute, v) =>
        lit(v).toSeq.map(x => (a.name, Long.MinValue, x - 1))
      case LessThanOrEqual(a: Attribute, v) =>
        lit(v).toSeq.map(x => (a.name, Long.MinValue, x))
      case GreaterThan(v, a: Attribute) =>
        lit(v).toSeq.map(x => (a.name, Long.MinValue, x - 1))
      case GreaterThanOrEqual(v, a: Attribute) =>
        lit(v).toSeq.map(x => (a.name, Long.MinValue, x))
      case LessThan(v, a: Attribute) =>
        lit(v).toSeq.map(x => (a.name, x + 1, Long.MaxValue))
      case LessThanOrEqual(v, a: Attribute) =>
        lit(v).toSeq.map(x => (a.name, x, Long.MaxValue))
      case _ => Seq.empty
    }
    filters.flatMap(walk)
      .groupBy(_._1)
      .map { case (c, bs) =>
        c -> ((bs.map(_._2).max, bs.map(_._3).min)) // intersect conjuncts
      }
  }

  /** Literal bounds for TRANSFORM pruning — wider type set than
    * [[bounds]] (adds TimestampType micros, since `days(ts)` translates
    * them itself), kept separate so timestamp literals never get compared
    * against the seconds-encoded `#stats=` ranges.
    */
  private def transformBounds(filters: Seq[Expression])
      : (Map[String, (Long, Long)], Map[String, Seq[Seq[Any]]]) = {
    import org.apache.spark.sql.types.TimestampType
    def lit(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType)     => Some(v.toLong)
      case Literal(v: Long, LongType)       => Some(v)
      case Literal(v: Short, ShortType)     => Some(v.toLong)
      case Literal(v: Byte, ByteType)       => Some(v.toLong)
      case Literal(v: Int, DateType)        => Some(v.toLong)
      case Literal(v: Long, TimestampType)  => Some(v) // epoch micros
      case _ => None
    }
    def walk(e: Expression): Seq[(String, Long, Long)] = e match {
      case And(l, r) => walk(l) ++ walk(r)
      case EqualTo(a: Attribute, v) => lit(v).toSeq.map(x => (a.name, x, x))
      case EqualTo(v, a: Attribute) => lit(v).toSeq.map(x => (a.name, x, x))
      case GreaterThan(a: Attribute, v) =>
        lit(v).toSeq.map(x => (a.name, x + 1, Long.MaxValue))
      case GreaterThanOrEqual(a: Attribute, v) =>
        lit(v).toSeq.map(x => (a.name, x, Long.MaxValue))
      case LessThan(a: Attribute, v) =>
        lit(v).toSeq.map(x => (a.name, Long.MinValue, x - 1))
      case LessThanOrEqual(a: Attribute, v) =>
        lit(v).toSeq.map(x => (a.name, Long.MinValue, x))
      case GreaterThan(v, a: Attribute) =>
        lit(v).toSeq.map(x => (a.name, Long.MinValue, x - 1))
      case GreaterThanOrEqual(v, a: Attribute) =>
        lit(v).toSeq.map(x => (a.name, Long.MinValue, x))
      case LessThan(v, a: Attribute) =>
        lit(v).toSeq.map(x => (a.name, x + 1, Long.MaxValue))
      case LessThanOrEqual(v, a: Attribute) =>
        lit(v).toSeq.map(x => (a.name, x, Long.MaxValue))
      case _ => Seq.empty
    }
    val rb = filters.flatMap(walk).groupBy(_._1).map { case (c, bs) =>
      c -> ((bs.map(_._2).max, bs.map(_._3).min))
    }
    // equality conjuncts (incl. strings and IN-lists) for hash-bucket
    // pruning: each conjunct contributes its set of allowed values; a
    // file must satisfy EVERY conjunct through at least one value
    def one(e: Expression): Option[Any] = e match {
      case Literal(v: UTF8String, StringType) => Some(v.toString)
      case other => lit(other).map(x => x: Any)
    }
    def eqWalk(e: Expression): Seq[(String, Seq[Any])] = e match {
      case And(l, r) => eqWalk(l) ++ eqWalk(r)
      case EqualTo(a: Attribute, v) => one(v).toSeq.map(x => a.name -> Seq(x))
      case EqualTo(v, a: Attribute) => one(v).toSeq.map(x => a.name -> Seq(x))
      case EqualNullSafe(a: Attribute, v) => one(v).toSeq.map(x => a.name -> Seq(x))
      case EqualNullSafe(v, a: Attribute) => one(v).toSeq.map(x => a.name -> Seq(x))
      case In(a: Attribute, vs) if vs.nonEmpty && vs.forall(one(_).isDefined) =>
        Seq(a.name -> vs.flatMap(one))
      case _ => Seq.empty
    }
    val eqs = filters.flatMap(eqWalk)
      .groupBy(_._1).map { case (c, es) => c -> es.map(_._2) }
    (rb, eqs)
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    // partition pruning: bind the filters to the partition schema and
    // evaluate them against each directory's parsed values. Filters the
    // index can't evaluate row-locally — subquery-bearing forms like
    // DynamicPruningExpression — are conservatively DROPPED here (every
    // file kept); the engine still applies them at scan/filter level.
    val bound = partitionFilters
      .filterNot(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
      .map(_.transform {
        case a: Attribute =>
          val i = partitionSchema.fieldIndex(a.name)
          BoundReference(i, partitionSchema.fields(i).dataType, nullable = true)
      })
    val b = bounds(dataFilters)
    val (tb, teq) = transformBounds(dataFilters)
    val dirColIdx = partitionSchema.fieldNames.zipWithIndex.toMap
    val kept = fileEntries.filter { case (rel, _, _) =>
      val partOk = partitionFilters.isEmpty || {
        val row = partRow(rel)
        bound.forall(_.eval(row) == true)
      }
      // data skipping: a file survives unless its recorded [min,max] for
      // some bounded column cannot intersect that column's predicate
      // range — every stats column is consulted (multi-column skipping)
      val fStats = stats.getOrElse(rel, Map.empty)
      val statsOk = b.forall { case (c, (lo, hi)) =>
        fStats.get(c) match {
          case Some((mn, mx)) => mx >= lo && mn <= hi
          case None => true
        }
      }
      // hidden partitioning: a predicate on the SOURCE column constrains
      // the file's derived layout value — pruning Spark can't see, since
      // nothing in the schema relates the two columns
      val transformOk = transforms.forall { t =>
        dirColIdx.get(t.dirCol).forall { i =>
          val dirValue = partValues(rel)(i)
          // every equality conjunct must be satisfiable through at least
          // one of its allowed values (EqualTo → one, In → several)
          val eqOk = teq.get(t.source).forall(_.forall(set =>
            set.exists(t.mayContainEq(dirValue, _))))
          val rangeOk = tb.get(t.source).forall { case (lo, hi) =>
            t.mayContain(dirValue, lo, hi)
          }
          eqOk && rangeOk
        }
      }
      partOk && statsOk && transformOk
    }
    kept.groupBy { case (rel, _, _) => partValues(rel) }
      .map { case (_, group) =>
        PartitionDirectory(
          if (partitionSchema.isEmpty) InternalRow.empty
          else partRow(group.head._1),
          group.map { case (rel, len, mod) =>
            FileStatusWithMetadata(new FileStatus(
              len, false, 1, 128L * 1024 * 1024, mod, new Path(dir, rel)))
          })
      }.toSeq
  }

  override def inputFiles: Array[String] =
    fileEntries.map { case (rel, _, _) => s"$dir/$rel" }.toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = fileEntries.map(_._2).sum
}

object TableLogFileIndex {

  /** The index over `fileEntries` (paths relative to `dir`), partitioned
    * as Spark's basePath inference reads the hive-style directories.
    */
  def apply(spark: SparkSession, dir: String,
            fileEntries: Seq[(String, Long, Long)],
            stats: Map[String, Map[String, (Long, Long)]] = Map.empty,
            transforms: Seq[PartTransform] = Seq.empty): TableLogFileIndex = {
    val (schema, rows) = partitionsOf(spark, dir, fileEntries.map(_._1))
    new TableLogFileIndex(spark, dir, fileEntries, stats, schema, rows,
      transforms)
  }

  /** Hive partitioning of manifest-relative paths: the partition schema
    * and each directory's typed values, from Spark's OWN inference
    * (`PartitioningUtils.parsePartitions` — the int, long, decimal,
    * double, date, timestamp, string ladder, unescaping and
    * `__HIVE_DEFAULT_PARTITION__` included), so a column types the same
    * here as under `spark.read.option("basePath", dir)`. Runs on the
    * manifest's directory names alone; nothing is listed.
    */
  private def partitionsOf(spark: SparkSession, dir: String, rels: Seq[String])
      : (StructType, Map[String, InternalRow]) = {
    val dirs = rels.map(r => r.take(r.lastIndexOf('/') + 1)).distinct
    if (dirs.forall(_.isEmpty)) (new StructType(), Map("" -> InternalRow.empty))
    else {
      val root = new Path(dir)
      val qRoot = root.getFileSystem(spark.sessionState.newHadoopConf())
        .makeQualified(root)
      val leaf = dirs.map(d => d -> new Path(qRoot, d.stripSuffix("/")))
      val spec = new ManifestDirs(spark, qRoot, leaf.map(_._2)).partitionSpec()
      val byPath = spec.partitions.map(p => p.path -> p.values).toMap
      (spec.partitionColumns, leaf.map { case (d, p) => d -> byPath(p) }.toMap)
    }
  }

  /** Exposes [[PartitioningAwareFileIndex]]'s partition inference over a
    * given set of leaf directories (one placeholder data file each)
    * instead of a listing.
    */
  private class ManifestDirs(spark: SparkSession, root: Path, leafDirs: Seq[Path])
      extends PartitioningAwareFileIndex(spark, Map.empty, None) {
    override def rootPaths: Seq[Path] = Seq(root)
    override def refresh(): Unit = ()
    override def partitionSpec(): PartitionSpec = inferPartitioning()
    override protected def leafFiles
        : scala.collection.mutable.LinkedHashMap[Path, FileStatus] =
      scala.collection.mutable.LinkedHashMap.empty
    override protected def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
      leafDirs.map(d => d -> Array(new FileStatus(0L, false, 1, 0L, 0L,
        new Path(d, "part")))).toMap
  }

  /** Assemble the DataFrame over a [[TableLogFileIndex]]: a stock
    * parquet [[HadoopFsRelation]] whose only custom part is WHICH files
    * exist — wrapped in a [[LogicalRelation]] the way every table format
    * integration does it.
    */
  def relation(spark: SparkSession, index: TableLogFileIndex,
               dataSchema: StructType): DataFrame = {
    val rel = HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map("mergeSchema" -> "true"))(spark)
    GraftShim.ofRows(spark, LogicalRelation(rel))
  }
}
