package graft.catalog

import graft.meta.{DataFile, RelPaths}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.execution.datasources.{FilePartition, GraftManifestIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The batch scan for every read the plain parquet delegate can't
  * serve alone: live merge-on-read deletes, `add_files` imports (no
  * parquet field ids; they resolve through the table's name mapping),
  * and the `_file`/`_pos` metadata columns — user queries and the
  * DELTA row-id scan of merge-on-read UPDATE/MERGE alike.
  *
  * Deletes are applied INSIDE the scan task, file by file, the way the
  * Iceberg spec's readers do (https://iceberg.apache.org/spec/#scan-planning):
  * the pruned files are planned through the parquet delegate
  * ([[GraftManifestIndex.delegateScan]], predicates pushed into parquet
  * on the field-id side), one delegate per resolution mode; each planned
  * file carries its warehouse-relative path and the delete files that
  * can apply to it (position deletes by `file_path` bounds, equality
  * deletes by [[Mor.equalityDeleteMayApply]]). The reader takes each
  * row's position from parquet's row-index column (filled by Spark's
  * reader from the row-group offsets, so it stays exact when pushdown
  * skips row groups or pages), drops positions in that file's sorted
  * position set, then rows whose key tuple — null-safe, as `<=>` —
  * is in a newer equality delete's key set. `_file` is
  * `DataFile.path` and `_pos` the row index. The read plan has no
  * join, and planning runs no Spark job; parsed delete files are
  * cached per JVM ([[MergeOnReadScan.parsed]]).
  *
  * A scan with no delete and no metadata column (imports only) plans
  * the delegates' own partitions behind [[StreamDispatchReaderFactory]]
  * and stays columnar; otherwise every partition reads rows. Every
  * predicate is still reported residual by the builder, so Spark
  * re-filters above.
  */
class MergeOnReadScan(table: GraftTable, options: CaseInsensitiveStringMap,
    required: StructType, pushedExprs: Seq[Expression],
    files: Seq[DataFile], deletes: Seq[DataFile])
  extends Scan with Batch with SupportsReportStatistics {

  import MergeOnReadScan._

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def description(): String =
    s"GraftMergeOnReadScan ${table.name()} [files=${files.size}, deletes=${deletes.size}]"

  private lazy val planned: (Array[InputPartition], PartitionReaderFactory, Int) = plan()

  override def planInputPartitions(): Array[InputPartition] = planned._1

  override def createReaderFactory(): PartitionReaderFactory = planned._2

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new DeleteFilesAppliedMetric, new PositionDeletedRowsMetric,
      new EqualityDeletedRowsMetric)

  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    Array(taskMetric(DeleteFilesApplied, planned._3))

  // exact committed bytes of the pruned file set: a small MOR table on
  // the build side of a join must stay broadcastable
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(files.map(_.bytes).sum max 1L)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  /** `readStream` on a table whose current snapshot routes the batch
    * scan here (live MOR deletes or name-mapped imports) still gets the
    * snapshot-chain tail — the stream enforces its own append-only rules
    * per micro-batch window (genesis MOR deletes refuse loudly; imported
    * files resolve through the name mapping). The metadata columns are
    * the exception: the parquet micro-batch reader has no
    * metadata-column surface, so that projection refuses with an
    * actionable message instead of Spark's generic unsupported-stream
    * error. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    val metaCols = required.fieldNames.filter(GraftTable.MetaColNames)
    if (metaCols.nonEmpty)
      throw new UnsupportedOperationException(
        s"streaming read of ${table.name()} selects metadata column(s) " +
          s"${metaCols.mkString(", ")} — " +
          "metadata columns are batch-only; drop them from the streaming " +
          "projection (read them with a batch query instead)")
    new GraftMicroBatchStream(table, options, required, pushedExprs)
  }

  private def plan(): (Array[InputPartition], PartitionReaderFactory, Int) = {
    val spark = SparkSession.active
    val hconf = spark.sparkContext.hadoopConfiguration
    val tableSchema = table.schema()
    val mapping = table.meta.nameMapping
    def abs(f: DataFile) = RelPaths.absolutize(table.ops.warehouse, f.path)
    def keyOf(f: DataFile) = SparkPath.fromPath(GraftManifestIndex.qualify(hconf, abs(f)))

    val (eqDeletes, posDeletes) = deletes.partition(Mor.isEquality)
    val eqGroups = Mor.equalityGroups(tableSchema, eqDeletes)

    // the delegate reads the required data columns, the equality key
    // columns, and the row index when a position is needed. A data
    // column keeps `required`'s type (Spark may have pruned a struct
    // and reads its fields by ordinal there) and takes the table
    // field's metadata (its field id)
    val rowIndex = posDeletes.nonEmpty || required.fieldNames.contains("_pos")
    val dataFields = required.fields.filterNot(f => GraftTable.MetaColNames(f.name))
      .map(f => tableSchema.fields.find(_.name == f.name).fold(f)(t => f.copy(metadata = t.metadata)))
    val readSchema = StructType(
      (dataFields ++ eqGroups.flatMap(_._1)).distinctBy(_.name) ++
        (if (rowIndex) Seq(RowIndexField) else Nil))
    val ordinal = readSchema.fieldNames.zipWithIndex.toMap
    val dataSchema = if (rowIndex) tableSchema.add(RowIndexField) else tableSchema

    def delegate(fs: Seq[DataFile], schema: StructType, read: StructType,
        filters: Seq[Expression]): Scan = {
      val scan = GraftManifestIndex.delegateScan(spark, options, schema,
        fs.map(f => (abs(f), f.bytes)), filters, read)
      // the reader binds by ordinal: the delegate must read exactly `read`
      require(scan.readSchema().fieldNames.sameElements(read.fieldNames),
        s"parquet delegate read ${scan.readSchema().simpleString}, expected ${read.simpleString}")
      scan
    }
    // native files resolve by field id with predicates pushed; imports
    // resolve by their import names (positionally identical schema)
    def dataDelegate(fs: Seq[DataFile], mapped: Boolean): Option[Scan] =
      if (fs.isEmpty) None
      else if (!mapped) Some(delegate(fs, dataSchema, readSchema, pushedExprs))
      else Some(delegate(fs, Mor.importSchema(dataSchema, tableSchema, mapping),
        Mor.importSchema(readSchema, tableSchema, mapping), Nil))
    val (mappedFiles, idFiles) = files.partition(_.nameMapped.contains(true))
    val idScan = dataDelegate(idFiles, mapped = false)
    val mappedScan = dataDelegate(mappedFiles, mapped = true)

    // delete files: one delegate per schema plans their splits, and its
    // reader factory parses them inside the task
    def sources(ds: Seq[DataFile], schema: StructType): (Option[PartitionReaderFactory], Array[DeleteSource]) =
      if (ds.isEmpty) (None, Array.empty)
      else {
        val scan = delegate(ds, schema, schema, Nil).toBatch
        val splits = scan.planInputPartitions()
          .flatMap(_.asInstanceOf[FilePartition].files).groupBy(_.filePath)
        (Some(scan.createReaderFactory()), ds.map { d =>
          val key = keyOf(d)
          DeleteSource(key.urlEncoded, splits.getOrElse(key, throw new IllegalStateException(
            s"delete file ${d.path} is missing from the splits planned for it")))
        }.toArray)
      }
    val (posFactory, posSources) = sources(posDeletes, Mor.deleteSchema)
    val eqParsed = eqGroups.map { case (keys, group) =>
      val (factory, srcs) = sources(group, StructType(keys))
      EqualityGroup(factory.get, keys.map(_.dataType).toArray,
        keys.map(k => ordinal(k.name)).toArray) -> srcs
    }
    val eqSources = eqParsed.zipWithIndex.flatMap { case ((_, srcs), g) => srcs.map(g -> _) }
    val eqFiles = eqGroups.flatMap(_._2)

    val idFactory = idScan.map(_.toBatch.createReaderFactory())
    val mappedFactory = mappedScan.map(_.toBatch.createReaderFactory())
    def filePartitions(scan: Option[Scan]) =
      scan.toArray.flatMap(_.toBatch.planInputPartitions()).map(_.asInstanceOf[FilePartition])

    // no delete and no metadata column (imports only): the delegates'
    // own partitions, routed per resolution mode, columnar where parquet is
    if (deletes.isEmpty && !required.fieldNames.exists(GraftTable.MetaColNames)) {
      val parts = filePartitions(idScan).map(StreamTaggedPartition(_, mapped = false): InputPartition) ++
        filePartitions(mappedScan).map(StreamTaggedPartition(_, mapped = true))
      val (id, nm) = (idFactory.orElse(mappedFactory).get, mappedFactory.orElse(idFactory).get)
      return (parts, new StreamDispatchReaderFactory(id, nm), 0)
    }

    val byPath = files.map(f => keyOf(f) -> f).toMap
    val applied = new java.util.BitSet()
    def partitions(scan: Option[Scan], mapped: Boolean): Array[InputPartition] =
      filePartitions(scan).map { fp =>
        MergeOnReadPartition(fp, mapped, fp.files.map { pf =>
          val f = byPath(pf.filePath)
          val pos = posDeletes.indices.filter(i =>
            Mor.positionDeleteMayApply(posDeletes(i), f.path)).toArray
          val eq = eqFiles.indices.filter(i =>
            Mor.equalityDeleteMayApply(eqFiles(i), f)).toArray
          pos.foreach(applied.set)
          eq.foreach(i => applied.set(posDeletes.size + i))
          FileTask(f.path, pos, eq)
        })
      }
    val parts = partitions(idScan, mapped = false) ++ partitions(mappedScan, mapped = true)

    val fileOrdinal = readSchema.length
    val output = required.fields.toSeq.map { f =>
      f.name match {
        case "_file" => BoundReference(fileOrdinal, StringType, nullable = false)
        case "_pos" => BoundReference(ordinal(RowIndexField.name), LongType, nullable = false)
        case n => BoundReference(ordinal(n), readSchema(n).dataType, nullable = true)
      }
    }
    val factory = MergeOnReadReaderFactory(idFactory, mappedFactory,
      output, if (rowIndex) ordinal(RowIndexField.name) else -1,
      posFactory, posSources, eqParsed.map(_._1).toArray, eqSources.toArray)
    (parts, factory, applied.cardinality())
  }
}

object MergeOnReadScan {
  /** Spark's parquet reader fills a column of this name with each
    * row's ordinal in its file (nullable: to the schema clipper it is a
    * column the file lacks). */
  val RowIndexField: StructField =
    StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType, nullable = true)

  val DeleteFilesApplied = "deleteFilesApplied"
  val PositionDeletedRows = "positionDeletedRows"
  val EqualityDeletedRows = "equalityDeletedRows"

  def taskMetric(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }

  /** A parsed delete file: the positions it deletes per data file
    * (sorted), or its equality key tuples. */
  final class Parsed(val positions: java.util.Map[String, Array[Long]],
      val keys: java.util.Set[UnsafeRow], val size: Int)

  /** Parsed delete files per JVM, bounded by total positions + key
    * tuples. Delete files are immutable, so entries never go stale. */
  val parsed = new SideFileCache[Parsed](4000000L, _.size)

  /** Key tuples in a hashable form: float/double normalized (-0.0 and
    * NaN spellings), so byte equality of the projected UnsafeRows is
    * exactly `<=>` — the normalization Spark applies to join keys. */
  def keyProjection(types: Array[DataType], ordinals: Array[Int]): UnsafeProjection =
    UnsafeProjection.create(types.indices.map { i =>
      val ref = BoundReference(ordinals(i), types(i), nullable = true)
      types(i) match {
        case FloatType | DoubleType => NormalizeNaNAndZero(ref)
        case _ => ref
      }
    })
}

/** Planned splits of one delete file. */
case class DeleteSource(key: String,
    splits: Array[org.apache.spark.sql.execution.datasources.PartitionedFile])

/** Equality deletes sharing one key-column set: the factory reading
  * their files, the key types, and the key ordinals in the data row. */
case class EqualityGroup(factory: PartitionReaderFactory, types: Array[DataType],
    dataOrdinals: Array[Int])

/** One planned data file: its warehouse-relative path (`_file`) and
  * the indices of the position / equality delete files that can apply
  * to it. */
case class FileTask(path: String, positionDeletes: Array[Int], equalityDeletes: Array[Int])

case class MergeOnReadPartition(inner: FilePartition, mapped: Boolean, tasks: Array[FileTask])
  extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Row reader factory of a scan with deletes or metadata columns:
  * every partition reads rows, deletes applied. */
case class MergeOnReadReaderFactory(
    idful: Option[PartitionReaderFactory], nameMapped: Option[PartitionReaderFactory],
    output: Seq[Expression], rowIndexOrdinal: Int,
    positionFactory: Option[PartitionReaderFactory], positionSources: Array[DeleteSource],
    equalityGroups: Array[EqualityGroup], equalitySources: Array[(Int, DeleteSource)])
  extends PartitionReaderFactory {

  import MergeOnReadScan._

  private[catalog] def dataFactory(p: MergeOnReadPartition): PartitionReaderFactory =
    (if (p.mapped) nameMapped else idful).get

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new MergeOnReadPartitionReader(this, p.asInstanceOf[MergeOnReadPartition])

  private def readAll(factory: PartitionReaderFactory, src: DeleteSource)(each: InternalRow => Unit): Unit =
    src.splits.foreach { s =>
      val r = factory.createReader(FilePartition(0, Array(s)))
      try while (r.next()) each(r.get()) finally r.close()
    }

  /** The sorted positions the file's position deletes name, or null. */
  def positions(t: FileTask): Array[Long] = {
    val hits = t.positionDeletes.flatMap { i =>
      val src = positionSources(i)
      Option(parsed.get(src.key) {
        val acc = new java.util.HashMap[String, scala.collection.mutable.ArrayBuilder.ofLong]()
        var n = 0
        readAll(positionFactory.get, src) { r =>
          acc.computeIfAbsent(r.getUTF8String(0).toString,
            _ => new scala.collection.mutable.ArrayBuilder.ofLong) += r.getLong(1)
          n += 1
        }
        val out = new java.util.HashMap[String, Array[Long]]()
        acc.forEach((k, b) => out.put(k, b.result().sorted))
        new Parsed(out, null, n)
      }.positions.get(t.path))
    }
    if (hits.isEmpty) null
    else if (hits.length == 1) hits(0)
    else hits.flatten.sorted
  }

  /** The key set of equality delete `i` (types fixed by its group). */
  def keys(i: Int): java.util.Set[UnsafeRow] = {
    val (g, src) = equalitySources(i)
    val group = equalityGroups(g)
    parsed.get(src.key + group.types.map(_.catalogString).mkString("#", ",", "")) {
      val proj = keyProjection(group.types, group.types.indices.toArray)
      val set = new java.util.HashSet[UnsafeRow]()
      readAll(group.factory, src)(r => set.add(proj(r).copy()))
      new Parsed(null, set, set.size)
    }.keys
  }
}

/** Reads a partition's files one at a time through the data delegate's
  * reader and drops the rows the file's deletes kill. */
class MergeOnReadPartitionReader(f: MergeOnReadReaderFactory, p: MergeOnReadPartition)
  extends PartitionReader[InternalRow] {

  import MergeOnReadScan._

  private val out = UnsafeProjection.create(f.output)
  private val dataKeys = f.equalityGroups.map(g => keyProjection(g.types, g.dataOrdinals))
  private val fileRow = new GenericInternalRow(1)
  private val joined = new JoinedRow()
  private var i = -1
  private var cur: PartitionReader[InternalRow] = null
  private var positions: Array[Long] = null
  // per equality group with a delete on the current file: its key sets
  private var equality: Array[(UnsafeProjection, Array[java.util.Set[UnsafeRow]])] = Array.empty
  private var row: InternalRow = null
  private var byPosition = 0L
  private var byEquality = 0L

  private def open(): Boolean = {
    if (cur != null) { cur.close(); cur = null }
    i += 1
    if (i >= p.tasks.length) return false
    val t = p.tasks(i)
    positions = f.positions(t)
    equality = t.equalityDeletes.groupBy(j => f.equalitySources(j)._1).toArray.map {
      case (g, js) => dataKeys(g) -> js.map(f.keys)
    }
    fileRow.update(0, UTF8String.fromString(t.path))
    cur = f.dataFactory(p).createReader(FilePartition(p.inner.index, Array(p.inner.files(i))))
    true
  }

  private def deleted(r: InternalRow): Boolean =
    if (positions != null &&
        java.util.Arrays.binarySearch(positions, r.getLong(f.rowIndexOrdinal)) >= 0) {
      byPosition += 1; true
    } else if (equality.exists { case (proj, sets) =>
        val k = proj(r); sets.exists(_.contains(k)) }) {
      byEquality += 1; true
    } else false

  override def next(): Boolean = {
    while (cur != null || open()) {
      if (!cur.next()) { if (!open()) return false }
      else {
        val r = cur.get()
        if (!deleted(r)) { row = out(joined(r, fileRow)); return true }
      }
    }
    false
  }

  override def get(): InternalRow = row

  override def close(): Unit = if (cur != null) { cur.close(); cur = null }

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    taskMetric(PositionDeletedRows, byPosition), taskMetric(EqualityDeletedRows, byEquality))
}

class DeleteFilesAppliedMetric extends CustomSumMetric {
  override def name(): String = MergeOnReadScan.DeleteFilesApplied
  override def description(): String = "delete files applied"
}

class PositionDeletedRowsMetric extends CustomSumMetric {
  override def name(): String = MergeOnReadScan.PositionDeletedRows
  override def description(): String = "rows removed by position deletes"
}

class EqualityDeletedRowsMetric extends CustomSumMetric {
  override def name(): String = MergeOnReadScan.EqualityDeletedRows
  override def description(): String = "rows removed by equality deletes"
}
