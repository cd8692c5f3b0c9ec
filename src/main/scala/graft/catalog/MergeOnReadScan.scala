package graft.catalog

import graft.meta.{DataFile, RelPaths}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.execution.datasources.{FilePartition, GraftFilterShim, GraftManifestIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{EqualTo, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The table's batch scan: every DSv2 read of a graft table — plain
  * reads, live merge-on-read deletes, `add_files` imports (no parquet
  * field ids; they resolve through the table's name mapping), the
  * `_file`/`_pos` metadata columns (user queries and the DELTA row-id
  * scan of merge-on-read UPDATE/MERGE), [[Mor.liveRows]]' pinned reads,
  * the copy-on-write rewrite scan and the change reads'
  * [[Mor.removedRows]] — except the opt-in storage-partitioned
  * [[SpjScan]].
  *
  * Deletes are applied INSIDE the scan task, file by file, the way the
  * Iceberg spec's readers do (https://iceberg.apache.org/spec/#scan-planning):
  * the files are planned through the parquet delegate
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
  * A scan with no delete and no metadata column stays columnar: a
  * plain read plans the parquet delegate's own partitions and reader,
  * a read with imports routes the delegates' partitions per resolution
  * mode ([[StreamDispatchReaderFactory]]). Otherwise every partition
  * reads rows. Every predicate is still reported residual by the
  * builder, so Spark re-filters above.
  *
  * REMOVED ROWS. Given `added` deletes, the scan instead returns the
  * rows `deletes` keep and some delete of `added` kills, each once, by
  * the same delete test (Iceberg's changelog scan has the same per-file
  * deleted-rows task).
  *
  * RUNTIME FILTERS ([[SupportsRuntimeV2Filtering]]) narrow the file
  * list before partitions are planned, in one of two modes:
  *  - a plain read (`rewrite` empty) offers every scanned data column
  *    whose bounds compare exactly ([[FilePruning.exactBoundType]]):
  *    Spark's dynamic-pruning rule feeds back the join keys of a
  *    broadcast build side, and files whose min/max bounds prove no
  *    match are skipped. Conservative skipping is always safe here —
  *    kept files' rows still flow through the join — so a predicate
  *    that does not translate is ignored;
  *  - a copy-on-write rewrite offers `_file` or its value-uniform
  *    identity columns ([[RewriteGroups]]). The same predicate also
  *    decides which rows the rewrite keeps, so pruning must be exact:
  *    `_file` by path identity, identity columns by bounds that every
  *    file proves single-valued. A predicate it cannot apply exactly
  *    throws, and pruned files move to the operation's carryover.
  * The delete files are re-derived for the narrowed list
  * ([[Mor.relevantDeletes]]) and partitions are planned once per file
  * set, so a filter that arrives between plannings is honoured. The
  * reader factory stays the one built for the scan's own lists: Spark
  * takes it when it plans the scan, before runtime filters arrive.
  */
class MergeOnReadScan(table: GraftTable, options: CaseInsensitiveStringMap,
    required: StructType, pushedExprs: Seq[Expression],
    files: Seq[DataFile], deletes: Seq[DataFile],
    rewrite: Option[RewriteGroups] = None, added: Seq[DataFile] = Nil)
  extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeV2Filtering {

  import MergeOnReadScan._

  // (files, the deletes relevant to them) after runtime filtering
  @volatile private var narrowed: (Seq[DataFile], Seq[DataFile]) = (files, deletes)

  // partitions and applied-delete count, keyed on the file list they
  // were planned for: a runtime filter swaps `narrowed` and replans
  @volatile private var planMemo: (Seq[DataFile], Array[InputPartition], Int) = null

  /** Files the scan plans after runtime filtering. */
  def plannedFileCount: Int = narrowed._1.size

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def description(): String =
    s"GraftMergeOnReadScan ${table.name()} [files=${narrowed._1.size}, deletes=${narrowed._2.size}" +
      (if (added.isEmpty) "]" else s", removed by=${added.size}]")

  override def planInputPartitions(): Array[InputPartition] = planned._2

  override def createReaderFactory(): PartitionReaderFactory = layout.factory

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new DeleteFilesAppliedMetric, new PositionDeletedRowsMetric,
      new EqualityDeletedRowsMetric)

  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    Array(taskMetric(DeleteFilesApplied, planned._3))

  override def filterAttributes(): Array[NamedReference] =
    rewrite.map(_.columns).getOrElse(required.fields.toSeq.collect {
      case f if FilePruning.exactBoundType(f.dataType) && !GraftTable.MetaColNames(f.name) => f.name
    }).map(Expressions.column(_): NamedReference).toArray

  override def filter(predicates: Array[Predicate]): Unit = {
    val v1 = predicates.flatMap(GraftFilterShim.toV1)
    def untranslatable() = throw new IllegalStateException(
      s"untranslatable runtime group filter ${predicates.mkString(",")}; " +
        "refusing to run a rewrite that could drop rows")
    if (rewrite.isDefined && v1.length != predicates.length) untranslatable()
    if (v1.isEmpty) return
    val keeps = v1.toSeq.map[DataFile => Boolean] {
      case In("_file", vs) => val paths = vs.map(String.valueOf).toSet; f => paths(f.path)
      case EqualTo("_file", v) => val path = String.valueOf(v); f => f.path == path
      case p if rewrite.isDefined && p.references.contains("_file") => untranslatable()
      // a rewrite's columns are value-uniform in every file (see
      // RowLevelScanBuilder.runtimeFilterCols): the bound check is exact
      case p => f => FilePruning.keepFile(f, p)
    }
    val (kept, pruned) = files.partition(f => keeps.forall(_(f)))
    narrowed = (kept, Mor.relevantDeletes(deletes, kept))
    rewrite.foreach(g => g.op.carryover = g.untouched ++ pruned)
  }

  /** Size is the narrowed files' committed bytes. With no delete left
    * to apply, the row count is EXACT from committed per-file stats,
    * and when a `compute_stats` pass has stamped TableStats for the
    * snapshot being scanned, per-column NDV/null counts ride along —
    * the inputs Spark's CBO needs for join-order and build-side
    * decisions. Stale stats (stamped for a different snapshot) are
    * withheld: a wrong NDV misleads the optimizer worse than no NDV.
    * So are stats for a scan pruned below the snapshot's full file
    * set: snapshot-wide NDV/null counts beside a smaller numRows make
    * an inconsistent row (nullCount > numRows). Under deletes, and for
    * removed rows, the row count is unknown until the scan runs. */
  override def estimateStatistics(): Statistics = {
    val (fs, ds) = narrowed
    val cols = new java.util.HashMap[NamedReference, ColumnStatistics]()
    val exact = ds.isEmpty && added.isEmpty
    if (exact) for {
      ts <- table.meta.statistics
      snap <- table.readSnapshot
      // dataFileCount is the SNAPSHOT's full set (chunk keys, no chunk
      // load): planning-time pushdown can already have shrunk `files`
      if ts.snapshotId == snap.snapshotId && fs.length == snap.dataFileCount
      f <- required.fields
      cs <- ts.columns.get(f.name)
    } cols.put(Expressions.column(f.name), new ColumnStatistics {
      override def distinctCount(): java.util.OptionalLong = java.util.OptionalLong.of(cs.ndv)
      override def nullCount(): java.util.OptionalLong = java.util.OptionalLong.of(cs.nullCount)
    })
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(fs.map(_.bytes).sum max 1L)
      override def numRows(): java.util.OptionalLong =
        if (exact) java.util.OptionalLong.of(fs.map(_.records).sum)
        else java.util.OptionalLong.empty()
      override def columnStats(): java.util.Map[NamedReference, ColumnStatistics] = cols
    }
  }

  /** `readStream` on a table gets the snapshot-chain tail, which
    * enforces its own append-only rules per micro-batch window and
    * reads each batch through a scan of this class over the batch's
    * files (a genesis state with its live deletes, imports through the
    * name mapping). The metadata columns stay batch-only: that
    * projection refuses with an actionable message instead of Spark's
    * generic unsupported-stream error. */
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

  private def planned: (Seq[DataFile], Array[InputPartition], Int) = {
    val fs = narrowed._1
    val memo = planMemo
    if (memo != null && (memo._1 eq fs)) memo
    else {
      val built = layout.plan(fs)
      planMemo = built
      built
    }
  }

  private lazy val layout = new Layout

  /** What every planning of this scan shares, fixed by the scan's own
    * file and delete lists: the read schema, the delete files' splits
    * and ordinals, the row/columnar choice and the reader factory. A
    * narrowed file list plans through the same delete ordinals. */
  private class Layout {
    private val spark = SparkSession.active
    private val hconf = spark.sparkContext.hadoopConfiguration
    private val tableSchema = table.schema()
    private val mapping = table.meta.nameMapping
    private def abs(f: DataFile) = RelPaths.absolutize(table.ops.warehouse, f.path)
    private def keyOf(f: DataFile) = SparkPath.fromPath(GraftManifestIndex.qualify(hconf, abs(f)))
    private def isMapped(f: DataFile) = f.nameMapped.contains(true)

    private val (eqDeletes, posDeletes) = (deletes ++ added).partition(Mor.isEquality)
    private val addedPaths = added.map(_.path).toSet
    private val eqGroups = Mor.equalityGroups(tableSchema, eqDeletes)
    private val eqFiles = eqGroups.flatMap(_._2)

    // the delegate reads the required data columns, the equality key
    // columns, and the row index when a position is needed. A data
    // column keeps `required`'s type (Spark may have pruned a struct
    // and reads its fields by ordinal there) and takes the table
    // field's metadata (its field id)
    private val rowIndex = posDeletes.nonEmpty || required.fieldNames.contains("_pos")
    private val dataFields = required.fields.filterNot(f => GraftTable.MetaColNames(f.name))
      .map(f => tableSchema.fields.find(_.name == f.name).fold(f)(t => f.copy(metadata = t.metadata)))
    private val readSchema = StructType(
      (dataFields ++ eqGroups.flatMap(_._1)).distinctBy(_.name) ++
        (if (rowIndex) Seq(RowIndexField) else Nil))
    private val ordinal = readSchema.fieldNames.zipWithIndex.toMap
    private val dataSchema = if (rowIndex) tableSchema.add(RowIndexField) else tableSchema

    private def delegate(fs: Seq[DataFile], schema: StructType, read: StructType,
        filters: Seq[Expression]): Scan = {
      val scan = GraftManifestIndex.delegateScan(spark, options, schema,
        fs.map(f => (abs(f), f.bytes)), filters, read)
      // the reader binds by ordinal: the delegate must read exactly `read`
      require(scan.readSchema().fieldNames.sameElements(read.fieldNames),
        s"parquet delegate read ${scan.readSchema().simpleString}, expected ${read.simpleString}")
      scan
    }

    /** The (field-id, name-mapped) data delegates over `fs`: native
      * files resolve by field id with predicates pushed, imports by
      * their import names (positionally identical schema). The id
      * side is built over no files too, when there is no other. */
    private def dataScans(fs: Seq[DataFile]): (Option[Scan], Option[Scan]) = {
      val (mappedFiles, idFiles) = fs.partition(isMapped)
      (Option.when(idFiles.nonEmpty || mappedFiles.isEmpty)(
          delegate(idFiles, dataSchema, readSchema, pushedExprs)),
        Option.when(mappedFiles.nonEmpty)(
          delegate(mappedFiles, Mor.importSchema(dataSchema, tableSchema, mapping),
            Mor.importSchema(readSchema, tableSchema, mapping), Nil)))
    }
    private val scans = dataScans(files)
    private val (idFactory, mappedFactory) =
      (scans._1.map(_.toBatch.createReaderFactory()), scans._2.map(_.toBatch.createReaderFactory()))

    // delete files: one delegate per schema plans their splits, and its
    // reader factory parses them inside the task
    private def sources(ds: Seq[DataFile], schema: StructType): (Option[PartitionReaderFactory], Array[DeleteSource]) =
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

    // no delete and no metadata column: columnar, through the
    // delegate's own factory when every file resolves by field id
    private val columnar = deletes.isEmpty && added.isEmpty &&
      !required.fieldNames.exists(GraftTable.MetaColNames)
    private val routed = files.exists(isMapped)

    val factory: PartitionReaderFactory =
      if (columnar && !routed) idFactory.get
      else if (columnar)
        new StreamDispatchReaderFactory(idFactory.orElse(mappedFactory).get,
          mappedFactory.orElse(idFactory).get)
      else {
        val (posFactory, posSources) = sources(posDeletes, Mor.deleteSchema)
        val eqParsed = eqGroups.map { case (keys, group) =>
          val (groupFactory, srcs) = sources(group, StructType(keys))
          EqualityGroup(groupFactory.get, keys.map(_.dataType).toArray,
            keys.map(k => ordinal(k.name)).toArray) -> srcs
        }
        val eqSources = eqParsed.zipWithIndex.flatMap { case ((_, srcs), g) => srcs.map(g -> _) }
        val fileOrdinal = readSchema.length
        val output = required.fields.toSeq.map { f =>
          f.name match {
            case "_file" => BoundReference(fileOrdinal, StringType, nullable = false)
            case "_pos" => BoundReference(ordinal(RowIndexField.name), LongType, nullable = false)
            case n => BoundReference(ordinal(n), readSchema(n).dataType, nullable = true)
          }
        }
        MergeOnReadReaderFactory(idFactory, mappedFactory,
          output, if (rowIndex) ordinal(RowIndexField.name) else -1,
          posFactory, posSources, eqParsed.map(_._1).toArray, eqSources.toArray,
          removedRows = added.nonEmpty)
      }

    /** Partitions over `fs` (the scan's files or a runtime-narrowed
      * subset) and the number of delete files they apply. */
    def plan(fs: Seq[DataFile]): (Seq[DataFile], Array[InputPartition], Int) = {
      if (fs.isEmpty) return (fs, Array.empty, 0)
      val (idScan, mappedScan) = if (fs eq files) scans else dataScans(fs)
      def filePartitions(scan: Option[Scan]) =
        scan.toArray.flatMap(_.toBatch.planInputPartitions()).map(_.asInstanceOf[FilePartition])
      if (columnar && !routed)
        return (fs, filePartitions(idScan).map(p => p: InputPartition), 0)
      if (columnar)
        return (fs, filePartitions(idScan).map(StreamTaggedPartition(_, mapped = false): InputPartition) ++
          filePartitions(mappedScan).map(StreamTaggedPartition(_, mapped = true)), 0)

      val byPath = fs.map(f => keyOf(f) -> f).toMap
      val applied = new java.util.BitSet()
      // (scan's, added) indices of the deletes in `ds` that may apply to `f`
      def applying(ds: Seq[DataFile], f: DataFile) =
        ds.indices.filter(i => Mor.mayApply(ds(i), f)).toArray.partition(i => !addedPaths(ds(i).path))
      def partitions(scan: Option[Scan], mapped: Boolean): Array[InputPartition] =
        filePartitions(scan).map { fp =>
          MergeOnReadPartition(fp, mapped, fp.files.map { pf =>
            val f = byPath(pf.filePath)
            val (pos, addedPos) = applying(posDeletes, f)
            val (eq, addedEq) = applying(eqFiles, f)
            (pos ++ addedPos).foreach(applied.set)
            (eq ++ addedEq).foreach(i => applied.set(posDeletes.size + i))
            FileTask(f.path, pos, eq, addedPos, addedEq)
          })
        }
      (fs, partitions(idScan, mapped = false) ++ partitions(mappedScan, mapped = true),
        applied.cardinality())
    }
  }
}

/** A copy-on-write rewrite's runtime group filtering: the operation
  * whose carryover receives the files a runtime filter prunes, the
  * files already carried over at planning, and the filter columns
  * (`_file`, or identity columns every affected file holds one value
  * of). */
case class RewriteGroups(op: GraftRowLevelOperation, untouched: Seq[DataFile], columns: Seq[String])

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
  * to it — in a removed-rows read, the added deletes apart. */
case class FileTask(path: String, positionDeletes: Array[Int], equalityDeletes: Array[Int],
    addedPositionDeletes: Array[Int], addedEqualityDeletes: Array[Int])

case class MergeOnReadPartition(inner: FilePartition, mapped: Boolean, tasks: Array[FileTask])
  extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Row reader factory of a scan with deletes, metadata columns or
  * removed rows: every partition reads rows, deletes applied. */
case class MergeOnReadReaderFactory(
    idful: Option[PartitionReaderFactory], nameMapped: Option[PartitionReaderFactory],
    output: Seq[Expression], rowIndexOrdinal: Int,
    positionFactory: Option[PartitionReaderFactory], positionSources: Array[DeleteSource],
    equalityGroups: Array[EqualityGroup], equalitySources: Array[(Int, DeleteSource)],
    removedRows: Boolean)
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

  /** The sorted positions that position deletes `is` name in the data
    * file at `path`, or null. */
  def positions(path: String, is: Array[Int]): Array[Long] = {
    val hits = is.flatMap { i =>
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
      }.positions.get(path))
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
  * reader and drops the rows the file's deletes kill — or, in a
  * removed-rows read, returns the rows they keep and an added delete
  * kills, skipping unopened a file no added delete names. */
class MergeOnReadPartitionReader(f: MergeOnReadReaderFactory, p: MergeOnReadPartition)
  extends PartitionReader[InternalRow] {

  import MergeOnReadScan._

  private type KeySets = Array[(UnsafeProjection, Array[java.util.Set[UnsafeRow]])]

  private val out = UnsafeProjection.create(f.output)
  private val dataKeys = f.equalityGroups.map(g => keyProjection(g.types, g.dataOrdinals))
  private val fileRow = new GenericInternalRow(1)
  private val joined = new JoinedRow()
  private var i = -1
  private var cur: PartitionReader[InternalRow] = null
  // the current file's sorted positions (or null) and, per equality
  // group with a delete on it, its key sets; the same for added deletes
  private var positions, addedPositions: Array[Long] = null
  private var equality, addedEquality: KeySets = Array.empty
  private var row: InternalRow = null
  private var byPosition = 0L
  private var byEquality = 0L

  private def keySets(js: Array[Int]): KeySets =
    js.groupBy(j => f.equalitySources(j)._1).toArray.map { case (g, g0) => dataKeys(g) -> g0.map(f.keys) }

  /** Loads file `t`'s deletes; false when the file need not be read. */
  private def start(t: FileTask): Boolean = {
    addedPositions = f.positions(t.path, t.addedPositionDeletes)
    addedEquality = keySets(t.addedEqualityDeletes)
    if (f.removedRows && addedPositions == null && addedEquality.isEmpty) return false
    positions = f.positions(t.path, t.positionDeletes)
    equality = keySets(t.equalityDeletes)
    true
  }

  private def open(): Boolean = {
    if (cur != null) { cur.close(); cur = null }
    i += 1
    while (i < p.tasks.length && !start(p.tasks(i))) i += 1
    if (i >= p.tasks.length) return false
    fileRow.update(0, UTF8String.fromString(p.tasks(i).path))
    cur = f.dataFactory(p).createReader(FilePartition(p.inner.index, Array(p.inner.files(i))))
    true
  }

  private def named(ps: Array[Long], r: InternalRow): Boolean =
    ps != null && java.util.Arrays.binarySearch(ps, r.getLong(f.rowIndexOrdinal)) >= 0

  private def keyed(eq: KeySets, r: InternalRow): Boolean =
    eq.exists { case (proj, sets) => val k = proj(r); sets.exists(_.contains(k)) }

  private def deleted(r: InternalRow): Boolean =
    if (named(positions, r)) { byPosition += 1; true }
    else if (keyed(equality, r)) { byEquality += 1; true }
    else false

  private val keep: InternalRow => Boolean =
    if (f.removedRows) r => !deleted(r) && (named(addedPositions, r) || keyed(addedEquality, r))
    else r => !deleted(r)

  override def next(): Boolean = {
    while (cur != null || open()) {
      if (!cur.next()) { if (!open()) return false }
      else {
        val r = cur.get()
        if (keep(r)) { row = out(joined(r, fileRow)); return true }
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
