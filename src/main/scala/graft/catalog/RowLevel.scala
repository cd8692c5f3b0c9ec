package graft.catalog

import graft.meta.{DataFile, RelPaths, TableMeta}
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.GraftFilterShim
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based (copy-on-write) UPDATE / MERGE INTO / DELETE support —
  * the Spark row-level-operation API over our snapshot format.
  *
  * Contract: the operation's scan determines the replaced "groups".
  * Our scan prunes the file list with the pushed predicates (min/max
  * bounds) but reports every predicate as residual and pushes NOTHING
  * into parquet — Spark must see every row of the affected files to
  * write the unmatched ones back. Files the predicate provably cannot
  * touch are carried over into the replacement commit untouched, so a
  * MERGE over one partition never rewrites the other 99 (the property
  * that keeps COW affordable at 100 TB).
  */
class GraftRowLevelOperation(table: GraftTable, info: RowLevelOperationInfo)
  extends RowLevelOperation {

  @volatile private[catalog] var carryover: Seq[DataFile] = Nil

  /** `_file`-keyed runtime group filtering applies when the partition-
    * column variant cannot (no identity partition columns to filter
    * on). The rewrite scan then emits `_file` per row and the dynamic
    * filter prunes by exact file identity — which gives a MERGE on an
    * UNPARTITIONED (or days/bucket) table the same
    * only-rewrite-matched-files economics the partitioned case gets,
    * with or without live deletes and imports.
    */
  private[catalog] val useFileGroups: Boolean = {
    val spec = table.meta.spec.fields
    val hasIdentity = spec.exists(_.transform == "identity")
    val snap = table.readSnapshot
    // worth paying the row-based readers `_file` needs only when there
    // are enough files for runtime pruning to skip some — a 1-3 file
    // table rewrites cheaper through the vectorized path
    val enoughFiles = snap.map(_.dataFileCount).getOrElse(0) >= 4
    !hasIdentity && enoughFiles
  }

  override def command(): RowLevelOperation.Command = info.command()

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (useFileGroups)
      Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"))
    else Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RowLevelScanBuilder(table, options, this)

  override def newWriteBuilder(writeInfo: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new GraftBatchWrite(table,
        command().toString.toLowerCase, () => carryover, writeInfo.schema())
    }
}

class RowLevelScanBuilder(table: GraftTable, options: CaseInsensitiveStringMap,
    op: GraftRowLevelOperation)
  extends ScanBuilder with SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  private var exprs: Seq[Expression] = Nil
  private var required: StructType = table.schema()

  // every predicate stays residual: rows of affected files must all
  // survive the scan for write-back
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    exprs = filters
    filters
  }

  override def pushedFilters: Array[Predicate] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val snap = table.readSnapshot
    // full list: the untouched complement becomes the carryover set
    val files = snap.map(table.ops.allFiles).getOrElse(Nil)
    val v1 = exprs.flatMap(e => GraftFilterShim.translate(e))
    val (affected, untouched) = files.partition(f =>
      v1.forall(FilePruning.keepFile(f, _)))
    op.carryover = untouched
    // nothing pushed: every row of an affected file must reach the
    // write-back, live deletes applied
    new MergeOnReadScan(table, options, required, Nil, affected,
      Mor.relevantDeletes(snap.map(_.deleteFiles).getOrElse(Nil), affected),
      Some(RewriteGroups(op, untouched,
        if (op.useFileGroups) Seq("_file")
        else RowLevelScanBuilder.runtimeFilterCols(table, affected))))
  }
}

object RowLevelScanBuilder {
  /** Columns usable for RUNTIME group filtering of a COW rewrite
    * (Spark's RowLevelOperationRuntimeGroupFiltering over
    * SupportsRuntimeV2Filtering): a MERGE's matched groups are only
    * known once the SOURCE is evaluated, so Spark feeds the distinct
    * matched values of these columns back as an `In` predicate and the
    * scan drops (→ carries over) every file they prove untouched — the
    * property that keeps a single-partition MERGE on a 1000-partition
    * 100 TB table from rewriting the other 999.
    *
    * SAFETY. The rule also inserts the same `In` as a ROW filter in the
    * rewrite query, so a kept file whose rows don't all pass it would
    * silently lose the non-matching rows on write-back. File-level
    * pruning therefore has to agree EXACTLY with row-level membership,
    * which holds only when every affected file is single-valued with
    * zero nulls on every filter column. We claim columns iff:
    *   - identity partition-spec sources (the write path clusters rows
    *     by the spec, so files are partition-local by construction);
    *   - a type whose string-encoded bounds compare exactly
    *     (numeric/string/date/timestamp — FilePruning's safe set);
    *   - every affected file proves one non-null value
    *     ([[FilePruning.uniformValue]]: min == max and nullCount == 0;
    *     absent bounds or unknown null counts disqualify) — the proof
    *     a key-grouped scan ([[KeyGrouping]]) stands on too.
    * Any other shape returns Nil and the operation falls back to the
    * statically-pruned scan — never wrong, just less pruned.
    */
  def runtimeFilterCols(table: GraftTable, affected: Seq[DataFile]): Seq[String] = {
    val meta = table.meta
    val spark = TableMeta.schemaToSpark(meta.schema)
    val uniform = for {
      pf <- meta.spec.fields if pf.transform == "identity"
      c <- meta.schema.fields.find(_.id == pf.sourceId).map(_.name)
      if spark.fields.find(_.name == c).exists(f => FilePruning.exactBoundType(f.dataType))
      if affected.forall(FilePruning.uniformValue(_, pf, c).isDefined)
    } yield c
    if (uniform.isEmpty || affected.isEmpty) Nil else uniform
  }
}

/** V2 BatchWrite: executors stream InternalRows straight into parquet
  * files under the table's data dir via Spark's ParquetWriteSupport;
  * the driver collects per-file stats and commits the replacement
  * snapshot through the OCC protocol.
  */
/** Cluster the write by the partition-spec transforms and sort within
  * tasks by them + the table sort order — the V2 analog of the append
  * path's repartition+sortWithinPartitions. This is what keeps written
  * files PARTITION-LOCAL (one partition value per file), which both
  * preserves tight min/max bounds for file skipping and upholds the
  * value-uniformity invariant that runtime group filtering depends on
  * ([[RowLevelScanBuilder.runtimeFilterCols]]). Non-identity
  * transforms (days/bucket) resolve through the catalog's
  * FunctionCatalog ([[GraftFunctions]]) when Spark plans the shuffle
  * key. Shared by the COW rewrite and the DELTA write.
  */
trait PartitionedWriteLayout extends RequiresDistributionAndOrdering {
  def table: GraftTable

  /** Names of the columns the written rows carry, when they are not the
    * table's columns: the layout clusters and sorts on these only. A
    * merge-on-read DELETE writes `(__row_operation, _file, _pos)` rows,
    * which carry no table column at all. */
  protected def rowColumns: Option[Set[String]] = None

  private def carried(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    rowColumns.forall(cols => e.references.forall(r => cols(r.fieldNames.mkString("."))))

  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution = {
    val exprs = specV2Exprs
    if (exprs.isEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    else
      org.apache.spark.sql.connector.distributions.Distributions.clustered(exprs.toArray)
  }

  /** Partition transforms lead the ordering (so same-partition rows
    * are CONTIGUOUS within each task and the fanout writer rolls
    * exactly once per partition value), then the table sort order. */
  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val specCols = specV2Exprs.map(e => Expressions.sort(e, SortDirection.ASCENDING))
    val sortCols = table.meta.sortOrders.find(_.orderId == table.meta.defaultSortOrderId)
      .map(_.fields).getOrElse(Nil).flatMap { sf =>
        table.meta.schema.fields.find(_.id == sf.sourceId).map { src =>
          Expressions.sort(Expressions.column(src.name),
            if (sf.direction == "desc") SortDirection.DESCENDING else SortDirection.ASCENDING)
        }
      }
    (specCols ++ sortCols.filter(o => carried(o.expression))).toArray
  }

  private def specV2Exprs: Seq[org.apache.spark.sql.connector.expressions.Expression] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    table.meta.spec.fields.flatMap { pf =>
      table.meta.schema.fields.find(_.id == pf.sourceId).map { src =>
        pf.transform match {
          case "days" => Expressions.days(src.name)
          case "years" => Expressions.years(src.name)
          case "months" => Expressions.months(src.name)
          case "hours" => Expressions.hours(src.name)
          case t if t.startsWith("bucket[") =>
            Expressions.bucket(t.stripPrefix("bucket[").stripSuffix("]").toInt, src.name)
          case t if t.startsWith("truncate[") =>
            Expressions.apply("truncate",
              Expressions.literal(t.stripPrefix("truncate[").stripSuffix("]").toInt),
              Expressions.column(src.name))
          case _ => Expressions.column(src.name)
            : org.apache.spark.sql.connector.expressions.Expression
        }
      }
    }.filter(carried)
  }
}

class GraftBatchWrite(val table: GraftTable, operation: String,
    carryover: () => Seq[DataFile],
    writeSchema: StructType = null) extends Write with BatchWrite
  with PartitionedWriteLayout {

  private val staging = Staging(table.meta, table.ops.warehouse, "data")

  override def toBatch: BatchWrite = this

  // the replace query may carry extra (metadata) columns; write what
  // Spark hands us. Partitioned tables roll to a new file whenever the
  // partition key changes (input is clustered + ordered by it via
  // RequiresDistributionAndOrdering), keeping rewritten files
  // partition-local
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftDataWriterFactory(staging.abs,
      Writer.fileSpec(table, Option(writeSchema).getOrElse(table.schema())))

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    staging.discardOnFailure(Writer.commitSnapshot(table, GraftCommitMessage.files(messages),
      overwrite = true, operation = operation, carryover = carryover(),
      validateFrom = Some(table.readSnapshot.map(_.snapshotId)),
      wapId = Writer.sessionWapId(table.meta)))

  override def abort(messages: Array[WriterCommitMessage]): Unit = staging.discard()
}

/** What a [[GraftDataWriter]] task reports: one entry per file it
  * wrote, stats and partition tuple included — the driver commits
  * exactly these, never a listing of the staging dir. */
case class GraftCommitMessage(files: List[DataFile]) extends WriterCommitMessage

object GraftCommitMessage {
  def files(messages: Array[WriterCommitMessage]): List[DataFile] =
    messages.toList.collect { case m: GraftCommitMessage => m.files }.flatten
}

/** One partition-key field for the fanout writer, addressed as an
  * offset from the END of the incoming record — end-relative because
  * the record can carry a variable number of rewrite-internal leading
  * columns (V2 path) or one trailing computed key column (V1 append
  * path), and only the distance from the end is stable in both.
  * [[DaysKey]]/[[BucketKey]] apply the partition TRANSFORM executor-
  * side (same definitions as [[GraftFunctions]]), so two timestamps of
  * the same day don't force a file roll.
  */
sealed trait KeySpec extends Serializable {
  def fromEnd: Int
  def dt: org.apache.spark.sql.types.DataType
  def eval(record: InternalRow, ordinal: Int): AnyRef
  /** Canonical string form(s) of an evaluated key — one per partition
    * field (the V1 path's single struct key carries them all). Stamped
    * into `DataFile.partition` so per-file partition tuples survive
    * into the metadata (what bucket-spec SPJ reads, since bucket
    * membership is not provable from value bounds). */
  def repr(value: AnyRef): Seq[String] = value match {
    case null => Seq("null")
    case r: InternalRow => dt match {
      case st: StructType => st.fields.indices.map { i =>
        if (r.isNullAt(i)) "null" else String.valueOf(r.get(i, st.fields(i).dataType))
      }
      case _ => Seq(String.valueOf(r))
    }
    case v => Seq(String.valueOf(v))
  }
}

object KeySpec {
  /** Transform-aware fanout roll keys for a write schema: one per
    * partition-spec field whose source column appears in `schema`. */
  def forSpec(table: GraftTable, schema: StructType): Seq[KeySpec] =
    table.meta.spec.fields.flatMap { pf =>
      table.meta.schema.fields.find(_.id == pf.sourceId).flatMap { src =>
        schema.fields.zipWithIndex.find(_._1.name == src.name).map { case (f, i) =>
          val fromEnd = schema.length - i
          pf.transform match {
            case "days" => DaysKey(fromEnd, f.dataType)
            case "years" => TimePartKey(fromEnd, f.dataType, "years")
            case "months" => TimePartKey(fromEnd, f.dataType, "months")
            case "hours" => HoursKey(fromEnd, f.dataType)
            case t if t.startsWith("bucket[") =>
              BucketKey(fromEnd, f.dataType,
                t.stripPrefix("bucket[").stripSuffix("]").toInt)
            case t if t.startsWith("truncate[") =>
              TruncateKey(fromEnd, f.dataType,
                t.stripPrefix("truncate[").stripSuffix("]").toInt)
            case _ => RawKey(fromEnd, f.dataType)
          }
        }
      }
    }
}
case class RawKey(fromEnd: Int, dt: org.apache.spark.sql.types.DataType) extends KeySpec {
  override def eval(record: InternalRow, ordinal: Int): AnyRef =
    record.get(ordinal, dt) match {
      // values may point into a reused row buffer — copy what we hold
      case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
      case r: InternalRow => r.copy()
      case v => v
    }
}
case class DaysKey(fromEnd: Int, dt: org.apache.spark.sql.types.DataType) extends KeySpec {
  override def eval(record: InternalRow, ordinal: Int): AnyRef =
    if (record.isNullAt(ordinal)) null
    else GraftFunctions.daysOf(record.get(ordinal, dt), dt)
}
case class BucketKey(fromEnd: Int, dt: org.apache.spark.sql.types.DataType,
    n: Int) extends KeySpec {
  override def eval(record: InternalRow, ordinal: Int): AnyRef =
    Integer.valueOf(GraftFunctions.bucketOf(
      if (record.isNullAt(ordinal)) null else record.get(ordinal, dt), dt, n))
}
case class TimePartKey(fromEnd: Int, dt: org.apache.spark.sql.types.DataType,
    part: String) extends KeySpec {
  override def eval(record: InternalRow, ordinal: Int): AnyRef =
    if (record.isNullAt(ordinal)) null
    else if (part == "years") GraftFunctions.yearsOf(record.get(ordinal, dt), dt)
    else GraftFunctions.monthsOf(record.get(ordinal, dt), dt)
}
case class HoursKey(fromEnd: Int, dt: org.apache.spark.sql.types.DataType) extends KeySpec {
  override def eval(record: InternalRow, ordinal: Int): AnyRef =
    if (record.isNullAt(ordinal)) null
    else GraftFunctions.hoursOf(record.get(ordinal, dt), dt)
}
case class TruncateKey(fromEnd: Int, dt: org.apache.spark.sql.types.DataType,
    w: Int) extends KeySpec {
  override def eval(record: InternalRow, ordinal: Int): AnyRef =
    if (record.isNullAt(ordinal)) null
    else GraftFunctions.truncateOf(record.get(ordinal, dt), dt, w) match {
      // UTF8String may point into a reused buffer — copy what we hold
      case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
      case v => v
    }
}

class GraftDataWriterFactory(dir: String, spec: FileSpec) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(dir, s"part-$partitionId-$taskId", spec)
}

/** THE table-file writer — data, position-delete and equality-delete
  * files all go through it. Fanout (the clustered-writer pattern):
  * input arrives sorted by the partition key, and the writer ROLLS to
  * a fresh file whenever the key changes — so every data file holds
  * exactly one partition value (partition-local files → tight min/max
  * bounds, exact partition stats, and the uniformity invariant runtime
  * group filtering needs). It also rolls once the open file's
  * buffered+flushed size passes `spec.targetBytes`: a skewed 10 GB
  * partition lands as target-sized files, not one monolith (several
  * files may share one partition value, which every consumer already
  * handles). One parquet writer open at a time, O(1) memory.
  *
  * Closing a file turns the footer it just wrote into that file's
  * [[DataFile]] entry ([[Writer.entryOf]]); `commit` reports them all.
  */
class GraftDataWriter(dir: String, prefix: String, spec: FileSpec)
  extends DataWriter[InternalRow] {

  private val conf = spec.conf.value.value
  private var fileSeq = 0
  private var writer: ParquetWriter[InternalRow] = _
  private var curPath: String = _
  private var curCount = 0L
  private val opened = scala.collection.mutable.ListBuffer.empty[String]
  private val files = scala.collection.mutable.ListBuffer.empty[DataFile]
  private var prevKey: Array[AnyRef] = _
  private var proj: org.apache.spark.sql.catalyst.ProjectingInternalRow = _

  private def openNext(): Unit = {
    curPath = s"$dir/$prefix-$fileSeq.parquet"; fileSeq += 1; curCount = 0
    class B(p: Path) extends ParquetWriter.Builder[InternalRow, B](p) {
      override def self(): B = this
      override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
        new ParquetWriteSupport
    }
    val builder = new B(new Path(curPath))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.ZSTD)
    spec.bloomCols.foreach(c => builder.withBloomFilterEnabled(c, true): Unit)
    writer = builder.build()
    opened += curPath
  }

  private def closeCurrent(): Unit = if (writer != null) {
    writer.close()
    if (curCount == 0) deleteFile(curPath)
    else {
      val vals = Option(prevKey).toList.flatMap(k =>
        spec.keys.zip(k).flatMap { case (ks, v) => ks.repr(v) })
      files += Writer.entryOf(writer.getFooter, RelPaths.relativize(spec.warehouse, curPath),
        fileSize(curPath), spec.schema, spec.exactBoundCols).copy(
        partition =
          if (vals.size == spec.partitionNames.size)
            spec.partitionNames.zip(vals).toMap
          else Map.empty,
        content = spec.equalityIds.map(_ => "equality"), equalityIds = spec.equalityIds)
    }
    writer = null
  }

  private def keyOf(record: InternalRow): Array[AnyRef] =
    spec.keys.map(k => k.eval(record, record.numFields - k.fromEnd)).toArray

  override def write(record: InternalRow): Unit = {
    if (spec.keys.nonEmpty) {
      val k = keyOf(record)
      if (prevKey == null || !prevKey.indices.forall(i =>
          java.util.Objects.equals(prevKey(i), k(i)))) {
        closeCurrent(); openNext(); prevKey = k
      }
    } else if (writer == null) openNext()
    val out =
      if (record.numFields == spec.schema.length) record
      else {
        if (proj == null) {
          val ords =
            if (spec.dataLeading) 0 until spec.schema.length
            else (record.numFields - spec.schema.length) until record.numFields
          proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(spec.schema, ords.toIndexedSeq)
        }
        proj.project(record)
        proj
      }
    writer.write(out); curCount += 1
    if (spec.targetBytes != Long.MaxValue && (curCount & 1023) == 0 &&
        writer.getDataSize > spec.targetBytes) {
      closeCurrent(); openNext()
    }
  }

  override def commit(): GraftCommitMessage = {
    closeCurrent()
    GraftCommitMessage(files.toList)
  }

  override def abort(): Unit = {
    scala.util.Try(if (writer != null) writer.close())
    opened.foreach(deleteFile)
  }

  /** Executor-safe file ops: scheme paths go through the task's Hadoop
    * conf (credentials!), posix through java.nio. */
  private def deleteFile(p: String): Unit =
    if (Io.hasScheme(p)) { scala.util.Try(new Path(p).getFileSystem(conf).delete(new Path(p), false)): Unit }
    else { Files.deleteIfExists(Paths.get(p)): Unit }

  private def fileSize(p: String): Long =
    if (Io.hasScheme(p)) new Path(p).getFileSystem(conf).getFileStatus(new Path(p)).getLen
    else Files.size(Paths.get(p))

  override def close(): Unit = ()
}

/** DELTA row-level operation (merge-on-read UPDATE / MERGE / DELETE,
  * selected by `write.<cmd>.mode=merge-on-read`): instead of rewriting
  * every affected file group, the write emits POSITION DELETES for the
  * touched rows plus data files for the new row versions. A
  * 10-row UPDATE on a 100 TB table costs O(10 rows written), not a
  * whole-file rewrite per touched file — the format-v2 CDC/upsert
  * economics. Row identity is the scan-provided (`_file`, `_pos`)
  * metadata pair — `DataFile.path` and the parquet row index
  * ([[MergeOnReadScan]]) — the key committed delete files use, so
  * the scan's delete application always agrees.
  */
class GraftDeltaOperation(table: GraftTable, info: RowLevelOperationInfo)
  extends RowLevelOperation with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): RowLevelOperation.Command = info.command()

  // the delta scan is just the table scan (with _file/_pos served as
  // metadata columns); unlike the group-based scan it CAN let filters
  // prune aggressively — unmatched rows are simply untouched
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(table, options)

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"),
      org.apache.spark.sql.connector.expressions.Expressions.column("_pos"))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newWriteBuilder(writeInfo: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new GraftDeltaWrite(table, command().toString.toLowerCase, writeInfo.schema())
    }
}

class GraftDeltaWrite(val table: GraftTable, operation: String, rowSchema: StructType)
  extends org.apache.spark.sql.connector.write.DeltaWrite
  with org.apache.spark.sql.connector.write.DeltaBatchWrite
  with PartitionedWriteLayout {

  override protected def rowColumns: Option[Set[String]] =
    Some(Option(rowSchema).fold(Set.empty[String])(_.fieldNames.toSet))

  private val data = Staging(table.meta, table.ops.warehouse, "data")
  private val deletes = Staging(table.meta, table.ops.warehouse, "deletes")

  override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory =
    new GraftDeltaWriterFactory(data.abs, deletes.abs,
      Writer.fileSpec(table, rowSchema), Writer.positionDeleteSpec(table.ops.warehouse))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.collect { case m: GraftDeltaMessage => m }
    val newFiles = ms.toList.flatMap(_.data)
    val delFiles = ms.toList.flatMap(_.deletes)
    if (newFiles.isEmpty && delFiles.isEmpty) { abort(messages); return }
    // a concurrent rewrite/compaction of a file our deletes reference
    // would orphan those deletes → conflict on exactly that set
    try Writer.commitSnapshot(table, newFiles, overwrite = false,
      operation = operation, carryover = Nil,
      newDeletes = delFiles, mustExist = ms.flatMap(_.referenced).toSet,
      wapId = Writer.sessionWapId(table.meta))
    catch { case e: Throwable => abort(messages); throw e }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    data.discard(); deletes.discard()
  }
}

/** A delta task's report: its data and position-delete file entries,
  * and the data files its delete rows reference. */
case class GraftDeltaMessage(data: List[DataFile], deletes: List[DataFile],
    referenced: Set[String]) extends WriterCommitMessage

class GraftDeltaWriterFactory(dataDir: String, delDir: String,
    dataSpec: FileSpec, delSpec: FileSpec)
  extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new GraftDeltaWriter(
      new GraftDataWriter(dataDir, s"part-$partitionId-$taskId", dataSpec),
      new GraftDataWriter(delDir, s"del-$partitionId-$taskId", delSpec))
}

/** Routes the WriteDelta stream: inserts (and the insert half of
  * updates) into the fanout data writer, deletes as (file, pos) rows
  * into the position-delete writer — noting each data file a delete
  * references, so the commit can validate them without re-reading
  * the delete files. */
class GraftDeltaWriter(dataW: GraftDataWriter, delW: GraftDataWriter)
  extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {

  private val referenced =
    scala.collection.mutable.HashSet.empty[org.apache.spark.unsafe.types.UTF8String]
  private var lastRef: org.apache.spark.unsafe.types.UTF8String = _

  override def insert(row: InternalRow): Unit = dataW.write(row)

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    delW.write(id)
    // rows of one file mostly arrive together: skip the set probe (and
    // the copy out of the reused row buffer) while the file repeats
    val f = id.getUTF8String(0)
    if (f != lastRef) { lastRef = f.clone(); referenced += lastRef }
  }

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(meta, id); insert(row)
  }

  override def commit(): WriterCommitMessage =
    GraftDeltaMessage(dataW.commit().files, delW.commit().files,
      referenced.iterator.map(_.toString).toSet)

  override def abort(): Unit = { dataW.abort(); delW.abort() }

  override def close(): Unit = { dataW.close(); delW.close() }
}
