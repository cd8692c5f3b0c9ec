package graft.catalog

import graft.meta._
import java.util
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.GraftFilterShim
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** A table of the relative-location format, exposed through Spark's
  * DSv2 `Table` API.
  *
  * Reads: the snapshot's (driver-pruned) file list is read by one
  * batch scan, [[MergeOnReadScan]], over Spark's vectorized parquet
  * source, so predicate pushdown, column pruning, and whole-stage
  * codegen all apply — the engine-native analog of the reference
  * serving Spark scans through `RelativeFileIO.newInputFile`
  * (RelativeFileIO.java:64-66). The same scan applies live
  * merge-on-read deletes inside the scan task, reads `add_files`
  * imports, serves the `_file`/`_pos` columns and takes runtime
  * filters.
  *
  * Writes: every table file goes through [[GraftDataWriter]], which
  * reports the file's own `DataFile` entry (bounds, counts, bytes) in
  * the task commit message; the driver commits exactly those entries
  * through the OCC protocol in [[TableOps]] (the reference's commit
  * path, HadoopRelativeTableOperations.java:144-180).
  *
  * `pinnedSnapshot` implements `VERSION AS OF` time travel over the
  * snapshot list (README.md:67-108). `pinnedFiles` fixes the data
  * files, delete files and added delete files every scan reads
  * ([[Mor.liveRows]], [[Mor.removedRows]]).
  */
class GraftTable(
    val catalogName: String,
    val ident: Identifier,
    val ops: TableOps,
    val meta: TableMeta,
    val metaVersion: Int,
    val pinnedSnapshot: Option[Long] = None,
    pinnedFiles: Option[(Seq[DataFile], Seq[DataFile], Seq[DataFile])] = None)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
  with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** SQL `TRUNCATE TABLE`: an empty overwrite snapshot — metadata-only
    * (no data file is touched or deleted), history stays time-travelable
    * until expiry, delete files are cleared with the data they applied
    * to. */
  override def truncateTable(): Boolean = {
    Writer.commitSnapshot(this, Nil, overwrite = true,
      operation = "overwrite", carryover = Nil,
      wapId = Writer.sessionWapId(meta))
    true
  }

  /** `_file` (the data file's `DataFile.path`, warehouse-relative)
    * and `_pos` (row ordinal within that file) — the row-identity pair.
    * Queryable (`SELECT _file, _pos FROM t`) and the rowId the DELTA
    * write path uses for merge-on-read UPDATE/MERGE position deltas.
    * Committed position-delete files key rows by the same pair, so
    * delete writes and the scan's delete application always agree.
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftTable.FileMetaCol, GraftTable.PosMetaCol)

  /** UPDATE / MERGE INTO (and non-metadata DELETE): DELTA (merge-on-
    * read position deltas, [[GraftDeltaOperation]]) when the command's
    * `write.<cmd>.mode` table property says merge-on-read, else
    * group-based copy-on-write ([[GraftRowLevelOperation]]). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => {
      import org.apache.spark.sql.connector.write.RowLevelOperation.Command
      val prop = info.command() match {
        case Command.UPDATE => "write.update.mode"
        case Command.MERGE => "write.merge.mode"
        case _ => "write.delete.mode"
      }
      if (meta.properties.get(prop).contains("merge-on-read"))
        new GraftDeltaOperation(this, info)
      else new GraftRowLevelOperation(this, info)
    }

  private def sparkSession = org.apache.spark.sql.SparkSession.active

  override def name(): String =
    (catalogName +: ident.namespace().toSeq :+ ident.name()).mkString(".")

  /** Current schema — or, for a time-travel read, the schema the
    * pinned snapshot was WRITTEN under (per-snapshot schema-id):
    * history keeps its own shape across evolution and RTAS instead of
    * being reshaped (and NULL-filled) by the latest schema.
    */
  override def schema(): StructType = TableMeta.schemaToSpark(
    (for {
      pin <- pinnedSnapshot
      snap <- meta.snapshot(pin)
      sid <- snap.schemaId
      sch <- meta.schemas.find(_.schemaId == sid)
    } yield sch).getOrElse(meta.schema))

  override def partitioning(): Array[Transform] =
    meta.spec.fields.map { pf =>
      val src = meta.schema.fields.find(_.id == pf.sourceId)
        .map(_.name).getOrElse(pf.name)
      pf.transform match {
        case "identity" => Expressions.identity(src)
        case "days" => Expressions.days(src)
        case "years" => Expressions.years(src)
        case "months" => Expressions.months(src)
        case "hours" => Expressions.hours(src)
        case t if t.startsWith("bucket[") =>
          Expressions.bucket(t.stripPrefix("bucket[").stripSuffix("]").toInt, src)
        case t if t.startsWith("truncate[") =>
          Expressions.apply("truncate",
            Expressions.literal(t.stripPrefix("truncate[").stripSuffix("]").toInt),
            Expressions.column(src))
        case _ => Expressions.identity(src)
      }
    }.toArray

  override def properties(): util.Map[String, String] =
    (meta.properties ++ Map(
      "location" -> meta.location,
      "format" -> "graft/parquet",
      "current-snapshot-id" -> meta.currentSnapshotId.map(_.toString).getOrElse("none"))).asJava

  // BATCH_WRITE + V1_BATCH_WRITE: appends/filter-overwrites return a
  // V1Write (planner routes them to the V1 execs); dynamic overwrite
  // returns a real BatchWrite, whose analyzer check demands BATCH_WRITE
  override def capabilities(): util.Set[TableCapability] = {
    val base = Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)
    // merge-schema ingest (Iceberg's accept-any-schema): the table
    // opts in via property, Spark then skips write-side schema
    // validation and the write path merges/validates itself — see
    // [[mergedForWrite]] and the V1Write gate in [[GraftWriteBuilder]]
    (if (meta.properties.get("write.merge-schema").contains("true"))
      base + TableCapability.ACCEPT_ANY_SCHEMA
    else base).asJava
  }

  /** Evolve THIS table's schema to accept `incoming` (merge-schema
    * ingest): unknown incoming columns are ADDED (fresh field ids, all
    * nullable — an added column must read NULL from every existing
    * file), and an incoming type that safely widens the table's
    * (int→long, float→double, decimal precision growth) WIDENS it —
    * metadata-only either way, the id-keyed evolution rules that keep
    * schema drift O(1) on a 100 TB table. Anything else (narrowing,
    * incompatible types) is refused loudly. A no-op when the schemas
    * already agree. OCC-committed; returns the table to write against. */
  def mergedForWrite(incoming: StructType): GraftTable =
    ops.commitRetrying("merge-schema") { (v, m) =>
      val byName = m.schema.fields.map(f => f.name -> f).toMap
      var lastId = m.lastColumnId
      var changed = false
      var fields = m.schema.fields
      incoming.fields.foreach { in =>
        byName.get(in.name) match {
          case None =>
            lastId += 1; changed = true
            fields = fields :+ FieldDef(lastId, in.name, in.dataType.json,
              required = false)
          case Some(f) =>
            val cur = org.apache.spark.sql.types.DataType.fromJson(f.dataType)
            if (cur != in.dataType &&
                RelativeCatalog.safePromotion(cur, in.dataType)) {
              changed = true
              fields = fields.map(x =>
                if (x.id == f.id) x.copy(dataType = in.dataType.json) else x)
            } else require(cur == in.dataType ||
                RelativeCatalog.safePromotion(in.dataType, cur),
              s"merge-schema: column ${in.name} is ${cur.simpleString} in the " +
                s"table but ${in.dataType.simpleString} incoming — neither side " +
                "widens the other")
        }
      }
      if (!changed) TableOps.Done(new GraftTable(catalogName, ident, ops, m, v))
      else {
        val sid = m.currentSchemaId + 1
        val next = m.copy(
          lastUpdatedMs = System.currentTimeMillis(),
          lastColumnId = lastId,
          currentSchemaId = sid,
          schemas = m.schemas :+ SchemaDef(sid, fields))
        TableOps.Commit(next, v2 => new GraftTable(catalogName, ident, ops, next, v2))
      }
    }

  def readSnapshot: Option[Snapshot] =
    pinnedSnapshot.flatMap(meta.snapshot).orElse(meta.currentSnapshot)

  // an incremental (append-only) range has no applicable deletes:
  // position/equality deletes committed at seq ≤ start only target
  // files that already existed then, never files added after it
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(this, options, pinnedFiles.orElse(
      Option(options.get("start-snapshot-id")).map(start =>
        (incrementalFiles(start, Option(options.get("end-snapshot-id"))), Nil, Nil))))

  /** Incremental append scan (`spark.read.option("start-snapshot-id", a)
    * [.option("end-snapshot-id", b)].table(...)`): only the rows ADDED
    * after snapshot `a` (exclusive) up to `b` (inclusive, default
    * current). O(added files) — nothing before `a` is even listed into
    * the scan, which is what makes a daily "process what's new"
    * pipeline over a 100 TB table cost only the day's increment.
    * Bounds accept a snapshot id, a sequence number, or a ref name
    * (same resolution as time travel). The range must be append-only:
    * an overwrite/delete/compact inside it has no add-only row
    * interpretation — use the `$changes` changelog table for those.
    */
  private def incrementalFiles(start: String, end: Option[String]): Seq[DataFile] = {
    def resolve(v: String): Snapshot =
      (scala.util.Try(v.toLong).toOption match {
        case Some(n) => meta.snapshot(n).orElse(meta.snapshots.find(_.sequenceNumber == n))
        case None => meta.refs.get(v).flatMap(r => meta.snapshot(r.snapshotId))
      }).getOrElse(throw new IllegalArgumentException(
        s"no snapshot or ref '$v' in ${ident.name()}"))
    val from = resolve(start)
    val to = end.map(resolve).orElse(meta.currentSnapshot).getOrElse(
      throw new IllegalArgumentException("table has no snapshots"))
    require(from.sequenceNumber <= to.sequenceNumber,
      s"start snapshot ${from.sequenceNumber} is newer than end ${to.sequenceNumber}")
    val nonAppend = meta.snapshots.filter(s =>
      s.sequenceNumber > from.sequenceNumber && s.sequenceNumber <= to.sequenceNumber &&
        s.operation != "append")
    require(nonAppend.isEmpty,
      s"incremental read supports append-only ranges; found ${nonAppend.map(_.operation).distinct.mkString(",")} " +
        s"snapshot(s) in range — read the `$$changes` changelog table instead")
    // chunk maxSeq keys skip manifests frozen before `from` entirely
    ops.filesNewerThan(to, from.sequenceNumber)
      .filter(_.seq.exists(_ > from.sequenceNumber))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(this, info)

  /** DELETE (the reference enables Iceberg row-level DML, SURVEY §1.4)
    * in one of two modes, selected by the `write.delete.mode` table
    * property:
    *
    *  - `copy-on-write` (default): files the predicate provably cannot
    *    touch (min/max bounds) are carried over untouched; only
    *    possibly-matching files are read back, filtered, and
    *    rewritten. At 100 TB the carryover set is the overwhelming
    *    majority — the property that makes COW deletes affordable.
    *  - `merge-on-read`: NO data file is rewritten. Matching rows'
    *    (file, position) pairs are written as a position-delete file
    *    ([[Mor]]); scans drop those rows; compaction applies them. A
    *    trickle DELETE on a 100 TB table costs O(matched rows), not a
    *    whole-file rewrite per touched file.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => Writer.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = sparkSession
    val snap = readSnapshot
    // full materialization: the untouched complement must carry over
    val files = snap.map(ops.allFiles).getOrElse(Nil)
    if (files.isEmpty) return
    val (affected, untouched) = files.partition(f =>
      filters.forall(FilePruning.keepFile(f, _)))
    if (affected.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val cond = filters.flatMap(Writer.filterToColumn)
      .reduceOption(_ && _)
      .getOrElse(lit(true))

    val morMode = meta.properties.get("write.delete.mode").contains("merge-on-read")
    val wantEquality = morMode &&
      meta.properties.get("write.delete.granularity").contains("equality")

    if (wantEquality && Mor.tuplesFromFilters(filters.toIndexedSeq).isDefined) {
      // EQUALITY delete: the predicate is a set of key tuples, so the
      // delete file is just those values — written WITHOUT reading any
      // data (O(tuples), not even a scan; the CDC trickle-delete path).
      // Scans apply it to strictly-older data files ([[Mor]]).
      val (keys, tuples) = Mor.tuplesFromFilters(filters.toIndexedSeq).get
      val keyDefs = keys.map(k => meta.schema.fields.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(s"equality-delete key $k not in schema")))
      val ids = keyDefs.map(_.id)
      val sparkSchema = schema()
      val delSchema = org.apache.spark.sql.types.StructType(
        keys.map(k => sparkSchema.fields.find(_.name == k).get))
      val rows = tuples.map(t => org.apache.spark.sql.Row.fromSeq(
        delSchema.fields.map(f => Mor.coerce(t(f.name), f.dataType)).toIndexedSeq))
      val staging = Staging(meta, ops.warehouse, "deletes")
      val delFiles = Writer.writeFiles(spark.createDataFrame(rows.asJava, delSchema).coalesce(1),
        staging, Writer.equalityDeleteSpec(ops.warehouse, delSchema, ids))
      staging.discardOnFailure(Writer.commitSnapshot(this, Nil, overwrite = false,
        operation = "delete", carryover = Nil, newDeletes = delFiles,
        wapId = Writer.sessionWapId(meta)))
    } else if (morMode) {
      val matches = matchedPositions(affected, cond)
      val staging = Staging(meta, ops.warehouse, "deletes")
      // range-cluster the delete rows by the file they reference:
      // each delete file then covers a TIGHT, disjoint file_path range
      // — the unit scan-side delete pruning works at — instead of a
      // hash-spray across the whole path space
      val delFiles = Writer.writeFiles(matches.repartitionByRange(col("file_path"))
          .sortWithinPartitions(col("file_path"), col("pos")),
        staging, Writer.positionDeleteSpec(ops.warehouse))
      if (delFiles.isEmpty) { staging.discard(); return }
      staging.discardOnFailure(Writer.commitSnapshot(this, Nil, overwrite = false,
        operation = "delete", carryover = Nil,
        newDeletes = delFiles, mustExist = affected.map(_.path).toSet,
        wapId = Writer.sessionWapId(meta)))
    } else {
      // SQL DELETE keeps rows the predicate does NOT match; a NULL
      // predicate is "not matched", so it must map to keep (not drop):
      // a bare !cond is NULL for those rows and the filter would
      // silently delete them
      val remaining = Mor.liveRows(spark, ops, meta, affected,
          snap.map(_.deleteFiles).getOrElse(Nil))
        .filter(!coalesce(cond, lit(false)))
      Writer.append(this, remaining, overwrite = true,
        operation = "delete", carryover = untouched,
        validateFrom = Some(snap.map(_.snapshotId)),
        wapId = Writer.sessionWapId(meta))
    }
  }

  /** The tombstones a merge-on-read DELETE stages as a position-delete
    * file: (relative file path, row ordinal) of every live row of
    * `affected` that `cond` matches — a NULL predicate is not matched,
    * and already-deleted rows are excluded, so re-deleting is
    * idempotent. */
  def matchedPositions(affected: Seq[DataFile],
      cond: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    Mor.liveRows(sparkSession, ops, meta, affected,
        readSnapshot.map(_.deleteFiles).getOrElse(Nil), positions = true)
      .filter(coalesce(cond, lit(false)))
      .select(col("__gf").as("file_path"), col("__gp").as("pos"))
  }
}

object GraftTable {
  import org.apache.spark.sql.connector.catalog.MetadataColumn

  val FileMetaCol: MetadataColumn = new MetadataColumn {
    override def name(): String = "_file"
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.StringType
    override def isNullable: Boolean = false
    override def comment(): String = "warehouse-relative data file path"
  }

  val PosMetaCol: MetadataColumn = new MetadataColumn {
    override def name(): String = "_pos"
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false
    override def comment(): String = "row position within the data file"
  }

  val MetaColNames: Set[String] = Set("_file", "_pos")

  /** Static overwrite: replace the rows matching `filters` with
    * `data`, in one commit. Files the filters provably can't touch
    * carry over; possibly-matching files are read back, their
    * NON-matching rows (deletes applied) are kept and rewritten
    * together with the new data. NULL-predicate rows are "not
    * matched" → kept, mirroring DELETE's semantics.
    */
  def overwriteByFilter(table: GraftTable, data: DataFrame,
      filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val spark = data.sparkSession
    val snap = table.readSnapshot
    val files = snap.map(table.ops.allFiles).getOrElse(Nil)
    // Every filter must translate: a silently dropped conjunct would
    // widen the delete scope (rows outside the requested overwrite
    // range would be removed), so fail loudly on any unknown filter.
    val cond = filters.map(f => Writer.filterToColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"INSERT OVERWRITE filter not translatable: $f")))
      .reduceOption(_ && _)
      .getOrElse(throw new UnsupportedOperationException(
        "INSERT OVERWRITE requires at least one translatable filter"))
    val (affected, untouched) = files.partition(f =>
      filters.forall(FilePruning.keepFile(f, _)))
    val schema = table.schema()
    val aligned = data.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val combined =
      if (affected.isEmpty) aligned
      else {
        val keep = Mor.liveRows(spark, table.ops, table.meta, affected,
            snap.map(_.deleteFiles).getOrElse(Nil))
          .filter(!coalesce(cond, lit(false)))
        keep.unionByName(aligned)
      }
    Writer.append(table, combined, overwrite = true, operation = "overwrite",
      carryover = untouched, validateFrom = Some(snap.map(_.snapshotId)),
      wapId = Writer.sessionWapId(table.meta))
  }

}

/** ScanBuilder that prunes the snapshot file list on pushed predicates
  * vs per-file min/max bounds — the driver-side file skipping the
  * reference's metadata enables (SURVEY §4) — and builds a
  * [[MergeOnReadScan]] over the surviving files, which plans them
  * through the parquet delegate so row-group pushdown and column
  * pruning still happen below us. The scan may report the table's
  * storage-partitioned layout ([[KeyGrouping]]) unless it reads
  * removed rows or projects a metadata column.
  * `pinned` replaces the snapshot's (data files, delete files) and adds
  * a removed-rows read's added deletes: the incremental read's added
  * files, or [[Mor.liveRows]]' and [[Mor.removedRows]]' lists.
  */
class GraftScanBuilder(table: GraftTable, options: CaseInsensitiveStringMap,
    pinned: Option[(Seq[DataFile], Seq[DataFile], Seq[DataFile])] = None)
  extends ScanBuilder with SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  private val spark = org.apache.spark.sql.SparkSession.active
  private var pushedExprs: Seq[Expression] = Nil
  private var pushedPreds: Array[Predicate] = Array.empty
  private var required: StructType = table.schema()

  private def liveDeletes: Seq[DataFile] =
    pinned.map(_._2).getOrElse(table.readSnapshot.map(_.deleteFiles).getOrElse(Nil))

  // residuals + pushed predicates come from a SCHEMA-ONLY probe
  // delegate (opt round 21: the old ParquetTable probe force-listed the
  // snapshot's whole file set just to read schema); the real (pruned)
  // delegate is built at build() time. Parquet reports every data
  // filter residual, so Spark re-filters above every route build()
  // takes — including imports, whose delegate pushes nothing.
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushedExprs = filters
    val probe = org.apache.spark.sql.execution.datasources.GraftManifestIndex
      .probeScanBuilder(spark, options, table.schema())
    val residual = probe.asInstanceOf[SupportsPushDownCatalystFilters].pushFilters(filters)
    pushedPreds = probe.asInstanceOf[SupportsPushDownCatalystFilters].pushedFilters
    residual
  }

  override def pushedFilters: Array[Predicate] = pushedPreds

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): MergeOnReadScan = {
    val v1 = pushedExprs.flatMap(e => GraftFilterShim.translate(e))
    // two-level pruning: manifest chunks whose range keys can't match
    // are never even read (O(matching chunks) driver work on a
    // million-file table), then per-file min/max bounds prune within
    // the loaded candidates
    val candidates = pinned.map(_._1).getOrElse(
      table.readSnapshot.map(s => table.ops.filesMatching(s, v1)).getOrElse(Nil))
    // a removed-rows read plans only the files an added delete may reach
    val added = pinned.map(_._3).getOrElse(Nil)
    val pruned = candidates.filter(f => v1.forall(FilePruning.keepFile(f, _)) &&
      (added.isEmpty || added.exists(Mor.mayApply(_, f))))
    // only delete files whose path range can reference a surviving
    // data file ride along (file-pruned scans skip unrelated deletes)
    val prunedDeletes = Mor.relevantDeletes(liveDeletes, pruned)
    val grouping =
      if (added.nonEmpty || required.fieldNames.exists(GraftTable.MetaColNames)) None
      else KeyGrouping(spark, table.meta, required, pruned)
    new MergeOnReadScan(table, options, required, pushedExprs, pruned, prunedDeletes,
      added = Mor.relevantDeletes(added, pruned), grouping = grouping)
  }
}

/** Conservative min/max file skipping: keep the file unless a bound
  * proves the predicate can never match. String-encoded bounds are
  * compared numerically when the column is numeric, else
  * lexicographically (ISO dates/timestamps sort correctly). Shared by
  * the scan builder and the copy-on-write DELETE path (which uses it
  * to carry over files the predicate provably cannot touch).
  */
object FilePruning {
  /** Types whose string-encoded bounds compare exactly (numbers,
    * strings, ISO dates and timestamps): the columns a runtime filter
    * may prune on. */
  def exactBoundType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: IntegerType | _: LongType | _: ShortType | _: ByteType | _: DoubleType |
           _: FloatType | _: StringType | _: DateType | _: TimestampType => true
      case _ => false
    }
  }

  /** The one non-null value data file `f` holds of partition field
    * `pf` (source column `col`), bound-encoded (a day as `yyyy-MM-dd`),
    * or None when `f`'s metadata cannot prove one: identity and days
    * from a zero null count and bounds that agree (on the day), bucket
    * from the writer-stamped partition tuple — bucket membership does
    * not follow from bounds. Runtime group filtering and key-grouped
    * scans both stand on this proof. */
  def uniformValue(f: DataFile, pf: PartField, col: String): Option[String] = pf.transform match {
    case t if t.startsWith("bucket[") => f.partition.get(pf.name)
    case t @ ("identity" | "days") if f.nullCount.get(col).contains(0L) =>
      val cut: String => String = if (t == "days") _.take(10) else identity
      for (mn <- f.minBound.get(col); mx <- f.maxBound.get(col) if cut(mn) == cut(mx))
        yield cut(mn)
    case _ => None
  }

  def keepFile(f: DataFile, filter: Filter): Boolean = {
    // one-sided bounds are allowed (over-long string upper bounds are
    // dropped at write time): each side prunes independently
    def cmpMin(col: String, v: Any): Option[Int] =
      f.minBound.get(col).flatMap(compareBound(col, _, v))
    def cmpMax(col: String, v: Any): Option[Int] =
      f.maxBound.get(col).flatMap(compareBound(col, _, v))
    def mayContain(col: String, v: Any): Boolean =
      cmpMin(col, v).forall(_ <= 0) && cmpMax(col, v).forall(_ >= 0)
    filter match {
      case EqualTo(a, v) => mayContain(a, v)
      // null-safe equality (what static PARTITION (k=v) clauses emit):
      // bounds never cover nulls, so `<=> null` can only match files
      // with a recorded null (unknown null count → keep)
      case EqualNullSafe(a, null) => f.nullCount.get(a).forall(_ > 0)
      case EqualNullSafe(a, v) => mayContain(a, v)
      case GreaterThan(a, v) => cmpMax(a, v).forall(_ > 0)
      case GreaterThanOrEqual(a, v) => cmpMax(a, v).forall(_ >= 0)
      case LessThan(a, v) => cmpMin(a, v).forall(_ < 0)
      case LessThanOrEqual(a, v) => cmpMin(a, v).forall(_ <= 0)
      case In(a, vs) => vs.exists(v => mayContain(a, v))
      case IsNull(a) =>
        // a file with a RECORDED zero null count can't match; an
        // ABSENT entry means unknown (old metadata), never zero → keep
        f.nullCount.get(a).forall(_ > 0)
      case IsNotNull(a) =>
        // an all-null file (null count == record count) can't match
        f.nullCount.get(a).forall(_ < f.records)
      case StringStartsWith(a, v) =>
        // v-prefixed strings sit in [v, v·∞): prune when the file's
        // max < v, or its min exceeds the prefix range (min > v and
        // not itself v-prefixed — sound even for truncated prefix
        // lower bounds: a prefix of a v-prefixed string is v-prefixed
        // whenever it is at least as long as v, and shorter prefixes
        // compare ≤ v)
        f.maxBound.get(a).forall(_ >= v) &&
          f.minBound.get(a).forall(m => m <= v || m.startsWith(v))
      case And(l, r) => keepFile(f, l) && keepFile(f, r)
      case Or(l, r) => keepFile(f, l) || keepFile(f, r)
      case _ => true
    }
  }

  /** compare stored bound (string) against the filter value; None = incomparable */
  private def compareBound(col: String, bound: String, v: Any): Option[Int] = v match {
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Double | _: Float | _: java.math.BigDecimal) =>
      scala.util.Try(BigDecimal(bound).compare(BigDecimal(n.toString))).toOption
    case s: String => Some(bound.compareTo(s))
    case d: java.sql.Date => Some(bound.compareTo(d.toString))
    case t: java.sql.Timestamp => Some(bound.compareTo(Writer.BoundTimestamp.format(t.toInstant)))
    // a LocalDateTime has no instant: the formatter's zone leaves it as is
    case t: java.time.LocalDateTime => Some(bound.compareTo(Writer.BoundTimestamp.format(t)))
    case t: java.time.Instant => Some(bound.compareTo(Writer.BoundTimestamp.format(t)))
    case _ => None
  }
}

/** Write modes: plain append, full truncate (`INSERT OVERWRITE`
  * static, no partition filter), overwrite-by-filter (static
  * `PARTITION (k=v)` clauses arrive as translated filters), and
  * DYNAMIC partition overwrite (replace exactly the partitions the
  * incoming data touches — `partitionOverwriteMode=dynamic`). Filter
  * and dynamic overwrites are ONE OCC commit each: untouched files
  * carry over byte-identical, affected files are replaced, and
  * rows of partially-affected files that the filter does NOT match
  * are rewritten alongside the new data.
  */
class GraftWriteBuilder(table: GraftTable, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate
  with org.apache.spark.sql.connector.write.SupportsOverwrite
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  private sealed trait Mode
  private case object AppendMode extends Mode
  private case object TruncateMode extends Mode
  private case class FilterMode(filters: Array[Filter]) extends Mode
  private case object DynamicMode extends Mode

  private var mode: Mode = AppendMode

  override def truncate(): WriteBuilder = { mode = TruncateMode; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    mode =
      if (filters.isEmpty ||
          filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
        TruncateMode
      else FilterMode(filters)
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = { mode = DynamicMode; this }

  /** Merge-schema gate, evaluated once per write with the LIVE data
    * frame. With `write.merge-schema=true` Spark skipped its own
    * schema validation (ACCEPT_ANY_SCHEMA), so this is where the write
    * either merges (writer passed merge-schema/mergeSchema=true:
    * evolve the table via [[GraftTable.mergedForWrite]], then
    * null-fill any table column the frame omits) or REFUSES extra
    * columns loudly — a silently dropped column is the one outcome
    * that must never happen. */
  private def mergeGate(data0: DataFrame): (GraftTable, DataFrame) = {
    if (!table.meta.properties.get("write.merge-schema").contains("true"))
      return (table, data0) // capability absent: Spark already validated
    val requested = Seq("merge-schema", "mergeschema")
      .exists(k => Option(info.options.get(k)).exists(_.toBoolean))
    // ACCEPT_ANY_SCHEMA also skips Spark's by-POSITION output
    // resolution, so SQL `INSERT` — VALUES (synthetic col1, col2, …)
    // AND `INSERT ... SELECT expr, …` — arrives under names that
    // needn't match the table. SQL insert semantics ARE positional, and
    // SQL cannot pass writer options, so a same-arity zero-overlap
    // frame WITHOUT the merge-schema option keeps Spark's own
    // by-position behavior (what a non-merge table would get). A frame
    // WITH the option is an explicit DataFrame merge — by-name intent —
    // so an all-renamed frame evolves the schema instead of silently
    // writing into the old columns.
    val tcols = table.schema().fieldNames
    val data =
      if (!requested && data0.schema.fieldNames.length == tcols.length &&
          !data0.schema.fieldNames.exists(tcols.contains))
        data0.toDF(tcols.toIndexedSeq: _*)
      else data0
    val extra = data.schema.fieldNames
      .filterNot(table.schema().fieldNames.contains).toSeq
    if (!requested) {
      require(extra.isEmpty,
        s"table ${table.name()} accepts any schema but this write did not " +
          s"pass merge-schema=true; refusing to silently drop incoming " +
          s"column(s) ${extra.mkString(", ")}")
      (table, data)
    } else {
      val t2 = table.mergedForWrite(data.schema)
      val have = data.columns.toSet
      val filled = t2.schema().fields.foldLeft(data) { (df, f) =>
        if (have(f.name)) df
        else {
          require(f.nullable, s"merge-schema: frame omits required column ${f.name}")
          df.withColumn(f.name, org.apache.spark.sql.functions.lit(null).cast(f.dataType))
        }
      }
      (t2, filled)
    }
  }

  override def build(): Write = mode match {
    // dynamic overwrite has no V1 fallback exec in Spark → a real V2
    // BatchWrite (fanout writer; the incoming partition set falls out
    // of the writer-stamped tuples, no extra job)
    case DynamicMode =>
      // the partition set must be computed against a settled schema —
      // merge-schema composes with append/truncate/filter writes only
      require(info.schema().fieldNames.forall(table.schema().fieldNames.contains),
        "merge-schema is not supported for dynamic partition overwrite; " +
          "evolve the schema first (ALTER TABLE ADD COLUMN)")
      new GraftDynamicOverwriteWrite(table, info.schema())
    case _ => new V1Write {
      override def toInsertableRelation: InsertableRelation =
        (data: DataFrame, _: Boolean) => {
          val (t2, d2) = mergeGate(data)
          mode match {
            case TruncateMode => Writer.append(t2, d2, overwrite = true,
              wapId = Writer.sessionWapId(t2.meta))
            case FilterMode(filters) => GraftTable.overwriteByFilter(t2, d2, filters)
            case _ => Writer.append(t2, d2, overwrite = false,
              wapId = Writer.sessionWapId(t2.meta))
          }
        }

      // writeStream.toTable: one OCC append per epoch, exactly-once via
      // the (query-id, epoch-id) stamp in the snapshot summary
      override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        // ACCEPT_ANY_SCHEMA skips Spark's validation here too, and the
        // epoch writer has no merge hook — refuse mismatches loudly
        require(info.schema().fieldNames.forall(table.schema().fieldNames.contains),
          "merge-schema is not supported for streaming writes; evolve the " +
            "schema first (ALTER TABLE ADD COLUMN)")
        new GraftStreamingWrite(table, info.queryId(), info.schema())
      }
    }
  }
}

/** V2 batch write for DYNAMIC partition overwrite: the fanout writer
  * stages partition-local files (clustered + ordered by the spec via
  * [[PartitionedWriteLayout]]), each stamped with its partition tuple;
  * at commit the incoming partition set is exactly the union of those
  * stamps — untouched partitions carry over byte-identical, touched
  * ones are replaced, one OCC commit. Files predating tuple stamping
  * can't be classified → loud failure (compact once to stamp).
  */
class GraftDynamicOverwriteWrite(val table: GraftTable, rowSchema: StructType)
  extends Write with org.apache.spark.sql.connector.write.BatchWrite
  with PartitionedWriteLayout {

  import org.apache.spark.sql.connector.write.{DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}

  private val staging = Staging(table.meta, table.ops.warehouse, "data")

  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftDataWriterFactory(staging.abs, Writer.fileSpec(table, rowSchema))

  override def commit(messages: Array[WriterCommitMessage]): Unit = staging.discardOnFailure {
    val specNames = table.meta.spec.fields.map(_.name)
    val newFiles = GraftCommitMessage.files(messages)
    val snap = table.readSnapshot
    // the FULL file list: every chunked file must carry over (or be
    // classified as unstamped)
    val files = snap.map(table.ops.allFiles).getOrElse(Nil)
    val carryover =
      if (specNames.isEmpty) Nil // unpartitioned: replace everything
      else {
        val unstamped = files.filter(f => f.partition.keySet != specNames.toSet)
        if (unstamped.nonEmpty) throw new UnsupportedOperationException(
          s"dynamic overwrite needs writer-stamped partition tuples on every file; " +
            s"${unstamped.size} file(s) predate stamping (e.g. ${unstamped.head.path}) — " +
            "compact the table once to stamp them")
        val incoming = newFiles.map(_.partition).toSet
        files.filterNot(f => incoming(f.partition))
      }
    Writer.commitSnapshot(table, newFiles, overwrite = true,
      operation = "overwrite", carryover = carryover,
      validateFrom = Some(snap.map(_.snapshotId)),
      wapId = Writer.sessionWapId(table.meta))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = staging.discard()
}

/** In-memory metadata tables (`t$snapshots` / `t$files` / `t$history`)
  * — the analog of the Iceberg metadata tables the reference enables
  * (SURVEY §2.2 q_meta_snapshots). Served via the public V1Scan
  * fallback; rows are tiny driver-side metadata.
  */
class MemTable(tblName: String, sch: StructType, rows: Seq[Row])
  extends Table with SupportsRead {
  override def name(): String = tblName
  override def schema(): StructType = sch
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new V1Scan {
      override def readSchema(): StructType = sch
      override def toV1TableScan[T <: BaseRelation with TableScan](ctx: SQLContext): T =
        new MemRelation(ctx, sch, rows).asInstanceOf[T]
    }
}

class MemRelation(ctx: SQLContext, sch: StructType, rows: Seq[Row])
  extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = ctx
  override def schema: StructType = sch
  // driver-side metadata rows are tiny — report them so joins against
  // metadata tables ($snapshots, $files…) broadcast, never shuffle
  override def sizeInBytes: Long = (rows.size.toLong * 128) max 1L
  override def buildScan(): RDD[Row] = ctx.sparkContext.parallelize(rows, 1)
}
