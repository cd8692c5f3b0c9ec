package graft.catalog

import graft.meta._
import java.util
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Staged table backing atomic CTAS / RTAS
  * (`CREATE [OR REPLACE] TABLE … AS SELECT`, Spark's
  * `StagingTableCatalog` protocol).
  *
  * The SELECT's output is staged as final-location parquet via
  * [[Writer.stageFiles]] (same clustering/fanout/stats as any write);
  * nothing is published until `commitStagedChanges`:
  *
  *  - CREATE: the very first metadata version already contains the
  *    data snapshot — one atomic rename publishes table + data, so a
  *    failed CTAS leaves NO table behind (not even an empty one), and
  *    a concurrent CREATE of the same name simply wins or loses the
  *    v1 rename race (the loser's staged files are deleted).
  *  - REPLACE: one OCC commit on the existing version chain swaps the
  *    data set AND schema/spec/properties ([[Writer.commitSnapshot]]'s
  *    `metaTransform` hook). Snapshot history and table UUID survive —
  *    the replace is just the next snapshot (operation `overwrite`).
  *    New columns take FRESH field ids (past the base's counters), so
  *    pre-replace data files can never alias the new schema through a
  *    reused column name. A concurrent schema change mid-RTAS fails
  *    the commit instead of merging unsoundly.
  *
  * `abortStagedChanges` deletes the staged files; committed state is
  * untouched either way.
  */
class GraftStagedTable(catalogName: String, ident: Identifier, ops: TableOps,
    stagedMeta: TableMeta, base: Option[TableMeta])
  extends StagedTable with SupportsWrite {

  // staging result: (staging dir, writer-reported file entries)
  @volatile private var staged: Option[(Staging, List[DataFile])] = None

  override def name(): String =
    (catalogName +: ident.namespace().toSeq :+ ident.name()).mkString(".")

  override def schema(): StructType = TableMeta.schemaToSpark(stagedMeta.schema)

  override def partitioning(): Array[Transform] =
    new GraftTable(catalogName, ident, ops, stagedMeta, 0).partitioning()

  override def properties(): util.Map[String, String] =
    stagedMeta.properties.asJava

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // the staged table is logically empty; truncate-then-append and
      // append coincide
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data: DataFrame, _: Boolean) => {
            staged = Some(Writer.stageFiles(stagedMeta, ops.warehouse, data))
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    val files = staged.map(_._2).getOrElse(Nil)
    base match {
      case Some(b) =>
        val (v, cur) = ops.refresh().getOrElse {
          abortStagedChanges()
          throw new CommitConflictException(
            s"table ${name()} was dropped while REPLACE TABLE was staging")
        }
        val table = new GraftTable(catalogName, ident, ops, cur, v)
        try Writer.commitSnapshot(table, files, overwrite = true,
          operation = "overwrite", carryover = Nil,
          metaTransform = m => {
            // the staged schema's fresh ids were assigned against the
            // base we read at stage time; a concurrent evolution or
            // replace would make them collide — reject, don't merge
            if (m.tableUuid != b.tableUuid || m.lastColumnId != b.lastColumnId ||
                m.currentSchemaId != b.currentSchemaId)
              throw new CommitConflictException(
                s"concurrent schema change on ${name()} during REPLACE TABLE")
            m.copy(
              lastColumnId = stagedMeta.lastColumnId,
              currentSchemaId = stagedMeta.currentSchemaId,
              schemas = stagedMeta.schemas,
              defaultSpecId = stagedMeta.defaultSpecId,
              partitionSpecs = stagedMeta.partitionSpecs,
              lastPartitionId = stagedMeta.lastPartitionId,
              defaultSortOrderId = stagedMeta.defaultSortOrderId,
              sortOrders = stagedMeta.sortOrders,
              properties = stagedMeta.properties)
          })
        catch { case e: Throwable => abortStagedChanges(); throw e }
      case None =>
        // first version carries the snapshot: publish-all-or-nothing
        val now = System.currentTimeMillis()
        val snapId = now * 1000 + scala.util.Random.nextInt(1000)
        val stamped = files.map(f => if (f.seq.isEmpty) f.copy(seq = Some(1L)) else f)
        val metaWithSnap =
          if (files.isEmpty) stagedMeta
          else stagedMeta.copy(
            lastSequenceNumber = 1L,
            currentSnapshotId = Some(snapId),
            snapshots = List(Snapshot(
              snapshotId = snapId,
              parentId = None,
              sequenceNumber = 1L,
              timestampMs = now,
              operation = "append",
              summary = Map(
                "added-data-files" -> stamped.size.toString,
                "added-records" -> stamped.map(_.records).sum.toString,
                "added-files-size" -> stamped.map(_.bytes).sum.toString,
                "total-records" -> stamped.map(_.records).sum.toString,
                "total-data-files" -> stamped.size.toString),
              files = stamped,
              schemaId = Some(stagedMeta.currentSchemaId))),
            snapshotLog = List(SnapshotLogEntry(now, snapId)),
            refs = Map("main" -> Ref(snapId, "branch")))
        try ops.commit(0, metaWithSnap)
        catch {
          case _: CommitFailedException =>
            abortStagedChanges()
            throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
          case e: Throwable => abortStagedChanges(); throw e
        }
    }
  }

  override def abortStagedChanges(): Unit = staged.foreach(_._1.discard())
}
