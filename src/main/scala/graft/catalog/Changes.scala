package graft.catalog

import graft.meta._
import java.util
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** `t$changes` — the CDC/changelog read over the snapshot chain (the
  * downstream-consumer counterpart of the commit protocol, ref
  * HadoopRelativeTableOperations.java:144-180: every commit is a
  * snapshot, so the table's history IS a change stream).
  *
  * `spark.read.option("start-snapshot-id", a)[.option("end-snapshot-id", b)]
  * .table("cat.ns.t$changes")` returns the data columns plus
  * `_change_type` ('insert' | 'delete'; an update is a delete+insert
  * pair) and `_change_ordinal` (1-based position of the producing
  * commit inside the range — sequence-derived, so deterministic across
  * runs, unlike snapshot ids).
  *
  * Cost model per snapshot in the range:
  *  - `append` → reads ONLY the files that commit added (O(increment));
  *  - `replace` (compaction) → emits nothing by definition: it moves
  *    bytes, not rows;
  *  - merge-on-read row-level ops (no data file removed) → the added
  *    data files' rows as inserts, and as deletes the parent rows the
  *    commit's new delete files remove ([[Mor.removedRows]]: one scan
  *    of just the parent files those deletes may reach, no join);
  *  - copy-on-write row-level ops (a data file removed) → a two-sided
  *    `exceptAll` diff of the adjacent snapshot STATES: two scans + a
  *    shuffle of the table.
  *
  * The range walk itself lives in [[Changes.between]] so the streaming
  * CDC source ([[graft.streaming.GraftCdcSource]]) can replay the same
  * diff per micro-batch offset range.
  */
class ChangesTable(tblName: String, warehouse: String, meta: TableMeta)
  extends Table with SupportsRead {

  private def dataSchema: StructType = TableMeta.schemaToSpark(meta.schema)

  override def name(): String = tblName

  override def schema(): StructType = Changes.outputSchema(meta)

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val start = Option(options.get("start-snapshot-id")).getOrElse(
      throw new IllegalArgumentException(
        s"$tblName requires option start-snapshot-id (exclusive lower bound)"))
    val end = Option(options.get("end-snapshot-id"))
    val sch = schema()
    () => new V1Scan {
      override def readSchema(): StructType = sch
      override def toV1TableScan[T <: BaseRelation with TableScan](ctx: SQLContext): T =
        new ChangesRelation(ctx, warehouse, meta, sch, start, end).asInstanceOf[T]
    }
  }
}

object Changes {

  def outputSchema(meta: TableMeta): StructType =
    StructType(TableMeta.schemaToSpark(meta.schema).fields ++ Seq(
      StructField("_change_type", StringType, nullable = false),
      StructField("_change_ordinal", IntegerType, nullable = false)))

  /** Iceberg's `compute_updates` for the changelog view: refine raw
    * per-commit insert/delete rows into update pre/post-images.
    * Two passes, both pure window functions (one shuffle each, scales
    * like any keyed window at 100 TB — no self-join, no collect):
    *
    *  1. CARRY-OVER removal. A copy-on-write commit rewrites whole
    *     file groups, so unchanged rows surface as an identical
    *     (delete, insert) pair in the same commit. Pairs are cancelled
    *     with exact multiplicity: within each (all data columns,
    *     ordinal) group, min(#inserts, #deletes) rows of EACH type are
    *     dropped (row_number within type > min survives) — a row that
    *     legitimately appears k times keeps its surplus.
    *  2. UPDATE pairing. Within each (identifier columns, ordinal)
    *     group that still has BOTH types, deletes become
    *     `update_preimage` and inserts `update_postimage`; unmatched
    *     rows keep their raw type. Identifier columns must identify a
    *     row within one commit (Iceberg's identifier-field contract).
    *
    * `minOrdinal` leaves rows with `_change_ordinal < minOrdinal`
    * untouched — no cancel, no pairing, no identifier check. The CDC
    * source passes 2 for a from-zero batch: its ordinal 1 is either
    * the table's FIRST commit (inserts into an empty table — nothing
    * to pair) or the SYNTHETIC genesis state (multiple expired
    * commits collapsed to one insert-only ordinal), and the
    * per-commit identifier-uniqueness check is meaningless on a
    * collapsed ordinal — two live rows sharing identifier values
    * across DIFFERENT commits are not a per-commit violation, and
    * raising there would permanently brick a fresh stream's batch 0.
    * Batch callers (ordinals are always real commits) keep the
    * default 1 = refine everything. */
  def computeUpdates(df: DataFrame, idCols: Seq[String],
      minOrdinal: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(idCols.nonEmpty, "compute_updates needs identifier_columns")
    val dataCols = df.columns.filterNot(c =>
      c == "_change_type" || c == "_change_ordinal").toIndexedSeq
    val missing = idCols.filterNot(dataCols.contains)
    require(missing.isEmpty, s"identifier columns not in schema: ${missing.mkString(", ")}")
    if (minOrdinal > 1)
      // split, not gate: a changelog frame is a UNION of per-commit
      // legs tagged with LITERAL ordinals, so these filters constant-
      // fold and prune whole legs — the exempt rows (a genesis
      // catch-up's bulk) never enter the two window shuffles at all,
      // where an expression gate would shuffle them for a no-op
      return df.filter(col("_change_ordinal") < minOrdinal)
        .unionAll(computeUpdates(
          df.filter(col("_change_ordinal") >= minOrdinal), idCols))
    val wAll = Window.partitionBy(
      (dataCols :+ "_change_ordinal").map(col): _*)
    val wAllTyped = Window.partitionBy(
      (dataCols ++ Seq("_change_ordinal", "_change_type")).map(col): _*)
      .orderBy(lit(1))
    val wId = Window.partitionBy((idCols :+ "_change_ordinal").map(col): _*)
    def n(t: String, w: org.apache.spark.sql.expressions.WindowSpec) =
      sum(when(col("_change_type") === t, 1).otherwise(0)).over(w)
    df
      .withColumn("__rn", row_number().over(wAllTyped))
      .withColumn("__pairs",
        least(n("insert", wAll), n("delete", wAll)))
      .filter(col("__rn") > col("__pairs")) // cancel carry-over pairs
      .withColumn("__ni", n("insert", wId))
      .withColumn("__nd", n("delete", wId))
      // identifier contract (Iceberg's rule): within one commit the
      // identifier columns name AT MOST one surviving row per side —
      // an unbalanced pairing (2 inserts vs 1 delete) would emit a
      // structurally corrupt update stream, so refuse loudly
      .withColumn("_change_type",
        when(col("__ni") > 1 || col("__nd") > 1, raise_error(concat(
          lit(s"compute_updates: identifier columns (${idCols.mkString(", ")}) " +
            "do not uniquely identify a row within commit ordinal "),
          col("_change_ordinal").cast("string"))))
          .when(col("__ni") > 0 && col("__nd") > 0 &&
            col("_change_type") === "delete", "update_preimage")
          .when(col("__ni") > 0 && col("__nd") > 0 &&
            col("_change_type") === "insert", "update_postimage")
          .otherwise(col("_change_type")))
      .drop("__rn", "__pairs", "__ni", "__nd")
  }

  /** The delete files `snap` ADDED over `prev` — the ONE definition
    * of the added-delete-list diff, shared by the changelog read
    * below, CDC admission ([[graft.streaming.GraftCdcSource]]'s
    * morBudget), and the `unit:"deleted"` replay path
    * (addedPosDeletes): the three must never disagree on what counts
    * as an added delete file, or a checkpoint replay could re-bind
    * slice indices to a different list than admission seeded. */
  def addedDeleteFiles(prev: Option[Snapshot], snap: Snapshot): Seq[DataFile] = {
    val prevDels = prev.map(_.deleteFiles.map(_.path).toSet).getOrElse(Set.empty)
    snap.deleteFiles.filterNot(d => prevDels(d.path))
  }

  /** Materialized state of one snapshot: its files minus its deletes
    * (None = the empty pre-genesis state). */
  private def state(spark: SparkSession, ops: TableOps, meta: TableMeta,
      snap: Option[Snapshot]): DataFrame =
    Mor.liveRows(spark, ops, meta, snap.map(ops.allFiles).getOrElse(Nil),
      snap.map(_.deleteFiles).getOrElse(Nil))

  /** Loud replay-base guards, shared by [[between]] and the CDC
    * split path ([[graft.streaming.GraftCdcSource]]'s
    * `assertSplitContiguous`) — a slice batch bypasses [[between]],
    * so its guard must be the SAME code, not a synchronized copy
    * (same rationale as [[graft.meta.TableMeta.lineageWindowFrom]]). */
  def requireRetainedBase(meta: TableMeta, fromSeq: Long): Unit =
    if (fromSeq > 0 && !meta.snapshots.exists(_.sequenceNumber == fromSeq))
      throw new IllegalStateException(
        s"changelog start snapshot (seq $fromSeq) has been expired: a replay " +
          s"from it would re-emit or drop already-delivered changes; restart " +
          s"the stream from a retained snapshot (oldest retained seq: " +
          s"${meta.snapshots.map(_.sequenceNumber).minOption.getOrElse(0L)})")

  /** The non-linear-history (rollback) diagnosis: the walk from
    * `endSnap` reached genesis without passing `fromSeq`, so the base
    * is retained but not an ANCESTOR — a retention message would send
    * the operator chasing the wrong knob. */
  def requireLinearBase(w: graft.meta.LineageWindow, fromSeq: Long,
      endSnap: Snapshot): Unit =
    if (w.base.isEmpty && fromSeq > 0)
      throw new IllegalStateException(
        s"changelog base (seq $fromSeq) is not an ancestor of the end " +
          s"snapshot ${endSnap.snapshotId} (seq ${endSnap.sequenceNumber}): " +
          "the history is not linear past it (rollback); restart the stream")

  /** Change rows produced by the commits in (fromSeq, toSeq], tagged
    * with `_change_type` and a 1-based `_change_ordinal` within the
    * range. None when the range emits nothing. fromSeq = 0 diffs from
    * the empty table (genesis), so a CDC stream's first batch replays
    * the whole current state as inserts.
    *
    * The commit chain is resolved by walking `parentId` LINEAGE from
    * the end snapshot (not by filtering the sequence-number range): on
    * a linear history the two are identical, but after `rollbackTo`
    * plus new commits this diffs each commit against its ACTUAL
    * parent, never an abandoned snapshot. Rows emitted by a lineage
    * that was later rolled back are NOT retracted — roll back under a
    * live CDC stream and the stream reflects only the surviving
    * lineage from that point on.
    *
    * Fails LOUDLY when the replay base is gone: if fromSeq names an
    * expired snapshot, the diff would silently re-emit or drop
    * already-delivered changes — so it throws instead, matching the
    * reference's stance that a stream whose start snapshot has been
    * expired errors rather than guesses. A GENESIS replay
    * (fromSeq = 0) meeting a truncated chain is different: nothing
    * has been delivered yet, and retained snapshots keep their data
    * files, so diffing the oldest retained lineage ancestor against
    * the EMPTY table emits exactly the current surviving state — the
    * walk stops there and that ancestor's effective state (deletes
    * applied) streams out as the first batch of inserts, so a fresh
    * CDC stream can always start on a table that has run
    * expireSnapshots.
    *
    * `allowSyntheticGenesis` gates that fallback, because "fromSeq = 0"
    * alone cannot distinguish a FRESH stream from a checkpointed
    * stream REPLAYING batch 0: if expireSnapshots ran between the
    * original batch-0 delivery and a crash-replay, the replayed batch
    * would carry the same NET state but collapse intermediate
    * insert+delete pairs the original batch spelled out — silently
    * different rows for an append/non-idempotent sink. Batch one-shot
    * readers ($changes scans) have no replay to be deterministic
    * against and keep the default `true`; the streaming CDC source
    * ([[graft.streaming.GraftCdcSource]]) passes `false` exactly when
    * its checkpoint shows an uncommitted batch 0 pending replay, so
    * the genesis replay fails as loudly as any other truncated replay.
    */
  def between(spark: SparkSession, ops: TableOps,
      meta: TableMeta, fromSeq: Long, toSeq: Long,
      allowSyntheticGenesis: Boolean = true): Option[DataFrame] = {
    val dataSchema = TableMeta.schemaToSpark(meta.schema)
    if (toSeq <= fromSeq) return None
    requireRetainedBase(meta, fromSeq)
    val toSnap = meta.snapshots.find(_.sequenceNumber == toSeq).getOrElse(
      throw new IllegalArgumentException(s"no snapshot with sequence number $toSeq"))
    // the walk is the shared kernel ([[TableMeta.lineageWindowFrom]]);
    // the POLICY below — when a cut chain means synthetic genesis vs a
    // loud failure — is the changelog's own
    val w = meta.lineageWindowFrom(toSnap, fromSeq)
    // genesis replay whose chain hit an expired ancestor: the oldest
    // retained lineage snapshot gets diffed against empty instead
    val syntheticGenesis = w.truncatedParent match {
      case None =>
        requireLinearBase(w, fromSeq, toSnap)
        false
      case Some(pid) =>
        val s = w.chain.head // the snapshot whose parent expired
        if (fromSeq == 0 && allowSyntheticGenesis)
          // nothing delivered yet, so no re-emit/drop hazard: let s
          // replay its full surviving state
          true
        else if (fromSeq == 0) throw new IllegalStateException(
          s"changelog chain is TRUNCATED under a genesis-batch REPLAY: " +
            s"snapshot ${s.snapshotId} (seq ${s.sequenceNumber}) has parent " +
            s"$pid which is no longer retained, so the replayed batch 0 " +
            "would collapse already-delivered insert+delete pairs into net " +
            "state — different rows than first delivered. Restart the " +
            "stream with a fresh checkpoint, or opt in to net-state replay " +
            "with option allow-synthetic-genesis=true if the sink is " +
            "idempotent")
        else throw new IllegalStateException(
          s"changelog chain is TRUNCATED: snapshot ${s.snapshotId} (seq " +
            s"${s.sequenceNumber}) has parent $pid which is no longer " +
            s"retained — a replay from seq $fromSeq would silently drop the " +
            "expired commits' rows; restart the stream from a retained snapshot")
    }
    val chain = w.chain

    val dataCols = dataSchema.fieldNames.map(col).toIndexedSeq
    def tag(df: DataFrame, typ: String, ord: Int): DataFrame =
      df.select(dataCols: _*)
        .withColumn("_change_type", lit(typ))
        .withColumn("_change_ordinal", lit(ord))

    var prev: Option[Snapshot] = w.base
    val parts = chain.zipWithIndex.flatMap { case (snap, i) =>
      val ord = i + 1
      if (syntheticGenesis && i == 0) {
        // the oldest retained lineage ancestor vs the empty table:
        // its EFFECTIVE state (inherited files included, deletes
        // applied) is exactly the surviving state the expired
        // ancestors left behind — the append fast path below would
        // wrongly skip inherited files here
        prev = Some(snap)
        Seq(tag(state(spark, ops, meta, Some(snap)), "insert", ord))
      } else {
      // appends never remove files and their added set is exactly the
      // files stamped with their own seq — the seq-pruned chunk walk
      // finds them without materializing either snapshot; the full
      // lists (lazy, chunk-cached) are only paid by row-level commits
      lazy val prevFiles = prev.map(ops.allFiles).getOrElse(Nil)
      lazy val snapFiles = ops.allFiles(snap)
      lazy val addedData =
        if (snap.operation == "append") ops.addedFiles(snap)
        else {
          val prevPaths = prevFiles.map(_.path).toSet
          snapFiles.filterNot(f => prevPaths(f.path))
        }
      lazy val removedData = {
        val snapPaths = snapFiles.map(_.path).toSet
        prevFiles.exists(f => !snapPaths(f.path))
      }
      val prevDeleteFiles = prev.map(_.deleteFiles).getOrElse(Nil)
      val addedDels = addedDeleteFiles(prev, snap)
      def readAdded: Seq[DataFrame] =
        if (addedData.isEmpty) Nil
        else Seq(tag(
          Mor.liveRows(spark, ops, meta, addedData, Nil), "insert", ord))
      val out: Seq[DataFrame] = snap.operation match {
        case "append" => readAdded
        case "replace" => Nil // compaction rewrites bytes, not rows
        case _ if !removedData =>
          // merge-on-read commit (no data file removed): inserts off the
          // added files, deletes = the parent rows the new delete files
          // remove — never the two-sided state diff, which keeps a CDC
          // tail over a trickle-updated 100 TB table incremental
          readAdded ++ (if (addedDels.isEmpty) Nil else Seq(tag(
            Mor.removedRows(spark, ops, meta, prevFiles, prevDeleteFiles, addedDels),
            "delete", ord)))
        case _ =>
          val cur = state(spark, ops, meta, Some(snap))
          val par = state(spark, ops, meta, prev)
          Seq(tag(cur.exceptAll(par), "insert", ord),
            tag(par.exceptAll(cur), "delete", ord))
      }
      prev = Some(snap)
      out
      }
    }
    parts.reduceOption(_.unionAll(_))
  }
}

class ChangesRelation(ctx: SQLContext, warehouse: String, meta: TableMeta,
    outSchema: StructType, start: String, end: Option[String])
  extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = ctx
  override def schema: StructType = outSchema

  // chunk loads for the per-snapshot file lists (adjacent snapshots
  // share most chunks, so the cache makes the walk O(unique chunks))
  private val ops = new TableOps(warehouse, meta.location)

  // the diffed state is a full Catalyst plan producing InternalRows;
  // hand them through the V1 boundary unconverted (no per-row
  // InternalRow -> Row -> InternalRow round-trip)
  override def needConversion: Boolean = false

  // changed-file bytes upper-bounds the diff volume: without this the
  // V1 boundary reports Long.Max and a small changelog never broadcasts
  // (dataBytes sums the chunks' byte keys — no chunk is loaded)
  override def sizeInBytes: Long =
    meta.snapshots.map(_.dataBytes).sum max 1L

  private def resolve(v: String): Snapshot =
    (scala.util.Try(v.toLong).toOption match {
      case Some(n) => meta.snapshot(n).orElse(meta.snapshots.find(_.sequenceNumber == n))
      case None => meta.refs.get(v).flatMap(r => meta.snapshot(r.snapshotId))
    }).getOrElse(throw new IllegalArgumentException(s"no snapshot or ref '$v'"))

  override def buildScan(): RDD[Row] = {
    val spark = ctx.sparkSession
    val from = resolve(start)
    val to = end.map(resolve).orElse(meta.currentSnapshot).getOrElse(
      throw new IllegalArgumentException("table has no snapshots"))
    Changes.between(spark, ops, meta,
        from.sequenceNumber, to.sequenceNumber)
      .map(_.queryExecution.toRdd.asInstanceOf[RDD[Row]])
      .getOrElse(spark.sparkContext.emptyRDD[Row])
  }
}
