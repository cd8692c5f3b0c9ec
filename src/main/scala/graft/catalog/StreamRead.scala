package graft.catalog

import graft.meta.DataFile
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Streaming source over the snapshot chain: `spark.readStream
  * .table("cat.ns.t")` tails APPEND commits as micro-batches. Offsets
  * are commit sequence numbers — exactly-once because a batch is the
  * files added in (startSeq, endSeq], replayable from the metadata
  * alone. A fresh stream's first deliverable is the oldest retained
  * snapshot's STATE, read with that snapshot's live deletes applied.
  * `replace` (compaction) snapshots are skipped: they move bytes, not
  * rows. Row-level commits have no append-only interpretation and FAIL
  * the stream unless `streaming-skip-nonappend=true` (the `$changes`
  * table and `graft-cdc` are the CDC alternatives). Admission runs
  * through the shared [[graft.streaming.AdmissionPlanner]]; each
  * micro-batch is read by a [[MergeOnReadScan]] over its pinned files.
  * This is the "train on what's new" tail a 100 TB ingest pipeline
  * runs continuously; each trigger costs O(new files).
  */
class GraftMicroBatchStream(table: GraftTable, options: CaseInsensitiveStringMap,
    required: StructType, pushedExprs: Seq[Expression]) extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
  with graft.streaming.SliceAwareReporting with graft.streaming.AdmissionPolicy {

  import graft.streaming.{Admission, Split}
  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  private val skipNonAppend =
    Option(options.get("streaming-skip-nonappend")).exists(_.toBoolean)

  // `branch` option: tail a BRANCH head instead of main — the read
  // half of write-audit-publish (auditors stream exactly what landed
  // on the audit branch, main readers see none of it). The lineage
  // machinery below needs no special case: batches anchor at the
  // branch head and walk ITS parent chain, so main-only commits are
  // excluded from a branch tail just like branch commits are excluded
  // from a main tail. Tags are refused — a tag never moves, so
  // "tailing" one is a misread of the API (batch VERSION AS OF is the
  // right spelling).
  private val branch = Option(options.get("branch"))
  private def headSeq(meta: graft.meta.TableMeta): Long = branch match {
    case None => meta.currentSnapshot.map(_.sequenceNumber).getOrElse(0L)
    case Some(b) => meta.refs.get(b) match {
      case Some(r) if r.refType == "branch" =>
        meta.snapshot(r.snapshotId).map(_.sequenceNumber).getOrElse(
          throw new IllegalStateException(
            s"branch $b points at expired snapshot ${r.snapshotId}"))
      case Some(_) => throw new IllegalArgumentException(
        s"ref $b is a tag; tags never move — read it with VERSION AS OF")
      case None => throw new IllegalArgumentException(s"no branch $b")
    }
  }

  // rate limits: cap each trigger's admission. The tail is
  // snapshot-granular while snapshots fit the caps, and any admission
  // unit that alone exceeds them splits at FILE granularity: the
  // fresh-start genesis state (`{"seq":N,"idx":K}`) and a single
  // oversized append (`{"seq":N,"idx":K,"unit":"added"}`), so a
  // 100 TB backlog drains as ⌈files/cap⌉ bounded micro-batches
  private val planner = new graft.streaming.AdmissionPlanner(
    Option(options.get("max-files-per-trigger")).map(_.toInt),
    Option(options.get("max-rows-per-trigger")).map(_.toLong))

  override def prepareForTriggerAvailableNow(): Unit =
    planner.pinAvailableNow(headSeq(freshMeta))

  private def freshMeta = table.ops.refresh()
    .map(_._2).getOrElse(table.meta)

  override def initialOffset(): Offset = SeqOffset(0L)

  override def latestOffset(): Offset = SeqOffset(planner.head(headSeq(freshMeta)))

  /** The configured caps (see [[graft.streaming.ReadLimits]]). */
  override def getDefaultReadLimit: ReadLimit = planner.readLimit

  // slice-aware reportLatestOffset is [[graft.streaming.SliceAwareReporting]]
  override protected def headOffsetForReport(): Offset = latestOffset()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val meta = freshMeta
    val end = SeqOffset(planner.plan(this, meta, headSeq(meta),
      start.asInstanceOf[SeqOffset].slice, limit))
    recordPlannedEnd(end, end.fileIdx >= 0)
    end
  }

  /** An append costs its added files and rows and splits as its ADDED
    * set; every other commit is free (the batch skips or refuses it). */
  override def admission(meta: graft.meta.TableMeta, base: Long,
      s: graft.meta.Snapshot): Admission =
    if (s.operation != "append") Admission()
    else {
      val added = table.ops.addedFiles(s)
      Admission(added.size, added.map(_.records).sum, split = Some(Split(SliceOffsets.UnitAdded,
        () => planner.list(s.sequenceNumber, SliceOffsets.UnitAdded)(added))))
    }

  /** One admission UNIT's file list in a stable order (sorted by
    * path): the genesis snapshot's full STATE or an oversized append's
    * ADDED set — the offset carries which, because the same seq can
    * legitimately be either depending on where the stream started.
    * Memoized in the planner; a mid-drain expiry of the snapshot fails
    * loudly (the slice indices would otherwise silently re-bind to
    * different files). */
  override def unitFiles(meta: graft.meta.TableMeta, seq: Long,
      unit: String): IndexedSeq[DataFile] = {
    val s = unitSnap(meta, seq)
    planner.list(seq, unit)(
      if (unit == SliceOffsets.UnitAdded) table.ops.addedFiles(s) else table.ops.allFiles(s))
  }

  private def unitSnap(meta: graft.meta.TableMeta, seq: Long): graft.meta.Snapshot =
    meta.snapshots.find(_.sequenceNumber == seq).getOrElse(
      throw new IllegalStateException(
        s"streaming catch-up snapshot (seq $seq) is no longer retained; " +
          "retention must cover streaming lag"))

  override def deserializeOffset(json: String): Offset =
    SliceOffsets.parse(json)
      .collect {
        // the "rows" unit is CDC-only; a table-tail checkpoint can
        // never contain it, so it is as unreadable here as garbage
        case (s, i, SliceOffsets.UnitState) => SeqOffset(s, i)
        case (s, i, SliceOffsets.UnitAdded) => SeqOffset(s, i, added = true)
      }
      .getOrElse(throw new IllegalArgumentException(s"unreadable offset: ${json.trim}"))

  /** Snapshots in (startSeq, endSeq] that are ON MAIN LINEAGE.
    * `meta.snapshots` is the table's whole snapshot SET: branch
    * (write-audit-publish) commits and WAP-staged (`spark.wap.id`)
    * commits share the table's sequence space WITHOUT being main
    * history, so the old plain seq-range filter would leak unpublished
    * audit rows into the stream. Lineage is resolved by walking
    * `parentId` from the endSeq snapshot (the same rule `$changes`
    * uses): for a live batch that anchor IS the current head, and for
    * a checkpoint replay it is the batch's own head — immune to
    * branch/staging motion that happened since. A parent link into an
    * expired snapshot with in-range snapshots still unclassified fails
    * loudly (delivering them might replay someone's audit branch,
    * skipping them might lose main data): retention must cover
    * streaming lag, as with any table-tail source. */
  override def lineage(meta: graft.meta.TableMeta, startSeq: Long,
      endSeq: Long): List[graft.meta.Snapshot] = {
    if (endSeq <= startSeq) return Nil
    val anchor = meta.snapshots.find(_.sequenceNumber == endSeq).getOrElse(
      throw new IllegalStateException(
        s"streaming batch end (seq $endSeq) has no retained snapshot; " +
          "retention must cover streaming lag"))
    // the walk is the shared kernel; the POLICY below (when a cut
    // chain is fatal) is this source's own
    val w = meta.lineageWindowFrom(anchor, startSeq)
    val walked = w.chain.map(_.snapshotId).toSet
    val unclassified = meta.snapshots.filter(s =>
      s.sequenceNumber > startSeq && s.sequenceNumber <= endSeq &&
        !walked(s.snapshotId))
    // A broken walk is fatal — but only for a RESUMING stream
    // (startSeq > 0), which was promised contiguous delivery from its
    // checkpointed offset. Two distinct hazards:
    //  - retained in-range snapshots we can't classify (delivering
    //    might replay someone's audit branch, skipping might drop
    //    main data);
    //  - a SEQUENCE GAP below the break (sequence numbers are dense —
    //    every commit takes lastSequenceNumber+1 — so stopping above
    //    startSeq+1 proves snapshots in the window were expired; if
    //    any were main history their rows would silently vanish from
    //    the stream, and we cannot tell).
    // A FRESH start (startSeq == 0) owes nothing before the table's
    // retained lineage: tables routinely age out ancient history, and
    // refusing to ever start a stream on them would make every
    // long-lived table unstreamable. The first batch is the retained
    // anchor lineage — the same initial-catch-up semantics the CDC
    // source's genesis handling defines.
    // The only clean break is genesis (parentId=None, truncatedParent
    // stays empty) — which also covers a `snapshot`-procedure copy,
    // whose single snapshot legitimately starts above seq 1.
    if (w.truncatedParent.isDefined && startSeq > 0 &&
        (unclassified.nonEmpty || w.chain.head.sequenceNumber > startSeq + 1))
      throw new IllegalStateException(
        s"streaming lineage walk hit an expired parent below seq " +
          s"${w.chain.head.sequenceNumber} with offsets back to $startSeq still " +
          s"owed (${unclassified.size} retained snapshot(s) unclassified): " +
          "cannot tell expired main history from unpublished branch/WAP " +
          "work — retention must cover streaming lag")
    w.chain
  }

  /** A batch's data files and the deletes that apply to them. Only a
    * genesis STATE carries deletes: its snapshot's live ones, so a
    * fresh stream delivers live rows. The files a later append added
    * have no applicable delete (position and equality deletes committed
    * at or before the genesis seq only target older files), and later
    * row-level commits are skipped or refused, not applied. */
  private def batchFiles(meta: graft.meta.TableMeta, start: SeqOffset,
      end: SeqOffset): (Seq[DataFile], Seq[DataFile]) = {
    // [from, until) of seq's unit, with the state's deletes
    def unit(seq: Long, added: Boolean, from: Int, until: Int) = {
      val fs = unitFiles(meta, seq, if (added) SliceOffsets.UnitAdded else SliceOffsets.UnitState)
        .slice(from, until)
      (fs, if (added) Nil else Mor.relevantDeletes(unitSnap(meta, seq).deleteFiles, fs))
    }
    if (end.seq < start.seq) (Nil, Nil)
    else if (end.fileIdx >= 0)
      // mid-unit batch: a contiguous slice of the unit (start is its
      // lower bound, or an earlier slice of the SAME unit)
      unit(end.seq, end.added,
        if (start.seq == end.seq) math.max(start.fileIdx, 0) else 0, end.fileIdx)
    else if (start.fileIdx >= 0) {
      // final unit slice plus the incremental tail in one batch
      val (fs, ds) = unit(start.seq, start.added, start.fileIdx, Int.MaxValue)
      (fs ++ windowFiles(meta, start.seq, end.seq), ds)
    } else if (start.seq == 0 && end.seq > 0) {
      // fresh start: the genesis STATE, then the window above it
      val g = lineage(meta, 0, end.seq).head
      val (fs, ds) = unit(g.sequenceNumber, added = false, 0, Int.MaxValue)
      (fs ++ windowFiles(meta, g.sequenceNumber, end.seq), ds)
    } else (windowFiles(meta, start.seq, end.seq), Nil)
  }

  /** The files the appends in (startSeq, endSeq] added. A file ADDED by
    * snapshot s carries s's sequence number; listing from s itself
    * keeps the batch replayable even after later compactions drop the
    * file from the current snapshot (retention must cover streaming
    * lag, as with any table-tail source). */
  private def windowFiles(meta: graft.meta.TableMeta, startSeq: Long,
      endSeq: Long): Seq[DataFile] = {
    val snaps = lineage(meta, startSeq, endSeq)
    val bad = snaps.filter(s => s.operation != "append" && s.operation != "replace")
    if (bad.nonEmpty && !skipNonAppend)
      throw new IllegalStateException(
        s"streaming read hit non-append snapshot(s) ${bad.map(_.operation).distinct.mkString(",")} " +
          s"at seq ${bad.map(_.sequenceNumber).mkString(",")}; " +
          "set streaming-skip-nonappend=true to skip them or read the $changes table for CDC")
    snaps.filter(_.operation == "append").flatMap(table.ops.addedFiles)
  }

  // the scan that planned the latest batch's partitions: Spark asks for
  // the reader factory without offsets, and Spark 4.1's
  // MicroBatchScanExec plans a batch's partitions before it takes the
  // factory (both in supportsColumnar and in inputRDD)
  @volatile private var batchScan: MergeOnReadScan = _

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    // the replay-recording site (see SliceAwareReporting.recordPlannedEnd)
    val en = end.asInstanceOf[SeqOffset]
    recordPlannedEnd(en, en.fileIdx >= 0)
    val meta = freshMeta
    val (files, deletes) = batchFiles(meta, start.asInstanceOf[SeqOffset], en)
    // the stream's schema is pinned at start, but the name mapping is
    // the FRESH one: a first add_files can land mid-stream, and its
    // files must plan against the mapping that import just froze
    val pinned = new GraftTable(table.catalogName, table.ident, table.ops,
      table.meta.copy(properties = meta.properties), table.metaVersion)
    batchScan = new MergeOnReadScan(pinned, options, required, pushedExprs, files, deletes)
    batchScan.planInputPartitions()
  }

  /** The latest batch's factory; before any batch, an empty scan's
    * (it reads no file list). */
  override def createReaderFactory(): PartitionReaderFactory =
    Option(batchScan).getOrElse(
      new MergeOnReadScan(table, options, required, pushedExprs, Nil, Nil)).createReaderFactory()

  override def commit(end: Offset): Unit =
    // offsets back to pure seqs = the catch-up drain is over: release
    // the memoized O(unit-files) list (a later recovery replay of a
    // sliced range just recomputes it)
    end match {
      case SeqOffset(_, idx, _) if idx < 0 => planner.release()
      case _ => ()
    }

  override def stop(): Unit = ()
}

/** Streaming offset: `seq` = last fully-delivered commit sequence
  * number; `fileIdx >= 0` marks a PARTIAL admission unit — the first
  * `fileIdx` files (path order) of that unit have been delivered,
  * where the unit is the oldest retained snapshot's full STATE
  * (`added = false`, a fresh start's genesis catch-up) or a single
  * oversized append's ADDED set (`added = true`). The flag is part of
  * the offset because the same seq can be either depending on where
  * the stream started, and a checkpoint replay must resolve the slice
  * from metadata alone. Partial offsets arise only under
  * max-files/rows-per-trigger; once the unit completes, offsets are
  * pure sequence numbers again. The JSON stays readable by and from
  * pre-split checkpoints ({"seq":N} ⇔ fileIdx = -1; {"seq":N,"idx":K}
  * keeps meaning a genesis-state slice). */
case class SeqOffset(seq: Long, fileIdx: Int = -1, added: Boolean = false) extends Offset {
  private def unit = if (added) SliceOffsets.UnitAdded else SliceOffsets.UnitState
  override def json(): String = SliceOffsets.render(seq, fileIdx, unit)
  def slice: graft.streaming.Slice = graft.streaming.Slice(seq, fileIdx, unit)
}

object SeqOffset {
  def apply(s: graft.streaming.Slice): SeqOffset =
    SeqOffset(s.seq, s.fileIdx, s.unit == SliceOffsets.UnitAdded)
}

/** Native streaming SINK (`writeStream.toTable`): every micro-batch
  * epoch stages parquet under its own subdirectory through the fanout
  * writer (files stay partition-local) and commits one APPEND snapshot
  * through the OCC protocol. Exactly-once: the snapshot summary
  * records (streaming-query-id, streaming-epoch-id), and a replayed
  * epoch — Spark retries commits after driver failure — is detected
  * against the committed chain and skipped instead of double-applied.
  */
class GraftStreamingWrite(table: GraftTable, queryId: String,
    rowSchema: StructType)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}

  private val staging = Staging(table.meta, table.ops.warehouse, "data")

  private def epoch(epochId: Long) = new Staging(s"${staging.abs}/ep-$epochId")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(staging.abs, Writer.fileSpec(table, rowSchema))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staging = epoch(epochId)
    // replayed epoch after a driver restart → already in the chain
    val (_, meta) = table.ops.refresh().getOrElse((0, table.meta))
    val committed = meta.snapshots.exists(s =>
      s.summary.get("streaming-query-id").contains(queryId) &&
        s.summary.get("streaming-epoch-id").exists(_.toLong >= epochId))
    if (committed) { staging.discard(); return }
    staging.discardOnFailure(Writer.commitSnapshot(table, GraftCommitMessage.files(messages),
      overwrite = false, operation = "append", carryover = Nil,
      extraSummary = Map(
        "streaming-query-id" -> queryId,
        "streaming-epoch-id" -> epochId.toString)))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    epoch(epochId).discard()
}

class GraftStreamingWriterFactory(stagingAbs: String, spec: FileSpec)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new GraftDataWriter(s"$stagingAbs/ep-$epochId", s"part-$partitionId-$taskId", spec)
}
