package graft.catalog

import graft.meta.{DataFile, RelPaths}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.GraftManifestIndex
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Streaming source over the snapshot chain: `spark.readStream
  * .table("cat.ns.t")` tails APPEND commits as micro-batches. Offsets
  * are commit sequence numbers — exactly-once because a batch is the
  * files added in (startSeq, endSeq], replayable from the metadata
  * alone. `replace` (compaction) snapshots are skipped: they move
  * bytes, not rows. Row-level commits have no append-only
  * interpretation and FAIL the stream unless
  * `streaming-skip-nonappend=true` (the `$changes` table is the CDC
  * alternative). This is the "train on what's new" tail a 100 TB
  * ingest pipeline runs continuously; each trigger costs O(new files).
  */
class GraftMicroBatchStream(table: GraftTable, options: CaseInsensitiveStringMap,
    required: StructType, pushedExprs: Seq[Expression]) extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
  with graft.streaming.SliceAwareReporting {

  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  // Trigger.AvailableNow: pin the end of the backlog at start; batches
  // then advance toward it (rate limits still apply per batch) and the
  // query stops once it's reached — later commits wait for the next run
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(headSeq(freshMeta))

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
  // rate limits: cap each trigger's admission. The incremental tail
  // is snapshot-granular while snapshots fit the caps (offsets remain
  // contiguous seq ranges, so batches stay replayable) — and ANY
  // admission unit that alone exceeds them splits at FILE granularity
  // via (seq, fileIdx) offsets: the FRESH-START catch-up (an aged
  // table's entire retained state, `{"seq":N,"idx":K}`) and likewise
  // a single oversized append commit (e.g. one 10 TB batch insert,
  // `{"seq":N,"idx":K,"unit":"added"}`), so a 100 TB backlog drains
  // as ⌈files/cap⌉ bounded micro-batches instead of one unbounded
  // catch-up batch. Only a single file larger than the cap is
  // unsplittable (it gets a batch of its own).
  private val maxFilesPerTrigger =
    Option(options.get("max-files-per-trigger")).map(_.toInt)
  private val maxRowsPerTrigger =
    Option(options.get("max-rows-per-trigger")).map(_.toLong)

  private def freshMeta = table.ops.refresh()
    .map(_._2).getOrElse(table.meta)

  override def initialOffset(): Offset = SeqOffset(0L)

  override def latestOffset(): Offset = {
    val cur = headSeq(freshMeta)
    SeqOffset(availableNowCap.fold(cur)(math.min(cur, _)))
  }

  /** Advertise the CONFIGURED caps (maxFiles/maxRows/composite) — not
    * `allAvailable()` — so progress metrics and AvailableNow limits see
    * the real rate limit; each trigger then derives its effective caps
    * from the limit the engine passes BACK to `latestOffset(start,
    * limit)`, which under Trigger.Once is `allAvailable()` = drain the
    * whole backlog uncapped ([[graft.streaming.ReadLimits]]). */
  override def getDefaultReadLimit: ReadLimit =
    graft.streaming.ReadLimits.configured(maxFilesPerTrigger, maxRowsPerTrigger)

  // slice-aware reportLatestOffset is [[graft.streaming.SliceAwareReporting]]
  override protected def headOffsetForReport()
      : org.apache.spark.sql.connector.read.streaming.Offset = latestOffset()

  /** One admission UNIT's file list in a stable order (sorted by
    * path) so (seq, fileIdx) offsets slice it reproducibly across
    * triggers, restarts, and checkpoint replays: the genesis
    * snapshot's full STATE (`added = false`) or an oversized append's
    * ADDED set (`added = true`) — the offset carries which, because
    * the same seq can legitimately be either depending on where the
    * stream started. Sequence numbers are dense and unique per table,
    * so the seq lookup is unambiguous; a mid-drain expiry of the
    * snapshot fails loudly (the slice indices would otherwise
    * silently re-bind to different files). Memoization, slice
    * admission (progress guarantee incl.), and the end-of-drain
    * release are the shared [[SliceDrain]] — commit() releases once
    * offsets return to pure seqs (the memo pins an O(unit-files)
    * DataFile list on the driver for the drain's duration — see
    * STREAMING.md's memory envelope note). The retention check stays
    * per trigger. */
  private val drain = new SliceDrain
  private def unitList(meta: graft.meta.TableMeta, seq: Long,
      added: Boolean): IndexedSeq[DataFile] = {
    val s = meta.snapshots.find(_.sequenceNumber == seq).getOrElse(
      throw new IllegalStateException(
        s"streaming catch-up snapshot (seq $seq) is no longer retained; " +
          "retention must cover streaming lag"))
    drain.list(seq, if (added) SliceOffsets.UnitAdded else SliceOffsets.UnitState)(
      contributed(s, genesis = !added))
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val end = planEnd(start.asInstanceOf[SeqOffset], limit)
    recordPlannedEnd(end, end.fileIdx >= 0)
    end
  }

  private def planEnd(st: SeqOffset, limit: ReadLimit): SeqOffset = {
    // effective caps come from the limit the engine PASSED, not the
    // option fields: normal triggers hand back getDefaultReadLimit
    // (== the configured caps), Trigger.Once hands allAvailable()
    // (uncapped — the whole backlog in one batch, mid-drain included)
    val (capFiles, capRows, _) = graft.streaming.ReadLimits.caps(
      limit, maxFilesPerTrigger, maxRowsPerTrigger, None)
    val meta = freshMeta
    val curSeq = availableNowCap.fold(headSeq(meta))(
      math.min(headSeq(meta), _))
    if (capFiles.isEmpty && capRows.isEmpty)
      // uncapped: everything available, including any genesis remainder
      return if (curSeq == st.seq && st.fileIdx < 0) st
             else SeqOffset(math.max(curSeq, st.seq))
    var files = 0L; var rows = 0L
    var effStart = st.seq
    if (st.fileIdx >= 0) {
      // mid-unit resume: keep draining the genesis state or the
      // oversized append's added set file-wise
      val list = unitList(meta, st.seq, st.added)
      val (next, f, r) = drain.admit(list, st.fileIdx, capFiles, capRows)
      if (next < list.size) return SeqOffset(st.seq, next, st.added)
      files += f; rows += r
    } else if (st.seq == 0 && curSeq > 0) {
      // fresh start: the oldest retained snapshot delivers STATE and
      // is split at file granularity (see unitList)
      val snaps = lineageWindow(meta, 0, curSeq)
      if (snaps.isEmpty) return st
      val g = snaps.head
      val list = unitList(meta, g.sequenceNumber, added = false)
      val (next, f, r) = drain.admit(list, 0, capFiles, capRows)
      if (next < list.size) return SeqOffset(g.sequenceNumber, next)
      files += f; rows += r
      effStart = g.sequenceNumber
    }
    if (curSeq <= effStart)
      return if (effStart != st.seq || st.fileIdx >= 0) SeqOffset(effStart) else st
    // incremental tail: snapshot-granular while snapshots fit the
    // caps; an append that alone exceeds them SPLITS at file
    // granularity when the trigger has consumed nothing yet (a
    // trigger that already spent budget closes instead — a unit never
    // piggybacks). Only a single over-cap FILE is unsplittable and
    // gets a batch of its own (admit's progress guarantee).
    val snaps = lineageWindow(meta, effStart, curSeq)
    var end = effStart
    var stop = false
    for (s <- snaps if !stop) {
      val added = if (s.operation == "append") contributed(s, genesis = false) else Nil
      val addedRows = added.map(_.records).sum
      val exceeds = capFiles.exists(m => files + added.size > m) ||
        capRows.exists(m => rows + addedRows > m)
      if (!exceeds) {
        files += added.size; rows += addedRows
        end = s.sequenceNumber
      } else if (end == effStart && files == 0 && rows == 0 && added.nonEmpty) {
        // seed the memo with the list already in hand — unitList would
        // re-materialize and re-sort the same added set on the miss
        val list = drain.list(s.sequenceNumber, SliceOffsets.UnitAdded)(added)
        val (next, f, r) = drain.admit(list, 0, capFiles, capRows)
        if (next < list.size) return SeqOffset(s.sequenceNumber, next, added = true)
        // the whole unit fit after all (one unsplittable file): admit
        // it; the next iteration's exceeds check closes the batch
        files += f; rows += r
        end = s.sequenceNumber
      } else stop = true
    }
    if (end == st.seq && st.fileIdx < 0) st else SeqOffset(end)
  }

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
  private def lineageWindow(meta: graft.meta.TableMeta, startSeq: Long,
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

  /** Files a snapshot contributes to its batch. Normally the files it
    * ADDED (stamped with its own seq). The OLDEST snapshot of a
    * fresh-start catch-up (startSeq == 0) instead contributes its FULL
    * cumulative state — the genesis batch: files that entered in
    * since-expired ancestors live on in the surviving snapshots'
    * lists but carry old seq stamps, so per-added delivery would
    * silently drop them (same rule for a `snapshot`-procedure copy,
    * whose single snapshot carries the source's stamps verbatim). On a
    * complete history the genesis commit's state IS its added set, so
    * the rule changes nothing there. A genesis snapshot with live MOR
    * deletes can't be served append-only — loud fail, `$changes` is
    * the CDC spelling. */
  private def contributed(s: graft.meta.Snapshot, genesis: Boolean): Seq[DataFile] =
    if (!genesis) table.ops.addedFiles(s)
    else {
      if (s.deleteFiles.nonEmpty) throw new IllegalStateException(
        s"fresh stream start: oldest retained snapshot ${s.snapshotId} carries " +
          "row-level delete files; an append-only tail cannot apply them — " +
          "compact the table once, or read the $changes table for CDC")
      table.ops.allFiles(s)
    }

  private def filesBetween(start: SeqOffset, end: SeqOffset): Seq[DataFile] = {
    if (end.seq < start.seq) return Nil
    val meta = freshMeta
    if (end.fileIdx >= 0)
      // mid-unit batch: a contiguous slice of the genesis state or an
      // oversized append's added set (start is the unit's lower bound,
      // or an earlier slice of the SAME unit)
      return unitList(meta, end.seq, end.added)
        .slice(if (start.seq == end.seq) math.max(start.fileIdx, 0) else 0, end.fileIdx)
    if (start.fileIdx >= 0)
      // final unit slice plus the incremental tail in one batch
      return unitList(meta, start.seq, start.added).drop(start.fileIdx) ++
        windowFiles(meta, start.seq, end.seq, stateAtStart = false)
    windowFiles(meta, start.seq, end.seq, stateAtStart = start.seq == 0)
  }

  private def windowFiles(meta: graft.meta.TableMeta, startSeq: Long,
      endSeq: Long, stateAtStart: Boolean): Seq[DataFile] = {
    if (endSeq <= startSeq) return Nil
    val snaps = lineageWindow(meta, startSeq, endSeq)
    // the genesis snapshot (oldest of a fresh-start catch-up) delivers
    // STATE, which is well-defined whatever operation produced it —
    // the non-append check applies to the incremental tail only
    val genesisId =
      if (stateAtStart) snaps.headOption.map(_.snapshotId) else None
    val bad = snaps.filter(s => !genesisId.contains(s.snapshotId) &&
      s.operation != "append" && s.operation != "replace")
    if (bad.nonEmpty && !skipNonAppend)
      throw new IllegalStateException(
        s"streaming read hit non-append snapshot(s) ${bad.map(_.operation).distinct.mkString(",")} " +
          s"at seq ${bad.map(_.sequenceNumber).mkString(",")}; " +
          "set streaming-skip-nonappend=true to skip them or read the $changes table for CDC")
    // a file ADDED by snapshot s carries s's sequence number; listing
    // from s itself keeps the batch replayable even after later
    // compactions drop the file from the current snapshot (retention
    // must cover streaming lag, as with any table-tail source)
    snaps.filter(s => genesisId.contains(s.snapshotId) || s.operation == "append")
      .flatMap(s => contributed(s, genesisId.contains(s.snapshotId)))
  }

  /** The vectorized parquet delegate for one resolution mode. Native
    * files resolve columns by field id; files imported by `add_files`
    * (`DataFile.nameMapped`) carry NO field ids and resolve through
    * the table's frozen name mapping instead — the streaming analog of
    * the batch path's [[Mor.liveRows]], deriving its read schema from
    * the same [[Mor.importSchema]] (positionally identical renames, so
    * reader output binds to the stream's attributes unchanged).
    * Filters are pushed only on the id-resolved side: a table that
    * ever ran add_files reports every predicate residual
    * ([[GraftScanBuilder.pushFilters]]), so Spark re-applies them
    * above — the mapped side just loses row-group skipping, never
    * rows. */
  private def delegate(files: Seq[DataFile], mapped: Boolean,
      mapping: Map[Int, String]): Scan = {
    val spark = org.apache.spark.sql.SparkSession.active
    val (tblSchema, reqSchema) =
      if (mapped)
        (Mor.importSchema(table.schema(), table.schema(), mapping),
          Mor.importSchema(required, table.schema(), mapping))
      else (table.schema(), required)
    GraftManifestIndex.delegateScan(spark, options, tblSchema,
      files.map(f => (RelPaths.absolutize(table.ops.warehouse, f.path), f.bytes)),
      if (mapped) Nil else pushedExprs, reqSchema)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    // the replay-recording site (see SliceAwareReporting.recordPlannedEnd)
    val en = end.asInstanceOf[SeqOffset]
    recordPlannedEnd(en, en.fileIdx >= 0)
    // the FRESH mapping, not the load-time one: a first add_files can
    // land mid-stream, and its files must plan against the mapping
    // that import just froze
    val mapping = freshMeta.nameMapping
    val files = filesBetween(start.asInstanceOf[SeqOffset],
      end.asInstanceOf[SeqOffset])
    if (files.isEmpty) return Array.empty
    val (nm, idful) = files.partition(_.nameMapped.contains(true))
    val idParts = if (idful.isEmpty) Array.empty[InputPartition]
      else delegate(idful, mapped = false, mapping).toBatch.planInputPartitions()
    val nmParts = if (nm.isEmpty) Array.empty[InputPartition]
      else delegate(nm, mapped = true, mapping).toBatch.planInputPartitions()
    idParts.map(p => StreamTaggedPartition(p, mapped = false): InputPartition) ++
      nmParts.map(p => StreamTaggedPartition(p, mapped = true))
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // The factory needs schema / options / pushed filters — NOT paths:
    // partitions carry their own files, so the delegates are built over
    // an EMPTY path list. (They used to be built over the head
    // snapshot's full file list, an O(head-files) manifest load per
    // trigger that the factory never read — real driver work for
    // nothing on a 1M-file table.)
    val mapping = freshMeta.nameMapping
    val idFactory =
      delegate(Nil, mapped = false, mapping).toBatch.createReaderFactory()
    // a table whose FRESH metadata has no name mapping cannot plan a
    // mapped partition this batch — don't pay a second scan build +
    // conf broadcast per micro-batch for a delegate that can't be
    // used. Fresh, not load-time: a first add_files can land
    // mid-stream (factories rebuild per micro-batch).
    if (mapping.isEmpty)
      new StreamDispatchReaderFactory(idFactory, idFactory)
    else
      new StreamDispatchReaderFactory(idFactory,
        delegate(Nil, mapped = true, mapping).toBatch.createReaderFactory())
  }

  override def commit(end: Offset): Unit =
    // offsets back to pure seqs = the catch-up drain is over: release
    // the memoized O(unit-files) list (it held the drain's DataFile
    // list on the driver; a later recovery replay of a sliced range
    // just recomputes it)
    end match {
      case SeqOffset(_, idx, _) if idx < 0 => drain.release()
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
  override def json(): String = SliceOffsets.render(seq, fileIdx,
    if (added) SliceOffsets.UnitAdded else SliceOffsets.UnitState)
}

/** Routes a partition to the reader factory of its resolution mode
  * (field-id native vs name-mapped import) — the two parquet delegates
  * differ only in how column names bind, so their partitions coexist in
  * one scan. Serves micro-batches and the delete-free batch reads of
  * [[MergeOnReadScan]]. */
case class StreamTaggedPartition(inner: InputPartition, mapped: Boolean)
  extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

class StreamDispatchReaderFactory(idful: PartitionReaderFactory,
    nameMapped: PartitionReaderFactory) extends PartitionReaderFactory {
  private def pick(p: InputPartition): (PartitionReaderFactory, InputPartition) = {
    val t = p.asInstanceOf[StreamTaggedPartition]
    (if (t.mapped) nameMapped else idful, t.inner)
  }
  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val (f, ip) = pick(p); f.createReader(ip)
  }
  override def createColumnarReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val (f, ip) = pick(p); f.createColumnarReader(ip)
  }
  override def supportColumnarReads(p: InputPartition): Boolean = {
    val (f, ip) = pick(p); f.supportColumnarReads(ip)
  }
}

/** The default batch scan: a thin harness over the vectorized parquet
  * delegate that adds
  *  - DYNAMIC FILE PRUNING ([[SupportsRuntimeV2Filtering]]): Spark's
  *    dynamic-pruning rule feeds the distinct join-key values of a
  *    broadcast build side back as an `In` predicate at RUNTIME, and
  *    every file whose min/max bounds prove it can't match is dropped
  *    before partitions are planned. Unlike the row-level variant this
  *    needs NO uniformity guard: pruning here only SKIPS reads — kept
  *    files' rows still flow through the actual join, which filters
  *    them — so conservative bound checks are always safe. A star join
  *    against a filtered dimension reads only the matching slice of a
  *    100 TB fact table;
  *  - the streaming surface (`toMicroBatchStream` tails the snapshot
  *    chain, [[GraftMicroBatchStream]]);
  *  - statistics forwarding (broadcast decisions see the pruned size).
  * The delegate is rebuilt per partition-planning call so a runtime
  * filter arriving between plannings is always honored.
  */
class GraftStreamableScan(table: GraftTable, options: CaseInsensitiveStringMap,
    required: StructType, pushedExprs: Seq[Expression], initialFiles: Seq[DataFile])
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeV2Filtering {

  @volatile private var files: Seq[DataFile] = initialFiles

  // memo keyed on the exact `files` value the delegate was built for:
  // a runtime filter swaps `files` and invalidates it, so "rebuilt per
  // partition-planning call" (the runtime-filter contract) still holds,
  // while the common plan→execute sequence builds the delegate ONCE
  // instead of once per planInputPartitions / createReaderFactory /
  // estimateStatistics call (opt round 21 — each rebuild re-listed the
  // file set through ParquetTable's InMemoryFileIndex)
  @volatile private var delegateMemo: (Seq[DataFile], Scan) = null

  /** Post-runtime-filter view of the delegate (tests inspect it). */
  def batchDelegate: Scan = {
    val fs = files
    val memo = delegateMemo
    if (memo != null && (memo._1 eq fs)) memo._2
    else {
      val built = GraftManifestIndex.delegateScan(
        org.apache.spark.sql.SparkSession.active, options, table.schema(),
        fs.map(f => (RelPaths.absolutize(table.ops.warehouse, f.path), f.bytes)),
        pushedExprs, required)
      delegateMemo = (fs, built)
      built
    }
  }

  def scannedFileCount: Int = files.size

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    if (files.isEmpty) Array.empty else batchDelegate.toBatch.planInputPartitions()

  override def createReaderFactory(): PartitionReaderFactory =
    batchDelegate.toBatch.createReaderFactory()

  /** Any SCANNED top-level column whose string-encoded bounds compare
    * exactly is a valid runtime-filter target (conservative skipping
    * is safe for plain scans — see class doc). Restricted to the
    * pruned output because Spark resolves these against the relation's
    * (column-pruned) attributes and errors on absentees. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fields.collect {
      case f if GraftStreamableScan.filterableType(f.dataType) &&
        !GraftTable.MetaColNames(f.name) =>
        org.apache.spark.sql.connector.expressions.Expressions.column(f.name)
    }

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val v1 = predicates.flatMap(p =>
      org.apache.spark.sql.execution.datasources.GraftFilterShim.toV1(p))
    if (v1.nonEmpty)
      files = initialFiles.filter(f => v1.forall(FilePruning.keepFile(f, _)))
  }

  /** Size flows from the (pruned) parquet delegate; the row count is
    * EXACT from committed per-file stats — the delegate can't know it
    * (parquet stats aren't loaded at planning), but the manifest does,
    * and a real numRows materially improves CBO's join-side estimates
    * at scale. Both reflect runtime file pruning (`files` shrinks).
    * When a `compute_stats` pass has stamped TableStats for the
    * snapshot being scanned, per-column NDV/null counts ride along
    * (`columnStats`) — the inputs Spark's CBO needs for join-order
    * and build-side decisions at 100 TB. Stale stats (stamped for a
    * different snapshot) are withheld: a wrong NDV misleads the
    * optimizer worse than no NDV. Same stance once runtime file
    * pruning has shrunk `files` below the snapshot's full set: the
    * snapshot-wide NDV/null counts would then sit beside a smaller
    * numRows — an internally inconsistent row (nullCount > numRows)
    * that skews join estimates — so columnStats are withheld too. */
  override def estimateStatistics(): Statistics = {
    val committedRows = files.map(_.records).sum
    val delegated = batchDelegate match {
      case s: SupportsReportStatistics => Some(s.estimateStatistics())
      case _ => None
    }
    val cols = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    for {
      ts <- table.meta.statistics
      snap <- table.readSnapshot
      // dataFileCount is the SNAPSHOT's full set (chunk keys, no chunk
      // load): planning-time pushdown can already have shrunk
      // initialFiles, so comparing against it would miss that pruning
      if ts.snapshotId == snap.snapshotId && files.length == snap.dataFileCount
      f <- required.fields
      cs <- ts.columns.get(f.name)
    } cols.put(
      org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
      new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
        override def distinctCount(): java.util.OptionalLong =
          java.util.OptionalLong.of(cs.ndv)
        override def nullCount(): java.util.OptionalLong =
          java.util.OptionalLong.of(cs.nullCount)
      })
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        delegated.map(_.sizeInBytes).getOrElse(java.util.OptionalLong.empty())
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(committedRows)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = cols
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(table, options, required, pushedExprs)
}

object GraftStreamableScan {
  def filterableType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
           _: DoubleType | _: FloatType | _: StringType | _: DateType |
           _: TimestampType => true
      case _ => false
    }
  }
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
