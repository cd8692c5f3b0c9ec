package graft.streaming

import graft.catalog.{Changes, Mor, SliceOffsets, TableOps}
import graft.meta.{DataFile, Snapshot, TableMeta}
import org.apache.spark.sql.{DataFrame, GraftStreamShim, Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit,
  SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** Streaming CDC source: `spark.readStream.format("graft-cdc")
  * .option("table", "cat.ns.t")` (resolved through the session's
  * registered catalogs) or `.option("warehouse", wh)
  * .option("location", tblLoc)` tails a table's CHANGELOG — every commit (append, MOR/COW delete, update,
  * merge) becomes a micro-batch of rows tagged `_change_type`
  * ('insert' | 'delete') — where the DSv2 table-tail source
  * ([[graft.catalog.GraftMicroBatchStream]]) handles appends only.
  *
  * API shape: a V1 [[Source]] that ALSO implements the DSv2 streaming
  * admission traits ([[SupportsAdmissionControl]] — `latestOffset`
  * with a START param, so rate caps never risk regressing a restored
  * checkpoint — and [[SupportsTriggerAvailableNow]] for bounded
  * drains). `MicroBatchExecution` dispatches on the traits before the
  * V1 fallbacks, so both are first-class. This is deliberately NOT a
  * pure DSv2 `MicroBatchStream`: a CDC batch is a Catalyst PLAN (COW
  * state diffs, `compute-updates` windows), which only the V1
  * `getBatch: DataFrame` contract can return — partition-planning
  * APIs would force materializing those shuffles to files first. Spark's
  * own Kafka connector and the Delta Lake source ship exactly this
  * hybrid for the same reason.
  *
  * Offsets are commit SEQUENCE NUMBERS (`{"seq":N}`), so a batch is
  * exactly the change rows of the commits in (startSeq, endSeq],
  * recomputed from the snapshot chain by [[Changes.between]] —
  * replayable from metadata alone (exactly-once after a crash). While
  * an over-cap unit drains under `max-rows-per-trigger`, offsets
  * extend to `{"seq":N,"idx":K}` — the first K files (stable path
  * order) of the unit delivered — where the unit is a FRESH stream's
  * genesis state over an aged table, or (with `"unit":"added"` in the
  * offset) a single append commit whose added rows alone exceed the
  * cap, or (with `"unit":"deleted"`) an over-cap MOR position-delete
  * commit's added delete-file set, or (with `"unit":"rows"`, under
  * the `split-row-level` opt-in) a row-level commit's MATERIALIZED
  * change rows; so a 100 TB catch-up, a one-commit 10 TB backfill, a
  * table-wide MOR DELETE, or a table-wide COW MERGE
  * arrives as bounded, checkpoint-resumable slices instead of one
  * unbounded batch. Pre-split checkpoints (bare `LongOffset` numbers)
  * keep parsing.
  *
  * If snapshot retention does NOT cover the stream's lag — the
  * restart offset's snapshot or any chain ancestor has been expired —
  * the batch THROWS instead of silently re-emitting or dropping
  * changes, and a mid-stream schema change likewise fails the batch
  * (restart to pick it up). The chain is parent-lineage-walked, so
  * commits after a `rollbackTo` diff against their actual parent;
  * rows from an abandoned lineage are not retracted. A FRESH stream's
  * genesis batch may diff past an expired ancestor (synthetic genesis:
  * the surviving state replays as inserts), but a checkpointed REPLAY
  * of batch 0 keeps the loud truncation failure — option
  * `allow-synthetic-genesis` overrides the checkpoint-derived default
  * either way.
  * `start-seq` (default 0) sets the initial offset:
  * 0 replays the whole table as genesis inserts, the current seq at
  * start gives a "changes from now on" tail.
  *
  * 100 TB shape: each trigger costs O(rows changed in the range) for
  * append/MOR traffic (the Changes fast paths read only added files
  * plus the delete-referenced parents); only COW row-level commits
  * pay an adjacent-state diff. The per-batch DataFrame is a full
  * Catalyst plan — joins, pruning and codegen all apply inside the
  * micro-batch.
  */
class GraftCdcSourceProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-cdc"

  /** Either `table` (a registered `catalog.ns.name`, resolved through
    * the session's catalog manager) or explicit `warehouse` +
    * `location`. */
  private def tableOps(ctx: SQLContext, params: Map[String, String]): TableOps =
    params.get("table") match {
      case Some(fqn) =>
        val parts = ctx.sparkSession.sessionState.sqlParser.parseMultipartIdentifier(fqn)
        require(parts.length >= 3,
          s"graft-cdc option 'table' needs catalog.ns.name, got '$fqn'")
        val cat = ctx.sparkSession.sessionState.catalogManager.catalog(parts.head)
        cat.asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
          .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
            parts.tail.init.toArray, parts.last)) match {
          case g: graft.catalog.GraftTable => g.ops
          case other => throw new IllegalArgumentException(
            s"graft-cdc: '$fqn' is not a graft table (${other.getClass.getName})")
        }
      case None =>
        val wh = params.getOrElse("warehouse",
          throw new IllegalArgumentException(
            "graft-cdc requires option 'table' (catalog.ns.name) or 'warehouse'+'location'"))
        val loc = params.getOrElse("location",
          throw new IllegalArgumentException(
            "graft-cdc requires option 'location' (table path relative to the warehouse)"))
        new TableOps(wh, loc)
    }

  private def loadMeta(ops: TableOps): TableMeta =
    ops.refresh().map(_._2).getOrElse(
      throw new IllegalArgumentException(
        s"no table at ${ops.tableDir} (missing metadata)"))

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (shortName(), Changes.outputSchema(loadMeta(tableOps(ctx, parameters))))

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val ops = tableOps(ctx, parameters)
    // Pin the stream's start under the checkpoint at FIRST run: batch
    // 0's start offset is not in Spark's offset log (a restart replays
    // it as getBatch(None, end0)), so the effective start must be
    // immutable for the checkpoint's life or changing the option would
    // replay a DIFFERENT batch 0 than the one committed — Kafka
    // persists its initial partition offsets for exactly this reason.
    // On an existing checkpoint a changed option warns and is ignored
    // (like startingOffsets: it says where a stream WITHOUT state
    // begins). Same tmp+rename publish assumption as the C12 commit
    // protocol and the row-level spill.
    val startSeq = {
      val opt = parameters.get("start-seq").map(_.toLong).getOrElse(0L)
      val dir = new org.apache.hadoop.fs.Path(metadataPath)
      val pin = new org.apache.hadoop.fs.Path(dir, "graft-start-seq")
      val fs = dir.getFileSystem(ctx.sparkSession.sessionState.newHadoopConf())
      def read(): Long = {
        val in = fs.open(pin)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
      }
      if (fs.exists(pin)) {
        val persisted = read()
        if (parameters.contains("start-seq") && persisted != opt)
          System.err.println(s"[graft-cdc] start-seq=$opt ignored: this " +
            s"checkpoint pinned start-seq=$persisted at first run (the " +
            "option only applies to a stream without state; use a fresh " +
            "checkpoint to start elsewhere)")
        persisted
      } else {
        fs.mkdirs(dir)
        // sweep a crashed write's orphan tmp (never referenced: the
        // rename below is the only publish)
        fs.listStatus(dir).map(_.getPath)
          .filter(_.getName.startsWith(".graft-start-seq.tmp-"))
          .foreach(fs.delete(_, false))
        val tmp = new org.apache.hadoop.fs.Path(dir,
          s".graft-start-seq.tmp-${java.util.UUID.randomUUID()}")
        val out = fs.create(tmp, true)
        try out.write(opt.toString.getBytes("UTF-8")) finally out.close()
        if (fs.rename(tmp, pin)) opt
        else if (fs.exists(pin)) { fs.delete(tmp, false); read() } // lost a race
        else throw new IllegalStateException(
          s"could not pin start-seq under the checkpoint at $pin")
      }
    }
    // Synthetic genesis (diffing past an expired ancestor on a
    // fromSeq=0 batch) is only deterministic-safe on a FRESH stream:
    // a checkpointed stream replaying batch 0 must see the same rows
    // it first delivered, which expiry can have collapsed. The
    // checkpoint itself says which case this is — metadataPath is
    // <ckpt>/sources/<i>, so offsets/0 present with commits/0 absent
    // means batch 0 was constructed but never committed and the next
    // getBatch(None, _) is a REPLAY. The explicit option overrides
    // both ways (an idempotent/net-state sink may opt in; a paranoid
    // append sink may opt out even for the fresh start).
    // the checkpoint root, when metadataPath has the standard
    // <ckpt>/sources/<i> layout (None = unrecognized layout)
    val ckptRoot = Option(new org.apache.hadoop.fs.Path(metadataPath).getParent)
      .filter(_.getName == "sources").flatMap(d => Option(d.getParent))
    def ckptHas(rel: String): Boolean = ckptRoot.exists { ckpt =>
      ckpt.getFileSystem(ctx.sparkSession.sessionState.newHadoopConf())
        .exists(new org.apache.hadoop.fs.Path(ckpt, rel))
    }
    val allowSynthetic = parameters.get("allow-synthetic-genesis") match {
      case Some(v) => v.toBoolean
      case None =>
        // The sniff trusts metadataPath = <ckpt>/sources/<i>. If the
        // layout ever differs (Spark version change, wrapped source),
        // the exists() probes would miss and the guard would silently
        // fail OPEN — so an unrecognized layout instead fails SAFE: no
        // synthetic genesis without the explicit opt-in (the genesis
        // walk then refuses loudly, telling the user to set
        // allow-synthetic-genesis if their sink really is idempotent).
        val pendingGenesisReplay = ckptHas("offsets/0") && !ckptHas("commits/0")
        ckptRoot.isDefined && !pendingGenesisReplay
    }
    val splitRowLevel = parameters.get("split-row-level").exists(_.toBoolean)
    val maxRows = parameters.get("max-rows-per-trigger").map(_.toLong)
    if (splitRowLevel)
      require(maxRows.isDefined,
        "graft-cdc option split-row-level requires max-rows-per-trigger " +
          "(the cap is what sizes the materialized slice files)")
    // compute-updates: per micro-batch, refine identifier-keyed
    // delete+insert pairs into update_preimage/update_postimage — the
    // streaming spelling of create_changelog_view(compute_updates),
    // same kernel ([[Changes.computeUpdates]]). Safe under every
    // slice kind EXCEPT the materialized rows unit: genesis/added
    // slices are insert-only, deleted slices come from commits that
    // added no data (delete-only), and unsplit commits arrive whole —
    // so pairs never straddle a batch boundary. A rows-unit slice CAN
    // split a commit's delete+insert pair across two batches, and
    // per-batch refinement would then mislabel the halves as plain
    // deletes/inserts — the combination is refused.
    val computeUpdates = parameters.get("compute-updates").exists(_.toBoolean)
    val idCols = parameters.get("identifier-columns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    if (computeUpdates) {
      require(idCols.nonEmpty,
        "graft-cdc option compute-updates requires identifier-columns " +
          "(comma-separated; Iceberg's identifier-field contract — they must " +
          "identify a row within one commit)")
      require(!splitRowLevel,
        "graft-cdc: compute-updates cannot be combined with split-row-level — " +
          "a materialized row-level unit's delete+insert pairs can split " +
          "across slice boundaries, and per-batch refinement would mislabel " +
          "the halves as plain deletes/inserts; drop one of the options")
    }
    new GraftCdcSource(ctx.sparkSession, ops, loadMeta(ops), startSeq, allowSynthetic,
      maxCommitsPerTrigger = parameters.get("max-commits-per-trigger").map(_.toInt),
      maxRowsPerTrigger = maxRows,
      splitRowLevel = splitRowLevel,
      // the spill root lives INSIDE the stream's own checkpoint source
      // dir, so its lifecycle is the checkpoint's (Kafka keeps its own
      // source metadata there the same way) and two streams can never
      // share or clobber each other's materialized units
      rowLevelSpillRoot = Some(s"$metadataPath/graft-rowlevel"),
      // genesis SLICE batches ({"seq":g,"idx":K}) are deterministic
      // replays by construction — pinned to one immutable snapshot,
      // loud if it expires — so the checkpoint-sniffed pending-replay
      // case must NOT refuse them (a capped fresh stream crashing
      // before commits/0 would otherwise be permanently stuck); only
      // the user's EXPLICIT opt-out does
      // parsed like the main gate (toBoolean, case-insensitive) so
      // "FALSE" opts out of slices and unsplit replays identically
      syntheticOptOutExplicit =
        parameters.get("allow-synthetic-genesis").exists(!_.toBoolean),
      updateIdCols = if (computeUpdates) Some(idCols) else None)
  }
}

class GraftCdcSource(spark: SparkSession, ops: TableOps,
    initialMeta: TableMeta, startSeq: Long,
    allowSyntheticGenesis: Boolean = true,
    maxCommitsPerTrigger: Option[Int] = None,
    maxRowsPerTrigger: Option[Long] = None,
    syntheticOptOutExplicit: Boolean = false,
    splitRowLevel: Boolean = false,
    rowLevelSpillRoot: Option[String] = None,
    updateIdCols: Option[Seq[String]] = None) extends Source
  with SupportsAdmissionControl with SupportsTriggerAvailableNow
  with SliceAwareReporting {

  // schema is pinned at stream start: mid-stream schema evolution must
  // not silently reshape batches (restart the query to pick it up)
  private val outSchema = Changes.outputSchema(initialMeta)

  private def freshMeta: TableMeta =
    ops.refresh().map(_._2).getOrElse(initialMeta)

  override def schema: StructType = outSchema

  // ---- offsets ---------------------------------------------------

  private def parseOffset(json: String): CdcOffset =
    graft.catalog.SliceOffsets.parse(json)
      .map { case (s, i, u) => CdcOffset(s, i, u) }
      .getOrElse {
        // pre-split checkpoints stored bare LongOffset numbers;
        // anything else (corruption, a checkpoint from a different
        // source) gets the diagnostic, not a raw NumberFormatException
        try CdcOffset(json.trim.toLong)
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"unreadable graft-cdc offset: ${json.trim}")
        }
      }

  override def initialOffset(): OffsetV2 = CdcOffset(startSeq)

  override def deserializeOffset(json: String): OffsetV2 = parseOffset(json)

  // ---- admission (latestOffset WITH a start param) ---------------

  // Trigger.AvailableNow: pin the end of the backlog at start; batches
  // then advance toward it (rate limits still apply per batch) and the
  // query stops once it's reached — later commits wait for the next run
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(
      freshMeta.currentSnapshot.map(_.sequenceNumber).getOrElse(0L))

  /** Advertise the CONFIGURED caps (maxRows and/or the custom
    * commits-per-trigger limit) — not `allAvailable()` — so progress
    * metrics see the real rate limit; each trigger's effective caps
    * then come from the limit the engine passes BACK to
    * `latestOffset(start, limit)`, which under Trigger.Once is
    * `allAvailable()` = the whole backlog uncapped ([[ReadLimits]]). */
  override def getDefaultReadLimit: ReadLimit =
    ReadLimits.configured(None, maxRowsPerTrigger, maxCommitsPerTrigger)

  // slice-aware reportLatestOffset is [[SliceAwareReporting]]
  override protected def headOffsetForReport(): OffsetV2 = {
    val cur = freshMeta.currentSnapshot.map(_.sequenceNumber).getOrElse(0L)
    CdcOffset(availableNowCap.fold(cur)(math.min(cur, _)))
  }

  /** Never called: [[SupportsAdmissionControl]] routes the engine to
    * `latestOffset(start, limit)` instead (which is the point — a V1
    * `getOffset` has no start param, so a capped offset below the
    * committed one would regress the checkpoint and re-deliver). */
  override def getOffset: Option[OffsetV1] =
    throw new UnsupportedOperationException(
      "graft-cdc implements SupportsAdmissionControl; latestOffset(start, limit) is used")

  /** Main-lineage snapshots in (above, headCap], oldest first — the
    * admissible units of a CDC batch (branch/WAP snapshots share the
    * seq space but never enter a main tail). The walk is the shared
    * kernel ([[TableMeta.lineageWindowFrom]]); a cut chain stops the
    * walk silently here because admission only needs the RETAINED
    * window — the data path ([[Changes.between]] / the genesis slice
    * reader) owns the truncation policy and fails or synthesizes
    * loudly there. */
  private def lineageAbove(meta: TableMeta, above: Long, headCap: Long): List[Snapshot] =
    meta.currentSnapshot match {
      case None => Nil
      case Some(anchor) =>
        meta.lineageWindowFrom(anchor, above).chain
          .filter(_.sequenceNumber <= headCap)
    }

  /** Admission control: cap each trigger at `max-commits-per-trigger`
    * main-lineage commits and/or `max-rows-per-trigger` rows — a
    * backlog then drains as bounded, replayable micro-batches.
    *
    * The incremental tail is commit-granular while commits fit the
    * caps (a CDC batch is a seq-range diff, so a commit is its
    * smallest REPLAYABLE unit); two unit kinds additionally split at
    * FILE granularity under the rows cap — the fromSeq=0 GENESIS unit
    * (an aged table's entire retained state, `{"seq":N,"idx":K}`
    * offsets) and a single APPEND commit whose added rows alone exceed
    * the cap (the one-commit 10 TB backfill,
    * `{"seq":N,"idx":K,"unit":"added"}` offsets) — so either catch-up
    * drains as ⌈files/cap⌉ bounded slices and later commits never
    * piggyback on it (genesis rows are counted from the full state's
    * manifest stats, never the undercounting added-files view).
    * Row-LEVEL commits split three ways. A MOR commit that removes no
    * data files and adds only POSITION deletes is BUDGETED exactly —
    * a position-delete file's manifest record count IS its delete-row
    * count ([[morBudget]]) — so bounded MOR traffic packs into capped
    * triggers like appends, and a position-delete-ONLY commit that
    * alone exceeds the cap slices by its added DELETE-FILE set
    * (`{"seq":N,"idx":K,"unit":"deleted"}` offsets: change rows bind
    * to (parent file, pos), so a delete-file subset is an exact
    * replayable slice — a table-wide MOR DELETE drains bounded with
    * no spill). Everything else — COW, equality deletes, over-cap
    * MIXED MOR — has no cheap row count or no single file set to
    * slice: by default it admits-and-CLOSES the batch (the cap is
    * never silently inert), and under the `split-row-level` opt-in it
    * too drains bounded — the diff is materialized ONCE under the
    * stream's checkpoint and its files slice via
    * `{"seq":N,"idx":K,"unit":"rows"}` offsets (see the batch-bound
    * note in STREAMING.md). Appends count their EXACT added rows
    * (manifest stats, chunk-cached, only loaded when the rows cap is
    * set); `replace` (compaction) emits nothing and
    * passes through free. The admission walk is in-memory pointer
    * chasing over RETAINED snapshots (bounded by the table's retention
    * policy), already materialized by refresh. */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val end = planEnd(start, limit)
    Option(end).map(o => parseOffset(o.json))
      .foreach(o => recordPlannedEnd(o, o.fileIdx >= 0))
    end
  }

  private def planEnd(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val st = Option(start).map(o => parseOffset(o.json)).getOrElse(CdcOffset(startSeq))
    // effective caps come from the limit the engine PASSED, not the
    // option fields: normal triggers hand back getDefaultReadLimit
    // (== the configured caps), Trigger.Once hands allAvailable()
    // (uncapped — the whole backlog in one batch, mid-drain included)
    val (_, capRows, capCommits) = ReadLimits.caps(
      limit, None, maxRowsPerTrigger, maxCommitsPerTrigger)
    val meta = freshMeta
    val curHead = meta.currentSnapshot.map(_.sequenceNumber).getOrElse(0L)
    val head = availableNowCap.fold(curHead)(math.min(curHead, _))

    // mid-drain: the next file slice of the in-flight unit (genesis
    // state or an oversized append's added set); once the unit
    // completes, remaining budget admits the tail
    if (st.fileIdx >= 0) {
      if (capRows.isEmpty && capCommits.isEmpty)
        return CdcOffset(math.max(head, st.seq))
      if (st.unit == SliceOffsets.UnitRows) {
        // materialized row-level unit: slices pack whole spill files up
        // to the rows cap (footer-exact counts; no file exceeds the cap
        // — maxRecordsPerFile bounded the write); a final slice with
        // leftover budget admits APPEND tail commits (budgeted by
        // manifest stats) — a row-level successor defers to its own
        // trigger and splits (see tailEnd)
        val list = rowUnitList(st.seq)
        val (next, _, rows) = drain.admit(list, st.fileIdx, None, capRows)
        return if (next < list.size) CdcOffset(st.seq, next, SliceOffsets.UnitRows)
        else tailEnd(meta, st.seq, head, commits0 = 1, rows0 = rows,
          capCommits, capRows)
      }
      val list = unitFiles(meta, st.seq, st.unit)
      val (next, _, rows) = drain.admit(list, st.fileIdx, None, capRows)
      return if (next < list.size) CdcOffset(st.seq, next, st.unit)
      else tailEnd(meta, st.seq, head, commits0 = 1, rows0 = rows, capCommits, capRows)
    }

    // the engine-given start verbatim, matching getBatch: st already
    // fell back to startSeq when the engine passed none (fresh
    // stream), and re-clamping a CHECKPOINTED start to a raised
    // start-seq would desync planning from delivery — the slice path
    // would serve only the split unit and advance the offset log past
    // the unclamped commits (silent loss), and the pure-seq path
    // would admit rows its budget never counted
    val base = st.seq
    if (head <= base) return if (start != null) start else null
    if (capCommits.isEmpty && capRows.isEmpty)
      return CdcOffset(head)

    if (base == 0 && capRows.isDefined) {
      // fresh-start genesis under a rows cap: the retained state is
      // one seq but NOT one replayable unit — split it at file
      // granularity (stable path order) so the catch-up is bounded
      lineageAbove(meta, 0, head).headOption match {
        case None => return if (start != null) start else null
        case Some(g) =>
          val list = unitFiles(meta, g.sequenceNumber, SliceOffsets.UnitState)
          val (next, _, rows) = drain.admit(list, 0, None, capRows)
          return if (next < list.size) CdcOffset(g.sequenceNumber, next)
          else tailEnd(meta, g.sequenceNumber, head, commits0 = 1, rows0 = rows,
            capCommits, capRows)
      }
    }
    tailEnd(meta, base, head, commits0 = 0, rows0 = 0L, capCommits, capRows)
  }

  /** Unit-slice admission under the rows cap (the CDC source has no
    * files cap): progress guarantee, memoization, and release are the
    * shared [[graft.catalog.SliceDrain]]. */
  private val drain = new graft.catalog.SliceDrain

  /** Per-drain memo of a `unit:"deleted"` drain's parent file list
    * (the O(table-files) chunk walk [[deletedSlice]] reads against) —
    * its own field rather than a [[SliceDrain]] entry because the
    * drain memo is single-slot and alternating keys would thrash it.
    * Cleared with the drain memo in [[commit]]. */
  @volatile private var parentFilesMemo: Option[(Long, Seq[graft.meta.DataFile])] = None

  /** Commit-granular admission over the main lineage above `base`,
    * with `commits0`/`rows0` budget already consumed (by a completed
    * unit slice). Returns the admitted end offset: a pure seq
    * (== base when the budget is spent) — or, when the trigger's
    * FIRST unit is an append whose added rows ALONE exceed the rows
    * cap, a file-granular slice of that append's added set
    * (`{"seq":N,"idx":K,"unit":"added"}`), so a one-commit 10 TB
    * backfill landing mid-tail drains bounded exactly like the
    * genesis state. Appends carry no delete files, so slices are
    * exact insert-tagged subsets of the commit's rows. A trigger that
    * already spent budget closes instead — a unit never piggybacks. */
  private def tailEnd(meta: TableMeta, base: Long, head: Long,
      commits0: Int, rows0: Long,
      capCommits: Option[Int], capRows: Option[Long]): CdcOffset = {
    val countRows = capRows.isDefined
    var n = commits0; var rows = rows0; var end = base; var stop = false
    var slice: Option[CdcOffset] = None
    for (s <- lineageAbove(meta, base, head) if !stop) {
      val isAppend = s.operation == "append"
      val isReplace = s.operation == "replace"
      val isRowLevel = !isAppend && !isReplace
      lazy val addedList = ops.addedFiles(s)
      // a row-level commit's exact change-row budget when metadata
      // gives one cheaply (MOR position-delete traffic — the spelling
      // STREAMING.md recommends for bounded row-level streams); None =
      // COW or equality deletes, whose change-row count has no cheap
      // upper bound
      val mor: Option[(Long, Seq[DataFile])] =
        if (countRows && isRowLevel) morBudget(meta, s, addedList) else None
      val r =
        if (!countRows) 0L
        else if (isAppend) addedList.map(_.records).sum
        else mor.map(_._1).getOrElse(0L)
      val exceeds = capCommits.exists(n + 1 > _) || capRows.exists(rows + r > _)
      if (exceeds && n > 0) stop = true
      else if (exceeds && isAppend && capRows.exists(r > _) && addedList.nonEmpty) {
        // the trigger's FIRST unit is an over-cap append (n == 0 here
        // — the n > 0 case stopped above): split its added set at
        // file granularity, seeding the memo with the list in hand.
        // But FIRST re-assert the contiguity contract: a slice batch
        // is served by addedSlice, BYPASSING Changes.between — whose
        // expired-base check is the changelog's only truncation guard
        // on the unsplit path — so without this, a restart whose
        // checkpointed seq has been expired would advance the offset
        // log straight past the expired commits' change rows (silent
        // data loss where the unsplit path fails loudly)
        assertSplitContiguous(meta, base, s)
        val list = drain.list(s.sequenceNumber, SliceOffsets.UnitAdded)(addedList)
        val (next, _, rAdm) = drain.admit(list, 0, None, capRows)
        if (next < list.size) {
          slice = Some(CdcOffset(s.sequenceNumber, next, SliceOffsets.UnitAdded))
          stop = true
        } else {
          // the whole unit fit after all (one unsplittable file):
          // admit it; the next iteration's exceeds check closes
          n += 1; rows += rAdm; end = s.sequenceNumber
        }
      } else if (exceeds && capRows.exists(r > _) &&
          mor.exists(_._2.nonEmpty) && addedList.isEmpty) {
        // the trigger's FIRST unit is an over-cap MOR commit that is
        // position-delete-ONLY (budgeted, no added data files): slice
        // its added DELETE-FILE set — the change rows bind to
        // (parent file, pos), so a delete-file subset is an exact
        // replayable slice and a table-wide MOR DELETE drains bounded
        // WITHOUT the split-row-level materialization spill. Same
        // contiguity re-assertion as the added split: deletedSlice
        // bypasses Changes.between's truncation guards.
        assertSplitContiguous(meta, base, s)
        val list = drain.list(s.sequenceNumber, SliceOffsets.UnitDeleted)(mor.get._2)
        val (next, _, rAdm) = drain.admit(list, 0, None, capRows)
        if (next < list.size) {
          slice = Some(CdcOffset(s.sequenceNumber, next, SliceOffsets.UnitDeleted))
          stop = true
        } else {
          // one unsplittable delete file: admit whole; next
          // iteration's exceeds check closes
          n += 1; rows += rAdm; end = s.sequenceNumber
        }
      } else if (countRows && isRowLevel && mor.isEmpty && splitRowLevel && n > 0) {
        // under the opt-in an UNBUDGETED row-level commit NEVER
        // piggybacks a trigger that already spent budget — its
        // change-row count is unknown (r = 0 above), so
        // admit-and-close here would be the exact unbounded batch the
        // opt-in exists to prevent (e.g. a 10M-row MERGE right behind
        // a completed drain). Deferred one trigger, it becomes the
        // FIRST unit and splits. A BUDGETED (MOR) commit that fits
        // the remaining budget rides like an append; one that
        // doesn't was deferred by the exceeds check above.
        stop = true
      } else if (countRows && isRowLevel && splitRowLevel &&
          (mor.isEmpty || exceeds)) {
        // row-level commit as the trigger's FIRST unit with the
        // split-row-level opt-in, either unbudgetable (COW/equality)
        // or over-cap MIXED MOR (added data AND deletes — two file
        // sets, no single-set slice): materialize the commit's
        // change rows ONCE — bounded
        // files via maxRecordsPerFile = the rows cap — and drain them
        // as {"seq":N,"idx":K,"unit":"rows"} slices. All of
        // Changes.between's own guards (expired base, truncation,
        // rollback) run inside the materialization, so this path is
        // exactly as loud as the unsplit one.
        val list = rowUnitMaterialize(meta, end, s, capRows.get)
        if (list.isEmpty) {
          // empty diff: nothing to slice — admit-and-close (between
          // recomputes the empty batch)
          n += 1; end = s.sequenceNumber; stop = true
        } else {
          // even a diff that fits ONE batch is delivered from the
          // spilled files (next == list.size then): the spill is the
          // diff's single execution, not insurance beside a recompute
          val (next, _, _) = drain.admit(list, 0, None, capRows)
          slice = Some(CdcOffset(s.sequenceNumber, next, SliceOffsets.UnitRows))
          stop = true
        }
      } else {
        n += 1; rows += r; end = s.sequenceNumber
        // row-level commit under a rows cap: a BUDGETED (MOR
        // position-delete) commit that fits packs like an append —
        // several small MOR deletes share one capped trigger; an
        // UNBUDGETED one (COW/equality — unknown change-row count) or
        // an over-cap MIXED one (no single-file-set slice, no opt-in)
        // closes the batch here, so the cap is never silently inert
        if (countRows && isRowLevel && (mor.isEmpty || exceeds)) stop = true
      }
    }
    slice.getOrElse(CdcOffset(end))
  }

  /** A row-level commit's EXACT change-row budget when the metadata
    * gives one cheaply, paired with its added position-delete file
    * list: a MOR commit that removes no data files and whose added
    * delete files are all POSITION deletes changes at most (added
    * data records) + (added position-delete entries) rows. A
    * position-delete file's manifest record count IS its (file, pos)
    * entry count — one delete row each; entries whose target was
    * already dead emit nothing, so the budget conservatively
    * OVERCOUNTS (the same contract as [[graft.catalog.SliceDrain]]'s
    * admit). None — no cheap bound — when the commit removes data
    * files (COW: the paired delete rows come from a state diff), adds
    * EQUALITY deletes (their stats count predicates, not matched
    * rows), or its parent has been expired (no delete-list diff).
    * Cost: O(added files via the seq-pruned chunk walk) + an
    * O(delete-list) path diff (delete volume is compaction-bounded);
    * no data read, no chunk load — removal detection is count
    * arithmetic on `dataFileCount`, which never loads chunks, and is
    * exact because seq stamps are unique per commit. */
  private def morBudget(meta: TableMeta, s: Snapshot,
      added: Seq[DataFile]): Option[(Long, Seq[DataFile])] = {
    val prev: Option[Snapshot] = s.parentId match {
      case None => None
      case Some(p) => meta.snapshots.find(_.snapshotId == p) match {
        case None => return None // parent expired: no cheap delete diff
        case some => some
      }
    }
    if (prev.map(_.dataFileCount).getOrElse(0) + added.size != s.dataFileCount)
      return None // data files removed: COW, not budgetable from stats
    val addedDels = Changes.addedDeleteFiles(prev, s)
    if (addedDels.exists(Mor.isEquality)) return None
    Some((added.map(_.records).sum + addedDels.map(_.records).sum, addedDels))
  }

  /** The split path's stand-in for [[Changes.between]]'s base checks
    * — the SAME guard code, not a synchronized copy
    * ([[Changes.requireRetainedBase]] / [[Changes.requireLinearBase]]),
    * plus the split's own truncation message: the split unit `s` must
    * be `base`'s direct lineage successor before the offset log may
    * advance past base. `base > 0` always holds where this is called
    * (a fromSeq=0 start under the rows cap routes through the genesis
    * split, which has its own truncation policy). */
  private def assertSplitContiguous(meta: TableMeta, base: Long, s: Snapshot): Unit = {
    Changes.requireRetainedBase(meta, base)
    val w = meta.lineageWindowFrom(s, base)
    if (w.truncatedParent.isDefined)
      throw new IllegalStateException(
        s"changelog chain is TRUNCATED between seq $base and seq " +
          s"${s.sequenceNumber}: commits in between are no longer retained — " +
          "a file-split of the oversized commit would silently skip their " +
          "change rows; retention must cover streaming lag")
    // base retained but not an ancestor of s (rollback): a retention
    // message would misdiagnose — use the data path's rollback wording
    Changes.requireLinearBase(w, base, s)
  }

  // ---- unit slices (genesis state / oversized append) --------------

  /** One metadata-backed admission UNIT's file list in stable path
    * order — the genesis snapshot's full STATE (`unit = ""`), an
    * oversized append's ADDED set (`unit = "added"`), or an oversized
    * MOR position-delete commit's added DELETE-FILE set
    * (`unit = "deleted"`; the offset carries which, because the same
    * seq can be any of them depending on where the stream started;
    * the materialized `"rows"` unit has its
    * own loader, [[rowUnitList]]) —
    * so (seq, fileIdx, unit) offsets slice it reproducibly across
    * triggers, restarts, and checkpoint replays. Memoization and the
    * end-of-drain release are the shared [[graft.catalog.SliceDrain]]
    * (released by [[commit]] once offsets return to pure seqs; the
    * memo holds the O(unit-files) DataFile list on the driver for the
    * drain's duration, and a post-release replay just recomputes it).
    * A mid-drain expiry of the snapshot fails loudly: the slice
    * indices would otherwise silently re-bind to different files. */
  private def unitSnap(meta: TableMeta, seq: Long): Snapshot =
    meta.snapshots.find(_.sequenceNumber == seq).getOrElse(
      throw new IllegalStateException(
        s"CDC catch-up snapshot (seq $seq) is no longer retained; " +
          "retention must cover streaming lag"))

  private def unitFiles(meta: TableMeta, seq: Long,
      unit: String): IndexedSeq[DataFile] = {
    val s = unitSnap(meta, seq)
    drain.list(seq, unit)(unit match {
      case SliceOffsets.UnitAdded => ops.addedFiles(s)
      case SliceOffsets.UnitDeleted => addedPosDeletes(meta, s)
      case _ => ops.allFiles(s)
    })
  }

  /** The output-schema empty frame (nullable fields — unioned batch
    * legs must agree on nullability). */
  private def emptyOut: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(outSchema.fields.map(_.copy(nullable = true))))

  /** The position-delete files commit `s` ADDED — the `unit:"deleted"`
    * slice list, recomputed as the delete-list diff against the parent
    * through the ONE shared definition ([[Changes.addedDeleteFiles]],
    * which the changelog read and admission use too), so admission's
    * seeded drain memo, a checkpoint replay, and the unsplit data path
    * can never desync on what the list contains. Loud when the parent
    * has been expired mid-drain: the slice indices would otherwise
    * silently re-bind to a different list. */
  private def addedPosDeletes(meta: TableMeta, s: Snapshot): Seq[DataFile] =
    Changes.addedDeleteFiles(morParentLoud(meta, s), s).filterNot(Mor.isEquality)

  /** The parent snapshot a `unit:"deleted"` drain diffs and reads
    * against — LOUD when expired mid-drain (the delete-list diff and
    * the alive-before read both need it; a silent None would emit an
    * empty batch where truncation must fail). */
  private def morParentLoud(meta: TableMeta, s: Snapshot): Option[Snapshot] =
    s.parentId.map(p => meta.snapshots.find(_.snapshotId == p).getOrElse(
      throw new IllegalStateException(
        s"CDC catch-up snapshot (seq ${s.sequenceNumber})'s parent ($p) is no " +
          "longer retained; its delete-file slices cannot be re-bound — " +
          "retention must cover streaming lag")))

  /** Rows [from, until) of a unit's path-sorted file list, with the
    * given delete files applied, tagged as ordinal-1 inserts — the
    * read-and-tag scaffolding both unit kinds share (a one-sided edit
    * here would make genesis and added slices disagree on row shape
    * within one stream). */
  private def sliceRead(meta: TableMeta, all: IndexedSeq[DataFile],
      from: Int, until: Int, dels: Seq[DataFile]): DataFrame = {
    val slice = all.slice(from, math.min(until.toLong, all.size.toLong).toInt)
    Mor.liveRows(spark, ops, meta, slice, dels)
      .withColumn("_change_type", lit("insert"))
      .withColumn("_change_ordinal", lit(1))
  }

  /** One bounded slice of an oversized append's ADDED set. Exact by
    * construction: an append commit carries no delete files and
    * equality deletes only ever bind to strictly-older files, so a
    * raw read of the slice IS the commit's rows for those files. No
    * synthetic-genesis gate applies — this is not a fromSeq=0 diff,
    * just a subset of one immutable commit. */
  private def addedSlice(meta: TableMeta, seq: Long, from: Int, until: Int): DataFrame =
    sliceRead(meta, unitFiles(meta, seq, SliceOffsets.UnitAdded), from, until, Nil)

  /** Delete rows produced by files [from, until) of an over-cap MOR
    * position-delete commit's ADDED delete-file set (path order): the
    * [[Mor.removedRows]] read [[Changes.between]] runs for the whole
    * commit, with the slice's files as the added deletes and EARLIER
    * slices' files counted as already live — a position two delete
    * files name is delivered once, by the first slice, as the unsplit
    * batch delivers it. Exact and replayable: entries bind to (parent
    * file, pos) of an immutable snapshot. Per slice this opens only
    * the parent files the slice's entries name, so a trickle of
    * deletes over a 100 TB table stays O(touched files). */
  private def deletedSlice(meta: TableMeta, seq: Long, from: Int, until: Int): DataFrame = {
    val s = unitSnap(meta, seq)
    val all = unitFiles(meta, seq, SliceOffsets.UnitDeleted)
    val slice = all.slice(from, math.min(until.toLong, all.size.toLong).toInt)
    if (slice.isEmpty) return emptyOut
    val prev = morParentLoud(meta, s)
    // the parent's full file list is per-DRAIN state, not per-slice:
    // memoized beside the drain memo (cleared with it in commit) so a
    // K-slice drain walks the O(table-files) chunk list once, not K×
    val prevFiles = parentFilesMemo match {
      case Some((ps, l)) if ps == seq => l
      case _ =>
        val l = prev.map(ops.allFiles).getOrElse(Nil)
        parentFilesMemo = Some((seq, l)); l
    }
    Mor.removedRows(spark, ops, meta, prevFiles,
        prev.map(_.deleteFiles).getOrElse(Nil) ++ all.slice(0, from), slice)
      .withColumn("_change_type", lit("delete"))
      .withColumn("_change_ordinal", lit(1))
  }

  // ---- materialized row-level units (opt-in split-row-level) -------

  private def hadoopFs(path: org.apache.hadoop.fs.Path) =
    path.getFileSystem(spark.sessionState.newHadoopConf())

  private def rowUnitDir(seq: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(rowLevelSpillRoot.getOrElse(
      throw new IllegalStateException(
        "split-row-level needs a spill root (stream the source through " +
          "readStream so the checkpoint provides one)")), s"seq-$seq")

  /** Materialize a row-level commit's change rows ONCE (idempotent:
    * an existing dir — e.g. a crash between materialization and the
    * offset log — is reused, never rewritten) and return the
    * path-sorted file list. The write caps every file at
    * `maxRecordsPerFile = cap`, so a one-file-per-trigger drain is
    * rows-bounded WITHOUT per-file stats; temp-write + rename makes
    * the dir's existence atomic. This runs the diff the unsplit batch
    * would have run — same cost, paid once, spilled to the stream's
    * own checkpoint dir instead of handed to the sink unbounded. */
  private def rowUnitMaterialize(meta: TableMeta, base: Long, s: Snapshot,
      cap: Long): IndexedSeq[DataFile] =
    drain.list(s.sequenceNumber, SliceOffsets.UnitRows) {
      val dir = rowUnitDir(s.sequenceNumber)
      val fs = hadoopFs(dir)
      if (!fs.exists(dir)) {
        Changes.between(spark, ops, meta, base, s.sequenceNumber,
            allowSyntheticGenesis = allowSyntheticGenesis) match {
          case None => () // empty diff: no dir, empty list below
          case Some(df) =>
            val tmp = new org.apache.hadoop.fs.Path(
              dir.getParent, s"${dir.getName}.tmp-${java.util.UUID.randomUUID()}")
            df.write.option("maxRecordsPerFile", cap.toString)
              .mode("overwrite").parquet(tmp.toString)
            // record the cap that sized these files: a crash between
            // materialization and the offset-log write leaves the dir
            // for REUSE on restart, possibly under a different
            // max-rows-per-trigger (warned below)
            fs.create(new org.apache.hadoop.fs.Path(tmp, s"_graft_cap_$cap"),
              true).close()
            if (!fs.rename(tmp, dir))
              throw new IllegalStateException(
                s"could not publish materialized row-level unit at $dir")
        }
      } else {
        // crash-window reuse (never rewritten — the diff's row-to-file
        // assignment is nondeterministic): when the recorded cap
        // differs from the current one, slices of THIS unit pack to
        // the old cap — bounded rate-limit softness, surfaced loudly
        fs.listStatus(dir).map(_.getPath.getName)
          .collectFirst { case n if n.startsWith("_graft_cap_") =>
            n.stripPrefix("_graft_cap_").toLong }
          .filter(_ != cap)
          .foreach(c => System.err.println(
            s"[graft-cdc] reusing materialized row-level unit at $dir sized " +
              s"by max-rows-per-trigger=$c (current: $cap); slices of this " +
              "one unit pack to the recorded cap"))
      }
      listRowUnit(dir)
    }

  /** The already-materialized unit's file list — for mid-drain
    * triggers and batch replays. NEVER re-materializes: the diff
    * plan's row-to-file assignment is not deterministic across
    * recomputations, so re-binding slice indices to a fresh write
    * would silently change slice contents — a lost dir fails loudly
    * instead (the checkpoint was tampered with; restart the stream). */
  private def rowUnitList(seq: Long): IndexedSeq[DataFile] =
    drain.list(seq, SliceOffsets.UnitRows) {
      val dir = rowUnitDir(seq)
      if (!hadoopFs(dir).exists(dir))
        throw new IllegalStateException(
          s"materialized row-level unit for seq $seq is gone from $dir " +
            "(checkpoint tampered with?); its slice offsets cannot be " +
            "re-bound — restart the stream with a fresh checkpoint")
      listRowUnit(dir)
    }

  private def listRowUnit(dir: org.apache.hadoop.fs.Path): Seq[DataFile] = {
    val fs = hadoopFs(dir)
    if (!fs.exists(dir)) Nil
    else {
      val conf = spark.sessionState.newHadoopConf()
      val stats = fs.listStatus(dir).toSeq
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      // ABSOLUTE paths on purpose: these are spill files under the
      // checkpoint, not warehouse-relative table files. Records are
      // footer-exact (our own spill, no deletes), read once per
      // drain (the list is memoized) — O(spill files) driver IO,
      // bounded by ceil(diff rows / cap) + the diff's partition count
      def read(st: org.apache.hadoop.fs.FileStatus): DataFile = {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val records = try r.getRecordCount finally r.close()
        DataFile(st.getPath.toString, records = records, bytes = st.getLen)
      }
      if (stats.size <= 100) stats.map(read)
      else {
        // a 10M-row diff at a small cap is thousands of footers:
        // read them on a bounded pool — drain-START latency only,
        // the memoized result is identical to the sequential read
        val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
        try {
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutor(pool)
          scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(
              stats.map(st => scala.concurrent.Future(read(st)))),
            scala.concurrent.duration.Duration.Inf)
        } finally pool.shutdown()
      }
    }
  }

  /** Files [from, until) of the materialized unit, read back verbatim
    * (the change tags and ordinal were written by the diff itself). */
  private def rowSlice(seq: Long, from: Int, until: Int): DataFrame = {
    val all = rowUnitList(seq)
    val slice = all.slice(from, math.min(until.toLong, all.size.toLong).toInt)
    if (slice.isEmpty) emptyOut
    else
      spark.read.parquet(slice.map(_.path): _*)
        .select(outSchema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Spill dirs for units at or below the committed seq are fully
    * delivered and can never be replayed (only the last uncommitted
    * batch replays) — delete them. */
  private def releaseRowUnits(upToSeq: Long): Unit =
    rowLevelSpillRoot.foreach { root =>
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val fs = hadoopFs(rootPath)
      if (fs.exists(rootPath))
        fs.listStatus(rootPath).foreach { st =>
          val n = st.getPath.getName
          // orphaned tmp dirs (a crash between write and rename) are
          // never referenced — materialization is single-threaded with
          // commit on the stream's thread and always writes a FRESH
          // tmp — so every tmp is sweepable garbage
          val dead = n.contains(".tmp-") ||
            (n.startsWith("seq-") &&
              scala.util.Try(n.stripPrefix("seq-").toLong).toOption.exists(_ <= upToSeq))
          if (dead) fs.delete(st.getPath, true): Unit
        }
    }

  /** Rows [from, until) of the genesis state (path-sorted files,
    * deletes applied), tagged as ordinal-1 inserts — one bounded slice
    * of a fresh stream's catch-up. Slice-local delete application is
    * exact: position deletes bind to (file, pos) and equality deletes
    * apply row-wise with per-file sequence scoping, so restricting to
    * a file subset yields precisely that subset's surviving rows.
    * The gate differs from [[Changes.between]]'s on purpose: a SLICE
    * replay is deterministic by construction (pinned to one immutable
    * snapshot's path-sorted state; a mid-drain expiry of that snapshot
    * fails loudly in [[genesisSnap]]), so the checkpoint-sniffed
    * pending-replay case — which must refuse an unsplit `between(0,T)`
    * recomputation because expiry can collapse its insert+delete
    * pairs — does NOT refuse slices; only the user's EXPLICIT
    * `allow-synthetic-genesis=false` does (their stated intent: never
    * serve net state for expired history). */
  private def genesisSlice(meta: TableMeta, gseq: Long, from: Int, until: Int): DataFrame = {
    val snap = unitSnap(meta, gseq)
    snap.parentId.filter(p => !meta.snapshots.exists(_.snapshotId == p)).foreach { p =>
      if (syntheticOptOutExplicit) throw new IllegalStateException(
        s"changelog chain is TRUNCATED and allow-synthetic-genesis=false was " +
          s"set: snapshot ${snap.snapshotId} (seq ${snap.sequenceNumber}) has " +
          s"parent $p which is no longer retained, so this catch-up slice " +
          "would serve net state for expired history. Remove the opt-out, or " +
          "restart from a retained snapshot with start-seq")
    }
    sliceRead(meta, unitFiles(meta, gseq, SliceOffsets.UnitState), from, until,
      snap.deleteFiles)
  }

  // ---- batches -----------------------------------------------------

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val st = start.map(o => parseOffset(o.json))
    val en = parseOffset(end.json)
    // the replay-recording site (see SliceAwareReporting.recordPlannedEnd)
    recordPlannedEnd(en, en.fileIdx >= 0)
    val meta = freshMeta
    // enforce the pinned-schema contract: MicroBatchExecution aliases
    // batch output to the stream-start attributes BY POSITION, so a
    // mid-stream column add/rename would silently mislabel data
    // instead of failing — refuse and tell the user to restart
    val cur = Changes.outputSchema(meta)
    if (cur != outSchema)
      throw new IllegalStateException(
        s"table schema changed mid-stream (was ${outSchema.simpleString}, " +
          s"now ${cur.simpleString}); restart the streaming query to pick " +
          "up the new schema")
    def unitSlice(seq: Long, unit: String, from: Int, until: Int): DataFrame =
      unit match {
        case SliceOffsets.UnitRows => rowSlice(seq, from, until)
        case SliceOffsets.UnitAdded => addedSlice(meta, seq, from, until)
        case SliceOffsets.UnitDeleted => deletedSlice(meta, seq, from, until)
        case _ => genesisSlice(meta, seq, from, until)
      }
    // compute-updates refinement is applied ONLY to the parts of a
    // batch whose ordinals are real, whole commits — the tail. Slice
    // rows (mid-unit AND the final slice) stay raw: genesis/added/
    // deleted slices are type-pure single-commit subsets where pairing
    // is a no-op and the two window passes would shuffle a 100 TB
    // catch-up batch for nothing — and a rows-unit slice (possible on
    // a restart that swapped split-row-level for compute-updates on an
    // in-flight drain) can cut a commit's pair across batches, where
    // refining the final slice would cancel carry-over rows the
    // earlier slices already delivered raw. A from-zero batch refines
    // from ordinal 2: its ordinal 1 is the first commit or the
    // synthetic genesis state — insert-only either way, and the
    // per-commit identifier-uniqueness check is meaningless on a
    // COLLAPSED ordinal (two live rows sharing identifier values
    // across different commits are legal; raising would brick a fresh
    // stream's batch 0 permanently). The shim wraps the plan behind a
    // LogicalRDD, so the window nodes stay batch-childed for the
    // streaming checker.
    def refine(df: DataFrame, minOrdinal: Int = 1): DataFrame =
      updateIdCols.map(ids =>
        Changes.computeUpdates(df, ids, minOrdinal)).getOrElse(df)
    val batch: DataFrame =
      if (en.fileIdx >= 0) {
        // a unit slice batch (start is the unit's lower bound or an
        // earlier slice of the SAME unit)
        val fromIdx = st.filter(p =>
            p.seq == en.seq && p.fileIdx >= 0 && p.unit == en.unit)
          .map(_.fileIdx).getOrElse(0)
        unitSlice(en.seq, en.unit, fromIdx, en.fileIdx)
      } else st.filter(_.fileIdx >= 0) match {
        case Some(p) =>
          // final unit slice, plus any commits the trigger's
          // remaining budget admitted (their ordinals shift past the
          // slice's ordinal 1); only the tail refines
          val lastSlice = unitSlice(p.seq, p.unit, p.fileIdx, Int.MaxValue)
          Changes.between(spark, ops, meta, p.seq, en.seq,
              allowSyntheticGenesis = allowSyntheticGenesis)
            // shift BEFORE refining so an identifier-violation message
            // names the ordinal the batch actually delivers
            .map(rest => lastSlice.unionAll(refine(rest.withColumn(
              "_change_ordinal", col("_change_ordinal") + lit(1)))))
            .getOrElse(lastSlice)
        case None =>
          // the engine-given start verbatim — never re-clamped to
          // start-seq: Spark replays the last committed batch's
          // (start, end) pair on restart, and a later start-seq
          // raised over an existing checkpoint must not silently
          // skip the commits in between (planEnd's base clamp only
          // shapes FUTURE planning; like Kafka's startingOffsets,
          // the option is where a stream WITHOUT state begins)
          val lower = st.map(_.seq).getOrElse(startSeq)
          Changes
            .between(spark, ops, meta, lower, en.seq,
              allowSyntheticGenesis = allowSyntheticGenesis)
            .map(df => refine(df, minOrdinal = if (lower == 0) 2 else 1))
            .getOrElse(emptyOut)
      }
    GraftStreamShim.streamingFrom(batch)
  }

  @volatile private var prevCommittedEnd: Option[CdcOffset] = None
  @volatile private var sweptFloor: Long = Long.MinValue

  override def commit(end: OffsetV1): Unit = {
    // offsets back to pure seqs = the drain is over: release the
    // O(files) memo (a later recovery replay of a metadata-backed
    // sliced range just recomputes it)
    val en = parseOffset(end.json)
    if (en.fileIdx < 0) { drain.release(); parentFilesMemo = None }
    // gate on the spill ROOT, not the current opt-in: restarting the
    // same checkpoint with split-row-level removed must still sweep a
    // previously materialized unit and orphaned tmp dirs, or they
    // strand under sources/<i>/graft-rowlevel for the checkpoint's
    // life (on a never-spilled checkpoint this is one fs.exists per
    // floor advance — no LIST)
    if (rowLevelSpillRoot.isDefined) {
      // Materialized units CANNOT be recomputed, and Spark REPLAYS the
      // last committed batch's (start, end) pair through getBatch on
      // every restart (MicroBatchExecution.populateStartOffsets) — so
      // a unit dir is deletable only when NEITHER offset of the
      // now-last-committed batch references it. The batch's start is
      // the PREVIOUS commit's end; after a restart that end is unknown
      // and this commit deletes nothing (bounded leftovers — at most
      // the in-flight unit — swept by the next commit).
      def ref(o: CdcOffset): Long = if (o.fileIdx >= 0) o.seq else Long.MaxValue
      val floor = prevCommittedEnd match {
        case Some(prev) => math.min(math.min(ref(prev), ref(en)), en.seq + 1) - 1
        case None => -1L // unknown prev: no UNIT deletable, tmps still are
      }
      // one spill-root listing per floor ADVANCE, not per commit (a
      // 1000-slice drain would otherwise LIST the checkpoint fs every
      // micro-batch for an unchanged floor); the session's first sweep
      // (floor -1) deletes no unit but clears orphaned tmp dirs, so a
      // crash's leftovers go even under one-commit-per-session usage
      if (sweptFloor == Long.MinValue || floor > sweptFloor) {
        releaseRowUnits(floor)
        sweptFloor = floor
      }
      prevCommittedEnd = Some(en)
    }
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftCdcSource[${ops.tableDir}]"
}

/** CDC offset: `seq` = last fully-delivered commit sequence number;
  * `fileIdx >= 0` marks a PARTIAL admission unit — the first `fileIdx`
  * files (path order) of that unit have been delivered, where the unit
  * is the genesis snapshot's full STATE (`unit = ""`, a fresh
  * stream's catch-up over an aged table), a single oversized append
  * commit's ADDED set (`unit = "added"`, the one-commit 10 TB backfill
  * landing mid-tail), an over-cap MOR position-delete commit's added
  * DELETE-FILE set (`unit = "deleted"`, the table-wide MOR DELETE), or
  * a row-level commit's MATERIALIZED change rows
  * (`unit = "rows"`, under the split-row-level opt-in). The unit KIND
  * is in the offset because the same seq can legitimately be any of
  * them depending on where the stream started and its options, and a
  * checkpoint replay must resolve the slice from the offset plus
  * metadata (or the persisted spill) alone. Partial offsets arise only
  * under max-rows-per-trigger; once the unit completes, offsets are
  * pure sequence numbers again. Extends the V1 offset class (getBatch
  * requires it) and thereby the DSv2 one (admission control requires
  * that); pre-split checkpoints (bare LongOffset numbers) parse via
  * [[GraftCdcSource]]'s reader. */
case class CdcOffset(seq: Long, fileIdx: Int = -1, unit: String = "")
  extends OffsetV1 {
  override def json(): String =
    graft.catalog.SliceOffsets.render(seq, fileIdx, unit)
}
